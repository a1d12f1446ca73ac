"""Temporal join catalog queries over `events`.

The as-of oracle uses DuckDB's native `ASOF LEFT JOIN`; the Spark side
is the union-marker window implementation (operators/joins.py) — two
entirely independent formulations that must agree row-for-row.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_etl_spark.catalog import (
    _t,
    _ts_ms,
    duckdb_exact_decimal_avg as eavg,
    duckdb_exact_decimal_sum as esum,
    exact_decimal_avg,
    exact_decimal_sum,
    query,
)
from flink_etl_spark.operators.joins import asof_join, interval_join


@query(
    "asof_join_purchase_click",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    c AS (
        SELECT event_id AS click_id, user_id, ts AS click_ts, value AS click_value
        FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, p.user_id,
           epoch_ms(p.purchase_ts) AS purchase_ts,
           c.click_id, epoch_ms(c.click_ts) AS click_ts, c.click_value
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
    """,
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: for every purchase, the user's latest click
    at-or-before it (feature-backfill shape). (user_id, ts) is unique in
    the data, so no tie-break is needed; it is still passed for
    determinism under replays."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(
        p, c, on=["user_id"], left_ts="purchase_ts", right_ts="click_ts",
        tie_break="click_id",
    )
    # epoch-millis longs, not raw timestamps, in the gate output: the
    # catalog determinism rule — a future oracle engine reading the
    # NANOS-flavor parquet at full ns precision would hash sub-us
    # components the Spark loader truncates; ms longs floor identically
    # from either precision
    # ts loads as TIMESTAMP_NTZ; _ts_ms reads it as UTC whatever the
    # session zone, matching DuckDB's epoch_ms(naive-as-UTC)
    return out.select(
        "purchase_id", "user_id",
        _ts_ms("purchase_ts").alias("purchase_ts"),
        "click_id",
        _ts_ms("click_ts").alias("click_ts"),
        "click_value",
    )


@query(
    "interval_join_purchase_errors",
    """
    WITH p AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
    ),
    e AS (
        SELECT user_id, ts AS err_ts, value AS err_value
        FROM events WHERE event_type = 'error'
    ),
    batch AS (
        SELECT 'batch' AS variant, p.purchase_id, p.user_id,
               count(e.err_ts) AS n_errors,
               round(coalesce(sum(e.err_value), 0), 6) AS err_value_sum
        FROM p LEFT JOIN e
          ON e.user_id = p.user_id
         AND e.err_ts >  p.purchase_ts - INTERVAL 1 HOUR
         AND e.err_ts <= p.purchase_ts
        GROUP BY 2, 3
    )
    SELECT * FROM batch
    UNION ALL
    -- the stream-stream arm is an INNER join: only purchases with >= 1
    -- error in the band appear
    SELECT 'stream' AS variant, purchase_id, user_id, n_errors,
           err_value_sum
    FROM batch WHERE n_errors > 0
    """,
)
def interval_join_purchase_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed enrichment: errors seen by the user in the hour leading
    up to each purchase (count + value sum). Two arms, each against its
    own oracle branch:

    * 'batch' — `operators.joins.interval_join` (LEFT; unmatched
      purchases keep n_errors = 0);
    * 'stream' — the same band computed by the watermarked
      STREAM-STREAM interval join (`streaming/joins.py`,
      Flink-DataStream-intervalJoin counterpart), both sides read as
      file streams and drained with availableNow. Inner-join arm by
      design: inner emission is micro-batch-invariant, whereas outer
      rows are watermark-gated (see the operator docstring) — the
      outer semantics are exercised in tests/test_stateful.py."""
    from flink_etl_spark.catalog.streaming import (
        _drain_to_memory,
        _events_stream,
    )
    from flink_etl_spark.streaming.joins import stream_interval_join

    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"),
    )
    joined = interval_join(
        p, e, on=["user_id"], left_ts="purchase_ts", right_ts="err_ts",
        lower="1 HOUR", upper="0 SECONDS",
    )
    batch = joined.groupBy("purchase_id", "user_id").agg(
        F.count("err_ts").alias("n_errors"),
        F.round(F.coalesce(F.sum("err_value"), F.lit(0.0)), 6).alias("err_value_sum"),
    ).select(F.lit("batch").alias("variant"), "*")

    sev = _events_stream(spark, sf_dir)
    sp = sev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    se = sev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("err_ts"),
        F.col("value").alias("err_value"),
    )
    sij = stream_interval_join(
        sp, se, on=["user_id"], left_ts="purchase_ts", right_ts="err_ts",
        lower="1 HOUR", upper="0 SECONDS", watermark_delay="3650 days",
    )
    stream = _drain_to_memory(sij, "sij").groupBy("purchase_id", "user_id").agg(
        F.count("err_ts").alias("n_errors"),
        F.round(F.coalesce(F.sum("err_value"), F.lit(0.0)), 6).alias("err_value_sum"),
    ).select(F.lit("stream").alias("variant"), "*")
    return batch.unionByName(stream)


@query(
    "salted_join_type_deviation",
    f"""
    WITH dim AS (
        -- exact integer-sum mean (catalog.exact_decimal_avg): a naive
        -- round(avg(double), 6) can flip its last digit between
        -- engines by float addition order
        SELECT event_type,
               {eavg('value', 6)} AS type_avg
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           count(*) AS n_events,
           -- algebraic form sum(v) - n*avg with an exact integer sum:
           -- summing the per-row deviations is float-order-dependent
           ({esum('e.value', 6)}
            - count(*) * max(d.type_avg)) + 0.0 AS total_deviation,
           round(max(abs(e.value - d.type_avg)), 6) AS max_abs_deviation
    FROM events e JOIN dim d ON d.event_type = e.event_type
    GROUP BY e.event_type
    """,
)
def salted_join_type_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deliberately pathological skew: the join key (event_type) has
    only 5 distinct values, so an unsalted shuffle join lands the whole
    table on 5 tasks. salted_join spreads each hot key over 8 salt
    buckets; the oracle is the PLAIN join — salting must be invisible
    in the results."""
    from flink_etl_spark.operators.joins import salted_join

    ev = _t(spark, sf_dir, "events")
    # exact integer-sum mean, unrounded — identical IEEE double to the
    # oracle's (naive avg differs by float addition order)
    dim = ev.groupBy("event_type").agg(
        exact_decimal_avg(F.col("value"), 6).alias("type_avg")
    )
    joined = salted_join(ev, dim, on=["event_type"], salt_buckets=8)
    return joined.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        # algebraic sum(v) - n*avg over the exact integer sum: the
        # per-row deviation sum is float-order-dependent. + 0.0
        # collapses IEEE -0.0 to 0.0 (applied on both sides).
        (
            exact_decimal_sum(F.col("value"), 6)
            - F.count("*") * F.max("type_avg")
            + F.lit(0.0)
        ).alias("total_deviation"),
        F.round(F.max(F.abs(F.col("value") - F.col("type_avg"))), 6).alias(
            "max_abs_deviation"
        ),
    )


@query(
    "grouped_linear_fit_per_user",
    """
    -- exact-integer-moment twin of per_group_linear_fit: the same
    -- shifted-microsecond / 6-decimal-grid integer sums (HUGEINT,
    -- order-independent), then the operator's EXACT pinned double op
    -- sequence. regr_slope/regr_intercept + round() was a last-ulp
    -- lottery: differently-ordered float accumulations flipped the
    -- 6th decimal on 9 of 1500 groups at sf0.1, and Python rounds
    -- half-even where SQL rounds half-away. Micro-floor has no edge.
    WITH pts AS (
        SELECT user_id,
               epoch_us(ts)
                 - MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS xp,
               MIN(epoch_us(ts)) OVER (PARTITION BY user_id) AS x0,
               CAST(round(value * 1000000.0, 0) AS BIGINT) AS y6
        FROM events
        WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    agg AS (
        SELECT user_id,
               CAST(COUNT(*) AS DOUBLE) AS dn,
               CAST(SUM(xp) AS DOUBLE) AS dsx,
               CAST(SUM(y6) AS DOUBLE) AS dsy,
               CAST(SUM(CAST(xp AS HUGEINT) * y6) AS DOUBLE) AS dsxy,
               CAST(SUM(CAST(xp AS HUGEINT) * xp) AS DOUBLE) AS dsxx,
               CAST(MIN(x0) AS DOUBLE) AS dx0
        FROM pts GROUP BY user_id
    ),
    fitted AS (
        SELECT user_id,
               dn * dsxy - dsx * dsy AS d_num,
               dn * dsxx - dsx * dsx AS d_den,
               dx0, dsx, dsy, dn
        FROM agg
    ),
    cnt AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT cnt.user_id,
           cnt.n,
           CASE WHEN f.d_den IS NULL OR f.d_den = 0.0 THEN NULL
                ELSE floor(f.d_num * 86400.0 / f.d_den * 1000000.0)
                     / 1000000.0
           END AS slope,
           CASE WHEN f.d_den IS NULL OR f.d_den = 0.0 THEN NULL
                -- per-DAY slope times mean-x-in-DAYS (the 86400
                -- factor must appear here exactly as in the slope)
                ELSE floor((f.dsy / f.dn / 1000000.0
                            - (f.d_num * 86400.0 / f.d_den)
                              * ((f.dx0 + f.dsx / f.dn)
                                 / 86400000000.0)) * 1000000.0)
                     / 1000000.0
           END AS intercept
    FROM cnt LEFT JOIN fitted f ON f.user_id = cnt.user_id
    """,
)
def grouped_linear_fit_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map gate: per-user least-squares trend of
    value over time (exact-integer-moment closed form, micro-floored)
    must match DuckDB running the identical pinned double sequence —
    a custom Python operator checked value-exactly by SQL."""
    from flink_etl_spark.operators.grouped import per_group_linear_fit

    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value")
    return per_group_linear_fit(ev)
