"""CDC core queries — reference parity (SURVEY.md §2.4-2.6, §3.2)."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_etl_spark.catalog import (
    _t,
    _ts_ms,
    duckdb_exact_decimal_sum,
    exact_decimal_sum,
    query,
)
from flink_etl_spark.functions.sql import utc_instant
from flink_etl_spark.operators import canal, merge

#: order-independent sum of the 6-decimal-exact `value` column (see
#: catalog.exact_decimal_sum): naive round(sum(double), 2) is a
#: per-testdata-regeneration lottery on the last digit — engines sum
#: in different orders
_ESUM_VALUE_SQL = duckdb_exact_decimal_sum("value", 6)


def _esum_value():
    return exact_decimal_sum(F.col("value"), 6)

# ---------------------------------------------------------------------------
# CDC core — reference parity (SURVEY.md §2.4-2.6, §3.2)
# ---------------------------------------------------------------------------


@query(
    "cdc_latest_by_key",
    """
    SELECT user_id, event_id, event_type, value, props,
           epoch_ms(ts) AS ts_ms
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) t WHERE rn = 1
    """,
)
def cdc_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+F3 (README.md:244,250-251): latest change per key via
    row_number window + rank=1 filter, deterministic tie-break."""
    events = _t(spark, sf_dir, "events")
    latest = merge.dedup_latest(events, keys=["user_id"], order_by=["ts", "event_id"])
    return latest.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        "props",
        _ts_ms().alias("ts_ms"),
    )


@query(
    "cdc_merge_full_outer",
    """
    WITH delta AS (
        SELECT user_id AS c_custkey, value AS c_acctbal
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) t WHERE rn = 1
    )
    SELECT 'dataframe' AS variant,
           COALESCE(d.c_custkey, s.c_custkey) AS c_custkey,
           s.c_name AS c_name,
           s.c_nationkey AS c_nationkey,
           COALESCE(d.c_acctbal, s.c_acctbal) AS c_acctbal,
           s.c_mktsegment AS c_mktsegment,
           CAST(NULL AS BIGINT) AS event_time
    FROM customer s FULL OUTER JOIN delta d ON s.c_custkey = d.c_custkey
    UNION ALL
    SELECT 'sql_literal' AS variant,
           COALESCE(t2.id, t1.id) AS c_custkey,
           CAST(NULL AS VARCHAR) AS c_name,
           CAST(NULL AS BIGINT) AS c_nationkey,
           COALESCE(t2.acct, t1.acct) AS c_acctbal,
           CAST(NULL AS VARCHAR) AS c_mktsegment,
           COALESCE(t2.event_time, t1.event_time) AS event_time
    FROM (SELECT c_custkey AS id, c_acctbal AS acct,
                 CAST(NULL AS BIGINT) AS event_time
          FROM customer) t1
    FULL OUTER JOIN (
        SELECT id, acct, event_time
        FROM (
            SELECT user_id AS id, value AS acct,
                   epoch_ms(ts) AS event_time,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rn
            FROM events
        ) temp WHERE rn = 1
    ) t2 ON t1.id = t2.id
    """,
)
def cdc_merge_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+P5 (README.md:221-253): snapshot/delta full-outer merge with
    per-column COALESCE, delta wins. TWO independent entry paths of the
    SAME merge, both verified (former gates `cdc_merge_full_outer` +
    `cdc_merge_sql_literal`, folded so both keep a driver row):

    * variant 'dataframe' — the merge.cdc_merge DataFrame chain
      (snapshot = customer, delta = latest event per user_id applied as
      an account-balance update);
    * variant 'sql_literal' — the reference's merge SQL
      (README.md:221-253) run essentially verbatim through `spark.sql`
      over registered views (`rank` aliased `rn`, SURVEY.md §3.2),
      demonstrating the SQL entry path plans the same computation.
    """
    snapshot = _t(spark, sf_dir, "customer")
    events = _t(spark, sf_dir, "events")
    delta = (
        merge.dedup_latest(events, keys=["user_id"], order_by=["ts", "event_id"])
        .select(
            F.col("user_id").alias("c_custkey"),
            F.col("value").alias("c_acctbal"),
        )
    )
    df_path = merge.cdc_merge(
        snapshot,
        delta,
        keys=["c_custkey"],
        columns=["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    ).select(
        F.lit("dataframe").alias("variant"),
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        F.lit(None).cast("long").alias("event_time"),
    )
    _t(spark, sf_dir, "customer").createOrReplaceTempView("_v_customer")
    _t(spark, sf_dir, "events").createOrReplaceTempView("_v_events")
    sql_path = spark.sql(
        f"""
        SELECT COALESCE(t2.id, t1.id) AS id,
               COALESCE(t2.acct, t1.acct) AS acct,
               COALESCE(t2.event_time, t1.event_time) AS event_time
        FROM (SELECT c_custkey AS id, c_acctbal AS acct,
                     CAST(NULL AS BIGINT) AS event_time
              FROM _v_customer) t1
        FULL OUTER JOIN (
            SELECT id, acct, event_time
            FROM (
                SELECT user_id AS id, value AS acct,
                       unix_millis({utc_instant('ts')}) AS event_time,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY unix_millis({utc_instant('ts')}) DESC,
                                                   event_id DESC) AS rn
                FROM _v_events
            ) temp WHERE rn = 1
        ) t2 ON t1.id = t2.id
        """
    ).select(
        F.lit("sql_literal").alias("variant"),
        F.col("id").alias("c_custkey"),
        F.lit(None).cast("string").alias("c_name"),
        F.lit(None).cast("long").alias("c_nationkey"),
        F.col("acct").alias("c_acctbal"),
        F.lit(None).cast("string").alias("c_mktsegment"),
        "event_time",
    )
    return df_path.unionByName(sql_path)


@query(
    "canal_ingest_flatten",
    """
    SELECT event_id AS id,
           epoch_ms(ts) AS es,
           epoch_ms(ts) + 1 AS ts,
           upper(event_type) AS type,
           CAST(user_id AS VARCHAR) AS user_id,
           json_extract_string(props, '$.k') AS k,
           concat_ws(',',
               CAST(event_id AS VARCHAR),
               CAST(epoch_ms(ts) AS VARCHAR),
               CAST(epoch_ms(ts) + 1 AS VARCHAR),
               upper(event_type),
               CAST(user_id AS VARCHAR),
               coalesce(json_extract_string(props, '$.k'), 'null')) AS line,
           strftime(make_timestamp(epoch_ms(ts) * 1000), '%Y%m%d') AS dt
    FROM events
    WHERE event_type <> 'error'
    """,
)
def canal_ingest_flatten(
    spark: SparkSession, sf_dir: str, events: DataFrame | None = None
) -> DataFrame:
    """The reference's whole streaming transform chain (F1,P1-P4,P7,K2;
    HdfsSink.java:55-125 + EventTimeBucketAssigner.java) run end-to-end:
    events are wrapped into Canal JSON envelopes ('error' events as DDL
    markers so the filter has real work), then parse -> filter ->
    explode -> flatten -> dt. The `line` column is the FAITHFUL CSV
    encoding (P4, HdfsSink.java:35,93-101 — former gate
    `csv_faithful_lines`, folded in) computed in the same projection
    via `csv_line_expr`, null payload fields emitting the literal
    'null' token. The oracle computes the same result directly from
    events, verifying the round-trip.

    `events` lets a caller substitute its own events frame; results
    are identical. The chain is one zero-exchange codegen span and is
    not spread over the cores (`rescue_scan_parallelism`): its DDL
    filters sit above any spread and Catalyst pushes them below it,
    onto the single scan task."""
    if events is None:
        events = _t(spark, sf_dir, "events")
    raw = events.select(
        F.to_json(
            F.struct(
                F.when(F.col("event_type") == "error", F.lit("true"))
                .otherwise(F.lit("false"))
                .alias("isDdl"),
                F.col("event_id").alias("id"),
                _ts_ms().alias("es"),
                (_ts_ms() + F.lit(1)).alias("ts"),
                F.upper(F.col("event_type")).alias("type"),
                F.array(
                    F.create_map(
                        F.lit("user_id"),
                        F.col("user_id").cast("string"),
                        F.lit("k"),
                        F.get_json_object(F.col("props"), "$.k"),
                    )
                ).alias("data"),
            )
        ).alias("value")
    )
    payload = ["user_id", "k"]
    flat = canal.flatten(
        canal.explode_rows(
            canal.filter_ddl(canal.parse_canal(canal.prefilter_ddl(raw)))
        ),
        payload,
        extra=[canal.csv_line_expr(payload).alias("line")],
    )
    return canal.with_dt(flat)


@query(
    "dt_partition_counts",
    f"""
    SELECT strftime(ts, '%Y%m%d') AS dt,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           {_ESUM_VALUE_SQL} AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def dt_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2/P7 bucketing as a group-by: events per dt partition — what the
    partitioned sink's directory layout holds (EventTimeBucketAssigner)."""
    events = _t(spark, sf_dir, "events")
    return (
        events.withColumn("dt", F.date_format(F.to_date("ts"), "yyyyMMdd"))
        .groupBy("dt")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            _esum_value().alias("sum_value"),
        )
    )


@query(
    "cdc_merge_day",
    """
    WITH delta AS (
        SELECT user_id, value, ts, event_id
        FROM events
        WHERE strftime(ts, '%Y%m%d') = '20240101'
    ), latest AS (
        SELECT user_id AS c_custkey, value AS c_acctbal
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
            FROM delta
        ) t WHERE rn = 1
    )
    SELECT COALESCE(d.c_custkey, s.c_custkey) AS c_custkey,
           s.c_name AS c_name,
           COALESCE(d.c_acctbal, s.c_acctbal) AS c_acctbal
    FROM customer s FULL OUTER JOIN latest d ON s.c_custkey = d.c_custkey
    """,
)
def cdc_merge_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end-to-end daily job: dt partition pruning (F2) -> compact to
    latest (W1+F3) -> full-outer merge (J1+P5), day pinned '20240101'."""
    snapshot = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    events = _t(spark, sf_dir, "events")
    delta = canal.with_dt(
        events.withColumn("es", _ts_ms()), es_col="es"
    ).select(
        F.col("user_id").alias("c_custkey"),
        F.col("value").alias("c_acctbal"),
        "ts",
        "event_id",
        "dt",
    )
    return merge.merge_day(
        snapshot,
        delta,
        day="20240101",
        keys=["c_custkey"],
        order_by=["ts", "event_id"],
        columns=["c_custkey", "c_name", "c_acctbal"],
    )


@query(
    "time_windows_agg",
    f"""
    SELECT 'tumbling' AS variant,
           time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type AS grp,
           count(*) AS n_events,
           {_ESUM_VALUE_SQL} AS sum_value
    FROM events
    GROUP BY 2, 3
    UNION ALL
    SELECT 'sliding' AS variant, window_start, event_type AS grp,
           count(*) AS n_events,
           {_ESUM_VALUE_SQL} AS sum_value
    FROM (
        -- an event in hour H belongs to the 2h windows starting at H-1h and H
        SELECT event_type, value,
               time_bucket(INTERVAL '1 hour', ts) - to_hours(off) AS window_start
        FROM events, UNNEST([0, 1]) AS u(off)
    )
    GROUP BY 2, 3
    UNION ALL
    SELECT 'session' AS variant, window_start, grp, n_events, sum_value
    FROM (
        WITH s AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                          OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ),
        g AS (
            SELECT user_id, ts, value,
                   sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                       ROWS UNBOUNDED PRECEDING) AS sid
            FROM s
        )
        SELECT min(ts) AS window_start,
               CAST(user_id AS VARCHAR) AS grp,
               count(*) AS n_events,
               {_ESUM_VALUE_SQL} AS sum_value
        FROM g GROUP BY user_id, sid
    )
    UNION ALL
    SELECT 'gapfill_locf' AS variant, window_start, grp, n_events, sum_value
    FROM (
        WITH gagg AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS b,
                   event_type AS grp,
                   count(*) AS n_events,
                   {_ESUM_VALUE_SQL} AS sum_value
            FROM events GROUP BY 1, 2
        ),
        gspan AS (SELECT grp, min(b) AS lo, max(b) AS hi FROM gagg GROUP BY 1),
        gspine AS (
            SELECT grp, g.gs AS b
            FROM gspan,
                 UNNEST(generate_series(lo, hi, INTERVAL '1 hour')) AS g(gs)
        )
        SELECT s.b AS window_start, s.grp,
               coalesce(a.n_events, 0) AS n_events,
               last_value(a.sum_value IGNORE NULLS) OVER (
                   PARTITION BY s.grp ORDER BY s.b
                   ROWS UNBOUNDED PRECEDING) AS sum_value
        FROM gspine s LEFT JOIN gagg a ON a.grp = s.grp AND a.b = s.b
    )
    UNION ALL
    SELECT 'gapfill_linear' AS variant, window_start, grp, n_events, sum_value
    FROM (
        WITH lagg AS (
            SELECT time_bucket(INTERVAL '1 hour', ts) AS b,
                   event_type AS grp,
                   count(*) AS n_events,
                   {_ESUM_VALUE_SQL} AS sum_value
            FROM events GROUP BY 1, 2
        ),
        lspan AS (SELECT grp, min(b) AS lo, max(b) AS hi FROM lagg GROUP BY 1),
        lspine AS (
            SELECT grp, g.gs AS b
            FROM lspan,
                 UNNEST(generate_series(lo, hi, INTERVAL '1 hour')) AS g(gs)
        ),
        ldense AS (
            SELECT s.b AS window_start, s.grp,
                   coalesce(a.n_events, 0) AS n_events,
                   a.sum_value AS v,
                   row_number() OVER (PARTITION BY s.grp ORDER BY s.b) AS pos
            FROM lspine s LEFT JOIN lagg a ON a.grp = s.grp AND a.b = s.b
        ),
        lfill AS (
            SELECT window_start, grp, n_events, v, pos,
                   last_value(v IGNORE NULLS) OVER wb AS prev_v,
                   last_value(CASE WHEN v IS NOT NULL THEN pos END
                              IGNORE NULLS) OVER wb AS prev_p,
                   first_value(v IGNORE NULLS) OVER wf AS next_v,
                   first_value(CASE WHEN v IS NOT NULL THEN pos END
                               IGNORE NULLS) OVER wf AS next_p
            FROM ldense
            WINDOW wb AS (PARTITION BY grp ORDER BY pos
                          ROWS UNBOUNDED PRECEDING),
                   wf AS (PARTITION BY grp ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        -- identical association order to operators/temporal.py: the
        -- inputs are the same exact-sum doubles and the same integer
        -- positions, so every arithmetic step is the same IEEE double
        SELECT window_start, grp, n_events,
               CASE WHEN v IS NOT NULL THEN v
                    ELSE prev_v + (next_v - prev_v)
                         * ((pos - prev_p) / (next_p - prev_p))
               END AS sum_value
        FROM lfill
    )
    """,
)
def time_windows_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-time window family the reference lacks entirely
    (SURVEY.md §2.9 T3) in one gated union (former gates
    `tumbling_window_hourly` + `sliding_window_counts` +
    `session_window_stats`, folded so each keeps a driver row):

    * 'tumbling' — 1h tumbling windows per event_type. Identical code
      runs under readStream with a watermark (tests/test_streaming.py).
    * 'sliding' — 2h/1h sliding windows: each event lands in two
      windows (one Expand + ONE aggregation, not two scans); the
      oracle replicates the window-assignment arithmetic.
    * 'session' — Spark's NATIVE session_window (30 min gap), the
      built-in complement of the custom stateful sessionizer
      (streaming/stateful.py); the oracle rebuilds sessions with
      lag/cumsum. Grouping by the session_window STRUCT (not .start)
      is what lets Spark merge sessions per partition then across the
      shuffle — no per-key sort of the whole table.
    * 'gapfill_locf' (r8) — TimescaleDB-style `time_bucket_gapfill` +
      `locf()` (operators/temporal.gapfill_time_buckets): every hourly
      bucket between each event_type's first and last observed bucket
      exists in the output, gap rows carry n_events=0 and the last
      observed sum_value. The spine is sequence(lo, hi, interval)
      exploded row-locally per group — no driver ranges; the fill is
      one last-ignore-nulls window per group.
    * 'gapfill_linear' (r9) — the `interpolate()` fill: gap rows carry
      the linear interpolation between the surrounding observed
      buckets (leading gaps stay NULL). Oracle-exact with NO rounding:
      both engines interpolate from the same exact-sum doubles and the
      same integer bucket positions with the same association order,
      so every step is the same IEEE double.

    `grp` is the per-variant group key (event_type / event_type /
    user_id-as-string / event_type / event_type)."""
    e = _t(spark, sf_dir, "events")
    tumbling = (
        e.groupBy(
            F.window(F.col("ts"), "1 hour").getField("start").alias("window_start"),
            F.col("event_type").alias("grp"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _esum_value().alias("sum_value"),
        )
        .select(F.lit("tumbling").alias("variant"), "*")
    )
    sliding = (
        e.groupBy(
            F.window(F.col("ts"), "2 hours", "1 hour")
            .getField("start")
            .alias("window_start"),
            F.col("event_type").alias("grp"),
        )
        .agg(
            F.count("*").alias("n_events"),
            _esum_value().alias("sum_value"),
        )
        .select(F.lit("sliding").alias("variant"), "*")
    )
    session = (
        # group by the session_window STRUCT — extracting .start before
        # aggregation would defeat session merging (one group per event)
        e.groupBy(F.session_window(F.col("ts"), "30 minutes"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            _esum_value().alias("sum_value"),
        )
        .select(
            F.lit("session").alias("variant"),
            F.col("session_window.start").alias("window_start"),
            F.col("user_id").cast("string").alias("grp"),
            "n_events",
            "sum_value",
        )
    )
    from flink_etl_spark.operators.temporal import gapfill_time_buckets

    gap = gapfill_time_buckets(
        e, bucket="1 hour", group_cols=("event_type",), fill="locf"
    ).select(
        F.lit("gapfill_locf").alias("variant"),
        "window_start",
        F.col("event_type").alias("grp"),
        "n_events",
        "sum_value",
    )
    gapl = gapfill_time_buckets(
        e, bucket="1 hour", group_cols=("event_type",), fill="linear"
    ).select(
        F.lit("gapfill_linear").alias("variant"),
        "window_start",
        F.col("event_type").alias("grp"),
        "n_events",
        "sum_value",
    )
    return (
        tumbling.unionByName(sliding).unionByName(session)
        .unionByName(gap).unionByName(gapl)
    )


@query(
    "canal_route_tables",
    """
    SELECT CASE WHEN event_type IN ('click', 'view')
                THEN 'tbl_clicks' ELSE 'tbl_other' END AS src_table,
           strftime(make_timestamp(epoch_ms(ts) * 1000), '%Y%m%d') AS dt,
           count(*) AS n_rows,
           count(DISTINCT event_id) AS n_ids
    FROM events
    WHERE event_type <> 'error'
    GROUP BY 1, 2
    """,
)
def canal_route_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table Canal routing gate: events wrapped into a MULTIPLEXED
    topic (envelope `table` = tbl_clicks|tbl_other), fanned out with
    route_tables (parse+explode once, per-table filter+flatten), then
    per-(table, dt) counts — which the oracle reproduces straight from
    events. 'error' events double as DDL markers, exercising the filter
    in the shared prefix."""
    events = _t(spark, sf_dir, "events")
    raw = events.select(
        F.to_json(
            F.struct(
                F.when(F.col("event_type") == "error", F.lit("true"))
                .otherwise(F.lit("false"))
                .alias("isDdl"),
                F.when(
                    F.col("event_type").isin("click", "view"), F.lit("tbl_clicks")
                )
                .otherwise(F.lit("tbl_other"))
                .alias("table"),
                F.col("event_id").alias("id"),
                _ts_ms().alias("es"),
                (_ts_ms() + F.lit(1)).alias("ts"),
                F.upper(F.col("event_type")).alias("type"),
                F.array(
                    F.create_map(
                        F.lit("user_id"), F.col("user_id").cast("string")
                    )
                ).alias("data"),
            )
        ).alias("value")
    )
    routed = canal.route_tables(
        raw, {"tbl_clicks": ["user_id"], "tbl_other": ["user_id"]}
    )
    labeled = None
    for tbl, df in routed.items():
        part = df.select(F.lit(tbl).alias("src_table"), "dt", "id")
        labeled = part if labeled is None else labeled.unionByName(part)
    return labeled.groupBy("src_table", "dt").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("id").alias("n_ids"),
    )
