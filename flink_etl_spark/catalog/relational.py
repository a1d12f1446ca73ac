"""Relational operator coverage — aggregation, joins, windows, set ops.

The reference itself uses only full-outer join + row_number (SURVEY.md
§2.7: "our engine gets all of these free from Spark SQL"); this module
exercises that inherited surface explicitly so every operator class has
a correctness gate and a bench presence.

Scale notes are attached per query; the common themes:
* dimension joins are `broadcast()`ed — no shuffle of the fact table
* aggregations are partial (map-side combine) by construction in Spark
* rank-filter windows compile to WindowGroupLimit (Spark >= 3.5), so
  the shuffle carries per-group top-k, not the whole table
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from flink_etl_spark.catalog import (
    _t,
    _ts_ms,
    duckdb_exact_decimal_avg as eavg,
    duckdb_exact_decimal_sum as esum,
    exact_decimal_avg,
    exact_decimal_sum,
    query,
)


def _pricing_oracle() -> str:
    disc = "l_extendedprice * (1 - l_discount)"
    charge = f"{disc} * (1 + l_tax)"
    return f"""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           {esum('l_extendedprice', 2)} AS sum_base_price,
           {esum(disc, 4)} AS sum_disc_price,
           {esum(charge, 6)} AS sum_charge,
           {eavg('l_quantity', 0)} AS avg_qty,
           {eavg('l_extendedprice', 2)} AS avg_price,
           {eavg('l_discount', 2)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """


@query("agg_pricing_summary", _pricing_oracle())
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped hash aggregation: filter -> partial agg map-side
    -> final agg on 6 groups. The scan reads only the 7 needed columns
    (column pruning) and the shipdate predicate is pushed to parquet.

    The fractional sums/means use `exact_decimal_sum`/`_avg` (integer
    sums of the d-decimal-exact inputs, one division): a naive
    round(sum(double)) differs between engines by float addition order
    on the 15k-row groups — a per-testdata-regeneration lottery on the
    last rounded digit. l_quantity is integer-valued, so its double sum
    is already exact and stays a plain sum/avg."""
    li = _t(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            exact_decimal_sum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            exact_decimal_sum(disc, 4).alias("sum_disc_price"),
            exact_decimal_sum(charge, 6).alias("sum_charge"),
            exact_decimal_avg(F.col("l_quantity"), 0).alias("avg_qty"),
            exact_decimal_avg(F.col("l_extendedprice"), 2).alias("avg_price"),
            exact_decimal_avg(F.col("l_discount"), 2).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "join_broadcast_star",
    f"""
    SELECT p.p_brand AS p_brand, s.s_name AS s_name,
           count(*) AS n_items,
           {esum('l.l_extendedprice', 2)} AS revenue
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE p.p_size >= 25
    GROUP BY p.p_brand, s.s_name
    """,
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema enrich: fact scans once, both dims broadcast — zero
    fact-table shuffles before aggregation. At 100 TB the dims (part,
    supplier) stay broadcast-able far longer than the fact grows; the
    explicit broadcast() hint makes the plan deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_size") >= 25)
    supp = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            F.count("*").alias("n_items"),
            exact_decimal_sum(F.col("l_extendedprice"), 2).alias("revenue"),
        )
    )


@query(
    "join_multiway_region_revenue",
    f"""
    SELECT n.n_name AS n_name,
           {esum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           count(DISTINCT o.o_orderkey) AS n_orders
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def join_multiway_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multiway join, ordered most-selective-first:
    Catalyst does NOT reorder joins without CBO stats, so the written
    order IS the plan. The region/nation broadcasts reduce CUSTOMER
    before anything big moves (~1/5 of customers survive ASIA), the
    reduced (custkey, n_name) side joins the date-filtered ORDERS
    scan, and only then does lineitem join — against an orders side
    already cut to ~6% carrying two columns. The naive written order
    (c JOIN o JOIN li, dims last) shuffles every lineitem row through
    the join before the ASIA filter can drop 80% of them — measured
    10x-replica shuffle identical, wall −30% for this form.

    Only the genuinely-bounded dims (nation/region) carry explicit
    broadcast hints. c_asia and oc are DATA-PROPORTIONAL
    intermediates, so their strategy is left to the planner: at bench
    SF the parquet size stats make both broadcast on their own
    (plan-asserted — 4 BroadcastHashJoin, 0 SortMergeJoin); at 100 TB
    they exceed any broadcast cap and degrade gracefully to shuffle
    joins — linear in data, minimal width — instead of an
    un-demotable broadcast hint OOMing the driver (the 10x point in
    docs/SCALING.md crosses exactly this broadcast->shuffle
    transition, which is why its byte ratio jumps; past the
    transition growth is linear)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    c_asia = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("c_custkey", "n_name")
    )
    oc = o.join(c_asia, o.o_custkey == c_asia.c_custkey).select(
        "o_orderkey", "n_name"
    )
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .groupBy("n_name")
        .agg(
            # exact_decimal_sum: see agg_pricing_summary — the 4-decimal
            # discounted price sums order-independently as integers
            exact_decimal_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
    )


@query(
    "join_semi_anti_customers",
    """
    SELECT 'semi' AS variant, c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
    UNION ALL
    SELECT 'anti' AS variant, c_custkey, c_name, CAST(NULL AS VARCHAR)
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi + left-anti joins (EXISTS / NOT EXISTS) — absent from
    the reference (SURVEY.md §2.11), engine surface. Former gates
    `semi_join_customers_with_orders` + `anti_join_customers_without_
    orders`, folded:

    * variant 'semi' — customers with a >300k order; Spark ships only
      the distinct keys of the filtered orders side (usually
      broadcast);
    * variant 'anti' — customers with no orders at all."""
    c = _t(spark, sf_dir, "customer")
    o_big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    o = _t(spark, sf_dir, "orders")
    semi = c.join(o_big, c.c_custkey == o_big.o_custkey, "left_semi").select(
        F.lit("semi").alias("variant"), "c_custkey", "c_name", "c_mktsegment"
    )
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        F.lit("anti").alias("variant"),
        "c_custkey",
        "c_name",
        F.lit(None).cast("string").alias("c_mktsegment"),
    )
    return semi.unionByName(anti)


@query(
    "window_topk_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, rnk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) t WHERE rnk <= 3
    """,
)
def window_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: rank-filter compiles to WindowGroupLimit
    (Spark >= 3.5), pushing top-3 selection below the shuffle — the
    exchange carries at most 3 rows per customer, not the table."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rnk")
    )


@query(
    "window_running_total",
    """
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_value,
           count(*) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_so_far,
           round(sum(value) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '1 day' PRECEDING AND CURRENT ROW), 2)
               AS trailing_1d_value,
           count(*) OVER (
               PARTITION BY user_id ORDER BY ts
               RANGE BETWEEN INTERVAL '1 day' PRECEDING AND CURRENT ROW)
               AS trailing_1d_events
    FROM events
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-window — the analytic surface the reference lacks
    entirely (SURVEY.md §2.6). BOTH frame kinds over one partitioning
    (former gates `window_running_total` + `window_range_frame_trailing`,
    folded — the physical plan still needs only ONE shuffle since all
    four aggregates share PARTITION BY user_id):

    * running_value / n_so_far — ROWS UNBOUNDED PRECEDING running frame;
    * trailing_1d_value / trailing_1d_events — RANGE frame with a
      time-interval bound (per-entity 24h rolling aggregate), which
      ROWS frames cannot express. (user_id, ts) is unique in the data,
      so RANGE vs ROWS peer-group semantics cannot diverge here; the
      frame width is the tested behavior."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
        F.count("*").over(w).alias("n_so_far"),
        F.round(
            F.expr(
                "sum(value) OVER (PARTITION BY user_id ORDER BY ts "
                "RANGE BETWEEN INTERVAL '1' DAY PRECEDING AND CURRENT ROW)"
            ),
            2,
        ).alias("trailing_1d_value"),
        F.expr(
            "count(*) OVER (PARTITION BY user_id ORDER BY ts "
            "RANGE BETWEEN INTERVAL '1' DAY PRECEDING AND CURRENT ROW)"
        ).alias("trailing_1d_events"),
    )


@query(
    "window_lag_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id)) AS gap_ms
        FROM events
    )
    SELECT user_id, event_id,
           CAST(coalesce(gap_ms, -1) AS BIGINT) AS gap_ms,
           CAST(sum(CASE WHEN gap_ms IS NULL OR gap_ms > 1800000 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
    FROM gaps
    """,
)
def window_lag_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + conditional cumulative sum = classic sessionization
    (30-minute inactivity gap). Two stacked windows over the same
    partitioning -> a single shuffle in the physical plan."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ms = _ts_ms()
    lag_ms = F.lag(ms).over(w)
    gap = (ms - lag_ms).alias("gap_ms")
    return (
        e.select("user_id", "event_id", "ts", gap)
        .select(
            "user_id",
            "event_id",
            F.coalesce(F.col("gap_ms"), F.lit(-1)).cast("long").alias("gap_ms"),
            F.sum(
                F.when(
                    F.col("gap_ms").isNull() | (F.col("gap_ms") > 1800000), 1
                ).otherwise(0)
            )
            .over(wrun)
            .alias("session_id"),
        )
    )


@query(
    "set_ops_customer_keys",
    """
    SELECT 'distinct_chain' AS variant, c_custkey AS key,
           CAST(NULL AS BIGINT) AS multiplicity
    FROM (
        SELECT c_custkey FROM customer WHERE c_acctbal > 0
        INTERSECT
        SELECT o_custkey AS c_custkey FROM orders
        UNION
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'bag_chain' AS variant, o_custkey AS key, multiplicity
    FROM (
        WITH m AS (
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT ALL
            SELECT o_custkey FROM orders WHERE o_totalprice > 100000
        ),
        e AS (
            SELECT o_custkey FROM m
            EXCEPT ALL
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        )
        SELECT o_custkey, count(*) AS multiplicity
        FROM e GROUP BY o_custkey
    )
    """,
)
def set_ops_customer_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations, BOTH semantics gated (former gates
    `set_ops_customer_keys` + `set_ops_bag_semantics`, folded):

    * variant 'distinct_chain' — UNION / INTERSECT / EXCEPT (distinct
      variants) composed with SQL's left-to-right precedence:
      ((A INTERSECT B) UNION C) EXCEPT D;
    * variant 'bag_chain' — INTERSECT ALL / EXCEPT ALL (multiset
      semantics), duplicate multiplicity carried through and exposed
      by the final count so the gate verifies it."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_acctbal") > 0).select("c_custkey")
    b = o.select(F.col("o_custkey").alias("c_custkey"))
    cc = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    d = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    distinct_chain = (
        a.intersect(b)
        .union(cc)
        # subtract IS distinct EXCEPT (it dedups its left side itself) —
        # the previous distinct().exceptAll(d.distinct()) spelling was
        # equivalent only through that pair of inline distincts
        .subtract(d)
        .select(
            F.lit("distinct_chain").alias("variant"),
            F.col("c_custkey").alias("key"),
            F.lit(None).cast("long").alias("multiplicity"),
        )
    )
    ba = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    bb = o.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    bd = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    bag_chain = (
        ba.intersectAll(bb)
        .exceptAll(bd)
        .groupBy("o_custkey")
        .agg(F.count("*").alias("multiplicity"))
        .select(
            F.lit("bag_chain").alias("variant"),
            F.col("o_custkey").alias("key"),
            "multiplicity",
        )
    )
    return distinct_chain.unionByName(bag_chain)


@query(
    "rollup_cube_grouping_sets",
    f"""
    SELECT 'rollup_orders' AS variant,
           o_orderstatus AS key1, o_orderpriority AS key2,
           count(*) AS n_rows,
           {esum('o_totalprice', 2)} AS measure
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    UNION ALL
    SELECT 'cube_lineitem' AS variant,
           l_returnflag AS key1, l_linestatus AS key2,
           count(*) AS n_rows,
           {eavg('l_quantity', 0)} AS measure
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    UNION ALL
    SELECT 'grouping_sets_orders' AS variant,
           o_orderstatus AS key1, o_orderpriority AS key2,
           count(*) AS n_rows,
           {esum('o_totalprice', 2)} AS measure
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def rollup_cube_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional aggregation, all three forms gated (former
    gates `rollup_order_stats` + `cube_lineitem_stats` +
    `grouping_sets_order_revenue`, folded). Each compiles to ONE
    Expand + ONE aggregation (never N scans):

    * 'rollup_orders' — GROUP BY ROLLUP: hierarchical subtotals incl.
      grand total (measure = revenue, 2dp);
    * 'cube_lineitem' — GROUP BY CUBE: all grouping-set combinations
      (measure = avg quantity, 6dp);
    * 'grouping_sets_orders' — explicit GROUPING SETS, the general
      form under rollup/cube, via the SQL entry path."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rollup = o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_rows"),
        exact_decimal_sum(F.col("o_totalprice"), 2).alias("measure"),
    ).select(
        F.lit("rollup_orders").alias("variant"),
        F.col("o_orderstatus").alias("key1"),
        F.col("o_orderpriority").alias("key2"),
        "n_rows",
        "measure",
    )
    cube = li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        exact_decimal_avg(F.col("l_quantity"), 0).alias("measure"),
    ).select(
        F.lit("cube_lineitem").alias("variant"),
        F.col("l_returnflag").alias("key1"),
        F.col("l_linestatus").alias("key2"),
        "n_rows",
        "measure",
    )
    # '_v_' prefix, never the canonical table name: rebinding a
    # session-wide 'orders' view to this sf_dir would silently redirect
    # every later spark.sql("... FROM orders") in the session
    o.createOrReplaceTempView("_v_orders")
    gsets = spark.sql(
        """
        SELECT 'grouping_sets_orders' AS variant,
               o_orderstatus AS key1, o_orderpriority AS key2,
               count(*) AS n_rows,
               -- exact_decimal_sum spelled in Spark SQL (this arm IS
               -- the SQL entry path): DECIMAL(38,0) accumulator (a
               -- BIGINT sum would wrap silently), one division
               (CAST(sum(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE)
                / 100.0) AS measure
        FROM _v_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )
    return rollup.unionByName(cube).unionByName(gsets)


@query(
    "order_limit_top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def order_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT -> TakeOrderedAndProject: per-partition
    top-100 then a single-driver merge of 100-row heaps, never a full
    sort at scale. Deterministic via the orderkey tie-break."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(100)
    )


@query(
    "scalar_functions_showcase",
    """
    SELECT o_orderkey,
           upper(substr(o_orderpriority, 3)) AS priority_name,
           length(o_orderpriority) AS prio_len,
           abs(o_totalprice - 200000.0) AS dist_from_200k,
           CAST(round(o_totalprice * 100) AS BIGINT) / 100000.0 AS price_k,
           CAST(year(o_orderdate) AS INTEGER) AS order_year,
           CAST(month(o_orderdate) AS INTEGER) AS order_month,
           CASE WHEN o_totalprice >= 300000 THEN 'big'
                WHEN o_totalprice >= 100000 THEN 'mid'
                ELSE 'small' END AS size_class,
           concat_ws('#', o_orderstatus, o_orderpriority) AS status_tag
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def scalar_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: string (substr/upper/length/concat_ws),
    math (abs/round/modulo), date part extraction, CASE WHEN — all
    whole-stage-codegen JVM expressions, no UDFs."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey",
        F.upper(F.expr("substr(o_orderpriority, 3)")).alias("priority_name"),
        F.length("o_orderpriority").alias("prio_len"),
        F.abs(F.col("o_totalprice") - 200000.0).alias("dist_from_200k"),
        (F.round(F.col("o_totalprice") * 100, 0).cast("long")
         / F.lit(100000.0)).alias("price_k"),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.when(F.col("o_totalprice") >= 300000, "big")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("small")
        .alias("size_class"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias("status_tag"),
    )


@query(
    "agg_distinct_users_by_type",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*) AS n_events,
           round(min(value), 2) AS min_value,
           round(max(value), 2) AS max_value,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT aggregation (expand + two-phase agg) plus min/max, AND
    the HyperLogLog++ approximate-distinct contract in the same group
    (former gates `agg_distinct_users_by_type` + `approx_distinct_users`,
    folded). HLL sketch values are engine-specific, so the gate asserts
    the sketch's ACCURACY CONTRACT: Spark computes both the HLL
    estimate and the exact distinct and emits
    `approx_ok = |approx - exact| <= 5 * rsd * exact`; the oracle
    computes the exact count and emits literal TRUE (the
    bounds-check-boolean pattern, see embedding_normalize_stats). At
    100 TB the exact arm disappears and only the one-pass
    constant-memory sketch runs."""
    e = _t(spark, sf_dir, "events")
    rsd = 0.02
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.approx_count_distinct("user_id", rsd=rsd).alias("approx_users"),
            F.count("*").alias("n_events"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
        )
        .select(
            "event_type",
            "n_users",
            "n_events",
            "min_value",
            "max_value",
            (
                F.abs(F.col("approx_users") - F.col("n_users"))
                <= F.lit(5 * rsd) * F.col("n_users")
            ).alias("approx_ok"),
        )
    )


@query(
    "agg_percentiles_value",
    f"""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           {eavg('value', 6)} AS mean_value,
           TRUE AS p50_ok,
           TRUE AS p90_ok,
           TRUE AS p99_ok
    FROM events
    GROUP BY event_type
    """,
)
def agg_percentiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (sort-based agg) AND the
    approx_percentile rank-error contract in the same group (former
    gates `agg_percentiles_value` + `approx_percentiles_value`,
    folded). approx_percentile is the mergeable Greenwald-Khanna
    quantile sketch: one pass, constant memory per group — the 100 TB
    replacement wherever bounded error is acceptable. Sketch values
    are engine-specific, so the p*_ok columns assert the RANK-ERROR
    CONTRACT (bounds-check-boolean pattern): with accuracy=10000 the
    GK rank error is <= n/10000 ranks, far inside the ±1% rank
    envelope checked — each approx quantile must land between the
    exact quantiles at q-0.01 and q+0.01; the oracle emits literal
    TRUE. Array output is scalarized so the driver's canonicalizer
    never sees a list column."""
    e = _t(spark, sf_dir, "events")
    qs = [0.5, 0.9, 0.99]
    eps = 1e-9
    agg = e.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"p{int(q * 100)}")
            for q in qs
        ],
        exact_decimal_avg(F.col("value"), 6).alias("mean_value"),
        F.expr("approx_percentile(value, array(0.5, 0.9, 0.99), 10000)").alias("ap"),
        *[
            F.expr(f"percentile(value, {max(q - 0.01, 0.0)})").alias(f"lo_{i}")
            for i, q in enumerate(qs)
        ],
        *[
            F.expr(f"percentile(value, {min(q + 0.01, 1.0)})").alias(f"hi_{i}")
            for i, q in enumerate(qs)
        ],
    )
    return agg.select(
        "event_type",
        "p50",
        "p90",
        "p99",
        "mean_value",
        *[
            (
                (F.col("ap")[i] >= F.col(f"lo_{i}") - eps)
                & (F.col("ap")[i] <= F.col(f"hi_{i}") + eps)
            ).alias(f"p{int(q * 100)}_ok")
            for i, q in enumerate(qs)
        ],
    )


@query(
    "pivot_unpivot_order_metrics",
    f"""
    SELECT 'pivot' AS variant, o_orderpriority,
           count(*) FILTER (o_orderstatus = 'O') AS status_O,
           count(*) FILTER (o_orderstatus = 'F') AS status_F,
           count(*) FILTER (o_orderstatus = 'P') AS status_P,
           {esum('o_totalprice', 2)} AS revenue,
           CAST(NULL AS VARCHAR) AS metric,
           CAST(NULL AS DOUBLE) AS total
    FROM orders
    GROUP BY o_orderpriority
    UNION ALL
    SELECT 'unpivot' AS variant, o_orderpriority,
           CAST(NULL AS BIGINT) AS status_O,
           CAST(NULL AS BIGINT) AS status_F,
           CAST(NULL AS BIGINT) AS status_P,
           CAST(NULL AS DOUBLE) AS revenue,
           metric, {esum('val', 2)} AS total
    FROM (
        SELECT o_orderpriority, 'price' AS metric, o_totalprice AS val FROM orders
        UNION ALL
        SELECT o_orderpriority, 'shipdays' AS metric,
               CAST(o_orderkey % 30 AS DOUBLE) AS val FROM orders
    )
    GROUP BY o_orderpriority, metric
    """,
)
def pivot_unpivot_order_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reshaping both directions (former gates `pivot_status_by_priority`
    + `unpivot_order_metrics`, folded):

    * variant 'pivot' — PIVOT with explicit value list (no extra
      distinct-values job — at scale, always pin the pivot columns);
    * variant 'unpivot' — unpivot/melt wide metric columns to
      (metric, value) rows, the reshaping inverse; compiles to one
      Expand (not a self-union double scan)."""
    o = _t(spark, sf_dir, "orders")
    wide = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact cents through the pivot, DECIMAL(38,0) accumulator
            # (a LONG sum wraps silently at extreme scale): per-status
            # sums add exactly across statuses, then ONE division —
            # matching the oracle's whole-group integer sum bit-for-bit
            # (rounded per-status doubles could drift a ulp from the
            # group total)
            F.sum(
                F.round(F.col("o_totalprice") * 100)
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("rev"),
        )
    )
    pivoted = wide.select(
        F.lit("pivot").alias("variant"),
        "o_orderpriority",
        F.coalesce("O_n", F.lit(0)).alias("status_O"),
        F.coalesce("F_n", F.lit(0)).alias("status_F"),
        F.coalesce("P_n", F.lit(0)).alias("status_P"),
        (
            (
                F.coalesce("O_rev", F.lit(0))
                + F.coalesce("F_rev", F.lit(0))
                + F.coalesce("P_rev", F.lit(0))
            ).cast("double")
            / F.lit(100.0)
        ).alias("revenue"),
        F.lit(None).cast("string").alias("metric"),
        F.lit(None).cast("double").alias("total"),
    )
    narrow = o.select(
        "o_orderpriority",
        F.col("o_totalprice").alias("price"),
        (F.col("o_orderkey") % 30).cast("double").alias("shipdays"),
    )
    melted = narrow.unpivot(
        ids=["o_orderpriority"], values=["price", "shipdays"],
        variableColumnName="metric", valueColumnName="val",
    )
    unpivoted = (
        melted.groupBy("o_orderpriority", "metric")
        .agg(exact_decimal_sum(F.col("val"), 2).alias("total"))
        .select(
            F.lit("unpivot").alias("variant"),
            "o_orderpriority",
            F.lit(None).cast("long").alias("status_O"),
            F.lit(None).cast("long").alias("status_F"),
            F.lit(None).cast("long").alias("status_P"),
            F.lit(None).cast("double").alias("revenue"),
            "metric",
            "total",
        )
    )
    return pivoted.unionByName(unpivoted)


@query(
    "correlated_above_avg_orders",
    """
    SELECT 'per_customer' AS variant,
           o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total,
           CAST(NULL AS VARCHAR) AS o_orderstatus,
           CAST(NULL AS BIGINT) AS n_above,
           CAST(NULL AS DOUBLE) AS min_above
    FROM orders o
    WHERE o.o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
                            FROM orders o2
                            WHERE o2.o_custkey = o.o_custkey)
    UNION ALL
    SELECT 'global' AS variant,
           CAST(NULL AS BIGINT) AS o_orderkey,
           CAST(NULL AS BIGINT) AS o_custkey,
           CAST(NULL AS DOUBLE) AS total,
           o_orderstatus,
           count(*) AS n_above,
           round(min(o_totalprice), 2) AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderstatus
    """,
)
def correlated_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subqueries, both flavors gated (former gates
    `correlated_above_avg_orders` + `scalar_subquery_above_global_avg`,
    folded):

    * variant 'per_customer' — CORRELATED scalar subquery: Catalyst
      decorrelates it into an aggregate + join (one shuffle on the
      correlation key), never a per-row re-execution;
    * variant 'global' — UNCORRELATED scalar subquery: planned as an
      independent single-row subplan whose result folds into the
      filter (no join)."""
    # '_v_' prefix — see rollup_cube_grouping_sets
    _t(spark, sf_dir, "orders").createOrReplaceTempView("_v_orders")
    correlated = spark.sql(
        """
        SELECT 'per_customer' AS variant,
               o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS total,
               CAST(NULL AS STRING) AS o_orderstatus,
               CAST(NULL AS BIGINT) AS n_above,
               CAST(NULL AS DOUBLE) AS min_above
        FROM _v_orders o
        WHERE o.o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice)
                                FROM _v_orders o2
                                WHERE o2.o_custkey = o.o_custkey)
        """
    )
    global_ = spark.sql(
        """
        SELECT 'global' AS variant,
               CAST(NULL AS BIGINT) AS o_orderkey,
               CAST(NULL AS BIGINT) AS o_custkey,
               CAST(NULL AS DOUBLE) AS total,
               o_orderstatus,
               count(*) AS n_above,
               round(min(o_totalprice), 2) AS min_above
        FROM _v_orders
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM _v_orders)
        GROUP BY o_orderstatus
        """
    )
    return correlated.unionByName(global_)


@query(
    "events_props_json_stats",
    f"""
    SELECT event_type,
           count(json_extract_string(props, '$.k')) AS n_with_k,
           {eavg("TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)", 0)}
               AS avg_k,
           max(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def events_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON column handling: extract a field from the
    props JSON string per row (JVM Jackson path, no Python), aggregate.
    At scale prefer parsing ONCE into a struct column (from_json) over
    repeated get_json_object calls per field.

    Both sides count the PRE-CAST extraction and aggregate the
    try_cast value: a plain cast would count different things per
    engine for a non-integer k (Spark null-and-exclude vs DuckDB
    count-the-string) and, under default-on ANSI mode, abort the
    Spark job outright on the first malformed value."""
    e = _t(spark, sf_dir, "events")
    raw = F.get_json_object("props", "$.k")
    k = raw.try_cast("long")
    return e.groupBy("event_type").agg(
        F.count(raw).alias("n_with_k"),
        exact_decimal_avg(k, 0).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "orders_by_weekday",
    f"""
    SELECT CAST(dayofweek(o_orderdate) + 1 AS INT) AS weekday,
           CAST(year(o_orderdate) AS INT) AS yr,
           count(*) AS n_orders,
           {esum('o_totalprice', 2)} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
    """,
)
def orders_by_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function coverage (dayofweek/year on NTZ timestamps,
    range predicate pushed to the scan)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        .groupBy(
            # Spark dayofweek: 1=Sunday..7=Saturday — matches DuckDB's
            # dayofweek(+1): DuckDB returns 0=Sunday..6=Saturday
            (F.dayofweek("o_orderdate")).cast("int").alias("weekday"),
            F.year("o_orderdate").cast("int").alias("yr"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            exact_decimal_sum(F.col("o_totalprice"), 2).alias("revenue"),
        )
    )


@query(
    "window_analytic_ranks",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS price_quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_analytic_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full analytic rank family over one window definition —
    ntile/percent_rank/cume_dist/rank/dense_rank share a single sort
    and shuffle (one Window node in the plan)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
    )


@query(
    "posexplode_token_positions",
    """
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents
    )
    SELECT CAST(p AS INT) AS pos, t[p + 1] AS token,
           count(*) AS n_docs
    FROM toks, UNNEST([0, 1, 2]) AS u(p)
    WHERE len(t) > p
    GROUP BY 1, 2
    """,
)
def posexplode_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (explode WITH ORDINALITY): token frequency by POSITION
    for the first 3 positions of each document — the positional flatten
    the plain explode loses."""
    docs = _t(spark, sf_dir, "documents")
    from flink_etl_spark.functions.hashing import tokens_sql

    return (
        docs.select(
            "doc_id", F.posexplode(F.expr(tokens_sql("text"))).alias("pos", "token")
        )
        .filter(F.col("pos") < 3)
        .groupBy("pos", "token")
        .agg(F.count("*").alias("n_docs"))
    )


