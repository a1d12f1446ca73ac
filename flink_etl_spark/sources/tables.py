"""Canonical-table loader for the driver's parquet testdata.

Maps the reference's Hive partitioned-table scans (S3/S4 in SURVEY.md §2.1,
README.md:228-248) onto `spark.read.parquet` — Catalyst handles partition
pruning / predicate pushdown / column pruning on these scans for free.

The testdata stores `events.ts` as parquet INT64 TIMESTAMP(NANOS)
(pandas default), which Spark rejects; with
`spark.sql.legacy.parquet.nanosAsLong` the column arrives as a raw
nanosecond LONG and we normalize it to TIMESTAMP_NTZ (microsecond
truncation — matches what DuckDB / any micro-precision engine sees).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType

from flink_etl_spark.session import anchor, apply_runtime_confs

CANONICAL_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# columns persisted as INT64 TIMESTAMP(NANOS) that surface as LongType
# under nanosAsLong and must be normalized to TIMESTAMP_NTZ
_NANOS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one canonical table, normalizing nano-timestamp columns."""
    apply_runtime_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for col in _NANOS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            # integer div: ts is ~1.7e18, double division would lose ns bits
            df = df.withColumn(
                col,
                F.expr(f"CAST(timestamp_micros({col} div 1000) AS TIMESTAMP_NTZ)"),
            )
    return df


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan sizeInBytes estimate — file bytes for
    parquet-backed frames, a row-width product for local relations —
    or None when unavailable or when the planner fell back to its
    'unknown' sentinel (defaultSizeInBytes ~ Long.MaxValue), so a
    caller can distinguish 'small' from 'no idea'. Plan-only: never
    runs a job."""
    try:
        est = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    return est if 0 <= est < (1 << 60) else None


def rescue_scan_parallelism(
    df: DataFrame,
    target: int | None = None,
    max_bytes: int = 256 << 20,
) -> DataFrame:
    """Round-robin repartition a SMALL, under-split scan up to core
    count. A single-row-group / single-file parquet input plans as ONE
    scan task no matter how many cores exist — every expression
    upstream of the first exchange (tokenize, hash, shingle, vector
    math) then runs serially. One tiny round-robin exchange of the raw
    rows buys full-width parallelism for the scan-side compute.

    Deliberately INERT at scale — no-op unless BOTH hold:

    * the scan plans fewer than half the target tasks (real corpora
      split into thousands of tasks by size; only small/single-split
      inputs qualify), and
    * the input is under ``max_bytes`` by Catalyst's plan estimate
      (the exchange must be cheap; a big under-split input is a
      storage-layout problem this helper must not paper over with a
      corpus-wide shuffle; an unknown estimate counts as big).

    An input whose plan already holds an exchange (an adaptive plan)
    or a cached relation passes through untouched: its width is set by
    that exchange or by the cache, and sizing an adaptive plan would
    run its stages eagerly. The
    decision is plan-only and costs a constant number of py4j calls
    at any scale — the partition count first, the byte estimate only
    for an under-split input.

    When to apply it: where ONE scan feeds ONE heavy row-local
    projection (minhash profiles, winnowing fingerprints, span or
    substring digesting, per-vector math), with no branch that also
    reads the raw scan (a broadcast-join-bound query that branches one
    scan into a small fitted side measured +78% to +86% wall at
    sf0.1/local[32] with the extra exchange) and no pushable predicate
    above the exchange — Catalyst pushes deterministic filters through
    a round-robin repartition, and a filter over the projection's
    outputs then re-runs the whole projection on the under-split side.
    An operator whose output a caller may filter, or whose plan reads
    the spread rows twice, goes through `_spread_anchored` instead.
    `dedup.minhash_near_dups`, `prep.fingerprint_candidates` and
    `multimodal.media_phash_near_dups` apply it to their own inputs,
    and `_spread_anchored` serves `prep`'s `repetition_stats`,
    `span_dedup` and `substring_dedup`, `dedup.semdedup_pairs` (so
    `semdedup`) and `similarity.ivfpq_topk`. `load_table` does not, and
    neither does `ivf_topk` (no measured gain) or the
    `canal_ingest_flatten` gate (its DDL filters would be pushed below
    the exchange)."""
    spark = df.sparkSession
    if target is None:
        target = spark.sparkContext.defaultParallelism
    try:
        # a fresh projection: a frame executed before its .cache() call
        # keeps its pre-cache plan, and would not show the cached relation
        plan = df.select("*")._jdf.queryExecution().executedPlan()
        if (plan.nodeName() == "AdaptiveSparkPlan"
                or "InMemoryTableScan" in plan.toString()):
            return df
        n_parts = plan.execute().getNumPartitions()
    except (Py4JError, PySparkException):  # e.g. a streaming plan
        return df
    if n_parts >= max(2, target // 2):
        return df
    size = _plan_size_bytes(df)
    if size is None or size > max_bytes:
        return df
    return df.repartition(target)


def _spread_anchored(df: DataFrame, build=None) -> DataFrame:
    """`build(rescue_scan_parallelism(df))`, anchored when the input was
    spread (`build` defaults to the identity). The anchor ends the plan
    at the spread rows: a caller's filter on the output cannot be pushed
    through the round-robin exchange onto the single scan task, and
    every branch that reads the result reads one exchange. An input
    that is not spread returns `build(df)` unanchored, so large and
    streaming inputs keep a lazy plan."""
    spread = rescue_scan_parallelism(df)
    out = spread if build is None else build(spread)
    return out if spread is df else anchor(out)


def load_tables(spark: SparkSession, sf_dir: str, names=CANONICAL_TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def register_views(spark: SparkSession, sf_dir: str, names=CANONICAL_TABLES) -> None:
    """Register each canonical table as a temp view for `spark.sql` use."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
