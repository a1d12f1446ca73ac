"""Continuous CDC merge sink: the reference's DAILY batch merge
(README.md:221-253) run INSIDE the stream via foreachBatch — every
micro-batch folds its changes into a queryable parquet snapshot.

This is the third point on the latency spectrum the engine covers:

| mode | where | freshness | state |
|---|---|---|---|
| daily batch merge | operators/merge.py | 1 day | none |
| foreachBatch merge (this) | per micro-batch | seconds-minutes | the snapshot itself |
| in-operator compaction | stateful.cdc_compact_stream | per record group | per-key store |

Scale design: each merge micro-batch costs one latest-per-key
compaction of the BATCH (small) plus one recency-keeping merge against
the snapshot — i.e. the snapshot is rewritten per batch. That is the
right trade only when batches are a meaningful fraction of the
snapshot; for per-key point updates at scale use cdc_compact_stream
(update-mode state) or a table format with MERGE support. The ROLLUP
sink is different: with `partition_col` set it partitions the rollup
by day and each micro-batch rewrites ONLY the partitions its finalized
buckets touch (per-partition staged swap — stage all, then promote,
with crash recovery for the rename window) — a year of hourly buckets
is never rewritten to add one hour.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_etl_spark.operators.merge import (
    cdc_merge,
    dedup_latest,
    overwrite_snapshot,
    promote_snapshot,
    recover_snapshot,
    resolve_recency,
    snapshot_exists,
    stage_snapshot,
)
from flink_etl_spark.staged import foreach_batch_sink, subdir_names

#: chars that never need Hive path escaping — the ISO date alphabet the
#: rollup's internally derived to_date() partition values live in
_PART_VALUE_SAFE = re.compile(r"^[0-9A-Za-z._-]+$")


def _is_orderable(dt) -> bool:
    """Mirror of Spark's RowOrdering.isOrderable: maps are unorderable
    at ANY nesting depth (an array<map<...>> or a struct with a map
    field fails Window.orderBy just as a top-level map does), and so
    are calendar intervals and variant values — the whitelist below is
    atomic-or-composite-of-orderable, not not-a-map."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, MapType):
        return False
    if isinstance(dt, ArrayType):
        return _is_orderable(dt.elementType)
    if isinstance(dt, StructType):
        return all(_is_orderable(f.dataType) for f in dt.fields)
    # typeName covers CalendarIntervalType ("interval") and Spark 4's
    # VariantType ("variant") without importing version-dependent names
    return dt.typeName() not in ("interval", "calendarinterval", "variant")


def merge_batch_into_snapshot(
    spark: SparkSession,
    batch: DataFrame,
    snapshot_path: str,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> None:
    """One merge step: compact the batch to latest-per-key, fold into
    the current snapshot (empty on first batch) keeping the most RECENT
    row per key, swap. Recovers a half-swapped snapshot first, so a
    foreachBatch replay after a crash converges instead of resetting to
    the batch's keys.

    Recency-keeping, NOT delta-wins: the union of snapshot and
    compacted batch is re-compacted with the same `order_by` recency,
    so an out-of-order LATE record arriving in a later micro-batch
    (routine with multi-partition Kafka — cross-partition order is not
    preserved) cannot overwrite a newer snapshot row. This matches
    `cdc_compact_stream`'s semantics; the daily batch job's
    delta-wins `cdc_merge` is correct only because a day's delta is
    compacted across the WHOLE day before it meets the snapshot.
    Replays converge for free (the replayed rows dedup against the
    identical rows already merged), including null-keyed rows (the
    window groups them, where a join's null-unsafe equality would
    append duplicates).

    EQUAL recency keys break toward the BATCH row: Canal `es` is often
    second-resolution, so a same-second correction (same es/ts, new
    values) is routine — without the explicit `_prio` tie-break,
    row_number over equal order keys picks an arbitrary winner and a
    correction could silently lose to the stale snapshot row (and
    replays could flip the snapshot). Late rows with strictly older
    recency still lose to the snapshot (recency sorts before the
    tie-break).

    WITHIN the batch, ties on (keys, recency) break by the remaining
    orderable columns (descending) — a pure function of row VALUES,
    never of partition layout. This is what makes replays actually
    converge: two same-second corrections in one batch always compact
    to the same winner, so the replayed batch row is value-identical
    to the snapshot row it beats via `_prio`. (Without the value
    tie-break, a replay on a different layout could pick the other
    row, tie the snapshot on recency, and flip it.) Map-typed columns
    are unorderable and excluded; rows identical up to map columns
    compact arbitrarily among equals — harmless, the survivors carry
    equal ordering keys either way only if maps differ, which callers
    with map payloads should disambiguate via order_by."""
    if "_prio" in batch.columns:
        # the tie-break tag would silently clobber (and then drop) a
        # real data column of the same name
        raise ValueError(
            "merge_batch_into_snapshot: the batch carries a column "
            "named '_prio', which collides with the internal snapshot/"
            "batch tie-break tag — rename it before merging"
        )
    recover_snapshot(snapshot_path, spark)
    value_ties = [
        F.col(f.name).desc_nulls_last()
        for f in batch.schema.fields
        if f.name not in set(keys) and _is_orderable(f.dataType)
    ]
    batch_order = resolve_recency(batch, order_by) + value_ties
    latest = dedup_latest(batch, keys, order_by=batch_order)
    # Hadoop-FS check, not os.path.exists: snapshot_path may be hdfs:/s3a:
    if snapshot_exists(spark, snapshot_path):
        snapshot = spark.read.parquet(snapshot_path)
        tagged = snapshot.withColumn("_prio", F.lit(0)).unionByName(
            latest.withColumn("_prio", F.lit(1)), allowMissingColumns=True
        )
        ordering = resolve_recency(latest, order_by) + [F.col("_prio").desc()]
        merged = dedup_latest(tagged, keys, order_by=ordering).drop("_prio")
    else:
        merged = latest
    overwrite_snapshot(merged, snapshot_path)


def start_continuous_merge(
    changes: DataFrame,
    snapshot_path: str,
    keys: Sequence[str],
    checkpoint_location: str,
    order_by: Sequence[str] | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Attach the merge as a foreachBatch sink on a change stream.

    Exactly-once effect: foreachBatch re-delivers a batch after a crash
    mid-swap, and the merge is idempotent (re-merging the same changes
    yields the same snapshot), so replays converge."""

    def _merge(batch: DataFrame, batch_id: int) -> None:
        merge_batch_into_snapshot(
            batch.sparkSession, batch, snapshot_path, keys, order_by
        )

    return foreach_batch_sink(
        changes, _merge, checkpoint_location, available_now
    )


def start_continuous_rollup(
    events: DataFrame,
    rollup_path: str,
    checkpoint_location: str,
    ts_col: str = "ts",
    bucket: str = "1 hour",
    dims: Sequence[str] = ("event_type",),
    value_col: str = "value",
    watermark_delay: str = "2 hours",
    available_now: bool = False,
    partition_col: str | None = None,
    max_touched_partitions: int = 1000,
) -> StreamingQuery:
    """Hypertable-style CONTINUOUS ROLLUP: a time-bucketed aggregate
    table maintained incrementally from the event stream (the public
    TimescaleDB continuous-aggregate concept re-expressed on Structured
    Streaming).

    The windowed aggregation runs in APPEND mode: a (bucket, dims) row
    is emitted EXACTLY ONCE, when the watermark passes the bucket end —
    final, never revised. Late events inside the watermark are absorbed
    before finalization; later ones are deterministically dropped
    (update mode was rejected: its late-drop is lazy, so a straggler
    arriving after state eviction would re-create a bucket with partial
    counts and the upsert would overwrite the final row). The price is
    freshness: the open tail buckets (within watermark_delay of the max
    event time) are not yet visible in the rollup.

    `partition_col` (e.g. "dt") is the AT-SCALE layout: the rollup
    gains a `to_date(bucket_start)` partition column and each
    micro-batch rewrites ONLY the partitions its finalized buckets
    touch — existing rows of touched partitions are re-read via a
    broadcast semi-join on the partition key (partition-pruned scan),
    deduped against the batch (replay convergence), and written back
    with DYNAMIC partition overwrite; untouched partitions are never
    read or rewritten. Default None keeps the flat full-swap layout
    (small rollups, and the exact layout the oracle gate reads).
    Crash-safety: every touched partition is rewritten through the
    recoverable staged swap (`overwrite_snapshot` per partition dir —
    NOT dynamic partition overwrite, whose delete-then-rename commit
    window can permanently drop a day's earlier-finalized buckets if
    the driver dies between the two), and a replay recovers half-swapped
    partitions first, so the parquet state converges even after a
    crash mid-write.

    `max_touched_partitions` makes the driver-side bound EXPLICIT: the
    per-batch fetch of distinct touched partition VALUES (control
    plane — a micro-batch finalizes buckets for ~a day or two) collects
    at most this many; a pathological batch touching more (e.g. a
    years-deep backfill replay) falls back to ONE full-snapshot
    partitioned rewrite through a root-level staged swap instead of
    collecting an unbounded value list and looping a per-partition swap
    over it. The fallback preserves the `col=value/` layout and the
    crash-recovery contract (the root swap heals via the same
    `recover_snapshot`).

    `partition_col` values must be path-safe — the sink derives them
    internally via `to_date(bucket_start)` (ISO `yyyy-MM-dd` directory
    names); the upsert validates this rather than re-implementing
    Spark's Hive path escaping, so an exotic value fails loudly instead
    of silently writing a layout Spark's own reader would name
    differently.

    Reading the rollup is a plain parquet scan — queries over
    pre-aggregated buckets never touch raw events."""
    keys = ["bucket_start", *dims]
    # group by the window STRUCT and project .start afterwards:
    # extracting the field inside the groupBy strips the event-time
    # metadata, so the watermark would never evict state or drop late
    # rows (verified — watermark_delay becomes a no-op and state grows
    # forever)
    agg = (
        events.withWatermark(ts_col, watermark_delay)
        .groupBy(F.window(F.col(ts_col), bucket), *dims)
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 6).alias("sum_value"),
        )
        .select(
            F.col("window.start").alias("bucket_start"),
            *dims,
            "n_events",
            "sum_value",
        )
    )
    if partition_col is not None:
        agg = agg.withColumn(partition_col, F.to_date("bucket_start"))

    def _upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        if partition_col is None:
            recover_snapshot(rollup_path, spark)
            if snapshot_exists(spark, rollup_path):
                current = spark.read.parquet(rollup_path)
                # null-safe keys: a null dim value must UPDATE its row
                # on replay, not append a duplicate (null-unsafe
                # equality never matches it)
                merged = cdc_merge(current, batch, keys, null_safe_keys=True)
            else:
                merged = batch
            overwrite_snapshot(merged, rollup_path)
            return
        # partition-pruned upsert: merge only the touched partitions.
        # Touched values come to the driver (control plane: a
        # micro-batch finalizes buckets for ~a day or two) because each
        # partition is REWRITTEN THROUGH THE STAGED SWAP, not Spark's
        # dynamic partition overwrite: the dynamic commit deletes the
        # final partition dir before renaming the staged one, and a
        # crash in that window loses every bucket of the day finalized
        # by EARLIER batches — the replay's left-semi read then finds
        # nothing to merge against and the loss becomes permanent.
        # overwrite_snapshot's _staging/ layout is crash-recoverable
        # (recover_snapshot below) and invisible to concurrent root
        # reads.
        # BOUNDED value fetch: limit(cap + 1) keeps the driver's list —
        # and its memory — explicitly capped no matter what the batch
        # holds; the +1 row is only the overflow sentinel
        touched_vals = [
            r[0]
            for r in batch.select(partition_col)
            .distinct()
            .limit(max_touched_partitions + 1)
            .collect()
        ]
        # heal EVERY half-swapped state first, not just this batch's
        # touched set: a crash mid-swap can strike a day no later batch
        # ever touches again (its buckets would stay lost forever), and
        # with every partition staged the root read below cannot even
        # infer a schema. The root-level recover heals a crashed
        # full-snapshot fallback swap the same way.
        recover_snapshot(rollup_path, spark)
        root = rollup_path.rstrip("/")
        for name in subdir_names(spark, f"{root}/_staging", ""):
            recover_snapshot(f"{root}/{name}", spark)
        if len(touched_vals) > max_touched_partitions:
            # pathological batch (years-deep backfill): ONE partitioned
            # full-snapshot rewrite through a root-level staged swap —
            # no unbounded value list, no per-partition promote loop
            if snapshot_exists(spark, rollup_path):
                merged = (
                    spark.read.parquet(rollup_path)
                    .unionByName(batch, allowMissingColumns=True)
                    .dropDuplicates(keys)
                )
            else:
                merged = batch
            stage_snapshot(merged, rollup_path, partition_by=[partition_col])
            promote_snapshot(spark, rollup_path)
            return
        for v in touched_vals:
            # path-safety guard (see docstring): the sink only ever
            # derives DateType values, whose str() is the ISO directory
            # name Spark itself writes; anything else must fail loudly
            # rather than compose a path diverging from Spark's own
            # Hive-escaped layout
            if v is None or not _PART_VALUE_SAFE.match(str(v)):
                raise ValueError(
                    f"start_continuous_rollup: partition value {v!r} is "
                    f"not path-safe — partition_col must be the "
                    f"internally derived to_date(bucket_start) column "
                    f"(ISO yyyy-MM-dd directory names)"
                )
        part_paths = {
            v: f"{rollup_path.rstrip('/')}/{partition_col}={v}"
            for v in touched_vals
        }
        for p in part_paths.values():
            recover_snapshot(p, spark)
        if snapshot_exists(spark, rollup_path):
            touched = batch.select(partition_col).distinct()
            existing = (
                spark.read.parquet(rollup_path)
                .join(F.broadcast(touched), partition_col, "left_semi")
            )
            merged = existing.unionByName(
                batch, allowMissingColumns=True
            ).dropDuplicates(keys)
        else:
            merged = batch
        # two-phase: stage EVERY touched partition while the final dirs
        # are intact, THEN promote. Each staged write's lazy plan scans
        # the rollup root (dropDuplicates blocks partition-filter
        # pushdown), so promoting partition A before staging partition
        # B would delete files B's scan still reads
        # (FAILED_READ_FILE.FILE_NOT_EXIST). `merged` is persisted
        # first: the loop runs one action per touched partition, and
        # without the cache each action re-executes the whole merge
        # plan (root scan + semi-join + dedup) — a K-day backfill batch
        # would pay the plan K times over.
        merged = merged.persist()
        try:
            for v, p in part_paths.items():
                stage_snapshot(
                    merged.filter(F.col(partition_col) == F.lit(v)).drop(
                        partition_col
                    ),
                    p,
                )
            for p in part_paths.values():
                promote_snapshot(spark, p)
        finally:
            merged.unpersist()

    return foreach_batch_sink(agg, _upsert, checkpoint_location, available_now)
