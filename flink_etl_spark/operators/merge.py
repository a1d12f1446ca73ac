"""CDC compaction + snapshot merge — the reference's daily batch job.

The reference's merge is embedded Hive SQL (README.md:221-253):

    INSERT OVERWRITE code_city
    SELECT COALESCE(t2.id, t1.id), COALESCE(t2.city, t1.city), ...
    FROM code_city t1
    FULL OUTER JOIN (
        SELECT id, city, province, event_time FROM (
            SELECT *, row_number() OVER (PARTITION BY id
                                         ORDER BY event_time DESC) rank
            FROM code_city_delta WHERE dt = '<day>'
        ) temp WHERE rank = 1
    ) t2 ON t1.id = t2.id

Here that is two composable operators:

* `dedup_latest`   — W1+F3: latest record per key (window rank + filter)
* `cdc_merge`      — J1+P5: full-outer join + per-column COALESCE

Scale notes (100 TB design):
* Both operators shuffle by the key — Catalyst plans one exchange each
  and AQE can reuse the partitioning between them since they share keys.
* Full-outer equi-joins cannot broadcast; sort-merge with AQE skew-join
  splitting is the right physical plan and is what Catalyst picks.
* Spark >= 3.5 rewrites the rank<=1 filter into WindowGroupLimit, which
  pushes a per-group top-1 below the sort — the delta is compacted
  map-side before the full sort, so the shuffle carries only survivors.
* `INSERT OVERWRITE t ... FROM t` (self-overwrite, README.md:222,229) is
  illegal in Spark; `overwrite_snapshot` stages to a new dated directory
  and never reads+writes the same files.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

# the snapshot swap lives in staged.py; these names stay importable here
from flink_etl_spark.staged import (  # noqa: F401
    promote_snapshot,
    recover_snapshot,
    snapshot_exists,
    stage_snapshot,
)


def resolve_recency(
    df: DataFrame,
    order_by: Sequence[Column | str] | None,
    strict_parity: bool = False,
) -> list[Column]:
    """Resolve a recency ordering to concrete DESC column expressions:
    the caller's `order_by` (strings become `desc()`), else the
    `event_time`/`es`/`ts` columns present in `df` (first only under
    `strict_parity`). Shared by `dedup_latest` and the streaming merge
    sink (which appends its own final tie-break)."""
    if order_by is None:
        candidates = ["event_time", "es", "ts"]
        present = [c for c in candidates if c in df.columns]
        if not present:
            raise ValueError("no recency column found; pass order_by")
        order_by = present[:1] if strict_parity else present
    return [(F.col(c).desc() if isinstance(c, str) else c) for c in order_by]


def dedup_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str] | None = None,
    strict_parity: bool = False,
) -> DataFrame:
    """Latest record per key: row_number over (key, recency desc) == 1.

    `order_by` defaults to `event_time DESC, ts DESC` when those columns
    exist. The reference orders by event_time alone (README.md:244),
    which is nondeterministic on ties; `strict_parity=True` reproduces
    that exactly, the default adds deterministic tie-breakers
    (SURVEY.md §7 "tie-breaking").
    """
    ordering = resolve_recency(df, order_by, strict_parity)
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*ordering)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cdc_merge(
    snapshot: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    columns: Sequence[str] | None = None,
    drop_deletes: bool = False,
    delete_type_col: str = "type",
    evolve: bool = False,
    null_safe_keys: bool = False,
) -> DataFrame:
    """Full-outer merge: delta wins per column, snapshot fills the rest.

    Column-wise `COALESCE(delta.c, snapshot.c)` generated from the
    schema (README.md:224-227 writes them by hand). Rows only in the
    delta are inserts, rows in both are updates, snapshot-only rows pass
    through — exactly the FULL OUTER JOIN semantics of README.md:230.

    The reference *keeps* DELETE rows in the snapshot (dml_type is
    carried but never filtered — arguably an upstream bug, reproduced
    faithfully by default). `drop_deletes=True` is the extension that
    anti-joins deleted keys out.

    `evolve=True` handles upstream SCHEMA EVOLUTION: the merged output
    carries the UNION of both sides' columns (a column added to the
    source table mid-stream is null for pre-existing snapshot rows; a
    dropped column survives from the snapshot side). Default (False)
    keeps the intersection — the reference's fixed-schema behavior.

    `null_safe_keys=True` matches null keys to each other (eqNullSafe).
    The default replicates SQL equi-join semantics (a null key never
    matches — what the reference's Hive SQL and the oracle do), but an
    IDEMPOTENT upsert sink must use the null-safe form: replaying a
    batch containing a null-keyed row would otherwise append a
    duplicate instead of updating in place.
    """
    if columns is None:
        if evolve:
            columns = list(
                dict.fromkeys([*snapshot.columns, *delta.columns])
            )
        else:
            columns = [c for c in snapshot.columns if c in set(delta.columns)]
    missing = [k for k in keys if k not in columns]
    if missing:
        raise ValueError(f"keys {missing} not in merge columns")

    if drop_deletes:
        deleted = delta.filter(F.col(delete_type_col) == "DELETE").select(*keys)
        live_delta = delta.filter(F.col(delete_type_col) != "DELETE")
        snapshot = snapshot.join(deleted, list(keys), "left_anti")
        delta = live_delta

    s = snapshot.alias("s")
    d = delta.alias("d")
    cond = None
    for k in keys:
        if null_safe_keys:
            clause = F.col(f"s.{k}").eqNullSafe(F.col(f"d.{k}"))
        else:
            clause = F.col(f"s.{k}") == F.col(f"d.{k}")
        cond = clause if cond is None else (cond & clause)
    joined = s.join(d, cond, "full_outer")
    s_cols, d_cols = set(snapshot.columns), set(delta.columns)
    projected = []
    for c in columns:
        if c in d_cols and c in s_cols:
            projected.append(F.coalesce(F.col(f"d.{c}"), F.col(f"s.{c}")).alias(c))
        elif c in d_cols:  # evolve: column added upstream
            projected.append(F.col(f"d.{c}").alias(c))
        else:  # evolve: column dropped upstream, or intersection mode
            projected.append(F.col(f"s.{c}").alias(c))
    return joined.select(*projected)


def merge_day(
    snapshot: DataFrame,
    delta: DataFrame,
    day: str,
    keys: Sequence[str],
    dt_col: str = "dt",
    order_by: Sequence[Column | str] | None = None,
    **kwargs,
) -> DataFrame:
    """The complete daily job: prune delta to one dt partition
    (README.md:247-248 — partition pruning is automatic when delta is a
    dt-partitioned parquet scan), compact to latest-per-key, merge."""
    pruned = delta.filter(F.col(dt_col) == F.lit(day)).drop(dt_col)
    latest = dedup_latest(pruned, keys, order_by=order_by)
    return cdc_merge(snapshot, latest, keys, **kwargs)


def merge_day_table(
    spark: SparkSession,
    snapshot_table: str,
    delta_table: str,
    day: str,
    keys: Sequence[str],
    out_table: str | None = None,
    dt_col: str = "dt",
    order_by: Sequence[Column | str] | None = None,
    n_buckets: int | None = None,
    **kwargs,
) -> None:
    """The daily merge against METASTORE TABLES — the reference's actual
    target surface (`INSERT OVERWRITE TABLE code_city ... FROM code_city
    t1 JOIN code_city_delta`, README.md:221-253 — tables, not paths).
    Reads both sides via `spark.table`, merges, and replaces
    `out_table` (default: the snapshot table itself, the reference's
    self-overwrite) through the staged table swap in
    `overwrite_snapshot_table`.

    Partition pruning on the delta works exactly as in the path
    version: `spark.table` scans carry partition metadata from the
    catalog, so the `dt = day` filter prunes at the metastore level.

    `n_buckets` is the 100 TB knob for this job's dominant cost: the
    daily merge full-outer-joins a HUGE snapshot with a small delta,
    and an unbucketed snapshot re-shuffles its entire contents on
    `keys` every single day. Store the snapshot `bucketBy(n_buckets,
    *keys)` instead and the join reads the bucketed layout directly —
    the only exchange left in the whole job is the delta's (which the
    latest-per-key window already needed; the join reuses that same
    hash partitioning). The merged output is written back bucketed
    through the staged swap, so TOMORROW'S merge is shuffle-free on
    the snapshot side too — the shuffle saved compounds daily. Spark
    only substitutes the bucketed layout when the join's shuffle
    target does not exceed the bucket count, so pick `n_buckets` >=
    `spark.sql.shuffle.partitions` (plan-asserted in
    tests/test_table_merge.py); size buckets so one bucket ~ one
    executor-core task (e.g. 100 TB / 256 MB ~ 400k buckets is too
    many — at that scale use ~32k buckets of ~3 GB with
    `spark.sql.files.maxPartitionBytes`-sized splits within)."""
    recover_snapshot_table(spark, snapshot_table)
    snapshot = spark.table(snapshot_table)
    delta = spark.table(delta_table)
    merged = merge_day(
        snapshot, delta, day=day, keys=keys, dt_col=dt_col,
        order_by=order_by, **kwargs,
    )
    overwrite_snapshot_table(
        merged, out_table or snapshot_table,
        n_buckets=n_buckets, bucket_keys=keys,
    )


def _staging_table(table: str) -> str:
    """Staging table name for `table`. Unlike paths there is no
    listing-invisibility concern — a differently-NAMED table is never
    scanned by readers of `table` — the name just has to be collision-
    free and discoverable by `recover_snapshot_table`."""
    if "." in table:
        db, _, base = table.rpartition(".")
        return f"{db}.{base}_staging_swap"
    return f"{table}_staging_swap"


def overwrite_snapshot_table(
    df: DataFrame,
    table: str,
    n_buckets: int | None = None,
    bucket_keys: Sequence[str] | None = None,
) -> None:
    """Replace the MANAGED TABLE `table` with `df` — the metastore
    counterpart of `overwrite_snapshot`, covering the reference's
    `INSERT OVERWRITE TABLE code_city ... FROM code_city`
    (README.md:222,229): a direct `saveAsTable(mode="overwrite")` of a
    table the plan is reading throws (Spark refuses the self-overwrite,
    and bypassing it would drop the input mid-scan).

    Stage-then-swap through the catalog: materialize to the staging
    TABLE (the plan can still read the live one), then DROP the target
    and `ALTER TABLE ... RENAME` the staging table over it — a pure
    metastore pointer move; the data files are never rewritten in the
    swap. Crash window (drop..rename) is recovered by
    `recover_snapshot_table`, same contract as the path pair.

    With `n_buckets`/`bucket_keys` the staging table is written
    `bucketBy(n_buckets, *bucket_keys)` (+ sortBy for bucket-local
    ordering) and the swap preserves the bucket spec — the layout a
    daily `merge_day_table` needs so the snapshot side of the join
    never shuffles. Deliberately NO `repartition` before the write:
    the merge output leaves the join hash-partitioned by the same
    murmur3(key) % n the bucket assigner uses, so each task already
    holds whole buckets and writes one file per bucket (verified: 32
    buckets -> exactly 32 files, job-total shuffle = the delta only);
    a repartition here would re-shuffle the full snapshot and negate
    the entire point. Worst case (AQE coalesced the final stage, or
    the caller passed an arbitrarily-partitioned df) is extra files
    per bucket — bucket CONTENTS are computed per row at write time
    and stay correct regardless of input partitioning."""
    spark = df.sparkSession
    staging = _staging_table(table)
    if n_buckets is not None:
        if not bucket_keys:
            raise ValueError("bucket_keys required when n_buckets is set")
        (
            df.write.mode("overwrite")
            .format("parquet")
            .bucketBy(n_buckets, *bucket_keys)
            .sortBy(*bucket_keys)
            .saveAsTable(staging)
        )
    else:
        df.write.mode("overwrite").format("parquet").saveAsTable(staging)
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")


def recover_snapshot_table(spark: SparkSession, table: str) -> bool:
    """Crash recovery for `overwrite_snapshot_table`'s drop..rename
    window: target table missing + complete staging table present ->
    promote the staging table. Target intact + stale staging -> drop
    the stale copy (it would wrongly win a later recovery). Mirrors
    `recover_snapshot`; every table-snapshot READER calls this first.
    Returns True when a recovery was performed."""
    staging = _staging_table(table)
    have_target = spark.catalog.tableExists(table)
    have_staging = spark.catalog.tableExists(staging)
    if not have_target and have_staging:
        spark.sql(f"ALTER TABLE {staging} RENAME TO {table}")
        return True
    if have_target and have_staging:
        spark.sql(f"DROP TABLE {staging}")
    return False


def insert_overwrite_partitions(df: DataFrame, table: str) -> None:
    """Dynamic-partition INSERT OVERWRITE into a PARTITIONED table:
    replaces exactly the partitions present in `df`, leaves every other
    partition untouched — Hive's `INSERT OVERWRITE TABLE ... PARTITION
    (dt)` with nonstrict dynamic mode, the idiom the reference's delta
    table is maintained with (K3, README.md:222,247). Pins the session's
    `partitionOverwriteMode=dynamic` for this write only (static mode
    would wipe the table; `insertInto` ignores the per-write option).

    `df`'s column order must match the table schema with partition
    columns LAST (`insertInto` is position-based)."""
    from flink_etl_spark.session import dynamic_partition_overwrite

    with dynamic_partition_overwrite(df.sparkSession):
        df.write.mode("overwrite").insertInto(table)


def overwrite_snapshot(df: DataFrame, path: str, fmt: str = "parquet") -> None:
    """Replace the snapshot at `path` with `df`, staging first so the
    plan can READ the current snapshot while computing its replacement —
    the reference's `INSERT OVERWRITE code_city ... FROM code_city`
    (README.md:222,229), which a direct overwrite cannot do (Spark
    refuses to overwrite a path it is reading, and bypassing the check
    destroys input files mid-scan).

    Stage-then-swap: materialize to the underscore-prefixed staging
    sibling (see `_staging_path` — invisible to readers), then delete
    the old directory and rename — all through the Hadoop FileSystem
    API, so the same code path works for file:, hdfs:, s3a:, etc. (a
    posix os.replace would only ever work driver-local). The swap itself
    is not transactional (delete+rename window) — for atomic swaps keep
    DATED snapshot directories and repoint the reader instead (the
    pattern tests/test_sinks.py demonstrates)."""
    stage_snapshot(df, path, fmt)
    promote_snapshot(df.sparkSession, path)
