"""Staged on-disk artifacts: the one contract every index, fit and
profile of the package is written and read through.

A staged artifact is a directory of parquet plus a versioned JSON
sidecar (`_<KIND>_META.json`; the leading underscore hides it from
Spark's file listing) pinning the parameters the data was built with,
so a reader with other parameters or another format version raises
instead of silently matching nothing. A rebuild writes a NEW directory.
Appends converge on replay, and the foreachBatch sinks' batch-partitioned
index lets batch N read only strictly earlier batches — Structured
Streaming's idempotent-sink contract (SIGMOD 2018). All file-system
access goes through the Hadoop FileSystem API (`_hadoop_fs`), so one
code path serves file:, hdfs:, s3a:, ...
"""

from __future__ import annotations

import json
from collections.abc import Sequence
from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

#: target file size of staged appends and compactions
TARGET_FILE_BYTES = 128 << 20


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any URI the Hadoop conf can resolve —
    the scheme-agnostic seam for every exists/delete/rename."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _staging_path(path: str) -> str:
    """Staging location for `path`: `<parent>/_staging/<basename>`. The
    `_staging` path COMPONENT is what makes it invisible: Spark's file
    listing drops a name starting with `_` only when it contains no `=`
    (`shouldFilterOutPathName` — partition dirs like `dt=x` must survive),
    so a flat sibling `_staging__dt=x` would still be discovered and
    raise CONFLICTING_PARTITION_COLUMN_NAMES, while anything under a
    plain `_staging/` dir is pruned at that component and concurrent
    table-root readers never double-count a partition mid-swap. A bare
    `<path>__staging` suffix is worse still — it parses as a real
    partition (dt='x__staging')."""
    p = path.rstrip("/")
    parent, _, base = p.rpartition("/")
    return f"{parent}/_staging/{base}" if parent else f"_staging/{base}"


def stage_snapshot(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
) -> None:
    """Phase 1 of the staged swap: materialize `df` to `path`'s staging
    sibling WITHOUT touching the final directory. Callers replacing
    SEVERAL directories whose replacement plans all read the same
    parent (the partitioned rollup sink) must stage ALL of them before
    promoting ANY: a promote deletes final files that the next staged
    write's lazy plan still scans (FAILED_READ_FILE.FILE_NOT_EXIST).

    `partition_by` stages a Hive-partitioned layout (`col=value/`
    subdirs) — the rollup sink's full-snapshot fallback swaps a whole
    partitioned table root in one staged rename."""
    w = df.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(_staging_path(path))


def promote_snapshot(spark: SparkSession, path: str) -> None:
    """Phase 2 of the staged swap: delete the final directory and
    rename the staged copy into place. The delete+rename window is the
    crash exposure `recover_snapshot` heals."""
    staging = _staging_path(path)
    fs, target = _hadoop_fs(spark, path)
    _, src = _hadoop_fs(spark, staging)
    if fs.exists(target):
        fs.delete(target, True)
    if not fs.rename(src, target):
        raise IOError(f"snapshot swap failed: rename {staging} -> {path}")


def snapshot_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence check (NOT os.path.exists — wrong answer the
    moment the default FS is not the driver's local disk)."""
    fs, hpath = _hadoop_fs(spark, path)
    return bool(fs.exists(hpath))


def recover_snapshot(path: str, spark: SparkSession | None = None) -> bool:
    """Crash recovery for `overwrite_snapshot`'s delete+rename window:
    if the target is missing but a complete staging directory exists
    (the process died between delete and rename), promote the staging
    copy. Callers that READ the snapshot before merging (foreachBatch
    sinks) must call this first, or a replayed batch would see an empty
    snapshot and silently drop every key not in that batch.

    When the target is INTACT but a stale staging dir survives (crash
    after the staging write, before the delete+rename), the stale copy
    is deleted — left in place it would silently win the next recovery
    and roll the snapshot back to the crashed run's output.

    Also probes the pre-r3 LEGACY staging layout `<path>__staging`
    (replaced by `<parent>/_staging/<base>` — see `_staging_path`), so a
    deployment that crashed mid-swap under the old layout still
    self-recovers, and the stale legacy dir — which parses as a bogus
    partition and breaks partition discovery — is always cleaned up.
    The current layout wins when both exist (it is the newer write).

    Returns True when a recovery was performed."""
    spark = spark or SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("recover_snapshot needs an active SparkSession")
    fs, target = _hadoop_fs(spark, path)
    _, staging = _hadoop_fs(spark, _staging_path(path))
    _, legacy = _hadoop_fs(spark, path.rstrip("/") + "__staging")
    recovered = False
    if not fs.exists(target) and fs.exists(staging):
        if not fs.rename(staging, target):
            raise IOError(f"snapshot recovery failed: rename to {path}")
        recovered = True
    if not fs.exists(target) and fs.exists(legacy):
        if not fs.rename(legacy, target):
            raise IOError(f"snapshot recovery failed: rename legacy to {path}")
        recovered = True
    if fs.exists(target):
        for stale in (staging, legacy):
            if fs.exists(stale):
                fs.delete(stale, True)  # stale: target survived the crash
    return recovered


def subdir_names(spark: SparkSession, root: str, prefix: str) -> list[str]:
    """Sorted names of the directories under `root` that start with
    `prefix` ([] when `root` is absent) — a driver-side listing, never
    a data scan."""
    fs, p = _hadoop_fs(spark, root)
    if not fs.exists(p):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(p)
        if st.isDirectory() and st.getPath().getName().startswith(prefix)
    )


def _data_file_names(fs, dirpath) -> list[str]:
    """Sorted data-file names directly under a directory: subdirectories
    and hidden or commit files (leading `.` or `_`) are not data."""
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(dirpath)
        if not st.isDirectory()
        and not st.getPath().getName().startswith((".", "_"))
    )


def files_for_bytes(nbytes: int) -> int:
    """File count that keeps `nbytes` at ~`TARGET_FILE_BYTES` per file
    (min 1) — a write at default shuffle parallelism would re-create
    the small-files problem staging exists to avoid."""
    return max(1, -(-nbytes // TARGET_FILE_BYTES))


def _read_json_sidecar(spark: SparkSession, path: str):
    """Read the JSON file at `path` (None when absent)."""
    fs, p = _hadoop_fs(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        raw = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return json.loads(raw)


def _write_json_sidecar(spark: SparkSession, path: str, payload: dict) -> None:
    fs, p = _hadoop_fs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(json.dumps(payload).encode()))
    finally:
        out.close()


@dataclass(frozen=True)
class Sidecar:
    """One artifact kind's versioned sidecar. The payload is
    ``{"version": version, **params}``. `label` names the artifact in
    errors; `absent` / `advice` / `reads` are the default tails of the
    require errors (callers with a sharper hint override them);
    `mismatch` ends the parameter-check error."""

    name: str
    version: int
    label: str
    absent: str = ""
    advice: str = ""
    reads: str = "build reads"
    mismatch: str = ""

    def write(self, spark: SparkSession, root: str, params: dict) -> None:
        _write_json_sidecar(
            spark, f"{root}/{self.name}", {"version": self.version, **params}
        )

    def read(self, spark: SparkSession, root: str) -> dict | None:
        return _read_json_sidecar(spark, f"{root}/{self.name}")

    def require(self, spark: SparkSession, root: str, absent: str | None = None,
                advice: str | None = None, reads: str | None = None) -> dict:
        """The sidecar at `root`; raises when it is absent or carries
        another format version."""
        meta = self.read(spark, root)
        if meta is None:
            raise ValueError(
                f"no {self.name} at {root} — {absent or self.absent}"
            )
        self.check_version(meta, root, advice, reads)
        return meta

    def check_version(self, meta: dict, root: str, advice: str | None = None,
                      reads: str | None = None, label: str | None = None) -> None:
        if meta.get("version") != self.version:
            raise ValueError(
                f"{label or self.label} at {root} has format version "
                f"{meta.get('version')!r}, this {reads or self.reads} "
                f"{self.version} — {advice or self.advice}"
            )

    def check(self, spark: SparkSession, root: str, params: dict) -> bool:
        """Raise when the staged parameters (version included) disagree
        with the caller's: mismatched parameters build disjoint key
        spaces, so every lookup would SILENTLY match nothing. Returns
        False when no sidecar exists (nothing staged yet, or a legacy
        artifact — the caller decides which)."""
        meta = self.read(spark, root)
        if meta is None:
            return False
        want = {"version": self.version, **params}
        mismatched = {
            k: (meta.get(k), v) for k, v in want.items() if meta.get(k) != v
        }
        if mismatched:
            detail = ", ".join(
                f"{k}: staged={got!r} caller={exp!r}"
                for k, (got, exp) in mismatched.items()
            )
            raise ValueError(
                f"{self.label} at {root} is incompatible with this call "
                f"({detail}); {self.mismatch}"
            )
        return True


PQ_META = Sidecar(
    "_PQ_META.json", 1, "PQ index",
    absent="not a PQ index staged by pq_build_index",
    advice="rebuild the index",
)
IVFPQ_META = Sidecar(
    "_IVFPQ_META.json", 1, "IVF-PQ index",
    absent="not an IVF-PQ index", advice="rebuild the index",
)
BPE_META = Sidecar(
    "_BPE_META.json", 1, "staged BPE fit",
    absent="not a staged BPE fit; run bpe_stage_fit first",
    advice="re-stage the fit", reads="reader expects",
)
DSIR_META = Sidecar(
    "_DSIR_META.json", 1, "staged DSIR fit",
    absent="not a staged DSIR fit; run dsir_stage_fit first",
    advice="re-stage the fit", reads="reader expects",
)
NB_META = Sidecar(
    "_NB_META.json", 1, "staged NB fit",
    absent="not a staged NB fit; run nb_stage_fit first",
    advice="re-stage the fit", reads="reader expects",
)
#: version 2 = token-combined xxhash64 term-ids (profiles staged by the
#: shingle-STRING-hash v1 have a different shset type and must be
#: rebuilt)
PROFILE_META = Sidecar(
    "_PROFILE_META.json", 2, "staged minhash profile",
    mismatch=(
        "band keys from mismatched profiles never match, silently losing "
        "pairs — rebuild the profile (minhash_stage_profile "
        "mode='overwrite') or match the staged parameters"
    ),
)
SUBSTR_META = Sidecar(
    "_SUBSTR_META.json", 1, "staged substring index",
    mismatch=(
        "anchor keys from mismatched parameters never match, silently "
        "losing all index hits — rebuild the index (substring_stage_index "
        "mode='overwrite') or match the staged parameters"
    ),
)
MEDIA_META = Sidecar(
    "_MEDIA_META.json", 1, "staged media signature index",
    mismatch=(
        "signatures from mismatched parameters never match, silently "
        "losing every cross-batch hit — use a fresh index path or match "
        "the staged parameters"
    ),
)
#: roll-forward manifest of `compact_ann_index`'s additive swap, written
#: INSIDE the staging dir after the staged rewrite is signature-verified
#: and deleted with it as the swap's last step; its presence marks a
#: swap in flight that `recover_ann_index` completes
COMPACT_PLAN = Sidecar("_COMPACT_PLAN.json", 1, "compaction swap plan")


def require_new_path(old_path: str, new_path: str) -> None:
    """A rebuild writes a complete fresh artifact beside the old one."""
    if old_path.rstrip("/") == new_path.rstrip("/"):
        raise ValueError(
            "rebuild must target a NEW path (searches keep reading the "
            "old index until cutover; an in-place rebuild races them)"
        )


def append_unstaged(
    rows: DataFrame, staged_ids: DataFrame | None, id_col: str, write
) -> int:
    """Replay-convergent append: rows whose id is already staged
    (`staged_ids`; None = none to check) are anti-joined out, so a
    replayed batch appends nothing. The rest is persisted and counted
    BEFORE `write(fresh, n)` runs — the anti-join scans the very
    directory the write appends into, so the count materializes the
    result once and the write never re-reads a path it is mutating.
    Returns the number of rows appended."""
    fresh = rows if staged_ids is None else rows.join(
        staged_ids, id_col, "left_anti"
    )
    fresh = fresh.persist()
    try:
        n = fresh.count()
        if n:
            write(fresh, n)
        return n
    finally:
        fresh.unpersist()


def _is_missing_file_error(exc: Exception) -> bool:
    """True iff the failure is the compaction window's loud read race:
    a file listed when the plan was built was deleted before the scan
    opened it (Spark error class FAILED_READ_FILE wrapping a
    FileNotFoundException). Anything else is a real error — never
    retried."""
    s = str(exc)
    return "FAILED_READ_FILE" in s or "FileNotFoundException" in s


def _materialize_with_retry(build, retries: int, _on_built=None):
    """Execute `build()` (a plan factory over a staged on-disk index)
    eagerly, re-planning on the missing-file race `compact_ann_index`
    documents: a reader that listed files before the swap's delete
    step opens a deleted original and fails LOUDLY with
    FAILED_READ_FILE. The file set is stable once the swap completes,
    so one re-plan from a fresh listing suffices; `retries` bounds it.

    Materialization is `localCheckpoint(eager=True)` — a top-k search
    result is bounded (n_queries x k rows) by construction, and the
    checkpoint both forces execution (so the retry actually catches
    the race here, not in the caller's action) and pins the result
    against further index mutation.

    `_on_built` is a TEST SEAM: called after each attempt's plan is
    built (file listing taken) and before it executes, with the
    attempt number — tests use it to complete a compaction swap inside
    exactly that window."""
    attempt = 0
    while True:
        df = build()
        if _on_built is not None:
            _on_built(attempt)
        try:
            return df.localCheckpoint(eager=True)
        except Exception as exc:  # re-plan only on the documented race
            if attempt >= retries or not _is_missing_file_error(exc):
                raise
            attempt += 1


# ---------------------------------------------------------------------------
# The batch-partitioned index of the foreachBatch sinks
# (`streaming/dedup_sink.py` anchor keys, `streaming/media_sink.py`
# signatures): ``<index_path>/batch_id=N/`` holds batch N's distinct
# keys, one key column per index.
# ---------------------------------------------------------------------------


def batch_dir(root: str, batch_id: int) -> str:
    """Batch `batch_id`'s partition directory under `root`."""
    return f"{root}/batch_id={batch_id}"


def index_so_far(
    spark: SparkSession, index_path: str, batch_id: int, key_col: str,
    key_type: str,
) -> DataFrame:
    """The `key_col` index visible to batch `batch_id`: every partition
    with a strictly smaller id. Partition pruning keeps the current
    batch's own directory (a possible earlier attempt of this very
    batch) out of the scan — the replay-safety core. Before any batch
    has staged keys the read fails schema inference; that IS the empty
    index."""
    from pyspark.errors import AnalysisException

    try:
        # the engine session disables partition-column type inference
        # (RUNTIME_CONFS: dt= partitions are strings), so batch_id
        # arrives as a STRING — the explicit bigint cast is load-
        # bearing: a lexicographic "10" < "9" comparison would corrupt
        # the pruning from batch 10 on
        return _batch_partitions_below(spark, index_path, batch_id).select(
            key_col
        )
    except AnalysisException:
        # path absent / only the meta sidecar present: nothing staged
        return spark.createDataFrame([], f"{key_col} {key_type}")


def _batch_partitions_below(
    spark: SparkSession, index_path: str, horizon: int
) -> DataFrame:
    return (
        spark.read.option("basePath", index_path)
        .parquet(index_path)
        .filter(F.col("batch_id").cast("bigint") < F.lit(horizon))
    )


def _list_index_partitions(spark: SparkSession, index_path: str) -> list[int]:
    """Sorted batch ids of the `batch_id=N` partition directories
    currently present under the index root."""
    ids = []
    for name in subdir_names(spark, index_path, "batch_id="):
        try:
            ids.append(int(name.split("=", 1)[1]))
        except ValueError:
            continue
    return sorted(ids)


def compact_batch_index(
    spark: SparkSession,
    index_path: str,
    horizon: int | None = None,
    target_files: int | None = None,
) -> int:
    """Fold every index partition with ``batch_id < horizon`` into ONE
    consolidated partition — the maintenance op that keeps a
    batch-partitioned index from accreting a directory per micro-batch
    forever (at a batch per minute, a quarter's run is ~130k
    directories, and `index_so_far` lists all of them every batch: a
    driver-metadata scale-killer plus the classic small-files
    problem). The key column is read from the index itself. Returns
    the number of partition directories folded (0 = nothing to do).

    REPLAY INVARIANT (why this is safe): a scrub of batch M reads
    partitions ``batch_id < M``. The consolidated partition gets a
    FRESH NEGATIVE id ``c = min(-1, min_present - 1)`` — always
    ``< M`` for every real batch, and never a directory a replay
    excludes-by-equality — and holds exactly the distinct keys of the
    folded batches, all ``< horizon``. So for every batch
    ``M >= horizon``, {partitions < M} spans the identical key set
    before and after compaction. foreachBatch can only replay the
    LATEST committed batch, hence the default
    ``horizon = max present id``: the one replayable batch still sees
    exactly the index state its first run saw. Pass a lower horizon
    only to keep more history unfolded; NEVER pass one above a batch
    that may still replay.

    Crash safety, step by step: (1) the consolidated write targets a
    never-before-used directory — a crash mid-write leaves ignorable
    `_temporary` junk or a partial key subset that merely DUPLICATES
    still-present originals (every lookup is a semi-join; duplicate
    keys are harmless); (2) originals are deleted only after the
    write commits — a crash mid-delete leaves harmless duplicates;
    (3) a rerun folds the leftovers (including the previous
    consolidated partition, ids strictly decrease) and converges.

    ``target_files``: file count for the consolidated partition;
    default sizes it from the folded input bytes (`files_for_bytes`).

    Run between micro-batches (or while the stream is down): a scrub
    that listed a folded directory right before its deletion can hit
    a FileNotFound and retry — the invariant holds on retry, but the
    wasted work is avoidable."""
    parts = _list_index_partitions(spark, index_path)
    if not parts:
        return 0
    if horizon is None:
        horizon = parts[-1]
    folded = [p for p in parts if p < horizon]
    if len(folded) < 2:
        return 0
    dirs = [_hadoop_fs(spark, batch_dir(index_path, p)) for p in folded]
    if target_files is None:
        target_files = files_for_bytes(
            sum(fs.getContentSummary(hp).getLength() for fs, hp in dirs)
        )
    consolidated = min(-1, folded[0] - 1)
    index = _batch_partitions_below(spark, index_path, horizon)
    (
        index.select(*[c for c in index.columns if c != "batch_id"])
        .distinct()
        .coalesce(target_files)
        .write.mode("overwrite")
        .parquet(batch_dir(index_path, consolidated))
    )
    for fs, hp in dirs:
        fs.delete(hp, True)
    return len(folded)


def check_compact_every(compact_every: int | None) -> None:
    if compact_every is not None and compact_every < 1:
        raise ValueError(
            f"compact_every must be >= 1 or None, got {compact_every}"
        )


def foreach_batch_sink(
    stream: DataFrame,
    step,
    checkpoint_location: str,
    available_now: bool = False,
    compact_every: int | None = None,
    compact=None,
):
    """Attach `step(batch, batch_id)` as a foreachBatch sink. Empty
    batches are skipped; with ``compact_every=N``, `compact(spark,
    batch_id)` runs INSIDE the sink after every N-th batch — steps are
    serialized, so maintenance never overlaps an append."""

    def _step(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        step(batch, batch_id)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            compact(batch.sparkSession, batch_id)

    writer = (
        stream.writeStream.foreachBatch(_step)
        .option("checkpointLocation", checkpoint_location)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
