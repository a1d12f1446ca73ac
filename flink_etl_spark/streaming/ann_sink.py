"""Continuous ANN index maintenance: append each micro-batch of
embeddings to a staged PQ / IVF-PQ index INSIDE the stream — the ANN
face of the foreachBatch maintenance pattern
(`streaming/dedup_sink.py` for substring dedup, `streaming/merge_sink`
for CDC): a training-data pipeline that embeds documents continuously
keeps its similarity index current without a nightly rebuild.

The index MUST be built offline first (`pq_build_index` /
`ivfpq_build_index` over a bootstrap corpus): the quantizers are
frozen at build time — that is what keeps staged and appended codes
score-comparable — and the seed recipes need a corpus to derive from.
The sink only ever appends.

Replay safety rides on the append operators' convergence contract:
foreachBatch redelivers the latest batch after a crash, and
`pq_append_index` / `ivfpq_append_index` anti-join already-present ids
before writing, so a replayed batch appends nothing (ids must be
globally unique across the corpus and every batch — the same contract
as `semdedup_incremental`).

Quantizer drift is the operational caveat, as with every frozen-
quantizer incremental in this package: if the embedding distribution
moves away from the build-time centroids/codebooks, recall decays —
rebuild the index periodically (the searches themselves need no
knowledge of the cadence; parameters travel in the meta sidecar).
`drift_probe` [retired; in git history] measures the decay curve;
docs/DEPLOYMENT.md carries the rebuild rule of thumb derived from it.

File accretion is handled in-module: every append writes one parquet
file set per touched partition, so `compact_ann_index` (signature-
verified staged rewrite promoted by an ADDITIVE move-new-then-
delete-old swap — concurrent searches see duplicated rows, collapsed
by the ranking, never missing ones; `compact_every=` sink cadence)
bounds the per-cell file count the same way `compact_dedup_index`
bounds the dedup index's directory count — see its docstring for the
replay, reader, and crash-safety contracts, and `tools/ann_soak.py`
for the 50-batch crash/replay soak plus the search-during-compaction
phase.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_etl_spark.operators.similarity import (
    ann_index_kind,
    ivfpq_append_index,
    pq_append_index,
)
from flink_etl_spark.staged import (
    COMPACT_PLAN,
    IVFPQ_META,
    PQ_META,
    _data_file_names,
    _hadoop_fs,
    _staging_path,
    check_compact_every,
    files_for_bytes,
    foreach_batch_sink,
    subdir_names,
)


def _ann_data_dirs(spark: SparkSession, index_path: str) -> list[str]:
    """The append-accreting data directories of a staged ANN index:
    every `cells/cell_id=N/` for IVF-PQ, the flat `codes/` for PQ.
    Driver-side FS listing, never a data scan."""
    if ann_index_kind(spark, index_path) == "pq":
        return [f"{index_path}/codes"]
    cells = f"{index_path}/cells"
    return [f"{cells}/{n}" for n in subdir_names(spark, cells, "cell_id=")]


def _complete_additive_swap(
    spark: SparkSession, d: str, plan: dict, on_moved=None
) -> None:
    """Run (or re-run — every step is idempotent) the additive swap a
    `_COMPACT_PLAN.json` describes: move every staged data file into
    the live directory (atomic per-file renames), THEN delete the
    original files, THEN drop the staging dir with the plan. Readers
    at any instant see at least the full row set — during the moves
    the originals are all still live (new files are byte-identical
    duplicates), during the deletes the staged set is already complete
    — so a concurrent search never silently misses rows (the reader
    contract `compact_ann_index` documents).

    ``on_moved`` is a TEST SEAM: called once at the maximally
    duplicated instant (all staged files live, no original deleted
    yet) so probes can run a real search inside the window —
    `tools/ann_soak.py` phase 3 exercises it on every swapped
    directory."""
    # Disjointness is a hard precondition: the loop below skips a move
    # when the destination exists and then unconditionally deletes every
    # `originals` name — a staged name colliding with an original would
    # delete the file the "skipped" move was supposed to protect. The
    # compact-time writer refuses to emit such a plan, but this function
    # also executes plans READ FROM DISK during crash recovery, so the
    # invariant is re-checked at the only place that acts on it.
    clash = set(plan["staged"]) & set(plan["originals"])
    if clash:
        raise ValueError(
            f"compaction swap plan for {d} lists {sorted(clash)[:3]}... as "
            "both staged and original — executing it could delete data; "
            "refusing (inspect the staging dir's _COMPACT_PLAN.json)"
        )
    fs, _ = _hadoop_fs(spark, d)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    sroot = _staging_path(d)
    for name in plan["staged"]:
        src, dst = Path(f"{sroot}/{name}"), Path(f"{d}/{name}")
        if not fs.exists(dst):
            if not fs.exists(src):
                raise IOError(
                    f"compaction recovery: staged file {name} of {d} is "
                    f"in the swap plan but exists in neither the staging "
                    "dir nor the target — plan and filesystem disagree; "
                    "refusing to delete originals"
                )
            if not fs.rename(src, dst):
                raise IOError(
                    f"compaction swap: rename {name} into {d} failed"
                )
        # ChecksumFileSystem (file://) keeps a hidden `.{name}.crc`
        # sidecar per data file — carry it along so the moved file
        # keeps checksum protection (HDFS/S3 have none). OUTSIDE the
        # already-moved guard: a crash between a data move and its crc
        # move must still carry the crc on the recovery re-run
        crc_src = Path(f"{sroot}/.{name}.crc")
        crc_dst = Path(f"{d}/.{name}.crc")
        if fs.exists(crc_src) and not fs.exists(crc_dst):
            fs.rename(crc_src, crc_dst)
    if on_moved is not None:
        on_moved(d)
    for name in plan["originals"]:
        p = Path(f"{d}/{name}")
        if fs.exists(p):
            fs.delete(p, False)
        # and the original's checksum sidecar: the pre-r10 whole-dir
        # delete removed these implicitly; leaving them would leak one
        # hidden file per original per compaction on local filesystems
        crc = Path(f"{d}/.{name}.crc")
        if fs.exists(crc):
            fs.delete(crc, False)
    _, sp = _hadoop_fs(spark, sroot)
    if fs.exists(sp):
        fs.delete(sp, True)


def _recover_dir(spark: SparkSession, d: str) -> int:
    """Heal one data directory: an in-flight additive swap (staging dir
    carrying a `_COMPACT_PLAN.json`) rolls FORWARD; anything else
    (stale plan-less staging, or the pre-r10 delete+rename layout's
    missing-target crash) goes through `recover_snapshot`'s rules."""
    from flink_etl_spark.operators.merge import recover_snapshot

    fs, sp = _hadoop_fs(spark, _staging_path(d))
    if fs.exists(sp):
        plan = COMPACT_PLAN.read(spark, _staging_path(d))
        if plan is not None:
            _complete_additive_swap(spark, d, plan)
            return 1
    return int(recover_snapshot(d, spark))


def recover_ann_index(spark: SparkSession, index_path: str) -> int:
    """Complete any compaction swap a crash left in flight. With the
    r10 additive swap a crash window is never silent for readers —
    they see duplicated rows (collapsed by the search ranking), not
    missing ones — but the live directory holds up to 2x rows until
    the swap's deletes finish, so run this after any unclean shutdown;
    `start_continuous_ann_index` runs it at attach time and
    `compact_ann_index` runs it before compacting. Swaps with a
    `_COMPACT_PLAN.json` roll FORWARD (idempotent per-file moves +
    deletes); plan-less staging remnants and pre-r10 delete+rename
    crashes (whose window DID silently hide the mid-swap directory)
    heal through `recover_snapshot`. Returns the number of directories
    recovered."""
    kind = ann_index_kind(spark, index_path)
    if kind == "pq":
        return _recover_dir(spark, f"{index_path}/codes")
    staged = subdir_names(spark, f"{index_path}/cells/_staging", "cell_id=")
    return sum(_recover_dir(spark, f"{index_path}/cells/{n}") for n in staged)


def _dir_signature(df: DataFrame) -> tuple:
    """(row count, order-independent xor of xxhash64 over every column)
    — the id+codes content signature the compaction swap is verified
    against. XOR is commutative (no sort), overflow-free, and an even
    duplication is additionally caught by the count."""
    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    row = df.select(h.alias("_h")).agg(
        F.count("_h").alias("n"), F.expr("bit_xor(_h)").alias("x")
    ).first()
    return (row["n"], row["x"])


def compact_ann_index(
    spark: SparkSession,
    index_path: str,
    target_files: int | None = None,
    on_moved=None,
) -> int:
    """Rewrite each accreted data directory of a staged ANN index to a
    bounded file count — the maintenance op that keeps the continuous
    ANN sink from accreting one parquet file set per micro-batch per
    touched `cell_id=` partition forever (the same small-file /
    metadata scale-killer class `compact_dedup_index` closes for the
    continuous-dedup index: at a batch per minute a quarter's run is
    ~130k file sets per hot cell, and every probe of that cell pays
    one task + one footer read per file). Works on both staged
    layouts (IVF-PQ `cells/cell_id=N/`, flat-PQ `codes/`). Returns the
    number of directories rewritten.

    APPEND/REPLAY CONTRACT (why this is safe): `pq_append_index` /
    `ivfpq_append_index` anti-join the staged ids before writing, so
    their replay convergence needs exactly one property from this op —
    the staged (id, codes) ROW SET is preserved byte-for-byte. That is
    not assumed but ASSERTED: each directory's replacement is written
    to the invisible `_staging/` sibling first, its (count,
    xor-of-row-hashes) signature is compared against the original, and
    only a matching replacement is promoted. A mismatch deletes the
    staged copy and raises with the directory intact.

    READER CONTRACT (r10 — the swap is ADDITIVE): promotion first
    MOVES every staged file into the live directory (atomic per-file
    renames; the originals are still all present, so new files are
    byte-identical duplicates), and only then deletes the originals.
    At no instant is any row missing; a search overlapping the swap
    sees each row AT MOST TWICE, and the shared search ranking
    collapses duplicates by construction (`_rank_and_rerank` — cut at
    2*k*rerank, dedup, re-rank; `tools/ann_soak.py` phase 3 drives a
    search loop concurrent with compactions and asserts every result
    identical to the quiesced index's). The residual exposure is
    LOUD, not silent: a reader that listed files before a delete and
    opens the deleted original fails with FAILED_READ_FILE (retry it)
    — keep `spark.sql.files.ignoreMissingFiles` at its default
    `false` for index readers, since `true` would turn exactly that
    window into a silent row loss. Appends must NOT run concurrently
    with compaction (the sink's `compact_every=` cadence serializes
    them; external schedulers must too) — concurrent SEARCHES are the
    supported case.

    Crash safety: every swap writes a `_COMPACT_PLAN.json` roll-
    forward manifest into the staging dir after the signature check;
    a crash anywhere inside the swap leaves the plan, and
    `recover_ann_index` (run here first, at sink attach, and after
    any unclean shutdown) completes the move/delete idempotently. A
    crash during the staging write itself leaves plan-less `_staging/`
    junk next to an intact directory, which recovery sweeps.

    `target_files` bounds each directory's file count; the default
    sizes per directory from its bytes at ~128 MB/file (min 1).
    Directories already at or under the target are skipped, so the
    steady-state cost is proportional to the cells touched since the
    last compaction, not the index."""
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.operators.merge import stage_snapshot

    if target_files is not None and target_files < 1:
        raise ValueError(f"target_files must be >= 1, got {target_files}")
    recover_ann_index(spark, index_path)  # heal any crashed prior swap
    rewritten = 0
    for d in _ann_data_dirs(spark, index_path):
        before_files = partition_file_count(spark, d)
        if target_files is None:
            fs, hp = _hadoop_fs(spark, d)
            tgt = files_for_bytes(fs.getContentSummary(hp).getLength())
        else:
            tgt = target_files
        if before_files <= tgt:
            continue
        df = spark.read.parquet(d)
        before_sig = _dir_signature(df)
        # repartition, not coalesce: keep the rewrite's READ wide
        stage_snapshot(df.repartition(tgt), d)
        staged = spark.read.parquet(_staging_path(d))
        after_sig = _dir_signature(staged)
        if after_sig != before_sig:
            fs, hp = _hadoop_fs(spark, _staging_path(d))
            fs.delete(hp, True)
            raise ValueError(
                f"compact_ann_index: staged rewrite of {d} changed the "
                f"(count, hash) signature {before_sig} -> {after_sig}; "
                "original left intact, staged copy deleted — the append "
                "replay contract requires an id-set-identical rewrite"
            )
        # additive swap: record the roll-forward plan, then move the
        # verified staged files IN before deleting the originals —
        # concurrent readers see duplicated rows, never missing ones
        fs, dp = _hadoop_fs(spark, d)
        _, sp = _hadoop_fs(spark, _staging_path(d))
        originals = _data_file_names(fs, dp)
        staged_names = _data_file_names(fs, sp)
        clash = set(originals) & set(staged_names)
        if clash:
            fs.delete(sp, True)
            raise ValueError(
                f"compact_ann_index: staged rewrite of {d} produced file "
                f"names colliding with the originals ({sorted(clash)[:3]}"
                "...) — refusing the additive swap; staged copy deleted"
            )
        COMPACT_PLAN.write(
            spark, _staging_path(d),
            {"originals": originals, "staged": staged_names},
        )
        _complete_additive_swap(
            spark, d, {"originals": originals, "staged": staged_names},
            on_moved=on_moved,
        )
        rewritten += 1
    return rewritten


def start_continuous_ann_index(
    embs: DataFrame,
    index_path: str,
    checkpoint_location: str,
    kind: str = "ivfpq",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    available_now: bool = False,
    compact_every: int | None = None,
    drift_check_every: int | None = None,
) -> StreamingQuery:
    """Attach continuous index append as a foreachBatch sink on a
    streaming embedding DataFrame. ``kind`` selects the staged layout:
    ``"ivfpq"`` (cell-partitioned byte codes — the 100 TB default) or
    ``"pq"`` (flat codes). The index at `index_path` must already
    exist with a matching meta sidecar; validated once at start so a
    misconfigured stream fails at attach time, not at first batch
    (attach also heals any crashed compaction swap via
    `recover_ann_index`).

    ``compact_every=N`` runs `compact_ann_index` INSIDE the sink every
    N-th batch, bounding each cell partition's file count with no
    external scheduler — without it the sink accretes one file set per
    micro-batch per touched cell forever (mirror of the dedup sink's
    cadence). Safe inside foreachBatch by construction for the WRITE
    side: steps are serialized, the rewrite is signature-verified
    id-set-identical (so the appends' replay anti-join is unaffected),
    and a replayed batch's re-run of the compaction is a cheap skip
    (directories are already at their file-count target). Safe for
    CONCURRENT EXTERNAL SEARCHES too (r10): the swap is additive
    (move-new-then-delete-old), so a search overlapping it sees
    duplicated rows — collapsed by the search ranking — never missing
    ones; the worst case is a loud FAILED_READ_FILE retry, per
    `compact_ann_index`'s reader contract.

    ``drift_check_every=N`` runs the kind-appropriate quantizer-drift
    check (`ann_drift_check` for ivfpq, `pq_drift_check` for flat pq)
    on every N-th micro-batch BEFORE appending it — the operational
    loop closed: the sink is where batches flow, so the monitor rides
    it, warning (UserWarning in driver logs) with
    rebuild_recommended when the batch reads drifted against the
    build-time sidecar baseline. Cost: one broadcast
    assignment/encode pass over the sampled batch, nothing over the
    index. The sink never ACTS on the flag (a rebuild targets a new
    path and needs a cutover the stream cannot do mid-flight) — wire
    the warning into alerting, then run `ivfpq_rebuild_index` /
    `pq_rebuild_index` and re-attach."""
    if kind not in ("ivfpq", "pq"):
        raise ValueError(f"kind must be 'ivfpq' or 'pq', got {kind!r}")
    check_compact_every(compact_every)
    if drift_check_every is not None and drift_check_every < 1:
        raise ValueError(
            f"drift_check_every must be >= 1 or None, got "
            f"{drift_check_every}"
        )
    spark = embs.sparkSession
    # fail fast: a missing/incompatible index raises HERE, not inside
    # the first micro-batch (where it would poison the checkpoint)
    if kind == "ivfpq":
        meta = IVFPQ_META.read(spark, index_path)
        if meta is None:
            raise ValueError(
                f"no IVF-PQ index at {index_path} — run ivfpq_build_index "
                "over a bootstrap corpus before attaching the stream"
            )
        IVFPQ_META.check_version(meta, index_path)
        append = ivfpq_append_index
    else:
        meta = PQ_META.require(spark, index_path)  # raises when absent/drifted
        append = pq_append_index
    # a crash inside a prior compaction's delete+rename window leaves
    # one directory missing with its staged replacement next to it —
    # promote it before the first append scans the index
    recover_ann_index(spark, index_path)

    # cache the drift check's frozen inputs ONCE at attach (ADVICE
    # r10: for small drift_check_every the sidecar + centroids/
    # codebooks parquet were re-read every N-th batch). Both are
    # frozen for the sink's lifetime: appends never touch them,
    # inline compaction rewrites codes only, and a rebuild targets a
    # NEW path with a re-attach. The rows are bounded by design
    # (n_cells centroids / m*n_codes codewords), so a driver-side
    # copy re-localized per check is cheap and session-correct inside
    # foreachBatch (the batch session can be a clone of the attach
    # session).
    drift_rows = drift_schema = None
    if drift_check_every:
        ref = spark.read.parquet(
            f"{index_path}/{'centroids' if kind == 'ivfpq' else 'codebooks'}"
        )
        drift_schema = ref.schema
        drift_rows = ref.collect()

    def step(batch: DataFrame, batch_id: int) -> None:
        if drift_check_every and batch_id % drift_check_every == 0:
            from flink_etl_spark.operators.similarity import (
                ann_drift_check,
                pq_drift_check,
            )

            ref = batch.sparkSession.createDataFrame(
                drift_rows, drift_schema
            )
            if kind == "ivfpq":
                ann_drift_check(
                    batch.sparkSession, index_path, batch,
                    id_col=id_col, vec_col=vec_col,
                    meta=meta, centroids=ref,
                )
            else:
                pq_drift_check(
                    batch.sparkSession, index_path, batch, vec_col=vec_col,
                    meta=meta, codebooks=ref,
                )
        append(
            batch.sparkSession, batch, index_path,
            id_col=id_col, vec_col=vec_col,
        )

    return foreach_batch_sink(
        embs, step, checkpoint_location, available_now, compact_every,
        lambda spark, batch_id: compact_ann_index(spark, index_path),
    )
