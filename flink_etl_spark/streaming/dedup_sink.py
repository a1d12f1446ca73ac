"""Continuous substring dedup: scrub each micro-batch of documents
against the accreting anchor-key index INSIDE the stream — the
streaming face of `operators/prep.substring_dedup_incremental`, wired
for foreachBatch replay the way `streaming/merge_sink.py` wires the
CDC merge.

| surface | cadence | dedup horizon |
|---|---|---|
| `prep.substring_dedup` (batch) | one-shot | whole corpus |
| `prep.substring_dedup_incremental` | per batch job | corpus index, manual staging |
| this sink | per micro-batch | everything ingested before this batch |

Replay safety is the whole design. foreachBatch re-delivers a batch
after a crash, and naively re-scrubbing it against an index that
already contains ITS OWN keys would drop the batch's first
occurrences (the documented `substring_dedup_incremental` caveat).
The index is therefore laid out one partition directory per batch —
``<index_path>/batch_id=N/`` — and batch N scrubs against strictly
EARLIER partitions only (``batch_id < N``, partition-pruned), so a
replayed batch sees exactly the index state its first run saw. Both
writes (deduped output to ``<output_path>/batch_id=N``, keys to the
index partition) are per-batch-directory overwrites, hence
idempotent; crash at any point replays to the identical state.

Reference parity: extends the reference's streaming ingest
(`HdfsSink.java:34-127`, dt-partitioned append) with the dedup the
public training-data methodology (Lee et al. 2022) runs as a separate
batch stage — here it rides the ingest stream itself.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from flink_etl_spark.operators.prep import _substring_scrub
from flink_etl_spark.staged import (
    SUBSTR_META,
    batch_dir,
    check_compact_every,
    compact_batch_index,
    foreach_batch_sink,
    index_so_far,
)

#: fold the anchor-key index's ``batch_id < horizon`` partitions into one
#: (`staged.compact_batch_index` — replay, crash-safety and sizing
#: contracts there)
compact_dedup_index = compact_batch_index


def dedup_batch_step(
    batch: DataFrame,
    batch_id: int,
    index_path: str,
    output_path: str,
    min_tokens: int = 50,
    winnow: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    out_col: str = "dedup_text",
    broadcast_batch: bool = True,
) -> None:
    """One foreachBatch step, callable directly for testing/backfill:
    scrub against `batch_id`-earlier index partitions, overwrite the
    batch's output directory, overwrite the batch's index partition
    with its distinct anchor keys. Idempotent by construction —
    calling it twice with the same (batch, batch_id) converges."""
    from flink_etl_spark.operators.prep import (
        _substring_anchors,
        _substring_narrow,
    )

    spark = batch.sparkSession
    params = {"key": key, "min_tokens": min_tokens, "winnow": winnow}
    if not SUBSTR_META.check(spark, index_path, params):  # raises on drift
        SUBSTR_META.write(spark, index_path, params)

    index = index_so_far(
        spark, index_path, batch_id, "anchor_key",
        "string" if key == "digest" else "bigint",
    )
    with_anchors = _substring_anchors(
        batch, min_tokens, 1, id_col, text_col, key
    )
    deduped = _substring_scrub(
        with_anchors, index, min_tokens, winnow, id_col, out_col,
        broadcast_batch,
    )
    deduped.write.mode("overwrite").parquet(batch_dir(output_path, batch_id))
    keys = (
        _substring_narrow(with_anchors, id_col, winnow)
        .select(F.col("_k").alias("anchor_key"))
        .distinct()
    )
    keys.write.mode("overwrite").parquet(batch_dir(index_path, batch_id))


def start_continuous_dedup(
    docs: DataFrame,
    index_path: str,
    output_path: str,
    checkpoint_location: str,
    min_tokens: int = 50,
    winnow: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    out_col: str = "dedup_text",
    broadcast_batch: bool = True,
    available_now: bool = False,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Attach continuous substring dedup as a foreachBatch sink on a
    streaming document DataFrame. Output accretes under
    ``<output_path>/batch_id=N`` (read the root with partition
    discovery for the full deduped corpus); the index accretes under
    ``<index_path>/batch_id=N`` and doubles as a
    `substring_dedup_incremental`-compatible key set for offline
    jobs. Parameters are pinned per index by the meta sidecar.

    ``compact_every=N`` runs `compact_dedup_index` INSIDE the sink
    every N-th batch (horizon = the just-committed batch id), bounding
    the index at ~N + 1 partition directories with no external
    scheduler. Safe inside foreachBatch by construction: steps are
    serialized, the horizon preserves the replay invariant, and a
    replayed batch re-runs the compaction as a no-op (fewer than two
    foldable directories remain)."""
    check_compact_every(compact_every)
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if not (1 <= winnow <= min_tokens):
        raise ValueError(
            f"winnow must satisfy 1 <= winnow <= min_tokens, got "
            f"winnow={winnow}, min_tokens={min_tokens}"
        )
    if key not in ("hash64", "digest"):
        raise ValueError(f"key must be 'hash64' or 'digest', got {key!r}")

    def step(batch: DataFrame, batch_id: int) -> None:
        dedup_batch_step(
            batch, batch_id, index_path, output_path, min_tokens, winnow,
            id_col, text_col, key, out_col, broadcast_batch,
        )

    return foreach_batch_sink(
        docs, step, checkpoint_location, available_now, compact_every,
        lambda spark, batch_id: compact_dedup_index(
            spark, index_path, horizon=batch_id
        ),
    )
