#!/usr/bin/env python
"""Continuous media-dedup soak: 40 micro-batches through
`media_batch_step` with the sink's `compact_every=10` cadence, two
crash/replay windows, asserted against an uncompacted replay-free twin.

The unit tests (tests/test_streaming.py) pin SINGLE-step invariants of
the r14 media sink (scrub semantics, one replay, one compaction); this
probe pins the REPEATED-fold path over a longer horizon, mirroring
`tools/compaction_soak.py` for the text family:

* the consolidated index partition id strictly DECREASES across every
  fold (each compaction folds the previous consolidated partition too);
* the live index directory count stays bounded at ~compact_every + 1
  for the whole run (never the 40 dirs the uncompacted twin ends with);
* a crash/replay of the latest committed batch — the only batch
  foreachBatch can redeliver — mid-cadence AND on a compaction
  boundary re-runs byte-identically, and the replayed compaction call
  is a no-op;
* the FULL kept corpus at batch 40 is byte-identical to the
  uncompacted twin's;
* every cross-batch EXACT repeat was scrubbed (signature hamming 0 —
  guaranteed by the staged-all-distinct-signatures index contract).

Batches mix fresh payloads with exact repeats and one-byte
substitutions of earlier payloads (seeded, deterministic), so the
banded cross-batch scrub actually exercises the accreted index. All
checks are hard asserts; prints one JSON line on success.

Usage: python tools/media_soak.py
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark.staged import _list_index_partitions  # noqa: E402
from flink_etl_spark.streaming.media_sink import (  # noqa: E402
    compact_media_index,
    media_batch_step,
)

N_BATCHES = 40
COMPACT_EVERY = 10
#: replay (crash/restart of the latest committed batch) after these
#: batches commit — 20 is a compaction boundary (the nastier window:
#: the replayed batch re-runs the compaction call), 33 is mid-cadence
REPLAY_AFTER = {20, 33}


def make_batches():
    rng = random.Random(42)
    pool: list[bytes] = []  # payloads from strictly earlier batches
    batches = []
    exact_repeat_ids = []
    for b in range(N_BATCHES):
        rows = []
        fresh_this_batch: list[bytes] = []
        for d in range(4):
            media_id = b * 10 + d
            roll = rng.random()
            if pool and roll < 0.3:
                # cross-batch EXACT repeat -> must be scrubbed
                rows.append((media_id, rng.choice(pool)))
                exact_repeat_ids.append(media_id)
            elif pool and roll < 0.5:
                # one-byte substitution of an earlier payload — a
                # perceptual near-dup candidate; scrubbed iff its
                # dcthash lands within max_hamming (not asserted
                # per-row: the twin-equality check covers semantics)
                src = rng.choice(pool)
                k = rng.randrange(8, len(src) - 8)
                rows.append((media_id, src[:k] + b"Q" + src[k + 1:]))
            else:
                payload = (
                    f"soak batch {b} item {d} payload text body "
                    .encode() * (4 + d)
                )
                rows.append((media_id, payload))
                fresh_this_batch.append(payload)
        batches.append(rows)
        pool.extend(fresh_this_batch)
    return batches, set(exact_repeat_ids)


def read_corpus(spark, out: str):
    df = spark.read.option("basePath", out).parquet(out)
    return sorted(
        (r["media_id"], bytes(r["payload"]))
        for r in df.select("media_id", "payload").collect()
    )


def main() -> None:
    spark = get_spark(app_name="media-soak")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="media_soak_")
    idx, out = f"{root}/idx", f"{root}/out"
    idx2, out2 = f"{root}/idx2", f"{root}/out2"
    batches, exact_ids = make_batches()

    t0 = time.perf_counter()
    max_dirs = 0
    consolidated_ids: list[int] = []
    n_folds = n_replays = 0
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        media_batch_step(df, bid, idx, out)
        if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
            folded = compact_media_index(spark, idx, horizon=bid)
            assert folded >= 2, (
                f"batch {bid}: expected a real fold, got {folded}"
            )
            n_folds += 1
            cons = min(_list_index_partitions(spark, idx))
            assert cons < 0, (
                f"batch {bid}: consolidated id {cons} not negative"
            )
            if consolidated_ids:
                assert cons < consolidated_ids[-1], (
                    f"batch {bid}: consolidated id {cons} did not strictly "
                    f"decrease from {consolidated_ids[-1]}"
                )
            consolidated_ids.append(cons)
        if bid in REPLAY_AFTER:
            before = read_corpus(spark, out)
            media_batch_step(df, bid, idx, out)
            if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
                refold = compact_media_index(spark, idx, horizon=bid)
                assert refold == 0, (
                    f"replayed compaction at {bid} folded {refold},"
                    " not a no-op"
                )
            assert read_corpus(spark, out) == before, (
                f"replay of batch {bid} changed the corpus"
            )
            n_replays += 1
        max_dirs = max(max_dirs, len(_list_index_partitions(spark, idx)))

    assert max_dirs <= COMPACT_EVERY + 2, (
        f"index directory count hit {max_dirs} > bound {COMPACT_EVERY + 2}"
    )

    # uncompacted, replay-free twin
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        media_batch_step(df, bid, idx2, out2)
    twin_dirs = len(_list_index_partitions(spark, idx2))
    assert twin_dirs == N_BATCHES, twin_dirs

    corpus = read_corpus(spark, out)
    assert corpus == read_corpus(spark, out2), (
        "compacted/replayed corpus differs from the uncompacted twin"
    )
    kept_ids = {mid for mid, _ in corpus}
    leaked = kept_ids & exact_ids
    assert not leaked, f"cross-batch exact repeats survived: {sorted(leaked)}"
    total = sum(len(b) for b in batches)
    wall = time.perf_counter() - t0
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps({
        "probe": "media_soak", "batches": N_BATCHES, "media": total,
        "kept": len(corpus), "exact_repeats_scrubbed": len(exact_ids),
        "folds": n_folds, "replays": n_replays,
        "max_index_dirs": max_dirs, "wall_s": round(wall, 1),
    }))


if __name__ == "__main__":
    main()
