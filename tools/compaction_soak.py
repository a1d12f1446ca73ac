#!/usr/bin/env python
"""Continuous-dedup compaction soak: 50 micro-batches with the sink's
inline `compact_every=10` cadence, two crash/replay windows, asserted
against an uncompacted twin.

The unit tests (tests/test_streaming.py) pin SINGLE-compaction
invariants; this probe pins the REPEATED-fold path under realistic
restarts over a longer horizon:

* the consolidated partition id strictly DECREASES across every fold
  (each compaction folds the previous consolidated partition too);
* the live directory count stays bounded at ~compact_every + 1 the
  whole run (never the 50 directories the uncompacted twin ends with);
* a crash/replay of the latest committed batch — the only batch
  foreachBatch can redeliver — mid-cadence (including immediately
  after a compaction boundary) re-runs byte-identically, and the
  sink's re-run of the compaction call is a no-op;
* the FULL deduped corpus at batch 50 is byte-identical to the
  uncompacted twin's.

Batches mix novel text with repeats of earlier paragraphs (seeded,
deterministic) so the scrub actually exercises the index. All checks
are hard asserts; the probe prints one JSON line on success.

Usage: python tools/compaction_soak.py
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
from flink_etl_spark.streaming.dedup_sink import (  # noqa: E402
    compact_dedup_index,
    dedup_batch_step,
)

N_BATCHES = 50
COMPACT_EVERY = 10
MIN_TOKENS = 8
#: replay (crash/restart of the latest committed batch) after these
#: batches commit — 20 is a compaction boundary (the nastier window:
#: the replayed batch re-runs the compaction call), 37 is mid-cadence
REPLAY_AFTER = {20, 37}


def make_batches() -> list[list[tuple[int, str]]]:
    rng = random.Random(42)
    paras: list[str] = []
    batches = []
    for b in range(N_BATCHES):
        rows = []
        for d in range(3):
            doc_id = b * 10 + d
            novel = " ".join(f"b{b}d{d}w{i}" for i in range(12))
            if paras and rng.random() < 0.5:
                # repeat an earlier paragraph -> must be scrubbed
                rows.append((doc_id, f"pre{doc_id} " + rng.choice(paras)))
            else:
                rows.append((doc_id, novel))
                paras.append(novel)
        batches.append(rows)
    return batches


def read_corpus(spark, out: str):
    df = spark.read.option("basePath", out).parquet(out)
    return sorted(map(tuple, df.drop("batch_id").collect()))


def main() -> None:
    spark = get_spark(app_name="compaction-soak")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="compaction_soak_")
    idx, out = f"{root}/idx", f"{root}/out"
    idx2, out2 = f"{root}/idx2", f"{root}/out2"
    batches = make_batches()

    t0 = time.perf_counter()
    max_dirs = 0
    consolidated_ids: list[int] = []
    n_folds = n_replays = 0
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_batch_step(df, bid, idx, out, min_tokens=MIN_TOKENS)
        if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
            folded = compact_dedup_index(spark, idx, horizon=bid)
            assert folded >= 2, f"batch {bid}: expected a real fold, got {folded}"
            n_folds += 1
            cons = min(_list_index_partitions(spark, idx))
            assert cons < 0, f"batch {bid}: consolidated id {cons} not negative"
            if consolidated_ids:
                assert cons < consolidated_ids[-1], (
                    f"batch {bid}: consolidated id {cons} did not strictly "
                    f"decrease from {consolidated_ids[-1]}"
                )
            consolidated_ids.append(cons)
        if bid in REPLAY_AFTER:
            # crash/restart: foreachBatch redelivers the LATEST batch;
            # the sink re-runs the step AND (on a boundary) compaction
            before = read_corpus(spark, out)
            dedup_batch_step(df, bid, idx, out, min_tokens=MIN_TOKENS)
            if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
                refold = compact_dedup_index(spark, idx, horizon=bid)
                assert refold == 0, (
                    f"replayed compaction at {bid} folded {refold}, not a no-op"
                )
            assert read_corpus(spark, out) == before, (
                f"replay of batch {bid} changed the corpus"
            )
            n_replays += 1
        max_dirs = max(max_dirs, len(_list_index_partitions(spark, idx)))

    assert max_dirs <= COMPACT_EVERY + 2, (
        f"directory count hit {max_dirs} > bound {COMPACT_EVERY + 2}"
    )

    # uncompacted, replay-free twin
    for bid, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        dedup_batch_step(df, bid, idx2, out2, min_tokens=MIN_TOKENS)
    twin_dirs = len(_list_index_partitions(spark, idx2))
    assert read_corpus(spark, out) == read_corpus(spark, out2), (
        "compacted corpus differs from the uncompacted twin"
    )

    print(json.dumps({
        "batches": N_BATCHES, "compact_every": COMPACT_EVERY,
        "folds": n_folds, "replays": n_replays,
        "consolidated_ids": consolidated_ids,
        "max_live_dirs": max_dirs, "twin_dirs": twin_dirs,
        "corpus_byte_identical": True,
        "wall_sec": round(time.perf_counter() - t0, 1),
    }))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
