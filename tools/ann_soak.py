#!/usr/bin/env python
"""Continuous-ANN-index soak: 50 append micro-batches with the sink's
inline `compact_every=10` cadence, two crash/replay windows, one
simulated crash INSIDE the compaction swap, asserted against an
uncompacted twin and a one-shot build of the union corpus.

The unit tests (tests/test_streaming.py) pin single-compaction
invariants; this probe pins the REPEATED-fold path at horizon — the
ANN twin of `tools/compaction_soak.py` for the dedup index:

* after every compaction each `cell_id=` partition is at exactly the
  file target, and between compactions accretion never exceeds the
  cadence bound (vs the uncompacted twin's one-file-set-per-batch);
* a crash/replay of the latest committed batch (the only batch
  foreachBatch can redeliver) appends 0 vectors — including at a
  compaction boundary, where the re-run compaction is also a no-op;
* a crash inside the staged swap's delete+rename window (cell dir
  gone, staged replacement present) is healed by `recover_ann_index`
  with the row set byte-identical;
* at batch 50 the compacted index's (id, codes, cell_id) row set and
  its search results are IDENTICAL to both the uncompacted twin and a
  ONE-SHOT `ivfpq_build_index` over the union corpus (bootstrap holds
  the seed vectors, so frozen-quantizer appends converge exactly).

Phase 2 then replays the SAME 50 batches through the real
`start_continuous_ann_index` sink (file source, one file per
micro-batch, inline `compact_every`) with two mid-stream
kill/restarts through the actual checkpoint — an interrupted batch
redelivers on reattach, the genuine foreachBatch replay path — and
asserts the final index rows, file bound, and search results again
match the one-shot build.

All checks are hard asserts; prints one JSON line on success.

KNOWN UPSTREAM ARTIFACT (harmless, expect it in stderr): each
`q.stop()` that lands while a foreachBatch python call is in flight
prints `java.lang.StackOverflowError` from the DYING stream thread —
Spark 4.1.2's `StreamExecution.isInterruptionException`
(StreamExecution.scala:774) regex-scans the exception MESSAGE to
classify the stop, and a Py4J error message embedding a full Python
traceback blows the regex engine's recursion. Bisected in-session:
reproduces with a vanilla session + any real foreachBatch job +
mid-batch stop(); does NOT reproduce with a no-op batch fn. The
checkpoint is untouched (this probe's phase 2 passes its
byte-identical assertions THROUGH two such stops) — the error is
post-decision noise on a thread that is terminating either way.

Phase 3 pins the r10 READER CONTRACT — searches concurrent with
compaction: a searcher thread loops the staged search while
`compact_ann_index` folds a heavily accreted index, plus an
instrumented search at the maximally duplicated instant of EVERY
swapped directory (the `on_moved` seam: all staged files live,
originals not yet deleted). Every completed search must be
byte-identical to the quiesced index's result (the ranking collapses
the duplicated rows); the only tolerated failure is the documented
LOUD class — a FILE_NOT_EXIST on an original deleted after the
reader's listing (retried). Zero silent row loss, zero mismatches.

Usage: python tools/ann_soak.py [1|2|3|all]   (default all; each phase
fits a ~5 min budget alone — run them separately on a slow host)
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

from flink_etl_spark.operators.maintenance import partition_file_count  # noqa: E402
from flink_etl_spark.operators.merge import stage_snapshot  # noqa: E402
from flink_etl_spark.staged import _hadoop_fs  # noqa: E402
from flink_etl_spark.operators.similarity import (  # noqa: E402
    ivfpq_append_index,
    ivfpq_build_index,
    ivfpq_search_index,
)
from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark.streaming.ann_sink import (  # noqa: E402
    _ann_data_dirs,
    compact_ann_index,
    recover_ann_index,
)

N_BATCHES = 50
BATCH_ROWS = 40
BOOT_ROWS = 200
DIM = 16
COMPACT_EVERY = 10
TARGET_FILES = 1
#: replay the latest committed batch after these (20 = a compaction
#: boundary — the re-run executes the compaction call too; 37 =
#: mid-cadence)
REPLAY_AFTER = {20, 37}
#: simulate a crash INSIDE the compaction swap after this batch
CRASH_SWAP_AFTER = 25


def make_vec(rng: random.Random) -> list[float]:
    return [round(rng.uniform(-1, 1), 4) for _ in range(DIM)]


def main() -> None:
    phase = sys.argv[1] if len(sys.argv) > 1 else "all"
    if phase not in ("1", "2", "3", "all"):
        raise SystemExit(f"usage: ann_soak.py [1|2|3|all], got {phase!r}")
    spark = get_spark(app_name="ann-soak")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ann_soak_")
    idx, idx2 = f"{root}/idx", f"{root}/idx2"
    rng = random.Random(7)
    schema = "vec_id long, embedding array<float>"

    boot_rows = [(i, make_vec(rng)) for i in range(BOOT_ROWS)]
    batches = [
        [
            (BOOT_ROWS + b * BATCH_ROWS + i, make_vec(rng))
            for i in range(BATCH_ROWS)
        ]
        for b in range(N_BATCHES)
    ]

    boot = spark.createDataFrame(boot_rows, schema)

    def cells(p):
        return sorted(
            (r[0], bytes(r[1]), r[2])
            for r in spark.read.parquet(f"{p}/cells").collect()
        )

    def max_files(p):
        return max(partition_file_count(spark, d) for d in _ann_data_dirs(spark, p))

    all_rows = boot_rows + [r for b in batches for r in b]
    oneshot = f"{root}/oneshot"
    ivfpq_build_index(
        spark.createDataFrame(all_rows, schema), oneshot,
        n_cells=4, m=8, n_codes=16,
    )
    qs = spark.createDataFrame(all_rows[:8], schema)
    search = lambda p: sorted(
        map(tuple, ivfpq_search_index(spark, p, qs, k=5, nprobe=2).collect())
    )
    bound = TARGET_FILES + 2 * COMPACT_EVERY
    out = {
        "batches": N_BATCHES, "compact_every": COMPACT_EVERY,
        "phase": phase,
    }

    t0 = time.perf_counter()
    n_replays = n_folds = 0
    max_between = 0
    if phase in ("1", "all"):
      ivfpq_build_index(boot, idx, n_cells=4, m=8, n_codes=16)
      ivfpq_build_index(boot, idx2, n_cells=4, m=8, n_codes=16)
      for bid, rows in enumerate(batches):
          df = spark.createDataFrame(rows, schema)
          n = ivfpq_append_index(spark, df, idx)
          assert n == BATCH_ROWS, f"batch {bid}: appended {n} != {BATCH_ROWS}"
          if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
              folded = compact_ann_index(spark, idx, target_files=TARGET_FILES)
              assert folded >= 1, f"batch {bid}: expected a real fold"
              n_folds += 1
              assert max_files(idx) == TARGET_FILES, (
                  f"batch {bid}: post-compaction files {max_files(idx)}"
              )
          if bid in REPLAY_AFTER:
              before = cells(idx)
              n = ivfpq_append_index(spark, df, idx)  # redelivered batch
              assert n == 0, f"replay of batch {bid} appended {n}"
              if COMPACT_EVERY and bid > 0 and bid % COMPACT_EVERY == 0:
                  refold = compact_ann_index(
                      spark, idx, target_files=TARGET_FILES
                  )
                  assert refold == 0, f"replayed compaction folded {refold}"
              assert cells(idx) == before, (
                  f"replay of batch {bid} changed rows"
              )
              n_replays += 1
          if bid == CRASH_SWAP_AFTER:
              # crash inside the delete+rename window of one cell dir
              before = cells(idx)
              victim = _ann_data_dirs(spark, idx)[0]
              vdf = spark.read.parquet(victim)
              stage_snapshot(vdf.repartition(1), victim)
              fs, hp = _hadoop_fs(spark, victim)
              fs.delete(hp, True)
              assert recover_ann_index(spark, idx) == 1, "recovery missed"
              assert cells(idx) == before, (
                  "crash-window recovery changed rows"
              )
          max_between = max(max_between, max_files(idx))

      # between compactions at most cadence-many batch file sets
      # accrete on top of the compacted file (appends may split a
      # batch's cell rows across a couple of files — 2x slack, still
      # far under the twin's unbounded accretion)
      assert max_between <= bound, f"{max_between} > bound {bound}"

      # uncompacted, replay-free twin
      for rows in batches:
          ivfpq_append_index(spark, spark.createDataFrame(rows, schema), idx2)
      twin_max = max_files(idx2)
      assert cells(idx) == cells(idx2), "compacted rows differ from twin"
      assert cells(idx) == cells(oneshot), "streamed index != one-shot build"
      assert search(idx) == search(oneshot) == search(idx2), "search drifted"
      out.update({
          "folds": n_folds, "replays": n_replays, "crash_swaps": 1,
          "max_files_between_folds": max_between,
          "twin_max_files": twin_max,
          "rows_identical_twin_and_oneshot": True,
          "search_identical": True,
          "phase1_wall_sec": round(time.perf_counter() - t0, 1),
      })

    # ------------------------------------------------------------------
    # phase 2: the REAL sink at horizon — the same 50 batches streamed
    # through start_continuous_ann_index (file source, 1 file per
    # micro-batch, inline compact_every) with two mid-stream
    # kill/restarts through the actual checkpoint (an interrupted
    # batch replays on reattach — the genuine foreachBatch redelivery
    # path, not a simulation)
    # ------------------------------------------------------------------
    if phase in ("2", "all"):
      from flink_etl_spark.streaming.ann_sink import (
          start_continuous_ann_index,
      )

      t1 = time.perf_counter()
      idx3, src, ck = f"{root}/sink_idx", f"{root}/src", f"{root}/ck"
      ivfpq_build_index(boot, idx3, n_cells=4, m=8, n_codes=16)
      os.makedirs(src)
      for b, rows in enumerate(batches):
          stage = f"{root}/stage"
          spark.createDataFrame(rows, schema).coalesce(1).write.mode(
              "overwrite"
          ).parquet(stage)
          part = next(
              p for p in os.listdir(stage) if p.endswith(".parquet")
          )
          os.rename(f"{stage}/{part}", f"{src}/b{b:03d}.parquet")

      def attach(available_now: bool):
          stream = (
              spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1)
              .parquet(src)
          )
          return start_continuous_ann_index(
              stream, idx3, ck,
              available_now=available_now, compact_every=COMPACT_EVERY,
          )

      def run_until(q, batch_id: int, deadline_s: float = 300.0) -> int:
          # batchId is GLOBAL across restarts (it lives in the
          # checkpoint), unlike recentProgress which is per-instance
          last = -1
          end = time.monotonic() + deadline_s
          while time.monotonic() < end:
              ids = [p["batchId"] for p in q.recentProgress]
              last = max(ids) if ids else last
              if last >= batch_id:
                  break
              time.sleep(0.5)
          return last

      sink_restarts = 0
      for cut in (17, 34):  # two kills, each mid-cadence or mid-batch
          q = attach(available_now=False)
          assert run_until(q, cut) >= cut, f"stalled before batch {cut}"
          q.stop()  # may interrupt a batch in flight -> real replay next
          q.awaitTermination(60)
          sink_restarts += 1
      q = attach(available_now=True)  # drain the rest
      q.awaitTermination(600)

      assert cells(idx3) == cells(oneshot), (
          "REAL-sink index != one-shot build"
      )
      sink_max_files = max_files(idx3)
      assert sink_max_files <= bound, f"sink files {sink_max_files} > {bound}"
      assert search(idx3) == search(oneshot), "REAL-sink search drifted"
      out["sink_phase"] = {
          "restarts": sink_restarts,
          "final_max_files": sink_max_files,
          "rows_identical_oneshot": True,
          "search_identical": True,
          "wall_sec": round(time.perf_counter() - t1, 1),
      }

    # ------------------------------------------------------------------
    # phase 3: searches CONCURRENT with compaction (the r10 reader
    # contract) — a searcher thread races the real compact_ann_index
    # over a heavily accreted index, plus one instrumented search at
    # the maximally duplicated instant of every swapped directory
    # ------------------------------------------------------------------
    if phase in ("3", "all"):
      import threading

      t2 = time.perf_counter()
      idx4 = f"{root}/conc_idx"
      ivfpq_build_index(boot, idx4, n_cells=4, m=8, n_codes=16)
      for rows in batches[:20]:
          ivfpq_append_index(
              spark, spark.createDataFrame(rows, schema), idx4
          )
      ref = search(idx4)          # quiesced reference
      rows_before = cells(idx4)

      mid_checks = []

      def on_moved(d):
          # the window where the directory holds 2x rows: a real
          # search must still return the quiesced result
          mid_checks.append(search(idx4) == ref)

      stop = threading.Event()
      conc = {"ok": 0, "mismatch": 0, "read_retries": 0,
              "retried_ok": 0, "retried_mismatch": 0}

      def searcher():
          # alternate the two caller shapes the reader contract
          # supports: bare (hand-rolled retry on the documented loud
          # failure) and retry_missing_files=1 (r11 — the in-operator
          # re-plan; its RETRIED result must equal the quiesced ref)
          use_retry = False
          while not stop.is_set():
              use_retry = not use_retry
              if use_retry:
                  attempts = []
                  r = sorted(map(tuple, ivfpq_search_index(
                      spark, idx4, qs, k=5, nprobe=2,
                      retry_missing_files=1,
                      _on_built=lambda a: attempts.append(a),
                  ).collect()))
                  if len(attempts) > 1:  # the race fired and was retried
                      conc[
                          "retried_ok" if r == ref else "retried_mismatch"
                      ] += 1
                  conc["ok" if r == ref else "mismatch"] += 1
                  continue
              try:
                  r = search(idx4)
              except Exception as e:  # noqa: BLE001 - classified below
                  msg = str(e)
                  # the documented LOUD failure class only: an original
                  # deleted after this reader's file listing
                  assert (
                      "FILE_NOT_EXIST" in msg
                      or "FileNotFoundException" in msg
                      or "does not exist" in msg
                  ), f"unexpected concurrent-search failure: {msg[:500]}"
                  conc["read_retries"] += 1
                  continue
              conc["ok" if r == ref else "mismatch"] += 1

      th = threading.Thread(target=searcher, daemon=True)
      th.start()
      folded = compact_ann_index(
          spark, idx4, target_files=TARGET_FILES, on_moved=on_moved
      )
      stop.set()
      th.join(120)
      assert folded >= 1, "phase 3 compaction had nothing to fold"
      assert len(mid_checks) == folded and all(mid_checks), mid_checks
      assert conc["mismatch"] == 0, conc
      assert conc["retried_mismatch"] == 0, conc
      assert conc["ok"] >= 1, conc
      assert cells(idx4) == rows_before, "phase 3 changed the row set"
      assert max_files(idx4) == TARGET_FILES
      out["concurrent_phase"] = {
          "folds": folded,
          "mid_swap_searches_identical": len(mid_checks),
          "concurrent_searches_ok": conc["ok"],
          "concurrent_read_retries": conc["read_retries"],
          "in_operator_retries_ok": conc["retried_ok"],
          "in_operator_retry_mismatches": conc["retried_mismatch"],
          "mismatches": conc["mismatch"],
          "wall_sec": round(time.perf_counter() - t2, 1),
      }

    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
