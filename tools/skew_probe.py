#!/usr/bin/env python
"""IVF cell-skew probe: measure what a skewed embedding distribution
does to the staged IVF-PQ layout, and what `max_cell_frac=` hot-cell
splitting buys back — the measurement behind the r9 skew mitigation
(docs/SCALING.md records the table).

Corpus: N vectors, dim 16 — the first 1000 ids spread ("early" data:
deterministic seed picks come from the smallest ids, so every seed is
a spread vector), then HALF of the remainder in one tight
Gaussian-ish cluster the seed prefix never saw (the realistic skew
case: a dense mode that arrives after the quantizer's seed window —
all of it lands in ONE `cell_id=` partition, so every probe of that
cell scans ~half the corpus). Builds the same corpus twice:

* baseline `ivfpq_build_index(n_cells="auto")` — census + warning
  only;
* split `ivfpq_build_index(max_cell_frac=0.1)` — hot cells replaced
  by hash-scattered member sub-seeds.

For each index: the sidecar's observed max cell fraction, the
byte-weighted expected scan fraction per probe (sum of squared cell
fractions — the probability a query's probe lands in a cell times
that cell's size), wall time of a 16-query hot-cluster search batch
(best of 3), and TWO quality numbers: `routing_recall_at_5` (the
fraction of exact 5-NN living in the query's nprobe probed cells —
the number the coarse quantizer, and hence the split, controls) and
`adc_recall_at_5` (end-to-end, which on tight synthetic clusters is
bound by residual-ADC resolution, not routing — the documented
negative result from r8's recall tables). Prints one JSON line.

Usage: python tools/skew_probe.py [n_vecs]
"""

from __future__ import annotations

import json
import math
import os
import random
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from flink_etl_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivfpq_build_index,
    ivfpq_search_index,
)
from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark.staged import IVFPQ_META  # noqa: E402

DIM = 16
K = 5
NPROBE = 2


def make_corpus(n: int) -> list[tuple[int, list[float]]]:
    rng = random.Random(11)
    rows = []
    for i in range(n):
        if i >= 1000 and i % 2:  # tight cluster, absent from the seed ids
            v = [0.0] * DIM
            v[0] = 10.0
            for d in range(1, DIM):
                v[d] = rng.gauss(0, 0.4)
        else:  # spread
            v = [rng.uniform(-1, 1) for _ in range(DIM)]
        rows.append((i, [round(x, 4) for x in v]))
    return rows


def recall_at_k(spark, got_df, truth_df) -> float:
    got = {}
    for r in got_df.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    truth = {}
    for r in truth_df.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return round(hits / max(1, sum(len(t) for t in truth.values())), 3)


def routing_recall(spark, idx, qs, truth_df) -> float:
    """Fraction of the exact 5-NN whose assigned cell is among the
    query's nprobe probed cells — isolates the coarse quantizer."""
    from flink_etl_spark.operators.similarity import ivf_assign

    cents = spark.read.parquet(f"{idx}/centroids")
    probed = {}
    for r in ivf_assign(qs, cents, NPROBE).collect():
        probed.setdefault(r["vec_id"], set()).add(r["cell_id"])
    cell_of = {
        r["vec_id"]: r["cell_id"]
        for r in spark.read.parquet(f"{idx}/cells")
        .select("vec_id", F.col("cell_id").cast("int").alias("cell_id"))
        .collect()
    }
    pairs = [(r["query_id"], r["neighbor_id"]) for r in truth_df.collect()]
    hits = sum(cell_of.get(nb) in probed.get(q, set()) for q, nb in pairs)
    return round(hits / max(1, len(pairs)), 3)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
    spark = get_spark(app_name="skew-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="skew_probe_")
    rows = make_corpus(n)
    schema = "vec_id long, embedding array<float>"
    embs = spark.createDataFrame(rows, schema).persist()
    embs.count()
    # 16 hot queries drawn FROM the cluster — the case the fat cell hurts
    qs = spark.createDataFrame(
        [r for r in rows if r[0] >= 1000 and r[0] % 2][:16], schema
    ).persist()
    qs.count()
    truth = cosine_topk(embs, qs, k=K).persist()
    truth.count()

    out = {"n_vecs": n, "dim": DIM, "k": K, "nprobe": NPROBE}
    import warnings

    for tag, cells, kwargs in (
        # auto-sized quantizer: the dense mode smears over several cells
        ("auto_baseline", "auto", {}),
        ("auto_split", "auto", {"max_cell_frac": 0.1}),
        # small explicit quantizer: the dense mode lands in ~one cell —
        # the extreme the split exists for
        ("n16_baseline", 16, {}),
        ("n16_split", 16, {"max_cell_frac": 0.1}),
        # r10: the same split driven by a 5% hash-sampled census —
        # the 100 TB arm (full-census splitting costs up to max_rounds
        # FULL assignment scans before the build starts)
        ("n16_split_sampled", 16,
         {"max_cell_frac": 0.1, "census_sample": 0.05}),
    ):
        idx = f"{root}/{tag}"
        t0 = time.perf_counter()
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            ivfpq_build_index(
                embs, idx, n_cells=cells, m=8, n_codes=32, **kwargs
            )
        build_s = time.perf_counter() - t0
        meta = IVFPQ_META.read(spark, idx)
        size_of = {
            r["cell_id"]: r["n"]
            for r in spark.read.parquet(f"{idx}/cells")
            .select(F.col("cell_id").cast("int").alias("cell_id"))
            .groupBy("cell_id").agg(F.count("*").alias("n")).collect()
        }
        tot = sum(size_of.values())
        exp_scan = sum((s / tot) ** 2 for s in size_of.values())
        # what the 16 HOT queries actually scan: mean over queries of
        # (sum of their nprobe probed cells' sizes) / corpus
        from flink_etl_spark.operators.similarity import ivf_assign

        cents_df = spark.read.parquet(f"{idx}/centroids")
        per_q = {}
        for r in ivf_assign(qs, cents_df, NPROBE).collect():
            per_q.setdefault(r["vec_id"], 0)
            per_q[r["vec_id"]] += size_of.get(r["cell_id"], 0)
        hot_scan = sum(per_q.values()) / max(1, len(per_q)) / tot
        best = math.inf
        res = None
        for _ in range(3):
            t0 = time.perf_counter()
            res = ivfpq_search_index(
                spark, idx, qs, k=K, nprobe=NPROBE
            ).persist()
            res.count()
            best = min(best, time.perf_counter() - t0)
        out[tag] = {
            "n_cells": meta["n_cells"],
            "max_cell_frac": meta["max_cell_frac_observed"],
            "expected_scan_frac_per_probe": round(exp_scan, 4),
            "hot_query_scan_frac": round(hot_scan, 4),
            "build_sec": round(build_s, 2),
            "hot_search_sec_best3": round(best, 3),
            "routing_recall_at_5": routing_recall(spark, idx, qs, truth),
            "adc_recall_at_5": recall_at_k(spark, res, truth),
        }
        res.unpersist()
    # r10 sampled-census agreement: the hot set a 5% hash sample finds
    # on the BASELINE quantizer must be the hot set the full census
    # finds, at a fraction of the scan (the split arms above then show
    # the sampled split reaches the same final skew bound)
    from flink_etl_spark.operators.similarity import cell_census, ivf_assign

    cents16 = spark.read.parquet(f"{root}/n16_baseline/centroids")

    def census(df):
        t0 = time.perf_counter()
        c = cell_census(ivf_assign(df, cents16, 1))
        return c, time.perf_counter() - t0

    full, full_s = census(embs)
    sample_frame = embs.filter(
        F.pmod(F.xxhash64("vec_id"), F.lit(1_000_000)) < F.lit(50_000)
    )
    samp, samp_s = census(sample_frame)

    def hot(c):
        tot = sum(x for _, x in c)
        return sorted(cid for cid, x in c if x > 0.1 * tot)

    out["sampled_census"] = {
        "sample": 0.05,
        "sampled_rows": sample_frame.count(),
        "hot_set_full": hot(full),
        "hot_set_sampled": hot(samp),
        "hot_set_identical": hot(full) == hot(samp),
        "full_census_sec": round(full_s, 2),
        "sampled_census_sec": round(samp_s, 2),
    }
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
