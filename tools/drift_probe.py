#!/usr/bin/env python
"""Quantizer-drift probe: measure how a frozen-quantizer IVF-PQ index
decays as the appended embedding distribution moves away from the
build-time centroids, and what a rebuild recovers — the operational
half of the `ann_sink.py` "rebuild periodically" caveat
(docs/DEPLOYMENT.md carries the trigger rule derived from the curve).

Setup: base corpus of 10k vectors, dim 16, drawn from 8 Gaussian
clusters (sigma 0.25 around unit-ish centers) — CLUSTERED data, so the
zero-drift recall is meaningful (on structureless synthetics the r8
recall tables showed residual ADC binds recall regardless of routing).
The index builds once on the base corpus (auto cells, m=8, n_codes=32,
rerank=20 at search — the exact rescore removes ADC resolution from the
measurement, isolating ROUTING, which is what drift degrades).

Per drift magnitude d (in cluster-sigma units): a fresh copy of the
base index receives a 1000-vector appended batch drawn from the SAME
clusters with centers moved by d*sigma along fixed per-cluster
directions. Recall@5 of staged search vs exact brute force is measured
on 16 queries drawn from the appended slice (their true neighbors are
mostly other drifted vectors — the case stale centroids mis-route),
plus the routing recall (true-5-NN-in-probed-cells), the appended
slice's cell concentration, and `appended_mean_centroid_sim` — the
production-monitorable drift signal (see `mean_centroid_sim`). At the
worst drift, `ivfpq_rebuild_index(..., cell_refine_iters=3)`
re-derives the quantizers from the union corpus and the same queries
are re-measured — the recovery number (measured: recall 0.30 -> 1.00;
a bare rebuild recovers NOTHING because id-ordered seed picks never
see the late-arriving mode — see docs/SCALING.md "Quantizer drift").

`--flat` runs the FLAT-PQ arm instead: flat PQ has no centroids, so
the similarity monitor cannot apply — its production signal is the
mean ADC reconstruction error of the appended batch against the
frozen codebooks (`pq_recon_error`, baseline recorded in
`_PQ_META.json` at build; `pq_drift_check` compares). Per drift
magnitude the probe reports the error ratio and ADC recall@5
(rerank=1 — exact rescoring would hide the codebook decay that IS
flat PQ's failure mode), deriving the ratio threshold where recall
sags (the `pq_drift_check(rebuild_above=)` default).

Prints one JSON line. Usage: python tools/drift_probe.py [--flat]
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

import pyspark.sql.functions as F  # noqa: E402

from flink_etl_spark.operators.similarity import (  # noqa: E402
    cosine_topk,
    ivf_assign,
    ivfpq_append_index,
    ivfpq_build_index,
    ivfpq_rebuild_index,
    ivfpq_search_index,
    mean_centroid_sim,
    pq_append_index,
    pq_build_index,
    pq_recon_error,
    pq_search_index,
)
from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark.staged import PQ_META  # noqa: E402

DIM = 16
N_BASE = 10_000
N_BATCH = 1_000
N_CLUSTERS = 8
SIGMA = 0.25
K = 5
NPROBE = 2
RERANK = 20
DRIFTS = [0.0, 1.0, 2.0, 4.0, 8.0, 16.0]


def make_clusters(rng: random.Random):
    centers = [
        [rng.uniform(-1, 1) for _ in range(DIM)] for _ in range(N_CLUSTERS)
    ]
    dirs = []
    for _ in range(N_CLUSTERS):
        d = [rng.gauss(0, 1) for _ in range(DIM)]
        nrm = sum(x * x for x in d) ** 0.5
        dirs.append([x / nrm for x in d])
    return centers, dirs


def draw(rng, centers, dirs, n, start_id, drift):
    rows = []
    for i in range(n):
        c = i % N_CLUSTERS
        v = [
            centers[c][d] + drift * SIGMA * dirs[c][d] + rng.gauss(0, SIGMA)
            for d in range(DIM)
        ]
        rows.append((start_id + i, [round(x, 4) for x in v]))
    return rows


def recall(got_df, truth_df) -> float:
    got, truth = {}, {}
    for r in got_df.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in truth_df.collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return round(hits / max(1, sum(len(t) for t in truth.values())), 3)


def routing_recall(spark, idx, qs, truth_df) -> float:
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
    spark = get_spark(app_name="drift-probe")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="drift_probe_")
    rng = random.Random(23)
    centers, dirs = make_clusters(rng)
    schema = "vec_id long, embedding array<float>"
    base_rows = draw(rng, centers, dirs, N_BASE, 0, 0.0)
    base = spark.createDataFrame(base_rows, schema).persist()
    base.count()
    base_idx = f"{root}/base"
    t0 = time.perf_counter()
    ivfpq_build_index(base, base_idx, n_cells="auto", m=8, n_codes=32)
    build_s = round(time.perf_counter() - t0, 1)
    base_cents = spark.read.parquet(f"{base_idx}/centroids").persist()
    baseline_sim = mean_centroid_sim(base, base_cents)

    out = {
        "n_base": N_BASE, "n_batch": N_BATCH, "dim": DIM,
        "clusters": N_CLUSTERS, "sigma": SIGMA, "k": K,
        "nprobe": NPROBE, "rerank": RERANK, "build_sec": build_s,
        "baseline_mean_centroid_sim": baseline_sim,
        "curve": [],
    }
    worst = None
    for d in DRIFTS:
        batch_rows = draw(
            rng, centers, dirs, N_BATCH, 1_000_000 + int(d * 10) * N_BATCH, d
        )
        batch = spark.createDataFrame(batch_rows, schema)
        idx = f"{root}/drift_{d}"
        shutil.copytree(base_idx, idx)
        appended = ivfpq_append_index(spark, batch, idx)
        assert appended == N_BATCH
        union = base.unionByName(batch).persist()
        union.count()
        qs = spark.createDataFrame(batch_rows[:32], schema)
        truth = cosine_topk(union, qs, k=K).persist()
        truth.count()
        res = ivfpq_search_index(
            spark, idx, qs, k=K, nprobe=NPROBE, rerank=RERANK, corpus=union
        )
        # concentration of the APPENDED slice: the fraction of the
        # batch the stale quantizer routed into its single fullest
        # cell — drift's second cost is that it re-creates the skew
        # problem (tools/skew_probe.py) inside a frozen layout
        batch_cells = (
            spark.read.parquet(f"{idx}/cells")
            .filter(F.col("vec_id") >= 1_000_000)
            .groupBy("cell_id").agg(F.count("*").alias("n")).collect()
        )
        conc = max(r["n"] for r in batch_cells) / N_BATCH
        point = {
            "drift_sigma": d,
            "appended_mean_centroid_sim": mean_centroid_sim(
                batch, base_cents
            ),
            "recall_at_5": recall(res, truth),
            "routing_recall_at_5": routing_recall(spark, idx, qs, truth),
            "appended_max_cell_frac": round(conc, 3),
            "appended_cells_used": len(batch_cells),
        }
        out["curve"].append(point)
        worst = (d, union, qs, truth, idx)
        truth.unpersist()

    # recovery: rebuild from the union corpus at the worst drift
    d, union, qs, truth, idx = worst
    truth = cosine_topk(union, qs, k=K).persist()
    truth.count()
    # a bare rebuild does NOT rescue a late-arriving mode: seeds are
    # the smallest ids, and the drifted slice has the LARGEST ids, so
    # fresh seed picks still come entirely from the old distribution —
    # and hot-cell splitting does not trigger either (the mode is
    # SMALL: 9% of the union, so no cell is hot by global fraction;
    # its problem is distance from every centroid, not size). The
    # rebuild knob that moves centroids TOWARD data mass is Lloyd
    # refinement: rebuild with cell_refine_iters.
    rebuilt = f"{root}/rebuilt"
    ivfpq_rebuild_index(
        spark, idx, rebuilt, union, n_cells="auto", cell_refine_iters=3
    )
    res = ivfpq_search_index(
        spark, rebuilt, qs, k=K, nprobe=NPROBE, rerank=RERANK, corpus=union
    )
    rb_cells = (
        spark.read.parquet(f"{rebuilt}/cells")
        .filter(F.col("vec_id") >= 1_000_000)
        .groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    )
    out["rebuild_at_drift"] = d
    out["rebuild_recall_at_5"] = recall(res, truth)
    out["rebuild_routing_recall_at_5"] = routing_recall(
        spark, rebuilt, qs, truth
    )
    out["rebuild_appended_max_cell_frac"] = round(
        max(r["n"] for r in rb_cells) / N_BATCH, 3
    )
    out["rebuild_appended_cells_used"] = len(rb_cells)
    out["rebuild_appended_mean_centroid_sim"] = mean_centroid_sim(
        spark.createDataFrame(
            [r for r in union.collect() if r[0] >= 1_000_000], schema
        ),
        spark.read.parquet(f"{rebuilt}/centroids"),
    )
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


def flat_main() -> None:
    """Flat-PQ decay curve: reconstruction-error ratio vs ADC recall
    under the same drifted-cluster generator as the IVF-PQ arm."""
    spark = get_spark(app_name="drift-probe-flat")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="drift_probe_flat_")
    rng = random.Random(23)
    centers, dirs = make_clusters(rng)
    schema = "vec_id long, embedding array<float>"
    base_rows = draw(rng, centers, dirs, N_BASE, 0, 0.0)
    base = spark.createDataFrame(base_rows, schema).persist()
    base.count()
    base_idx = f"{root}/base_pq"
    t0 = time.perf_counter()
    pq_build_index(base, base_idx, m=8, n_codes=32)
    build_s = round(time.perf_counter() - t0, 1)
    baseline_err = PQ_META.require(spark, base_idx)["mean_recon_err"]

    out = {
        "kind": "pq_flat",
        "n_base": N_BASE, "n_batch": N_BATCH, "dim": DIM,
        "clusters": N_CLUSTERS, "sigma": SIGMA, "k": K,
        "build_sec": build_s,
        "baseline_mean_recon_err": baseline_err,
        "curve": [],
    }
    cbs = spark.read.parquet(f"{base_idx}/codebooks").persist()
    cbs.count()
    for d in DRIFTS:
        batch_rows = draw(
            rng, centers, dirs, N_BATCH, 1_000_000 + int(d * 10) * N_BATCH, d
        )
        batch = spark.createDataFrame(batch_rows, schema)
        idx = f"{root}/drift_{d}"
        shutil.copytree(base_idx, idx)
        appended = pq_append_index(spark, batch, idx)
        assert appended == N_BATCH
        union = base.unionByName(batch).persist()
        union.count()
        qs = spark.createDataFrame(batch_rows[:32], schema)
        truth = cosine_topk(union, qs, k=K).persist()
        truth.count()
        # rerank=1 on purpose: the exact rescore would hide codebook
        # decay, and ADC resolution IS flat PQ's failure mode
        res = pq_search_index(spark, idx, qs, k=K, rerank=1)
        err = pq_recon_error(batch, cbs, 8)
        out["curve"].append({
            "drift_sigma": d,
            "batch_mean_recon_err": err,
            "err_ratio": round(err / baseline_err, 3),
            "adc_recall_at_5": recall(res, truth),
        })
        truth.unpersist()
        union.unpersist()
    print(json.dumps(out))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    if "--flat" in sys.argv[1:]:
        flat_main()
    else:
        main()
