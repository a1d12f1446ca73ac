#!/usr/bin/env python
"""Staged ANN SEARCH scaling ladder: build an IVF-PQ index with
`n_cells="auto"` (~sqrt(n) cells) at sf0.1 and at embedding replicas
(10x, 30x), then measure the SEARCH wall for the fixed 32-query batch
— the build-once/search-many operating mode's actual query-time cost.

Why this is the number that matters at 100 TB: the one-shot bench
entry (`ann_ivfpq_topk`) pays quantizer derivation every run; a
deployed index pays it once. With auto cells the per-query candidate
count is ~nprobe * n / sqrt(n) = nprobe * sqrt(n), so SEARCH should
scale ~n^0.5 while the corpus scales n — this probe verifies the
exponent empirically (exp = log10 of the wall ratio per 10x step,
1.0 = linear).

Prints one JSON line:
    {"points": [{label, n_vectors, n_cells, build_sec,
                 search_sec_best3}, ...],
     "search_exponents": {"1x->10x": e, ...}}

Usage: python tools/ann_search_ladder.py [replicas ...]  (default 10 30)
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark.staged import IVFPQ_META  # noqa: E402
from flink_etl_spark.operators import similarity as S  # noqa: E402
from flink_etl_spark.sources.tables import load_table  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
QUERY_PRED = "vec_id < 32"
M, N_CODES, NPROBE, K = 8, 32, 2, 5


def main() -> None:
    replicas = [int(a) for a in sys.argv[1:]] or [10, 30]
    spark = get_spark(app_name="ann-search-ladder")
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="ann_ladder_")
    from tools.replicate_testdata import build_replica

    points = []
    dirs = {1: SF}
    for r in replicas:
        d = f"{root}/x{r}"
        build_replica(spark, SF, d, r, tables=("embeddings",))
        dirs[r] = d

    qs = load_table(spark, SF, "embeddings").filter(F.expr(QUERY_PRED))
    for r, d in dirs.items():
        embs = load_table(spark, d, "embeddings")
        n = embs.count()
        idx = f"{root}/idx_x{r}"
        t0 = time.perf_counter()
        S.ivfpq_build_index(embs, idx, n_cells="auto", m=M, n_codes=N_CODES,
                            n_vecs=n)
        build = time.perf_counter() - t0
        meta = IVFPQ_META.read(spark, idx)
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            S.ivfpq_search_index(
                spark, idx, qs, k=K, nprobe=NPROBE
            ).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        points.append({
            "label": f"{r}x", "n_vectors": n, "n_cells": meta["n_cells"],
            "build_sec": round(build, 2), "search_sec_best3": round(best, 2),
        })
        print(f"# {r}x: n={n} cells={meta['n_cells']} build={build:.1f}s "
              f"search={best:.2f}s", file=sys.stderr)

    exps = {}
    for a, b in zip(points, points[1:]):
        step = b["n_vectors"] / a["n_vectors"]
        exps[f"{a['label']}->{b['label']}"] = round(
            math.log(b["search_sec_best3"] / a["search_sec_best3"])
            / math.log(step), 2,
        )
    print(json.dumps({"points": points, "search_exponents": exps}))
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
