#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": 0.1}

Each query is forced through the `noop` sink — full plan execution
(scan -> shuffle -> agg/join/window) without materializing results to
the driver, so timings measure the engine, not collect().

INTERPRETING ROUND-OVER-ROUND NUMBERS: this box's measured noise is
±9% same-day and up to ~1.7x cross-day (see "Interpreting BENCH_rN"
in BASELINE.md). A BENCH_r{N} vs BENCH_r{N-1} delta inside those
bands means nothing; adjudicate regressions ONLY with an interleaved
same-session A/B (`tools/bench_ab.py`, raw r6-vs-r8 artifact at
docs/BENCH_AB_r8.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark import queries as Q  # noqa: E402
from flink_etl_spark.sources.tables import load_table  # noqa: E402


def _bench_minhash(spark, sf_dir):
    """Primary (one-shot) MinHash+LSH dedup — the same work benched in
    r1/r2. The catalog gate now unions the incremental variant in for
    correctness-gate coverage, which would double the benched work and
    break round-over-round comparability."""
    from flink_etl_spark.operators.dedup import minhash_near_dups

    # no wrapper: minhash_near_dups spreads an under-split input itself
    # (in-memory and staged arms alike)
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dups(docs, threshold=0.8, n_hashes=16, bands=8)


def _bench_minhash_staged(spark, sf_dir):
    """Staged-profile MinHash+LSH — the 100 TB operating mode (profile
    materialized to parquet once, all four consumers read the columnar
    scan). Promoted from stress-probe-only to a tracked headline entry;
    a fresh staging dir per call keeps runs cold."""
    import atexit
    import shutil
    import tempfile

    from flink_etl_spark.operators.dedup import minhash_near_dups

    docs = load_table(spark, sf_dir, "documents")
    staged = tempfile.mkdtemp(prefix="bench_mh_staged_")
    atexit.register(shutil.rmtree, staged, ignore_errors=True)
    return minhash_near_dups(docs, threshold=0.8, n_hashes=16, bands=8,
                             staged_path=f"{staged}/profile")


def _bench_ivf(spark, sf_dir):
    """Primary (in-memory) IVF ANN — same r1/r2 comparability argument;
    the gate also runs the staged-index variant."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.similarity import ivf_topk

    embs = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(embs, embs.filter(F.expr("vec_id < 32")), k=5, n_cells=8, nprobe=2)


def _bench_repetition(spark, sf_dir):
    """Gopher repetition stats (r4 prep family) — benched on the raw
    operator; tracked from r4 on (not in comparable_11)."""
    from flink_etl_spark.operators.prep import repetition_stats

    return repetition_stats(load_table(spark, sf_dir, "documents"))


def _bench_decontam(spark, sf_dir):
    """Benchmark decontamination (r4 prep family): doc_id % 97 slice as
    the eval set, 3-gram overlap; tracked from r4 on (not in
    comparable_11)."""
    from flink_etl_spark.operators.prep import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter("doc_id % 97 != 0"), docs.filter("doc_id % 97 = 0"), n=3
    )


def _bench_semdedup(spark, sf_dir):
    """SemDeDup cluster-then-dedup keeper set (r4): within-cell pairs +
    duel-based drop, AUTO quantizer (r5, the production default): the
    measured ~8k-vector crossover picks flat below (sf0.1's 2k vectors
    — two_level's extra persist/windows cost ~20% there) and the
    hierarchical O(n^(4/3)) two-level arm above (10x replica: ~28%
    faster, gap widening with n). Tracked from r4 on (not in
    comparable_11)."""
    from flink_etl_spark.operators.dedup import semdedup

    embs = load_table(spark, sf_dir, "embeddings")
    return semdedup(embs, threshold=0.35, n_cells="auto", quantizer="auto")


def _bench_span_dedup(spark, sf_dir):
    """C4-style global span dedup (r5 prep family): 20-token windows,
    digest-keyed narrow shuffle + broadcast drop-list rebuild; tracked
    from r5 on (not in comparable_11)."""
    from flink_etl_spark.operators.prep import span_dedup

    return span_dedup(
        load_table(spark, sf_dir, "documents"), span_tokens=20, scope="global"
    )


def _bench_substring_dedup(spark, sf_dir):
    """Lee et al. 2022 offset-robust exact substring dedup (r6 prep
    family): stride-1 50-token anchors on packed-fold 8-byte keys,
    min-struct first occurrence, coverage rebuild — benched on the
    EXACT arm (winnow sampling only gets cheaper). The operator spreads
    the single-row-group bench input over every core itself (inert at
    scale); tracked from r6 on (not in comparable_11)."""
    from flink_etl_spark.operators.prep import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, min_tokens=50, key="hash64")


def _bench_unigram_lm(spark, sf_dir):
    """CCNet-style self-fit unigram-LM scoring (r5 text family):
    xxhash64 term-id vocab broadcast join, per-doc aggregate; tracked
    from r5 on (not in comparable_11)."""
    from flink_etl_spark.operators.text import unigram_lm_scores

    return unigram_lm_scores(load_table(spark, sf_dir, "documents"))


def _bench_fp_candidates(spark, sf_dir):
    """MOSS fingerprint pair census (r7): winnowing selection +
    8-byte-key posting lists, max_df as a posting-list size cap. The
    operator spreads the single-row-group bench input over every core
    itself (inert at scale)."""
    from flink_etl_spark.operators.prep import fingerprint_candidates

    return fingerprint_candidates(
        load_table(spark, sf_dir, "documents"), min_tokens=50, winnow=8, max_df=64
    )


def _bench_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (r8): the composed coarse-cell + residual-PQ layout,
    benched one-shot (ivfpq_topk: centroid derivation + residual
    encode + per-cell ADC in one job — the build+search cost an index
    refresh pays). Same params as the gate's 'ivfpq' arm; tracked from
    r8 on (not in comparable_11)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.similarity import ivfpq_topk

    embs = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        embs, embs.filter(F.expr("vec_id < 32")),
        k=5, n_cells=8, nprobe=2, m=8, n_codes=16,
    )


def _bench_bm25(spark, sf_dir):
    """Okapi BM25 retrieval (r8): top-10 docs for the gate's 4
    corpus-derived keyword queries; tracked from r8 on (not in
    comparable_11)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    queries = docs.filter("doc_id < 4").select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " +"), 1, 5), " "
        ).alias("query_text"),
    )
    return bm25_topk(docs, queries, k=10)


def _bench_pipeline(spark, sf_dir):
    """r1-r3-comparable pipeline work: the catalog gate grew a
    'split_summary' union arm in r4 (per-source cap + hash split);
    benching the full gate would overstate the round delta. The
    literal variant filter prunes the new union branch entirely
    (PushProjectionThroughUnion + PruneFilters), so the measured plan
    is identical to r3's."""
    return Q.queries()["pipeline_training_prep"](spark, sf_dir).filter(
        "variant = 'keepers'"
    )


def _bench_dsir_bucketed(spark, sf_dir):
    """DSIR selection through the r10 FIXED-BUCKET feature space
    (n_buckets=10000, the paper's own hashed vocabulary): the
    production arm at 100 TB — per-bucket log ratios pack into one
    broadcast row and per-doc scoring is a zero-shuffle row-local
    fold, vs the exact-id arm's corpus-token-scale feature-key joins
    (dsir_probe [retired; in git history]: 1.6x faster at 10x, exp
    0.11 vs 0.33).
    Tracked from r10 on (not in comparable_11)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import (
        dsir_log_weights,
        dsir_select_n,
    )

    docs = load_table(spark, sf_dir, "documents")
    dw = dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
        n_buckets=10_000,
    ).join(docs.select("doc_id", "source"), "doc_id")
    return dsir_select_n(dw, n=256, salt=0, group_cols=("source",))


def _bench_dsir(spark, sf_dir):
    """DSIR data selection (r9): importance weights of the odd-doc_id
    half against the even half as target (hashed unigram+bigram
    features, production xxhash64 ids) + per-source Gumbel-top-256
    selection — the full select pipeline, tracked from r9 on (not in
    comparable_11)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import (
        dsir_log_weights,
        dsir_select_n,
    )

    docs = load_table(spark, sf_dir, "documents")
    dw = dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
    ).join(docs.select("doc_id", "source"), "doc_id")
    return dsir_select_n(dw, n=256, salt=0, group_cols=("source",))


def _bench_semantic_decontam(spark, sf_dir):
    """Semantic benchmark decontamination (r11): embeddings with
    vec_id % 7 == 0 play the eval benchmark, the rest the training
    corpus; sign-LSH method at a realistic near-dup threshold — the
    corpus side computes its bucket in a row-local fold against one
    packed broadcast plane row and broadcast-joins the benchmark's
    probe postings, so the CORPUS NEVER SHUFFLES (plan-pinned).
    Tracked from r11 on (not in comparable_11)."""
    from flink_etl_spark.operators.dedup import semantic_decontaminate

    embs = load_table(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        embs.filter("vec_id % 7 != 0"),
        embs.filter("vec_id % 7 = 0"),
        threshold=0.8,
        method="signlsh",
        n_planes=8,
        n_probe=2,
        max_bench_rows=None,
    )


def _bench_nb_classifier(spark, sf_dir):
    """Supervised hashed-n-gram Naive Bayes quality classifier (r11):
    fit on the even-doc_id half labeled (lang = 'en'), score the odd
    half — production knobs (xxhash64 buckets, the DSIR paper's 10k
    vocabulary). Fit is one counting pass over the labeled half;
    scoring is the zero-shuffle packed-broadcast fold. Tracked from
    r11 on (not in comparable_11)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import nb_classifier_scores

    docs = load_table(spark, sf_dir, "documents")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "label", F.expr("lang = 'en'")
    )
    return nb_classifier_scores(
        docs.filter(F.col("doc_id") % 2 == 1), labeled, n_buckets=10_000
    )


def _bench_bpe_fit(spark, sf_dir):
    """Distributed BPE tokenizer vocabulary training (r12, Sennrich et
    al. 2016): 16 merge rounds over the corpus's distinct pre-token
    count table — the corpus is tokenized and aggregated ONCE, then
    every round exchanges only (symbol-pair, count) rows plus a 1-row
    argmax driver fetch. The fit loop is eager, so the timed section
    IS the fit; the returned merge table is vocabulary-sized. Tracked
    from r12 on (not in comparable_11)."""
    from flink_etl_spark.operators.text import bpe_fit

    docs = load_table(spark, sf_dir, "documents")
    return bpe_fit(docs, 16)


def _bench_phash_pairs(spark, sf_dir):
    """Perceptual-hash media near-dup pairs (r12): aHash every payload
    (pure-JVM 64-span byte pooling, zero shuffle) and run the banded
    Hamming pigeonhole join at max_hamming=8 — the multimodal column's
    entry into the dedup family. The hash projection is zero-exchange,
    so the operator spreads the single-row-group bench input over every
    core itself (measured 5.9 -> 1.1 s in r14; inert at scale). Tracked
    from r12 on (not in comparable_11)."""
    from flink_etl_spark.operators.multimodal import (
        make_media_table,
        media_phash_near_dups,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = make_media_table(docs).select("media_id", "payload")
    return media_phash_near_dups(media, max_hamming=8)


def _bench_doc_profile(spark, sf_dir):
    """The text_doc_profile gate body (one-pass profile, drop text).
    r15 DROPS the r14 scan rescue here: the builder's warm probe said
    1.1 -> 0.8 s, but the driver's cold ground truth said the opposite
    (0.802 -> 1.296 s, and the 8-core run beat 32-core at 0.83 s) —
    on a cold JVM the added 32-way exchange costs more than the serial
    scan it rescues for this single cheap projection (VERDICT r14,
    "Next round" item 1a). Back to the plain scan = the r13 shape."""
    from flink_etl_spark.operators.text import doc_profile

    docs = load_table(spark, sf_dir, "documents")
    return doc_profile(docs).drop("text")


#: headline set — one per operator family (CDC, ingest, agg, join,
#: temporal join, window, near-dup, ANN, text, composite pipeline).
#: `text_doc_profile` replaces r2's `text_quality_score` (the quality
#: gate folded into the one-scan profile operator in r3); entries may
#: be callables when the catalog gate now carries extra gate-coverage
#: variants that would skew comparability with earlier rounds.
HEADLINE = [
    "cdc_merge_day",
    "canal_ingest_flatten",
    "agg_pricing_summary",
    "join_multiway_region_revenue",
    "asof_join_purchase_click",
    "window_topk_orders_per_customer",
    ("dedup_minhash_lsh", _bench_minhash),
    ("dedup_minhash_lsh_staged", _bench_minhash_staged),
    "knn_bruteforce_cosine",
    ("ann_ivf_topk", _bench_ivf),
    ("text_doc_profile", _bench_doc_profile),
    ("pipeline_training_prep", _bench_pipeline),
    ("text_repetition_stats", _bench_repetition),
    ("decontaminate_ngrams", _bench_decontam),
    ("semdedup_keepers", _bench_semdedup),
    ("span_dedup_global", _bench_span_dedup),
    ("substring_dedup_exact", _bench_substring_dedup),
    ("unigram_lm_scores", _bench_unigram_lm),
    ("fingerprint_candidates", _bench_fp_candidates),
    ("ann_ivfpq_topk", _bench_ivfpq),
    ("bm25_topk", _bench_bm25),
    ("dsir_select", _bench_dsir),
    ("dsir_select_bucketed", _bench_dsir_bucketed),
    ("semantic_decontam", _bench_semantic_decontam),
    ("nb_classifier", _bench_nb_classifier),
    ("bpe_fit", _bench_bpe_fit),
    ("media_phash_pairs", _bench_phash_pairs),
]

#: entries added after r3 — excluded from the r1-r3-comparable total
NON_COMPARABLE = {
    "dedup_minhash_lsh_staged",
    "text_repetition_stats",
    "decontaminate_ngrams",
    "semdedup_keepers",
    "span_dedup_global",
    "substring_dedup_exact",
    "unigram_lm_scores",
    "fingerprint_candidates",
    "ann_ivfpq_topk",
    "bm25_topk",
    "dsir_select",
    "dsir_select_bucketed",
    "semantic_decontam",
    "nb_classifier",
    "bpe_fit",
    "media_phash_pairs",
}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark(app_name="flink-etl-spark-bench")
    catalog = Q.queries()

    # warm the JVM/codegen path so per-query timings exclude session
    # spin-up. r15 REMOVES r14's extra Python-worker warm-up step
    # (warm_python_workers, a no-op mapInPandas): the driver's cold
    # ground truth showed 17/27 entries regressed in r14 while the
    # builder's warm A/Bs improved, and the resident per-core workers
    # (+numpy/pandas each) were one of two plausible systemic suspects
    # (VERDICT r14 §"what's wrong" #1). Best-of-2 already absorbs the
    # one-time worker fork for the two entries with Arrow stages (run
    # 1 forks, run 2 is warm), so removal costs reported timings
    # nothing and returns the harness to the r13 methodology.
    catalog["agg_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite").save()

    # best of two runs per query: the second run re-executes the full
    # plan (noop sink, nothing cached) but sheds scheduler/JIT jitter,
    # which at this scale factor otherwise swamps real regressions
    timings: dict[str, float] = {}
    for entry in HEADLINE:
        name, fn = entry if isinstance(entry, tuple) else (entry, catalog[entry])
        best = float("inf")
        for _ in range(2):
            # cold cache every run: operators that persist intermediates
            # (e.g. the minhash profile) must not get credit for a warm
            # cache left by the previous run
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # `value` totals every headline entry; `comparable_11_total_sec`
    # restates the r1-r3 11-entry set so round-over-round deltas stay
    # one-glance comparable after the staged minhash entry was added
    result = {
        "metric": "headline_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "comparable_11_total_sec": round(
            sum(t for q, t in timings.items() if q not in NON_COMPARABLE),
            3,
        ),
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
