#!/usr/bin/env python
"""Regenerate docs/PLANS.md: the physical plan of every headline query
with scale commentary — the artifact that shows each plan is the one
we WANT at 100 TB, not just the first one that passed.

Usage: python tools/dump_plans.py  (writes docs/PLANS.md)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_etl_spark.session import get_spark  # noqa: E402
from flink_etl_spark import queries as Q  # noqa: E402
from bench import HEADLINE  # noqa: E402

#: why each headline plan is the right shape at scale
COMMENTARY: dict[str, str] = {
    "dedup_minhash_lsh_staged": (
        "Same logical pipeline as dedup_minhash_lsh, but every consumer "
        "reads the parquet-staged profile (one tokenization pass "
        "materialized once) — the Scan parquet leaves below are the "
        "staged profile, column-pruned per consumer, not re-derivations "
        "of `documents`. This is the build-once/reuse-across-runs 100 TB "
        "operating mode."
    ),
    "semdedup_keepers": (
        "Cluster-then-dedup: TakeOrderedAndProject picks the centroid "
        "seeds (window-free), the centroid table broadcasts for the "
        "assignment sweep, and the InMemoryRelation is the persisted "
        "one-row-per-vector assignment feeding BOTH sides of the "
        "within-cell self-join plus the keeper anti-join (Spark would "
        "otherwise run the n*k sweep three times). The only corpus-sized "
        "exchange is the by-cell shuffle for the pair join — pair work "
        "is bounded by the flat-quantizer optimum the auto knob derives."
    ),
    "cdc_merge_day": (
        "Full-outer merge cannot broadcast; sort-merge join is correct. "
        "WindowGroupLimit appears TWICE (partial below the exchange, "
        "final above): the delta is compacted to per-key top-1 on the "
        "map side, so the shuffle carries survivors, not history. AQE "
        "can reuse the hash-by-id partitioning between window and join."
    ),
    "canal_ingest_flatten": (
        "Single whole-stage-codegen pipeline: scan -> from_json -> "
        "filter -> explode -> project, zero exchanges. Ingest is "
        "embarrassingly parallel; at 100 TB the only knob is input "
        "split size (maxPartitionBytes)."
    ),
    "agg_pricing_summary": (
        "Partial HashAggregate before the exchange (map-side combine): "
        "the shuffle carries one row per (flag, status) per task. "
        "Pushed l_shipdate filter + 7-column ReadSchema on a 16-column "
        "table — scan does the pruning."
    ),
    "join_multiway_region_revenue": (
        "Every dimension (region, nation, customer, orders-window) "
        "broadcasts; the lineitem fact table NEVER shuffles for joins — "
        "one exchange total, for the final group-by. This is the shape "
        "that survives a 1000-executor fact table."
    ),
    "asof_join_purchase_click": (
        "The as-of join is ONE exchange + sort + window over the "
        "union-markered stream — cost identical to a single window "
        "function. A range-join formulation would explode per-key "
        "candidates and re-argmax; this shape is linear in input."
    ),
    "window_topk_orders_per_customer": (
        "Rank-filter compiles to WindowGroupLimit (partial + final): "
        "per-customer top-k is taken before AND after the exchange, so "
        "the shuffle moves k rows per key maximum."
    ),
    "dedup_minhash_lsh": (
        "The sketch is ZERO-shuffle (distinct shingle set + all 16 "
        "signatures as array expressions — no posting explode, no "
        "groupBy); set sizes ride through the band self-join so no "
        "re-aggregation joins exist, and the one real shuffle is the "
        "band bucket join. The profile is a lazy anchor: the two band "
        "self-join sides and both verification sides read ONE Scan "
        "ExistingRDD leaf, so the sketch (and the round-robin spread "
        "of an under-split input) is planned and run once, by the "
        "first job that consumes it, and appears in no tree below; "
        "hence no parquet scan here. Term hash defaults to native "
        "xxhash64 (one JVM call per shingle). At true corpus scale "
        "pass staged_path= "
        "to materialize the profile parquet once (the gate's "
        "incremental variant and the bench's _staged entry run that "
        "mode). Candidate verification touches candidates only, never "
        "the full pair space."
    ),
    "knn_bruteforce_cosine": (
        "Query set broadcasts (BroadcastNestedLoopJoin); the corpus "
        "never shuffles — each partition scores its slice and "
        "WindowGroupLimit keeps k rows per query before the exchange. "
        "Exactness baseline; the bucketed paths below are the scale "
        "route."
    ),
    "ann_ivf_topk": (
        "Vectors + norms ride through cell assignment, so scoring never "
        "joins back to the corpus: one scan per side plus two cheap "
        "top-8 centroid derivations. Per-query work is "
        "|corpus|/cells * nprobe; at scale, write the assigned corpus "
        "bucketed by cell_id once and reuse across query batches."
    ),
    "text_doc_profile": (
        "Pure column expressions (higher-order functions) in one "
        "codegen stage; tokenization happens once in a projected column "
        "and EVERY per-doc signal (token stats, lang-ID, quality, "
        "fingerprint) derives from it — one scan for the whole profile."
    ),
    "pipeline_training_prep": (
        "The whole prep pipeline (profile -> quality+lang filter -> "
        "exact dedup -> keeper join) is TWO scans and one groupBy "
        "shuffle; the deduped survivor set broadcasts back onto the "
        "profile. The dedup exchange is keyed on a map-side "
        "sha2(text, 256) digest — 64-byte shuffle keys, text pruned "
        "before the exchange (plan-asserted in tests/test_plans.py). "
        "Every text signal comes off a single tokenization "
        "(doc_profile)."
    ),
    "text_repetition_stats": (
        "One tokenization scan; row-local stats ride the explode_outer "
        "as grouping keys (no join back to a second tokenizer "
        "evaluation). The 2+3-gram counts are ONE groupBy with map-side "
        "partial counts — the shuffle carries (id, ints, gram), never "
        "document text — followed by a per-doc conditional aggregate "
        "on the same keys (AQE reuses the partitioning)."
    ),
    "span_dedup_global": (
        "Narrow first-occurrence dedup: the span digest exchange "
        "carries (sha256, id, pos) triples only — span TEXT never "
        "crosses an exchange (plan-asserted) — and first occurrence is "
        "a partial-combining min-STRUCT aggregate, deliberately not a "
        "window, so a boilerplate span repeated billions of times "
        "map-side-combines instead of funneling through one reducer. "
        "Drop-lists join back broadcast-side; the rebuild is row-local."
    ),
    "substring_dedup_exact": (
        "Offset-robust Lee-et-al substring dedup: one anchor per token "
        "position, anchor keys are two staged-doubling polynomial "
        "folds over salted xxhash64 token streams packed into one "
        "bigint — 8-byte exchange keys, no anchor strings ever "
        "materialized, O(log k) array passes per row. Same skew-proof "
        "min-struct first-occurrence + broadcast drop-list shape as "
        "span_dedup; the exchange is ~1 triple per corpus token, the "
        "honest price of offset exactness (winnow= sampling divides it "
        "by ~(w+1)/2 with the detection guarantee intact)."
    ),
    "unigram_lm_scores": (
        "CCNet-style LM scoring: the self-fit tf table is persisted "
        "(corpus tokenizes once) and BROADCAST back onto the token "
        "stream — 8-byte xxhash64 term ids as join keys, token strings "
        "never leave the scan. The only corpus-sized exchange is the "
        "4-numeric-column per-doc aggregate."
    ),
    "bm25_topk": (
        "Lexical retrieval: ONE tokenization scan feeds tf, doc-length, "
        "and df (all map-side-combined aggregates); the query term set "
        "and the 1-row (N, avgdl) statistics broadcast onto the tf "
        "table, so the corpus never joins itself and the only "
        "corpus-sized exchanges are the (doc, term) tf count and the "
        "per-(query, doc) score sum. Per-term weights are floored to "
        "micro-integers before that sum — order-independent integer "
        "aggregation is what makes the score exactly reproducible "
        "across engines and retries."
    ),
    "ann_ivfpq_topk": (
        "Composed IVF-PQ, one-shot: TakeOrderedAndProject seed picks "
        "for cells and residual codebooks (window-free), every "
        "centroid/codebook table broadcasts (1-row packed form for "
        "the encode argmin), and the corpus is scanned once for "
        "assignment+encode with the candidate join keyed cell-equi "
        "against the broadcast query distance tables. No corpus-sized "
        "exchange carries floats — codes are m tinyints. The staged "
        "form (ivfpq_build_index) turns the cell-equi join into a "
        "partition-pruned read of probed cell_id= directories of "
        "byte codes; this entry benches the build+search refresh "
        "cost."
    ),
    "fingerprint_candidates": (
        "MOSS-style pair census: winnowing fingerprint selection is "
        "entirely row-local (sliding window-min over rolling-hash "
        "structs — no exchange sees text), the distinct and the "
        "inverted self-join are keyed on the packed 8-byte fingerprint "
        "hash, and the max_df hot-set cap is computed once and joined "
        "back as a BROADCAST anti-join so boilerplate fingerprints "
        "never enter the pair space. The exchanges carry (hash64, "
        "doc_id) pairs — the same narrow-key discipline as "
        "substring_dedup; pair volume is bounded by max_df^2 per "
        "fingerprint."
    ),
    "decontaminate_ngrams": (
        "The benchmark side (eval suites: MBs) is distinct-ed and "
        "BROADCAST, so the corpus side never shuffles for the "
        "membership join — scan -> explode -> BroadcastHashJoin, then "
        "one per-doc aggregate. At 100 TB this is a free rider on a "
        "corpus scan; only matching (id, gram) pairs plus one row per "
        "doc enter the aggregate's exchange."
    ),
    "dsir_select": (
        "DSIR exact-id arm: both corpora explode once to 64-bit "
        "feature ids; the scored stream LEFT-joins the two "
        "count tables on the feature key (hash exchanges carry "
        "(xxhash64, count) pairs, never text — plan-pinned) and the "
        "V/N totals arrive as a 1-row broadcast "
        "(BroadcastNestedLoopJoin). The per-doc aggregate and the "
        "per-source Gumbel-top-256 compile to partial-agg + "
        "WindowGroupLimit. The feature-key joins are corpus-token-"
        "scale — the documented cost the bucketed entry below "
        "removes; keep this arm where selections must replay against "
        "an unhashed oracle."
    ),
    "dsir_select_bucketed": (
        "DSIR fixed-bucket arm (n_buckets=10k, the paper's hashed "
        "feature space): the fit counts aggregate to <= B rows per "
        "side, pack into ONE broadcast row of two B-length arrays, "
        "and per-doc scoring is a row-local fold over the document's "
        "own feature array — the scored corpus never explodes and "
        "never joins (no SortMergeJoin, no doc_id- or feature-keyed "
        "exchange; plan-pinned). The only corpus-sized work is the "
        "scan itself. This is the 100 TB production arm "
        "(dsir_probe [retired; in git history]: 1.6x faster at 10x, "
        "exponent 0.11 vs 0.33, Spearman 0.984 weight agreement vs exact ids)."
    ),
    "semantic_decontam": (
        "Embedding-space benchmark decontamination (r11): the corpus "
        "scan computes its sign-LSH bucket in a row-local fold over "
        "ONE packed broadcast plane row, broadcast-joins the "
        "benchmark's probe postings, verifies cosine on candidates "
        "only, and anti-joins the broadcast flagged-id set — the "
        "corpus path has ZERO exchanges (every Exchange in this tree "
        "is a benchmark-side plane/probe/flag aggregation; "
        "plan-pinned, and measured byte-exact flat across a 30x "
        "corpus step in decontam_probe [retired; in git history]). "
        "The benchmark is the bounded side by definition — eval suites do not grow "
        "with the crawl."
    ),
    "nb_classifier": (
        "Supervised hashed-n-gram Naive Bayes quality classifier "
        "(r11): the fit explodes only the LABELED corpus (two <= "
        "B-row count aggregations + a 1-row prior aggregate), packs "
        "log-odds into one broadcast row, and the scored corpus "
        "folds its own feature array row-locally — same zero-shuffle "
        "scoring contract as the bucketed DSIR arm it reuses "
        "(plan-pinned: no SortMergeJoin, no doc_id/text-keyed "
        "exchange, the scored corpus never explodes)."
    ),
}


def main() -> None:
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs", "PLANS.md",
    )
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    spark = get_spark(app_name="dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    cat = Q.queries()
    sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    sections = [
        "# Physical plans of the headline queries\n",
        "Generated by `python tools/dump_plans.py` against "
        f"`{sf}`. For each query: the plan tree Catalyst+AQE produces "
        "and why that shape is the one we want at 100 TB.\n",
    ]
    for entry in HEADLINE:
        name, fn = entry if isinstance(entry, tuple) else (entry, cat[entry])
        df = fn(spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        lines = plan.splitlines()
        tree_end = next(
            (i for i, line in enumerate(lines) if not line.strip()), len(lines)
        )
        tree = "\n".join(lines[:tree_end])
        n_scans = sum(1 for line in lines[:tree_end] if "Scan parquet" in line)
        n_exch = sum(
            1 for line in lines[:tree_end]
            if "- Exchange" in line or "- BroadcastExchange" in line
        )
        sections.append(f"\n## {name}\n")
        sections.append(f"*{COMMENTARY.get(name, '')}*\n")
        sections.append(
            f"Parquet scans: **{n_scans}** · exchanges in tree: **{n_exch}**\n"
        )
        sections.append(f"```\n{tree}\n```\n")
    with open(out_path, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
