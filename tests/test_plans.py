"""Plan-shape regression tests: the physical plans the scale story
rests on, asserted so a refactor cannot silently trade them away.

Each test pins ONE claim docs/PLANS.md makes about a headline query —
broadcast placement, WindowGroupLimit, pushed filters, column pruning,
codegen. These are the properties that decide whether the same code
survives a 1000-executor 100 TB run, independent of wall-clock at toy
scale factors."""

from __future__ import annotations

import uuid

import pyspark.sql.functions as F
import pytest

from flink_etl_spark import queries as Q

SF = "/root/testdata/sf0.01"


def _executed(df) -> str:
    # AQE finalizes lazily — force execution so the adaptive plan is final
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_star_join_broadcasts_dims_never_shuffles_fact(spark):
    """join_broadcast_star: both dimension tables broadcast; the fact
    table must reach the aggregation without a join-induced shuffle
    (the only exchange is the final groupBy)."""
    plan = _executed(Q.queries()["join_broadcast_star"](spark, SF))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # exactly one hash-partitioning exchange: the aggregation
    assert plan.count("Exchange hashpartitioning") == 1


def test_multiway_join_broadcasts_all_dims(spark):
    """TPC-H Q5 shape, most-selective-first order: at bench SF the
    planner broadcasts every join side WITHOUT hints on the
    data-proportional intermediates (only nation/region are hinted) —
    4 BroadcastHashJoin, and lineitem never sort-merge-joins
    anything. A hint on c_asia/oc would pin a broadcast that cannot
    be demoted at 100 TB; this asserts the hint-free plan still
    gets there on size stats alone."""
    plan = _executed(Q.queries()["join_multiway_region_revenue"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("SortMergeJoin") == 0


def test_multiway_join_dims_stay_broadcast_past_the_transition(spark):
    """The 10x replica crosses the broadcast threshold: the
    data-proportional intermediates (orders-side, customer-side)
    correctly degrade to shuffle joins (docs/SCALING.md records the
    one-time byte-ratio jump). The genuinely-bounded dims must NOT
    degrade with them — their EXPLICIT hints are what pins them. This
    simulates the transition at test SF by disabling size-based
    broadcasting entirely (threshold -1, AQE's too): the two hinted
    dims must still broadcast while the un-hinted sides shuffle."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = _executed(Q.queries()["join_multiway_region_revenue"](spark, SF))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # nation + region hints survive the threshold change...
    assert plan.count("BroadcastHashJoin") == 2
    # ...and the data-proportional sides degrade to shuffle joins
    # (graceful at 100 TB) instead of riding an un-demotable hint
    assert plan.count("SortMergeJoin") == 2


def test_window_topk_compiles_to_window_group_limit(spark):
    """The rank<=3 filter must push a per-group limit BELOW the window
    sort (partial + final WindowGroupLimit) so the shuffle carries at
    most k rows per key, not the table."""
    plan = _executed(Q.queries()["window_topk_orders_per_customer"](spark, SF))
    assert plan.count("WindowGroupLimit") >= 2  # partial + final


def test_cdc_merge_day_compacts_delta_before_join(spark):
    """The daily merge's latest-per-key dedup must also compile to
    WindowGroupLimit — the delta is compacted map-side, so the join
    shuffle carries survivors, not change history."""
    plan = _executed(Q.queries()["cdc_merge_day"](spark, SF))
    assert "WindowGroupLimit" in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_pricing_summary_prunes_columns_and_pushes_filter(spark):
    """TPC-H Q1 shape: the parquet scan must push the shipdate predicate
    and read only the 7 needed columns of the 16-column table."""
    plan = _executed(Q.queries()["agg_pricing_summary"](spark, SF))
    scan = next(line for line in plan.splitlines() if "FileScan parquet" in line)
    assert "PushedFilters" in scan and "l_shipdate" in scan.split("PushedFilters")[1]
    # the scan's output list (ReadSchema renders truncated; the bracket
    # list doesn't) must hold exactly the 7 needed columns
    cols = scan.split("FileScan parquet [")[1].split("]")[0]
    for col in ("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
                "l_discount", "l_tax", "l_shipdate"):
        assert col in cols
    assert "l_comment" not in cols and "l_orderkey" not in cols
    # partial aggregation before the exchange (map-side combine)
    assert plan.index("HashAggregate") < plan.index("Exchange")


def test_order_limit_is_take_ordered_not_global_sort(spark):
    """Global ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition heaps merged on the driver), never a full Sort + global
    shuffle."""
    plan = _executed(Q.queries()["order_limit_top_orders"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_ann_hyperplane_pick_has_no_global_window(spark):
    """The r1 scale-killer stays dead: deriving hyperplanes/centroids
    must not plan a no-partition global window (the 'No Partition
    Defined for Window' whole-corpus-to-one-task shape)."""
    from flink_etl_spark.operators.similarity import hyperplanes, ivf_centroids

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (hyperplanes(embs, 4), ivf_centroids(embs, 8)):
        plan = _optimized(df)
        assert "TakeOrdered" in _executed(df) or "takeOrdered" in plan or True
        # the executed plan must contain the per-partition top-n merge
        assert "TakeOrderedAndProject" in _executed(df)


def test_minhash_profile_is_projection_only(spark):
    """The MinHash sketch must stay shuffle-free: no Exchange anywhere
    in the profile plan (array-expression sketch, no distinct/groupBy)."""
    from flink_etl_spark.operators.dedup import minhash_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(minhash_profile(docs))
    assert "Exchange" not in plan


def _round_robin_subtrees(plan: str) -> list[list[str]]:
    """The node lines under each `Exchange RoundRobinPartitioning` of a
    plan tree string (a node's depth is the column its name starts at,
    after the `:`, `+-` and `|` tree drawing)."""
    lines = plan.splitlines()
    col = lambda line: len(line) - len(line.lstrip(" :+-|"))  # noqa: E731
    out = []
    for n, line in enumerate(lines):
        if "Exchange RoundRobinPartitioning" not in line:
            continue
        sub = []
        for below in lines[n + 1:]:
            if col(below) <= col(line):
                break
            sub.append(below.lstrip(" :+-|"))
        out.append(sub)
    return out


def _assert_spread_is_scan_only(plan: str) -> None:
    subtrees = _round_robin_subtrees(plan)
    assert subtrees, "the under-split input was not spread"
    for sub in subtrees:
        for node in sub:
            name = node.split(" [")[0].lstrip("*(0123456789) ")
            assert name in ("FileScan parquet", "Project", "ColumnarToRow"), node
            assert not any(f in node for f in ("split(", "xxhash64(", "sha2(")), node


def test_spread_inputs_hold_no_pushed_predicates(spark, tmp_path, monkeypatch):
    """`minhash_near_dups` (in-memory and staged) and
    `fingerprint_candidates` spread a single-split input round-robin;
    below that exchange there is only the scan and column projections.
    A Filter or a tokenizing expression there means a predicate over
    the profile was pushed through the exchange and re-tokenizes every
    row on the single map task. The in-memory profile is anchored, so
    its spread runs in the plan of the frame handed to `anchor`, also
    when the caller filters the output."""
    from pyspark.sql.readwriter import DataFrameWriter

    from flink_etl_spark.operators import dedup
    from flink_etl_spark.operators.prep import fingerprint_candidates

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    _assert_spread_is_scan_only(_executed(fingerprint_candidates(docs)))
    _assert_spread_is_scan_only(_executed(fingerprint_candidates(docs, key="digest", max_df=3)))

    anchored = []

    def capture_anchor(df, eager=True, real=dedup.anchor):
        anchored.append(df)
        return real(df, eager)

    monkeypatch.setattr(dedup, "anchor", capture_anchor)
    for call in (lambda: dedup.minhash_near_dups(docs),
                 lambda: dedup.minhash_near_dups(docs).filter("jaccard >= 0.9")):
        anchored.clear()
        plan = _executed(call())
        assert len(anchored) == 1
        _assert_spread_is_scan_only(
            anchored[0]._jdf.queryExecution().executedPlan().toString())
        for sub in _round_robin_subtrees(plan):
            for node in sub:
                assert not any(f in node for f in _HEAVY), node
    monkeypatch.undo()

    written = []
    save = DataFrameWriter.parquet

    def capture(self, path, *a, **kw):
        written.append(self._df)
        return save(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", capture)
    dedup.minhash_near_dups(docs, staged_path=str(tmp_path / "profile"))
    monkeypatch.undo()
    assert len(written) == 1
    _assert_spread_is_scan_only(written[0]._jdf.queryExecution().executedPlan().toString())
    spark.catalog.clearCache()


def _jobs_per_call(spark, call) -> int:
    """Spark jobs run by building `call()` and a noop write of its
    output, counted under a job group of their own."""
    sc = spark.sparkContext
    group = f"jobs-per-call-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        call().write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("arm, most", [
    ("xxhash64", 5), ("charfold", 5), ("incremental", 8),
])
def test_minhash_near_dups_jobs_per_call(spark, tmp_path, arm, most):
    """MinHash-LSH plans its four profile consumers against one anchored
    leaf: a call over the single-split sf0.01 documents runs at most 5
    jobs (10 with a persisted profile), and an incremental call with a
    one-fifth batch against the staged other four fifths at most 8
    (18 with a persisted batch profile). The counts repeat exactly."""
    from flink_etl_spark.operators import dedup

    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    if arm == "incremental":
        staged = str(tmp_path / "profile")
        dedup.minhash_stage_profile(docs.filter("doc_id % 5 != 0"), staged)
        batch = docs.filter("doc_id % 5 = 0")
        call = lambda: dedup.minhash_near_dups_incremental(batch, staged)  # noqa: E731
    else:
        call = lambda: dedup.minhash_near_dups(docs, hash_fn=arm)  # noqa: E731
    counts = [_jobs_per_call(spark, call) for _ in range(2)]
    assert counts[0] == counts[1], counts
    assert counts[0] <= most, counts


#: operators that spread their own under-split input over every core
SPREADING_OPERATORS = (
    "repetition_stats", "span_dedup", "substring_dedup", "semdedup",
    "ivfpq_topk", "media_phash_near_dups",
)

#: expressions that must never run below a round-robin spread
_HEAVY = ("split(", "xxhash64(", "sha2(", "aggregate(", "zip_with(",
          "transform(", "from_json(", "to_json(")


def _spread_cases() -> dict:
    """operator -> (table, call) for `SPREADING_OPERATORS`."""
    from flink_etl_spark.operators import multimodal
    from flink_etl_spark.operators.dedup import semdedup
    from flink_etl_spark.operators.prep import (
        repetition_stats,
        span_dedup,
        substring_dedup,
    )
    from flink_etl_spark.operators.similarity import ivfpq_topk

    def ivfpq(t):
        queries = t.sparkSession.read.parquet(f"{SF}/embeddings.parquet")
        return ivfpq_topk(t, queries.filter("vec_id < 8"), k=3, n_cells=4,
                          nprobe=2, m=8, n_codes=16)

    return {
        "repetition_stats": ("documents", repetition_stats),
        "span_dedup": ("documents", lambda t: span_dedup(t, span_tokens=20)),
        "substring_dedup": ("documents", lambda t: substring_dedup(t, min_tokens=13)),
        "semdedup": ("embeddings", lambda t: semdedup(t, n_cells=4)),
        "ivfpq_topk": ("embeddings", ivfpq),
        "media_phash_near_dups": ("documents", lambda t: multimodal.media_phash_near_dups(
            multimodal.make_media_table(t).select("media_id", "payload"),
            max_hamming=12,
        )),
    }


def _capture_anchors(monkeypatch) -> list:
    """Record every frame the spreading operators anchor (the spread rows
    of `sources.tables._spread_anchored`, the signature frame of
    `media_phash_near_dups`) before anchoring it."""
    from flink_etl_spark.operators import multimodal
    from flink_etl_spark.sources import tables

    anchored = []
    for module in (tables, multimodal):
        def capture(df, eager=True, real=module.anchor):
            anchored.append(df)
            return real(df, eager)

        monkeypatch.setattr(module, "anchor", capture)
    return anchored


def _assert_one_spread_below_heavy_work(plan: str) -> None:
    """One round-robin exchange, reading the scan through column
    projections only: no filter and no tokenizing, hashing, vector or
    JSON expression below it. Only the adaptive plan's final plan is
    read: its initial plan repeats the exchange."""
    subtrees = _round_robin_subtrees(plan.split("== Initial Plan ==")[0])
    assert len(subtrees) == 1, plan
    for node in subtrees[0]:
        name = node.split(" [")[0].lstrip("*(0123456789) ")
        assert name in ("FileScan parquet", "Project", "ColumnarToRow"), node
        assert not any(f in node for f in _HEAVY), node


@pytest.mark.parametrize("operator", SPREADING_OPERATORS)
def test_operator_spreads_only_a_single_split_input(
    spark, tmp_path, monkeypatch, operator
):
    """Each operator that spreads its own input plans one round-robin
    exchange for a single-file input, below its heavy projection, and
    none for a multi-split or a cached input (also one executed before
    its `.cache()` call). Rows are identical all four ways."""
    from flink_etl_spark.sources.tables import load_table

    table, call = _spread_cases()[operator]
    anchored = _capture_anchors(monkeypatch)

    def run(t):
        anchored.clear()
        out = call(t)
        plan = _executed(anchored[0] if anchored else out)
        return plan, sorted(map(tuple, out.collect()))

    single = load_table(spark, SF, table)
    assert single.rdd.getNumPartitions() == 1
    target = spark.sparkContext.defaultParallelism
    single.repartition(target).write.parquet(str(tmp_path / f"{table}.parquet"))
    multi = load_table(spark, str(tmp_path), table)
    assert multi.rdd.getNumPartitions() >= max(2, target // 2)
    plan, rows = run(single)
    _assert_one_spread_below_heavy_work(plan)
    assert rows
    executed = load_table(spark, SF, table)
    executed.write.format("noop").mode("overwrite").save()
    # cached last: the cache serves every later scan of the same plan
    for other in (multi, load_table(spark, SF, table).cache(), executed.cache()):
        other_plan, other_rows = run(other)
        assert "RoundRobinPartitioning" not in other_plan, other_plan
        assert other_rows == rows
    spark.catalog.clearCache()


@pytest.mark.parametrize("operator, keep", [
    ("repetition_stats", "dup_token_frac > 0.05"),
    ("span_dedup_within_doc", "n_spans_kept > 3"),
    ("span_dedup", "length(dedup_text) > 200"),
    ("substring_dedup", "n_tokens_kept < n_tokens"),
])
def test_filtered_output_keeps_heavy_work_above_the_spread(spark, operator, keep):
    """A caller's filter on a spreading operator's output is not pushed
    through the round-robin exchange: no tokenizing or hashing runs
    below it on the single scan task."""
    from flink_etl_spark.operators.prep import (
        repetition_stats,
        span_dedup,
        substring_dedup,
    )
    from flink_etl_spark.sources.tables import load_table

    call = {
        "repetition_stats": repetition_stats,
        "span_dedup_within_doc": lambda t: span_dedup(
            t, span_tokens=5, scope="within_doc"),
        "span_dedup": lambda t: span_dedup(t, span_tokens=20),
        "substring_dedup": lambda t: substring_dedup(t, min_tokens=13),
    }[operator]
    single = load_table(spark, SF, "documents")
    assert single.rdd.getNumPartitions() == 1
    out = call(single).filter(keep)
    for sub in _round_robin_subtrees(_executed(out)):
        for node in sub:
            assert not any(f in node for f in _HEAVY), node
    assert out.count() > 0


def test_fingerprints_winnow1_plan_ignores_generate_filter_inference(spark):
    """`document_fingerprints(winnow=1)` plans the same whether or not
    the session excludes InferFiltersFromGenerate (only `get_spark`
    does): below the Generate there is no Filter and no scan
    DataFilter, either of which would recompute the whole anchor
    kernel before the projection computes it again. Rows equal the
    engine session's."""
    import re

    from flink_etl_spark.operators.prep import document_fingerprints

    conf = "spark.sql.optimizer.excludedRules"
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for key in ("hash64", "digest"):
        want = sorted(map(tuple, document_fingerprints(
            docs, min_tokens=13, winnow=1, key=key
        ).collect()))
        saved = spark.conf.get(conf, None)
        spark.conf.unset(conf)
        try:
            fps = document_fingerprints(docs, min_tokens=13, winnow=1, key=key)
            plan = _executed(fps)
            got = sorted(map(tuple, fps.collect()))
        finally:
            if saved is not None:
                spark.conf.set(conf, saved)
        below = plan.split(" Generate ", 1)[1].splitlines()[1:]
        assert not [
            line for line in below
            if re.match(r"[\s+:|-]*(\*\(\d+\) )?Filter ", line)
        ], (key, plan)
        scans = [line for line in below if "FileScan" in line]
        assert scans and all("DataFilters: []" in line for line in scans), key
        assert got == want, key


def test_pipeline_dedup_shuffle_carries_digest_not_text(spark):
    """The composite pipeline's exact-dedup exchange must hash on the
    sha2 digest — a 64-byte key — and must NOT carry the text column:
    at 100 TB the raw-text groupBy shuffles the whole corpus body."""
    plan = _executed(Q.queries()["pipeline_training_prep"](spark, SF))
    digest_exchanges = [
        line for line in plan.splitlines()
        if "Exchange hashpartitioning" in line and "_digest" in line
    ]
    assert digest_exchanges, "dedup exchange no longer keyed on digest"
    assert all("text" not in line for line in digest_exchanges)


def test_pipeline_keepers_filter_does_not_retokenize(spark):
    """r15: the quality+language predicate rides the dedup aggregate
    (exact_dedup where_col), so the keepers arm has NO Filter operator
    that re-derives the token profile from raw text — the r14 shape
    pushed the predicate below doc_profile's projection and tokenized
    every row twice (once in the Filter, once in the Project)."""
    plan = _executed(
        Q.queries()["pipeline_training_prep"](spark, SF).filter(
            "variant = 'keepers'"
        )
    )
    retok_filters = [
        line for line in plan.splitlines()
        if line.lstrip().startswith(("Filter", "+- Filter", "*("))
        and "Filter" in line and "split(text" in line
    ]
    assert not retok_filters, retok_filters
    # the profile expressions still exist exactly once, in the Project
    assert "split(text" in plan


def test_knn_corpus_never_shuffles(spark):
    """Brute-force kNN: the query set broadcasts (BroadcastNestedLoop),
    the corpus is scanned in place — no hash/range repartition of the
    corpus before scoring; the only exchange serves the final top-k
    window over (small) scored pairs."""
    from flink_etl_spark.operators.similarity import cosine_topk

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = embs.filter(F.col("vec_id") < 32)
    plan = _executed(cosine_topk(embs, q, k=10))
    assert "BroadcastNestedLoopJoin" in plan
    # corpus side reaches the join straight from the scan: the plan's
    # only hashpartitioning exchange is the per-query top-k window
    assert plan.count("Exchange hashpartitioning") == 1


def test_ingest_is_single_codegen_pipeline(spark):
    """The Canal ingest chain (prefilter -> parse -> filter -> explode
    -> flatten -> dt) must be one stage: zero exchanges — ingest is
    embarrassingly parallel, the only knob at 100 TB is input split
    size."""
    from flink_etl_spark.operators.canal import ingest_pipeline

    raw = spark.createDataFrame(
        [('{"isDdl":"false","id":1,"es":10,"ts":1,"type":"I","data":[{"c":"x"}]}',)],
        "value string",
    )
    plan = _executed(ingest_pipeline(raw, ["c"]))
    assert "Exchange" not in plan
    assert "*(" in plan  # whole-stage-codegen stage markers
    # parse-once must survive optimization: at most TWO from_json sites
    # (the pushed-down isDdl filter + the envelope projection). Without
    # the InferFiltersFromGenerate exclusion (session.py RUNTIME_CONFS)
    # Catalyst adds size()/isnotnull() filters that re-parse the JSON —
    # four sites, measured 37% slower on 1M-row ingest.
    assert plan.count("from_json") <= 2


def test_quantize_scale_not_inlined_into_lambda(spark):
    """The absmax scale must be computed ONCE per row: if the raw
    quantize_scale expression is passed into quantize_int8, Catalyst
    inlines array_max under the per-element transform lambda
    (higher-order functions run with no CSE) — an O(dim^2) blowup.
    The catalog gate projects the scale first; pin that shape."""
    import re

    from flink_etl_spark import queries as Q

    df = Q.queries()["embedding_normalize_stats"](
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one array_max for the scale projection + one for the top-level
    # dequant error — never one per element-lambda reference
    assert plan.count("array_max") <= 2
    # and no array_max nested inside a transform(...) lambda body
    for m in re.finditer(r"transform\(embedding[^\n]*", plan):
        assert "array_max" not in m.group(0)[20:] or "zip_with" in m.group(0)


def test_span_dedup_global_shuffles_digests_not_text(spark):
    """span_dedup(scope='global'): the first-occurrence window's
    exchange must carry only (digest, id, pos) — the span text itself
    never crosses an exchange (the rebuild is a row-local filter over
    the original rows, drop-lists joined back broadcast-side). This is
    the property that makes the operator a narrow-shuffle at 100 TB
    instead of a corpus-sized one."""
    from flink_etl_spark.operators.prep import span_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    df = span_dedup(docs, span_tokens=20, scope="global")
    plan = _executed(df)
    # the drop-list side joins back without forcing a corpus shuffle
    assert "BroadcastHashJoin" in plan
    # hot-key robustness: first-occurrence is a partial-combining
    # min-aggregate + AQE-splittable join, NEVER a skew-funneling
    # window over the span key
    assert "Window" not in plan
    # the winners aggregate and its probe join need the SAME
    # hashpartitioning(_k) of the same narrow triples — ReuseExchange
    # must collapse them so the corpus tokenizes once, leaving two
    # distinct digest-keyed exchanges at most (one if reused) plus the
    # per-doc drop aggregate
    lines = plan.splitlines()
    k_exchange_lines = [
        line for line in lines if "Exchange hashpartitioning(_k" in line
    ]
    assert k_exchange_lines, plan
    assert (
        len(k_exchange_lines) == 1 or "ReusedExchange" in plan
        or "reuses operator id" in plan
    ), plan
    # the digest exchange's immediate producer must project only
    # (doc_id, _pos, _k) — never the span string _s: a bare `_s#N`
    # output item means span text crosses the exchange
    import re

    for i, line in enumerate(lines):
        if "Exchange hashpartitioning(_k" not in line:
            continue
        producer = lines[i + 1]
        assert not re.search(r"[\[, ]_s#\d+[,\]]", producer), producer


def test_substring_dedup_shuffles_anchor_ids_not_text(spark):
    """substring_dedup(key='hash64'): the stride-1 anchor exchange —
    already one triple per corpus token — must carry only
    (anchor_id bigint, id, pos): neither the token array nor any
    anchor string may cross an exchange, and first-occurrence is the
    same skew-proof min-aggregate shape as span_dedup (no Window)."""
    from flink_etl_spark.operators.prep import substring_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    import re

    for kwargs in ({}, {"winnow": 4}):
        df = substring_dedup(docs, min_tokens=15, key="hash64", **kwargs)
        plan = _executed(df)
        # winnowing selection is row-local (run-length rule), so even
        # the sampled arm must stay window-free and skew-proof
        assert "Window" not in plan
        assert "BroadcastHashJoin" in plan

        lines = plan.splitlines()
        k_exchange_lines = [
            i for i, line in enumerate(lines)
            if "Exchange hashpartitioning(_k" in line
        ]
        assert k_exchange_lines, plan
        for i in k_exchange_lines:
            producer = lines[i + 1]
            # no token array (_toks) and no anchor array / string
            # payload in the exchange
            assert not re.search(r"[\[, ]_toks#\d+[,\]]", producer), producer
            assert not re.search(r"[\[, ]_a#\d+[,\]]", producer), producer


def test_substring_incremental_never_shuffles_index(spark, tmp_path):
    """substring_dedup_incremental: the staged anchor index (corpus-
    scale at 100 TB) must be probed via a broadcast semi-join of the
    BATCH's keys — the index itself never crosses an exchange."""
    from flink_etl_spark.operators.prep import (
        substring_dedup_incremental,
        substring_stage_index,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    idx = str(tmp_path / "plan_idx")
    substring_stage_index(
        docs.filter("doc_id % 2 = 0"), idx, mode="overwrite",
        min_tokens=15, key="hash64",
    )
    df = substring_dedup_incremental(
        docs.filter("doc_id % 2 = 1"), idx, min_tokens=15, key="hash64"
    )
    plan = _executed(df)
    assert "Window" not in plan
    # the index probe is a broadcast LeftSemi with the index STREAMED
    # (BuildRight = the batch keys are the built/broadcast side)...
    lines = plan.splitlines()
    semi = [
        i for i, line in enumerate(lines)
        if "BroadcastHashJoin [anchor_key" in line and "LeftSemi" in line
    ]
    assert semi, plan
    assert all("BuildRight" in lines[i] for i in semi), plan
    # ...and nothing exchanges the index between its scan and the semi
    # join: the streamed child must be a bare Filter/FileScan. (The
    # anchor_key exchanges elsewhere in the plan are the BATCH-key and
    # hit-key distincts — batch-sized by construction.)
    for i in semi:
        streamed = lines[i + 1]
        assert "Exchange" not in streamed, streamed
        assert "Filter" in streamed or "FileScan" in streamed, streamed


def test_staged_ann_indexes_partition_prune_on_probe(spark, tmp_path):
    """ivf_search_index / ivfpq_search_index: the staged `cells/` scan
    must carry a DYNAMIC partition-pruning filter on cell_id (fed by
    the broadcast probe side). This is the load-bearing claim of the
    build-once/search-many story — a query batch reads nprobe/n_cells
    of the index — and it must survive the partition column arriving
    as a STRING under the engine confs (both searches join through a
    cast, which DPP supports; a refactor that breaks eligibility
    would silently fall back to full-index scans)."""
    from flink_etl_spark.operators import similarity as S

    embs = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = embs.filter("vec_id < 8")

    def cells_scan_filters(df):
        # the cells scan is the only FileScan with a cell_id partition
        # filter (Spark abbreviates the Location path, so match on the
        # PartitionFilters content, not the directory)
        plan = _executed(df)
        lines = [
            line for line in plan.splitlines()
            if "FileScan" in line and "PartitionFilters: [" in line
            and "cell_id"
            in line.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
        ]
        assert lines, plan
        return lines

    idx = str(tmp_path / "ivf")
    S.ivf_build_index(embs, idx, n_cells=8)
    for line in cells_scan_filters(
        S.ivf_search_index(spark, idx, qs, k=5, nprobe=2)
    ):
        assert "dynamicpruningexpression(" in line, line

    idx2 = str(tmp_path / "ivfpq")
    S.ivfpq_build_index(embs, idx2, n_cells=8, m=8, n_codes=16)
    for line in cells_scan_filters(
        S.ivfpq_search_index(spark, idx2, qs, k=5, nprobe=2)
    ):
        assert "dynamicpruningexpression(" in line, line

    # r10 duplicate-tolerant ranking (_rank_and_rerank): the compaction
    # reader contract adds a dropDuplicates + re-rank, and BOTH must
    # ride the first window's query_id clustering — exactly one
    # query_id exchange, no exchange keyed on neighbor_id/cos_sim, and
    # the WindowGroupLimit top-k pushdown still fires on the scored
    # stream (the 2x-slack row_number cut keeps it)
    plan = _executed(S.ivfpq_search_index(spark, idx2, qs, k=5, nprobe=2))
    assert "WindowGroupLimit" in plan
    qid_exchanges = 0
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "neighbor_id" not in keys, keys
        assert "cos_sim" not in keys, keys
        qid_exchanges += int("query_id" in keys)
    assert qid_exchanges == 1, plan


def test_dsir_totals_broadcast_and_no_cartesian(spark):
    """DSIR log weights: the V/N_t/N_q totals reach the scored feature
    stream as a broadcast of ONE row (BroadcastNestedLoop over a 1-row
    aggregate — fine), never a CartesianProduct; the count-table joins
    key on the feature column, so every hash exchange carries feature
    keys + counts, not document text."""
    from flink_etl_spark.operators.prep import dsir_log_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    # the doc text column never crosses an exchange: every
    # hashpartitioning key set is feature/id/count-shaped
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "text" not in keys, keys


def test_dsir_bucketed_scoring_is_zero_shuffle(spark):
    """dsir_log_weights(n_buckets=B) — the paper's fixed hashed feature
    space: per-doc scoring must be a row-local fold against ONE
    broadcast packed row. Pinned plan shape: no exchange keys on the
    feature/bucket column on the scored side (the only hash exchanges
    are the <= B-row fit-count aggregations and their grid joins), no
    SortMergeJoin anywhere (nothing corpus-sized ever joins), the
    scored corpus never explodes (exactly 2 Generate ops — one per
    fit-side corpus), and the packed ratios arrive via a broadcast of
    one row."""
    from flink_etl_spark.operators.prep import dsir_log_weights

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
        n_buckets=256,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan     # the 1-row packed join
    assert "SortMergeJoin" not in plan
    # fit side explodes each corpus once; the SCORED corpus does not
    # explode at all — its features fold row-locally
    assert plan.count("Generate explode") == 2, plan.count(
        "Generate explode"
    )
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "text" not in keys, keys
        # no exchange is keyed on the document id either: the per-doc
        # aggregate is gone (row-local fold), so any doc-id-keyed
        # exchange means the zero-shuffle contract regressed
        assert "doc_id" not in keys, keys


def test_semantic_decontam_corpus_side_never_shuffles(spark):
    """semantic_contamination_pairs(method='signlsh'): the corpus reaches
    the candidate join through a row-local bucket fold and a broadcast
    hash join — no corpus-side exchange. Every hash-partitioning
    exchange in the plan must sit under the postings BUILD side (the
    benchmark's groupBy aggregations); the streamed corpus branch,
    printed before the build-side BroadcastExchange, must contain
    none."""
    from flink_etl_spark.operators.dedup import semantic_contamination_pairs
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, SF, "embeddings")
    pairs = semantic_contamination_pairs(
        embs.filter("vec_id % 7 != 0"),
        embs.filter("vec_id % 7 = 0"),
        0.35,
        method="signlsh",
        n_planes=4,
        n_probe=1,
        max_bench_rows=None,
    )
    plan = _executed(pairs)
    # 2 BHJ: the candidate join itself + the postings-to-bench-vectors
    # join INSIDE the broadcast build side
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    # the build side (postings) is the LAST branch under the BHJ: split
    # at its BroadcastExchange — the streamed corpus segment before it
    # must be exchange-free
    streamed = plan.split("BroadcastExchange HashedRelation")[0]
    assert "Exchange hashpartitioning" not in streamed, streamed


def test_nb_classifier_scoring_is_zero_shuffle(spark):
    """nb_classifier_scores — the supervised twin of bucketed DSIR:
    the fit aggregates only the LABELED corpus (2 explodes, <= B-row
    count exchanges), the prior is one 1-row aggregate, and scoring
    the corpus is a row-local fold against one broadcast packed row —
    no corpus-side exchange, no SortMergeJoin, no doc_id- or
    text-keyed exchange anywhere."""
    from flink_etl_spark.operators.prep import nb_classifier_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    labeled = docs.filter(F.col("doc_id") % 2 == 0).withColumn(
        "label", F.expr("lang = 'en'")
    )
    plan = _executed(nb_classifier_scores(
        docs.filter(F.col("doc_id") % 2 == 1), labeled, n_buckets=256
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Generate explode") == 2, plan.count(
        "Generate explode"
    )
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "text" not in keys, keys
        assert "doc_id" not in keys, keys


def test_semantic_decontam_ivf_corpus_side_never_shuffles(spark):
    """The IVF decontamination method keeps the same asymmetric shape:
    the corpus computes its top-1 cell by a row-local packed-centroid
    argmax and broadcast-joins the bench postings — no corpus-side
    exchange (the window in ivf_assign runs over the BENCHMARK only)."""
    from flink_etl_spark.operators.dedup import semantic_contamination_pairs
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, SF, "embeddings")
    pairs = semantic_contamination_pairs(
        embs.filter("vec_id % 7 != 0"),
        embs.filter("vec_id % 7 = 0"),
        0.35,
        method="ivf",
        n_cells=8,
        nprobe=2,
        max_bench_rows=None,
    )
    plan = _executed(pairs)
    assert "SortMergeJoin" not in plan
    streamed = plan.split("BroadcastExchange HashedRelation")[0]
    assert "Exchange hashpartitioning" not in streamed, streamed


def test_nb_multi_scoring_is_zero_shuffle(spark):
    """Multi-class NB keeps the zero-shuffle scoring contract: the fit
    exchanges at most K*B count rows (labeled side only), the packed
    row broadcasts, and the scored corpus folds its bucket-index array
    once per class row-locally — no SortMergeJoin, no doc_id/text-keyed
    exchange, the scored corpus never explodes."""
    from flink_etl_spark.operators.prep import nb_classifier_scores_multi

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _executed(nb_classifier_scores_multi(
        docs.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") % 2 == 0),
        label_col="lang", n_buckets=128,
    ))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # the labeled fit's one explode happened inside the eager count
    # checkpoint (a leaf here); the SCORED corpus never explodes — its
    # features fold row-locally
    assert plan.count("Generate explode") == 0, plan.count(
        "Generate explode"
    )
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "text" not in keys, keys
        assert "doc_id" not in keys, keys


def test_bpe_encode_inline_is_zero_shuffle(spark):
    """bpe_encode(method='inline') is the corpus-sized half of the BPE
    pair: the merge table compiles into literal replaces, so the plan
    must be a pure projection — ZERO exchanges of any kind, no join,
    no Generate. This is the shape that lets a 100 TB tokenization run
    map-side only."""
    from flink_etl_spark.operators.text import bpe_encode, bpe_fit

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges = bpe_fit(docs.limit(200), 4, vocab_partitions=1)
    plan = _executed(bpe_encode(docs, merges, method="inline"))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan
    assert "Generate" not in plan


def test_bpe_fit_round_exchanges_pairs_not_words(spark):
    """One BPE fit round (the exact expressions `bpe_fit` loops over):
    the only hash exchange aggregates (left, right) symbol-pair keys —
    the sep-encoded word strings never leave their partition, so a
    round's shuffle volume is bounded by the DISTINCT PAIR count, not
    the vocabulary. The vocab method's reassembly join must broadcast
    the vocab side."""
    from flink_etl_spark.operators.text import (
        _bpe_syms,
        bpe_encode,
        bpe_fit,
        bpe_word_counts,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = bpe_word_counts(docs, "text")
    pair_counts = (
        words.select(_bpe_syms(F.col("seq")).alias("_s"), "cnt")
        .filter(F.size("_s") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, size(_s) - 1), "
                "i -> struct(element_at(_s, i) AS l, "
                "element_at(_s, i + 1) AS r)))"
            ).alias("_p"),
            "cnt",
        )
        .select("_p.l", "_p.r", "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("c"))
    )
    plan = _executed(pair_counts)
    frags = plan.split("Exchange hashpartitioning(")[1:]
    assert frags, "expected the pair aggregate's exchange"
    for frag in frags:
        keys = frag.split(")")[0]
        assert "seq" not in keys and "text" not in keys, keys
        assert ("l#" in keys and "r#" in keys) or "_tok" in keys, keys

    merges = bpe_fit(docs.limit(200), 4, vocab_partitions=1)
    vplan = _executed(bpe_encode(docs, merges, method="vocab"))
    assert "BroadcastHashJoin" in vplan
    assert "SortMergeJoin" not in vplan


def test_phash_pairs_exchange_carries_hashes_not_payloads(spark):
    """media_phash_near_dups: the band join's exchanges carry
    (chunk_id, chunk_val, 8-byte hash, id) rows — the payload column
    must never appear in an exchange key set or survive past the
    signature projection (the 100 TB contract: media blobs stay in
    their scan)."""
    from flink_etl_spark.operators.multimodal import (
        make_media_table,
        media_phash_near_dups,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    media = make_media_table(docs).select("media_id", "payload")
    plan = _executed(media_phash_near_dups(media, max_hamming=8))
    assert "SortMergeJoin" not in plan
    for frag in plan.split("Exchange hashpartitioning(")[1:]:
        keys = frag.split(")")[0]
        assert "payload" not in keys, keys
    # the join itself runs over the MATERIALIZED signature relation
    # (localCheckpoint — the payload-bearing projection ran once at
    # checkpoint time and is gone from this plan): both join inputs
    # are RDD scans of (id, hash) rows, and the payload column never
    # appears anywhere in the executed join plan at all
    assert plan.count("Scan ExistingRDD[media_id") >= 2, plan
    assert "payload" not in plan, plan
