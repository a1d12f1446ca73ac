"""Property-based tests (hypothesis) for the training-prep operators:
invariants that must hold for ANY corpus, not just the fixtures —
the same strategy as tests/test_property_cdc.py for the CDC core.

Each property runs a small number of examples against the session
Spark fixture (Spark round-trips dominate, so examples are few but
each covers a whole generated corpus)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from flink_etl_spark.operators import prep as P

#: word-ish tokens (include repeats to exercise dup metrics)
_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "ion", "flux", "x", "data", "spark"]
)
_texts = st.lists(_words, min_size=0, max_size=30).map(" ".join)

_corpora = st.lists(
    st.tuples(st.integers(min_value=0, max_value=10**6), _texts),
    min_size=1,
    max_size=25,
    unique_by=lambda t: t[0],
)

_PROP = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_PROP)
@given(rows=_corpora)
def test_repetition_stats_invariants(spark, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = P.repetition_stats(docs).collect()
    assert len(out) == len(rows)  # every doc appears exactly once
    for r in out:
        assert 0.0 <= r["dup_token_frac"] <= 1.0
        assert 0.0 <= r["top_bigram_char_frac"] <= 1.0
        assert 0.0 <= r["dup_trigram_char_frac"] <= 1.0
        if r["n_tokens"] < 2:
            assert r["top_bigram"] is None and r["top_bigram_count"] == 0
        else:
            assert r["top_bigram_count"] >= 1


@settings(**_PROP)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=800),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    budget=st.integers(min_value=1, max_value=600),
)
def test_pack_greedy_invariants(spark, rows, budget):
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    out = (
        P.pack_greedy(
            df.withColumn("g", F.lit("all")), budget=budget, part_cols=("g",)
        )
        .orderBy("doc_id")
        .collect()
    )
    # offsets stay inside the budget; seq_ids are non-decreasing in
    # id order; global token accounting reconstructs the prefix sum
    prefix = 0
    last_seq = 0
    for r in out:
        assert 0 <= r["seq_offset"] < budget
        assert r["seq_id"] * budget + r["seq_offset"] == prefix
        assert r["seq_id"] >= last_seq
        assert r["overflow_doc"] == (r["n_tokens"] > budget)
        last_seq = r["seq_id"]
        prefix += r["n_tokens"]


@settings(**_PROP)
@given(
    keys=st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    salt=st.text(
        alphabet="abc'x", min_size=0, max_size=4
    ),  # quote included: escaping must hold
)
@pytest.mark.slow
def test_hash_split_partition_property(spark, keys, salt):
    """Every row gets exactly one label from the configured set, and
    the assignment is a pure function of (key, salt) — recomputing
    yields the identical frame."""
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    a = P.hash_split(df, "doc_id", salt=salt).collect()
    b = P.hash_split(df, "doc_id", salt=salt).collect()
    labels = {lbl for lbl, _ in P.DEFAULT_SPLITS}
    assert all(r["split"] in labels for r in a)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@settings(**_PROP)
@given(rows=_corpora)
@pytest.mark.slow
def test_pii_redact_idempotent(spark, rows):
    """Redaction is idempotent: the replacement tokens contain no
    redactable patterns, so a second pass is a no-op."""
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        # plant pii derived from the row so some examples match
        "text",
        F.concat(
            F.col("text"),
            F.lit(" u"),
            F.col("doc_id").cast("string"),
            F.lit("@ex.org 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
        ),
    )
    once = P.pii_redact(docs).select(
        "doc_id", F.col("text_redacted").alias("text")
    )
    twice = P.pii_redact(once)
    assert twice.filter(
        (F.col("n_email") > 0) | (F.col("n_phone") > 0) | (F.col("n_ipv4") > 0)
    ).count() == 0
    assert twice.filter(F.col("text_redacted") != F.col("text")).count() == 0


@settings(**_PROP)
@given(rows=_corpora, n=st.integers(min_value=1, max_value=4))
def test_decontaminate_self_overlap(spark, rows, n):
    """A corpus checked against ITSELF: every doc with >= n tokens is
    contaminated (it shares its own grams); shorter docs are clean."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in P.decontaminate(docs, docs, n=n).collect()}
    toks = {i: (t.split(" ") if t else [""]) for i, t in rows}
    for i, t in rows:
        has_gram = len([w for w in toks[i]]) >= n
        assert out[i]["contaminated"] == (1 if has_gram else 0)


@settings(**_PROP)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.sampled_from(["s0", "s1", "s2", None]),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    ),
    salt=st.sampled_from(["", "a", "b'c"]),
    rates=st.fixed_dictionaries(
        {},
        optional={
            "s0": st.sampled_from([0.0, 0.3, 1.0, 2.5]),
            "s1": st.sampled_from([0.5, 1.75]),
            "s2": st.sampled_from([0.0, 1.0]),
        },
    ),
)
@pytest.mark.slow
def test_mixture_sample_copy_count_invariants(spark, rows, salt, rates):
    """expand=True row counts == expand=False n_copies sums per key;
    n_copies in {floor(r), floor(r)+1}; NULL group takes the default;
    the decision is a pure function of (key, salt)."""
    df = spark.createDataFrame(rows, "doc_id long, source string")
    counted = {
        r["doc_id"]: r["n_copies"]
        for r in P.mixture_sample(
            df, rates, key_col="doc_id", salt=salt,
            expand=False, default_rate=1.5,
        ).collect()
    }
    expanded = P.mixture_sample(
        df, rates, key_col="doc_id", salt=salt, default_rate=1.5
    )
    per_key = {
        r["doc_id"]: r["n"]
        for r in expanded.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    for k, src in rows:
        r = rates.get(src, 1.5) if src is not None else 1.5
        base = int(r)
        assert counted[k] in (base, base + 1)
        assert per_key.get(k, 0) == counted[k]
    again = {
        r["doc_id"]: r["n_copies"]
        for r in P.mixture_sample(
            df, rates, key_col="doc_id", salt=salt,
            expand=False, default_rate=1.5,
        ).collect()
    }
    assert again == counted


@settings(**_PROP)
@given(
    vecs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.lists(
                st.floats(
                    min_value=-1.0, max_value=1.0,
                    allow_nan=False, allow_infinity=False, width=32,
                ),
                min_size=4, max_size=4,
            ),
        ),
        min_size=2,
        max_size=20,
        unique_by=lambda t: t[0],
    ),
    n_cells=st.sampled_from([1, 2, 4]),
    quantizer=st.sampled_from(["flat", "two_level"]),
)
@pytest.mark.slow
def test_semdedup_invariants(spark, vecs, n_cells, quantizer):
    """Pairs are a subset of the exact all-pairs set with identical
    rounded scores; every duel's loser is the member closer to the
    centroid (ties: larger id); the keeper set is the corpus minus the
    distinct losers and never empties a component."""
    from flink_etl_spark.operators.dedup import (
        embedding_near_dups,
        semdedup,
        semdedup_pairs,
    )

    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_near_dups(embs, threshold=0.5).collect()
    }
    pairs = semdedup_pairs(
        embs, threshold=0.5, n_cells=n_cells, quantizer=quantizer
    ).collect()
    # NULL centroid sims (zero-norm member OR degenerate zero-norm
    # centroid when the smallest-id seed is all zeros) rank as -2.0 in
    # the duel — the operator's documented NULL-orders-last rule
    key = lambda c: -2.0 if c is None else c
    for r in pairs:
        assert (r.id_a, r.id_b) in exact
        assert exact[(r.id_a, r.id_b)] == r.cos_sim
        loser_csim = r.csim_a if r.drop_id == r.id_a else r.csim_b
        winner_csim = r.csim_b if r.drop_id == r.id_a else r.csim_a
        assert key(loser_csim) >= key(winner_csim)
        if key(r.csim_a) == key(r.csim_b):
            assert r.drop_id == max(r.id_a, r.id_b)
    kept = {
        r.vec_id
        for r in semdedup(
            embs, threshold=0.5, n_cells=n_cells, quantizer=quantizer
        ).collect()
    }
    losers = {r.drop_id for r in pairs}
    all_ids = {v[0] for v in vecs}
    assert kept == all_ids - losers
    # at least one survivor among any set of paired vectors
    if pairs:
        paired = {r.id_a for r in pairs} | {r.id_b for r in pairs}
        assert paired - losers, "a duel clique must keep a survivor"


def _py_span_dedup(rows, k):
    """Pure-Python model of span_dedup(scope='global'): fixed k-token
    windows, first occurrence by (doc_id, pos) lexicographic."""
    spans = {}
    for doc_id, text in sorted(rows):
        # the corpora strategy emits single-spaced text, so plain
        # split(" ") mirrors tokens_sql's split(' +'); empty/NULL
        # text tokenizes to [''] exactly like Spark's split
        toks = text.split(" ") if text else [""]
        spans[doc_id] = [
            " ".join(toks[i : i + k]) for i in range(0, len(toks), k)
        ]
    seen = set()
    out = {}
    for doc_id in sorted(spans):
        kept = []
        for s in spans[doc_id]:
            if s not in seen:
                seen.add(s)
                kept.append(s)
        out[doc_id] = (len(spans[doc_id]), len(kept), " ".join(kept))
    return out


@settings(**_PROP)
@given(rows=_corpora, k=st.integers(min_value=1, max_value=5))
@pytest.mark.slow
def test_span_dedup_matches_python_model(spark, rows, k):
    # the model's tokenizer is plain split(' '); restrict inputs to
    # single-spaced texts (the strategy never produces double spaces)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.dedup_text)
        for r in P.span_dedup(docs, span_tokens=k, scope="global").collect()
    }
    want = _py_span_dedup(rows, k)
    assert got == want
    # within_doc never drops MORE than global for the same doc order
    within = {
        r.doc_id: r.n_spans_kept
        for r in P.span_dedup(
            docs, span_tokens=k, scope="within_doc"
        ).collect()
    }
    for d, kept in within.items():
        assert kept >= got[d][1]


@settings(**_PROP)
@given(row=st.tuples(st.integers(min_value=0, max_value=10**6), _texts),
       k=st.integers(min_value=1, max_value=5))
@pytest.mark.slow
def test_span_dedup_single_doc_global_subsumes_within(spark, row, k):
    """On a single-document corpus the global scope has nothing
    earlier to dedup against beyond the document itself — it must
    equal within_doc EXACTLY (the subsumption the docstring claims)."""
    docs = spark.createDataFrame([row], "doc_id long, text string")
    g = sorted(map(tuple, P.span_dedup(docs, span_tokens=k,
                                       scope="global").collect()))
    w = sorted(map(tuple, P.span_dedup(docs, span_tokens=k,
                                       scope="within_doc").collect()))
    assert g == w


@settings(**_PROP)
@given(rows=_corpora, extra=_corpora, k=st.integers(min_value=1, max_value=5))
@pytest.mark.slow
def test_span_dedup_append_stability(spark, rows, extra, k):
    """The docstring's append-stability claim: adding documents with
    strictly LARGER ids never changes any earlier document's keeper
    set ("earlier" is (doc_id, pos) lexicographic, so new rows can
    only lose against existing winners, never displace them)."""
    base_max = max(d for d, _ in rows)
    appended = rows + [
        (base_max + 1 + i, t) for i, (_, t) in enumerate(extra)
    ]
    before = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.dedup_text)
        for r in P.span_dedup(
            spark.createDataFrame(rows, "doc_id long, text string"),
            span_tokens=k, scope="global",
        ).collect()
    }
    after = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.dedup_text)
        for r in P.span_dedup(
            spark.createDataFrame(appended, "doc_id long, text string"),
            span_tokens=k, scope="global",
        ).collect()
    }
    for d, v in before.items():
        assert after[d] == v


def _py_winnow_select(hashes, w):
    """Ground-truth winnowing (Schleimer et al. 2003): union over every
    full window of w consecutive hashes of its RIGHTMOST minimum;
    documents with fewer than w hashes keep their whole-array
    rightmost minimum. Deliberately the window-union definition — the
    Spark operator implements the equivalent run-length rule, so this
    model cross-checks the equivalence too."""
    m = len(hashes)
    if m == 0:
        return set()
    if m < w:
        mn = min(hashes)
        return {max(i for i, h in enumerate(hashes) if h == mn)}
    sel = set()
    for s in range(m - w + 1):
        window = hashes[s : s + w]
        mn = min(window)
        sel.add(s + max(i for i, h in enumerate(window) if h == mn))
    return sel


def _py_substring_dedup(rows, k, w=1):
    """Pure-Python model of substring_dedup(stride=1): one anchor per
    token position (winnow-sampled when w > 1, ordering on the sha256
    hex digests exactly like the operator's digest mode), first
    occurrence by (doc_id, pos), token dropped when covered by any
    non-winning anchor window."""
    import hashlib

    toks = {}
    anchors = {}
    for doc_id, text in rows:
        t = text.split(" ") if text else [""]
        toks[doc_id] = t
        h = [
            hashlib.sha256(" ".join(t[p : p + k]).encode()).hexdigest()
            for p in range(len(t) - k + 1)
        ]
        sel = _py_winnow_select(h, w) if w > 1 else set(range(len(h)))
        anchors[doc_id] = [(p, h[p]) for p in sorted(sel)]
    seen = set()
    dups = {}
    for doc_id in sorted(toks):
        dups[doc_id] = []
        for p, a in anchors[doc_id]:
            if a in seen:
                dups[doc_id].append(p)
            else:
                seen.add(a)
    out = {}
    for doc_id, t in toks.items():
        cov = set()
        for p in dups[doc_id]:
            cov.update(range(p, p + k))
        kept = [tok for i, tok in enumerate(t) if i not in cov]
        out[doc_id] = (len(t), len(kept), " ".join(kept))
    return out


@settings(**_PROP)
@given(rows=_corpora, k=st.integers(min_value=1, max_value=4))
@pytest.mark.slow
def test_substring_dedup_matches_python_model(spark, rows, k):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for key in ("digest", "hash64"):
        got = {
            r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
            for r in P.substring_dedup(
                docs, min_tokens=k, key=key
            ).collect()
        }
        assert got == _py_substring_dedup(rows, k)


@settings(**_PROP)
@given(
    rows=_corpora,
    k=st.integers(min_value=2, max_value=4),
    w=st.integers(min_value=2, max_value=4),
)
@pytest.mark.slow
def test_substring_dedup_winnow_matches_python_model(spark, rows, k, w):
    """The operator's row-local run-length selection rule must equal
    the ground-truth window-union winnowing definition end-to-end
    (digest mode: both sides order sha256 hex strings)."""
    if w > k:
        w = k
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in P.substring_dedup(
            docs, min_tokens=k, winnow=w, key="digest"
        ).collect()
    }
    assert got == _py_substring_dedup(rows, k, w)


_bpe_corpora = st.lists(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1, max_size=6,
    ),
    min_size=1, max_size=4,
)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    word_lists=_bpe_corpora, B=st.sampled_from([2, 5]),
    mode=st.sampled_from(["lazy", "fused"]),
)
@pytest.mark.slow
def test_bpe_fit_batched_property(spark, word_lists, B, mode):
    """Property (r13): on ADVERSARIALLY small alphabets (maximum
    candidate interaction — the regime where a wrong batch-truncation
    bound shows up as a rank swap) the batched fit equals the
    pure-Python classical reference exactly, counts included."""
    from flink_etl_spark.operators import text
    from tests.test_extensions import _ref_bpe_fit

    texts = [" ".join(ws) for ws in word_lists]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in text.bpe_fit(
            docs, 6, vocab_partitions=1, batch_merges=B,
            batch_verify=mode,
        ).orderBy("rank").collect()
    ]
    assert got == _ref_bpe_fit(texts, 6)
