"""The SQL-text kernels of the corpus chain: conf-independent literals,
the winnowing selection against an independent window-union model, the
Python-side construction cost as a py4j round-trip count, and row
identity under both string-literal parser modes."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyspark.sql.functions as F
import pytest
from pyspark.sql import types as T

from flink_etl_spark.functions.sql import dbl_text, ident, lit, str_lit
from flink_etl_spark.operators import dedup, prep, text

ESCAPED = "spark.sql.parser.escapedStringLiterals"

#: strings no single-quoted escape form reads the same in both modes
AWKWARD = ["plain", "it's", "back\\slash", "\\'", "a''b", "é中\\n", "", "tab\tnl\n"]


@contextmanager
def _escaped(spark, mode: str):
    old = spark.conf.get(ESCAPED)
    spark.conf.set(ESCAPED, mode)
    try:
        yield
    finally:
        spark.conf.set(ESCAPED, old)


@pytest.mark.parametrize("mode", ["false", "true"])
def test_sql_literals_match_column_literals_in_both_parser_modes(spark, mode):
    vals = [0.5, -0.0, 1e-07, 1e16, -3.25e300, 5e-324, 1, -7, 2**31, -(2**31) - 1,
            True, None, *AWKWARD]
    with _escaped(spark, mode):
        got = spark.range(1).selectExpr(*[f"{lit(v)} AS c{i}" for i, v in enumerate(vals)])
        want = spark.range(1).select(*[F.lit(v).alias(f"c{i}") for i, v in enumerate(vals)])
        assert got.schema == want.schema
        row = got.collect()[0]
        assert list(row) == list(want.collect()[0])
        assert str(row[1]) == "-0.0"  # sign bit kept
        # identifiers: embedded backticks, spaces and dots stay one name
        names = ["we`ird col", "a.b", "`"]
        df = spark.range(1).selectExpr(*[f"1 AS {ident(n)}" for n in names])
        assert df.columns == names
        assert df.selectExpr(*map(ident, names)).columns == names
        nan = spark.range(1).selectExpr(f"{dbl_text(float('nan'))} AS x").collect()[0].x
        assert nan != nan


def test_str_lit_uses_plain_quotes_only_when_unambiguous():
    assert str_lit("the") == "'the'"
    assert str_lit("it's").startswith("CAST(X'")
    assert str_lit("a\\b").startswith("CAST(X'")


@pytest.mark.parametrize("mode", ["false", "true"])
def test_local_frame_strings_survive_both_parser_modes(spark, mode):
    from flink_etl_spark.operators.similarity import _local_frame

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("x", T.DoubleType()),
    ])
    rows = [(s, 0.1 * i) for i, s in enumerate(AWKWARD)]
    with _escaped(spark, mode):
        got = [tuple(r) for r in _local_frame(spark, rows, schema).collect()]
    assert got == rows


# ---------------------------------------------------------------------------
# winnowing: the operator against the window-union definition
# ---------------------------------------------------------------------------


def _window_union(anchors: list, w: int) -> list[int]:
    """Schleimer et al. 2003 winnowing, written from the definition:
    for every window of min(w, len) consecutive anchors, select the
    position of its minimum, the rightmost one on ties; return the
    union of the selected positions."""
    m = len(anchors)
    if m == 0:
        return []
    w = min(w, m)
    picked = set()
    for s in range(m - w + 1):
        best = s
        for p in range(s, s + w):
            if anchors[p] <= anchors[best]:
                best = p
        picked.add(best)
    return sorted(picked)


def _winnow_corpus() -> list[tuple[int, str]]:
    rng = random.Random(5)
    rows = [
        (1, " ".join(["a"] * 30)),  # every anchor equal
        (2, " ".join(["b", "c"] * 15)),  # period-2 ties
        (3, " ".join(["x", "y", "x", "x", "z"] * 6)),
        (4, "one two three four five six"),  # m < winnow at k=5, w>2
        (5, "p q r s"),  # m = 1 at k=4, no anchors at k>4
        (6, "short"),
        (7, ""),
        (8, None),
    ]
    for i in range(9, 17):  # small vocabulary: plenty of repeated grams
        rows.append((i, " ".join(rng.choice("abcd") for _ in range(rng.randint(3, 60)))))
    return rows


@pytest.mark.parametrize("k,w", [(4, 1), (4, 2), (4, 4), (5, 3), (5, 5), (3, 3), (6, 4)])
def test_document_fingerprints_match_window_union_model(spark, k, w):
    docs = spark.createDataFrame(_winnow_corpus(), "doc_id long, text string")
    dense: dict[int, dict[int, int]] = {}
    for r in prep.document_fingerprints(docs, min_tokens=k, winnow=1).collect():
        dense.setdefault(r.doc_id, {})[r.pos] = r.fingerprint
    # the dense arm is every anchor, and equal token windows carry equal
    # keys — the ties the rightmost-minimum rule has to break
    for doc_id, txt in _winnow_corpus():
        toks = (txt or "").split(" ")
        want_pos = list(range(len(toks) - k + 1))
        assert sorted(dense.get(doc_id, {})) == want_pos
        grams = [tuple(toks[p:p + k]) for p in want_pos]
        for p in want_pos:
            for q in want_pos:
                assert (grams[p] == grams[q]) == (dense[doc_id][p] == dense[doc_id][q])
    want = {
        (d, p, keys[p])
        for d, keys in dense.items()
        for p in _window_union([keys[p] for p in range(len(keys))], w)
    }
    got = {
        (r.doc_id, r.pos, r.fingerprint)
        for r in prep.document_fingerprints(docs, min_tokens=k, winnow=w).collect()
    }
    assert got == want


def _census(fps: list[tuple[int, object]], max_df, min_shared: int) -> set:
    """MOSS pair census from the definition: one posting list (set of
    documents) per fingerprint, lists longer than max_df skipped, every
    ordered pair of a list counted once per shared fingerprint."""
    posting: dict[object, set] = {}
    for doc_id, fp in fps:
        posting.setdefault(fp, set()).add(doc_id)
    counts: dict[tuple[int, int], int] = {}
    for ids in posting.values():
        if max_df is not None and len(ids) > max_df:
            continue
        ordered = sorted(ids)
        for x, a in enumerate(ordered):
            for b in ordered[x + 1:]:
                counts[(a, b)] = counts.get((a, b), 0) + 1
    return {(a, b, n) for (a, b), n in counts.items() if n >= min_shared}


@pytest.mark.parametrize("key", ["hash64", "digest"])
def test_fingerprint_candidates_match_posting_list_model(spark, key):
    clique = " ".join(f"c{j % 7}" for j in range(40))
    passage = " ".join(f"s{j}" for j in range(12))
    rows = _winnow_corpus() + [
        (20, clique), (21, clique), (22, clique),  # identical-document clique
        (23, f"lead {passage} tail"), (24, f"{passage} other words"),
        (25, f"x {clique} y"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    k, w = 4, 2
    fps = [
        (r.doc_id, r.fingerprint)
        for r in prep.document_fingerprints(docs, min_tokens=k, winnow=w, key=key).collect()
    ]
    for max_df in (None, 2, 3):
        for min_shared in (1, 2):
            want = _census(fps, max_df, min_shared)
            got = {
                (r.doc_a, r.doc_b, r.n_shared)
                for r in prep.fingerprint_candidates(
                    docs, min_tokens=k, winnow=w, key=key, max_df=max_df,
                    min_shared=min_shared,
                ).collect()
            }
            assert got == want, (max_df, min_shared)
            assert want  # the census is not vacuous
    # the clique pairs with itself unless max_df prunes its lists
    assert {(20, 21), (20, 22), (21, 22)} <= {p[:2] for p in _census(fps, None, 1)}


def test_fingerprint_candidates_stream_a_long_posting_list(spark):
    """2,000 identical one-fingerprint documents make ONE posting list.
    The exact census (max_df=None) streams its n*(n-1)/2 pairs one list
    member at a time instead of building them as one array value, and
    max_df drops the hot fingerprint before its list is collected."""
    n = 2000
    docs = spark.createDataFrame([(j, "a b c d e") for j in range(n)], "doc_id long, text string")
    census = prep.fingerprint_candidates(docs, min_tokens=5, winnow=1)
    got = census.agg(
        F.count("*"), F.min("n_shared"), F.max("n_shared"),
        F.min(F.col("doc_b") - F.col("doc_a")), F.sum(F.col("doc_b") - F.col("doc_a")),
    ).first()
    # every ordered pair once: sum over a < b of (b - a) is n(n^2-1)/6
    assert tuple(got) == (n * (n - 1) // 2, 1, 1, 1, n * (n * n - 1) // 6)
    plan = census._jdf.queryExecution().executedPlan().toString()
    assert "posexplode(_ids" in plan and "flatten(" not in plan

    capped = prep.fingerprint_candidates(docs, min_tokens=5, winnow=1, max_df=n - 1)
    assert capped.count() == 0
    plan = capped._jdf.queryExecution().executedPlan().toString()
    # the distinct-document cut sits below (prints after) the collect
    assert plan.index("partial_collect_set(") < plan.index("_df#")


# ---------------------------------------------------------------------------
# construction cost and conf independence of the corpus chain
# ---------------------------------------------------------------------------

_CORPUS = [
    (i, t, len(t or ""))
    for i, t in enumerate([
        "the cat sat on the mat and it is the best of the mats in the house",
        "the cat sat on the mat and it is the best of the mats in the home",
        "el gato de la casa que es un gato y en la casa",
        "der hund ist nicht mit dem ball und das ist ein spiel",
        "it's a back\\slash doc: the 'quoted' words and the of to in",
        "it's a back\\slash doc: the 'quoted' words and the of to in",
        " ".join(f"w{j % 40}" for j in range(120)),
        " ".join(f"w{j % 40}" for j in range(3, 123)),
        "",
        None,
    ])
]


def _chain(spark):
    """Thunks making the corpus chain's calls over a small corpus, as the
    benchmark chain makes them."""
    docs = spark.createDataFrame(_CORPUS, "doc_id long, text string, n_chars int")
    kept = docs.filter(F.col("text").isNotNull()).select("doc_id", "text")

    def keepers():
        prof = text.doc_profile(docs)
        return dedup.exact_dedup(
            prof.select(
                F.sha2("text", 256).alias("_digest"), "doc_id", "text",
                ((F.col("verdict") == "keep") & (F.col("lang_guess") == "en")).alias("_pass"),
            ),
            ["_digest"], "doc_id", carry_cols=("text",), where_col="_pass",
        )

    return {
        "keepers": keepers,
        "profile": lambda: text.doc_profile(docs),
        "near_dups": lambda: dedup.minhash_near_dups(kept, threshold=0.5),
        "near_dups_charfold": lambda: dedup.minhash_near_dups(
            kept, threshold=0.5, hash_fn="charfold"),
        "fingerprints": lambda: prep.fingerprint_candidates(
            kept, min_tokens=8, winnow=4),
        "fingerprints_digest": lambda: prep.fingerprint_candidates(
            kept, min_tokens=8, winnow=3, key="digest"),
    }


#: output schemas of the chain's calls (unchanged by the SQL-text rewrite)
_SCHEMAS = {
    "keepers": "struct<_digest:string,keep_id:bigint,n_copies:bigint,text:string>",
    "profile": (
        "struct<doc_id:bigint,text:string,n_chars:int,n_tokens:int,n_distinct:int,"
        "avg_token_len:double,distinct_ratio:double,stopword_ratio:double,hits_de:int,"
        "hits_en:int,hits_es:int,hits_fr:int,hits_zh:int,lang_guess:string,"
        "quality:double,verdict:string,fingerprint:bigint>"
    ),
    "near_dups": "struct<doc_a:bigint,doc_b:bigint,jaccard:double>",
    "near_dups_charfold": "struct<doc_a:bigint,doc_b:bigint,jaccard:double>",
    "fingerprints": "struct<doc_a:bigint,doc_b:bigint,n_shared:bigint>",
    "fingerprints_digest": "struct<doc_a:bigint,doc_b:bigint,n_shared:bigint>",
}

#: py4j round trips allowed while BUILDING one call (no action); the
#: Column-tree kernels took 2,807 / 4,311 / 3,454 on the bench chain
MAX_ROUND_TRIPS = 500

#: py4j's command prefix releasing a garbage-collected JVM reference:
#: these flush whatever Python dropped EARLIER, so they are not a cost
#: of the build being counted
_MEMORY_DELETE = "m\nd\n"


def test_corpus_chain_build_round_trips_are_bounded(spark):
    builds = _chain(spark)
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *a, **kw):
        calls[0] += not command.startswith(_MEMORY_DELETE)
        return send(command, *a, **kw)

    counts, schemas = {}, {}
    for name in ("keepers", "near_dups", "fingerprints"):
        client.send_command = counting
        try:
            calls[0] = 0
            df = builds[name]()
            counts[name] = calls[0]
        finally:
            client.send_command = send
        schemas[name] = df.schema.simpleString()
    assert all(0 < n <= MAX_ROUND_TRIPS for n in counts.values()), counts
    assert schemas == {n: _SCHEMAS[n] for n in schemas}


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda t: [str(x) for x in t]
    )


def test_corpus_kernels_do_not_depend_on_parser_escapes(spark):
    """The same rows, and the same schemas, with escapedStringLiterals
    off and on — no literal the kernels splice into SQL text changes
    meaning with the conf."""
    out = {}
    for mode in ("false", "true"):
        with _escaped(spark, mode):
            out[mode] = {}
            for name, build in _chain(spark).items():
                df = build()
                assert df.schema.simpleString() == _SCHEMAS[name], name
                out[mode][name] = _rows(df)
    assert out["false"] == out["true"]
    assert out["false"]["near_dups"], "the corpus plants near-duplicate pairs"
    assert out["false"]["fingerprints"], "the corpus plants a shared passage"
    assert any(r[1].startswith("it's") for r in out["false"]["profile"] if r[1])
