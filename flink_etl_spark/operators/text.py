"""Text-analysis operators for training-data pipelines.

Language ID (stopword n-gram heuristic), quality scoring, token
counting, and document fingerprinting over the `documents` table
(extension surface, SURVEY.md §2.12). All pure column expressions —
nothing drops to Python. Tokenization and integer hashing compile in
whole-stage codegen; the lambda higher-order functions (`transform`,
`filter`, `zip_with`, `aggregate`) do not: Spark 4.1 implements them as
`CodegenFallback`, which keeps a projection holding one out of
whole-stage codegen, and evaluates the lambdas interpreted.
"""

from __future__ import annotations

from contextlib import ExitStack

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window
from flink_etl_spark.session import anchor, pinned_conf

from flink_etl_spark.functions.hashing import (
    MERSENNE_P,
    shingles_sql,
    tokens_sql,
)
from flink_etl_spark.functions.sql import dbl_lit, ident, str_lit

#: tiny embedded stopword lists per language — heuristic scoring tables
#: (public-knowledge closed-class words). Order of dict = tie-break order.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "nicht", "ist", "ein", "mit"),
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "en", "est", "que"),
    "zh": ("的", "是", "不", "了", "在", "人", "有", "我"),
}


def _count_in(tokens: str, words: tuple[str, ...]) -> str:
    """SQL text: how many elements of the array<string> SQL expression
    `tokens` are in `words`."""
    arr = ", ".join(str_lit(w) for w in words)
    return f"size(filter({tokens}, t -> array_contains(array({arr}), t)))"


def micro_floor_ratio(num: str, den: str, scale: int = 1_000_000) -> str:
    """SQL text for `floor(num*scale/den)/scale` with EXACT
    intermediates: num and den (SQL expressions) are integer-valued,
    num*scale stays below 2^53 (integer-exact in a double), and the
    single correctly-rounded IEEE division + floor produce
    bit-identical results in every engine. This is the
    cross-engine-safe way to emit a fixed-decimal quotient — round()
    is NOT: Spark (BigDecimal HALF_UP of the shortest repr) and DuckDB
    (fp multiply + std::round) resolve exact half-edges differently,
    and quotients like nd/n land on 6-decimal halves for whole
    families of n (e.g. n in {64, 320, 640}), flipping a value-hash
    on regenerated data. Truncation has no half-edge."""
    s = dbl_lit(float(scale))
    return (
        f"(floor(CAST({num} AS DOUBLE) * {s} / CAST({den} AS DOUBLE)) / {s})"
    )


def duckdb_micro_floor_ratio(num_sql: str, den_sql: str,
                             scale: int = 1_000_000) -> str:
    """Oracle twin of `micro_floor_ratio` — same op order, same types."""
    return (
        f"floor(CAST({num_sql} AS DOUBLE) * {float(scale)} / "
        f"CAST({den_sql} AS DOUBLE)) / {float(scale)}"
    )


def quality_micro(n: str, nd: str, hits_en: str) -> str:
    """SQL text for the composite quality score on a 1e-6 grid:
    0.4*min(1, n/100) + 0.3*nd/n + 0.3*min(1, 4*h/n)
    == (4*min(n,100)*n + 300*nd + 300*min(n, 4*h)) / (1000*n),
    emitted as floor(num*1000/n)/1e6 (see `micro_floor_ratio` for why
    floor-on-a-grid, never round). 6-dec-exact by construction, so
    `exact_decimal_avg(quality, 6)` remains valid downstream."""
    nl = f"CAST({n} AS BIGINT)"
    num = (
        f"least({nl}, CAST(100 AS BIGINT)) * 4 * {nl}"
        f" + CAST(300 AS BIGINT) * CAST({nd} AS BIGINT)"
        f" + CAST(300 AS BIGINT) * least({nl}, CAST({hits_en} AS BIGINT) * 4)"
    )
    return f"({micro_floor_ratio(num, nl, 1000)} / {dbl_lit(1000.0)})"


def duckdb_quality_micro(n_sql: str, nd_sql: str, h_sql: str) -> str:
    """Oracle twin of `quality_micro`."""
    num = (
        f"(4 * least({n_sql}, 100) * {n_sql} + 300 * {nd_sql} "
        f"+ 300 * least({n_sql}, 4 * {h_sql}))"
    )
    return f"({duckdb_micro_floor_ratio(num, n_sql, 1000)} / 1000.0)"


#: per-token contribution and fold of the rolling document fingerprint
#: over the staged token array `_t` (see `fingerprints`)
_FINGERPRINT_SQL = (
    "aggregate(transform(_t, t -> CAST(ascii(t) * 131 + length(t) AS BIGINT)), "
    f"CAST(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % {MERSENNE_P})"
)


def _tokenized(docs: DataFrame, *cols: str, text_col: str) -> DataFrame:
    """The staged tokenization projection: `cols` plus the token array
    `_t` of `text_col`. Tokens are projected once — inlining the split
    into every stat expression re-runs the regex per use (see
    dedup.shingle_sets)."""
    return docs.selectExpr(
        *map(ident, cols), f"{tokens_sql(ident(text_col))} AS _t"
    )


def _lang_guess() -> str:
    """greatest-of-structs argmax over the per-language stopword hits
    of the staged `_t` (ties break on the LARGEST language code)."""
    packed = ", ".join(
        f"struct({_count_in('_t', ws)} AS s, {str_lit(lang)} AS l)"
        for lang, ws in STOPWORDS.items()
    )
    return f"greatest({packed}).l"


def lang_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-language stopword hit counts + argmax guess.

    greatest-of-structs trick for a deterministic argmax: pack
    (score, lang) structs and take `greatest(...)`, so ties break on the
    lexicographically LARGEST language code — replicated exactly in the
    oracle. Heuristic n-gram language ID per the public fastText/CLD
    lineage, reduced to closed-class word hits."""
    base = _tokenized(docs, id_col, text_col=text_col).selectExpr(
        ident(id_col),
        "_t",
        *[f"{_count_in('_t', ws)} AS hits_{lang}" for lang, ws in STOPWORDS.items()],
    )
    packed = ", ".join(
        f"struct(hits_{lang} AS s, {str_lit(lang)} AS l)" for lang in STOPWORDS
    )
    return base.selectExpr(
        ident(id_col),
        *[f"hits_{lang}" for lang in STOPWORDS],
        f"greatest({packed}).l AS lang_guess",
    )


def _quality_sql() -> str:
    return quality_micro(
        "size(_t)", "size(array_distinct(_t))", _count_in("_t", STOPWORDS["en"])
    )


def quality_scores(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                   chars_col: str = "n_chars") -> DataFrame:
    """Composite quality score from length / vocabulary richness /
    stopword-density signals (public Gopher/C4-style filter heuristics,
    reduced to what the synthetic corpus exercises):

        0.4*min(1, n_tokens/100) + 0.3*distinct_ratio
      + 0.3*min(1, 4*stopword_ratio)

    plus a keep/flag verdict at 0.5."""
    score = _quality_sql()
    return _tokenized(docs, id_col, chars_col, text_col=text_col).selectExpr(
        ident(id_col),
        ident(chars_col),
        "size(_t) AS n_tokens",
        f"{micro_floor_ratio(_count_in('_t', STOPWORDS['en']), 'size(_t)')} AS stopword_ratio",
        f"{score} AS quality",
        f"CASE WHEN {score} >= {dbl_lit(0.5)} THEN 'keep' ELSE 'flag' END AS verdict",
    )


def doc_profile(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chars_col: str = "n_chars",
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """EVERY per-document text signal in ONE projection over ONE scan:
    token stats, per-language stopword hits + argmax, quality score +
    verdict, and the rolling fingerprint.

    This is the operator a 100 TB prep pipeline actually runs: the
    individual operators above exist as composable units, but chaining
    them joins N single-signal scans; at corpus scale tokenization IS
    the cost, so all signals must come off one tokenization. No
    Python runs, but not everything compiles: the tokenizing
    projection is whole-stage codegen, while the signal projection
    holds Spark 4.1's higher-order functions (`ArrayTransform`,
    `ArrayFilter`, `ArrayAggregate`, `ZipWith`), which are
    `CodegenFallback`. That keeps the signal projection out of
    whole-stage codegen (a `Project` without `*` in docs/PLANS.md) and
    evaluates every lambda interpreted. They, not the tokenizer, are
    most of the stage's CPU (a JFR profile of the perfbench corpus
    chain put `ArrayFilter.eval` at 68% of the keepers' profile
    stage).

    `passthrough` names extra input columns to carry into the output
    unchanged (e.g. `("source",)`) — a consumer that needs them then
    never joins back to the corpus for metadata, keeping multi-stage
    pipelines at ONE corpus scan."""
    score = _quality_sql()
    kept = [ident(c) for c in (id_col, text_col, chars_col, *passthrough)]
    return _tokenized(
        docs, id_col, text_col, chars_col, *passthrough, text_col=text_col
    ).selectExpr(
        *kept,
        "size(_t) AS n_tokens",
        "size(array_distinct(_t)) AS n_distinct",
        f"{micro_floor_ratio('aggregate(_t, 0, (acc, t) -> acc + length(t))', 'size(_t)')}"
        " AS avg_token_len",
        f"{micro_floor_ratio('size(array_distinct(_t))', 'size(_t)')} AS distinct_ratio",
        f"{micro_floor_ratio(_count_in('_t', STOPWORDS['en']), 'size(_t)')} AS stopword_ratio",
        *[f"{_count_in('_t', ws)} AS hits_{lang}" for lang, ws in STOPWORDS.items()],
        f"{_lang_guess()} AS lang_guess",
        f"{score} AS quality",
        f"CASE WHEN {score} >= {dbl_lit(0.5)} THEN 'keep' ELSE 'flag' END AS verdict",
        f"{_FINGERPRINT_SQL} AS fingerprint",
    )


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling document fingerprint:

        acc = (acc*31 + ascii(token[0])*131 + len(token)) mod P

    folded left-to-right over the token sequence — a polynomial rolling
    hash (Rabin-Karp family) computable in any engine with a sequential
    list fold; detects exact-content duplicates without shipping text."""
    # two-step (map token -> contribution, then fold) so the fold lambda
    # is (long, long) -> long — replicable by engines whose list-fold
    # lacks an explicit init (DuckDB list_reduce seeds with element 0)
    return _tokenized(docs, id_col, text_col=text_col).selectExpr(
        ident(id_col), f"{_FINGERPRINT_SQL} AS fingerprint"
    )


#: 1:1 accent-folding table (Latin-1 supplement + Latin Extended-A
#: common cases) — an explicit pair of parallel strings rather than a
#: library NFKD pass so the SAME mapping runs in Spark's translate()
#: and DuckDB's, character-for-character. Multi-char expansions (ß→ss,
#: Œ→OE) are NOT in scope of a 1:1 translate and stay untouched.
ACCENT_SRC = (
    "ÀÁÂÃÄÅàáâãäåÈÉÊËèéêëÌÍÎÏìíîïÒÓÔÕÖØòóôõöøÙÚÛÜùúûü"
    "ÇçÑñÝýÿĀāĒēĪīŌōŪūŠšŽž"
)
ACCENT_DST = (
    "AAAAAAaaaaaaEEEEeeeeIIIIiiiiOOOOOOooooooUUUUuuuu"
    "CcNnYyyAaEeIiOoUuSsZz"
)


def normalize_text(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "norm_text",
    strip_control: bool = True,
    fold_accents: bool = True,
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> DataFrame:
    """Canonicalize text the way public dedup pipelines do before
    hashing (CCNet's lowercase+accent normalization, C4's whitespace
    cleanup): a fixed step order of

    1. control characters (C0 + DEL) -> space,
    2. 1:1 accent folding (`ACCENT_SRC` -> `ACCENT_DST`),
    3. lowercasing,
    4. whitespace-run collapse to a single space + trim,

    each step toggleable, all pure codegen string expressions — zero
    shuffles, zero Python. Canonicalizing BEFORE `exact_dedup` /
    `minhash_profile` is what makes "same text modulo case/accents/
    whitespace" one dedup key at 100 TB; the step order matters
    (folding before lowering keeps the table ASCII-target, collapsing
    last removes the spaces step 1 introduced). Output: the input
    columns plus `out_col`. Raises on a name collision the same way
    `pii_redact` does."""
    if out_col in docs.columns:
        raise ValueError(
            f"normalize_text: out_col {out_col!r} collides with an input "
            "column — pick a distinct name"
        )
    s: Column = F.coalesce(F.col(text_col), F.lit(""))
    if strip_control:
        s = F.regexp_replace(s, "[\\x00-\\x1f\\x7f]", " ")
    if fold_accents:
        s = F.translate(s, ACCENT_SRC, ACCENT_DST)
    if lowercase:
        s = F.lower(s)
    if collapse_ws:
        s = F.trim(F.regexp_replace(s, "\\s+", " "))
    return docs.select("*", s.alias(out_col))


def duckdb_normalize_sql(
    text_sql: str,
    strip_control: bool = True,
    fold_accents: bool = True,
    lowercase: bool = True,
    collapse_ws: bool = True,
) -> str:
    """DuckDB twin of `normalize_text`'s expression chain — identical
    step order and tables; DuckDB's regexp_replace needs the explicit
    'g' flag where Spark's replaces all matches by default."""
    s = f"coalesce({text_sql}, '')"
    if strip_control:
        s = f"regexp_replace({s}, '[\\x00-\\x1f\\x7f]', ' ', 'g')"
    if fold_accents:
        s = f"translate({s}, '{ACCENT_SRC}', '{ACCENT_DST}')"
    if lowercase:
        s = f"lower({s})"
    if collapse_ws:
        s = f"trim(regexp_replace({s}, '\\s+', ' ', 'g'))"
    return s


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by TF-IDF (tf * ln(N/df), no smoothing
    — plain Robertson/Sparck-Jones idf so the SQL oracle is exact).

    Plan shape at scale: one explode + (doc, term) count for TF, one
    term-level aggregate for DF (map-side combined), N as a broadcast
    1-row aggregate, top-k per doc via WindowGroupLimit — two shuffles
    total (term counts, per-doc rank), nothing quadratic, no
    vocabulary dictionary (terms stay strings end-to-end).
    Deterministic: scores rounded before ranking, ties break on term."""
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(tokens_sql(ident(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df_ = toks.select(id_col, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .join(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rnk")
    )


def bigram_lm_scores(
    docs: DataFrame,
    fit_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_terms: bool = True,
) -> DataFrame:
    """Bigram language-model quality scoring — the order-1 step up
    from `unigram_lm_scores` toward CCNet's KenLM filter: score each
    document by the add-one-smoothed conditional log-probability of
    its token BIGRAMS under a fit corpus,
    ``logP(w2|w1) = ln((C2(w1 w2) + 1) / (C1(w1·) + V))``. Unlike the
    unigram score, shuffled-token garbage scores LOW here even when
    every individual token is corpus-frequent — word order is the
    signal.

    Output per scored document (docs with >= 2 tokens):
    ``(id, n_tokens, n_bigrams, mean_logp_micro, novel_bigram_frac)``
    — `mean_logp_micro` is the mean of per-bigram MICRO-floored log
    probabilities (integer sum, one exact int/int double division —
    the order-independent summed-float contract, see `bm25_topk`);
    `novel_bigram_frac` is the micro-floored fraction of bigrams
    absent from the fit corpus (the contamination/novelty signal —
    near 0 flags the document as recombined fit-corpus text).

    `fit_docs=None` self-fits (every bigram seen; smoothing inert);
    the CCNet setting passes a held-out/reference fit corpus. Scale
    shape: both corpora tokenize once; C2/C1/V are map-side-combined
    aggregates; the scored bigram stream joins the count tables on
    the bigram / prefix keys (64-bit xxhash64 ids under the
    `hash_terms=True` production default — the gate pins strings) and
    V broadcasts as one row."""
    fit = fit_docs if fit_docs is not None else docs
    t_sql = tokens_sql(ident(text_col))
    t = F.expr(t_sql)

    def bg_frame(d: DataFrame, with_meta: bool) -> DataFrame:
        meta = (
            [F.col(id_col), F.size(t).alias("n_tokens")] if with_meta else []
        )
        f = d.select(
            *meta, F.explode(F.expr(shingles_sql(t_sql, 2))).alias("_bgs")
        ).withColumn("_w1s", F.substring_index("_bgs", " ", 1))
        keys = [
            (F.xxhash64("_bgs") if hash_terms else F.col("_bgs")).alias("_bg"),
            (F.xxhash64("_w1s") if hash_terms else F.col("_w1s")).alias("_w1"),
        ]
        return f.select(
            *([id_col, "n_tokens"] if with_meta else []), *keys
        )

    fitf = bg_frame(fit, False)
    c2 = fitf.groupBy("_bg").agg(F.count("*").alias("_c2"))
    c1 = fitf.groupBy("_w1").agg(F.count("*").alias("_c1"))
    vf = (
        fit.select(F.explode(t).alias("_tk"))
        .agg(F.countDistinct("_tk").alias("_v"))
    )
    lp = F.floor(
        F.log(
            (F.coalesce(F.col("_c2"), F.lit(0)) + F.lit(1.0))
            / (F.coalesce(F.col("_c1"), F.lit(0)) + F.col("_v"))
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    novel = F.when(F.col("_c2").isNull(), F.lit(1)).otherwise(F.lit(0))
    scored = (
        bg_frame(docs, True)
        .join(c2, "_bg", "left")
        .join(c1, "_w1", "left")
        .join(F.broadcast(vf))
        .select(id_col, "n_tokens", lp.alias("_lp"), novel.alias("_novel"))
    )
    return (
        scored.groupBy(id_col, "n_tokens")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("_lp").alias("_s"),
            F.sum("_novel").alias("_n"),
        )
        .select(
            id_col,
            "n_tokens",
            "n_bigrams",
            (F.col("_s").cast("double") / F.col("n_bigrams")).alias(
                "mean_logp_micro"
            ),
            F.expr(micro_floor_ratio("_n", "n_bigrams")).alias(
                "novel_bigram_frac"
            ),
        )
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    hash_terms: bool = True,
) -> DataFrame:
    """Okapi BM25 lexical retrieval: top-k documents per query
    (Robertson et al., TREC-3 — the standard keyword-search scoring
    every retrieval stack defaults to). One row per
    ``(query_id, doc_id, score, rnk)``, ``rnk <= k``. Query term sets
    are DISTINCT (the common qtf=1 simplification, documented).

    ``hash_terms=True`` (production default, the `unigram_lm_scores`
    discipline): terms travel as 64-bit xxhash64 ids, so the tf
    exchange and the df/query joins carry 8-byte keys instead of term
    strings; a 64-bit collision merges two terms' statistics —
    negligible at any realistic vocabulary, and scores change only if
    a collision involves a query term. The oracle gate pins
    ``hash_terms=False`` (exact string terms).

    Scale shape: the corpus tokenizes ONCE (tf + doc length); df and
    the (N, avgdl) statistics are map-side-combined aggregates; the
    query term set is tiny by construction and BROADCAST onto the tf
    table, so the corpus never joins itself — the exchanges are the
    (doc, term) tf count and the per-(query, doc) score sum, both
    data-proportional. The dl/df side tables join on term/doc keys.

    Determinism across engines (the oracle contract): per-term weights
    are floored to MICRO-integers BEFORE the sum — float addition is
    not associative, so a double sum would depend on aggregation
    order; integer sums are order-independent. The emitted `score` is
    score_micro / 1e6 (one exact integer-to-double division). The
    arithmetic is parenthesized identically in the SQL oracle."""
    if k1 < 0 or not 0 <= b <= 1:
        raise ValueError(f"need k1 >= 0 and 0 <= b <= 1, got k1={k1}, b={b}")
    term = (
        F.xxhash64(F.col("_t")) if hash_terms else F.col("_t")
    ).alias("term")
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(tokens_sql(ident(text_col)))).alias("_t")
    ).select(id_col, term)
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dl = toks.groupBy(id_col).agg(F.count("*").alias("dl"))
    df_ = toks.select(id_col, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    qterms = (
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.explode(F.expr(tokens_sql(ident(query_text_col)))).alias("_t"),
        )
        .select("query_id", term)
        .distinct()
    )
    idf = F.log(
        ((F.col("n_docs") - F.col("df") + F.lit(0.5))
         / (F.col("df") + F.lit(0.5))) + F.lit(1.0)
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + (F.lit(b) * (F.col("dl") / F.col("avgdl")))
    )
    w_micro = F.floor(
        (idf * ((F.col("tf") * F.lit(k1 + 1.0)) / denom)) * F.lit(1_000_000.0)
    ).cast("long")
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(df_, "term")
        .join(dl, id_col)
        .join(F.broadcast(stats))
        .select(
            "query_id", F.col(id_col).alias("_doc"),
            w_micro.alias("_w"),
        )
        .groupBy("query_id", "_doc")
        .agg(F.sum("_w").alias("_score_micro"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_score_micro").desc(), F.col("_doc")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query_id",
            F.col("_doc").alias(id_col),
            (F.col("_score_micro").cast("double") / F.lit(1_000_000.0)
             ).alias("score"),
            "rnk",
        )
    )


def unigram_lm_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab: DataFrame | None = None,
    vocab_term_col: str = "term",
    vocab_tf_col: str = "tf",
    rare_tf_max: int = 2,
    hash_terms: bool = True,
    broadcast_vocab: bool = True,
) -> DataFrame:
    """Unigram language-model quality scoring — the public CCNet
    (Wenzek et al. 2020) / KenLM-filter methodology reduced to its
    order-0 core: score each document by how (un)surprising its tokens
    are under a corpus unigram distribution, then filter/bucket on the
    score. Fluent boilerplate scores high, lorem-ipsum/garbage low.

    ``vocab=None`` (default) fits the LM on ``docs`` itself; pass a
    ``(term, tf)`` DataFrame to score against a reference corpus (the
    CCNet setting — e.g. Wikipedia counts), where unseen tokens are
    out-of-vocabulary. One Laplace-smoothed formula covers both modes:

        p(w) = (tf(w) + 1) / (T + V),   tf(w) = 0 for OOV

    with T = total vocab tokens, V = vocab size.

    Output, one row per document:

    * ``n_tokens``;
    * ``mean_tf_micro`` — micro-floored mean corpus frequency of the
      doc's tokens (OOV = 0): INTEGER-exact (oracle-gateable), the
      common-token-ness signal;
    * ``rare_frac_micro`` — micro-floored fraction of tokens with
      tf <= ``rare_tf_max`` (OOV counts as rare): integer-exact;
    * ``logprob_per_token`` / ``ppl`` — mean token log-probability and
      perplexity exp(-mean): DOUBLE (cross-row float sums are
      order-dependent in the last ulp, so these are tolerance-tested,
      never hash-gated — see catalog/__init__ determinism rules).

    Plan shape at scale: one explode + term-keyed aggregate builds the
    tf table (persist it when self-fitting a reused LM); totals ride a
    broadcast 1-row aggregate; the corpus joins the vocab map-side
    (``broadcast_vocab`` — word-level vocabularies cap out in the low
    millions, MBs against corpus TBs) and aggregates per doc, so the
    only corpus-sized shuffle is the per-doc aggregate of 4 numeric
    columns. ``hash_terms`` (default) joins on ``xxhash64(token)`` —
    8-byte join keys, token strings never leave the scan (~V^2/2^65
    odds of a collision merging two terms); the oracle gate pins
    ``hash_terms=False`` where the join is on exact strings.

    Reference parity: no LM surface in the reference (jiamx/flink-etl);
    extends SURVEY.md §2.12's quality-filter family per the public
    CCNet recipe."""
    if rare_tf_max < 0:
        raise ValueError(f"rare_tf_max must be >= 0, got {rare_tf_max}")
    toks = docs.select(
        F.col(id_col), F.explode(F.expr(tokens_sql(ident(text_col)))).alias("_tok")
    )
    key = (
        F.xxhash64(F.col("_tok")) if hash_terms else F.col("_tok")
    ).alias("_k")
    corpus_keyed = toks.select(F.col(id_col), key)
    if vocab is None:
        # persisted: the tf table feeds BOTH the broadcast join and the
        # totals aggregate — unpersisted, the corpus would tokenize and
        # term-shuffle twice (vocab-sized cache, corpus-sized saving)
        tf = corpus_keyed.groupBy("_k").agg(F.count("*").alias("_tf")).persist()
    else:
        vkey = (
            F.xxhash64(F.col(vocab_term_col))
            if hash_terms
            else F.col(vocab_term_col)
        ).alias("_k")
        tf = (
            vocab.select(vkey, F.col(vocab_tf_col).cast("long").alias("_tf"))
            .groupBy("_k")
            .agg(F.sum("_tf").alias("_tf"))
        )
    totals = tf.agg(
        F.sum("_tf").alias("_T"), F.count("*").alias("_V")
    )
    vocab_side = F.broadcast(tf) if broadcast_vocab else tf
    joined = (
        corpus_keyed.join(vocab_side, "_k", "left")
        .crossJoin(F.broadcast(totals))
    )
    tf0 = F.coalesce(F.col("_tf"), F.lit(0).cast("long"))
    logp = F.log((tf0 + 1).cast("double") / (F.col("_T") + F.col("_V")))
    per_doc = joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(tf0).alias("_sum_tf"),
        F.sum((tf0 <= rare_tf_max).cast("long")).alias("_n_rare"),
        F.sum(logp).alias("_sum_logp"),
    )
    mean_logp = F.col("_sum_logp") / F.col("n_tokens")
    return per_doc.select(
        F.col(id_col),
        "n_tokens",
        F.expr(micro_floor_ratio("_sum_tf", "n_tokens")).alias(
            "mean_tf_micro"
        ),
        F.expr(micro_floor_ratio("_n_rare", "n_tokens")).alias(
            "rare_frac_micro"
        ),
        mean_logp.alias("logprob_per_token"),
        F.exp(-mean_logp).alias("ppl"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer vocabulary training (Sennrich et al. 2016)
# ---------------------------------------------------------------------------

#: BPE symbol-sequence separator (U+001F UNIT SEPARATOR — a control
#: char the `\w+|[^\w\s]` pre-tokenizer emits only as a lone
#: punctuation token, which the fit/encode paths filter out).
BPE_SEP = "\x1f"
_BPE_SEP2 = BPE_SEP * 2

#: the GPT-2-family pre-tokenizer reduced to its regex core — MUST stay
#: byte-identical to the `text_bpe_pretokens` gate's pattern (word runs
#: and single punctuation marks; ASCII \w in both Java and RE2)
BPE_PRETOKEN_RE = r"\w+|[^\w\s]"
#: the same pattern escaped for a Spark SQL string literal (the SQL
#: parser consumes one level of backslash)
_BPE_PRETOKEN_SQL = BPE_PRETOKEN_RE.replace("\\", "\\\\")


def _bpe_seq_expr(tok) -> Column:
    """Sep-encode one pre-token's character sequence: ``"ab"`` becomes
    ``"§§a§§b§§"`` (with ``§`` = U+001F). Every symbol is bounded by
    the double separator on BOTH sides, which makes greedy
    left-to-right BPE merge application equal to a single SQL
    ``replace(seq, '§l§§r§', '§lr§')``: the single-separator pattern
    margins guarantee a match only where ``l`` is an entire symbol and
    ``r`` is an entire symbol, and consecutive occurrences never share
    pattern characters (each match consumes one inner separator of
    each boundary pair) so non-overlapping scan order IS the BPE scan
    order. Identical expression exists in DuckDB (the oracle)."""
    return F.concat(
        F.lit(_BPE_SEP2),
        F.regexp_replace(tok, "(?s)(.)", "$1" + _BPE_SEP2),
    )


def _bpe_syms(seq) -> Column:
    """Decode a sep-string back to its symbol array."""
    return F.filter(F.split(seq, _BPE_SEP2), lambda x: x != "")


def bpe_word_counts(
    docs: DataFrame, text_col: str = "text"
) -> DataFrame:
    """The distinct pre-token count table a BPE fit iterates over —
    Sennrich et al. (2016)'s key scale move: the merge loop never
    touches the corpus again, only its VOCABULARY (distinct pre-tokens
    with counts, bounded by Heaps' law at millions of rows where the
    corpus is billions). One corpus-wide token-keyed aggregate; output
    columns (seq, cnt) where seq is the sep-encoded character
    sequence. Pre-tokens containing the separator char itself (a lone
    U+001F punctuation token) are dropped on both engines."""
    tok = F.explode(
        F.expr(
            f"regexp_extract_all(coalesce({text_col}, ''), "
            f"'{_BPE_PRETOKEN_SQL}', 0)"
        )
    ).alias("_tok")
    return (
        docs.select(tok)
        .filter(~F.col("_tok").contains(BPE_SEP))
        .groupBy("_tok")
        .agg(F.count("*").alias("cnt"))
        .select(_bpe_seq_expr(F.col("_tok")).alias("seq"), "cnt")
    )


def _bpe_pair_counts(words: DataFrame) -> DataFrame:
    """One fit round's pair-count aggregate over the sep-encoded word
    table: explode adjacent symbol pairs weighted by word frequency,
    sum per (l, r). The only exchange carries (pair, count) rows
    (plan-pinned in tests/test_plans.py)."""
    return (
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


def _bpe_quads(words: DataFrame) -> DataFrame:
    """(prev, l, r, nxt, cnt) rows — every adjacent symbol pair of
    every word with its two outer neighbors (NULL at the word edges),
    weighted by word count. The scan batched rounds bound their
    merges from."""
    return (
        words.select(_bpe_syms(F.col("seq")).alias("_s"), "cnt")
        .filter(F.size("_s") >= 2)
        .select(
            F.expr(
                "explode(transform(sequence(1, size(_s) - 1), i -> struct("
                "IF(i >= 2, element_at(_s, i - 1), NULL) AS prev, "
                "element_at(_s, i) AS l, element_at(_s, i + 1) AS r, "
                "IF(i + 2 <= size(_s), element_at(_s, i + 2), NULL) AS nxt)))"
            ).alias("_q"),
            "cnt",
        )
        .select("_q.prev", "_q.l", "_q.r", "_q.nxt", "cnt")
    )


def _bpe_neighbor_summary(quads: DataFrame, key: list) -> DataFrame:
    """Per ``key``: max_grp (largest single neighbor-pair group the
    pattern's occurrences would create, grouped by CURRENT neighbor
    names) and max_side (larger of the two side totals). See
    `_bpe_truncate_batch` for why these bound every created pair."""
    per_group = (
        quads.select(
            *key,
            F.explode(
                F.array(
                    F.when(
                        F.col("prev").isNotNull(),
                        F.struct(
                            F.lit("L").alias("side"),
                            F.col("prev").alias("nb"),
                        ),
                    ),
                    F.when(
                        F.col("nxt").isNotNull(),
                        F.struct(
                            F.lit("R").alias("side"),
                            F.col("nxt").alias("nb"),
                        ),
                    ),
                )
            ).alias("_np"),
            "cnt",
        )
        .filter(F.col("_np").isNotNull())
        .groupBy(*key, "_np")
        .agg(F.sum("cnt").alias("c"))
    )
    return (
        per_group.groupBy(*key, F.col("_np.side").alias("side"))
        .agg(F.max("c").alias("grp"), F.sum("c").alias("tot"))
        .groupBy(*key)
        .agg(
            F.max("grp").alias("max_grp"),
            F.max("tot").alias("max_side"),
        )
    )


def _bpe_topk_with_bounds(
    words: DataFrame, pair_counts: DataFrame, want: int
) -> list:
    """Batched-round candidate fetch: the top-``want`` pair ranking AND
    each candidate's neighbor bounds (`_bpe_truncate_batch`) in ONE
    Spark action, so a batched round is exactly one driver round-trip
    (751 actions vs B=1's 1024 at R=1024/B=16).

    Plan shape: sort-limit the pair counts, broadcast that ≤B-row
    frame into the quad scan, left-join the bounds back onto the
    ranking. The vocab-sized table is scanned thrice inside the one
    action (twice for the two ranking references, once for quads) —
    executor work a cluster parallelizes, traded for the round-trips
    it cannot. Returns ranking-ordered Rows with nullable
    max_grp/max_side (NULL when the candidate never occurs with a
    neighbor — bounds (0, 0))."""
    topk = pair_counts.orderBy(F.desc("c"), "l", "r").limit(want)
    quads = _bpe_quads(words).join(
        F.broadcast(topk.select("l", "r")), ["l", "r"]
    )
    summary = _bpe_neighbor_summary(quads, ["l", "r"])
    return (
        topk.join(summary, ["l", "r"], "left")
        .orderBy(F.desc("c"), "l", "r")
        .collect()
    )


def _bpe_truncate_batch(rows: list, products: set) -> tuple[list, str | None]:
    """Exactness guard for one batched round (see
    `bpe_fit(batch_merges=...)`): the longest prefix of the ranking
    ``rows`` (`_bpe_topk_with_bounds`' output: l, r, c, max_grp,
    max_side) that the one-merge-per-round loop would also take, in
    order. Pure driver-side — no Spark. ``products`` is every merged
    string the fit has minted so far. Three cuts, in order:

    * PREFIX: stop at the first candidate whose symbols touch an
      earlier member's symbols or merged string, or whose merged
      string repeats an earlier one (a merge changes the counts of
      the pairs it touches). Prefix, not skip-and-continue: a
      skipped conflicting pair keeps a REDUCED count that could still
      outrank later members, which no bound from the current table
      can exclude.
    * COLLISION: the created-pair bound below assumes every merge
      mints a NEW symbol. A member whose merged string equals an
      existing symbol unifies its created pairs with pre-existing
      ones, so it survives only as the batch's LAST element, where
      there is no later member for its unification mass to outrank.
    * UPPER BOUND: sequential BPE re-ranks after every merge, and the
      only pairs whose rank can RISE past a later member are those
      containing an earlier member's new symbol. With max_grp(M_j) the
      largest neighbor-pair group merge j's occurrences would create
      (grouped by CURRENT neighbor names; overlapping occurrences
      overcount — fine, upper bound), max_side(M_j) the larger of its
      two side totals (renames by earlier members only re-label
      positions within a side) and slack_j the summed counts of
      earlier members (the rename mass), every such pair is bounded
      by UB_j = min(max_grp + slack, max_side). Member i survives only
      while its count STRICTLY exceeds every earlier UB_j — ties lose.

    Returns (survivors, the rule that made the last cut — "prefix",
    or "ub" for the collision and upper-bound cuts — or None when the
    whole ranking survives)."""
    if len(rows) < 2:
        # a lone candidate is the round's exact argmax
        return list(rows), None
    accepted = [rows[0]]
    taken = {rows[0]["l"], rows[0]["r"]}
    merged = {rows[0]["l"] + rows[0]["r"]}
    for row in rows[1:]:
        m = row["l"] + row["r"]
        if {row["l"], row["r"]} & taken or {row["l"], row["r"], m} & merged:
            break
        accepted.append(row)
        taken |= {row["l"], row["r"]}
        merged.add(m)
    cut = "prefix" if len(accepted) < len(rows) else None
    out = []
    ub = 0
    slack = 0
    for row in accepted:
        if out and not row["c"] > ub:
            break
        out.append(row)
        if row["l"] + row["r"] in products:
            break
        ub = max(ub, min(int(row["max_grp"] or 0) + slack,
                         int(row["max_side"] or 0)))
        slack += int(row["c"])
    return out, ("ub" if len(out) < len(accepted) else cut)


def bpe_fit(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    vocab_partitions: int | None = None,
    batch_merges: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Distributed BPE tokenizer vocabulary training (Sennrich,
    Haddow & Birch 2016, "Neural Machine Translation of Rare Words
    with Subword Units") — the iterated merge-pair loop over the
    distinct pre-token count table:

    each round (1) counts adjacent symbol pairs weighted by word
    frequency, (2) takes the argmax pair under a TOTAL order
    (count DESC, left ASC, right ASC — deterministic across engines:
    UTF-8 byte collation on both), (3) applies the merge row-locally
    as one literal string replace (see `_bpe_seq_expr` for why replace
    IS greedy BPE application). Returns the merge table: one row per
    rank with columns (rank, left, right, pair_count) — ranks are
    1-based and stop early if the corpus runs out of pairs.

    100 TB shape: the corpus is touched ONCE (`bpe_word_counts`'
    token-keyed aggregate); every round after that runs on the
    vocabulary-sized table and exchanges only (pair, count) rows —
    the same bounded-round + tiny-aggregate machinery as
    `_star_components`' convergence loop — plus a 1-row argmax driver
    fetch per round. `session.anchor` caps the lineage per round
    exactly like the star loop (localCheckpoint by default; set
    ``spark.flinkEtlSpark.reliableCheckpoint=true`` + a checkpoint
    dir on a real cluster with executor churn).

    `vocab_partitions` repartitions the word-count table once before
    the loop: the per-round cost is R * (stages * partition count) in
    task-scheduling overhead, so a SMALL corpus (tests, the gate)
    should pin 1 while a 100 TB fit leaves it None (inherit the
    token-aggregate's parallelism).

    ``batch_merges=B`` attacks the one scale cost cluster size cannot
    reduce — R strictly-sequential driver rounds (~32k round-trips
    for a production vocabulary). Each round fetches the top-B
    candidates together with their neighbor bounds in one action
    (`_bpe_topk_with_bounds`), keeps the prefix the exactness guard
    admits (`_bpe_truncate_batch` — the result is EXACTLY the B=1
    sequence, not an approximation) and applies the survivors as one
    chained replace. Rounds shrink by the average surviving batch
    size; B=1 is the classical loop, byte-identical output for any B
    (property-tested). DEPLOYMENT RULE (docs/SCALING.md "Batched
    BPE"): **the classical B=1 loop is the default and the right
    choice on any normal cluster.** Count driver ACTIONS, not rounds:
    the bound scan costs more compute than the actions it saves
    unless one action costs more than the measured B=16 break-even,
    ~0.65 s — above the documented 200-500 ms stage-cycle band. Use
    batch_merges=16 only for extreme driver-to-cluster latency (WAN
    notebook drivers, schedulers queued at >= 0.7 s/action).

    The fit loop pins AQE off for classical rounds (measured 3.2x at
    the vocab_partitions=1 gate/test shape: 13.9 -> 4.4 s); batched
    rounds keep AQE — their 3-reference round plan needs the exchange
    reuse (333 vs 618 s at R=1024).

    ``stats`` (optional dict) receives {"rounds", "n_merges",
    "prefix_stops", "ub_stops"} — rounds is the driver-action count
    the batching exists to cut, and the stops count the rounds whose
    batch a rule last cut.

    Reference parity: no tokenizer surface in the reference
    (jiamx/flink-etl); extends SURVEY.md §2.12's text family with the
    one classic LLM-data-prep fit the engine lacked."""
    if not 1 <= n_merges <= 50_000:
        raise ValueError(
            f"n_merges must be in [1, 50000], got {n_merges} (merge "
            "tables beyond vocabulary scale are a misconfiguration)"
        )
    if not (isinstance(batch_merges, int) and 1 <= batch_merges <= 1024):
        raise ValueError(
            f"batch_merges must be an int in [1, 1024], got {batch_merges!r}"
        )
    spark = docs.sparkSession
    words = bpe_word_counts(docs, text_col)
    if vocab_partitions is not None:
        if vocab_partitions < 1:
            raise ValueError(
                f"vocab_partitions must be >= 1, got {vocab_partitions}"
            )
        # repartition, not coalesce: the knob's contract is "set the
        # loop's parallelism", and coalesce silently no-ops when asked
        # for MORE partitions than the token aggregate produced
        words = words.repartition(vocab_partitions)
    words = anchor(words)
    anchor_ref = words
    merges: list[tuple[int, str, str, int]] = []
    products: set[str] = set()
    rounds = 0
    stops = {"prefix": 0, "ub": 0}
    applied_since_anchor = 0
    # Pin AQE OFF for the classical (B=1) merge loop (r14, measured):
    # re-planning after every exchange turns each round's ONE action
    # into 2-6 jobs (tiny vocab: 27 jobs vs 13; loop wall 13.9 -> 4.4 s)
    # and a vocabulary-sized loop has nothing to adapt; the corpus-sized
    # word count above already ran under the session's AQE. AQE has no
    # per-plan switch, so the session conf is pinned for the loop.
    # Batched rounds keep AQE: its exchange reuse computes their
    # thrice-referenced pair-count aggregate once (R=1024, B=16: 617.9 s
    # AQE-off vs 333.1 s AQE-on).
    aqe_off = ExitStack()
    if batch_merges == 1:
        aqe_off.enter_context(
            pinned_conf(spark, "spark.sql.adaptive.enabled", "false")
        )
    with aqe_off:
        while len(merges) < n_merges:
            rounds += 1
            pair_counts = _bpe_pair_counts(words)
            want = min(batch_merges, n_merges - len(merges))
            if want > 1:
                top = _bpe_topk_with_bounds(words, pair_counts, want)
            else:
                top = (
                    pair_counts.orderBy(F.desc("c"), "l", "r")
                    .limit(want).collect()
                )
            if not top:
                break
            accepted, cut = _bpe_truncate_batch(top, products)
            if cut is not None:
                stops[cut] += 1
            col = F.col("seq")
            for row in accepted:
                l, r, c = row["l"], row["r"], row["c"]
                merges.append((len(merges) + 1, l, r, int(c)))
                products.add(l + r)
                col = F.replace(
                    col,
                    F.lit(BPE_SEP + l + _BPE_SEP2 + r + BPE_SEP),
                    F.lit(BPE_SEP + l + r + BPE_SEP),
                )
            words = words.select(col.alias("seq"), "cnt")
            # re-anchor the lineage every ~16 applied merges, not every
            # round: a handful of nested literal replaces recompute for
            # free on a vocab-sized table, while an eager checkpoint is a
            # whole extra job per round (measured 2x the loop wall at
            # R=8). Each re-anchor DROPS the reference to the previous
            # anchor: localCheckpoint blocks live at the RDD layer
            # (Dataset.unpersist cannot free them), so release is by the
            # ContextCleaner once GC collects the dropped Dataset — the
            # reference discipline here is what makes that possible for a
            # 50k-merge fit instead of pinning every vocab copy
            applied_since_anchor += len(accepted)
            if applied_since_anchor >= 16:
                words = anchor(words)
                anchor_ref = words
                applied_since_anchor = 0
    del anchor_ref
    if stats is not None:
        stats["rounds"] = rounds
        stats["n_merges"] = len(merges)
        stats["prefix_stops"] = stops["prefix"]
        stats["ub_stops"] = stops["ub"]
    return spark.createDataFrame(
        merges, "rank bigint, left string, right string, pair_count bigint"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame | list,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str = "inline",
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """Tokenize documents with a fitted BPE merge table: pre-tokenize,
    sep-encode each pre-token, apply the merges IN RANK ORDER (each a
    literal string replace — `_bpe_seq_expr`; word boundaries are four
    consecutive separators, which no two-separator pair pattern can
    cross, so the whole document encodes as one string), and split
    back to the subword token stream. Output: (id_col, tokens
    array<string>, n_tokens).

    The merge table is the tokenizer artifact — a bounded driver fetch
    (<= n_merges rows, the vocabulary), never corpus-scaled. Two
    plans:

    * ``method="inline"`` (default) — the merges compile into a chain
      of R literal replaces over each document: ZERO corpus shuffles.
      HARD-CAPPED at 128 merges: a single Column tree a
      few hundred replaces deep overflows Spark's parser stack
      (FAILED_TO_PARSE_TOO_COMPLEX, measured at R=300) — past the cap
      the operator raises and names the vocab plan.
    * ``method="vocab"`` — encode each DISTINCT pre-token once,
      broadcast the pre-token -> subwords map, and reassemble each
      document's stream by position (posexplode + broadcast join +
      one doc-keyed aggregate). The production plan for real merge
      tables (R ~ 32k): the replaces run over the VOCABULARY-sized
      frame in staged chunks of 64 (each chunk its own
      projection, so no Column tree ever exceeds the parser bound)
      with a lineage-anchoring localCheckpoint every
      2 chunks (the cadence bounds the depth Catalyst recurses over —
      CollapseProject re-inlines single-use projections, so staging
      alone does not) — vocab-sized materializations,
      never corpus-sized. Costs one corpus shuffle of
      (doc, pos, subwords) rows. Both methods are value-identical by
      test (including past the inline cap).

    ``broadcast_vocab`` (vocab plan only): ``None`` (default) counts
    the encoded vocabulary once (it is localCheckpoint-materialized
    anyway, so the count is on stored rows, not a recompute) and
    broadcasts it while it is under `_BPE_BROADCAST_MAX_VOCAB` rows —
    past that a Heaps'-law pre-token vocabulary (tens of millions of
    rows x subword arrays) can exceed the driver/broadcast budget, so
    the reassembly degrades to a plain shuffle join on `_tok` (one
    extra vocab-sized exchange, corpus side still exchanged once).
    ``True``/``False`` pin the strategy."""
    if method not in ("inline", "vocab"):
        raise ValueError(f"method must be 'inline' or 'vocab', got {method!r}")
    if isinstance(merges, DataFrame):
        rows = [
            (r["rank"], r["left"], r["right"])
            for r in merges.select("rank", "left", "right")
            .orderBy("rank")
            .collect()
        ]
    else:
        rows = [(r[0], r[1], r[2]) for r in sorted(merges)]
    pre = F.filter(
        F.expr(
            f"regexp_extract_all(coalesce({text_col}, ''), "
            f"'{_BPE_PRETOKEN_SQL}', 0)"
        ),
        lambda x: ~x.contains(BPE_SEP),
    )

    def apply_chunk(col: Column, chunk) -> Column:
        for _, l, r in chunk:
            col = F.replace(
                col,
                F.lit(BPE_SEP + l + _BPE_SEP2 + r + BPE_SEP),
                F.lit(BPE_SEP + l + r + BPE_SEP),
            )
        return col

    if method == "inline":
        if len(rows) > _BPE_INLINE_MAX:
            raise ValueError(
                f"method='inline' compiles {len(rows)} merges into one "
                f"expression tree, past the parser bound "
                f"(max {_BPE_INLINE_MAX}, FAILED_TO_PARSE_TOO_COMPLEX "
                "beyond it) — use method='vocab', which applies the "
                "merges in staged chunks over the vocabulary frame"
            )
        seq = F.aggregate(
            pre,
            F.lit(""),
            lambda acc, x: F.concat(acc, _bpe_seq_expr(x)),
        )
        toks = _bpe_syms(apply_chunk(seq, rows))
        return docs.select(
            F.col(id_col),
            toks.alias("tokens"),
            F.size(toks).alias("n_tokens"),
        )
    # vocab: the replaces run once per distinct pre-token, in staged
    # CHUNKS (one projection per chunk keeps every Column tree under
    # the parser bound; a periodic localCheckpoint caps lineage —
    # vocab-sized, never corpus-sized), then a broadcast map rebuilds
    # each document's stream in position order
    vocab = (
        docs.select(F.explode(pre).alias("_tok"))
        .distinct()
        .select("_tok", _bpe_seq_expr(F.col("_tok")).alias("_seq"))
    )
    for i in range(0, len(rows), _BPE_APPLY_CHUNK):
        vocab = vocab.select(
            "_tok",
            apply_chunk(F.col("_seq"), rows[i:i + _BPE_APPLY_CHUNK]).alias(
                "_seq"
            ),
        )
        # see bpe_fit's anchor note: rebinding drops the prior
        # anchor's only reference so the ContextCleaner can free its
        # RDD blocks after GC (Dataset.unpersist cannot)
        if (i // _BPE_APPLY_CHUNK + 1) % _BPE_APPLY_ANCHOR_EVERY == 0:
            vocab = anchor(vocab)
    vocab = vocab.select("_tok", _bpe_syms(F.col("_seq")).alias("_sub"))
    # materialize the finished pre-token -> subwords map once: the
    # broadcast-safety count below then reads stored blocks instead of
    # re-running the corpus distinct, and the join consumes the same
    # blocks (lineage is already anchor-capped; this is the final one)
    vocab = anchor(vocab)
    if broadcast_vocab is None:
        broadcast_vocab = vocab.count() <= _BPE_BROADCAST_MAX_VOCAB
    vocab_side = F.broadcast(vocab) if broadcast_vocab else vocab
    exploded = docs.select(
        F.col(id_col), F.posexplode_outer(pre).alias("_pos", "_tok")
    )
    return (
        exploded.join(vocab_side, "_tok", "left")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.expr(
                    "transform(array_sort(collect_list(struct(_pos, _sub))), "
                    "x -> coalesce(x._sub, array()))"
                )
            ).alias("tokens")
        )
        .select(
            id_col, "tokens", F.size("tokens").alias("n_tokens")
        )
    )


#: inline-encode merge cap — one Column tree a few hundred replaces
#: deep overflows Spark's parser stack (measured: fine at 100 merges,
#: FAILED_TO_PARSE_TOO_COMPLEX at 300)
_BPE_INLINE_MAX = 128
#: vocab-plan staging: merges applied per projection, and projections
#: between lineage-anchoring checkpoints of the vocab frame. The
#: anchor cadence bounds the COLLAPSED depth Catalyst recurses over
#: (CollapseProject inlines single-use aliases, so projections alone
#: don't cap depth): 2 x 64 = 128 replaces between anchors — the
#: measured-safe region (512 deep overflowed the JVM stack in the
#: optimizer at checkpoint time)
_BPE_APPLY_CHUNK = 64
_BPE_APPLY_ANCHOR_EVERY = 2

#: vocab-plan broadcast bound (distinct pre-tokens): at ~100+ bytes
#: per (pre-token, subword array) row, 4M rows is a few hundred MB —
#: the edge of a comfortable executor broadcast. A Heaps'-law
#: vocabulary on a 100 TB corpus can reach tens of millions of rows,
#: where the reassembly must degrade to a plain shuffle join instead
#: of failing the driver (`bpe_encode(broadcast_vocab=...)`)
_BPE_BROADCAST_MAX_VOCAB = 4_000_000

def bpe_stage_fit(
    docs: DataFrame,
    fit_path: str,
    n_merges: int,
    text_col: str = "text",
    vocab_partitions: int | None = None,
    batch_merges: int = 1,
) -> None:
    """Stage a BPE tokenizer fit once so encode runs reuse it — the
    `dsir_stage_fit` pattern applied to the tokenizer: a vocabulary is
    fit on a representative sample and then tokenizes every shard of a
    100 TB corpus (and the SAME artifact must tokenize eval and
    serving data byte-identically forever after), so the merge table
    must outlive the fitting job. Writes `<fit_path>/merges` (the
    (rank, left, right, pair_count) table — the artifact itself) plus
    a `_BPE_META.json` sidecar pinning {version, n_merges,
    pretoken_re, n_fitted} so a reader can refuse a mismatched or
    truncated artifact. `n_fitted` may be < n_merges when the corpus
    ran out of pairs (the fit's documented early stop). The fit
    options pass through to `bpe_fit`."""
    from flink_etl_spark.staged import BPE_META

    merges = bpe_fit(
        docs, n_merges, text_col=text_col, vocab_partitions=vocab_partitions,
        batch_merges=batch_merges,
    )
    merges.write.mode("overwrite").parquet(f"{fit_path}/merges")
    BPE_META.write(
        docs.sparkSession, fit_path,
        {
            "n_merges": n_merges,
            "pretoken_re": BPE_PRETOKEN_RE,
            "n_fitted": merges.count(),
        },
    )


def bpe_encode_staged(
    docs: DataFrame,
    fit_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    method: str | None = None,
    broadcast_vocab: bool | None = None,
) -> DataFrame:
    """Tokenize documents with a merge table staged by `bpe_stage_fit`
    — same output contract as `bpe_encode` (tokens, n_tokens;
    value-identical by test), with the artifact validated through the
    sidecar before a single row is read: a missing sidecar, a format
    bump, a changed pre-tokenizer regex, or a merges table whose row
    count disagrees with `n_fitted` (a half-written overwrite) all
    raise instead of silently tokenizing with the wrong vocabulary —
    the tokenizer is the one artifact where silent drift corrupts
    EVERY downstream token id.

    ``method=None`` (default) picks the plan from the artifact itself:
    inline (zero-shuffle) while the merge table fits the parser-bound
    cap, the chunk-staged vocab plan past it — so a caller never hits
    the inline cap by loading a production-sized artifact."""
    from flink_etl_spark.staged import BPE_META

    spark = docs.sparkSession
    meta = BPE_META.require(spark, fit_path)
    if meta.get("pretoken_re") != BPE_PRETOKEN_RE:
        raise ValueError(
            f"staged BPE fit at {fit_path} was fitted with pre-tokenizer "
            f"{meta.get('pretoken_re')!r} but this build uses "
            f"{BPE_PRETOKEN_RE!r} — token boundaries would differ; "
            "re-stage the fit"
        )
    merges = spark.read.parquet(f"{fit_path}/merges")
    n = merges.count()
    if n != int(meta.get("n_fitted", -1)):
        raise ValueError(
            f"staged BPE fit at {fit_path} has {n} merges but the sidecar "
            f"pins n_fitted={meta.get('n_fitted')!r} — half-written or "
            "tampered artifact; re-stage the fit"
        )
    if method is None:
        method = "inline" if n <= _BPE_INLINE_MAX else "vocab"
    return bpe_encode(docs, merges, id_col=id_col, text_col=text_col,
                      method=method, broadcast_vocab=broadcast_vocab)
