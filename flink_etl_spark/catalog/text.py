"""Text-analysis catalog queries over `documents`."""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_etl_spark.catalog import _t, query
from flink_etl_spark.functions.hashing import MERSENNE_P
from flink_etl_spark.operators import text as T
from flink_etl_spark.operators.text import STOPWORDS, micro_floor_ratio


def _profile_oracle() -> str:
    hit_cols = ",\n               ".join(
        "len(list_filter(t, x -> x IN ({}))) AS hits_{}".format(
            ", ".join(f"'{w}'" for w in ws), lang
        )
        for lang, ws in STOPWORDS.items()
    )
    unions = "\n        UNION ALL ".join(
        f"SELECT doc_id, '{lang}' AS l, hits_{lang} AS s FROM base"
        for lang in STOPWORDS
    )
    hits_out = ", ".join(f"b.hits_{lang}" for lang in STOPWORDS)
    from flink_etl_spark.operators.text import (
        duckdb_micro_floor_ratio as dmfr,
        duckdb_quality_micro,
    )

    score = duckdb_quality_micro("b.n_tokens", "b.n_distinct", "b.hits_en")
    return f"""
    WITH toks AS (SELECT doc_id, n_chars, regexp_split_to_array(text, ' +') AS t
                  FROM documents),
    base AS (
        SELECT doc_id, n_chars,
               len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct,
               list_sum(list_transform(t, x -> length(x))) AS tot_len,
               {hit_cols},
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(t, tok ->
                           CAST(ascii(tok) * 131 + length(tok) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % {MERSENNE_P}) AS fingerprint
        FROM toks
    ),
    scores AS (
        {unions}
    ),
    guess AS (
        SELECT doc_id, l AS lang_guess
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY s DESC, l DESC) AS rn
              FROM scores) t
        WHERE rn = 1
    )
    SELECT b.doc_id, b.n_chars, b.n_tokens, b.n_distinct,
           {dmfr("b.tot_len", "b.n_tokens")} AS avg_token_len,
           {dmfr("b.n_distinct", "b.n_tokens")} AS distinct_ratio,
           {dmfr("b.hits_en", "b.n_tokens")} AS stopword_ratio,
           {hits_out},
           g.lang_guess,
           {score} AS quality,
           CASE WHEN {score} >= 0.5 THEN 'keep' ELSE 'flag' END AS verdict,
           b.fingerprint
    FROM base b JOIN guess g ON b.doc_id = g.doc_id
    """


@query("text_doc_profile", _profile_oracle())
def text_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVERY per-document text signal off ONE tokenization pass
    (operators/text.py doc_profile — former gates `text_token_stats`,
    `text_lang_id`, `text_quality_score`, `text_fingerprint`, folded
    into the one-scan operator a 100 TB prep pipeline actually runs):

    * token counting + vocabulary richness (n_tokens, n_distinct,
      avg_token_len, distinct_ratio);
    * stopword-hit language ID with deterministic argmax (max score,
      tie -> lexicographically larger code);
    * composite quality heuristic (length/richness/stopword-density)
      with keep/flag verdict;
    * order-sensitive rolling polynomial fingerprint.

    The per-signal operators remain available as composable units
    (lang_scores/quality_scores/fingerprints, each unit-tested);
    chaining them would tokenize N times — at corpus
    scale tokenization IS the cost, so the profile computes all
    signals in one whole-stage-codegen projection."""
    return T.doc_profile(_t(spark, sf_dir, "documents")).drop("text")


#: deterministic PII-bearing text derived from real columns — the
#: synthetic corpus carries no PII, so the gate plants emails / NANP
#: phones / dotted-quad IPs as a pure function of (doc_id, source,
#: text). The SAME SQL string parses in Spark and DuckDB (concat /
#: CASE / lpad / CAST AS STRING / substr are in the common dialect),
#: so both engines redact the identical input.
_PII_DERIVE = (
    # coalesce(source, ''): Spark concat is NULL-propagating while
    # DuckDB's skips NULLs — an unguarded NULL source would null the
    # whole derived text in Spark only (split_buckets guards the same
    # asymmetry)
    "concat("
    "CASE WHEN doc_id % 3 = 0 THEN concat('mail ', coalesce(source, ''), '+', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), '@ex', "
    "CAST(doc_id % 10 AS STRING), '.org ') ELSE 'mail none ' END, "
    "CASE WHEN doc_id % 4 = 1 THEN concat('call ', "
    "lpad(CAST(doc_id % 1000 AS STRING), 3, '5'), '-555-', "
    "lpad(CAST(doc_id % 10000 AS STRING), 4, '9'), ' ') ELSE '' END, "
    "CASE WHEN doc_id % 5 = 2 THEN concat('host 10.', "
    "CAST(doc_id % 256 AS STRING), '.', CAST((doc_id * 7) % 256 AS STRING), "
    "'.', CAST(doc_id % 100 AS STRING), ' ') ELSE '' END, "
    "substr(text, 1, 30))"
)


def _pii_oracle_arm() -> str:
    from flink_etl_spark.operators.prep import duckdb_pii_sql

    sqls = duckdb_pii_sql("pii_text")
    return f"""
    SELECT doc_id,
           {sqls['n_email']} AS n_email,
           {sqls['n_phone']} AS n_phone,
           {sqls['n_ipv4']} AS n_ipv4,
           {sqls['redacted']} AS redacted
    FROM (SELECT doc_id, {_PII_DERIVE} AS pii_text FROM documents) p
    """


#: chunking-arm knobs: small enough that sf0.01 documents produce
#: multi-chunk outputs with a short final chunk (stride 150)
_CHUNK_CHARS = 200
_CHUNK_OVERLAP = 50

_CHUNK_PAD = """
           CAST(NULL AS BIGINT) AS chunk_idx,
           CAST(NULL AS BIGINT) AS chunk_start,
           CAST(NULL AS BIGINT) AS n_chunk_chars,
           CAST(NULL AS VARCHAR) AS chunk_text
"""

_NORM_PAD = """
           CAST(NULL AS VARCHAR) AS norm_text,
           CAST(NULL AS BIGINT) AS n_norm_chars
"""

#: deterministic MESSY text for the normalize arm — the synthetic
#: corpus is already clean ASCII, so the gate plants case / accents /
#: a control char / whitespace runs as a pure function of (doc_id,
#: text) in the Spark-DuckDB common dialect (concat / CASE / upper /
#: substr parse identically; coalesce guards Spark's NULL-propagating
#: concat). chr(9) is a literal tab in both engines.
_MESSY_DERIVE = (
    "concat("
    "CASE WHEN doc_id % 2 = 0 THEN 'Héllo\tWörld  ' ELSE '  CAFÉ naïve ' END, "
    "upper(substr(coalesce(text, ''), 1, 24)), "
    "'   ', substr(coalesce(text, ''), 25, 40))"
)


def _normalize_oracle_arm() -> str:
    from flink_etl_spark.operators.text import duckdb_normalize_sql

    return f"""
    SELECT doc_id, norm_text,
           CAST(length(norm_text) AS BIGINT) AS n_norm_chars
    FROM (SELECT doc_id, {duckdb_normalize_sql("messy")} AS norm_text
          FROM (SELECT doc_id, {_MESSY_DERIVE} AS messy FROM documents) m) n
    """


def _chunks_oracle_arm() -> str:
    """DuckDB twin of `prep.chunk_documents(chunk_chars=200,
    overlap=50)` over the doc_id % 7 = 0 slice — same integer-form
    chunk count (smallest n with n*stride + overlap >= len, floor 1,
    via the identical -floor(-(len-overlap)/stride) float expression)
    and the same 1-based substring windows."""
    stride = _CHUNK_CHARS - _CHUNK_OVERLAP
    return f"""
    SELECT doc_id,
           i AS chunk_idx,
           CAST(i * {stride} AS BIGINT) AS chunk_start,
           CAST(length(substr(txt, CAST(i * {stride} + 1 AS INT),
                              {_CHUNK_CHARS})) AS BIGINT) AS n_chunk_chars,
           substr(txt, CAST(i * {stride} + 1 AS INT), {_CHUNK_CHARS})
               AS chunk_text
    FROM (SELECT doc_id, coalesce(text, '') AS txt,
                 greatest(1, CAST(-floor(
                     (-(length(coalesce(text, '')) - {_CHUNK_OVERLAP}))
                     / {stride}.0) AS BIGINT)) AS n
          FROM documents WHERE doc_id % 7 = 0) d,
         UNNEST(range(0, n)) AS u(i)
    """


#: BPE-fit gate knobs: 8 merge rounds (enough to exercise
#: merged-symbol-joins-next-round chains on the synthetic corpus; the
#: oracle unrolls the loop as 8 chained CTE stages) over every
#: document; the encode arm tokenizes the doc_id % 13 = 5 slice
_BPE_MERGES_R = 8
_BPE_SLICE = "doc_id % 13 = 5"

_BPE_PAD = """
           CAST(NULL AS BIGINT) AS bpe_rank,
           CAST(NULL AS VARCHAR) AS bpe_left,
           CAST(NULL AS VARCHAR) AS bpe_right,
           CAST(NULL AS BIGINT) AS bpe_pair_count,
           CAST(NULL AS BIGINT) AS bpe_n_tokens,
           CAST(NULL AS VARCHAR) AS bpe_tokens_str
"""

#: DuckDB twins of operators/text's sep-encoding primitives (see
#: `_bpe_seq_expr` for why double-separator encoding makes greedy BPE
#: merge application equal to one non-overlapping string replace)
_BPE_S2 = "chr(31) || chr(31)"


def _bpe_enc_sql(col: str) -> str:
    return (
        f"{_BPE_S2} || regexp_replace({col}, '(.)', "
        f"'\\1' || {_BPE_S2}, 'gs')"
    )


def _bpe_fit_ctes(n: int) -> str:
    """The BPE fit loop unrolled as chained CTE stages — DuckDB cannot
    aggregate over a recursive reference, but the round count is a
    fixed literal, so round r's argmax (m{r}) and merged word table
    (w{r}) are plain CTEs reading w{r-1}. Identical total order to
    `bpe_fit` (count DESC, left, right — UTF-8 byte collation on both
    engines). If the corpus runs out of pairs, m{r}/w{r} go empty and
    every later stage stays empty — exactly the operator's early
    stop.

    Every w{r}/m{r} is MATERIALIZED: DuckDB inlines CTEs by default,
    and each stage is referenced by 2+ consumers, so an un-hinted
    chain re-derives w0 exponentially (2^R scans — measured 18.6 s at
    R=8/sf0.01 vs ~1 s materialized)."""
    parts = [
        rf"""
    w0 AS MATERIALIZED (
        SELECT {_bpe_enc_sql('tok')} AS seq, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT unnest(regexp_extract_all(coalesce(text, ''),
                     '\w+|[^\w\s]')) AS tok
              FROM documents) toks
        WHERE NOT contains(tok, chr(31))
        GROUP BY tok
    )"""
    ]
    for r in range(1, n + 1):
        parts.append(
            f"""
    p{r} AS (
        SELECT u.pr.l AS l, u.pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS c
        FROM (SELECT list_filter(string_split(seq, {_BPE_S2}),
                                 x -> x <> '') AS s, cnt
              FROM w{r - 1}) t,
             UNNEST(list_transform(range(1, len(s)),
                    i -> {{'l': s[i], 'r': s[i + 1]}})) AS u(pr)
        GROUP BY 1, 2
    ),
    m{r} AS MATERIALIZED (
        SELECT l, r, c FROM p{r} ORDER BY c DESC, l, r LIMIT 1),
    w{r} AS MATERIALIZED (
        SELECT replace(seq, chr(31) || l || {_BPE_S2} || r || chr(31),
                       chr(31) || l || r || chr(31)) AS seq, cnt
        FROM w{r - 1}, m{r}
    )"""
        )
    return ",".join(parts)


def _bpe_merges_oracle_arm(n: int) -> str:
    return "\n    UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS bpe_rank, l AS bpe_left, "
        f"r AS bpe_right, c AS bpe_pair_count FROM m{r}"
        for r in range(1, n + 1)
    )


def _bpe_tokens_oracle_arm(n: int) -> str:
    """Encode the gate slice with the fit CTEs' merge table: the doc
    sep-string gets the n replaces in rank order as scalar subqueries.
    An empty m{r} (corpus exhausted) coalesces pattern AND replacement
    to the same sentinel, making that replace an identity — matching
    the operator's shorter merge list."""
    doc_seq = (
        r"coalesce(list_aggregate(list_transform("
        r"list_filter(regexp_extract_all(coalesce(text, ''), "
        r"'\w+|[^\w\s]'), x -> NOT contains(x, chr(31))), "
        f"x -> {_bpe_enc_sql('x')}), 'string_agg', ''), '')"
    )
    applied = doc_seq
    for r in range(1, n + 1):
        pat = (
            f"coalesce((SELECT chr(31) || l || {_BPE_S2} || r || chr(31) "
            f"FROM m{r}), chr(1))"
        )
        rep = (
            f"coalesce((SELECT chr(31) || l || r || chr(31) "
            f"FROM m{r}), chr(1))"
        )
        applied = f"replace({applied}, {pat}, {rep})"
    return f"""
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS bpe_n_tokens,
           array_to_string(toks, ' ') AS bpe_tokens_str
    FROM (SELECT doc_id,
                 list_filter(string_split({applied}, {_BPE_S2}),
                             x -> x <> '') AS toks
          FROM documents WHERE {_BPE_SLICE}) e
    """


@query(
    "text_bpe_pretokens",
    rf"""
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(text, '\w+|[^\w\s]') AS toks
        FROM documents
    ),
    {_bpe_fit_ctes(_BPE_MERGES_R)}
    SELECT 'pretokens' AS variant,
           doc_id,
           len(toks) AS n_pretokens,
           len(list_filter(toks, x -> regexp_matches(x, '^\w+$'))) AS n_word,
           len(toks) - len(list_filter(toks, x -> regexp_matches(x, '^\w+$')))
               AS n_punct,
           -- coalesce: DuckDB list_sum([]) is NULL where Spark's
           -- aggregate-with-0-seed yields 0 — a whitespace-only doc
           -- must give 0.0 on both sides
           floor(CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE) * 1000000.0 / CAST(greatest(len(toks), 1) AS DOUBLE)) / 1000000.0
               AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           {_CHUNK_PAD},
           {_NORM_PAD},
           {_BPE_PAD}
    FROM t
    UNION ALL
    SELECT 'pii_redact' AS variant,
           doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           n_email, n_phone, n_ipv4, redacted,
           {_CHUNK_PAD},
           {_NORM_PAD},
           {_BPE_PAD}
    FROM ({_pii_oracle_arm()}) pii
    UNION ALL
    SELECT 'chunks' AS variant,
           doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           chunk_idx, chunk_start, n_chunk_chars, chunk_text,
           {_NORM_PAD},
           {_BPE_PAD}
    FROM ({_chunks_oracle_arm()}) ch
    UNION ALL
    SELECT 'normalize' AS variant,
           doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           {_CHUNK_PAD},
           norm_text, n_norm_chars,
           {_BPE_PAD}
    FROM ({_normalize_oracle_arm()}) nm
    UNION ALL
    SELECT 'bpe_merges' AS variant,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           {_CHUNK_PAD},
           {_NORM_PAD},
           bpe_rank, bpe_left, bpe_right, bpe_pair_count,
           CAST(NULL AS BIGINT) AS bpe_n_tokens,
           CAST(NULL AS VARCHAR) AS bpe_tokens_str
    FROM ({_bpe_merges_oracle_arm(_BPE_MERGES_R)}) bm
    UNION ALL
    SELECT 'bpe_merges_batched' AS variant,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           {_CHUNK_PAD},
           {_NORM_PAD},
           bpe_rank, bpe_left, bpe_right, bpe_pair_count,
           CAST(NULL AS BIGINT) AS bpe_n_tokens,
           CAST(NULL AS VARCHAR) AS bpe_tokens_str
    FROM ({_bpe_merges_oracle_arm(_BPE_MERGES_R)}) bmb
    UNION ALL
    SELECT 'bpe_tokens' AS variant,
           doc_id,
           CAST(NULL AS BIGINT) AS n_pretokens,
           CAST(NULL AS BIGINT) AS n_word,
           CAST(NULL AS BIGINT) AS n_punct,
           CAST(NULL AS DOUBLE) AS avg_pretoken_len,
           CAST(NULL AS BIGINT) AS n_email,
           CAST(NULL AS BIGINT) AS n_phone,
           CAST(NULL AS BIGINT) AS n_ipv4,
           CAST(NULL AS VARCHAR) AS redacted,
           {_CHUNK_PAD},
           {_NORM_PAD},
           CAST(NULL AS BIGINT) AS bpe_rank,
           CAST(NULL AS VARCHAR) AS bpe_left,
           CAST(NULL AS VARCHAR) AS bpe_right,
           CAST(NULL AS BIGINT) AS bpe_pair_count,
           bpe_n_tokens, bpe_tokens_str
    FROM ({_bpe_tokens_oracle_arm(_BPE_MERGES_R)}) bt
    """,
)
def text_bpe_pretokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex text processing, union-tagged:

    * variant 'pretokens' — BPE-style pre-tokenization counting
      (GPT-2-family pre-tokenizer reduced to its regex core: word runs
      and single punctuation marks). The real BPE merge table is
      model-specific; the pre-token count is the engine-side signal
      pipelines filter on.
    * variant 'pii_redact' — PII counting + redaction
      (operators/prep.pii_redact: email / NANP phone / IPv4, ordered
      regexp_replace chain) over deterministic PII planted into the
      corpus (`_PII_DERIVE` — the synthetic documents carry none).
      Counts come from the original text, redaction replaces with
      <EMAIL>/<PHONE>/<IP>; the oracle runs the identical RE2/Java
      common-subset patterns in DuckDB.
    * variant 'chunks' (r5) — fixed-window document chunking with
      overlap (operators/prep.chunk_documents: 200-char windows,
      50-char continuity overlap, zero shuffles — the RAG/long-doc
      context-window prep step) over the doc_id % 7 = 0 slice; every
      chunk's text, offset and length are value-gated.
    * variant 'normalize' (r5) — pre-dedup text canonicalization
      (operators/text.normalize_text: control-strip, 1:1 accent fold,
      lowercase, whitespace collapse — the CCNet/C4 cleanup order)
      over deterministically planted messy text (`_MESSY_DERIVE` — the
      synthetic corpus is already clean); every normalized string is
      value-gated against DuckDB running the identical chain.
    * variant 'bpe_merges' (r12) — distributed BPE tokenizer
      vocabulary training (operators/text.bpe_fit, Sennrich et al.
      2016): 8 merge rounds over the corpus, every (rank, left, right,
      pair_count) row value-gated against DuckDB replaying the fit as
      8 unrolled CTE stages with the identical argmax total order.
    * variant 'bpe_merges_batched' (r13) — the SAME fit through the
      batched merge selection (bpe_fit(batch_merges=8) —
      disjoint-prefix + created-pair bound): exact equality to the
      one-merge-per-round sequence is its contract, so it gates
      against the same unrolled-CTE oracle, rank for rank, count for
      count.
    * variant 'bpe_tokens' (r12) — BPE encoding of the doc_id % 13 = 5
      slice under the fitted merge table (operators/text.bpe_encode,
      inline literal-replace plan); the full subword token stream of
      every sliced document is value-gated.
    """
    from flink_etl_spark.operators.prep import chunk_documents, pii_redact
    from flink_etl_spark.operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    _chunk_pad = [
        F.lit(None).cast("long").alias("chunk_idx"),
        F.lit(None).cast("long").alias("chunk_start"),
        F.lit(None).cast("long").alias("n_chunk_chars"),
        F.lit(None).cast("string").alias("chunk_text"),
    ]
    _norm_pad = [
        F.lit(None).cast("string").alias("norm_text"),
        F.lit(None).cast("long").alias("n_norm_chars"),
    ]
    _bpe_pad = [
        F.lit(None).cast("long").alias("bpe_rank"),
        F.lit(None).cast("string").alias("bpe_left"),
        F.lit(None).cast("string").alias("bpe_right"),
        F.lit(None).cast("long").alias("bpe_pair_count"),
        F.lit(None).cast("long").alias("bpe_n_tokens"),
        F.lit(None).cast("string").alias("bpe_tokens_str"),
    ]
    toks = F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)")
    words = F.filter(F.col("_t"), lambda x: x.rlike("^\\w+$"))
    pretokens = docs.select(F.col("doc_id"), toks.alias("_t")).select(
        F.lit("pretokens").alias("variant"),
        "doc_id",
        F.size("_t").alias("n_pretokens"),
        F.size(words).alias("n_word"),
        (F.size("_t") - F.size(words)).alias("n_punct"),
        F.expr(micro_floor_ratio(
            "aggregate(_t, 0, (a, x) -> a + length(x))", "greatest(size(_t), 1)"
        )).alias("avg_pretoken_len"),
        F.lit(None).cast("long").alias("n_email"),
        F.lit(None).cast("long").alias("n_phone"),
        F.lit(None).cast("long").alias("n_ipv4"),
        F.lit(None).cast("string").alias("redacted"),
        *_chunk_pad,
        *_norm_pad,
        *_bpe_pad,
    )
    planted = docs.select("doc_id", F.expr(_PII_DERIVE).alias("pii_text"))
    pii = pii_redact(
        planted, text_col="pii_text", out_col="redacted", id_cols=["doc_id"]
    ).select(
        F.lit("pii_redact").alias("variant"),
        "doc_id",
        F.lit(None).cast("long").alias("n_pretokens"),
        F.lit(None).cast("long").alias("n_word"),
        F.lit(None).cast("long").alias("n_punct"),
        F.lit(None).cast("double").alias("avg_pretoken_len"),
        # Spark regexp_count returns INT; the oracle's len() is BIGINT
        F.col("n_email").cast("long").alias("n_email"),
        F.col("n_phone").cast("long").alias("n_phone"),
        F.col("n_ipv4").cast("long").alias("n_ipv4"),
        "redacted",
        *_chunk_pad,
        *_norm_pad,
        *_bpe_pad,
    )
    chunks = chunk_documents(
        docs.filter("doc_id % 7 = 0"),
        chunk_chars=_CHUNK_CHARS,
        overlap=_CHUNK_OVERLAP,
    ).select(
        F.lit("chunks").alias("variant"),
        "doc_id",
        F.lit(None).cast("long").alias("n_pretokens"),
        F.lit(None).cast("long").alias("n_word"),
        F.lit(None).cast("long").alias("n_punct"),
        F.lit(None).cast("double").alias("avg_pretoken_len"),
        F.lit(None).cast("long").alias("n_email"),
        F.lit(None).cast("long").alias("n_phone"),
        F.lit(None).cast("long").alias("n_ipv4"),
        F.lit(None).cast("string").alias("redacted"),
        # posexplode's pos is INT; the oracle's range() is BIGINT
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        "chunk_start",
        "n_chunk_chars",
        "chunk_text",
        *_norm_pad,
        *_bpe_pad,
    )
    messy = docs.select("doc_id", F.expr(_MESSY_DERIVE).alias("messy"))
    norm = normalize_text(messy, text_col="messy").select(
        F.lit("normalize").alias("variant"),
        "doc_id",
        F.lit(None).cast("long").alias("n_pretokens"),
        F.lit(None).cast("long").alias("n_word"),
        F.lit(None).cast("long").alias("n_punct"),
        F.lit(None).cast("double").alias("avg_pretoken_len"),
        F.lit(None).cast("long").alias("n_email"),
        F.lit(None).cast("long").alias("n_phone"),
        F.lit(None).cast("long").alias("n_ipv4"),
        F.lit(None).cast("string").alias("redacted"),
        *_chunk_pad,
        "norm_text",
        F.length("norm_text").cast("long").alias("n_norm_chars"),
        *_bpe_pad,
    )
    _scalar_pad = [
        F.lit(None).cast("long").alias("n_pretokens"),
        F.lit(None).cast("long").alias("n_word"),
        F.lit(None).cast("long").alias("n_punct"),
        F.lit(None).cast("double").alias("avg_pretoken_len"),
        F.lit(None).cast("long").alias("n_email"),
        F.lit(None).cast("long").alias("n_phone"),
        F.lit(None).cast("long").alias("n_ipv4"),
        F.lit(None).cast("string").alias("redacted"),
    ]
    fit = T.bpe_fit(docs, _BPE_MERGES_R, vocab_partitions=1)

    def merges_variant(tag: str, fit_df) -> DataFrame:
        return fit_df.select(
            F.lit(tag).alias("variant"),
            F.lit(None).cast("long").alias("doc_id"),
            *_scalar_pad,
            *_chunk_pad,
            *_norm_pad,
            F.col("rank").alias("bpe_rank"),
            F.col("left").alias("bpe_left"),
            F.col("right").alias("bpe_right"),
            F.col("pair_count").alias("bpe_pair_count"),
            F.lit(None).cast("long").alias("bpe_n_tokens"),
            F.lit(None).cast("string").alias("bpe_tokens_str"),
        )

    merges_arm = merges_variant("bpe_merges", fit)
    # r13: the batched selection is driver-gated against the SAME
    # unrolled-CTE oracle — exact equality to B=1 is its contract
    batched_arm = merges_variant(
        "bpe_merges_batched",
        T.bpe_fit(docs, _BPE_MERGES_R, vocab_partitions=1, batch_merges=8),
    )
    tokens_arm = T.bpe_encode(docs.filter(_BPE_SLICE), fit).select(
        F.lit("bpe_tokens").alias("variant"),
        "doc_id",
        *_scalar_pad,
        *_chunk_pad,
        *_norm_pad,
        F.lit(None).cast("long").alias("bpe_rank"),
        F.lit(None).cast("string").alias("bpe_left"),
        F.lit(None).cast("string").alias("bpe_right"),
        F.lit(None).cast("long").alias("bpe_pair_count"),
        F.col("n_tokens").cast("long").alias("bpe_n_tokens"),
        F.array_join("tokens", " ").alias("bpe_tokens_str"),
    )
    return (
        pretokens.unionByName(pii).unionByName(chunks).unionByName(norm)
        .unionByName(merges_arm).unionByName(batched_arm)
        .unionByName(tokens_arm)
    )


def _repetition_oracle() -> str:
    from flink_etl_spark.functions.hashing import duckdb_shingles

    return f"""
    WITH toks AS (
        SELECT doc_id, length(text) AS len,
               regexp_split_to_array(text, ' +') AS t
        FROM documents
    ),
    base AS (
        SELECT doc_id, len, len(t) AS n_tokens,
               len(list_distinct(t)) AS n_distinct, t
        FROM toks
    ),
    g2 AS (SELECT doc_id, g FROM base, UNNEST({duckdb_shingles('t', 2)}) AS u(g)),
    g3 AS (SELECT doc_id, g FROM base, UNNEST({duckdb_shingles('t', 3)}) AS u(g)),
    c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
    top2 AS (
        SELECT doc_id, g, c
        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                           ORDER BY c DESC, g DESC) AS rn
              FROM c2) q
        WHERE rn = 1
    ),
    d3 AS (
        SELECT doc_id, sum(c * length(g)) AS s
        FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) q
        WHERE c >= 2 GROUP BY 1
    )
    SELECT b.doc_id, b.n_tokens,
           floor(CAST(b.n_tokens - b.n_distinct AS DOUBLE) * 1000000.0 / CAST(b.n_tokens AS DOUBLE)) / 1000000.0
               AS dup_token_frac,
           t.g AS top_bigram,
           coalesce(t.c, 0) AS top_bigram_count,
           least(1.0, floor(CAST(coalesce(t.c * length(t.g), 0) AS DOUBLE) * 1000000.0 / CAST(greatest(b.len, 1) AS DOUBLE)) / 1000000.0)
               AS top_bigram_char_frac,
           least(1.0, floor(CAST(coalesce(d3.s, 0) AS DOUBLE) * 1000000.0 / CAST(greatest(b.len, 1) AS DOUBLE)) / 1000000.0)
               AS dup_trigram_char_frac
    FROM base b LEFT JOIN top2 t USING (doc_id) LEFT JOIN d3 USING (doc_id)
    """


def _unigram_lm_oracle() -> str:
    """DuckDB twin of `operators/text.unigram_lm_scores` integer-exact
    measures (self-fit, exact string terms, rare_tf_max=2). The float
    logprob/ppl columns are deliberately absent — cross-row double sums
    are order-dependent in the last ulp (tolerance-tested in pytest,
    never hash-gated)."""
    from flink_etl_spark.operators.text import (
        duckdb_micro_floor_ratio as dmfr,
    )

    return f"""
    WITH utoks AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
              FROM documents) d, UNNEST(t) AS u(tok)
    ),
    utf AS (SELECT tok, count(*) AS tf FROM utoks GROUP BY tok)
    SELECT t.doc_id, count(*) AS n_tokens,
           {dmfr("sum(f.tf)", "count(*)")} AS mean_tf_micro,
           {dmfr("count(*) FILTER (WHERE f.tf <= 2)", "count(*)")}
               AS rare_frac_micro
    FROM utoks t JOIN utf f ON t.tok = f.tok
    GROUP BY t.doc_id
    """


def _unigram_lm_xvocab_oracle() -> str:
    """DuckDB twin of the EXTERNAL-vocab arm — the true CCNet setting
    (score corpus A under corpus B's LM): vocab fit on even doc_ids,
    odd doc_ids scored against it, OOV tokens tf=0 (hence rare). Same
    integer-exact micro-floor measures; floats stay pytest-only."""
    from flink_etl_spark.operators.text import (
        duckdb_micro_floor_ratio as dmfr,
    )

    return f"""
    WITH xall AS (
        SELECT doc_id, tok
        FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
              FROM documents) d, UNNEST(t) AS u(tok)
    ),
    xtf AS (SELECT tok, count(*) AS tf FROM xall
            WHERE doc_id % 2 = 0 GROUP BY tok)
    SELECT t.doc_id, count(*) AS n_tokens,
           {dmfr("sum(coalesce(f.tf, 0))", "count(*)")} AS mean_tf_micro,
           {dmfr("count(*) FILTER (WHERE coalesce(f.tf, 0) <= 2)",
                 "count(*)")} AS rare_frac_micro
    FROM (SELECT * FROM xall WHERE doc_id % 2 = 1) t
    LEFT JOIN xtf f ON t.tok = f.tok
    GROUP BY t.doc_id
    """


def _bigram_lm_oracle(
    fit_pred: str = "doc_id % 2 = 0", score_pred: str = "doc_id % 2 = 1"
) -> str:
    """DuckDB twin of `text.bigram_lm_scores(hash_terms=False)` with
    fit/score corpora selected by the two predicates (defaults = the
    xfit arm: fit on even doc_ids, score the odd; the self-fit arm
    passes TRUE/TRUE): add-one-smoothed conditional bigram
    log-probabilities, per-bigram MICRO-floored before the integer
    sum (order-independent), mean = exact int/int double division;
    novelty fraction via the shared micro-floor helper."""
    from flink_etl_spark.operators.text import (
        duckdb_micro_floor_ratio as dmfr,
    )

    return f"""
    WITH b2toks AS (
        SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents
    ),
    b2fit AS (
        SELECT concat_ws(' ', t[i], t[i+1]) AS bg, t[i] AS w1
        FROM b2toks, UNNEST(range(1, len(t))) AS u(i)
        WHERE ({fit_pred}) AND len(t) >= 2
    ),
    b2c2 AS (SELECT bg, count(*) AS c2 FROM b2fit GROUP BY 1),
    b2c1 AS (SELECT w1, count(*) AS c1 FROM b2fit GROUP BY 1),
    b2v AS (
        SELECT count(DISTINCT tok) AS v
        FROM (SELECT doc_id, t FROM b2toks WHERE {fit_pred}) f,
             UNNEST(t) AS u(tok)
    ),
    b2doc AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               concat_ws(' ', t[i], t[i+1]) AS bg, t[i] AS w1
        FROM b2toks, UNNEST(range(1, len(t))) AS u(i)
        WHERE ({score_pred}) AND len(t) >= 2
    ),
    b2scored AS (
        SELECT d.doc_id, d.n_tokens,
               CAST(floor(ln((coalesce(c.c2, 0) + 1.0)
                             / (coalesce(p.c1, 0) + v.v))
                          * 1000000.0) AS BIGINT) AS lp,
               CASE WHEN c.c2 IS NULL THEN 1 ELSE 0 END AS novel
        FROM b2doc d
        LEFT JOIN b2c2 c USING (bg)
        LEFT JOIN b2c1 p USING (w1)
        CROSS JOIN b2v v
    )
    SELECT doc_id, n_tokens,
           CAST(sum(lp) AS DOUBLE) / count(*) AS mean_tf_micro,
           {dmfr("sum(novel)", "count(*)")} AS rare_frac_micro
    FROM b2scored
    GROUP BY doc_id, n_tokens
    """


def _dsir_oracle(n_buckets: int | None = None) -> str:
    """DuckDB twin of `prep.dsir_log_weights(docs=odd, target=even,
    hash_terms=False)`: unigram+bigram features, add-one-smoothed
    log importance ratio per feature INSTANCE micro-floored before the
    integer sum (order-independent); V is the distinct-feature count
    over both corpora (= all documents here), matching the engine's
    shared smoothing denominator.

    ``n_buckets=B`` twins the paper's fixed hashed feature space
    (`dsir_log_weights(n_buckets=B)`): the feature key is the portable
    char-fold hash mod B, smoothing V = B, and 'novel' means the
    bucket carries zero target mass. The engine packs per-bucket
    ratios into one broadcast array and scores row-locally; scoring
    per exploded instance here is value-identical because equal
    buckets share one micro-floored ratio."""
    from flink_etl_spark.functions.hashing import duckdb_char_fold_hash
    from flink_etl_spark.operators.text import (
        duckdb_micro_floor_ratio as dmfr,
    )

    if n_buckets is None:
        key, v_expr, novel = (
            "f", "(SELECT count(DISTINCT f) FROM dfeat)",
            "CASE WHEN ct IS NULL THEN 1 ELSE 0 END",
        )
    else:
        key = f"({duckdb_char_fold_hash('f')}) % {n_buckets}"
        v_expr = str(n_buckets)
        novel = "CASE WHEN coalesce(ct, 0) = 0 THEN 1 ELSE 0 END"
    return f"""
    WITH dtoks AS (
        SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents
    ),
    dfeat0 AS (
        SELECT doc_id, tok AS f FROM dtoks, UNNEST(t) AS u(tok)
        UNION ALL
        SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS f
        FROM dtoks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    dfeat AS (SELECT doc_id, {key} AS f FROM dfeat0),
    dct AS (SELECT f, count(*) AS ct FROM dfeat
            WHERE doc_id % 2 = 0 GROUP BY 1),
    dcq AS (SELECT f, count(*) AS cq FROM dfeat
            WHERE doc_id % 2 = 1 GROUP BY 1),
    dtot AS (
        SELECT {v_expr} AS v,
               (SELECT count(*) FROM dfeat WHERE doc_id % 2 = 0) AS nt,
               (SELECT count(*) FROM dfeat WHERE doc_id % 2 = 1) AS nq
    ),
    dscored AS (
        SELECT d.doc_id,
               CAST(floor((ln((coalesce(ct, 0) + 1.0) / (nt + v))
                           - ln((coalesce(cq, 0) + 1.0) / (nq + v)))
                          * 1000000.0) AS BIGINT) AS lr,
               {novel} AS novel
        FROM (SELECT * FROM dfeat WHERE doc_id % 2 = 1) d
        LEFT JOIN dct USING (f)
        LEFT JOIN dcq USING (f)
        CROSS JOIN dtot
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(lr) AS DOUBLE) / count(*) AS mean_tf_micro,
           {dmfr("sum(novel)", "count(*)")} AS rare_frac_micro
    FROM dscored
    GROUP BY doc_id
    """


@query(
    "text_top_bigrams",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents
    ),
    bg AS (
        SELECT doc_id, b
        FROM toks, UNNEST(
            CASE WHEN len(t) >= 2
                 THEN list_transform(range(1, len(t)),
                                     i -> concat_ws(' ', t[i], t[i+1]))
                 ELSE [] END) AS u(b)
    )
    SELECT 'corpus_bigrams' AS variant,
           b AS bigram,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           CAST(NULL AS DOUBLE) AS mean_tf_micro,
           CAST(NULL AS DOUBLE) AS rare_frac_micro
    FROM bg
    GROUP BY b
    HAVING count(*) >= 10
    UNION ALL
    SELECT 'doc_repetition' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens, dup_token_frac, top_bigram,
           top_bigram_count, top_bigram_char_frac, dup_trigram_char_frac,
           CAST(NULL AS DOUBLE) AS mean_tf_micro,
           CAST(NULL AS DOUBLE) AS rare_frac_micro
    FROM ({_repetition_oracle()}) rep
    UNION ALL
    SELECT 'unigram_lm' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_unigram_lm_oracle()}) ulm
    UNION ALL
    SELECT 'unigram_lm_xvocab' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_unigram_lm_xvocab_oracle()}) ulmx
    UNION ALL
    SELECT 'bigram_lm_xfit' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_bigram_lm_oracle()}) blm
    UNION ALL
    SELECT 'bigram_lm_self' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_bigram_lm_oracle("TRUE", "TRUE")}) blms
    UNION ALL
    SELECT 'dsir_logw' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_dsir_oracle()}) dsir
    UNION ALL
    SELECT 'dsir_bucketed' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_dsir_oracle(n_buckets=512)}) dsirb
    UNION ALL
    SELECT 'dsir_staged' AS variant,
           CAST(NULL AS VARCHAR) AS bigram,
           CAST(NULL AS BIGINT) AS n_occurrences,
           CAST(NULL AS BIGINT) AS n_docs,
           doc_id, n_tokens,
           CAST(NULL AS DOUBLE) AS dup_token_frac,
           CAST(NULL AS VARCHAR) AS top_bigram,
           CAST(NULL AS BIGINT) AS top_bigram_count,
           CAST(NULL AS DOUBLE) AS top_bigram_char_frac,
           CAST(NULL AS DOUBLE) AS dup_trigram_char_frac,
           mean_tf_micro, rare_frac_micro
    FROM ({_dsir_oracle(n_buckets=512)}) dsirs
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram statistics at both granularities, union-tagged:

    * variant 'corpus_bigrams' — CORPUS-level bigram frequency +
      document frequency for bigrams with >= 10 occurrences. One
      explode + one groupBy; at corpus scale the HAVING threshold is
      what keeps the long tail from dominating the shuffle
      (pre-aggregate partial counts do the rest).
    * variant 'doc_repetition' — PER-DOCUMENT repetition metrics
      (operators/prep.repetition_stats): the public Gopher filter
      family (dup-token fraction, top-bigram char coverage,
      duplicated-trigram char coverage) a training-data pipeline
      filters on. Same explode machinery, per-doc aggregation; the
      oracle replicates the struct-max tie-break (count desc, bigram
      desc) exactly.
    * variant 'unigram_lm' (r5) — CCNet-style unigram-LM quality
      scores (operators/text.unigram_lm_scores, self-fit): the gate
      pins the INTEGER-exact measures (mean corpus token frequency +
      rare-token fraction, micro-floored) with hash_terms=False so
      the oracle joins exact strings; the float logprob/ppl columns
      are tolerance-tested in pytest, and the production arm joins on
      xxhash64 term ids.
    * variant 'unigram_lm_xvocab' (r6) — the TRUE CCNet setting:
      external vocab (fit on even doc_ids) scoring a disjoint corpus
      (odd doc_ids), OOV tokens tf=0 and hence rare. Exercises the
      `vocab=` DataFrame path end-to-end through the driver gate.
    * variant 'bigram_lm_xfit' (r8) — BIGRAM LM scoring
      (operators/text.bigram_lm_scores): add-one-smoothed conditional
      log-probabilities under a fit corpus (even doc_ids) scoring the
      odd half — word ORDER is the signal the unigram score lacks
      (shuffled-token garbage scores low here even with
      corpus-frequent tokens). mean_tf_micro carries the mean
      micro-floored log-prob (integer sum, exact division —
      summed-float oracle contract); rare_frac_micro the
      novel-bigram fraction (the contamination/novelty signal).
      Gated hash_terms=False; production joins on xxhash64 ids.
    * variant 'bigram_lm_self' (r9) — the `fit_docs=None` self-fit
      mode through the same gate (fit corpus == scored corpus: every
      bigram is seen, so the novelty fraction is identically 0 and the
      score isolates the smoothed-likelihood signal); exercises the
      default-argument path end-to-end.
    * variant 'dsir_logw' (r9) — DSIR importance weights
      (operators/prep.dsir_log_weights, Xie et al. NeurIPS 2023):
      unigram+bigram features, target = even doc_ids, raw/scored =
      odd. n_tokens carries the FEATURE-instance count; mean_tf_micro
      the mean micro-floored log importance ratio (integer sum, exact
      division); rare_frac_micro the target-unseen feature fraction.
      Gated hash_terms=False; production joins on xxhash64 feature
      ids. The Gumbel-top-k resampling half (`dsir_select_n`) is
      deterministic-tested in tests/test_prep.py.
    * variant 'dsir_bucketed' (r10) — the paper's FIXED hashed feature
      space (`n_buckets=512` here — small enough that bucket
      collisions genuinely fire at sf0.01, so the coarsened counts and
      the bucket-level novelty rule are what the oracle checks, not a
      collision-free echo of dsir_logw): smoothing V = B, per-bucket
      log ratios packed into ONE broadcast array, per-doc scoring a
      zero-shuffle row-local fold (the 100 TB shape — the exact-id arm
      shuffles the exploded feature stream through two
      vocabulary-sized joins). Bucket hash pinned to the portable
      char fold (production `hash_terms=True` buckets on xxhash64).
    """
    from flink_etl_spark.functions.hashing import shingles_sql, tokens_sql
    from flink_etl_spark.operators.prep import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    bg = docs.select(
        "doc_id",
        F.explode(F.expr(shingles_sql(tokens_sql("text"), 2))).alias("bigram"),
    )
    corpus = (
        bg.groupBy("bigram")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") >= 10)
        .select(
            F.lit("corpus_bigrams").alias("variant"),
            "bigram",
            "n_occurrences",
            "n_docs",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("long").alias("n_tokens"),
            F.lit(None).cast("double").alias("dup_token_frac"),
            F.lit(None).cast("string").alias("top_bigram"),
            F.lit(None).cast("long").alias("top_bigram_count"),
            F.lit(None).cast("double").alias("top_bigram_char_frac"),
            F.lit(None).cast("double").alias("dup_trigram_char_frac"),
            F.lit(None).cast("double").alias("mean_tf_micro"),
            F.lit(None).cast("double").alias("rare_frac_micro"),
        )
    )
    rep = repetition_stats(docs).select(
        F.lit("doc_repetition").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "top_bigram",
        "top_bigram_count",
        "top_bigram_char_frac",
        "dup_trigram_char_frac",
        F.lit(None).cast("double").alias("mean_tf_micro"),
        F.lit(None).cast("double").alias("rare_frac_micro"),
    )
    from flink_etl_spark.operators.text import unigram_lm_scores

    ulm = unigram_lm_scores(docs, hash_terms=False, rare_tf_max=2).select(
        F.lit("unigram_lm").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        "n_tokens",
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        "mean_tf_micro",
        "rare_frac_micro",
    )
    xvocab = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.explode(F.expr(tokens_sql("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    ulmx = unigram_lm_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        vocab=xvocab,
        hash_terms=False,
        rare_tf_max=2,
    ).select(
        F.lit("unigram_lm_xvocab").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        "n_tokens",
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        "mean_tf_micro",
        "rare_frac_micro",
    )
    blm = T.bigram_lm_scores(
        docs.filter(F.col("doc_id") % 2 == 1),
        fit_docs=docs.filter(F.col("doc_id") % 2 == 0),
        hash_terms=False,
    ).select(
        F.lit("bigram_lm_xfit").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        "n_tokens",
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        F.col("mean_logp_micro").alias("mean_tf_micro"),
        F.col("novel_bigram_frac").alias("rare_frac_micro"),
    )
    from flink_etl_spark.operators.prep import dsir_log_weights

    dsir = dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
        hash_terms=False,
    ).select(
        F.lit("dsir_logw").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        F.col("n_feats").alias("n_tokens"),
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        F.col("mean_lr_micro").alias("mean_tf_micro"),
        F.col("novel_target_frac").alias("rare_frac_micro"),
    )
    dsirb = dsir_log_weights(
        docs.filter(F.col("doc_id") % 2 == 1),
        target_docs=docs.filter(F.col("doc_id") % 2 == 0),
        hash_terms=False,
        n_buckets=512,
    ).select(
        F.lit("dsir_bucketed").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        F.col("n_feats").alias("n_tokens"),
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        F.col("mean_lr_micro").alias("mean_tf_micro"),
        F.col("novel_target_frac").alias("rare_frac_micro"),
    )
    # the staged fit-once/score-many path (r11, gating dsir_stage_fit /
    # dsir_log_weights_staged — the shape a 100 TB deployment actually
    # runs): fit persisted to parquet + sidecar, scoring derives its
    # parameters from the sidecar. Value-identical to the inline
    # bucketed arm by contract, so it shares dsirb's oracle.
    from flink_etl_spark.catalog import process_workdir
    from flink_etl_spark.operators.prep import (
        dsir_log_weights_staged,
        dsir_stage_fit,
    )

    fit_path = f"{process_workdir('dsir_fit')}/fit"
    dsir_stage_fit(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        fit_path, n_buckets=512, hash_terms=False,
    )
    dsirs = dsir_log_weights_staged(
        docs.filter(F.col("doc_id") % 2 == 1), fit_path
    ).select(
        F.lit("dsir_staged").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        F.col("n_feats").alias("n_tokens"),
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        F.col("mean_lr_micro").alias("mean_tf_micro"),
        F.col("novel_target_frac").alias("rare_frac_micro"),
    )
    blms = T.bigram_lm_scores(docs, hash_terms=False).select(
        F.lit("bigram_lm_self").alias("variant"),
        F.lit(None).cast("string").alias("bigram"),
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        "doc_id",
        "n_tokens",
        F.lit(None).cast("double").alias("dup_token_frac"),
        F.lit(None).cast("string").alias("top_bigram"),
        F.lit(None).cast("long").alias("top_bigram_count"),
        F.lit(None).cast("double").alias("top_bigram_char_frac"),
        F.lit(None).cast("double").alias("dup_trigram_char_frac"),
        F.col("mean_logp_micro").alias("mean_tf_micro"),
        F.col("novel_bigram_frac").alias("rare_frac_micro"),
    )
    return (
        corpus.unionByName(rep).unionByName(ulm)
        .unionByName(ulmx).unionByName(blm).unionByName(blms)
        .unionByName(dsir).unionByName(dsirb).unionByName(dsirs)
    )


#: BM25 gate parameters — the Okapi defaults, interpolated into BOTH
#: sides so the double literals are bit-identical
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_SQL = f"""
    WITH btoks AS (
        SELECT doc_id, tk AS term
        FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
              FROM documents) d, UNNEST(t) AS u(tk)
    ),
    btf AS (SELECT doc_id, term, count(*) AS tf FROM btoks GROUP BY 1, 2),
    bdl AS (SELECT doc_id, count(*) AS dl FROM btoks GROUP BY 1),
    bdf AS (SELECT term, count(DISTINCT doc_id) AS df FROM btoks GROUP BY 1),
    bstat AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bdl),
    bqt AS (
        SELECT DISTINCT doc_id AS query_id, tk AS term
        FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
              FROM documents WHERE doc_id < 4) q,
             UNNEST(t[1:5]) AS u(tk)
    ),
    bscored AS (
        SELECT q.query_id, btf.doc_id,
               CAST(floor(
                   (ln(((s.n_docs - bdf.df + 0.5) / (bdf.df + 0.5)) + 1.0)
                    * ((btf.tf * {_BM25_K1 + 1.0!r})
                       / (btf.tf + {_BM25_K1!r}
                          * ({1.0 - _BM25_B!r}
                             + ({_BM25_B!r} * (bdl.dl / s.avgdl))))))
                   * 1000000.0) AS BIGINT) AS w_micro
        FROM bqt q
        JOIN btf USING (term)
        JOIN bdf USING (term)
        JOIN bdl ON bdl.doc_id = btf.doc_id
        CROSS JOIN bstat s
    ),
    bagg AS (
        SELECT query_id, doc_id, sum(w_micro) AS score_micro
        FROM bscored GROUP BY 1, 2
    )
    SELECT query_id, doc_id,
           CAST(score_micro AS DOUBLE) / 1000000.0 AS score, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY score_micro DESC, doc_id) AS rnk
          FROM bagg) t
    WHERE rnk <= 10
"""


def _nb_classifier_oracle(n_buckets: int = 512) -> str:
    """DuckDB twin of `prep.nb_classifier_scores(hash_terms=False,
    n_buckets=B)` fit on even doc_ids labeled (lang = 'en'), scoring
    odd doc_ids: char-fold-hashed unigram+bigram buckets, add-one
    class log-likelihood ratios micro-floored per feature INSTANCE
    (value-identical to the engine's per-bucket flooring — equal
    buckets share one floored value), plus the micro-floored class
    prior ln(D_pos/D_neg)."""
    from flink_etl_spark.functions.hashing import duckdb_char_fold_hash

    B = n_buckets
    key = f"({duckdb_char_fold_hash('f')}) % {B}"
    return f"""
    WITH ntoks AS (
        SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS t
        FROM documents
    ),
    nfeat0 AS (
        SELECT doc_id, lang, tok AS f FROM ntoks, UNNEST(t) AS u(tok)
        UNION ALL
        SELECT doc_id, lang, concat_ws(' ', t[i], t[i+1]) AS f
        FROM ntoks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    nfeat AS (SELECT doc_id, lang, {key} AS f FROM nfeat0),
    npos AS (SELECT f, count(*) AS cp FROM nfeat
             WHERE doc_id % 2 = 0 AND lang = 'en' GROUP BY 1),
    nneg AS (SELECT f, count(*) AS cn FROM nfeat
             WHERE doc_id % 2 = 0 AND lang != 'en' GROUP BY 1),
    ntot AS (
        SELECT
            (SELECT count(*) FROM nfeat
             WHERE doc_id % 2 = 0 AND lang = 'en') AS np,
            (SELECT count(*) FROM nfeat
             WHERE doc_id % 2 = 0 AND lang != 'en') AS nn,
            CAST(floor((ln(CAST((SELECT count(*) FROM documents
                                 WHERE doc_id % 2 = 0 AND lang = 'en')
                                AS DOUBLE))
                        - ln(CAST((SELECT count(*) FROM documents
                                   WHERE doc_id % 2 = 0 AND lang != 'en')
                                  AS DOUBLE))) * 1000000.0)
                 AS BIGINT) AS prior
    ),
    nscored AS (
        SELECT d.doc_id,
               CAST(floor((ln((coalesce(cp, 0) + 1.0) / (np + {B}))
                           - ln((coalesce(cn, 0) + 1.0) / (nn + {B})))
                          * 1000000.0) AS BIGINT) AS lo
        FROM (SELECT * FROM nfeat WHERE doc_id % 2 = 1) d
        LEFT JOIN npos USING (f)
        LEFT JOIN nneg USING (f)
        CROSS JOIN ntot
    ),
    nagg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
               (SELECT prior FROM ntot) + sum(lo) AS logodds
        FROM nscored GROUP BY doc_id
    )
    SELECT doc_id,
           CASE WHEN logodds > 0 THEN 'pos' ELSE 'neg' END AS cls,
           n_feats, logodds,
           CAST(logodds AS DOUBLE) / n_feats AS mean_lo
    FROM nagg
    """


def _nb_multi_oracle(n_buckets: int = 512) -> str:
    """DuckDB twin of `prep.nb_classifier_scores_multi(hash_terms=
    False, n_buckets=B)` fit on even doc_ids with lang as the class,
    scoring odd doc_ids: per-class add-one log likelihoods
    micro-floored per instance + micro-floored doc-count priors;
    prediction = argmax (ties -> lexicographically smallest lang, the
    engine's sorted-class-index rule); margin = best minus second-best
    VALUE."""
    from flink_etl_spark.functions.hashing import duckdb_char_fold_hash

    B = n_buckets
    key = f"({duckdb_char_fold_hash('f')}) % {B}"
    return f"""
    WITH qtoks AS (
        SELECT doc_id, lang, regexp_split_to_array(text, ' +') AS t
        FROM documents
    ),
    qfeat0 AS (
        SELECT doc_id, lang, tok AS f FROM qtoks, UNNEST(t) AS u(tok)
        UNION ALL
        SELECT doc_id, lang, concat_ws(' ', t[i], t[i+1]) AS f
        FROM qtoks, UNNEST(range(1, len(t))) AS u(i)
        WHERE len(t) >= 2
    ),
    qfeat AS (SELECT doc_id, lang, {key} AS f FROM qfeat0),
    qcls AS (SELECT DISTINCT lang FROM documents WHERE doc_id % 2 = 0),
    qcnt AS (SELECT lang, f, count(*) AS c FROM qfeat
             WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    qtot AS (SELECT lang, count(*) AS n FROM qfeat
             WHERE doc_id % 2 = 0 GROUP BY 1),
    qprior AS (
        SELECT d.lang,
               CAST(floor((ln(CAST(d.dk AS DOUBLE))
                           - ln(CAST(t.dt AS DOUBLE))) * 1000000.0)
                    AS BIGINT) AS pr
        FROM (SELECT lang, count(*) AS dk FROM documents
              WHERE doc_id % 2 = 0 GROUP BY 1) d
        CROSS JOIN (SELECT count(*) AS dt FROM documents
                    WHERE doc_id % 2 = 0) t
    ),
    qsc AS (
        SELECT d.doc_id, cl.lang,
               CAST(count(*) AS BIGINT) AS nf,
               sum(CAST(floor(ln((coalesce(qcnt.c, 0) + 1.0)
                                 / (qtot.n + {B})) * 1000000.0)
                        AS BIGINT)) AS s
        FROM (SELECT * FROM qfeat WHERE doc_id % 2 = 1) d
        CROSS JOIN qcls cl
        LEFT JOIN qcnt ON qcnt.lang = cl.lang AND qcnt.f = d.f
        JOIN qtot ON qtot.lang = cl.lang
        GROUP BY 1, 2
    ),
    qfin AS (
        SELECT doc_id, lang, nf, pr + s AS score
        FROM qsc JOIN qprior USING (lang)
    ),
    qrank AS (
        SELECT *, row_number() OVER (
                   PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
        FROM qfin
    )
    SELECT b.doc_id, b.lang AS predicted, b.nf AS n_feats,
           b.score AS best_lp, b.score - s2.score AS margin
    FROM qrank b JOIN qrank s2
      ON s2.doc_id = b.doc_id AND b.rn = 1 AND s2.rn = 2
    """


@query(
    "text_tfidf_topk",
    f"""
    WITH toks AS (
        SELECT doc_id, tk AS term
        FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
              FROM documents) d, UNNEST(t) AS u(tk)
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT 'tfidf' AS variant, CAST(NULL AS BIGINT) AS query_id,
           doc_id, term, tf, df, tfidf AS score, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rnk
          FROM scored) t
    WHERE rnk <= 3
    UNION ALL
    SELECT 'bm25' AS variant, m.query_id, m.doc_id,
           CAST(NULL AS VARCHAR) AS term,
           CAST(NULL AS BIGINT) AS tf, CAST(NULL AS BIGINT) AS df,
           m.score, m.rnk
    FROM ({_BM25_SQL}) m
    UNION ALL
    SELECT 'nb_classifier' AS variant, CAST(NULL AS BIGINT) AS query_id,
           c.doc_id, c.cls AS term, c.n_feats AS tf, c.logodds AS df,
           c.mean_lo AS score, CAST(NULL AS BIGINT) AS rnk
    FROM ({_nb_classifier_oracle()}) c
    UNION ALL
    SELECT 'nb_staged' AS variant, CAST(NULL AS BIGINT) AS query_id,
           s.doc_id, s.cls AS term, s.n_feats AS tf, s.logodds AS df,
           s.mean_lo AS score, CAST(NULL AS BIGINT) AS rnk
    FROM ({_nb_classifier_oracle()}) s
    UNION ALL
    SELECT 'nb_lang' AS variant, CAST(NULL AS BIGINT) AS query_id,
           m.doc_id, m.predicted AS term, m.n_feats AS tf,
           m.best_lp AS df, CAST(m.margin AS DOUBLE) AS score,
           CAST(NULL AS BIGINT) AS rnk
    FROM ({_nb_multi_oracle()}) m
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical relevance, both rankings gated union-tagged:

    * variant 'tfidf' — top-3 terms per document by TF-IDF
      (tf * ln(N/df)): two shuffles, no vocabulary dictionary,
      WindowGroupLimit top-k.
    * variant 'bm25' (r8) — Okapi BM25 RETRIEVAL
      (operators/text.bm25_topk): top-10 documents per query, queries
      derived deterministically from the corpus (the 4 smallest
      doc_ids' first 5 tokens). Query terms broadcast onto the
      one-pass tf table — the corpus never joins itself; per-term
      weights are micro-floored to integers before the sum so the
      aggregate is order-independent (the full-precision oracle
      contract; see the operator docstring).
    * variant 'nb_classifier' (r11) — SUPERVISED hashed-n-gram Naive
      Bayes quality classifier (prep.nb_classifier_scores, the
      closed-form stand-in for the fastText/logistic quality filters):
      fit on even doc_ids labeled (lang = 'en'), scoring odd doc_ids;
      B=512 char-fold buckets so collisions FIRE at sf0.01; term
      carries the predicted class, tf the feature count, df the
      micro-integer log-odds (prior included), score the
      length-normalized mean log-odds.
    * variant 'nb_staged' (r11) — the same classifier through the
      STAGED fit (prep.nb_stage_fit -> counts parquet + _NB_META.json
      sidecar -> nb_classifier_scores_staged): fit-once/score-many,
      the deployment shape; value-identical to the inline arm by
      contract, so it shares the same oracle.
    * variant 'nb_lang' (r11) — the MULTI-CLASS form
      (prep.nb_classifier_scores_multi): supervised language-ID over
      the 5 lang classes, fit on even doc_ids, scoring odd; term
      carries the argmax class, df the winning score, score the
      best-minus-second-best margin (the confidence signal)."""
    docs = _t(spark, sf_dir, "documents")
    tfidf = T.tfidf_top_terms(docs, k=3).select(
        F.lit("tfidf").alias("variant"),
        F.lit(None).cast("long").alias("query_id"),
        "doc_id",
        "term",
        "tf",
        "df",
        F.col("tfidf").alias("score"),
        "rnk",
    )
    queries = docs.filter("doc_id < 4").select(
        F.col("doc_id").alias("query_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " +"), 1, 5), " "
        ).alias("query_text"),
    )
    bm25 = T.bm25_topk(
        docs, queries, k=10, k1=_BM25_K1, b=_BM25_B, hash_terms=False
    ).select(
        F.lit("bm25").alias("variant"),
        "query_id",
        "doc_id",
        F.lit(None).cast("string").alias("term"),
        F.lit(None).cast("long").alias("tf"),
        F.lit(None).cast("long").alias("df"),
        "score",
        "rnk",
    )
    from flink_etl_spark.operators.prep import nb_classifier_scores

    labeled = docs.filter("doc_id % 2 = 0").withColumn(
        "label", F.expr("lang = 'en'")
    )
    nb = nb_classifier_scores(
        docs.filter("doc_id % 2 = 1"), labeled,
        n_buckets=512, hash_terms=False,
    ).select(
        F.lit("nb_classifier").alias("variant"),
        F.lit(None).cast("long").alias("query_id"),
        "doc_id",
        F.when(F.col("predicted"), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("term"),
        F.col("n_feats").cast("long").alias("tf"),
        F.col("logodds_micro").alias("df"),
        F.col("mean_lo_micro").alias("score"),
        F.lit(None).cast("int").alias("rnk"),
    )
    # staged fit-once/score-many arm (r11): persisted counts + sidecar,
    # parameters sidecar-derived — one staging per (process, sf_dir),
    # same contract as the dsir_staged / minhash staged arms
    from flink_etl_spark.catalog import process_workdir
    from flink_etl_spark.operators.prep import (
        nb_classifier_scores_staged,
        nb_stage_fit,
    )

    fit_path = (
        f"{process_workdir('nb_fit')}/"
        f"{sf_dir.strip('/').replace('/', '_')}"
    )
    nb_stage_fit(labeled, fit_path, n_buckets=512, hash_terms=False)
    nb_staged = nb_classifier_scores_staged(
        docs.filter("doc_id % 2 = 1"), fit_path
    ).select(
        F.lit("nb_staged").alias("variant"),
        F.lit(None).cast("long").alias("query_id"),
        "doc_id",
        F.when(F.col("predicted"), F.lit("pos"))
        .otherwise(F.lit("neg"))
        .alias("term"),
        F.col("n_feats").cast("long").alias("tf"),
        F.col("logodds_micro").alias("df"),
        F.col("mean_lo_micro").alias("score"),
        F.lit(None).cast("int").alias("rnk"),
    )
    from flink_etl_spark.operators.prep import nb_classifier_scores_multi

    nb_multi = nb_classifier_scores_multi(
        docs.filter("doc_id % 2 = 1"), docs.filter("doc_id % 2 = 0"),
        label_col="lang", n_buckets=512, hash_terms=False,
    ).select(
        F.lit("nb_lang").alias("variant"),
        F.lit(None).cast("long").alias("query_id"),
        "doc_id",
        F.col("predicted").alias("term"),
        F.col("n_feats").cast("long").alias("tf"),
        F.col("best_lp_micro").alias("df"),
        F.col("margin_micro").cast("double").alias("score"),
        F.lit(None).cast("int").alias("rnk"),
    )
    return (
        tfidf.unionByName(bm25).unionByName(nb).unionByName(nb_staged)
        .unionByName(nb_multi)
    )
