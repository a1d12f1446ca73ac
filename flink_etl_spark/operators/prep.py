"""Training-data preparation operators beyond per-doc profiling:
repetition statistics (the Gopher/C4 public filter family), deterministic
hash-based dataset splits, per-group caps (source balancing), and PII
redaction.

All pure column expressions / single-explode aggregations — nothing
drops to Python, every shuffle is keyed on small values (doc ids,
n-grams), and each op is oracle-replicable in ANSI/DuckDB SQL (the
catalog gates pin the portable arms; see catalog/text.py and
catalog/pipeline.py).

Reference parity note: the reference (jiamx/flink-etl) has no
training-data surface — these extend SURVEY.md §2.12's pipeline family
per the public Gopher (Rae et al. 2021) / C4 (Raffel et al. 2020)
filter heuristics.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from flink_etl_spark.functions.hashing import shingles_sql, tokens_sql
from flink_etl_spark.functions.sql import ident, lit
from flink_etl_spark.operators.text import micro_floor_ratio
from flink_etl_spark.sources.tables import _spread_anchored, rescue_scan_parallelism
from flink_etl_spark.staged import DSIR_META, NB_META, SUBSTR_META

# ---------------------------------------------------------------------------
# repetition statistics (Gopher-style)
# ---------------------------------------------------------------------------


def repetition_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram repetition metrics — the public Gopher filter
    family (duplicate-token fraction, top-bigram character coverage,
    duplicated-trigram character coverage):

    * ``n_tokens`` / ``dup_token_frac`` — ``1 - distinct/total`` tokens
      (row-local, no shuffle);
    * ``top_bigram`` / ``top_bigram_count`` / ``top_bigram_char_frac`` —
      the most frequent token bigram and the fraction of the document's
      characters its occurrences cover (``count * length(bigram) /
      length(text)``, capped at 1.0 — overlapping occurrences can
      double-count the shared token). Ties on count break to the
      lexicographically LARGEST bigram: Spark's ``max(struct(count,
      gram))`` and the oracle's ``ORDER BY c DESC, g DESC`` agree
      exactly;
    * ``dup_trigram_char_frac`` — characters covered by trigrams that
      occur >= 2 times, same capped ratio.

    Documents with < 2 tokens have no bigrams: ``top_bigram`` is NULL
    and both char fractions are 0.0.

    Plan shape (the 100 TB concern): ZERO shuffles — a document's
    n-grams fit in its own row, so the whole computation is row-local
    array math: sort each gram array once, run-length encode it (run
    starts where ``gram[i] != gram[i-1]``, zipped with the next start
    for lengths), then ``array_max(struct(count, gram))`` for the top
    bigram and a conditional fold for duplicated-trigram chars. The
    former explode + double groupBy shape pushed every gram string
    through two exchanges; this is ~30% faster at sf0.1 and carries
    ZERO bytes over the network at scale (a small under-split input is
    first spread over every core, and the stats are then anchored,
    `sources.tables._spread_anchored`). Each intermediate array
    is materialized as its own projected column — interpreted
    higher-order functions have no common-subexpression elimination,
    so a reused inline subtree re-evaluates per REFERENCE (measured:
    the inlined form was >100x slower; SPARK-36718 keeps these
    multi-referenced non-cheap aliases from re-collapsing).
    """
    return _spread_anchored(
        docs.select(id_col, text_col),
        lambda d: _repetition_stats(d, id_col, text_col),
    )


def _repetition_stats(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """`repetition_stats` over its (id, text) projection."""
    sid = F.col(id_col)
    base = docs.select(
        sid,
        F.length(F.col(text_col)).alias("_len"),
        F.expr(tokens_sql(ident(text_col))).alias("_t"),
    ).select(
        sid,
        F.col("_len"),
        F.size("_t").alias("n_tokens"),
        F.size(F.array_distinct("_t")).alias("n_distinct"),
        F.array_sort(F.expr(shingles_sql("_t", 2))).alias("_g2"),
        F.array_sort(F.expr(shingles_sql("_t", 3))).alias("_g3"),
    )

    def _starts(g: Column) -> Column:
        # indices opening a run in the SORTED gram array
        n = F.size(g)
        return F.when(n <= 0, F.array().cast("array<int>")).otherwise(
            F.filter(
                F.sequence(F.lit(0), n - 1),
                lambda i: (i == 0)
                | (F.element_at(g, i + 1) != F.element_at(g, i)),
            )
        )

    staged = base.select(
        sid, "_len", "n_tokens", "n_distinct", "_g2", "_g3",
        _starts(F.col("_g2")).alias("_s2"),
        _starts(F.col("_g3")).alias("_s3"),
    )

    def _runs(g_name: str, s_name: str) -> Column:
        # (count, gram) per run: each start paired with the next start
        # (the array end for the last run)
        g, s = F.col(g_name), F.col(s_name)
        ends = F.concat(
            F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))),
            F.array(F.size(g)),
        )
        zipped = F.zip_with(
            s, ends,
            lambda a, e: F.struct(
                (e - a).cast("long").alias("c"),
                F.element_at(g, a + 1).alias("g"),
            ),
        )
        return F.when(
            F.size(g) <= 0, F.array().cast("array<struct<c:bigint,g:string>>")
        ).otherwise(zipped)

    per_doc = staged.select(
        sid, "_len", "n_tokens", "n_distinct",
        _runs("_g2", "_s2").alias("_r2"),
        _runs("_g3", "_s3").alias("_r3"),
    ).select(
        sid, "_len", "n_tokens", "n_distinct",
        # struct ordering = (count, gram): ties on count break to the
        # lexicographically largest gram, matching the oracle
        F.array_max("_r2").alias("_top2"),
        F.aggregate(
            "_r3",
            F.lit(0).cast("long"),
            lambda acc, r: acc
            + F.when(
                r.getField("c") >= 2, r.getField("c") * F.length(r.getField("g"))
            ).otherwise(F.lit(0)),
        ).alias("_dup3"),
    )

    safe_len = "greatest(_len, 1)"
    # integer quotients on the 1e-6 floor grid — round() halves resolve
    # differently across engines (catalog/__init__ determinism rule)
    return per_doc.select(
        sid,
        F.col("n_tokens"),
        F.expr(micro_floor_ratio("n_tokens - n_distinct", "n_tokens")).alias(
            "dup_token_frac"
        ),
        F.col("_top2.g").alias("top_bigram"),
        F.coalesce(F.col("_top2.c"), F.lit(0)).alias("top_bigram_count"),
        F.least(
            F.lit(1.0),
            F.expr(micro_floor_ratio(
                "coalesce(_top2.c * length(_top2.g), 0)", safe_len
            )),
        ).alias("top_bigram_char_frac"),
        F.least(
            F.lit(1.0),
            F.expr(micro_floor_ratio("coalesce(_dup3, 0)", safe_len)),
        ).alias("dup_trigram_char_frac"),
    )


# ---------------------------------------------------------------------------
# deterministic dataset split
# ---------------------------------------------------------------------------

#: default train/val/test weights (must sum to 1.0)
DEFAULT_SPLITS: tuple[tuple[str, float], ...] = (
    ("train", 0.90),
    ("val", 0.05),
    ("test", 0.05),
)


def split_buckets(
    key: Column,
    n_buckets: int = 10_000,
    salt: str = "",
    hash_fn: str = "xxhash64",
) -> Column:
    """Deterministic bucket in [0, n_buckets) for a key column.

    ``hash_fn``:

    * ``"xxhash64"`` (default) — native JVM hash, one call, the
      production choice (well-mixed, any input type, salt folded in as
      an extra hash argument);
    * ``"charfold"`` — the portable polynomial fold over
      ``concat(cast(key as string), salt)``, replicable exactly in the
      DuckDB oracle (same dual-mode pattern as MinHash's ``hash_fn``).

    NULL keys: the key is coalesced to the empty string before hashing
    (matching DuckDB's NULL-skipping concat, and xxhash64's skip of
    null arguments), so every null-keyed row lands in the ONE bucket
    the bare salt hashes to — deterministic, but a split-proportion
    skew if nulls are common. Filter or repair null keys upstream.
    """
    if hash_fn not in ("charfold", "xxhash64"):
        raise ValueError(f"hash_fn must be 'charfold' or 'xxhash64', got {hash_fn!r}")
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    if hash_fn == "xxhash64":
        # xxhash64 skips NULL args, so a null key hashes as the bare salt
        return F.pmod(F.xxhash64(key, F.lit(salt)), F.lit(n_buckets))
    # coalesce BEFORE concat: Spark concat is NULL-propagating while
    # DuckDB's oracle-side concat skips NULLs — without this, a null
    # key yields a NULL bucket here (falling through every split CASE
    # to the last label) but a real bucket in the oracle
    keyed = F.concat(F.coalesce(key.cast("string"), F.lit("")), F.lit(salt))
    # char_fold_hash takes a column NAME (SQL text); the fold here must
    # apply to an arbitrary expression, so build the same fold inline
    from flink_etl_spark.functions.hashing import MERSENNE_P

    folded = F.aggregate(
        F.transform(
            F.split(keyed, ""), lambda c: F.ascii(c).cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * F.lit(131) + c) % F.lit(MERSENNE_P),
    )
    return F.pmod(folded, F.lit(n_buckets))


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    weights: tuple[tuple[str, float], ...] = DEFAULT_SPLITS,
    n_buckets: int = 10_000,
    salt: str = "",
    hash_fn: str = "xxhash64",
    out_col: str = "split",
) -> DataFrame:
    """Assign a deterministic train/val/test ``split`` label by hash
    bucketing ``key_col`` — the standard leakage-safe dataset split: the
    assignment is a pure function of the key (+ salt), so re-runs,
    incremental appends, and multi-site pipelines agree without
    coordination, and near-duplicate handling stays upstream (dedup
    first, then split, or split on a cluster-representative key).

    ``weights`` are (label, fraction) pairs summing to 1.0; boundaries
    are ``round(cum_fraction * n_buckets)`` with Python's round-half-even
    tie rule (see `_split_bounds` for why truncation is wrong), so with
    the default 10 000 buckets the 0.9/0.05/0.05 split is exact to
    0.01% and a half-exact boundary (0.45/0.55 at n_buckets=10 ->
    round(4.5)=4) lands deterministically on the even bucket.

    Zero shuffles — one projection. Salt rotation re-splits the corpus
    (e.g. per-experiment); the oracle-portable ``hash_fn="charfold"``
    arm is what the catalog gate pins.
    """
    total = sum(w for _, w in weights)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1.0, got {total}")
    if len(weights) < 1 or any(w < 0 for _, w in weights):
        raise ValueError(f"weights must be non-negative and non-empty: {weights}")
    bucket = split_buckets(F.col(key_col), n_buckets, salt, hash_fn)
    # chained half-open ranges [lo, hi) per label; final label catches
    # the remainder so rounding never drops a bucket
    expr = None
    for label, hi in _split_bounds(weights, n_buckets):
        cond = bucket < F.lit(hi)
        expr = F.when(cond, F.lit(label)) if expr is None else expr.when(cond, F.lit(label))
    last_label = weights[-1][0]
    expr = F.lit(last_label) if expr is None else expr.otherwise(F.lit(last_label))
    return df.withColumn(out_col, expr)


def _split_bounds(
    weights: tuple[tuple[str, float], ...], n_buckets: int
) -> list[tuple[str, int]]:
    """Shared boundary computation for hash_split and its oracle twin:
    round(cum * n_buckets), NOT int() — truncation turns the IEEE
    representation of e.g. 0.7*10000 (6999.999999999999) into 6999,
    silently moving a bucket between splits. Python round() ties go
    half-EVEN (0.45/0.55 at n_buckets=10 -> round(4.5) = 4), which is
    the documented contract: deterministic, shared verbatim with the
    DuckDB twin (`duckdb_split_expr` embeds these integers), so the two
    engines cannot diverge on a half-exact cumulative weight."""
    cum = 0.0
    out = []
    for label, w in weights[:-1]:
        cum += w
        out.append((label, round(cum * n_buckets)))
    return out


def duckdb_split_expr(
    key_sql: str,
    weights: tuple[tuple[str, float], ...] = DEFAULT_SPLITS,
    n_buckets: int = 10_000,
    salt: str = "",
) -> str:
    """Oracle twin of ``hash_split(..., hash_fn="charfold")`` — a SQL
    CASE over the same fold/bucket arithmetic, for DuckDB. Null keys
    fold as the bare salt (DuckDB concat skips NULLs), matching the
    Spark side's explicit coalesce."""
    from flink_etl_spark.functions.hashing import duckdb_char_fold_hash

    def _q(s: str) -> str:
        # SQL string-literal escaping: the Spark arm takes the same
        # values via F.lit, so a quoted salt/label must not break (or
        # alter) the oracle SQL
        return s.replace("'", "''")

    keyed = f"concat(CAST({key_sql} AS VARCHAR), '{_q(salt)}')"
    fold = duckdb_char_fold_hash(keyed)
    bucket = f"(({fold}) % {n_buckets} + {n_buckets}) % {n_buckets}"
    cases = [
        f"WHEN {bucket} < {hi} THEN '{_q(label)}'"
        for label, hi in _split_bounds(weights, n_buckets)
    ]
    if not cases:
        # single-label split: a CASE with zero WHEN branches is a
        # parser error in DuckDB, while the Spark arm returns a literal
        return f"'{_q(weights[-1][0])}'"
    return "CASE " + " ".join(cases) + f" ELSE '{_q(weights[-1][0])}' END"


# ---------------------------------------------------------------------------
# per-group caps (source balancing)
# ---------------------------------------------------------------------------


def cap_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    n: int,
) -> DataFrame:
    """Keep at most ``n`` rows per group under a DETERMINISTIC order —
    the corpus-balancing primitive (cap documents per source/domain so
    no single crawl dominates the training mix).

    ``order_by`` must be a total order within each group (add the id
    column as the last key) or the kept set is nondeterministic.

    Compiles to WindowGroupLimit (rank pushed into the shuffle read —
    no full sort per group), same plan shape as the gated
    ``window_topk_orders_per_customer``.
    """
    if n <= 0:
        raise ValueError(f"cap must be positive, got {n}")
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

#: public-pattern PII regexes — the common RE2/Java subset (no
#: lookaround), so the Spark expression and the DuckDB oracle compile
#: the IDENTICAL pattern strings. Email deliberately simple (full
#: RFC 5322 is not a regex); phone is the NANP digit shape with -/.
#: separators; IPv4 is the dotted-quad digit shape (no octet range
#: check — scrubbing favors recall over precision).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
    id_cols: list[str] | None = None,
) -> DataFrame:
    """Count and redact email / NANP-phone / IPv4 matches.

    Output: the input columns (or just ``id_cols`` + text when given)
    with ``n_email`` / ``n_phone`` / ``n_ipv4`` counts (measured on the
    ORIGINAL text) and ``out_col`` (default ``{text_col}_redacted``)
    with matches replaced by ``<EMAIL>`` / ``<PHONE>`` / ``<IP>``, in
    that order — email first, so an address's digit runs can't be
    half-eaten by the phone/IP patterns.

    Counts are per-pattern on the untouched input, so overlapping
    matches (a phone-shaped digit run inside an email's local part)
    can be counted by BOTH patterns while the redaction consumes it
    once; scrubbing favors recall.

    All ``regexp_count`` / ``regexp_replace`` — whole-stage codegen,
    zero Python. At 100 TB this is a free rider on whatever scan
    already reads the text column.
    """
    redacted_col = out_col or f"{text_col}_redacted"
    # collision guard (the merge `_prio` hazard class): the redacted /
    # count columns are APPENDED to the retained input columns, so a
    # name collision would emit a duplicate column that poisons every
    # downstream select-by-name
    retained = (
        list(id_cols) + [text_col] if id_cols is not None else list(df.columns)
    )
    added = [f"n_{name}" for name, _, _ in PII_PATTERNS] + [redacted_col]
    if len(set(added)) != len(added):
        raise ValueError(
            f"pii_redact: out_col {redacted_col!r} collides with a count column"
        )
    clash = sorted(set(added) & set(retained))
    if clash:
        raise ValueError(
            f"pii_redact: output column(s) {clash} collide with retained "
            f"input columns — rename via out_col= or project the input first"
        )
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(pat)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    red = text
    for _, pat, repl in PII_PATTERNS:
        red = F.regexp_replace(red, pat, repl)
    keep = (
        [F.col(c) for c in id_cols] + [text] if id_cols is not None else [F.col("*")]
    )
    return df.select(*keep, *counts, red.alias(redacted_col))


def duckdb_pii_sql(text_sql: str) -> dict[str, str]:
    """Oracle twins: SQL snippets computing the same counts/redaction in
    DuckDB (``regexp_extract_all`` length for counts; the same ordered
    ``regexp_replace(..., 'g')`` chain — DuckDB replaces only the first
    match unless the 'g' flag is passed)."""
    out = {}
    red = text_sql
    for name, pat, repl in PII_PATTERNS:
        # DuckDB string literals are backslash-literal, so the Java/RE2
        # common pattern embeds verbatim
        out[f"n_{name}"] = f"len(regexp_extract_all({text_sql}, '{pat}'))"
        red = f"regexp_replace({red}, '{pat}', '{repl}', 'g')"
    out["redacted"] = red
    return out


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_greedy(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    part_cols: tuple[str, ...] = ("source",),
    order_by: list | None = None,
) -> DataFrame:
    """Pack documents into fixed token-budget training sequences by
    START-OFFSET binning: within each ``part_cols`` group, documents are
    laid out in a deterministic order and a document joins the sequence
    where its FIRST token lands (``seq_id = floor(running_prefix /
    budget)``).

    This is the distributed-standard approximation to greedy first-fit
    packing: exact close-bin-when-full is inherently sequential (each
    decision depends on the previous bin's remaining space), while the
    start-offset rule is a pure window prefix sum — a sequence can
    overrun ``budget`` by at most its last document's length (real
    pipelines truncate or roll those tokens into the next sequence at
    materialization time; ``overflow_doc`` flags documents longer than
    the whole budget up front).

    Output: the input columns plus ``seq_id`` (per-group sequence
    number), ``seq_offset`` (token offset of the document inside its
    sequence), ``overflow_doc``. All integer arithmetic — exact in any
    engine.

    100 TB shape: ONE window prefix-sum per group — partition by
    something bounded (source x day, shard) so no window partition grows
    unbounded. For a single global stream, use the two-level pattern:
    per-partition prefix sums + a broadcast of per-partition totals
    (cumulative offsets), then the same floor-divide — same math,
    no global sort.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    order = order_by if order_by is not None else [F.col(id_col)]
    w = (
        Window.partitionBy(*[F.col(c) for c in part_cols])
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(
        F.sum(F.col(tokens_col)).over(w), F.lit(0).cast("long")
    )
    return (
        df.withColumn("_cum0", cum_before)
        .withColumn("seq_id", F.floor(F.col("_cum0") / F.lit(budget)))
        .withColumn("seq_offset", F.col("_cum0") % F.lit(budget))
        .withColumn("overflow_doc", F.col(tokens_col) > F.lit(budget))
        .drop("_cum0")
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    broadcast_benchmark: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Flag training documents that share any token n-gram with a
    benchmark/eval set — the public GPT-3 (appendix C, 13-gram) /
    Dodge et al. C4 decontamination methodology, parameterized on n.

    One row per training document: ``id_col``, ``n_shared_grams``
    (distinct n-grams also present anywhere in the benchmark),
    ``n_bench_docs`` (distinct benchmark documents sharing at least one
    gram), ``contaminated`` (0/1). Documents shorter than n tokens have
    no grams and are clean by definition.

    Grams travel as 64-bit TERM IDS, never strings: ``hash_fn`` picks
    the gram hash exactly as in `dedup.minhash_profile` —

    * "xxhash64" (default) — each token hashed once, a gram's id is the
      polynomial combine of its n token hashes; no gram string is ever
      built. The production arm: a 13-gram string averages ~80 bytes
      where the id is 8, and the per-doc aggregate's exchange was the
      one shuffle-byte ratio >10 in the 10x probe before this change.
    * "charfold" — gram strings char-folded to ids; portable (the
      DuckDB oracle replicates the fold value-exactly), pinned by the
      gated catalog entry.

    Counts are over distinct gram IDS; a fold collision (~set^2/2P per
    doc) could in principle merge two grams, identically in any engine
    replicating the hash — the same contract as minhash term-ids.

    100 TB shape: the benchmark side is distinct-ed and BROADCAST
    (eval suites are MBs against a corpus of TBs), so the corpus never
    shuffles for the membership join — one explode, a map-side
    broadcast left join, then a per-doc aggregate whose shuffle carries
    (id, gram_id) pairs only for matching grams plus one row per doc.
    Disable ``broadcast_benchmark`` only if the "benchmark" is itself
    corpus-scale (then it is a plain shuffle join and you likely wanted
    `jaccard_pairs`)."""
    from flink_etl_spark.functions.hashing import (
        fold_gram_ids_sql,
        gram_ids_sql,
        token_hashes_sql,
    )

    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    if hash_fn not in ("charfold", "xxhash64"):
        raise ValueError(f"hash_fn must be 'charfold' or 'xxhash64', got {hash_fn!r}")
    bid = bench_id_col or id_col
    btext = bench_text_col or text_col

    def grams(df: DataFrame, i: str, t: str, outer: bool) -> DataFrame:
        exploder = F.explode_outer if outer else F.explode
        toks = df.select(F.col(i), F.expr(tokens_sql(ident(t))).alias("_t"))
        if hash_fn == "xxhash64":
            ids_df = toks.select(
                F.col(i), F.expr(token_hashes_sql("_t")).alias("_th")
            ).select(
                F.col(i),
                F.array_distinct(F.expr(gram_ids_sql("_th", n))).alias("_ga"),
            )
        else:
            ids_df = toks.select(
                F.col(i), F.expr(shingles_sql("_t", n)).alias("_sh")
            ).select(
                F.col(i),
                F.array_distinct(F.expr(fold_gram_ids_sql("_sh"))).alias("_ga"),
            )
        return ids_df.select(F.col(i), exploder("_ga").alias("_g"))

    bench = grams(benchmark, bid, btext, outer=False).select(
        F.col(bid).alias("_bench_id"), "_g"
    ).distinct()
    if broadcast_benchmark:
        bench = F.broadcast(bench)
    corpus = grams(docs, id_col, text_col, outer=True)
    joined = corpus.join(bench, "_g", "left")
    hit = F.col("_bench_id").isNotNull()
    per_doc = joined.groupBy(id_col).agg(
        F.countDistinct(F.when(hit, F.col("_g"))).alias("n_shared_grams"),
        F.countDistinct("_bench_id").alias("n_bench_docs"),
    )
    return per_doc.select(
        F.col(id_col),
        "n_shared_grams",
        "n_bench_docs",
        (F.col("n_shared_grams") > 0).cast("long").alias("contaminated"),
    )


def pack_greedy_global(
    df: DataFrame,
    budget: int,
    id_col: str = "doc_id",
    tokens_col: str = "n_tokens",
    bucket_width: int = 100_000,
) -> DataFrame:
    """GLOBAL start-offset packing (one sequence stream over the whole
    corpus, ordered by ``id_col``) via the two-level distributed prefix
    sum `pack_greedy`'s docstring prescribes — no single-partition
    window anywhere:

    1. rows are assigned a deterministic ORDER BUCKET
       (``id_col // bucket_width`` — a pure function of the key, unlike
       repartitionByRange's sampled boundaries, so re-runs and retries
       bucket identically);
    2. within-bucket prefix sums run as an ordinary partitioned window
       (each bucket bounded by construction);
    3. per-bucket token totals (one tiny row per bucket) get their own
       cumulative offsets and broadcast-join back;
    4. ``seq_id = floor((bucket_offset + within_prefix) / budget)`` —
       identical to the math a single global window would produce
       (asserted in tests), at any corpus size.

    Requires a non-negative integral ``id_col``; pick ``bucket_width``
    so one bucket's rows fit a task comfortably (10^5 docs/bucket
    default — window state is rows, not tokens).

    Output matches `pack_greedy` (seq_id / seq_offset / overflow_doc)
    with global sequence numbering.
    """
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"pack_greedy_global requires an integral id_col, got "
            f"{id_col!r}: {id_type}"
        )

    # integer `div`, not float division + cast: for snowflake-scale ids
    # (quotient near 2^52) the IEEE quotient can round across a bucket
    # boundary, silently violating the documented id_col // bucket_width
    # grid — the same floor-grid rule the gate surface follows. The
    # CASE folds the documented non-negative-id requirement into the
    # bucket expression itself (negative ids would floor into bucket
    # -1 and silently corrupt the global order) — inside the expression
    # so column pruning can never drop the check.
    bucketed = df.withColumn(
        "_pkb",
        F.expr(
            f"CASE WHEN `{id_col}` >= 0 THEN `{id_col}` div {bucket_width} "
            f"ELSE CAST(raise_error('pack_greedy_global: id_col must be "
            f"non-negative, got ' || CAST(`{id_col}` AS STRING)) AS BIGINT) "
            f"END"
        ),
    )
    w_in = (
        Window.partitionBy("_pkb")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = bucketed.withColumn(
        "_cum_in",
        F.coalesce(F.sum(F.col(tokens_col)).over(w_in), F.lit(0).cast("long")),
    )
    # level 2: one row per bucket — cumulative offset of each bucket's
    # first token; the tiny window spans only n_buckets rows. Cost
    # note: this branch re-reads the (id, tokens) projection — a second
    # NARROW column-pruned scan — but its shuffle is one row per
    # (bucket, input task) thanks to partial aggregation, never the
    # corpus; deriving the totals from `within` instead would ride the
    # full level-1 window exchange twice (exchange reuse does not
    # reliably canonicalize across the join's inferred null filters),
    # which is strictly worse
    w_b = (
        Window.orderBy("_pkb").rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        bucketed.groupBy("_pkb")
        .agg(F.sum(F.col(tokens_col)).alias("_btot"))
        .withColumn(
            "_boff",
            F.coalesce(F.sum("_btot").over(w_b), F.lit(0).cast("long")),
        )
        .select("_pkb", "_boff")
    )
    cum = F.col("_boff") + F.col("_cum_in")
    return (
        within.join(F.broadcast(offsets), "_pkb")
        .withColumn("seq_id", F.floor(cum / F.lit(budget)))
        .withColumn("seq_offset", cum % F.lit(budget))
        .withColumn("overflow_doc", F.col(tokens_col) > F.lit(budget))
        .drop("_pkb", "_cum_in", "_boff")
    )


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al.,
# NeurIPS 2023): select raw-corpus documents whose hashed-n-gram
# feature distribution looks like a TARGET corpus, by importance
# weight p_target(features)/q_raw(features) under bag-of-n-gram
# unigram models, then sample without replacement via Gumbel-top-k.
# ---------------------------------------------------------------------------


def dsir_log_weights(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_terms: bool = True,
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-document DSIR log importance weights: features are the
    document's unigrams + bigrams (the paper's hashed n-gram features;
    here exact 64-bit `xxhash64` ids by default — collision-safe at
    corpus scale — with `hash_terms=False` pinning exact strings for
    the oracle gate, the `bigram_lm_scores` convention), scored
    against add-one-smoothed feature distributions fit on
    ``target_docs`` (p) and on ``docs`` itself (q — the raw corpus
    being selected from, the DSIR setting):

        lr(f) = ln((C_t(f)+1) / (N_t+V)) - ln((C_q(f)+1) / (N_q+V))

    with V the distinct-feature count over BOTH corpora (one shared
    smoothing denominator, so p and q are proper distributions over
    the same support). Output per scored document:

    * ``n_feats`` — feature instances (tokens + bigrams);
    * ``logw_micro`` (BIGINT) — the summed per-instance MICRO-floored
      log ratio: the document's log importance weight in 1e-6 units,
      order-independent (integer sum — the engine's summed-float
      contract) and the direct input to `dsir_select_n`;
    * ``mean_lr_micro`` — exact int/int division of the sum (a
      length-independent quality score, comparable across documents);
    * ``novel_target_frac`` — micro-floored fraction of instances
      UNSEEN in the target (high = the document is out-of-domain).

    Scale shape: both corpora tokenize once (one concat of the token
    array with its bigram shingles, one explode); C_t/C_q/V/N are
    map-side-combined aggregates; the scored feature stream joins the
    two count tables on the feature key and the 1-row totals
    broadcast. Empty text tokenizes to one empty-string token (the
    package-wide `tokens_sql` convention, same as the LM scorers), so
    every document appears in the output.

    ``n_buckets=B`` switches to the PAPER's hashed feature space (Xie
    et al. 2023 hash n-grams into a fixed 10k-bucket vocabulary): each
    feature maps to ``hash(f) % B``, the fit distributions live over
    exactly B buckets (smoothing V = B — fixed, no corpus-wide
    distinct count), and — the 100 TB point — PER-DOC SCORING IS
    ZERO-SHUFFLE: the two count tables collapse to one B-length
    log-ratio array packed into a single broadcast row, and every
    document folds its own feature array against it map-side (no
    explode of the scored corpus, no join on the feature key). The
    exact-id form shuffles the entire exploded token+bigram stream of
    the raw corpus through two vocabulary-sized joins; the bucketed
    form exchanges nothing bigger than B-row partial counts.
    Collision cost is the method's own design point (counts, not
    texts, collide — the fit distributions just coarsen); measured
    agreement vs the exact arm at sf0.1 is recorded in docs/SCALING.md
    ("DSIR" section). B must fit a broadcast row: 8 bytes * B * 2
    arrays (10k default in the paper; <= ~16M is safe)."""
    if n_buckets is not None:
        return _dsir_log_weights_bucketed(
            docs, target_docs, id_col, text_col, hash_terms, n_buckets
        )
    t_sql = tokens_sql(ident(text_col))
    feats = F.concat(F.expr(t_sql), F.expr(shingles_sql(t_sql, 2)))

    def feat_frame(d: DataFrame, with_id: bool) -> DataFrame:
        cols = [F.col(id_col)] if with_id else []
        f = d.select(*cols, F.explode(feats).alias("_fs"))
        key = (F.xxhash64("_fs") if hash_terms else F.col("_fs")).alias("_f")
        return f.select(*([id_col] if with_id else []), key)

    from flink_etl_spark.session import anchor

    tf_ = feat_frame(target_docs, False)
    qf_ = feat_frame(docs, False)
    # ONE merged, ANCHORED count table (vocabulary-sized — the same
    # artifact dsir_stage_fit persists) and every total derived from
    # it instead of from the raw token streams: r13's totals frame
    # re-tokenized BOTH corpora a second and third time (explode +
    # union + countDistinct over every feature instance — the single
    # biggest exchange in the plan) where _nt/_nq are just the count
    # sums and V is literally the merged table's ROW COUNT, all exact
    # bigint identities. The full-outer merge reuses the two count
    # aggregates' hash-by-_f partitioning (no extra exchange), the
    # scored stream joins ONE table instead of two, and the target/
    # scored corpora tokenize once/twice (was 3x + 3x) — the bucketed
    # arm's "no second scan" discipline applied to the exact arm.
    ct = tf_.groupBy("_f").agg(F.count("*").alias("_ct"))
    cq = qf_.groupBy("_f").agg(F.count("*").alias("_cq"))
    counts = anchor(ct.join(cq, "_f", "full_outer"))
    totals = counts.agg(
        F.sum(F.coalesce(F.col("_ct"), F.lit(0))).alias("_nt"),
        F.sum(F.coalesce(F.col("_cq"), F.lit(0))).alias("_nq"),
        F.count("*").alias("_v"),
    )
    lr = F.floor(
        (
            F.log(
                (F.coalesce(F.col("_ct"), F.lit(0)) + F.lit(1.0))
                / (F.col("_nt") + F.col("_v"))
            )
            - F.log(
                (F.coalesce(F.col("_cq"), F.lit(0)) + F.lit(1.0))
                / (F.col("_nq") + F.col("_v"))
            )
        )
        * F.lit(1_000_000.0)
    ).cast("long")
    novel = F.when(F.col("_ct").isNull(), F.lit(1)).otherwise(F.lit(0))
    scored = (
        feat_frame(docs, True)
        .join(counts, "_f", "left")
        .join(F.broadcast(totals))
        .select(id_col, lr.alias("_lr"), novel.alias("_novel"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("_lr").alias("logw_micro"),
            F.sum("_novel").alias("_n"),
        )
        .select(
            id_col,
            "n_feats",
            "logw_micro",
            (F.col("logw_micro").cast("double") / F.col("n_feats")).alias(
                "mean_lr_micro"
            ),
            F.expr(micro_floor_ratio("_n", "n_feats")).alias(
                "novel_target_frac"
            ),
        )
    )


def _dsir_log_weights_bucketed(
    docs: DataFrame,
    target_docs: DataFrame,
    id_col: str,
    text_col: str,
    hash_terms: bool,
    n_buckets: int,
) -> DataFrame:
    """The fixed-bucket DSIR arm (`dsir_log_weights(n_buckets=B)`) —
    see its docstring for semantics. Shape:

    1. FIT (the only exchanges): explode each corpus to feature
       buckets, groupBy(bucket) count — map-side combined, <= B rows
       per side. A `spark.range(B)` grid left-joins the two count
       tables so EVERY bucket gets a row (absent buckets carry the
       smoothing-only ratio ln((Nq+B)/(Nt+B))), and one aggregate
       packs the dense per-bucket (log-ratio, target-unseen) pair
       into TWO B-length arrays in ONE row. N_t/N_q fall out of the
       same aggregate (sums over the count columns) — no second scan.
    2. SCORE (zero shuffle): broadcast-cross the packed row onto the
       raw corpus and fold each document's own feature array against
       it row-locally (`aggregate` over element_at lookups). The
       scored corpus never explodes and never joins.

    Per the interpreted-HOF rule (repetition_stats docstring), the
    token array, the feature array, and the bucket-index array are
    each staged as their OWN projected column — inlining them
    re-evaluates the tokenization per reference. Per-bucket log
    ratios are micro-floored BEFORE the per-doc sum, so the sum is
    order-independent and identical to flooring per instance (equal
    buckets share one floored value)."""
    _dsir_validate_buckets(n_buckets)
    bsql = _dsir_bucket_sql(hash_terms, n_buckets)
    per_bucket = _dsir_per_bucket(
        docs, target_docs, text_col, bsql, n_buckets
    )
    packed = _dsir_pack(per_bucket, n_buckets)
    return _dsir_score(docs, packed, bsql, id_col, text_col)


def _dsir_validate_buckets(n_buckets: int) -> None:
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    if n_buckets > 16_000_000:
        raise ValueError(
            f"n_buckets {n_buckets} exceeds the broadcast-row sanity cap "
            "(2 arrays * 8 bytes * B must stay driver/executor-friendly); "
            "use the exact-id arm past ~16M buckets"
        )


def _dsir_bucket_sql(hash_terms: bool, n_buckets: int):
    """SQL-text bucket expression builder (takes the variable name so
    it can be inlined in a lambda). Non-negative in both engines: pmod
    for the 64-bit hash, and the char fold's accumulator already lives
    in [0, P)."""
    from flink_etl_spark.functions.hashing import MERSENNE_P

    def bucket_sql(var: str) -> str:
        if hash_terms:
            return f"pmod(xxhash64({var}), {n_buckets})"
        return (
            f"(aggregate(transform(split({var}, ''), "
            f"c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), "
            f"(acc, c) -> (acc * 131 + c) % {MERSENNE_P}) % {n_buckets})"
        )

    return bucket_sql


def _dsir_feats_frame(
    d: DataFrame, id_col: str, text_col: str, keep_id: bool
) -> DataFrame:
    """(id?, _feats): unigrams + bigram shingles, token array staged as
    its own projection per the interpreted-HOF rule."""
    toks = d.select(
        *([F.col(id_col)] if keep_id else []),
        F.expr(tokens_sql(ident(text_col))).alias("_toks"),
    )
    return toks.select(
        *([id_col] if keep_id else []),
        F.concat(
            F.col("_toks"), F.expr(shingles_sql("_toks", 2))
        ).alias("_feats"),
    )


def _dsir_per_bucket(
    docs: DataFrame,
    target_docs: DataFrame,
    text_col: str,
    bucket_sql,
    n_buckets: int,
) -> DataFrame:
    """The DSIR fit: dense (_b, _ct, _cq) — one row per bucket 0..B-1
    (a spark.range grid left-joins the two map-side-combined count
    aggregates, so absent buckets carry zeros). <= B rows; this is the
    frame `dsir_stage_fit` persists."""

    def bucket_counts(d: DataFrame, out: str) -> DataFrame:
        return (
            _dsir_feats_frame(d, "", text_col, False)
            .select(F.explode("_feats").alias("_fs"))
            .select(F.expr(bucket_sql("_fs")).alias("_b"))
            .groupBy("_b")
            .agg(F.count("*").alias(out))
        )

    grid = docs.sparkSession.range(n_buckets).select(
        F.col("id").alias("_b")
    )
    return (
        grid.join(bucket_counts(target_docs, "_ct"), "_b", "left")
        .join(bucket_counts(docs, "_cq"), "_b", "left")
        .select(
            "_b",
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
            F.coalesce("_cq", F.lit(0)).alias("_cq"),
        )
    )


def _dsir_pack(per_bucket: DataFrame, n_buckets: int) -> DataFrame:
    """ONE broadcastable row: _lrs[b+1] = micro-floored log importance
    ratio of bucket b, _novs[b+1] = 1 when the bucket carries zero
    target mass. N_t/N_q fall out of the same aggregate — no second
    scan. Ratios are micro-floored PER BUCKET before any per-doc sum,
    which equals flooring per instance (equal buckets share one
    floored value)."""
    B = n_buckets
    return (
        per_bucket.agg(
            F.sum("_ct").alias("_nt"),
            F.sum("_cq").alias("_nq"),
            F.array_sort(
                F.collect_list(F.struct("_b", "_ct", "_cq"))
            ).alias("_a"),
        )
        .select(
            F.expr(
                f"transform(_a, x -> CAST(floor("
                f"(ln((x._ct + 1.0) / (_nt + {B})) - "
                f"ln((x._cq + 1.0) / (_nq + {B}))) * 1000000.0) AS BIGINT))"
            ).alias("_lrs"),
            F.expr(
                "transform(_a, x -> CAST(CASE WHEN x._ct = 0 THEN 1 "
                "ELSE 0 END AS BIGINT))"
            ).alias("_novs"),
        )
    )


def _dsir_score(
    docs: DataFrame, packed: DataFrame, bucket_sql, id_col: str,
    text_col: str,
) -> DataFrame:
    """Zero-shuffle per-doc scoring: broadcast-cross the packed row and
    fold each document's own feature array row-locally."""
    return (
        _dsir_feats_frame(docs, id_col, text_col, True)
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_bidx",
            F.expr(
                f"transform(_feats, f -> CAST({bucket_sql('f')} AS INT) + 1)"
            ),
        )
        .select(
            id_col,
            F.size("_feats").alias("n_feats"),
            F.expr(
                "aggregate(_bidx, CAST(0 AS BIGINT), "
                "(acc, i) -> acc + element_at(_lrs, i))"
            ).alias("logw_micro"),
            F.expr(
                "aggregate(_bidx, CAST(0 AS BIGINT), "
                "(acc, i) -> acc + element_at(_novs, i))"
            ).alias("_n"),
        )
        .select(
            id_col,
            "n_feats",
            "logw_micro",
            (F.col("logw_micro").cast("double") / F.col("n_feats")).alias(
                "mean_lr_micro"
            ),
            F.expr(micro_floor_ratio("_n", "n_feats")).alias(
                "novel_target_frac"
            ),
        )
    )


def _bigram_hash_frame(d: DataFrame, text_col: str) -> DataFrame:
    """(_h): xxhash64 of each bigram-shingle OCCURRENCE of a corpus —
    the exact-identity side channel the bucket histograms cannot
    carry: when distinct features far exceed the bucket count, a
    hashed-bucket histogram converges to uniform and stops seeing
    WHICH features arrive (the measured order-drift blind spot), while
    an anti-join on exact 8-byte bigram hashes still does. Staged
    projection per the interpreted-HOF rule."""
    toks = d.select(F.expr(tokens_sql(ident(text_col))).alias("_toks"))
    return toks.select(
        F.explode(F.expr(shingles_sql("_toks", 2))).alias("_s")
    ).select(F.xxhash64("_s").alias("_h"))


def dsir_stage_fit(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    fit_path: str,
    n_buckets: int = 10_000,
    text_col: str = "text",
    hash_terms: bool = True,
) -> None:
    """Stage the bucketed DSIR FIT once so scoring runs reuse it — the
    minhash staged-profile pattern applied to data selection: the fit
    (two corpus tokenization passes + the <= B-row count aggregates)
    is the expensive half, and a 100 TB pipeline scores many shards /
    days against ONE fit. Writes `<fit_path>/counts` (the dense
    per-bucket (_b, _ct, _cq) frame — counts, not ratios, so future
    re-smoothing stays possible) plus a `_DSIR_META.json` sidecar
    pinning {version, n_buckets, hash_terms}; `dsir_log_weights_staged`
    derives its parameters from the sidecar and raises on drift (the
    `_PROFILE_META.json` contract — a mismatched bucket space would
    silently score garbage).

    The raw-corpus distribution q is frozen at fit time (the DSIR
    paper fits q on the full raw corpus once); re-stage the fit when
    the raw distribution moves materially — the staged scoring of the
    SAME corpora is value-identical to
    `dsir_log_weights(raw, target, n_buckets=B)` (pinned by test).

    Crash note: the counts overwrite and the sidecar write are two
    steps; a crash between them leaves new counts under an old
    sidecar (or a half-written fit). A staged fit is a cheap derived
    artifact with no replay contract — after any crashed stage, just
    re-run `dsir_stage_fit` (idempotent overwrite) before scoring."""
    _dsir_validate_buckets(n_buckets)
    bsql = _dsir_bucket_sql(hash_terms, n_buckets)
    per_bucket = _dsir_per_bucket(
        raw_docs, target_docs, text_col, bsql, n_buckets
    )
    _stage_bucketed_fit(
        DSIR_META, per_bucket, raw_docs, text_col, fit_path,
        {"n_buckets": n_buckets, "hash_terms": hash_terms},
    )


def _stage_bucketed_fit(
    kind, per_bucket: DataFrame, corpus: DataFrame, text_col: str,
    fit_path: str, params: dict,
) -> None:
    """Write a bucketed fit (DSIR, NB): the per-bucket counts, the
    corpus's distinct bigram hashes (vocabulary-sized by Heaps' law:
    the drift monitor's order-sensitive companion signal — see
    staged_fit_drift_check's bigram_novel_frac), then the sidecar."""
    per_bucket.write.mode("overwrite").parquet(f"{fit_path}/counts")
    _bigram_hash_frame(corpus, text_col).distinct().write.mode(
        "overwrite"
    ).parquet(f"{fit_path}/bigrams")
    kind.write(corpus.sparkSession, fit_path, {**params, "bigrams": True})


def _staged_bucketed_fit(kind, spark, fit_path: str):
    """(sidecar, bucket-hash SQL builder, packed counts) of a fit staged
    by `_stage_bucketed_fit`; raises when its sidecar is absent or of
    another format version."""
    meta = kind.require(spark, fit_path)
    n_buckets = int(meta["n_buckets"])
    counts = spark.read.parquet(f"{fit_path}/counts")
    return (
        meta,
        _dsir_bucket_sql(bool(meta["hash_terms"]), n_buckets),
        _dsir_pack(counts, n_buckets),
    )


def dsir_log_weights_staged(
    docs: DataFrame,
    fit_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a fit staged by `dsir_stage_fit` —
    same output contract as `dsir_log_weights(n_buckets=B)` (n_feats,
    logw_micro, mean_lr_micro, novel_target_frac), same zero-shuffle
    shape (the <= B-row counts read, packed into one broadcast row,
    folded row-locally), with n_buckets and the bucket hash derived
    from the sidecar. Feed the result to `dsir_select_n` as usual."""
    _, bsql, packed = _staged_bucketed_fit(
        DSIR_META, docs.sparkSession, fit_path
    )
    return _dsir_score(docs, packed, bsql, id_col, text_col)


def dsir_select_n(
    weighted: DataFrame,
    n: int,
    logw_col: str = "logw_micro",
    salt: int = 0,
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] | list[str] = (),
    key_col: str = "gumbel_key",
) -> DataFrame:
    """DSIR's resampling half: sample ``n`` rows WITHOUT replacement
    with probability proportional to ``exp(logw)`` via the Gumbel-
    top-k theorem (Vieira 2014; Kool et al. 2019) — the top-n of
    ``logw + Gumbel`` is exactly such a sample, and it never needs
    the (overflow-prone) exponentiated weights. ``logw_col`` takes
    `dsir_log_weights`'s micro-integer ``logw_micro`` (divided back
    once, exactly) or any plain double.

    The Gumbel draw ``-ln(-ln(u))`` uses the same salted affine hash
    of the id as `weighted_sample_n` — a pure function of (id, salt),
    so the draw is identical across engines, retries, and
    partitionings; rotate ``salt`` to redraw. The noise is rounded to
    6 dp before the add (the catalog determinism rule; the logw side
    is already 1e-6-exact), ties break on id. Per ``group_cols`` the
    top-n compiles to WindowGroupLimit; the global form is
    TakeOrderedAndProject — never a single-reducer sort."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from flink_etl_spark.functions.hashing import MERSENNE_P, MINHASH_COEFFS

    a, b = MINHASH_COEFFS[salt % len(MINHASH_COEFFS)]
    h = (
        F.lit(a) * ((F.col(id_col) + F.lit(salt)) % F.lit(MERSENNE_P))
        + F.lit(b)
    ) % F.lit(MERSENNE_P)
    u = (h + F.lit(1)) / F.lit(float(MERSENNE_P + 1))
    logw = F.col(logw_col).cast("double")
    if logw_col == "logw_micro":
        logw = logw / F.lit(1_000_000.0)
    key = logw + F.round(-F.log(-F.log(u)), 6)
    scored = weighted.withColumn(key_col, key)
    if group_cols:
        w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
            F.col(key_col).desc(), F.col(id_col)
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )
    return scored.orderBy(F.col(key_col).desc(), F.col(id_col)).limit(n)


def nb_classifier_scores(
    docs: DataFrame,
    labeled_docs: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_terms: bool = True,
    n_buckets: int = 10_000,
) -> DataFrame:
    """SUPERVISED document quality classifier — hashed-bag-of-n-grams
    multinomial Naive Bayes, the closed-form stand-in for the
    fastText/logistic quality filters the GPT-3 / LLaMA / CCNet
    pipelines run (a linear scorer over hashed unigram+bigram
    features; NB's weights need ONE counting pass instead of SGD
    epochs, which is what makes the fit a pair of map-side-combined
    aggregates at 100 TB).

    ``labeled_docs`` carries a BOOLEAN ``label_col`` (True = positive
    class, e.g. "looks like wiki/books"); ``docs`` is the corpus to
    score. Per bucket b the fit is the add-one-smoothed class
    log-likelihood ratio — EXACTLY the bucketed-DSIR per-bucket
    machinery with (target, raw) := (positive, negative), and the
    implementation reuses it verbatim (`_dsir_per_bucket`/
    `_dsir_pack`) —

        lo(b) = ln((C_pos(b)+1)/(N_pos+B)) - ln((C_neg(b)+1)/(N_neg+B))

    plus the class prior ln(D_pos/D_neg), both micro-floored to
    integers (the order-independent summed-float contract). DSIR is
    the UNSUPERVISED importance-ratio twin of this scorer; the
    supervised arm differs by the labeled fit corpus, the prior term,
    and the decision rule, and is the piece a pipeline needs when it
    has curated positive examples rather than a target distribution.

    Output per scored document: ``n_feats``, ``logodds_micro``
    (BIGINT: prior_micro + sum of per-instance bucket log-odds — the
    document's NB log P(pos|d)/P(neg|d) in 1e-6 units),
    ``mean_lo_micro`` (exact division by n_feats — the
    length-normalized score to threshold on, CCNet-style), and
    ``predicted`` (logodds_micro > 0, the argmax-class rule).

    Scale shape (inherited from bucketed DSIR, plan-pinned there):
    the fit is two explode+groupBy(bucket) aggregates over the
    LABELED corpus only (the small side — a quality classifier's
    labels are a curated sample) packed into ONE broadcast row;
    scoring the 100 TB corpus is a zero-shuffle row-local fold.
    Labels must be non-null booleans and both classes non-empty —
    validated with one bounded 1-row aggregate (an empty class makes
    the prior undefined; a null label would otherwise silently count
    as negative)."""
    _dsir_validate_buckets(n_buckets)
    lbl = F.col(label_col)
    d_pos, d_neg = _nb_validate_labels(labeled_docs, label_col)
    bsql = _dsir_bucket_sql(hash_terms, n_buckets)
    pos = labeled_docs.filter(lbl)
    neg = labeled_docs.filter(~lbl)
    per_bucket = _dsir_per_bucket(neg, pos, text_col, bsql, n_buckets)
    packed = _dsir_pack(per_bucket, n_buckets).withColumn(
        "_prior", _nb_prior_expr(d_pos, d_neg)
    )
    return _nb_score(docs, packed, bsql, id_col, text_col)


def _nb_validate_labels(
    labeled_docs: DataFrame, label_col: str
) -> tuple[int, int]:
    """Shared label guard for the NB fit paths: ONE bounded 1-row
    aggregate over the labeled corpus; null labels raise (they would
    silently count as negative), an empty class raises (the prior is
    undefined). Returns the integer class doc counts — the prior is
    then built from these same ints (`_nb_prior_expr`), so the guard
    pass is also the prior pass and the labeled corpus is never
    scanned twice for bookkeeping."""
    lbl = F.col(label_col)
    guard = labeled_docs.agg(
        F.sum(F.when(lbl, 1).otherwise(0)).alias("_dpos"),
        F.sum(F.when(~lbl, 1).otherwise(0)).alias("_dneg"),
        F.sum(F.when(lbl.isNull(), 1).otherwise(0)).alias("_dnull"),
    ).collect()[0]
    if guard["_dnull"]:
        raise ValueError(
            f"labeled_docs has {guard['_dnull']} NULL {label_col!r} rows — "
            "nulls would silently count as negative; filter or fill them"
        )
    if not guard["_dpos"] or not guard["_dneg"]:
        raise ValueError(
            f"both classes must be non-empty, got pos={guard['_dpos']} "
            f"neg={guard['_dneg']} (the class prior ln(D_pos/D_neg) is "
            "undefined for an empty class)"
        )
    return int(guard["_dpos"]), int(guard["_dneg"])


def _nb_prior_expr(d_pos: int, d_neg: int):
    """Micro-floored class prior ln(D_pos/D_neg) from INTEGER doc
    counts (the guard's, or the staged sidecar's) — the same JVM ln
    evaluates on every path, so inline, staged, and oracle agree; no
    recorded float ever crosses a boundary."""
    return F.expr(
        f"CAST(floor((ln(CAST({d_pos} AS DOUBLE)) - "
        f"ln(CAST({d_neg} AS DOUBLE))) * 1000000.0) AS BIGINT)"
    )


def _nb_score(
    docs: DataFrame, packed: DataFrame, bsql, id_col: str, text_col: str
) -> DataFrame:
    """Zero-shuffle NB scoring (shared by the inline and staged arms):
    broadcast-cross the packed (log-odds arrays + prior) row and fold
    each document's own feature array row-locally — the `_dsir_score`
    shape plus the prior and the decision rule."""
    feats = _dsir_feats_frame(docs, id_col, text_col, True)
    return (
        feats.crossJoin(F.broadcast(packed))
        .withColumn(
            "_bidx",
            F.expr(
                f"transform(_feats, f -> CAST({bsql('f')} AS INT) + 1)"
            ),
        )
        .select(
            id_col,
            F.size("_feats").alias("n_feats"),
            (
                F.col("_prior")
                + F.expr(
                    "aggregate(_bidx, CAST(0 AS BIGINT), "
                    "(acc, i) -> acc + element_at(_lrs, i))"
                )
            ).alias("logodds_micro"),
        )
        .select(
            id_col,
            "n_feats",
            "logodds_micro",
            (
                F.col("logodds_micro").cast("double") / F.col("n_feats")
            ).alias("mean_lo_micro"),
            (F.col("logodds_micro") > 0).alias("predicted"),
        )
    )


def nb_classifier_scores_multi(
    docs: DataFrame,
    labeled_docs: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_terms: bool = True,
    n_buckets: int = 10_000,
    max_classes: int = 64,
) -> DataFrame:
    """MULTI-CLASS hashed-n-gram Naive Bayes — the K-way form of
    `nb_classifier_scores` (supervised language-ID / domain-ID /
    topic routing over a labeled sample). Per class k the fit is the
    add-one-smoothed per-bucket log likelihood ln((C_k(b)+1)/(N_k+B))
    plus the class prior ln(D_k/D_total), all micro-floored; a
    document's class score is the prior plus the sum over its own
    feature instances, and the prediction is the argmax (ties to the
    lexicographically smallest class — classes are sorted once).

    Shape: the fit is ONE groupBy(label, bucket) count over the
    LABELED corpus (<= K*B rows) joined to a K x B dense grid, packed
    into a single broadcast row (one flattened K*B log-prob array +
    a K-length prior array, indexed class_idx*B + bucket + 1);
    scoring folds each document's staged bucket-index array ONCE PER
    CLASS row-locally — K * n_feats adds per row, zero corpus
    exchanges (`max_classes` bounds both the broadcast and the
    per-row cost; the class list itself is a bounded <= K-row
    driver fetch). Output per scored document:

    * ``predicted`` — the argmax class label;
    * ``best_lp_micro`` — the winning class's score (prior + summed
      per-instance log-probs, 1e-6 units);
    * ``margin_micro`` — best minus second-best score (the
      confidence signal: route low-margin docs to review);
    * ``n_feats`` — feature instances.

    Labels must be non-null (raise) with at least 2 distinct values;
    every distinct value is a class (so classes are non-empty by
    construction)."""
    _dsir_validate_buckets(n_buckets)
    lbl = F.col(label_col)
    nulls = labeled_docs.filter(lbl.isNull()).limit(1).count()
    if nulls:
        raise ValueError(
            f"labeled_docs has NULL {label_col!r} rows — a null label "
            "has no class; filter or fill them"
        )
    # the distinct is LIMITed before collect so a mistaken
    # high-cardinality label_col (doc_id) raises after fetching at
    # most max_classes + 1 rows, never the full label space
    classes = sorted(
        r[0]
        for r in labeled_docs.select(label_col)
        .distinct()
        .limit(max_classes + 1)
        .collect()
    )
    if len(classes) < 2:
        raise ValueError(
            f"need at least 2 classes, got {classes!r}"
        )
    if len(classes) > max_classes:
        raise ValueError(
            f"label space exceeds max_classes={max_classes} "
            "(bounds the packed broadcast and the per-row fold cost); "
            "raise it deliberately if the label space is real"
        )
    K, B = len(classes), n_buckets
    bsql = _dsir_bucket_sql(hash_terms, n_buckets)
    spark = docs.sparkSession

    # fit: one groupBy(class_idx, bucket) count, densified on a K x B
    # grid so absent (class, bucket) cells carry the smoothing-only
    # log-prob of THEIR class (N_k differs per class)
    cls_df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(classes)], ["_k", "_cls"]
    )
    feats = (
        _dsir_feats_frame(labeled_docs, label_col, text_col, True)
        .select(F.col(label_col).alias("_cls"), F.explode("_feats").alias("_fs"))
        .select("_cls", F.expr(bsql("_fs")).alias("_b"))
    )
    # the count table (<= K*B rows) feeds BOTH the dense grid and the
    # per-class totals; without the eager localCheckpoint Spark
    # re-plans the subtree per consumer and the labeled corpus
    # explodes TWICE (plan-pinned: exactly one explode per fit). The
    # fit is already eager (class list + null guard collect above), so
    # the checkpoint adds no laziness surprise; on a real cluster with
    # executor churn swap for checkpoint() like duplicate_clusters.
    counts = (
        feats.groupBy("_cls", "_b")
        .agg(F.count("*").alias("_c"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy("_cls").agg(F.sum("_c").alias("_n"))
    # every class must have >= 1 feature instance: the dense grid's
    # inner join with totals would silently DROP a zero-feature class
    # (every doc of that class NULL/empty text), shrinking the packed
    # _lps array to (K-1)*B and shifting every later class's log-prob
    # region — the binary arm raises on an empty class, so does this
    # one (the check is a <= K-row count over the tiny totals frame)
    if totals.count() < K:
        present = {r["_cls"] for r in totals.collect()}
        missing = [c for c in classes if c not in present]
        raise ValueError(
            f"classes {missing!r} have zero feature instances (every "
            f"document's {text_col!r} is NULL or tokenizes to nothing) — "
            "a class with no features cannot be fit; drop those rows or "
            "fix the text column"
        )
    grid = spark.range(B).select(F.col("id").alias("_b")).crossJoin(
        F.broadcast(cls_df)
    )
    dense = (
        grid.join(F.broadcast(counts), ["_cls", "_b"], "left")
        .join(F.broadcast(totals), "_cls")
        .select(
            "_k", "_b",
            F.floor(
                F.log(
                    (F.coalesce("_c", F.lit(0)) + F.lit(1.0))
                    / (F.col("_n") + F.lit(float(B)))
                )
                * F.lit(1_000_000.0)
            ).cast("long").alias("_lp"),
        )
    )
    priors = labeled_docs.agg(
        *[
            F.sum(F.when(lbl == F.lit(c), 1).otherwise(0))
            .cast("long")
            .alias(f"_d{i}")
            for i, c in enumerate(classes)
        ],
        F.count("*").cast("long").alias("_dt"),
    ).select(
        F.array(
            *[
                F.floor(
                    (
                        F.log(F.col(f"_d{i}").cast("double"))
                        - F.log(F.col("_dt").cast("double"))
                    )
                    * F.lit(1_000_000.0)
                ).cast("long")
                for i in range(K)
            ]
        ).alias("_priors")
    )
    packed = (
        dense.agg(
            F.array_sort(
                F.collect_list(F.struct("_k", "_b", "_lp"))
            ).alias("_a")
        )
        .select(F.expr("transform(_a, x -> x._lp)").alias("_lps"))
        .crossJoin(priors)
    )
    scored = (
        _dsir_feats_frame(docs, id_col, text_col, True)
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_bidx",
            F.expr(
                f"transform(_feats, f -> CAST({bsql('f')} AS INT) + 1)"
            ),
        )
        .withColumn(
            "_scores",
            F.array(
                *[
                    F.element_at("_priors", k + 1)
                    + F.expr(
                        f"aggregate(_bidx, CAST(0 AS BIGINT), "
                        f"(acc, i) -> acc + element_at(_lps, {k * B} + i))"
                    )
                    for k in range(K)
                ]
            ),
        )
    )
    cls_lit = F.array(*[F.lit(c) for c in classes])
    best2 = F.slice(F.reverse(F.array_sort("_scores")), 1, 2)
    return scored.select(
        id_col,
        F.size("_feats").alias("n_feats"),
        F.element_at(
            cls_lit,
            F.array_position("_scores", F.array_max("_scores")).cast("int"),
        ).alias("predicted"),
        F.array_max("_scores").alias("best_lp_micro"),
        (F.element_at(best2, 1) - F.element_at(best2, 2)).alias(
            "margin_micro"
        ),
    )


def nb_stage_fit(
    labeled_docs: DataFrame,
    fit_path: str,
    label_col: str = "label",
    text_col: str = "text",
    hash_terms: bool = True,
    n_buckets: int = 10_000,
) -> None:
    """Stage the NB classifier FIT once so scoring runs reuse it — the
    `dsir_stage_fit` pattern for the supervised scorer: a quality
    classifier is fit on a curated labeled sample and then scores
    every shard of a 100 TB corpus, so the fit artifact must outlive
    the fitting job. Writes `<fit_path>/counts` (the dense per-bucket
    (_b, _ct, _cq) frame — _ct = positive-class instance counts,
    _cq = negative; counts, not log-odds, so re-smoothing stays
    possible) plus a `_NB_META.json` sidecar pinning {version,
    n_buckets, hash_terms, d_pos, d_neg} (the class DOC counts the
    prior needs). Same label validation as `nb_classifier_scores`
    (null labels raise, both classes must be non-empty)."""
    _dsir_validate_buckets(n_buckets)
    lbl = F.col(label_col)
    d_pos, d_neg = _nb_validate_labels(labeled_docs, label_col)
    bsql = _dsir_bucket_sql(hash_terms, n_buckets)
    per_bucket = _dsir_per_bucket(
        labeled_docs.filter(~lbl), labeled_docs.filter(lbl),
        text_col, bsql, n_buckets,
    )
    _stage_bucketed_fit(
        NB_META, per_bucket, labeled_docs, text_col, fit_path,
        {"n_buckets": n_buckets, "hash_terms": hash_terms,
         "d_pos": d_pos, "d_neg": d_neg},
    )


def nb_classifier_scores_staged(
    docs: DataFrame,
    fit_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score documents against a fit staged by `nb_stage_fit` — same
    output contract as `nb_classifier_scores` (n_feats, logodds_micro,
    mean_lo_micro, predicted; value-identical by test), same
    zero-shuffle scoring shape; n_buckets / bucket hash / class doc
    counts derive from the sidecar. The prior is rebuilt from the
    sidecar's integer doc counts with the same ln expression the
    inline arm uses (JVM ln on both paths — no recorded float crosses
    the boundary)."""
    meta, bsql, packed = _staged_bucketed_fit(
        NB_META, docs.sparkSession, fit_path
    )
    packed = packed.withColumn(
        "_prior", _nb_prior_expr(int(meta["d_pos"]), int(meta["d_neg"]))
    )
    return _nb_score(docs, packed, bsql, id_col, text_col)


def staged_fit_drift_check(
    batch: DataFrame,
    fit_path: str,
    text_col: str = "text",
    warn_above: float = 0.2,
    bigram_warn_above: float = 0.5,
) -> dict:
    """TEXT-distribution drift monitor over a staged fit — the text
    family's counterpart of the ANN `ann_drift_check`/`pq_drift_check`
    loop: a DSIR fit freezes the raw-corpus distribution q and an NB
    fit freezes the labeled class mixture, and both score garbage
    silently once the live corpus stops resembling what they were fit
    on. This check compares an incoming batch's hashed-bucket feature
    distribution against the staged fit's (DSIR: the RAW side — what
    corpus batches should look like; NB: the pooled labeled corpus)
    by TOTAL VARIATION distance,

        tv = 0.5 * sum_b |p_batch(b) - p_fit(b)|    in [0, 1],

    over the fit's OWN bucket space (sidecar-derived — the comparison
    cannot silently run in a mismatched feature space), plus the
    batch's novel-mass fraction (instances landing in buckets the fit
    never saw — the leading indicator for new vocabularies). One
    batch tokenization + a <= B-row join + a 1-row aggregate; no
    ground truth, no second corpus pass.

    Calibration (measured at sf0.1, 25k docs, B=10k — table in
    SCALING.md "Staged-fit text drift"): a held-out slice of the SAME
    corpus reads tv = 0.026 (the sampling noise floor), a full
    vocabulary shift (upper-cased text) 0.946, a HALF-shifted batch
    0.485 — tv tracks the drifted fraction, so `warn_above=0.2` (8x
    the noise floor) flags a ~25%-shifted batch while never alarming
    on held-out data. KNOWN BLIND SPOT, measured: order-only
    perturbations (reversed token order: tv 0.027) barely move a
    bag-of-features distribution, and hashed-bucket histograms
    converge to uniform once distinct features far exceed B, so they
    stop seeing WHICH features arrive at all. The r12 companion
    signal closes this: fits staged with the `bigrams` sidecar table
    also report ``bigram_novel_frac`` — the occurrence-weighted
    fraction of the batch's bigrams whose EXACT hash the fit never
    saw (one anti-join on 8-byte keys against the vocabulary-sized
    fit table; `bigram_warn_above` is its own threshold, and a batch
    with no bigrams reads 0.0 — absence of evidence is not drift).
    Order-only drift flips bigram identities wholesale, so it fires
    this signal even where tv is blind — CAVEAT: only on corpora with
    real word-order structure; this repo's synthetic word-salad
    testdata SATURATES its tiny bigram space (912 of 961 possible at
    sf0.01), so both signals read it as order-free, which it is.
    Pre-r12 fits (no `bigrams` in the sidecar) report None and skip
    the signal. Warns and sets `drift_detected` above either
    threshold; `refit_recommended` mirrors the ANN monitors' dict
    contract."""
    spark = batch.sparkSession
    meta = None
    for kind in (DSIR_META, NB_META):
        meta = kind.read(spark, fit_path)
        if meta is not None:
            break
    if meta is None:
        raise ValueError(
            f"no staged-fit sidecar at {fit_path} (expected "
            f"{DSIR_META.name} or {NB_META.name})"
        )
    # version-validate like the scorers do: a format bump that changes
    # the counts layout or bucket hashing must refuse here too — the
    # component whose JOB is to say "re-stage the fit" must never
    # compute TV against a misread counts frame and report healthy
    kind.check_version(
        meta, fit_path, reads="drift check expects", label="staged fit"
    )
    n_buckets = int(meta["n_buckets"])
    bsql = _dsir_bucket_sql(bool(meta["hash_terms"]), n_buckets)
    counts = spark.read.parquet(f"{fit_path}/counts")
    # DSIR: q = the raw corpus (_cq). NB: the pooled labeled corpus.
    fit_count = (
        F.col("_cq") if kind is DSIR_META
        else F.col("_ct") + F.col("_cq")
    )
    bcounts = (
        _dsir_feats_frame(batch, "", text_col, False)
        .select(F.explode("_feats").alias("_fs"))
        .select(F.expr(bsql("_fs")).alias("_b"))
        .groupBy("_b")
        .agg(F.count("*").alias("_cb"))
    )
    row = (
        counts.select("_b", fit_count.alias("_cf"))
        .join(bcounts, "_b", "left")
        .select(
            "_cf",
            F.coalesce("_cb", F.lit(0)).alias("_cb"),
        )
        .agg(
            F.sum("_cf").alias("_nf"),
            F.sum("_cb").alias("_nb"),
            # sum of |p - q| needs the totals first; carry the parts
            F.sum(F.when(F.col("_cf") == 0, F.col("_cb")).otherwise(0))
            .alias("_novel"),
            F.array_sort(
                F.collect_list(F.struct("_cf", "_cb"))
            ).alias("_a"),
        )
        .select(
            "_nf", "_nb", "_novel",
            # nullif-protected denominators: an empty batch (_nb = 0)
            # or a degenerate zero-mass fit (_nf = 0) must reach the
            # explicit raises below as a NULL _l1, not divide by zero
            # inside the aggregate or surface as a TypeError on None
            F.expr(
                "aggregate(_a, CAST(0.0 AS DOUBLE), (acc, x) -> acc + "
                "abs(x._cf / nullif(CAST(_nf AS DOUBLE), 0.0D) - "
                "x._cb / nullif(CAST(_nb AS DOUBLE), 0.0D)))"
            ).alias("_l1"),
        )
        .collect()[0]
    )
    if not row["_nb"]:
        raise ValueError("drift check batch has no feature instances")
    if not row["_nf"]:
        raise ValueError(
            f"staged fit at {fit_path} has zero feature mass — it cannot "
            "anchor a drift comparison; re-stage it on a non-empty corpus"
        )
    tv = 0.5 * row["_l1"]
    novel_frac = row["_novel"] / row["_nb"]
    bigram_novel_frac = None
    if meta.get("bigrams"):
        fitb = spark.read.parquet(f"{fit_path}/bigrams").withColumn(
            "_seen", F.lit(1)
        )
        brow = (
            _bigram_hash_frame(batch, text_col)
            .join(fitb, "_h", "left")
            .agg(
                F.count("*").alias("_n"),
                F.sum(
                    F.when(F.col("_seen").isNull(), 1).otherwise(0)
                ).alias("_nov"),
            )
            .collect()[0]
        )
        bigram_novel_frac = (
            brow["_nov"] / brow["_n"] if brow["_n"] else 0.0
        )
    bigram_drift = (
        bigram_novel_frac is not None
        and bigram_novel_frac > bigram_warn_above
    )
    drift = tv > warn_above or bigram_drift
    out = {
        "kind": "dsir" if kind is DSIR_META else "nb",
        "tv": tv,
        "novel_frac": novel_frac,
        "bigram_novel_frac": bigram_novel_frac,
        "warn_above": warn_above,
        "bigram_warn_above": bigram_warn_above,
        "batch_instances": int(row["_nb"]),
        "drift_detected": drift,
        "refit_recommended": drift,
    }
    if out["drift_detected"]:
        import warnings

        detail = (
            f"batch total-variation distance {tv:.3f} "
            f"(warn_above={warn_above}, novel mass {novel_frac:.3f})"
        )
        if bigram_drift:
            detail += (
                f"; novel-bigram fraction {bigram_novel_frac:.3f} exceeds "
                f"bigram_warn_above={bigram_warn_above} (word-order or "
                "phrasal drift)"
            )
        warnings.warn(
            f"staged fit at {fit_path}: {detail} — the fit no longer "
            "matches the live corpus; re-stage it (dsir_stage_fit / "
            "nb_stage_fit)",
            UserWarning,
            stacklevel=2,
        )
    return out


# ---------------------------------------------------------------------------
# deterministic mixture sampling (per-source training-mix weights)
# ---------------------------------------------------------------------------


def _mixture_plan(
    rates: dict[str, float], n_buckets: int, default_rate: float
) -> tuple[dict[str, tuple[int, int]], tuple[int, int]]:
    """Resolve each rate into (base_copies, extra_copy_threshold):
    rate r = base + frac repeats every row base times plus one more
    when the key's bucket < round(frac * n_buckets). Computed in
    PYTHON, once — both engines then compare integers only, so there
    is no float arithmetic to diverge on."""
    def one(r: float) -> tuple[int, int]:
        if not (r >= 0) or r != r or r == float("inf"):
            raise ValueError(f"mixture rate must be finite and >= 0, got {r}")
        if r > 1000:
            # expand=True materializes floor(r) copies of every row —
            # a fat-fingered rate (1e6) must fail fast, not OOM the
            # executors; no published training mix exceeds ~100 epochs
            raise ValueError(f"mixture rate {r} exceeds the sanity cap of 1000")
        base = int(r)
        return base, int(round((r - base) * n_buckets))

    return {g: one(r) for g, r in rates.items()}, one(default_rate)


def weighted_sample_n(
    df: DataFrame,
    n: int,
    weight_col: str,
    salt: int = 0,
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] | list[str] = (),
    priority_col: str = "priority",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement — the
    Efraimidis-Spirakis (2006) A-ES scheme: each row gets priority
    ``ln(u) / w`` (monotone-equivalent to their ``u^(1/w)`` key) with
    ``u`` a salted affine hash of the id mapped into (0, 1], and the
    sample is the top-``n`` priorities (per ``group_cols`` when
    given). Inclusion is weight-proportional within the draw, and the
    draw is a PURE FUNCTION of (id, salt): identical across engines,
    retries, and partitionings — rotate ``salt`` to redraw, keep it
    fixed to make incremental appends stable (the `mixture_sample` /
    `hash_split` determinism contract; this operator covers the
    without-replacement, exact-n case those rate-based ops cannot).

    `u` uses the MinHash affine family mod the Mersenne prime
    (coefficients rotate with the salt, and the salt also shifts the
    hash input, so every salt is a distinct draw); the id is reduced
    mod P BEFORE the multiply so 64-bit ids never overflow the BIGINT
    product in either engine. Determinism: ``ln(u)`` is rounded to
    6 dp BEFORE the division by the weight (ln is the one function
    engines may disagree on in the last ulp; its range here is the
    fixed (-21.5, 0), so 6 dp loses nothing), and the division itself
    is exact IEEE — identical in any engine. Rounding the QUOTIENT
    instead would collapse large-weight priorities onto the 6 dp grid
    (w = 1e6 leaves ~21 distinct values; w >= 2.2e7 rounds every
    priority equal) and silently degrade the draw to an id tie-break —
    with this form the weight magnitude is unbounded. Ties are still
    broken by id before ranking.

    Rows with NULL or non-positive weight are EXCLUDED (the scheme is
    undefined there); ids must be non-negative. Scale shape: the
    priority is a row-local projection; grouped top-n compiles to
    WindowGroupLimit (per-group top rows cross the exchange, not the
    corpus), and the global form is TakeOrderedAndProject (driver
    merges per-partition top-n — never a single-reducer sort)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    from flink_etl_spark.functions.hashing import MERSENNE_P, MINHASH_COEFFS

    a, b = MINHASH_COEFFS[salt % len(MINHASH_COEFFS)]
    h = (
        F.lit(a) * ((F.col(id_col) + F.lit(salt)) % F.lit(MERSENNE_P))
        + F.lit(b)
    ) % F.lit(MERSENNE_P)
    u = (h + F.lit(1)) / F.lit(float(MERSENNE_P + 1))
    pr = F.round(F.log(u), 6) / F.col(weight_col)
    scored = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn(priority_col, pr)
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.col(priority_col).desc(), F.col(id_col)
        )
        return (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .drop("_rn")
        )
    return scored.orderBy(F.col(priority_col).desc(), F.col(id_col)).limit(n)


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    n_buckets: int = 10_000,
    salt: str = "",
    hash_fn: str = "xxhash64",
    default_rate: float = 1.0,
    expand: bool = True,
    copies_col: str = "copy_id",
) -> DataFrame:
    """Deterministic training-mixture sampling: give each group
    (source/domain) a target RATE and down- OR up-sample its rows to
    match — the dataset-mixing step of an LLM data build (public
    precedent: The Pile / LLaMA per-source epoch weights).

    A rate r means every row appears floor(r) times, plus one more
    time for the deterministic `round(frac(r) * n_buckets)`-sized
    bucket slice of keys (same `split_buckets` hash as `hash_split` —
    xxhash64 production default, oracle-portable charfold arm). So
    0.25 keeps a quarter of the rows, 1.0 keeps everything once,
    2.5 repeats everything twice and half the rows a third time.
    Because the decision is a pure function of (key, salt), re-runs
    and incremental appends agree without coordination, and rotating
    the salt redraws the sample.

    Groups missing from `rates` use `default_rate`; a NULL group falls
    to `default_rate` too (documented: repair upstream if that is not
    the mix you mean). Rate 0 removes the group.

    `expand=True` (default) returns the physically repeated rows with
    a 1-based `copies_col` repeat index (downstream packing/shuffling
    treats repeats as distinct rows); `expand=False` appends the
    per-row copy count `n_copies` instead (zero rows kept — callers
    filter) for inspection or count-weighted aggregation without the
    row blow-up. Zero shuffles either way — projection + generator."""
    per_group, (dbase, dthresh) = _mixture_plan(rates, n_buckets, default_rate)
    bucket = split_buckets(F.col(key_col), n_buckets, salt, hash_fn)
    if per_group:
        # map LITERAL + hash lookup, not a when-chain: a production mix
        # keyed by fine-grained domains can hold thousands of entries,
        # and a CaseWhen that deep is O(entries) per row and can fall
        # out of codegen. try_element_at (not element_at / getItem)
        # returns NULL for a missing or NULL group under ANSI mode
        # instead of raising — missing and NULL groups take the default
        pairs: list[Column] = []
        for g, (b, t) in per_group.items():
            pairs += [
                F.lit(g),
                F.struct(F.lit(b).alias("b"), F.lit(t).alias("t")),
            ]
        picked = F.try_element_at(F.create_map(*pairs), F.col(group_col))
        base = F.coalesce(picked.getField("b"), F.lit(dbase))
        thresh = F.coalesce(picked.getField("t"), F.lit(dthresh))
    else:
        base, thresh = F.lit(dbase), F.lit(dthresh)
    n_copies = (base + (bucket < thresh).cast("int")).cast("long")
    if not expand:
        return df.withColumn("n_copies", n_copies)
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") >= 1)
        .withColumn(copies_col, F.explode(F.sequence(F.lit(1).cast("long"), F.col("_n_copies"))))
        .drop("_n_copies")
    )


def duckdb_mixture_copies(
    key_sql: str,
    group_sql: str,
    rates: dict[str, float],
    n_buckets: int = 10_000,
    salt: str = "",
    default_rate: float = 1.0,
) -> str:
    """Oracle twin of ``mixture_sample(..., hash_fn="charfold",
    expand=False)``: a SQL expression for the per-row copy count, built
    from the SAME python-resolved (base, threshold) integers."""
    from flink_etl_spark.functions.hashing import duckdb_char_fold_hash

    def _q(s: str) -> str:
        return s.replace("'", "''")

    per_group, (dbase, dthresh) = _mixture_plan(rates, n_buckets, default_rate)
    keyed = f"concat(CAST({key_sql} AS VARCHAR), '{_q(salt)}')"
    fold = duckdb_char_fold_hash(keyed)
    bucket = f"(({fold}) % {n_buckets} + {n_buckets}) % {n_buckets}"

    def case_over(pick) -> str:
        whens = " ".join(
            f"WHEN {group_sql} = '{_q(g)}' THEN {pick(bt)}"
            for g, bt in per_group.items()
        )
        default = pick((dbase, dthresh))
        return f"CASE {whens} ELSE {default} END" if whens else str(default)

    base_case = case_over(lambda bt: bt[0])
    thresh_case = case_over(lambda bt: bt[1])
    return (
        f"CAST(({base_case}) + (CASE WHEN ({bucket}) < ({thresh_case}) "
        f"THEN 1 ELSE 0 END) AS BIGINT)"
    )


# ---------------------------------------------------------------------------
# document chunking (context-window prep)
# ---------------------------------------------------------------------------


def span_dedup(
    docs: DataFrame,
    span_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: str = "global",
    key: str = "digest",
    out_col: str = "dedup_text",
) -> DataFrame:
    """Span-level (line-level) deduplication — the public C4 heuristic
    (Raffel et al. 2020 §2.2 deduplicate "three-sentence spans";
    RefinedWeb/Gopher line dedup): partition each document into
    contiguous ``span_tokens``-token spans, drop every span whose exact
    content already occurred earlier, and rebuild the document from the
    surviving spans. Unlike `exact_dedup` (whole documents) this
    removes boilerplate *inside* otherwise-unique documents.

    Spans are fixed non-overlapping token windows (the last may be
    short) — newline/sentence structure is corpus-dependent, token
    windows are not; a caller with real line structure can pre-split
    and feed one line per row instead.

    ``scope``:

    * ``"within_doc"`` — drop spans repeated inside the SAME document
      only. Entirely row-local (zero shuffles at scale; a small
      under-split input is first spread over every core and its spans
      anchored, as in both scopes): first-occurrence is an
      index-filter over the span array. O(spans^2) per row with tiny
      constants — fine through ~1k spans/doc; beyond that use global,
      which subsumes it.
    * ``"global"`` (default) — drop spans seen anywhere earlier in the
      corpus, "earlier" = lexicographic ``(id_col, position)``, so the
      keeper set is deterministic and append-stable. The 100 TB shape
      shuffles NARROW rows only: (key, id, pos) triples — never span
      text. First-occurrence is a min-STRUCT AGGREGATE per key joined
      back to the triples, deliberately NOT a row_number window: real
      corpora have boilerplate spans repeated billions of times, and a
      window would funnel every copy of a hot key through one reducer
      (AQE cannot split a skewed window). The aggregate partial-combines
      map-side (one row per distinct key leaves each task regardless of
      skew) and the winners-probe join is a plain equi-join AQE's
      skew-split CAN handle. The dropped (id, pos) positions (duplicate
      volume only) then aggregate per doc and join back to the original
      rows, where AQE turns the join broadcast when the drop set is
      small, leaving the corpus side shuffle-free; the rebuild is a
      row-local index filter. Worst case (mostly-duplicate corpus)
      degrades to one id-keyed join of drop-lists — still never a
      corpus-text shuffle.

    ``key``: ``"digest"`` (default) keys the exchange on
    ``sha2(span, 256)`` — 32-byte keys, collisions below hardware error
    rates, oracle-portable (DuckDB ``sha256``); ``"content"`` keys on
    the span string itself (exact, wider exchange).

    Output: one row per input document — ``id_col``, ``n_spans``,
    ``n_spans_kept``, ``out_col`` (surviving spans joined by a single
    space; empty when every span was dropped). NULL text is treated as
    empty; a single-space-joined rebuild of an undeduped single-spaced
    document equals the input (property-tested).

    Reference parity: extends the reference's row-identity dedup (the
    `row_number() OVER (PARTITION BY id ...)` latest-per-key merge in
    its Hive SQL, `README.md:244-251`) to sub-document granularity per
    the public C4/RefinedWeb methodology."""
    if span_tokens < 1:
        raise ValueError(f"span_tokens must be >= 1, got {span_tokens}")
    if scope not in ("global", "within_doc"):
        raise ValueError(f"scope must be 'global' or 'within_doc', got {scope!r}")
    if key not in ("digest", "content"):
        raise ValueError(f"key must be 'digest' or 'content', got {key!r}")
    if out_col in ("n_spans", "n_spans_kept"):
        raise ValueError(
            f"out_col {out_col!r} collides with the metric columns "
            "('n_spans', 'n_spans_kept')"
        )
    for reserved in ("n_spans", "n_spans_kept", out_col):
        if reserved == id_col:
            raise ValueError(f"output column {reserved!r} collides with id_col")

    toks = F.expr(tokens_sql(f"coalesce({ident(text_col)}, '')"))
    n = F.size(toks)
    k = F.lit(span_tokens)
    n_spans = (n + k - F.lit(1)).cast("long") / span_tokens
    n_spans = F.floor(n_spans).cast("int")
    spans_arr = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(" ", F.slice(toks, i * k + 1, span_tokens)),
    )
    staged = _spread_anchored(
        docs.select(id_col, text_col),
        lambda d: d.select(F.col(id_col), spans_arr.alias("_spans")),
    )

    if scope == "within_doc":
        kept = F.filter(
            F.col("_spans"),
            lambda x, i: F.array_position(F.col("_spans"), x) == i.cast("long") + 1,
        )
        return staged.select(
            F.col(id_col),
            F.size("_spans").cast("long").alias("n_spans"),
            F.size(kept).cast("long").alias("n_spans_kept"),
            F.concat_ws(" ", kept).alias(out_col),
        )

    span_key = F.sha2(F.col("_s"), 256) if key == "digest" else F.col("_s")
    narrow = staged.select(
        F.col(id_col), F.posexplode("_spans").alias("_pos", "_s")
    ).select(F.col(id_col), "_pos", span_key.alias("_k"))
    occ = F.struct(F.col(id_col), F.col("_pos"))
    winners = narrow.groupBy("_k").agg(F.min(occ).alias("_w"))
    dropped = (
        narrow.join(winners, "_k")
        .filter(occ != F.col("_w"))
        .groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_drop"))
    )
    joined = staged.join(dropped, on=id_col, how="left")
    rebuilt = _gap_slice_rebuild(joined, "_spans", "_drop", 1, 1, "_kept")
    return rebuilt.select(
        F.col(id_col),
        F.size("_spans").cast("long").alias("n_spans"),
        F.size("_kept").cast("long").alias("n_spans_kept"),
        F.concat_ws(" ", "_kept").alias(out_col),
    )


def substring_dedup(
    docs: DataFrame,
    min_tokens: int = 50,
    stride: int = 1,
    winnow: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    out_col: str = "dedup_text",
) -> DataFrame:
    """OFFSET-ROBUST exact substring deduplication — the public
    ExactSubstr method (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better": remove every substring of >=
    ``min_tokens`` tokens that occurred earlier anywhere in the
    corpus, keeping the first occurrence), re-expressed for Spark as
    OVERLAPPING-ANCHOR dedup instead of a suffix array (which is a
    single-node, memory-superlinear structure).

    `span_dedup`'s fixed non-overlapping grid misses any duplicated
    passage shifted off the grid by even one token — the known
    weakness of window-grid dedup. This operator emits an anchor for
    EVERY ``stride``-spaced token position (stride 1 default = every
    position): a duplicated passage of L >= min_tokens tokens yields
    identical anchors at identical passage-relative offsets in every
    copy regardless of document alignment, so with stride=1 detection
    is EXACT for passages >= min_tokens (the union of duplicated
    anchor windows is precisely the duplicated passage). stride > 1
    divides the exchange volume by stride but loses the alignment
    guarantee (both copies must hit the per-document grid) — a
    recall/cost knob, not a correctness knob.

    ``winnow`` > 1 is the PRINCIPLED exchange reducer (Schleimer et
    al. 2003, "Winnowing: Local Algorithms for Document
    Fingerprinting" — the MOSS selection rule): from every window of
    ``winnow`` consecutive anchor hashes, keep the rightmost minimal
    one. Selection depends only on hash CONTENT, so every copy of a
    duplicated passage selects the same passage-relative anchors —
    unlike ``stride``, the detection guarantee survives: any
    duplicated passage of >= min_tokens + winnow - 1 tokens contains a
    full in-passage window, hence a selected anchor in EVERY copy, and
    is deterministically caught. Expected exchange density is
    2/(winnow+1) of the anchors; the cost is removal granularity —
    only the selected duplicated anchors' windows are dropped, which
    covers the duplicated passage except up to winnow-1 boundary
    tokens at each end (consecutive selected anchors are < winnow
    apart, and winnow <= min_tokens keeps their windows overlapping).
    Selection is row-local O(winnow) per anchor (the run-length form:
    p is selected iff its weak-left / strict-right higher-hash runs
    span a full window, A + B + 1 >= winnow); documents with fewer
    than ``winnow`` anchors select their single whole-array minimum so
    whole-short-doc duplicates stay detectable. Mutually exclusive
    with stride > 1.

    Pipeline (the `span_dedup` global shape, anchor-dense):

    1. tokenize once; per position p in {0, stride, 2*stride, ...}
       derive the ``min_tokens``-token anchor id at p — row-local;
    2. shuffle NARROW (anchor_key, id, grid_pos) triples only — never
       anchor text; first occurrence per key is a min-STRUCT AGGREGATE
       (partial-combines map-side; a boilerplate anchor repeated
       billions of times never funnels through one reducer — same
       skew-proof shape as `span_dedup`, deliberately not a window);
    3. non-winning occurrences collect per doc, broadcast-join back
       (AQE) and the rebuild drops every token covered by a duplicated
       anchor window [p*stride, p*stride + min_tokens - 1] — the
       adjacent-anchor merge into maximal spans falls out of the
       coverage union, row-locally.

    ``key``:

    * ``"hash64"`` (default, the 100 TB path) — anchor id = two
      independent 31-bit polynomial folds over per-token xxhash64
      streams packed into one bigint (~62-bit entropy, 8-byte
      exchange keys, no anchor strings ever materialized). False
      collisions at 1e13 anchors: ~1e4 expected, each costing <=
      min_tokens spuriously dropped tokens — a ~1e-9 false-removal
      rate, far below the method's own token-granularity noise.
    * ``"digest"`` — ``sha2(anchor_string, 256)``: collision-free and
      oracle-portable (DuckDB ``sha256``), at the cost of
      materializing anchor strings row-locally (a min_tokens-fold
      token copy inside the scan projection, never shuffled) and
      32-byte exchange keys. The driver-gated arm.

    Exchange cost, stated honestly: stride=1 ships one ~(key + id +
    pos) triple per corpus token — 2-4x the raw text bytes with
    hash64 keys. That is the price of offset robustness (the
    suffix-array original pays superlinear single-node memory
    instead); `span_dedup` at 1/min_tokens the exchange volume is the
    cheap grid-aligned screen, this is the exact sweep. Run both:
    grid first, anchors on what survives. For the daily-batch
    operating mode see `substring_stage_index` /
    `substring_dedup_incremental` — scrub a new batch against a
    staged keys-only anchor index without re-anchoring the corpus.

    Output: one row per input document — ``id_col``, ``n_tokens``,
    ``n_tokens_kept``, ``out_col`` (surviving tokens joined by a
    single space). NULL text = empty. Documents shorter than
    ``min_tokens`` emit no anchors and pass through intact. First
    occurrence ("earlier" = lexicographic (id, position)) survives
    intact unless it overlaps a different duplicated passage;
    within-document repeats past the first are removed too.

    Reference parity: extends the reference's row-identity dedup (the
    `row_number() OVER (PARTITION BY id ...)` latest-per-key merge in
    its Hive SQL, `README.md:244-251`) to exact sub-document
    granularity per the public Lee et al. 2022 methodology."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if stride < 1:
        raise ValueError(f"stride must be >= 1, got {stride}")
    if winnow < 1:
        raise ValueError(f"winnow must be >= 1, got {winnow}")
    if winnow > 1 and stride > 1:
        raise ValueError(
            "winnow and stride are mutually exclusive exchange reducers: "
            "winnowing's detection guarantee assumes every anchor "
            "position is a selection candidate"
        )
    if winnow > min_tokens:
        raise ValueError(
            f"winnow ({winnow}) must be <= min_tokens ({min_tokens}): "
            "larger windows leave uncovered gaps between consecutive "
            "selected anchors' removal windows"
        )
    if key not in ("hash64", "digest"):
        raise ValueError(f"key must be 'hash64' or 'digest', got {key!r}")
    if out_col in ("n_tokens", "n_tokens_kept"):
        raise ValueError(
            f"out_col {out_col!r} collides with the metric columns "
            "('n_tokens', 'n_tokens_kept')"
        )
    for reserved in ("n_tokens", "n_tokens_kept", out_col):
        if reserved == id_col:
            raise ValueError(f"output column {reserved!r} collides with id_col")

    with_anchors = _spread_anchored(
        docs.selectExpr(ident(id_col), ident(text_col)),
        lambda d: _substring_anchors(d, min_tokens, stride, id_col, text_col, key),
    )
    return _substring_dedup_from_anchors(
        with_anchors, min_tokens, stride, winnow, id_col, out_col
    )


def _substring_dedup_from_anchors(
    with_anchors: DataFrame, min_tokens: int, stride: int, winnow: int,
    id_col: str, out_col: str,
) -> DataFrame:
    """`substring_dedup` downstream of the anchor projection: narrow
    triples -> min-struct winners -> per-doc drop lists -> interval
    rebuild. Split out so a caller that MATERIALIZES one anchored
    frame (id, _toks, _a) can run several selection variants (dense,
    winnowed) without re-anchoring the corpus per variant — the
    anchor pass is the dominant scan-side cost."""
    narrow = _substring_narrow(with_anchors, id_col, winnow)
    occ = F.struct(F.col(id_col), F.col("_pos"))
    winners = narrow.groupBy("_k").agg(F.min(occ).alias("_w"))
    dropped = (
        narrow.join(winners, "_k")
        .filter(occ != F.col("_w"))
        .groupBy(id_col)
        .agg(F.collect_list("_pos").alias("_dup"))
    )
    return _substring_rebuild(
        with_anchors, dropped, id_col, min_tokens, stride, out_col
    )


def _substring_anchors(
    docs: DataFrame, k: int, stride: int, id_col: str, text_col: str,
    key: str,
) -> DataFrame:
    """(id, _toks, _a): per-document token array + anchor-key array.

    Anchor construction is DATAFRAME-STAGED doubling, one projection
    per power-of-two run level. The expression-level doubling fold
    (functions/hashing.gram_ids_sql) is analyzer-safe at any k
    but references each run level TWICE inside the next — as a single
    expression tree that doubles evaluation work per level (measured
    ~40s for 5000 docs at k=50, single task). Materializing each
    level as a non-cheap multi-referenced alias makes CollapseProject
    keep the projection boundary (the minhash_profile staging
    argument), so every level evaluates once per row: O(log k)
    array passes total."""
    from flink_etl_spark.functions.hashing import MERSENNE_P

    i = ident(id_col)
    toks = tokens_sql(f"coalesce({ident(text_col)}, '')")
    staged = docs.selectExpr(i, f"{toks} AS _toks")

    def _staged_runs(df: DataFrame, base: str, combine):
        """Power-of-two run columns: returns (df, [(span, col), ...])."""
        runs = [(1, base)]
        span = 1
        while span * 2 <= k:
            prev = runs[-1][1]
            nxt = f"{base}_r{span * 2}"
            df = df.selectExpr(
                "*",
                f"zip_with({prev}, slice({prev}, {1 + span}, "
                f"greatest(size({prev}) - {span}, 0)), "
                f"(a, b) -> {combine('a', 'b', span)}) AS {nxt}",
            )
            runs.append((span * 2, nxt))
            span *= 2
        return df, runs

    def _combine_bits(runs, combine, empty_type: str) -> str:
        """Stitch the binary decomposition of k from run COLUMNS (cheap
        refs — the final expression is linear in popcount(k))."""
        width = f"greatest(size(_toks) - {k - 1}, 0)"
        acc = None
        off = 0
        for span, name in reversed(runs):
            if not k & span:
                continue
            part = f"slice({name}, {1 + off}, {width})"
            acc = part if acc is None else (
                f"zip_with({acc}, {part}, (a, b) -> {combine('a', 'b', span)})"
            )
            off += span
        return (
            f"CASE WHEN size(_toks) >= {k} THEN {acc} "
            f"ELSE CAST(array() AS {empty_type}) END"
        )

    if key == "digest":
        concat = lambda a, b, span: f"concat_ws(' ', {a}, {b})"  # noqa: E731
        df, runs = _staged_runs(staged, "_toks", concat)
        anchors = (
            f"transform({_combine_bits(runs, concat, 'ARRAY<STRING>')}, "
            "s -> sha2(s, 256))"
        )
    else:
        # two independent per-token xxhash64 streams (distinct salts),
        # each folded to a 31-bit gram id, packed into one bigint:
        # max value (p-1)*2^31 + (p-1) < 2^62 — no overflow under ANSI
        def poly(a: str, b: str, span: int) -> str:
            return f"({a} * {pow(131, span, MERSENNE_P)} + {b}) % {MERSENNE_P}"

        hashed = staged.selectExpr(
            i,
            "_toks",
            f"transform(_toks, t -> pmod(xxhash64(t), {MERSENNE_P})) AS _th1",
            f"transform(_toks, t -> pmod(xxhash64(t, {lit(0x9E3779B9)}), "
            f"{MERSENNE_P})) AS _th2",
        )
        df, runs1 = _staged_runs(hashed, "_th1", poly)
        df, runs2 = _staged_runs(df, "_th2", poly)
        anchors = (
            f"zip_with({_combine_bits(runs1, poly, 'ARRAY<BIGINT>')}, "
            f"{_combine_bits(runs2, poly, 'ARRAY<BIGINT>')}, "
            f"(a, b) -> a * {lit(2_147_483_648)} + b)"
        )
    if stride > 1:
        # grid index j <-> token position j*stride, order-preserving
        anchors = f"filter({anchors}, (x, j) -> j % {stride} = 0)"
    return df.selectExpr(i, "_toks", f"{anchors} AS _a")


def _substring_narrow(
    with_anchors: DataFrame, id_col: str, winnow: int
) -> DataFrame:
    """Explode anchors to the narrow (id, _pos, _k) triples that cross
    the exchange — every anchor (winnow=1) or the winnowing-selected
    fingerprints (winnow>1).

    Winnowing (Schleimer et al. 2003) selects the RIGHTMOST minimum of
    every window of w = least(winnow, size(_a)) consecutive anchors,
    entirely row-local. The window minima come from a sparse table:
    level j holds the minimum of each 2^j-wide run as a struct
    (key, -pos) — struct order breaks key ties to the larger position —
    built by one staged `zip_with(least)` projection per level, so a
    window is answered by two overlapping power-of-two runs. That is
    O(m log winnow) per document; probing each anchor's neighbourhood
    is O(m * winnow). A document with fewer anchors than one window
    keeps exactly its rightmost minimum."""
    i = ident(id_col)
    if winnow == 1:
        # explode over an expression, not `posexplode(_a)`: a generator
        # over a bare attribute lets InferFiltersFromGenerate (on in any
        # session not built by `get_spark`) add `size(_a) > 0` and push
        # it below the projection, recomputing the anchor kernel in the
        # scan
        return with_anchors.selectExpr(
            i, "explode(transform(_a, (k, p) -> struct(p AS _pos, k AS _k))) AS _s"
        ).selectExpr(i, "_s._pos AS _pos", "_s._k AS _k")
    df = with_anchors.selectExpr(
        i, "_a", "transform(_a, (v, p) -> struct(v, -p AS p)) AS _run"
    )
    span = 1
    while span * 2 <= winnow:
        n = f"greatest(size(_run) - {span}, 0)"
        df = df.selectExpr(
            i, "_a",
            f"zip_with(slice(_run, 1, {n}), slice(_run, {1 + span}, {n}), "
            "(x, y) -> least(x, y)) AS _run",
        )
        span *= 2
    # the window starting at s is covered by the runs starting at s and
    # at s + winnow - span; the argmin positions are non-decreasing in s
    sel = (
        f"CASE WHEN size(_a) >= {winnow} THEN array_distinct(transform("
        f"sequence(0, size(_a) - {winnow}), s -> -least(element_at(_run, s + 1), "
        f"element_at(_run, s + {winnow - span + 1})).p)) "
        "WHEN size(_a) > 0 THEN "
        "array(-array_min(transform(_a, (v, p) -> struct(v, -p AS p))).p) "
        "ELSE CAST(array() AS ARRAY<INT>) END"
    )
    return df.selectExpr(
        i, f"explode(transform({sel}, p -> struct(p AS _pos, "
        "element_at(_a, p + 1) AS _k))) AS _s",
    ).selectExpr(i, "_s._pos AS _pos", "_s._k AS _k")


def _gap_slice_rebuild(
    df: DataFrame, arr_col: str, drops_col: str, k: int, stride: int,
    kept_col: str,
) -> DataFrame:
    """Row-local INTERVAL rebuild: add `kept_col` = the elements of
    `arr_col` NOT covered by any drop window, where drop position p
    (grid units) covers indices [p*stride, p*stride + k - 1].

    Shape: sort the drop positions, reduce them to disjoint merged
    coverage intervals via boundary flags (a drop opens a new interval
    iff the gap to its predecessor exceeds the window, closes one iff
    the gap to its successor does — O(D) after the O(D log D) sort, no
    quadratic accumulator), take the complement gaps, and SLICE the
    array by gap: O(D log D + T + I) per row total. The naive
    per-element `exists()` over the drop list this replaced is
    O(T*D) — a 100k-token document that is mostly duplicated (D ~ T)
    did ~1e10 comparisons in one task.

    Every reused array is staged as its own projected column — the
    interpreted-HOF re-evaluation lesson from `_substring_anchors`.
    Out-of-range element_at probes at the array edges are index-
    clamped (NOT try_element_at: index 0 raises even there, and the
    engine session runs ANSI mode); the adjacent boundary disjunct
    makes the clamped probe's result irrelevant."""
    empty = F.array().cast("array<int>")
    df = df.withColumn(
        "_ps", F.array_sort(F.coalesce(F.col(drops_col), empty))
    )
    ps = F.col("_ps")
    m = F.size(ps)
    s_lit = F.lit(stride)
    # windows at grid positions q < p merge when p's window starts at
    # most one past q's end: p*stride <= q*stride + k, i.e. the
    # complement (p - q)*stride > k opens/closes a merged interval
    starts = F.filter(
        ps,
        lambda p, i: (i == F.lit(0))
        | ((p - F.element_at(ps, F.greatest(i, F.lit(1)))) * s_lit
           > F.lit(k)),
    )
    ends = F.filter(
        ps,
        lambda p, i: (i == m - 1)
        | ((F.element_at(ps, F.least(i + 2, m)) - p) * s_lit > F.lit(k)),
    )
    # complement gaps: [0, first_start-1], between intervals, and
    # [last_end+1, n-1]; zero-length gaps slice to empty arrays
    df = df.withColumn(
        "_gs",
        F.concat(
            F.array(F.lit(0)),
            F.transform(ends, lambda p: p * s_lit + F.lit(k)),
        ),
    ).withColumn(
        "_ge",
        F.concat(
            F.transform(starts, lambda p: p * s_lit - F.lit(1)),
            F.array(F.size(arr_col) - 1),
        ),
    )
    kept = F.flatten(
        F.zip_with(
            F.col("_gs"),
            F.col("_ge"),
            lambda gs, ge: F.slice(
                F.col(arr_col), gs + 1, F.greatest(ge - gs + 1, F.lit(0))
            ),
        )
    )
    return df.withColumn(kept_col, kept).drop("_ps", "_gs", "_ge")


def _substring_rebuild(
    with_anchors: DataFrame, dropped: DataFrame, id_col: str, k: int,
    stride: int, out_col: str,
) -> DataFrame:
    """Join per-doc drop-lists back (AQE broadcasts small ones) and
    rebuild each document row-locally, dropping every token covered by
    a duplicated anchor window — merged-interval gap slicing, see
    `_gap_slice_rebuild`."""
    joined = with_anchors.join(dropped, on=id_col, how="left")
    rebuilt = _gap_slice_rebuild(joined, "_toks", "_dup", k, stride, "_kept")
    return rebuilt.select(
        F.col(id_col),
        F.size("_toks").cast("long").alias("n_tokens"),
        F.size("_kept").cast("long").alias("n_tokens_kept"),
        F.concat_ws(" ", "_kept").alias(out_col),
    )


def document_fingerprints(
    docs: DataFrame,
    min_tokens: int = 50,
    winnow: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
) -> DataFrame:
    """First-class winnowing fingerprints (Schleimer et al. 2003 —
    the MOSS primitive): one row per selected anchor, ``(id_col,
    pos, fingerprint)``, where ``pos`` is the 0-based token offset of
    the ``min_tokens``-token window and ``fingerprint`` its anchor
    key (8-byte packed fold for ``key="hash64"``, sha256 hex for
    ``"digest"``). The selection rule is `substring_dedup(winnow=)`'s:
    content-based, so any shared passage of >= min_tokens + winnow - 1
    tokens yields at least one IDENTICAL fingerprint in every
    document containing it — join two corpora's fingerprint sets on
    ``fingerprint`` for plagiarism / provenance / overlap detection at
    ~2/(winnow+1) anchor density, or feed the output straight into a
    group-by for a corpus-level duplicate-passage census.

    winnow=1 degenerates to every anchor (the dense exact sweep).
    Entirely row-local — zero exchanges; whatever aggregation follows
    pays the first shuffle."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if not (1 <= winnow <= min_tokens):
        raise ValueError(
            f"winnow must satisfy 1 <= winnow <= min_tokens, got "
            f"winnow={winnow}, min_tokens={min_tokens}"
        )
    if key not in ("hash64", "digest"):
        raise ValueError(f"key must be 'hash64' or 'digest', got {key!r}")
    return _substring_narrow(
        _substring_anchors(docs, min_tokens, 1, id_col, text_col, key),
        id_col,
        winnow,
    ).selectExpr(ident(id_col), "_pos AS pos", "_k AS fingerprint")


def fingerprint_candidates(
    docs: DataFrame,
    min_tokens: int = 50,
    winnow: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    min_shared: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowing
    fingerprints — the MOSS methodology's second half (Schleimer et
    al. 2003 §4: fingerprint every document, then report document
    pairs ranked by how many fingerprints they share). One row per
    unordered pair: ``(doc_a, doc_b, n_shared)``, ``doc_a < doc_b``,
    pairs sharing >= ``min_shared`` distinct fingerprints.

    Where it sits in the dedup toolbox: a cheaper candidate generator
    than MinHash at PASSAGE granularity — any shared passage of
    >= min_tokens + winnow - 1 tokens guarantees a shared fingerprint
    (the `document_fingerprints` detection contract), which
    shingle-set MinHash only catches probabilistically when the
    shared passage is a small fraction of both documents (the
    plagiarism / license-boilerplate / quote-chain shape). Feed the
    pairs to `jaccard_pairs`-style verification or straight into
    `duplicate_clusters`.

    Scale shape: fingerprints are row-local (~2/(winnow+1) anchor
    density), computed once per document over an input spread to
    every core when it is under-split (`rescue_scan_parallelism`,
    inert at scale). The census runs over an inverted index, two
    shuffles and no cache: one posting list per fingerprint (the
    sorted distinct ids holding it, keyed on the 8-byte fingerprint
    for hash64), whose ordered pairs are streamed out one list member
    at a time (no row holds more than one list), then one count per
    pair. A list of n documents makes n*(n-1)/2 pairs — the same skew
    exposure as `jaccard_pairs`, so the same standard mitigation:
    ``max_df`` drops fingerprints present in more than that many
    documents before any posting list is collected (a distinct-id
    count per fingerprint in a sorted, spillable window that shares
    the posting lists' shuffle). Boilerplate shared by half the
    corpus is exactly what a candidate GENERATOR should skip anyway —
    a fingerprint in a million documents identifies no pair in
    particular. Default None keeps the exact census."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_df is not None and max_df < 1:
        raise ValueError(f"max_df must be >= 1 or None, got {max_df}")
    i = ident(id_col)
    spread = rescue_scan_parallelism(docs.selectExpr(i, ident(text_col)))
    fp = document_fingerprints(
        spread, min_tokens=min_tokens, winnow=winnow, id_col=id_col,
        text_col=text_col, key=key,
    ).selectExpr(i, "fingerprint")
    if max_df is not None:
        # drop hot fingerprints BEFORE collect_set builds their lists:
        # the highest dense rank of the ids is the number of distinct
        # documents (a NULL id counts as one, as in a distinct count),
        # and the window sorts and spills where a list could not
        fp = (
            fp.selectExpr(
                "*", f"dense_rank() OVER (PARTITION BY fingerprint ORDER BY {i}) AS _r"
            )
            .selectExpr(i, "fingerprint", "max(_r) OVER (PARTITION BY fingerprint) AS _df")
            .filter(f"_df <= {lit(max_df)}")
        )
    pairs = (
        fp.groupBy("fingerprint")
        .agg(F.expr(f"array_sort(collect_set({i})) AS _ids"))
        # collect_set skips NULL ids; a list of one document makes no pair
        .filter("size(_ids) >= 2")
        # one row per list member, paired with the members after it:
        # rows stay linear in the list while the n*(n-1)/2 pairs stream
        .selectExpr("_ids", "posexplode(_ids) AS (_j, doc_a)")
        .selectExpr("doc_a", "explode(slice(_ids, _j + 2, size(_ids) - _j - 1)) AS doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.expr("count(1) AS n_shared"))
    )
    if min_shared > 1:
        pairs = pairs.filter(f"n_shared >= {min_shared}")
    return pairs


def fingerprint_overlap(
    docs_a: DataFrame,
    docs_b: DataFrame,
    min_tokens: int = 50,
    winnow: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    min_shared: int = 1,
    max_df: int | None = None,
    persist_fingerprints: bool = True,
) -> DataFrame:
    """CROSS-corpus fingerprint overlap — the asymmetric MOSS setting
    (Schleimer et al. 2003: a suspect corpus against a reference
    corpus; also the passage-granularity provenance / contamination
    report): one row per ``(id_a, id_b, n_shared)`` pair of documents
    from docs_a x docs_b sharing >= ``min_shared`` distinct
    fingerprints. Any shared passage of >= min_tokens + winnow - 1
    tokens guarantees a pair (the `document_fingerprints` detection
    contract, which holds across corpora because selection is
    content-based).

    Distinct from `fingerprint_candidates` (within-corpus self-join)
    in join shape only: an a-vs-b equi-join on the 8-byte fingerprint,
    no id ordering. ``max_df`` caps fingerprints by their TOTAL
    document frequency across both corpora (broadcast anti-join —
    reference-corpus boilerplate is exactly the hot-bucket risk).

    For REMOVAL rather than reporting, compose the substring family
    instead: `substring_stage_index(benchmark_docs, path)` then
    `substring_dedup_incremental(corpus, path)` scrubs every
    benchmark passage out of the corpus — passage-level
    decontamination per Lee et al. 2022, with the benchmark index
    never shuffling.

    Cache lifecycle: ``persist_fingerprints=True`` caches both
    fingerprint frames for the ACTION and leaves them registered (the
    standard lazy-persist contract — Spark evicts LRU under pressure);
    per-batch callers pass ``persist_fingerprints=False`` or call
    ``spark.catalog.clearCache()`` on their batch boundary."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1, got {min_shared}")
    if max_df is not None and max_df < 1:
        raise ValueError(f"max_df must be >= 1 or None, got {max_df}")

    def _fp(d: DataFrame) -> DataFrame:
        return (
            document_fingerprints(
                d, min_tokens=min_tokens, winnow=winnow, id_col=id_col,
                text_col=text_col, key=key,
            )
            .select(F.col(id_col), "fingerprint")
            .distinct()
        )

    # each side feeds the join plus (under max_df) the union-df count —
    # persist both so the anchor+selection pipelines run once per corpus
    fa, fb = _fp(docs_a), _fp(docs_b)
    if persist_fingerprints:
        fa, fb = fa.persist(), fb.persist()
    if max_df is not None:
        hot = (
            fa.unionByName(fb)
            .groupBy("fingerprint")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("fingerprint")
        )
        fa = fa.join(F.broadcast(hot), "fingerprint", "left_anti")
        fb = fb.join(F.broadcast(hot), "fingerprint", "left_anti")
    pairs = (
        fa.select(F.col(id_col).alias("id_a"), "fingerprint")
        .join(
            fb.select(F.col(id_col).alias("id_b"), "fingerprint"),
            "fingerprint",
        )
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
    )
    if min_shared > 1:
        pairs = pairs.filter(F.col("n_shared") >= min_shared)
    return pairs


def substring_stage_index(
    docs: DataFrame,
    staged_path: str,
    mode: str = "append",
    min_tokens: int = 50,
    winnow: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
) -> None:
    """Tokenize+anchor `docs` ONCE and add their DISTINCT anchor keys
    to the staged substring index at `staged_path` (parquet, single
    `anchor_key` column). `mode="append"` is the daily-ingest pattern:
    the index accretes one batch at a time and no document is ever
    re-anchored; duplicate keys across appends are harmless (every
    lookup is a semi-join). Parameters must stay CONSISTENT across
    batches and lookups — enforced via a `_SUBSTR_META.json` sidecar
    exactly like the staged minhash profile (a mismatch raises instead
    of silently matching nothing).

    The index stores ONLY keys — 8-byte packed folds (hash64) or
    32-byte digests — never text or positions: at 100 TB the index is
    ~2% (hash64) of corpus bytes and the staging write is the corpus's
    single anchor pass."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if winnow < 1:
        raise ValueError(f"winnow must be >= 1, got {winnow}")
    if winnow > min_tokens:
        raise ValueError(
            f"winnow ({winnow}) must be <= min_tokens ({min_tokens})"
        )
    if key not in ("hash64", "digest"):
        raise ValueError(f"key must be 'hash64' or 'digest', got {key!r}")
    spark = docs.sparkSession
    params = {"key": key, "min_tokens": min_tokens, "winnow": winnow}
    if mode != "overwrite":
        SUBSTR_META.check(spark, staged_path, params)
    keys = _substring_narrow(
        _substring_anchors(docs, min_tokens, 1, id_col, text_col, key),
        id_col, winnow,
    ).select(F.col("_k").alias("anchor_key")).distinct()
    keys.write.mode(mode).parquet(staged_path)
    SUBSTR_META.write(spark, staged_path, params)


def substring_dedup_incremental(
    new_docs: DataFrame,
    staged_path: str,
    min_tokens: int = 50,
    winnow: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    key: str = "hash64",
    out_col: str = "dedup_text",
    broadcast_batch: bool = True,
) -> DataFrame:
    """Incremental offset-robust substring dedup: scrub a NEW batch
    against the already-staged corpus anchor index
    (`substring_stage_index`) plus the batch's own internal repeats —
    the operating mode of a 100 TB training pipeline, where
    yesterday's corpus is petabyte-scale and today's batch is not.

    Precedence: the staged corpus ALWAYS wins (any batch token covered
    by an index-present anchor is dropped, regardless of id ordering —
    the reference corpus is immutable); among index-misses, first
    occurrence within the batch wins exactly as in `substring_dedup`.
    Staging the batch afterwards (`mode="append"`) keeps the index
    consistent for tomorrow, and re-running the same batch converges
    (its keys are then index-present, output text unchanged: already-
    dropped spans drop again, kept first occurrences... note the
    KEPT-span caveat below).

    Scale shape: the batch anchors once (row-local); with
    ``broadcast_batch`` (default) the batch's distinct keys broadcast
    against the index, so the INDEX IS NEVER SHUFFLED — one
    column-pruned scan of 8-byte keys per batch, map-side semi-join,
    and only the (small) hit set travels back. Disable for a batch too
    large to broadcast its key set; the lookup then degrades to one
    key-keyed shuffle join.

    CAVEAT (document before someone trips on it): re-running a batch
    that was ALREADY staged drops even its first occurrences (the
    index can't distinguish "my own keys" from the corpus's). Dedup
    FIRST, stage SECOND — or stage the deduped output.

    Output matches `substring_dedup`: one row per batch document."""
    if min_tokens < 1:
        raise ValueError(f"min_tokens must be >= 1, got {min_tokens}")
    if winnow < 1:
        raise ValueError(f"winnow must be >= 1, got {winnow}")
    if winnow > min_tokens:
        raise ValueError(
            f"winnow ({winnow}) must be <= min_tokens ({min_tokens})"
        )
    if key not in ("hash64", "digest"):
        raise ValueError(f"key must be 'hash64' or 'digest', got {key!r}")
    spark = new_docs.sparkSession
    SUBSTR_META.check(
        spark, staged_path,
        {"key": key, "min_tokens": min_tokens, "winnow": winnow},
    )
    index = spark.read.parquet(staged_path)
    with_anchors = _substring_anchors(
        new_docs, min_tokens, 1, id_col, text_col, key
    )
    return _substring_scrub(
        with_anchors, index, min_tokens, winnow, id_col, out_col,
        broadcast_batch,
    )


def _substring_scrub(
    with_anchors: DataFrame,
    index: DataFrame,
    min_tokens: int,
    winnow: int,
    id_col: str,
    out_col: str,
    broadcast_batch: bool,
) -> DataFrame:
    """Core incremental scrub of a pre-anchored batch frame
    (`_substring_anchors` output: id, _toks, _a) against an
    `anchor_key` index DataFrame (see `substring_dedup_incremental`
    for semantics and the scale shape; the streaming sink passes a
    batch-id-pruned index here). Taking the anchored frame instead of
    raw docs lets callers anchor the batch ONCE and share it between
    the scrub and their own key staging."""
    narrow = _substring_narrow(with_anchors, id_col, winnow)

    batch_keys = narrow.select(F.col("_k").alias("anchor_key")).distinct()
    if broadcast_batch:
        batch_keys = F.broadcast(batch_keys)
    hit_keys = (
        index.join(batch_keys, "anchor_key", "left_semi")
        .distinct()
        .select(F.col("anchor_key").alias("_k"))
    )
    # hit set <= batch keys, so it is broadcastable exactly when the
    # caller declared the batch key set broadcastable; with
    # broadcast_batch=False both joins degrade to key-keyed shuffle
    # joins (forcing a broadcast here would OOM at precisely the
    # scale the flag exists for)
    hit_flags = hit_keys.withColumn("_hit", F.lit(True))
    if broadcast_batch:
        hit_flags = F.broadcast(hit_flags)
    flagged = narrow.join(hit_flags, "_k", "left")
    miss = flagged.filter(F.col("_hit").isNull())
    occ = F.struct(F.col(id_col), F.col("_pos"))
    winners = miss.groupBy("_k").agg(F.min(occ).alias("_w"))
    drop_rows = (
        miss.join(winners, "_k")
        .filter(occ != F.col("_w"))
        .select(F.col(id_col), "_pos")
        .unionByName(
            flagged.filter(F.col("_hit")).select(F.col(id_col), "_pos")
        )
    )
    dropped = drop_rows.groupBy(id_col).agg(
        F.collect_list("_pos").alias("_dup")
    )
    return _substring_rebuild(
        with_anchors, dropped, id_col, min_tokens, 1, out_col
    )


def chunk_documents(
    docs: DataFrame,
    chunk_chars: int = 2048,
    overlap: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split each document into fixed-size character windows with
    `overlap` shared characters between consecutive chunks — the
    context-window prep step (RAG indexing, long-doc pretraining)
    that `pack_greedy` does NOT cover: packing concatenates whole
    short docs up to a token budget, chunking cuts long docs down to
    a window with continuity overlap.

    Chunk starts step by `chunk_chars - overlap`; the final chunk may
    be short (no padding), and every document emits at least one chunk
    (an empty one for empty/NULL text — the doc's presence survives,
    callers filter `n_chunk_chars > 0` if they want otherwise).

    Output: (id, chunk_idx, chunk_start, chunk_text, n_chunk_chars),
    chunk_start 0-based. Zero shuffles — one generator projection;
    output volume is input chars * chunk/(chunk-overlap), bounded by
    the overlap validation below (overlap >= chunk would loop
    forever / explode quadratically)."""
    if chunk_chars <= 0:
        raise ValueError(f"chunk_chars must be positive, got {chunk_chars}")
    if not (0 <= overlap < chunk_chars):
        raise ValueError(
            f"overlap must satisfy 0 <= overlap < chunk_chars, got "
            f"overlap={overlap}, chunk_chars={chunk_chars}"
        )
    stride = chunk_chars - overlap
    txt = F.coalesce(F.col(text_col), F.lit(""))
    ln = F.length(txt)
    # smallest n with n*stride + overlap >= len, floor 1:
    # ceil((len - overlap)/stride) — integer form avoids float edges
    n_chunks = F.greatest(
        F.lit(1),
        (-F.floor((-(ln - F.lit(overlap))) / F.lit(stride))).cast("int"),
    )
    staged = docs.select(
        F.col(id_col), txt.alias("_txt"), n_chunks.alias("_n")
    )
    return staged.select(
        F.col(id_col),
        F.posexplode(F.sequence(F.lit(0), F.col("_n") - 1)).alias(
            "chunk_idx", "_i"
        ),
        F.col("_txt"),
    ).select(
        F.col(id_col),
        F.col("chunk_idx"),
        (F.col("_i") * F.lit(stride)).cast("long").alias("chunk_start"),
        F.substring(
            F.col("_txt"), F.col("_i") * F.lit(stride) + F.lit(1), chunk_chars
        ).alias("chunk_text"),
        F.length(
            F.substring(
                F.col("_txt"), F.col("_i") * F.lit(stride) + F.lit(1), chunk_chars
            )
        ).cast("long").alias("n_chunk_chars"),
    )
