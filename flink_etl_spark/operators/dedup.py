"""Deduplication operators for training-data pipelines.

Five strategies over the `documents` table (extension surface,
SURVEY.md §2.12 — the reference's only dedup is latest-per-key CDC
compaction, operators/merge.py):

* exact            — hash-groupBy on content, keep canonical row
* n-gram Jaccard   — exact set-similarity join via shingle inverted index
* MinHash + LSH    — sketch signatures, band-bucket join for candidates,
                     exact verification of candidates only
* SimHash          — bit-vote fingerprint; identical signatures bucket
* embedding cosine — near-dup pairs above a cosine threshold

Scale design (100 TB):
* every strategy is shuffle-on-key + aggregate — no driver-side state
* the Jaccard inverted-index join is quadratic per posting list; LSH is
  the scale path: candidates per doc ~ band collisions, not corpus size
* the char-fold term ids keep oracles exact; swap for xxhash64 at
  unbounded vocab (functions/hashing.py docstring)
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from flink_etl_spark.operators.text import micro_floor_ratio
from flink_etl_spark.session import anchor
from flink_etl_spark.sources.tables import _spread_anchored, rescue_scan_parallelism
from flink_etl_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_COEFFS,
    SIMHASH_COEFFS,
    shingles_sql,
    tokens_sql,
)
from flink_etl_spark.functions.sql import ident, lit
from flink_etl_spark.staged import PROFILE_META


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
    carry_cols: Sequence[str] = (),
    where_col: str | None = None,
) -> DataFrame:
    """Exact dedup: one row per distinct content, keeping the smallest id
    (deterministic canonical choice) plus the duplicate count.

    groupBy(content) is a hash shuffle on the content hash; at scale,
    pre-hash long content to a digest column first so the shuffle keys
    are small (`sha2(content, 256)`).

    `carry_cols` names extra columns whose KEEPER-row values ride the
    same aggregate — `min(struct(id, *carry))` picks the min-id row's
    values because the unique id leads the struct, so struct ordering
    IS id ordering. This is the one-pass alternative to aggregating
    ids and joining back to the corpus for the keeper's attributes
    (two scans + a join; the single-scan rewrite measured ~25% faster
    on the composite pipeline, catalog/pipeline.py).

    `where_col` (r15) names a BOOLEAN input column: only rows where it
    is true participate (keeper pick, n_copies, group existence) —
    value-identical to `df.filter(where_col)` first, by the pushdown
    counting rules below. The point is the PLAN: a pre-aggregate
    `.filter()` on expensive derived columns (quality/language signals
    in catalog/pipeline.py) gets pushed below the projection that
    defines them and re-evaluates the whole derivation once in the
    Filter and again in the Project (guide §4.4's duplication, in pure
    SQL form — measured 2x tokenization per row on the keepers arm).
    Folding the predicate into the aggregate keeps ONE projection:
    the filter becomes `count_if(where) >= 1` above the aggregate,
    which nothing can push below the Project. NULL `where_col` counts
    as false, exactly like `.filter()`."""
    i = ident(id_col)
    # NULL-id rows are excluded from the keeper PICK (min skips the
    # CASE's NULL, exactly as plain min(id) skips NULL ids — without
    # the guard a NULL id sorts FIRST in struct ordering and a
    # nullable id column silently flips the keeper) but still count
    # in n_copies, matching the no-carry branch
    pick = f"{i} IS NOT NULL"
    n_copies = "count(1) AS n_copies"
    if where_col is not None:
        pass_ = f"({ident(where_col)} IS NOT NULL AND {ident(where_col)})"
        pick = f"{pass_} AND {pick}"
        n_copies = f"count_if({pass_}) AS n_copies"
    grouped = df.groupBy(*content_cols)
    if not carry_cols:
        keep = f"min({i})" if where_col is None else f"min(CASE WHEN {pass_} THEN {i} END)"
        out = grouped.agg(F.expr(f"{keep} AS keep_id"), F.expr(n_copies))
    else:
        carry = [ident(c) for c in carry_cols]
        keeper = f"min(CASE WHEN {pick} THEN struct({', '.join([i, *carry])}) END) AS _k"
        out = grouped.agg(F.expr(keeper), F.expr(n_copies)).selectExpr(
            *map(ident, content_cols), f"_k.{i} AS keep_id", "n_copies",
            *[f"_k.{c} AS {c}" for c in carry],
        )
    # groups with no passing row do not exist under filter-first
    return out if where_col is None else out.filter("n_copies >= 1")


def shingle_sets(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                 k: int = 3, hash_terms: bool = False) -> DataFrame:
    """(doc, shingle) inverted-index postings, distinct per doc.

    The token array is materialized as its own projection first:
    inlining `split()` into the shingle lambda re-evaluates the regex
    split for every element_at inside the transform (no common
    subexpression elimination under lambdas) — a measured ~30x slowdown.

    `hash_terms=True` replaces each shingle string with its FULL 64-bit
    `xxhash64` before the distinct, so both the distinct-shuffle here
    and any downstream shuffle keyed on the posting carry 8-byte longs
    instead of shingle text — the same shrink-the-shuffle-key
    prescription as digest-keyed `exact_dedup`. Full 64 bits (no mod):
    expected colliding vocabulary pairs ~ |vocab|^2/2^65, i.e. ~3 at a
    10^10-shingle corpus — immaterial for near-dup semantics, but NOT
    oracle-portable, so gated entries keep the string default."""
    toks = docs.selectExpr(ident(id_col), f"{tokens_sql(ident(text_col))} AS _t")
    shingles = shingles_sql("_t", k)
    if hash_terms:
        shingles = f"transform({shingles}, s -> xxhash64(s))"
    # explode the expression, not a column (see functions/sql.py)
    return toks.selectExpr(
        ident(id_col), f"explode({shingles}) AS shingle"
    ).distinct()


def _jaccard_of(shared: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(doc_a, doc_b, shared) + per-doc set sizes -> thresholded Jaccard."""
    sa = sizes.select(F.col(sizes.columns[0]).alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(sizes.columns[0]).alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            # integer quotient on the 1e-6 floor grid — round() halves
            # resolve differently across engines (catalog/__init__ rule)
            F.expr(micro_floor_ratio("shared", "na + nb - shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_df: int | None = None,
    hash_terms: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: explode shingles, self-join
    the inverted index, count shared shingles per pair, Jaccard =
    |A∩B| / (|A|+|B|-|A∩B|), keep pairs >= threshold.

    `hash_terms=True` keys the postings (and so the distinct-shuffle,
    the `max_df` hot-set, and the self-join shuffle) on the 64-bit
    `xxhash64` of each shingle instead of the shingle text — identical
    pairs short of a 2^-64-scale hash collision, with the join shuffle
    carrying 8-byte keys: the right setting at corpus scale, off by
    default because the DuckDB oracle intersects the literal strings
    (see `shingle_sets`).

    The self-join shuffles on the shingle — hot shingles (stopword
    n-grams) are the skew risk: the pair-count is quadratic in each
    posting list, so ONE shingle shared by every doc makes the whole
    join O(n^2). `max_df` is the standard mitigation: shingles occurring
    in more than `max_df` docs are dropped BEFORE the join (an anti-join
    against the small hot-shingle set, which is broadcastable by
    construction), capping every posting list. Set sizes are computed
    AFTER pruning, so the result is the exact Jaccard over the pruned
    shingle space — document-frequency-weighted dedup semantics, the
    same trade MinHash-with-stopword-filtering makes. Default None
    keeps full exactness; this remains the baseline — use
    `minhash_near_dups` as the corpus-scale path."""
    sh = shingle_sets(docs, id_col, text_col, k, hash_terms=hash_terms)
    if max_df is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                 F.col(f"b.{id_col}").alias("doc_b"))
        .agg(F.count("*").alias("shared"))
    )
    return _jaccard_of(shared, sizes, threshold)


def minhash_profile(
    docs: DataFrame,
    n_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Per-doc sketch profile with ZERO shuffles: (id, shset, n_sh,
    m0..m{n-1}) computed entirely as array expressions — the distinct
    shingle SET lives in an `array_distinct` column instead of exploded
    postings, so there is no distinct-shuffle and no groupBy; the n
    minhash mins are `array_min(transform(...))` over the hashed set.

    Staged projections (tokens -> shset -> term-ids -> mins) keep each
    expensive expression evaluated once per row: CollapseProject does
    not merge projects whose multi-referenced aliases are non-cheap,
    which is what prevents the char-fold hash from being inlined 16x.

    `hash_fn` picks the shingle -> term-id hash, and with it the
    REPRESENTATION of `shset`:

    * "xxhash64" (default) — shingle STRINGS are never built: each
      token is hashed ONCE (`pmod(xxhash64(token), P)`), and a
      shingle's term-id is the polynomial combine of its k token
      hashes ((acc*131 + h) % P via `zip_with` over shifted slices of
      the token-hash array). `shset` is the distinct array<bigint> of
      term-ids. The production choice at corpus scale: no concat_ws
      allocation per shingle, one hash call per token instead of one
      per (longer) shingle string, verification intersects longs, and
      a staged profile stores 8-byte ids instead of full shingle text
      (measured ~11% faster end-to-end at sf0.1 on top of the earlier
      ~30% string-xxhash64 win; staged parquet ~3x smaller). Term-id
      collisions (~|set|^2/2P per doc pair) can in principle perturb a
      borderline Jaccard, which is why the oracle gates pin charfold;
      end-to-end pairs measured identical at sf0.01 AND sf0.1.
    * "charfold" — shingle strings with the per-character polynomial
      fold, O(len) with a per-char lambda step; `shset` is the
      array<string> of shingles and verification intersects the exact
      string sets. Portable: DuckDB replicates it exactly, which is
      what makes the oracle gates value-exact; the gated catalog
      entries pin it explicitly.

    Staged profiles are NOT portable across `hash_fn` values (band
    keys and shset types both differ) — build and query with the same
    setting, and rebuild profiles staged by versions that hashed
    shingle strings.

    The CHOICE does not change which near-dup pairs come out in
    practice: hashing steers LSH candidate recall (~0.9998 at
    threshold-passing similarity for either hash) and tests assert
    end-to-end pair equality on the test corpora."""
    if hash_fn not in ("charfold", "xxhash64"):
        raise ValueError(f"hash_fn must be 'charfold' or 'xxhash64', got {hash_fn!r}")
    from flink_etl_spark.functions.hashing import (
        fold_gram_ids_sql,
        gram_ids_sql,
        token_hashes_sql,
    )

    i = ident(id_col)
    toks = docs.selectExpr(i, f"{tokens_sql(ident(text_col))} AS _t")
    if hash_fn == "xxhash64":
        # hash tokens once, combine k consecutive hashes per shingle —
        # see the docstring (shared helpers in functions/hashing:
        # decontaminate builds its n-gram ids on the identical path)
        th_df = toks.selectExpr(i, f"{token_hashes_sql('_t')} AS _th")
        shset_df = th_df.selectExpr(
            i, f"array_distinct({gram_ids_sql('_th', k)}) AS shset"
        )
        tids_df = shset_df.selectExpr(i, "shset", "shset AS _tids")
    else:
        shset_df = toks.selectExpr(
            i, f"array_distinct({shingles_sql('_t', k)}) AS shset"
        )
        # split-based char fold, not substring-per-index — see
        # functions/hashing.fold_gram_ids_sql (identical values, ~13% faster)
        tids_df = shset_df.selectExpr(
            i, "shset", f"{fold_gram_ids_sql('shset')} AS _tids"
        )
    return tids_df.selectExpr(
        i,
        "shset",
        "size(shset) AS n_sh",
        *[
            f"array_min(transform(_tids, x -> (x * {a} + {b}) % {MERSENNE_P})) AS m{j}"
            for j, (a, b) in enumerate(MINHASH_COEFFS[:n_hashes])
        ],
    )


def lsh_candidates(
    sigs: DataFrame,
    bands: int = 8,
    rows_per_band: int = 2,
    id_col: str = "doc_id",
    carry_cols: Sequence[str] = (),
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the wide signature: band j covers perms [j*r, (j+1)*r);
    band_key = ':'-joined 'perm=minhash' fragments (ascending perm —
    identical to sorting the fragments lexicographically, since both
    perms in a band share digit count). Docs sharing any (band_id,
    band_key) bucket are candidates; returns distinct doc_a < doc_b.

    `carry_cols` ride along through the band self-join and come out as
    `<col>_a` / `<col>_b` — carrying per-doc attributes here (e.g. the
    shingle-set size) saves downstream re-aggregation joins, each of
    which would re-scan and re-tokenize the corpus.

    `max_bucket` is the band-join SKEW CAP (the analogue of
    jaccard_pairs' max_df): a band bucket holding k docs contributes
    k*(k-1)/2 candidate pairs, so one adversarial clique — a boilerplate
    page duplicated 10^5 times — turns the join quadratic no matter how
    good the banding is. Buckets larger than `max_bucket` are dropped
    BEFORE the self-join via an anti-join against the (tiny by
    construction) oversized-bucket set. Recall impact is bounded and
    benign: a pair is lost only if EVERY band bucket containing both
    docs was oversized — which means both docs sit in giant near-dup
    cliques in every band, exactly the degenerate mass-duplicate case a
    pipeline handles with exact dedup (the clique members are typically
    byte-identical) rather than pairwise Jaccard. Default None keeps
    the lossless behavior for oracle-exact gates."""
    def band(j: int) -> str:
        frags = ", ".join(
            f"concat_ws('=', '{p}', CAST({ident(f'm{p}')} AS STRING))"
            for p in range(j * rows_per_band, (j + 1) * rows_per_band)
        )
        return f"struct({j} AS band_id, concat_ws(':', {frags}) AS band_key)"

    i = ident(id_col)
    carry = [ident(c) for c in carry_cols]
    banded = sigs.selectExpr(
        i, *carry, f"explode(array({', '.join(band(j) for j in range(bands))})) AS b",
    ).selectExpr(i, *carry, "b.band_id AS band_id", "b.band_key AS band_key")
    if max_bucket is not None:
        oversized = (
            banded.groupBy("band_id", "band_key")
            .agg(F.count("*").alias("_occ"))
            .filter(F.col("_occ") > max_bucket)
            .select("band_id", "band_key")
        )
        banded = banded.join(
            F.broadcast(oversized), ["band_id", "band_key"], "left_anti"
        )
    return (
        banded.alias("a").join(
            banded.alias("b"),
            F.expr(
                f"a.band_id = b.band_id AND a.band_key = b.band_key AND a.{i} < b.{i}"
            ),
        )
        .selectExpr(
            f"a.{i} AS doc_a",
            f"b.{i} AS doc_b",
            *[f"a.{ident(c)} AS {ident(c + '_a')}" for c in carry_cols],
            *[f"b.{ident(c)} AS {ident(c + '_b')}" for c in carry_cols],
        )
        .distinct()
    )


def minhash_near_dups(
    docs: DataFrame,
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int | str = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    staged_path: str | None = None,
    max_bucket: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-dup pipeline: sketch -> band-bucket candidates ->
    exact-Jaccard verification of the CANDIDATES ONLY (never the full
    pair space — that would defeat LSH).

    With 16 hashes / 8 bands / 2 rows, P(candidate) = 1-(1-j^2)^8:
    j=0.8 -> 0.9998 recall; j=0.3 -> 0.5 — the classic S-curve.
    Corpus-scale cost = sketching (one groupBy) + banding (bands rows
    per doc) + shingle joins restricted to candidate docs.

    Tokenization is the dominant cost at corpus scale, so the pipeline
    is built to be shuffle-free outside the band join itself:

    * the sketch (`minhash_profile`) is a pure projection — the
      distinct shingle set is an `array_distinct` column (no
      distinct-shuffle), sizes and all n signatures are array
      expressions (no groupBy)
    * set sizes ride through the band self-join (carry_cols), so the
      Jaccard denominator needs no re-aggregation
    * verification joins the candidate set back to the profile and
      computes shared = size(array_intersect) — no posting explode, no
      pair-count shuffle; AQE broadcasts the candidates at runtime
      when they are small (no forced hint: candidate volume is
      corpus-dependent and a pinned broadcast cannot be demoted)

    Net plan: the profile is cut from the lineage by a lazy anchor
    (`session.anchor(eager=False)`), so the two band self-join sides
    and both verification sides read ONE `Scan ExistingRDD` leaf
    instead of four copies of the profile plan. Analysis, planning and
    AQE re-optimization pay for the profile once; the only real
    shuffle above the leaf is the band bucket join. The first job that
    consumes the leaf computes the profile (with the round-robin spread
    of (id, text) when the input scan is under-split, see the note in
    the body) and keeps its blocks; every later job reads them. A call
    runs 5 Spark jobs on the single-split sf0.01 documents.

    `staged_path` is the 100 TB pattern: materialize the profile to
    parquet ONCE and feed all four consumers from that columnar scan —
    exactly one tokenization pass over the corpus, column-pruned reads
    per consumer (banding never reads `shset`; verification reads only
    id + shset + n_sh), and the staged profile is reusable across runs
    (incremental dedup against yesterday's corpus; read through
    `_staged_profile`, which drops empty shingle sets). Default (None)
    keeps the in-memory anchor, which is faster at bench SF where the
    profile fits executor storage.

    `bands` accepts "auto" — threshold-derived banding via
    `knobs.minhash_auto_bands` (the S-curve midpoint sized to the
    verify threshold) — `max_bucket` caps band-bucket occupancy
    against adversarial duplicate cliques (see `lsh_candidates`), and
    `hash_fn` picks the shingle hash: "xxhash64" (default) is the
    native one-call production hash, "charfold" the portable fold the
    DuckDB oracle replicates, pinned by the gated catalog entries (see
    `minhash_profile`). The choice does not change the output —
    identical final pairs at sf0.01 AND sf0.1, xxhash64 measured ~30%
    faster end-to-end at sf0.1."""
    from flink_etl_spark.operators.knobs import minhash_auto_bands

    if bands == "auto":
        bands = minhash_auto_bands(threshold, n_hashes)
    if not (1 <= bands <= n_hashes) or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} (1 <= bands "
            "<= n_hashes): bands > n_hashes makes every band key the "
            "empty string (ALL docs share every bucket -> quadratic "
            "self-join), and a non-divisor silently drops trailing "
            "hashes from the S-curve"
        )
    # Spread an under-split input over every core before the profile
    # (`rescue_scan_parallelism`, inert at scale). On 4 cores over the
    # benchmark corpus (1.5k docs whose keepers are one row group;
    # seed 1, 5 chains) the unspread profile ran in ONE task, 730 ms
    # CPU, while the three other consumer jobs each sat ~760 ms blocked
    # on its cache block. The `n_sh > 0` filter must stay ABOVE the
    # anchored (or staged) profile: Catalyst pushes deterministic
    # filters through a round-robin exchange, and there the filter
    # tokenizes every row on the single map task before the spread
    # tasks tokenize again. Measured per call over seed-5 keepers
    # (median of 10, noop sink, profile then persisted): unspread
    # 1.20 s, spread with the filter below the cache 1.06 s, spread
    # with it above 0.78 s. So a staged profile keeps its empty-set
    # rows and `_staged_profile` filters them. The staged arm gains as
    # well (it writes one file per core): bench.py's sf0.1 staged entry
    # on 4 cores, median of 5 calls in each of 5 fresh processes,
    # 2.0 -> 1.3 s.
    spread = rescue_scan_parallelism(docs.selectExpr(ident(id_col), ident(text_col)))
    prof = minhash_profile(spread, n_hashes, id_col, text_col, k, hash_fn)
    if staged_path is not None:
        prof.write.mode("overwrite").parquet(staged_path)
        PROFILE_META.write(
            docs.sparkSession, staged_path, _profile_params(hash_fn, k, n_hashes)
        )
        profile = _staged_profile(docs.sparkSession, staged_path)
    else:
        # ONE row per doc (set + sigs) — tiny relative to the corpus, so
        # keeping it collapses the four consumers to a single
        # tokenization pass (unlike exploded postings, where caching
        # measured slower than recompute). A lazy anchor, not a
        # persist: a persisted frame keeps the whole profile plan
        # (tokenize, hash, n_hashes lambdas) in all four consumers'
        # logical plans, so analysis, cache matching, planning and AQE
        # pay for it four times (10 jobs a call on the sf0.01
        # documents against the anchored leaf's 5).
        profile = anchor(prof, eager=False).filter(F.col("n_sh") > 0)
    cand = lsh_candidates(
        profile.drop("shset"), bands, n_hashes // bands, id_col,
        carry_cols=("n_sh",), max_bucket=max_bucket,
    )
    # NO broadcast hint on the candidate set: its size is corpus-
    # dependent and unbounded without max_bucket (a duplicate-heavy
    # corpus makes it quadratic in bucket occupancy), and a forced
    # broadcast cannot be demoted — the exact driver-OOM shape the
    # incremental variant also avoids. AQE broadcasts it at runtime
    # when it is actually small (measured FASTER than the hint at
    # sf0.1, identical pairs).
    return _verify_candidates(cand, profile, id_col, threshold)


def _verify_candidates(cand: DataFrame, profile: DataFrame, id_col: str,
                       threshold: float) -> DataFrame:
    """Exact Jaccard of the candidate pairs (doc_a, doc_b, n_sh_a,
    n_sh_b) from the profile's shingle sets, thresholded: both sides
    join the profile, shared = size(array_intersect)."""
    i = ident(id_col)
    sh_a = profile.selectExpr(f"{i} AS doc_a", "shset AS _sa")
    sh_b = profile.selectExpr(f"{i} AS doc_b", "shset AS _sb")
    jac = micro_floor_ratio("shared", "n_sh_a + n_sh_b - shared")
    return (
        cand
        .join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .selectExpr("*", "size(array_intersect(_sa, _sb)) AS shared")
        .selectExpr("*", f"{jac} AS jaccard")
        .filter(f"jaccard >= {lit(threshold)}")
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_signatures(
    docs: DataFrame,
    bits: int | str = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
    max_hamming: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """SimHash: per token occurrence, each bit j votes +-1 by the parity
    of (a_j*tid + b_j) % P; bit j of the signature is 1 iff the vote sum
    is positive. Identical signatures = near-identical token bags.

    ZERO shuffles: the token bag stays an array column, term-id hashing
    is one transform, and each bit's vote sum is an `aggregate` fold
    over that array — no explode, no groupBy. Staged projections keep
    the char-fold hash evaluated once per token (see minhash_profile).

    Size `bits` to the corpus: 16 bits birthday-collides unrelated docs
    from ~300 docs up (measured: 25k docs -> 18M accidental Hamming<=2
    pairs); up to 63 bits supported (bit 63 would be the LONG sign
    bit). `bits="auto"` derives the width from the corpus count
    (`knobs.simhash_auto_bits` — expected accidental pairs at
    Hamming <= `max_hamming` bounded to 0.1% of the corpus); pass
    `n_docs` to skip the count scan when the size is already known.
    Explicit integer bits remain the deterministic oracle override.
    `hash_fn` picks the token hash: "xxhash64" (default) is the native
    one-call production hash; "charfold" is the portable fold the
    DuckDB oracle replicates, pinned by the gated catalog entries (see
    minhash_profile)."""
    from flink_etl_spark.operators.knobs import resolve_knob, simhash_auto_bits

    bits = resolve_knob(bits, simhash_auto_bits, docs, n_docs, max_hamming)
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    if hash_fn not in ("charfold", "xxhash64"):
        raise ValueError(f"hash_fn must be 'charfold' or 'xxhash64', got {hash_fn!r}")
    if hash_fn == "xxhash64":
        hash_sql = f"transform(_t, s -> pmod(xxhash64(s), {MERSENNE_P}))"
    else:
        # split-based char fold — see functions/hashing.fold_gram_ids_sql
        hash_sql = (
            "transform(_t, s -> aggregate(transform(split(s, ''), "
            "c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), "
            f"(acc, c) -> (acc * 131 + c) % {MERSENNE_P}))"
        )
    tids_df = docs.selectExpr(
        ident(id_col), f"{tokens_sql(ident(text_col))} AS _t"
    ).select(F.col(id_col), F.expr(hash_sql).alias("_tids"))
    bit_votes = [
        F.aggregate(
            F.col("_tids"),
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.when(((x * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_P)) % 2 == 1,
                     F.lit(1)).otherwise(F.lit(-1)),
        ).alias(f"v{j}")
        for j, (a, b) in enumerate(SIMHASH_COEFFS[:bits])
    ]
    votes = tids_df.select(F.col(id_col), *bit_votes)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j)).otherwise(F.lit(0))
        sig = term if sig is None else (sig + term)
    return votes.select(F.col(id_col), sig.cast("long").alias("simhash"))


def embedding_near_dups(
    embs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int | None = 100_000,
    force: bool = False,
) -> DataFrame:
    """Cosine near-dup pairs above threshold — brute-force O(n^2) cross
    join, the exactness baseline. The scale path is the sign-LSH
    bucketing in operators/similarity.py (same scores, bucketed
    candidate generation).

    GUARD: the docstring used to be the only thing stopping a caller
    from pointing this baseline at a real corpus. Inputs larger than
    `max_rows` (one column-pruned count) now raise, naming
    `embedding_near_dups_lsh` as the scale path; `force=True`
    downgrades the raise to a RuntimeWarning, `max_rows=None` disables
    the check entirely (both deliberate, auditable opt-ins)."""
    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine

    if max_rows is not None:
        n = embs.count()
        if n > max_rows:
            msg = (
                f"embedding_near_dups is the O(n^2) exactness baseline; the "
                f"input has {n:,} rows (> max_rows={max_rows:,}), i.e. "
                f"~{n * (n - 1) // 2:,} candidate pairs. Use "
                "embedding_near_dups_lsh (bucketed sign-LSH, candidates-only "
                "verify) for real corpora, or pass force=True / a larger "
                "max_rows to run the baseline anyway."
            )
            if not force:
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)

    a = embs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(vec_col).alias("na"),
    )
    b = embs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm(vec_col).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def _signal_nonconverged(what: str, max_iters: int, on_nonconverged: str):
    """Loud exit for an iterative fixpoint loop that ran out of rounds.

    The silent alternative is the one failure mode in this module whose
    OUTPUT is wrong with no error: a propagation loop that stops early
    returns labels that are not the connected components, and a
    small-SF correctness gate (near-clique clusters, 2-3 rounds) can
    never catch it. `"raise"` (the default) turns it into a hard
    error; `"warn"` keeps the legacy return-anyway behavior but emits
    a UserWarning so a scheduler log still shows it."""
    msg = (
        f"{what} did not converge within max_iters={max_iters}: the "
        "returned labels are NOT the connected components (some chain "
        "of near-dup pairs is longer than the rounds allowed). Raise "
        "max_iters, or use algorithm='star' (large-star/small-star, "
        "O(log n) rounds) whose round count cannot be outrun by "
        "cluster diameter."
    )
    if on_nonconverged == "warn":
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)
    else:
        raise RuntimeError(msg)


def _star_components(
    edges: DataFrame,
    max_iters: int,
    on_nonconverged: str,
) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the scale arm of `duplicate_clusters`: converges in
    O(log n) rounds REGARDLESS of cluster diameter, where min-label
    propagation needs O(diameter) rounds and an adversarial chain
    (template-chain near-dups in crawl data) can outrun any fixed
    bound.

    Each round rewrites the edge set twice:
    * large-star: every node u attaches its LARGER neighbors to
      m = min(neighbors(u) + [u]) — long chains fold toward their
      minimum in halving steps;
    * small-star: every node u (keyed as the larger endpoint of each
      edge) attaches its smaller neighbors AND itself to the minimum
      smaller neighbor — stars flatten to depth 1.

    The fixpoint is a star forest with every component's minimum id at
    the center; labels fall straight out of the edges. Convergence is
    detected EXACTLY: equal edge counts plus an empty
    new-minus-old anti-join (both canonical distinct sets, so
    count-equality + containment is set equality) — two tiny
    aggregates per round, no data to the driver, and no hash-collision
    caveat (the earlier xor-of-edge-hashes signature had a ~2^-64
    per-round chance of declaring convergence one round early with
    wrong labels; exact costs the same).
    Input `edges` must be the canonical undirected pair set: columns
    (a, b) with a < b, distinct, no self loops."""
    edges = anchor(edges)
    n_edges = edges.count()
    converged = False
    for _ in range(max_iters):
        # large-star over the symmetric adjacency: m(u) = min(Γ(u), u)
        sym = edges.union(
            edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        lmin = sym.groupBy("a").agg(F.min("b").alias("_nmin"))
        large = (
            sym.join(lmin, "a")
            .filter(F.col("b") > F.col("a"))
            .select(
                F.col("b").alias("a"),
                F.least(F.col("_nmin"), F.col("a")).alias("b"),
            )
        )
        e1 = (
            large.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # small-star keyed on the larger endpoint: every smaller
        # neighbor, and the node itself, attaches to the minimum
        # smaller neighbor
        smin = e1.groupBy("a").agg(F.min("b").alias("_nmin"))
        small = (
            e1.join(smin, "a")
            .select(F.col("b").alias("a"), F.col("_nmin").alias("b"))
            .union(smin.select(F.col("a"), F.col("_nmin").alias("b")))
        )
        nxt = (
            small.select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        nxt = anchor(nxt)
        n_nxt = nxt.count()
        same = (
            n_nxt == n_edges
            and nxt.join(edges, ["a", "b"], "left_anti").limit(1).count()
            == 0
        )
        prev = edges
        edges = nxt
        n_edges = n_nxt
        prev.unpersist()
        if same:
            converged = True
            break
    if not converged:
        _signal_nonconverged(
            "duplicate_clusters(algorithm='star')", max_iters, on_nonconverged
        )
    # fixpoint edges are (leaf, component-min) stars; centers label
    # themselves. Isolated nodes (self-pair inputs) are handled by the
    # caller's left join against the full node set. The groupBy-min is
    # a no-op at a true fixpoint (each leaf has exactly one edge) but
    # guarantees one row per node on the on_nonconverged="warn"
    # degraded path, where a leaf may still carry two candidate labels.
    return (
        edges.select(F.col("a").alias("node"), F.col("b").alias("label"))
        .union(
            edges.select(F.col("b").alias("node"), F.col("b").alias("label"))
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 20,
    algorithm: str = "propagation",
    on_nonconverged: str = "raise",
) -> DataFrame:
    """Connected components over near-dup pairs: every document in a
    pair gets the MINIMUM reachable doc id as its cluster_id — the
    canonical "pick one canonical doc per duplicate group" step after
    any pairwise dedup (minhash/simhash/cosine all emit pairs).

    Two arms, identical outputs (equivalence-tested on random graphs):

    * ``algorithm="propagation"`` (default) — iterative min-label
      propagation (the Pregel/GraphX pattern on plain DataFrames):
      each round joins labels across edges and keeps the elementwise
      min; converges in O(cluster diameter) rounds — near-dup clusters
      are near-cliques, so 2-3 rounds in practice. One shuffle join +
      one aggregate per round; the cheapest arm when diameters are
      small and known.
    * ``algorithm="star"`` — large-star/small-star alternation
      (Kiveris et al. 2014): O(log n) rounds regardless of diameter.
      The scale arm: at 100 TB the cluster shapes are whatever the
      crawl contains, and a template-chain of near-dups can make the
      diameter arbitrarily large; star's round bound cannot be outrun.

    `max_iters` bounds either loop; exhausting it WITHOUT convergence
    raises by default (``on_nonconverged="warn"`` downgrades to a
    RuntimeWarning and returns the non-converged labels) — the silent
    legacy behavior returned labels that are not the components, an
    answer-corrupting failure no small-SF gate can catch.

    Each generation is anchored (`session.anchor`, eager) and the
    previous generation unpersisted: without the lineage cut, the
    logical plan doubles per round and at real corpus scale planning
    time + recomputation explode long before the data does. On a real
    cluster with executor churn set
    ``spark.flinkEtlSpark.reliableCheckpoint=true`` (plus a
    `setCheckpointDir`) — the anchors then use reliable
    `checkpoint()`, which survives executor loss; localCheckpoint
    blocks die with their executor. The loop structure is unchanged.
    """
    if algorithm not in ("propagation", "star"):
        raise ValueError(
            f"algorithm must be 'propagation' or 'star', got {algorithm!r}"
        )
    if on_nonconverged not in ("raise", "warn"):
        raise ValueError(
            "on_nonconverged must be 'raise' or 'warn', got "
            f"{on_nonconverged!r}"
        )
    if algorithm == "star":
        nodes = (
            pairs.select(F.col(id_a).alias("node"))
            .union(pairs.select(F.col(id_b).alias("node")))
            .distinct()
        )
        nodes = anchor(nodes)
        canon = (
            pairs.select(
                F.greatest(id_a, id_b).alias("a"),
                F.least(id_a, id_b).alias("b"),
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        labels = _star_components(canon, max_iters, on_nonconverged)
        # left join: isolated nodes (self-pair inputs) label themselves
        return nodes.join(labels, "node", "left").select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("cluster_id"),
        )
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .union(pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # eager=True materializes now and truncates lineage; the plan fed to
    # each round is a leaf scan of checkpointed blocks, constant-size
    # across iterations (asserted in tests/test_extensions.py).
    labels = anchor(labels)
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nlabel"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.a, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        updated = anchor(updated)
        # convergence: any label still above a neighbor's label?
        changed = (
            updated.alias("u")
            .join(labels.alias("o"), F.col("u.node") == F.col("o.node"))
            .filter(F.col("u.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        prev = labels
        labels = updated
        prev.unpersist()
        if changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        _signal_nonconverged(
            "duplicate_clusters(algorithm='propagation')",
            max_iters,
            on_nonconverged,
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def embedding_near_dups_lsh(
    embs: DataFrame,
    threshold: float,
    n_planes: int | str = 4,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
) -> DataFrame:
    """Cosine near-dup pairs via sign-LSH bucketing — the 100 TB path
    `embedding_near_dups` (the O(n^2) cross join) points at.

    Each vector emits its own bucket plus `n_probe` multi-probe buckets
    (lowest-|margin| bit flips, see similarity.signlsh_bucket_margins);
    candidates are pairs sharing ANY probe bucket — so a pair is found
    when their buckets agree OR differ by a bit that is either side's
    nearest hyperplane. Cosine is verified on candidates only.

    Scale shape: one probe-bucket shuffle join (posting lists are
    (1+n_probe) x bucket occupancy, nothing quadratic in the corpus),
    then candidate-only verification. Recall < 1 by design (pairs split
    by a confidently-crossed hyperplane are missed); tune n_planes
    down / n_probe up to raise it.

    `n_planes="auto"` sizes the bucket space to the corpus
    (`knobs.signlsh_auto_planes`, ~32 vectors per bucket) — the knob
    whose fixed default measurably collapses off-scale (4 planes at
    10k vectors -> 139s posting-list blowup, docs/SCALING.md)."""
    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine
    from flink_etl_spark.operators.knobs import resolve_knob, signlsh_auto_planes
    from flink_etl_spark.operators.similarity import (
        hyperplanes,
        signlsh_bucket_margins,
    )

    n_planes = resolve_knob(n_planes, signlsh_auto_planes, embs, n_vecs)
    if not 0 <= n_probe < n_planes:
        # out-of-range margins[j] would be null -> null probe bucket ->
        # probes silently never match and recall degrades with no error
        raise ValueError(f"n_probe must be in [0, {n_planes}), got {n_probe}")

    planes = hyperplanes(embs, n_planes, id_col, vec_col)
    qm = signlsh_bucket_margins(embs, planes, id_col, vec_col)
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.expr(f"bucket ^ shiftleft(CAST(1 AS BIGINT), margins[{j}].p)")
            for j in range(n_probe)
        ],
    )
    probes = qm.select(
        F.col(id_col).alias("_pid"), F.explode(probe_buckets).alias("_probe")
    )
    cand = (
        probes.alias("pa")
        .join(
            probes.alias("pb"),
            (F.col("pa._probe") == F.col("pb._probe"))
            & (F.col("pa._pid") < F.col("pb._pid")),
        )
        .select(F.col("pa._pid").alias("id_a"), F.col("pb._pid").alias("id_b"))
        .distinct()
    )
    a = embs.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(vec_col).alias("na"),
    )
    b = embs.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        norm(vec_col).alias("nb"),
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6)
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def semantic_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    method: str = "signlsh",
    n_planes: int = 4,
    n_probe: int = 1,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    max_bench_rows: int | None = 1_000_000,
    force: bool = False,
) -> DataFrame:
    """EMBEDDING-space benchmark contamination report: every
    (corpus_id, bench_id, cos_sim) pair with cosine >= threshold — the
    semantic counterpart of the n-gram `prep.decontaminate` (GPT-3/C4
    style). N-gram overlap misses paraphrased or translated benchmark
    leakage; embedding similarity is the standard second filter
    (the "fuzzy" decontamination pass in recent model reports).

    Asymmetric by design: `benchmark` is the SMALL side (eval suites
    are 1e3-1e6 rows) and `corpus` the 100 TB side, so everything
    benchmark-shaped is broadcast and THE CORPUS NEVER SHUFFLES —
    the defining scale difference from the symmetric
    `embedding_near_dups_lsh` self-join (whose candidate generation
    exchanges corpus-side posting lists):

    * ``method="exact"`` — corpus x broadcast(benchmark) verify-all:
      one broadcast nested-loop pass, exact recall, per-row cost
      m cosines. Right when the benchmark is small enough that m
      dot products per corpus row beats bucketing overhead.
    * ``method="signlsh"`` (default) — hyperplanes drawn from the
      BENCHMARK side (deterministic smallest-id rule, `hyperplanes`);
      the benchmark emits its own bucket plus `n_probe` multi-probe
      flips (lowest-|margin| bits) into a broadcast posting list;
      each corpus row computes its OWN bucket row-locally against a
      single packed broadcast row of plane vectors (no groupBy — the
      bucket is a fold over the row's embedding, the same
      packed-broadcast trick as bucketed DSIR) and broadcast-joins
      the postings on bucket equality. Verification is
      candidates-only. Recall < 1 by design (a pair split by a
      confidently-crossed hyperplane is missed); recall knobs are
      n_planes down / n_probe up, measured in docs/SCALING.md.
    * ``method="ivf"`` — same asymmetric shape with an IVF coarse
      quantizer instead of sign bits: `n_cells` centroids drawn from
      the benchmark (`ivf_centroids`), the benchmark posts each of
      its vectors under its `nprobe` nearest cells (`ivf_assign` —
      window over the SMALL side only), and each corpus row computes
      its own top-1 cell by a row-local argmax over a packed
      broadcast centroid row (rounded cosine, ties to the smallest
      cell_id — the `ivf_assign` tie rule; a zero-norm corpus vector
      has all-NULL similarities, no cell, and is correctly never
      flagged since its cosine to anything is NULL). The recall dial
      the sign buckets lack: `nprobe` raises recall smoothly in the
      WEAK-similarity band (thresholds < 0.5) where hyperplane
      splits dominate — measured in docs/SCALING.md; cost is
      n_cells cosines per corpus row instead of n_planes dots.

    A (corpus, bench) pair can match at most ONE posting — a bench
    vector's own bucket and its flip probes are pairwise distinct
    values and the corpus row has one bucket — so the output needs no
    distinct and the corpus side stays exchange-free end to end
    (plan-pinned in tests/test_plans.py).

    `max_bench_rows` guards the broadcast (the benchmark must fit in
    executor memory; past ~1M x dim floats use the symmetric LSH
    self-join instead); `force=True` downgrades the raise to a
    RuntimeWarning."""
    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine

    if method not in ("exact", "signlsh", "ivf"):
        raise ValueError(
            f"method must be 'exact', 'signlsh' or 'ivf', got {method!r}"
        )
    bench_id_col = bench_id_col or id_col
    bench_vec_col = bench_vec_col or vec_col
    _guard_bench_broadcast(
        benchmark, max_bench_rows, force, "semantic_contamination_pairs"
    )

    c = corpus.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        norm(vec_col).alias("na"),
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("id_b"), F.col(bench_vec_col).alias("vb"),
        norm(bench_vec_col).alias("nb"),
    )
    cos = F.round(
        safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6
    ).alias("cos_sim")
    if method == "exact":
        return (
            c.join(F.broadcast(b))
            .select("id_a", "id_b", cos)
            .filter(F.col("cos_sim") >= threshold)
        )
    if method == "ivf":
        from flink_etl_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
        )

        if not 1 <= nprobe <= n_cells:
            raise ValueError(
                f"nprobe must be in [1, {n_cells}], got {nprobe}"
            )
        cents = ivf_centroids(benchmark, n_cells, bench_id_col, bench_vec_col)
        n_real = cents.count()
        if n_real < n_cells:
            raise ValueError(
                f"benchmark has only {n_real} vectors but n_cells="
                f"{n_cells}; pass n_cells <= the benchmark size (or "
                "method='exact' for a benchmark this small)"
            )
        postings = (
            ivf_assign(benchmark, cents, nprobe, bench_id_col, bench_vec_col)
            .select(F.col(bench_id_col).alias("id_b"), "cell_id")
            .join(b, "id_b")
        )
        packed = cents.agg(
            F.array_sort(
                F.collect_list(
                    F.struct("cell_id", "centroid", "centroid_norm")
                )
            ).alias("_a")
        ).select(
            F.expr("transform(_a, s -> s.centroid)").alias("_cents"),
            F.expr("transform(_a, s -> s.centroid_norm)").alias("_cnorms"),
        )
        sims = F.array(
            *[
                F.round(
                    safe_cosine(
                        dot("va", F.element_at("_cents", i + 1)),
                        F.col("na"),
                        F.element_at("_cnorms", i + 1),
                    ),
                    6,
                )
                for i in range(n_cells)
            ]
        )
        # stage _sims as its own projection (the interpreted-HOF rule):
        # array_max and array_position both reference it
        cc = (
            c.crossJoin(F.broadcast(packed))
            .withColumn("_sims", sims)
            .select(
                "id_a", "va", "na",
                (
                    F.array_position("_sims", F.array_max("_sims")) - 1
                ).cast("int").alias("_cell"),
            )
        )
        return (
            cc.join(F.broadcast(postings), cc["_cell"] == postings["cell_id"])
            .select("id_a", "id_b", cos)
            .filter(F.col("cos_sim") >= threshold)
        )
    planes, postings = _signlsh_bench_side(
        benchmark, b, n_planes, n_probe, bench_id_col, bench_vec_col
    )
    # ONE packed broadcast row of plane vectors: each corpus row folds
    # its own bucket locally — no corpus groupBy, no corpus exchange
    packed = planes.agg(
        F.array_sort(F.collect_list(F.struct("plane_id", "plane"))).alias("_a")
    ).select(F.expr("transform(_a, s -> s.plane)").alias("_planes"))
    cb = c.crossJoin(F.broadcast(packed))
    bucket = F.lit(0).cast("long")
    for i in range(n_planes):
        bucket = bucket + F.when(
            dot("va", F.element_at("_planes", i + 1)) > 0,
            F.lit(1 << i).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    cb = cb.select("id_a", "va", "na", bucket.alias("_bucket"))
    return (
        cb.join(F.broadcast(postings), cb["_bucket"] == postings["_probe"])
        .select("id_a", "id_b", cos)
        .filter(F.col("cos_sim") >= threshold)
    )


def _guard_bench_broadcast(
    benchmark: DataFrame,
    max_bench_rows: int | None,
    force: bool,
    op: str,
) -> None:
    """Shared broadcast-safety guard for the asymmetric decontamination
    family: every arm (batch and streaming) broadcasts the whole
    benchmark posting list into every executor, so an oversized
    benchmark must fail with the family's actionable error instead of
    silently shipping gigabytes per task. `force=True` downgrades the
    raise to a RuntimeWarning for operators who sized their executors
    deliberately."""
    if max_bench_rows is None:
        return
    m = benchmark.count()
    if m > max_bench_rows:
        msg = (
            f"{op} broadcasts the benchmark side; "
            f"it has {m:,} rows (> max_bench_rows={max_bench_rows:,}). A "
            "benchmark this large should go through the symmetric "
            "embedding_near_dups_lsh self-join (or raise max_bench_rows / "
            "pass force=True if the executors can hold the broadcast)."
        )
        if not force:
            raise ValueError(msg)
        import warnings

        warnings.warn(msg, RuntimeWarning, stacklevel=3)


def _signlsh_bench_side(
    benchmark: DataFrame,
    b: DataFrame,
    n_planes: int,
    n_probe: int,
    bench_id_col: str,
    bench_vec_col: str,
):
    """The benchmark-shaped half of sign-LSH decontamination, shared by
    the batch and streaming arms: (planes, postings) where `planes` is
    the deterministic hyperplane set drawn from the benchmark and
    `postings` the broadcastable (id_b, _probe, vb, nb) posting list —
    each benchmark vector under its own bucket plus `n_probe`
    lowest-|margin| flip probes. Validates n_probe range and that the
    benchmark actually has n_planes vectors (a short plane set would
    throw ANSI INVALID_ARRAY_INDEX deep inside the corpus-side fold —
    raise the real cause up front; the count is one tiny TakeOrdered
    over the benchmark)."""
    from flink_etl_spark.operators.similarity import (
        hyperplanes,
        signlsh_bucket_margins,
    )

    if not 0 <= n_probe < n_planes:
        # an out-of-range margins[j] would null the probe bucket and
        # silently drop recall — same guard as embedding_near_dups_lsh
        raise ValueError(f"n_probe must be in [0, {n_planes}), got {n_probe}")
    planes = hyperplanes(benchmark, n_planes, bench_id_col, bench_vec_col)
    n_real = planes.count()
    if n_real < n_planes:
        raise ValueError(
            f"benchmark has only {n_real} vectors but n_planes={n_planes}; "
            "pass n_planes <= the benchmark size (or method='exact' for a "
            "benchmark this small)"
        )
    qm = signlsh_bucket_margins(benchmark, planes, bench_id_col, bench_vec_col)
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.expr(f"bucket ^ shiftleft(CAST(1 AS BIGINT), margins[{j}].p)")
            for j in range(n_probe)
        ],
    )
    postings = qm.select(
        F.col(bench_id_col).alias("id_b"),
        F.explode(probe_buckets).alias("_probe"),
    ).join(b, "id_b")
    return planes, postings


def semantic_decontaminate_stream(
    corpus_stream: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    method: str = "signlsh",
    # knob DEFAULTS deliberately equal the batch operator's: a backlog
    # scrubbed with batch defaults and a live stream scrubbed with
    # stream defaults must keep the SAME set (different plane counts
    # would silently diverge in recall across the two halves)
    n_planes: int = 4,
    n_probe: int = 1,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bench_id_col: str | None = None,
    bench_vec_col: str | None = None,
    max_bench_rows: int | None = 1_000_000,
    force: bool = False,
) -> DataFrame:
    """STREAMING semantic decontamination: scrub an embedding stream
    against a fixed benchmark as rows arrive — the continuous form of
    `semantic_decontaminate`, and unlike the continuous substring/ANN
    sinks it needs NO index accretion, NO foreachBatch, and NO state
    store: the benchmark never grows with the stream, so the whole
    operator is one STATELESS stream-static LEFT ANTI join (Spark
    supports stream-static anti joins with an arbitrary deterministic
    condition when the static side is on the right). Rows flow through
    append-mode with per-batch latency; a crash replay re-filters the
    redelivered rows identically (pure function of the row and the
    frozen benchmark). Both bucketed methods are supported —
    ``method="signlsh"`` (cheapest at real thresholds) and
    ``method="ivf"`` (the weak-band `nprobe` recall dial; see the
    batch operator's docstring).

    The stream side's bucket/cell is folded row-locally against the
    plane (or centroid) vectors INLINED AS LITERALS — a bounded
    driver fetch of n_planes / n_cells rows at plan-build time (the
    centroid-fetch convention) — because a stream cannot cross-join
    the packed 1-row frame the batch arm broadcasts. The anti-join
    condition is bucket/cell-equality AND verified cosine, so a row
    is dropped iff some benchmark posting matches at cos >=
    threshold: exactly the batch arm's kept set (stream==batch pinned
    by test for both methods).

    Returns the KEPT stream with the input schema. The benchmark must
    be a BATCH DataFrame (the static side), and it is size-guarded by
    the family's `max_bench_rows` broadcast contract (`force=True`
    downgrades the raise to a RuntimeWarning), exactly like
    `semantic_contamination_pairs`."""
    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine

    bench_id_col = bench_id_col or id_col
    bench_vec_col = bench_vec_col or vec_col
    if method not in ("signlsh", "ivf"):
        raise ValueError(
            f"method must be 'signlsh' or 'ivf', got {method!r}"
        )
    if corpus_stream.isStreaming is False:
        raise ValueError(
            "corpus_stream must be a streaming DataFrame; use "
            "semantic_decontaminate for batch corpora"
        )
    if benchmark.isStreaming:
        raise ValueError("benchmark must be a batch DataFrame (static side)")
    # same broadcast-safety contract as the batch arm: the static-side
    # posting list ships to every executor of every micro-batch
    _guard_bench_broadcast(
        benchmark, max_bench_rows, force, "semantic_decontaminate_stream"
    )
    b = benchmark.select(
        F.col(bench_id_col).alias("id_b"), F.col(bench_vec_col).alias("vb"),
        norm(bench_vec_col).alias("nb"),
    )
    if method == "ivf":
        from flink_etl_spark.operators.similarity import (
            ivf_assign,
            ivf_centroids,
        )

        if not 1 <= nprobe <= n_cells:
            raise ValueError(
                f"nprobe must be in [1, {n_cells}], got {nprobe}"
            )
        cents = ivf_centroids(
            benchmark, n_cells, bench_id_col, bench_vec_col
        )
        # bounded driver fetch: n_cells rows, inlined as literals
        cent_rows = sorted(cents.collect(), key=lambda r: r["cell_id"])
        if len(cent_rows) < n_cells:
            raise ValueError(
                f"benchmark has only {len(cent_rows)} vectors but "
                f"n_cells={n_cells}; pass n_cells <= the benchmark size"
            )
        postings = (
            ivf_assign(benchmark, cents, nprobe, bench_id_col, bench_vec_col)
            .select(
                F.col(bench_id_col).alias("id_b"),
                F.col("cell_id").cast("long").alias("_probe"),
            )
            .join(b, "id_b")
        )
        na = norm(vec_col)
        sims = F.array(
            *[
                F.round(
                    safe_cosine(
                        dot(vec_col, F.array(
                            *[F.lit(float(x)) for x in r["centroid"]]
                        )),
                        na,
                        F.lit(float(r["centroid_norm"])),
                    ),
                    6,
                )
                for r in cent_rows
            ]
        )
        enriched = (
            corpus_stream.withColumn("_sims", sims)
            .withColumn(
                "_bucket",
                (
                    F.array_position("_sims", F.array_max("_sims")) - 1
                ).cast("long"),
            )
            .withColumn("_na", norm(vec_col))
            .drop("_sims")
        )
    else:
        planes_df, postings = _signlsh_bench_side(
            benchmark, b, n_planes, n_probe, bench_id_col, bench_vec_col
        )
        # bounded driver fetch: n_planes rows, inlined as double
        # literals so the stream side needs no join for its bucket
        plane_rows = sorted(
            planes_df.collect(), key=lambda r: r["plane_id"]
        )
        bucket = F.lit(0).cast("long")
        for i, r in enumerate(plane_rows):
            lit_plane = F.array(*[F.lit(float(x)) for x in r["plane"]])
            bucket = bucket + F.when(
                dot(vec_col, lit_plane) > 0, F.lit(1 << i).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        enriched = corpus_stream.withColumn("_bucket", bucket).withColumn(
            "_na", norm(vec_col)
        )
    cond = (enriched["_bucket"] == postings["_probe"]) & (
        F.round(
            safe_cosine(dot(vec_col, "vb"), F.col("_na"), F.col("nb")), 6
        )
        >= threshold
    )
    return enriched.join(F.broadcast(postings), cond, "left_anti").drop(
        "_bucket", "_na"
    )


def semantic_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    broadcast_flagged: bool = True,
    **kwargs,
) -> DataFrame:
    """The removal composition over `semantic_contamination_pairs`:
    corpus rows whose embedding matches NO benchmark vector at
    cosine >= threshold (the rows safe to train on). All keyword
    arguments pass through to the pair stage.

    The flagged-id set is contamination-sized (tiny relative to the
    corpus when the pipeline is healthy), so the anti-join broadcasts
    it by default; `broadcast_flagged=False` drops the hint for a
    pathologically contaminated corpus where the flagged set itself
    is too big to broadcast."""
    pairs = semantic_contamination_pairs(
        corpus, benchmark, threshold, id_col=id_col, **kwargs
    )
    flagged = pairs.select(F.col("id_a").alias("_flagged")).distinct()
    if broadcast_flagged:
        flagged = F.broadcast(flagged)
    return corpus.join(
        flagged, corpus[id_col] == flagged["_flagged"], "left_anti"
    )


def _staged_profile(spark, staged_path: str) -> DataFrame:
    """A staged MinHash profile as its consumers read it. Staged files
    hold `minhash_profile` rows as computed, empty shingle sets
    (``n_sh = 0``) included: no writer filters, so no filter can be
    pushed below `minhash_near_dups`' round-robin spread. Every reader
    drops those rows here."""
    return spark.read.parquet(staged_path).filter(F.col("n_sh") > 0)


def _check_staged_profile(spark, staged_path: str, hash_fn: str, k: int,
                          n_hashes: int, expected_dtype: str) -> None:
    """Raise when the profile staged at `staged_path` was built with
    other parameters than the caller's: against its `PROFILE_META`
    sidecar, or — for a META-LESS (legacy) profile — by the shset
    element type the caller's parameters produce. Without the latter,
    `unionByName` silently WIDENS array<bigint> against a v1
    array<string> profile (Spark promotes the element type instead of
    erroring), the two sides' band keys never collide, and every
    old-new pair vanishes. A same-typed legacy mismatch (e.g. a v1
    string-hashed xxhash64 profile vs a charfold caller, both
    array<string>) is undetectable without meta — re-stage legacy
    profiles to get the full sidecar protection."""
    from flink_etl_spark.operators.merge import snapshot_exists

    params = _profile_params(hash_fn, k, n_hashes)
    if PROFILE_META.check(spark, staged_path, params) or not snapshot_exists(
        spark, staged_path
    ):
        return
    got = dict(spark.read.parquet(staged_path).dtypes).get("shset")
    if got != expected_dtype:
        raise ValueError(
            f"staged minhash profile at {staged_path} has shset type "
            f"{got!r} but this call produces {expected_dtype!r} — the "
            "profile was staged with a different hash_fn or by the "
            "pre-meta shingle-string format; rebuild it "
            "(minhash_stage_profile mode='overwrite')"
        )


def _profile_params(hash_fn: str, k: int, n_hashes: int) -> dict:
    """The staged-profile sidecar's parameters (`PROFILE_META`)."""
    return {"hash_fn": hash_fn, "k": k, "n_hashes": n_hashes}


def minhash_stage_profile(
    docs: DataFrame,
    staged_path: str,
    mode: str = "append",
    n_hashes: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    hash_fn: str = "xxhash64",
) -> None:
    """Tokenize+sketch `docs` ONCE and add the profile rows to the
    staged corpus profile at `staged_path` (parquet). `mode="append"`
    is the daily-ingest pattern: the staged profile accretes one batch
    at a time and no document is ever re-tokenized.

    `hash_fn` (and `k`/`n_hashes`) must stay CONSISTENT across every
    batch staged to the same path and with later incremental lookups —
    band keys from different hashes never match. That contract is
    ENFORCED: the profile dir carries a `_PROFILE_META.json` sidecar
    (underscore name — invisible to Spark's file listing) written on
    first stage and validated on every append/lookup; a mismatch
    raises instead of silently returning no pairs. `mode="overwrite"`
    skips the check (a full rebuild legitimately changes parameters)
    and re-stamps the meta. Appending to a META-LESS (legacy) profile
    falls back to the shset-type schema check, so an append can never
    mix parquet schemas in one directory and then stamp it v2."""
    spark = docs.sparkSession
    # unfiltered, as every staged profile is (see `_staged_profile`)
    prof = minhash_profile(docs, n_hashes, id_col, text_col, k, hash_fn)
    if mode != "overwrite":
        _check_staged_profile(
            spark, staged_path, hash_fn, k, n_hashes,
            dict(prof.dtypes)["shset"],
        )
    prof.write.mode(mode).parquet(staged_path)
    PROFILE_META.write(spark, staged_path, _profile_params(hash_fn, k, n_hashes))


def minhash_near_dups_incremental(
    new_docs: DataFrame,
    staged_path: str,
    threshold: float = 0.8,
    n_hashes: int = 16,
    bands: int | str = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_bucket: int | None = None,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Incremental MinHash-LSH dedup: near-dup pairs between a NEW batch
    and the already-staged corpus profile (plus new-new pairs), without
    re-sketching the corpus — the operating mode of a 100 TB training
    pipeline, where yesterday's corpus is petabyte-scale and today's
    batch is not.

    Cost: sketch the new batch once, one band join of (corpus ∪ new)
    banded keys restricted to pairs touching a new doc (the corpus-only
    pair space — quadratic and already known — is never generated:
    a semi-join on the new batch's ids prunes it before verification),
    then candidate-only array_intersect verification. The staged
    profile is column-pruned per consumer exactly as in
    `minhash_near_dups(staged_path=...)`.

    The new-batch profile is cut from the lineage by a lazy anchor
    (`session.anchor(eager=False)`): the union, the id probes and both
    verification sides read one `Scan ExistingRDD` leaf, computed by
    the first job that consumes it, instead of re-planning the
    tokenize-and-hash plan in each. A call runs 8 Spark jobs on a
    one-fifth sf0.01 batch against the other four fifths; the leaf's
    blocks live as long as the returned frame does. `bands="auto"` /
    `max_bucket` as in `minhash_near_dups`. `hash_fn`/`k`/`n_hashes`
    MUST match what the staged profile was built with
    (`minhash_stage_profile`) — band
    keys from different hashes never match, silently losing old-new
    pairs — and that is ENFORCED against the profile's
    `_PROFILE_META.json` sidecar (a mismatch raises)."""
    from flink_etl_spark.operators.knobs import minhash_auto_bands

    if bands == "auto":
        bands = minhash_auto_bands(threshold, n_hashes)
    if not (1 <= bands <= n_hashes) or n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes} (1 <= bands "
            "<= n_hashes): bands > n_hashes makes every band key the "
            "empty string (ALL docs share every bucket -> quadratic "
            "self-join), and a non-divisor silently drops trailing "
            "hashes from the S-curve"
        )
    spark = new_docs.sparkSession
    new = minhash_profile(
        new_docs, n_hashes, id_col, text_col, k, hash_fn
    ).filter(F.col("n_sh") > 0)
    _check_staged_profile(
        spark, staged_path, hash_fn, k, n_hashes, dict(new.dtypes)["shset"]
    )
    old = _staged_profile(spark, staged_path)
    new = anchor(new, eager=False)
    profile = old.unionByName(new)
    cand = lsh_candidates(
        profile.drop("shset"), bands, n_hashes // bands, id_col,
        carry_cols=("n_sh",), max_bucket=max_bucket,
    )
    new_ids = new.select(F.col(id_col))
    # keep pairs with at least one NEW member; new batches are small by
    # construction, so both semi-probes broadcast
    cand = cand.join(
        F.broadcast(new_ids.select(F.col(id_col).alias("doc_a"))), "doc_a", "left_semi"
    ).unionByName(
        cand.join(
            F.broadcast(new_ids.select(F.col(id_col).alias("doc_b"))),
            "doc_b",
            "left_semi",
        )
    ).distinct()
    # no broadcast hint: a hot LSH bucket or an unexpectedly large
    # batch makes the candidate set unbounded, and a forced broadcast
    # would OOM the driver where a shuffle join succeeds. AQE still
    # converts to broadcast at runtime when cand turns out small.
    return _verify_candidates(cand, profile, id_col, threshold)


def edit_distance_pairs(
    docs: DataFrame,
    max_dist: int = 8,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 15,
    winnow: int = 4,
    max_df: int | None = None,
    key: str = "hash64",
) -> DataFrame:
    """Character-level near-duplicate pairs: exact Levenshtein verdict
    over CANDIDATE pairs, one row per ``(doc_a, doc_b, edit_dist)``
    with ``edit_dist <= max_dist``. This is the ORDER-SENSITIVE,
    character-granular judgment the token-set family (Jaccard /
    MinHash / SimHash) cannot give — two documents differing by a few
    character edits score identically here regardless of how those
    edits shred the shingle space.

    NEVER all-pairs: distances run only on `candidates` (default:
    `prep.fingerprint_candidates` — the MOSS winnowing census, whose
    detection guarantee bounds what can be missed: any pair sharing a
    passage of >= min_tokens + winnow - 1 tokens is a candidate; a
    pair within max_dist edits of each other shares long passages
    unless the docs are shorter than ~min_tokens). Pass your own
    (doc_a, doc_b) frame to verify LSH/SimHash candidates instead.

    Scale shape: the candidate frame is the small side by
    construction; texts join back id-keyed (bounded at 2 rows per
    candidate); a length prefilter (|len_a - len_b| <= max_dist, a
    provable lower bound on the distance) drops hopeless pairs before
    the O(L^2) core, and Spark's `levenshtein(l, r, threshold)` form
    early-exits the DP once the running minimum exceeds max_dist.
    Distances count UTF code points on ASCII-safe text; both engines
    agree there (unicode grapheme clusters may differ — out of scope
    for the oracle corpora)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if candidates is None:
        from flink_etl_spark.operators.prep import fingerprint_candidates

        candidates = fingerprint_candidates(
            docs, min_tokens=min_tokens, winnow=winnow, id_col=id_col,
            text_col=text_col, key=key, max_df=max_df,
        )
    cand = candidates.select("doc_a", "doc_b")
    ta = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("_ta"))
    tb = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("_tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_dist)
        .withColumn(
            "edit_dist",
            F.levenshtein("_ta", "_tb", max_dist).cast("long"),
        )
        # threshold form returns -1 past max_dist
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        .select("doc_a", "doc_b", "edit_dist")
    )


def simhash_near_dups(
    docs: DataFrame,
    max_hamming: int = 2,
    bits: int | str = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_docs: int | None = None,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: documents whose signatures differ in at
    most `max_hamming` bits (Manku et al., WWW'07 — the web-crawl
    near-dup detector).

    Candidate generation is the PIGEONHOLE band trick and is LOSSLESS:
    the signature splits into (max_hamming + 1) chunks, and any pair
    within Hamming distance max_hamming must agree on at least one
    whole chunk — so the chunk-equi self-join (one shuffle on the
    chunk value, never all-pairs) provably contains every true pair,
    and the bit_count(XOR) verification makes the result EXACT. Same
    scale shape as MinHash banding: candidates per doc ~ chunk-bucket
    occupancy, not corpus size.

    `bits="auto"` sizes the signature to the corpus (see
    `simhash_signatures`; `knobs.simhash_auto_bits` includes a
    correlation safety margin over the uniform birthday model) — the
    knob whose fixed default measurably collapses off-scale (16 bits ->
    18M accidental pairs at 25k docs).

    `max_bucket` is the chunk-bucket SKEW CAP, the exact analogue of
    `lsh_candidates`' band cap: a mass-duplicate clique (one
    boilerplate page times 10^5) shares ALL its chunk values, so every
    bucket it touches goes quadratic no matter how wide the signature.
    Buckets holding more than `max_bucket` docs are dropped before the
    self-join (broadcast anti-join against the tiny oversized set).
    With the cap the result is no longer provably lossless: a true
    pair is lost only if EVERY chunk the two docs agree on sits in an
    oversized bucket — the degenerate mass-duplicate case exact dedup
    owns. VALIDITY BOUND (r13, measured on the phash twin): the cap
    skims skew only while n << max_bucket * 2^(bits div
    (max_hamming+1)); once the MEAN bucket load passes the cap,
    recall collapses and `hamming_banded_pairs` warns. Default None
    keeps the lossless behavior the oracle gate pins."""
    from flink_etl_spark.operators.knobs import resolve_knob, simhash_auto_bits

    bits = resolve_knob(bits, simhash_auto_bits, docs, n_docs, max_hamming)
    sigs = simhash_signatures(docs, bits, id_col, text_col, hash_fn=hash_fn)
    return hamming_banded_pairs(
        sigs, bits, max_hamming, id_col=id_col, sig_col="simhash",
        max_bucket=max_bucket,
    )


#: generalized-pigeonhole guardrail: banding at (n_chunks, q)
#: replicates every signature C(n_chunks, q) times — cap the explode
#: factor so a bad knob cannot quietly 10^4x the shuffle
_MAX_BAND_COMBOS = 512
#: sampled-census size for `auto_chunks` — large enough that bucket
#: loads scale stably to the full corpus, small enough that one census
#: aggregate per candidate width is a sub-second job
_AUTO_CHUNK_SAMPLE = 32768
#: relative cost of ONE banded row (explode + shuffle write/read +
#: sort/hash insert on both self-join sides) measured in candidate-
#: probe units (one hash-bucket pair comparison + XOR popcount).
#: CALIBRATED r14 on local[32] (tools: /tmp-style micro-sweep recorded
#: in docs/SCALING.md "generalized banding"): probes ~6 ns each
#: (1.0G-probe q=1 join at 122k sigs: 6.1 s), banded rows ~1.1 us each
#: (6.7M-row q=3 frame at 40.8k sigs: 8.3 s) — ratio ~180. The RATIO
#: is what the model needs and it is structural (a probe is one
#: in-memory compare; a banded row crosses an exchange twice and a
#: sort), so order-of-magnitude stable across hosts; the crossover it
#: predicts (q=2 pays past ~110k distinct uniform signatures) matched
#: the measured sweep within the noise band.
_BAND_ROW_COST = 180.0


def _banded_frame(
    sigs: DataFrame, bits: int, n_chunks: int, q: int,
    id_col: str, sig_col: str,
) -> DataFrame:
    """(id, sig, chunk_id, chunk_val) band-key frame for the
    GENERALIZED pigeonhole (Norouzi/Punjani/Fleet's multi-index
    Hamming search, the q-of-c form): split the signature into
    `n_chunks` disjoint chunks and emit one key per q-SUBSET of
    chunks, the subset's chunk values packed into a single long
    (disjoint bit ranges, total width < 64 whenever q < n_chunks, so
    the pack is a bijection and equality on the packed long IS
    equality on all q chunks).

    Exactness: <= h differing bits touch <= h chunks, so with
    n_chunks = h + q at least q chunks are untouched — and that
    untouched q-subset is one of the C(n_chunks, q) keys emitted, so
    every true pair shares at least one (chunk_id, chunk_val) key.
    q = 1 degenerates to the classical one-chunk-agrees banding.
    The payoff is CAPACITY: one key's value space grows from
    2^chunk_bits to ~2^(q*chunk_bits), pulling the n^2/bucket-space
    probe law (the r13 ladder's measured exponent 1.49) back toward
    linear at a C(n_chunks, q)-factor replication cost — which is why
    the choice is census-driven (`auto_chunks`), not hardcoded.

    CODEGEN SHAPE (r14, measured): the obvious encoding — one
    explode(array(<C(c,q) packed-value structs>)) — overflows janino's
    64 KB method limit already at 45 combos ("Code grows beyond
    64 KB"), dropping the ENTIRE band/probe stage to interpreted
    evaluation (the 10x ladder rung ran 2x SLOWER than classical
    despite 6x fewer probes). So for q > 1 the frame instead explodes
    a combo-INDEX sequence and packs with q literal-array lookups:
    chunk_val = sum_k element_at(_ch, sel_k[chunk_id]) * mult_k[
    chunk_id] — expression size O(q + n_chunks), independent of the
    combo count, and the disjoint-bit-range multiplies-and-adds are
    exactly the shifts-and-ORs (no carries, no overflow: total packed
    width < 64)."""
    import itertools

    cb = bits // n_chunks
    widths = [cb] * (n_chunks - 1) + [bits - (n_chunks - 1) * cb]
    vals = []
    for j in range(n_chunks):
        lo = j * cb
        # shiftright is arithmetic (sign-filling) — the mask makes the
        # extracted chunk sign-safe at any position incl. the top bits
        vals.append(
            F.shiftright(F.col(sig_col), lo)
            .bitwiseAND(F.lit((1 << widths[j]) - 1))
        )
    if q == 1:
        structs = [
            F.struct(F.lit(j).alias("chunk_id"), vals[j].alias("chunk_val"))
            for j in range(n_chunks)
        ]
        return sigs.select(
            F.col(id_col), F.col(sig_col),
            F.explode(F.array(*structs)).alias("c"),
        ).select(
            id_col, sig_col, F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.chunk_val").alias("chunk_val"),
        )
    combos = list(itertools.combinations(range(n_chunks), q))
    # per-position literal tables: sel_k[i] = 1-based chunk index of
    # the k-th member of combo i; mult_k[i] = 2^(sum of widths of the
    # earlier members) — the pack offset as a multiplier (shiftleft
    # takes only literal shift amounts)
    sel_lits, mult_lits = [], []
    for k in range(q):
        sel_lits.append(
            F.array(*[F.lit(combo[k] + 1) for combo in combos])
        )
        mult_lits.append(
            F.array(*[
                F.lit(1 << sum(widths[j] for j in combo[:k])).cast("long")
                for combo in combos
            ])
        )
    cid = F.col("chunk_id")
    packed = None
    for k in range(q):
        term = (
            F.element_at(F.col("_ch"), F.element_at(sel_lits[k], cid + 1))
            * F.element_at(mult_lits[k], cid + 1)
        )
        packed = term if packed is None else packed + term
    return sigs.select(
        F.col(id_col), F.col(sig_col), F.array(*vals).alias("_ch"),
        F.explode(F.sequence(F.lit(0), F.lit(len(combos) - 1))).alias(
            "chunk_id"
        ),
    ).select(
        id_col, sig_col, "chunk_id", packed.alias("chunk_val")
    )


def _auto_band_chunks(
    sigs: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str,
    sig_col: str,
    _stats: dict | None = None,
) -> int:
    """Census-driven chunk-count selection for `hamming_banded_pairs`
    (the engineered escape from the r13 capacity law): estimate, from
    a deterministic row sample, the candidate-probe volume
    sum(bucket^2) the self-join would run at each admissible
    (n_chunks = max_hamming + q, q) and pick the q minimizing

        cost(q) ~ n * C(n_chunks, q) * _BAND_ROW_COST   (banded rows)
                + (n/s)^2 * sum(occ_s^2)                (probe volume)

    in probe units — `_BAND_ROW_COST` is the measured ~180:1 ratio
    between a shuffled banded row and an in-bucket probe; without it
    the model buys capacity two octaves early (the first 10x ladder
    run chose q=2 at 39k signatures and ran 2x SLOWER than classical).

    Bucket loads scale linearly in corpus size, so the sampled census
    (<= _AUTO_CHUNK_SAMPLE rows, hash-of-(id, sig) selection — no RNG,
    stable across runs) estimates the full-corpus quadratic term with
    the SIGNATURE CORRELATION included — the thing the uniform
    n/2^bits formula gets wrong on perceptual hashes, where mean
    structure concentrates buckets. One tiny aggregate per candidate;
    the loop stops once replication dominates (probe term below the
    build term — larger q only adds rows) or clearly past the minimum."""
    from math import comb

    base = max_hamming + 1
    n = sigs.count()
    if n <= 1:
        return base
    if n > _AUTO_CHUNK_SAMPLE:
        k = -(-n // _AUTO_CHUNK_SAMPLE)
        sample = sigs.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.col(sig_col)), F.lit(k)) == 0
        ).localCheckpoint(eager=True)
        s = sample.count()
        if s < 2:
            return base
    else:
        sample, s = sigs, n
    scale = (float(n) / float(s)) ** 2
    best_c, best_cost = base, None
    trace = []
    q = 1
    while True:
        c = max_hamming + q
        if c > bits or comb(c, q) > _MAX_BAND_COMBOS:
            break
        combos = comb(c, q)
        probes_s = (
            _banded_frame(sample, bits, c, q, id_col, sig_col)
            .groupBy("chunk_id", "chunk_val")
            .agg(F.count("*").alias("_occ"))
            .agg(F.sum(F.col("_occ") * F.col("_occ")))
            .collect()[0][0]
        ) or 0
        build = float(n) * combos * _BAND_ROW_COST
        probe = float(probes_s) * scale
        cost = build + probe
        trace.append((c, q, combos, int(probe), cost))
        if best_cost is None or cost < best_cost:
            best_c, best_cost = c, cost
        elif cost > 1.5 * best_cost:
            break  # replication now dominates; cost is rising for good
        if probe <= build:
            break  # probes already sub-build: more chunks only add rows
        q += 1
    if _stats is not None:
        _stats["auto_trace"] = trace
        _stats["n_sigs"] = n
        _stats["census_rows"] = s
    return best_c


def hamming_banded_pairs(
    sigs: DataFrame,
    bits: int,
    max_hamming: int,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_bucket: int | None = None,
    n_chunks: int | None = None,
    auto_chunks: bool = False,
    _stats: dict | None = None,
) -> DataFrame:
    """EXACT Hamming-distance pair join over any (id, signature)
    frame — the pigeonhole band machinery `simhash_near_dups` is built
    on, factored out so every bit-signature family (SimHash, the media
    perceptual hashes) shares one candidate generator: split the
    signature into chunks, self-join on band-key equality (lossless —
    see `_banded_frame` for the generalized q-of-c pigeonhole),
    verify with bit_count(XOR). Output (doc_a, doc_b, hamming).
    Supports the full signed 64-bit width (`bits=64`) a 64-block
    perceptual hash occupies: the masked shiftright chunks are
    sign-safe at every position. `max_bucket` is the skew cap
    documented on `simhash_near_dups`.

    CAPACITY (r14 — the engineered escape from the r13 ladder's
    measured law): with the default `n_chunks = max_hamming + 1` the
    total bucket space is ~(h+1) * 2^(bits div (h+1)) (~1.2k buckets
    for 64-bit signatures at h=8), so once distinct signatures far
    exceed it, probe volume grows ~n^2/buckets (measured exponent
    1.49 on the 90x media ladder). `n_chunks = h + q` (q >= 2) bands
    on q-chunk COMBINATIONS instead: recall stays exactly 1.0 by the
    same pigeonhole, one key's value space grows to ~2^(q*chunk_bits),
    at a C(n_chunks, q)-factor replication cost. `auto_chunks=True`
    picks n_chunks from a sampled occupancy census of THIS corpus
    (`_auto_band_chunks`) — small corpora keep q=1, saturated corpora
    buy capacity with replication. Explicit `n_chunks` pins the choice.

    PARALLELISM CAVEAT (r13, measured): the self-join's work is
    ~sum(bucket_occupancy^2) candidate probes — orders of magnitude
    larger than the input byte size AQE plans by. If the input frame
    arrives AQE-coalesced (or checkpointed) into few partitions, the
    whole probe runs on few cores: a 132k-row signature frame frozen
    at ONE partition ran its 1.5B-probe join as a single task (462 s
    vs 1.5 s repartitioned). Repartition small signature frames to
    the session's shuffle parallelism before calling (see
    `media_phash_dup_clusters`)."""
    from math import comb

    if not 1 <= bits <= 64:
        raise ValueError(f"bits must be in [1, 64], got {bits}")
    if max_hamming < 0:
        # -1 would divide by zero below; <= -2 would band NOTHING and
        # read as "no duplicates found" — a sign bug must be loud
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")
    if bits // (max_hamming + 1) == 0:
        raise ValueError(f"bits={bits} too small for max_hamming={max_hamming}")
    if auto_chunks and n_chunks is not None:
        raise ValueError("n_chunks and auto_chunks are mutually exclusive")
    if auto_chunks:
        n_chunks = _auto_band_chunks(
            sigs, bits, max_hamming, id_col, sig_col, _stats=_stats
        )
    chunks = n_chunks if n_chunks is not None else max_hamming + 1
    q = chunks - max_hamming
    if q < 1:
        raise ValueError(
            f"n_chunks={chunks} must be > max_hamming={max_hamming} "
            "(the pigeonhole needs at least one untouched chunk)"
        )
    if chunks > bits:
        raise ValueError(f"n_chunks={chunks} exceeds bits={bits}")
    if comb(chunks, q) > _MAX_BAND_COMBOS:
        raise ValueError(
            f"n_chunks={chunks} at max_hamming={max_hamming} emits "
            f"{comb(chunks, q)} band keys per signature "
            f"(cap {_MAX_BAND_COMBOS})"
        )
    if bits == 64 and chunks == 1:
        raise ValueError(
            "bits=64 with max_hamming=0 is an exact-equality join on the "
            "full signature — group by the signature instead"
        )
    if _stats is not None:
        _stats["n_chunks"] = chunks
        _stats["q"] = q
        _stats["combos"] = comb(chunks, q)
    banded = _banded_frame(sigs, bits, chunks, q, id_col, sig_col)
    if max_bucket is not None:
        # MATERIALIZE the occupancy aggregate once (r14, ADVICE): the
        # warning stats below collect it eagerly and the executed plan
        # filters it again for the oversized anti-join — unmaterialized,
        # the banded explode+groupBy runs TWICE, doubling candidate-
        # generation cost in exactly the capped corpus-scale regime the
        # cap targets. localCheckpoint (not persist) so the blocks are
        # ContextCleaner-freed once the returned plan drops its
        # reference, per the bpe_fit anchor discipline.
        occ = (
            banded.groupBy("chunk_id", "chunk_val")
            .agg(F.count("*").alias("_occ"))
            .localCheckpoint(eager=True)
        )
        # VALIDITY check, not just a cap (r13, measured in the phash
        # recall ladder, docs/SCALING.md): the cap is a SKEW skimmer —
        # it preserves recall only while the corpus is small enough
        # that a TYPICAL bucket stays under it (n << max_bucket *
        # 2^chunk_bits). Once the MEAN bucket load passes the cap,
        # the anti-join drops the BULK of the corpus and recall
        # silently collapses (measured: 0.67 at 53k rows, 0.01 at
        # 476k rows for 7-bit chunks with max_bucket=256 — and a
        # better-decorrelated signature makes it WORSE, because
        # uniform spreading pushes every bucket over the cap). Warn
        # loudly instead of letting that pass as "deduped clean".
        tot = occ.agg(
            F.count("*").alias("nb"),
            F.sum(F.when(F.col("_occ") > max_bucket, 1).otherwise(0))
            .alias("nover"),
        ).collect()[0]
        if tot["nb"] and tot["nover"] / tot["nb"] > 0.2:
            import warnings

            warnings.warn(
                f"hamming_banded_pairs(max_bucket={max_bucket}): "
                f"{tot['nover']} of {tot['nb']} occupied chunk buckets "
                "exceed the cap — the corpus is past the cap's skew "
                "regime (n ~> max_bucket * 2^chunk_bits) and recall "
                "will collapse, not degrade. Lower max_hamming (wider "
                "chunks), group exact-equal signatures first, raise "
                "max_bucket, or run uncapped.",
                RuntimeWarning,
                stacklevel=3,
            )
        oversized = occ.filter(F.col("_occ") > max_bucket).select(
            "chunk_id", "chunk_val"
        )
        banded = banded.join(
            F.broadcast(oversized), ["chunk_id", "chunk_val"], "left_anti"
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.bit_count(
                F.col(f"a.{sig_col}").bitwiseXOR(F.col(f"b.{sig_col}"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-dedup semantic deduplication
# ---------------------------------------------------------------------------


def _semdedup_side(
    asgn: DataFrame, role: str, id_col: str, vec_col: str,
    origin: str | None = None,
) -> DataFrame:
    """Project a cell assignment into one side of the duel join:
    (id_<role>, v<role>, n<role>, cell key, csim_<role>) — the 'b'
    side renames its cell key so the equi-join condition can name both
    sides, and optionally carries an `origin_b` tag."""
    cols = [
        F.col(id_col).alias(f"id_{role}"),
        F.col(vec_col).alias(f"v{role}"),
        F.col("vec_norm").alias(f"n{role}"),
        F.col("cell_id").alias("cell_id" if role == "a" else "_cell_b"),
        F.col("centroid_sim").alias(f"csim_{role}"),
    ]
    if origin is not None:
        cols.append(F.lit(origin).alias("origin_b"))
    return asgn.select(*cols)


def _semdedup_duel(
    a: DataFrame, b: DataFrame, join_cond, threshold: float, tie_drop,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Score same-cell candidate pairs and apply the SemDeDup keep
    rule. ONE implementation of the rule — the batch/full variants
    differ only in `tie_drop`, the Column naming the loser when the
    6-dp-rounded centroid similarities tie (so a future change to the
    scoring or the duel applies to both by construction).

    A NULL centroid similarity (a zero-norm member, or a degenerate
    zero-norm CENTROID — possible when the smallest-id seed vector is
    all zeros, found by the hypothesis suite) ranks as -2.0 in the
    duel: below every real cosine, i.e. "farthest from the centroid",
    so the direction-less member is the one KEPT — the same
    NULL-orders-last convention `safe_cosine` establishes for every
    ranking consumer. Two NULLs compare equal and fall to the id tie
    rule. The output csim columns stay NULL (honest); only the
    comparison coalesces."""
    from flink_etl_spark.functions.vectors import dot, safe_cosine

    ca = F.coalesce(F.col("csim_a"), F.lit(-2.0))
    cb = F.coalesce(F.col("csim_b"), F.lit(-2.0))
    return (
        a.join(b, join_cond)
        .withColumn(
            "cos_sim",
            F.round(safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("cos_sim") >= threshold)
        .withColumn(
            "drop_id",
            F.when(ca > cb, F.col("id_a"))
            .when(cb > ca, F.col("id_b"))
            .otherwise(tie_drop),
        )
        .select(
            "cell_id", "id_a", "id_b", "cos_sim",
            "csim_a", "csim_b", *extra_cols, "drop_id",
        )
    )


def semdedup_pairs(
    embs: DataFrame,
    threshold: float = 0.35,
    n_cells: int | str = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
    quantizer: str = "flat",
) -> DataFrame:
    """Within-cluster cosine near-dup pairs — the candidate stage of
    SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding space coarsely, then compare ONLY vectors that share a
    cluster. The pair space shrinks from O(n^2) to sum_c |cell_c|^2.

    `quantizer` picks the assignment architecture and the meaning of
    `n_cells="auto"`:

    * "flat" (default, the oracle-gated arm) — one broadcast sweep
      over all centroids; auto = the flat cost optimum
      k* = sqrt(cost_ratio * n) (`knobs.semdedup_auto_cells`),
      O(n^1.5) total;
    * "two_level" — hierarchical assignment
      (`similarity.ivf_assign_two_level`: ~2*sqrt(k) sims per vector),
      auto = k* = (cost_ratio * n)^(2/3)
      (`knobs.semdedup_auto_cells_two_level`), O(n^(4/3)) total — the
      100 TB setting;
    * "auto" — size-based pick (`knobs.semdedup_auto_quantizer`,
      measured crossover ~8k vectors): flat below, two_level above.
      The production default for callers who don't know their corpus
      scale a priori. The two quantizers partition the space
      DIFFERENTLY (coarse-cell-refined vs global nearest-seed), so
      pair sets can differ at cell boundaries; every correctness
      property (pairs subset of exact with identical scores, duel
      rule, survivor guarantee) holds for any partition and is
      hypothesis-tested for both.

    Output: (cell_id, id_a, id_b, cos_sim, csim_a, csim_b, drop_id)
    for every same-cell pair with cos_sim >= threshold, id_a < id_b.
    `csim_*` is each side's rounded cosine to the shared (final)
    centroid; `drop_id` applies the SemDeDup keep rule per pair — the
    member CLOSER to the centroid is the duplicate to drop (the paper
    keeps low-centroid-similarity examples as the less prototypical
    ones), ties dropping the larger id. All comparisons use
    6-dp-rounded similarities, so the decision is reproducible across
    engines.
    """
    from flink_etl_spark.operators.knobs import (
        resolve_knob,
        semdedup_auto_cells,
        semdedup_auto_cells_two_level,
        semdedup_auto_quantizer,
    )
    from flink_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        ivf_centroids,
    )

    if quantizer not in ("flat", "two_level", "auto"):
        raise ValueError(
            "quantizer must be 'flat', 'two_level' or 'auto', "
            f"got {quantizer!r}"
        )
    if quantizer == "auto":
        # one column-pruned count picks the arm AND feeds the cell knob
        # (resolve_knob reuses n_vecs, so "auto" costs a single count)
        if n_vecs is None:
            n_vecs = embs.count()
        quantizer = semdedup_auto_quantizer(n_vecs)
    # spread an under-split input before the per-vector assignment
    # math; the centroids and the assignment then read one exchange
    embs = _spread_anchored(embs.select(id_col, vec_col))
    # persisted for the same reason as the minhash profile: the
    # assignment (windows + the centroid sweep) feeds BOTH sides of
    # the within-cell self-join, and Spark does not reuse the exchange
    # across the sides' differing aliases — without the cache the
    # sweep runs twice (measured: -40% end-to-end at 10x sf0.1).
    # The cache is keyed on the logical plan and lives until evicted;
    # long-lived sessions should spark.catalog.clearCache() between
    # corpora (bench.py does).
    if quantizer == "two_level":
        n_cells = resolve_knob(
            n_cells, semdedup_auto_cells_two_level, embs, n_vecs
        )
        asgn = ivf_assign_two_level(
            embs, n_cells, id_col, vec_col, keep_sim=True
        ).persist()
    else:
        n_cells = resolve_knob(n_cells, semdedup_auto_cells, embs, n_vecs)
        cents = ivf_centroids(embs, n_cells, id_col, vec_col)
        asgn = ivf_assign(
            embs, cents, 1, id_col, vec_col, keep_sim=True
        ).persist()
    return _semdedup_duel(
        _semdedup_side(asgn, "a", id_col, vec_col),
        _semdedup_side(asgn, "b", id_col, vec_col),
        (F.col("cell_id") == F.col("_cell_b")) & (F.col("id_a") < F.col("id_b")),
        threshold,
        tie_drop=F.col("id_b"),
    )


def semdedup(
    embs: DataFrame,
    threshold: float = 0.35,
    n_cells: int | str = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
    quantizer: str = "flat",
) -> DataFrame:
    """SemDeDup keeper set: the input minus every vector that loses at
    least one within-cluster duel (`semdedup_pairs.drop_id`).

    At least one member of every duplicate cluster always survives:
    the member minimal under (rounded centroid_sim, id) never loses a
    duel — lower centroid similarity wins outright, and on a rounded
    tie the smaller id wins — so the rule can thin a clique but never
    erase it. The pairwise-duel formulation is deliberately
    join-expressible (no iterative component pass); it drops a
    superset of the paper's one-keeper-per-cluster rule's keepers only
    in the direction of keeping MORE: a chain a-b-c where a-c is below
    threshold can keep both endpoints where per-component keep-one
    would keep just one — compose with `duplicate_clusters` when exact
    one-per-component semantics is required.

    Plan: pairs (one corpus shuffle by cell) -> distinct drop ids ->
    one left-anti join against the corpus. Nothing quadratic, nothing
    driver-side."""
    pairs = semdedup_pairs(
        embs, threshold, n_cells, id_col, vec_col, n_vecs, quantizer
    )
    losers = pairs.select(F.col("drop_id").alias(id_col)).distinct()
    return embs.join(losers, id_col, "left_anti")


def semdedup_incremental(
    spark,
    new_embs: DataFrame,
    index_path: str,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    append: bool = False,
) -> DataFrame:
    """Incremental SemDeDup: dedup a NEW batch of vectors against a
    staged IVF index (`similarity.ivf_build_index`) plus itself,
    without ever re-assigning the staged corpus — the daily-batch
    embedding-dedup shape, the vector twin of
    `minhash_near_dups_incremental`.

    The batch is assigned with the index's FROZEN centroids (new cells
    are never invented — assignment stays comparable across batches),
    then:

    * batch-vs-staged pairs: the staged side is read from the
      `cell_id=` partitioned layout with the batch's touched cells
      broadcast — partition pruning makes the scan nprobe-of-index,
      not corpus-sized;
    * batch-vs-batch pairs: the within-cell self-join of the batch
      alone (staged-staged pairs were settled when the index was
      built — never re-emitted, exactly like the minhash incremental).

    Output: (cell_id, id_a, id_b, cos_sim, csim_a, csim_b, origin_b,
    drop_id) with `origin_b` in ('staged', 'batch'); `id_a` is always
    the batch vector. The duel keeps the member FARTHER from the
    centroid (the SemDeDup rule); a rounded TIE drops the batch side
    against staged (an already-kept corpus vector is never condemned
    by a tie) and the larger id within the batch. A verdict of
    dropping a STAGED vector is reported but never applied to the
    index — staged data is immutable here; rebuild the index to
    compact it.

    `append=True` also appends the batch's SURVIVORS (batch vectors
    dropped by no duel) into the index's cell layout (dynamic
    partition append), so tomorrow's batch dedups against today's
    keepers. Older indexes built before `centroid_sim` was stored get
    it recomputed on the fly from the staged centroids (one broadcast
    join over the pruned cells).

    Ids must be globally unique across the corpus and every batch. A
    REPLAYED batch (same ids, append already ran) converges: each
    vector pairs with its own staged twin at cos 1.0 and the rounded
    tie drops the batch side, so nothing is appended twice.

    Caching contract (same as `semdedup_pairs` / the minhash profile):
    the batch assignment — and in append mode the returned pairs,
    which must stay pinned to the PRE-append file set — are persisted;
    caches are keyed on the logical plan and live until evicted, so
    long-lived sessions should `spark.catalog.clearCache()` between
    corpora. The batch cache is released before returning when
    `append=True` (its last consumer is the survivor write)."""
    from flink_etl_spark.functions.vectors import dot, safe_cosine
    from flink_etl_spark.operators.similarity import ivf_assign

    cents = spark.read.parquet(f"{index_path}/centroids")
    # dimension guard (the minhash incremental's meta-sidecar analogue):
    # a batch from a different embedding model would NULL every dot
    # product (zip_with pads), silently yield zero pairs, and — with
    # append — poison the index with foreign-dimension vectors. Both
    # guards are AGGREGATES over the full table, not a first-row sample:
    # a batch with mixed dimensions past row one must fail just as
    # loudly as a uniformly-wrong one.
    cstat = cents.agg(
        F.count("*").alias("n"),
        F.countDistinct(F.size("centroid")).alias("ndim"),
        F.min(F.size("centroid")).alias("dim"),
    ).first()
    if cstat["n"] == 0:
        raise ValueError(
            f"semdedup_incremental: the centroids table at "
            f"{index_path}/centroids is empty — the index was never "
            f"built (ivf_build_index) or its write was interrupted"
        )
    if cstat["ndim"] != 1:
        raise ValueError(
            f"semdedup_incremental: index at {index_path} holds "
            f"centroids of {cstat['ndim']} different dimensions — "
            f"corrupt index, rebuild it"
        )
    cent_dim = cstat["dim"]
    bstat = new_embs.agg(
        F.countDistinct(F.size(vec_col)).alias("ndim"),
        F.min(F.size(vec_col)).alias("dim"),
    ).first()
    if bstat["ndim"] > 1 or (bstat["ndim"] == 1 and bstat["dim"] != cent_dim):
        raise ValueError(
            f"semdedup_incremental: batch embedding dimensions "
            f"(min {bstat['dim']}, {bstat['ndim']} distinct) != index "
            f"dimension {cent_dim} — the batch mixes or mismatches the "
            f"embedding model of the index at {index_path}; rebuild the "
            f"index or fix the batch"
        )
    # mergeSchema: a legacy (pre-centroid_sim) index, or one a legacy
    # append already mixed, must surface the column deterministically
    # (a plain read infers the schema from an arbitrary file footer);
    # rows missing the stored value get it recomputed below, so every
    # layout generation duels with a real similarity
    cells = spark.read.option("mergeSchema", "true").parquet(
        f"{index_path}/cells"
    )
    batch = ivf_assign(
        new_embs, cents, 1, id_col, vec_col, keep_sim=True
    ).persist()

    if "centroid_sim" not in cells.columns:
        cells = cells.withColumn(
            "centroid_sim", F.lit(None).cast("double")
        )
    cells = (
        cells.join(F.broadcast(cents), "cell_id")
        .withColumn(
            "centroid_sim",
            F.coalesce(
                F.col("centroid_sim"),
                F.round(
                    safe_cosine(
                        dot(vec_col, "centroid"),
                        F.col("vec_norm"),
                        F.col("centroid_norm"),
                    ),
                    6,
                ),
            ),
        )
        .drop("centroid", "centroid_norm")
    )

    a = _semdedup_side(batch, "a", id_col, vec_col)
    touched = batch.select("cell_id").distinct()
    staged_side = _semdedup_side(
        cells.join(F.broadcast(touched), "cell_id"),
        "b", id_col, vec_col, origin="staged",
    )
    batch_side = _semdedup_side(batch, "b", id_col, vec_col, origin="batch")
    b = staged_side.unionByName(batch_side)
    # staged pairs: every batch-staged collision (incl. equal ids on
    # replay); batch pairs: id_a < id_b only
    cond = (F.col("cell_id") == F.col("_cell_b")) & (
        (F.col("origin_b") == "staged") | (F.col("id_a") < F.col("id_b"))
    )
    # rounded tie: batch loses to staged; larger id loses in-batch
    tie = F.when(F.col("origin_b") == "staged", F.col("id_a")).otherwise(
        F.col("id_b")
    )
    pairs = _semdedup_duel(
        a, b, cond, threshold, tie_drop=tie, extra_cols=("origin_b",)
    )
    if append:
        # materialize pairs BEFORE the append: `cells` is a lazy file
        # scan, so an un-pinned `pairs` evaluated after the write would
        # see the just-appended batch rows as staged (every survivor
        # would self-pair at cos 1.0). persist + count pins the
        # pre-append result set.
        pairs = pairs.persist()
        pairs.count()
        losers = (
            pairs.filter(F.col("drop_id") == F.col("id_a"))
            .select(F.col("id_a").alias(id_col))
            .union(
                pairs.filter(
                    (F.col("origin_b") == "batch")
                    & (F.col("drop_id") == F.col("id_b"))
                ).select(F.col("id_b").alias(id_col))
            )
            .distinct()
        )
        survivors = batch.join(losers, id_col, "left_anti")
        (
            survivors.select(
                id_col, vec_col, "vec_norm", "cell_id", "centroid_sim"
            )
            .write.mode("append")
            .partitionBy("cell_id")
            .parquet(f"{index_path}/cells")
        )
        # the batch assignment served its last consumer (the append);
        # `pairs` stays cached — it IS the returned result, and
        # uncaching it would recompute against the post-append files
        # (the exact self-pair bug the pin prevents)
        batch.unpersist()
    return pairs
