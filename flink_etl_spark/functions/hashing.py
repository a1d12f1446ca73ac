"""Deterministic, engine-portable hashing primitives.

Everything here is plain integer arithmetic expressible identically in
Spark SQL and ANSI/DuckDB SQL — no reliance on either engine's built-in
hash() (Spark murmur3 != DuckDB's hash), so oracle checks can replicate
the exact values.

Production note (100 TB): the char fold keeps sketches
oracle-portable; `xxhash64(shingle)` is the faster swap — the LSH math
is unchanged, only oracle-portability is lost. The affine-permutation
MinHash itself is the standard (a*x + b) mod p construction from
Broder '97 (public literature).
"""

from __future__ import annotations


#: Mersenne prime 2^31-1 — fits in 64-bit products with 31-bit ids
MERSENNE_P = 2_147_483_647

#: fixed affine coefficients (a, b) for up to 16 minhash permutations;
#: arbitrary odd constants < P, hardcoded so oracles can embed them
MINHASH_COEFFS: list[tuple[int, int]] = [
    (1299721, 823117), (2750161, 1299827), (15485863, 32452843),
    (49979687, 67867967), (86028121, 104395301), (122949823, 141650939),
    (160481183, 179424673), (198491317, 217645177), (236887691, 256203161),
    (275604541, 295075147), (314606869, 334214459), (353868013, 373587883),
    (393342739, 413158511), (433024223, 452930459), (472882027, 492876847),
    (512927357, 533000389),
]

#: fixed coefficients for simhash bit hashes (one per bit). The first
#: 16 are MINHASH_COEFFS verbatim (gate results for bits<=16 are pinned
#: to them); bits 16..62 extend deterministically — arithmetic
#: progressions mod the Mersenne prime, forced odd — so a 25k+ doc
#: corpus can use a 32/48/63-bit signature (16 bits birthday-collides
#: around ~300 docs; see docs/SCALING.md stress notes). 63 not 64: bit
#: 63 is the BIGINT sign bit, and the signature must stay a plain
#: positive LONG in both Spark and the DuckDB oracle.
SIMHASH_COEFFS = MINHASH_COEFFS + [
    ((1299721 + 2000003 * j) % MERSENNE_P | 1,
     (823117 + 3000017 * j) % MERSENNE_P | 1)
    for j in range(16, 63)
]


def tokens_sql(text: str) -> str:
    """Whitespace tokenization of the SQL expression `text` — identical
    to `regexp_split_to_array(text, ' +')`. Wrap in `F.expr` where a
    Column is needed; pass column names through `sql.ident`."""
    return f"split({text}, ' +')"


def _doubling_sql(arr: str, k: int, combine, empty_type: str) -> str:
    """The k-wide sliding combine of `arr` by DOUBLING: power-of-two
    runs first (runs[j][p] folds arr[p .. p+2^j-1]), then the binary
    decomposition of k stitched widest run first. `combine(a, b, span)`
    is the SQL text joining a left run with the `span`-wide run after
    it. Empty array when `arr` has < k elements."""
    runs = [arr]
    span = 1
    while span * 2 <= k:
        prev = runs[-1]
        runs.append(
            f"zip_with({prev}, slice({prev}, {1 + span}, "
            f"greatest(size({prev}) - {span}, 0)), "
            f"(a, b) -> {combine('a', 'b', span)})"
        )
        span *= 2
    width = f"size({arr}) - {k - 1}"
    acc = None
    off = 0
    for j in range(len(runs) - 1, -1, -1):
        if not (k >> j) & 1:
            continue
        part = f"slice({runs[j]}, {1 + off}, {width})"
        acc = part if acc is None else (
            f"zip_with({acc}, {part}, (a, b) -> {combine('a', 'b', 1 << j)})"
        )
        off += 1 << j
    return (
        f"CASE WHEN size({arr}) >= {k} THEN {acc} "
        f"ELSE CAST(array() AS {empty_type}) END"
    )


def shingles_sql(tokens: str, k: int = 3) -> str:
    """Token k-shingles of the array<string> SQL expression `tokens`,
    via DOUBLING shifted-slice zips. Empty when the document has < k
    tokens.

    Deliberately avoids per-index `element_at(tokens, i+j)` lambdas:
    CollapseProject re-inlines the tokens expression (e.g. a regex
    split) into EVERY element_at reference — measured ~10x slowdown on
    the shingling scan. The slice form references the token array a
    bounded number of times per row regardless of document length.

    Doubling, not a sequential chain: shingle concatenation is
    associative (S_{L+M}[p] = S_L[p] + ' ' + S_M[p+L]), so k-shingles
    build in O(log k) zip_with nestings from power-of-two runs instead
    of k-1. A sequential chain is fine at n-gram sizes (k=3) but blows
    the analyzer's Resolution iteration cap near k~50 — exactly the
    Lee et al. substring-dedup anchor width — because every nested
    lambda layer costs another resolution pass."""
    return _doubling_sql(
        tokens, k, lambda a, b, span: f"concat_ws(' ', {a}, {b})",
        "ARRAY<STRING>",
    )


def duckdb_shingles(tokens: str, k: int = 3) -> str:
    """Oracle twin of `shingles_sql` (1-based list indexing in DuckDB)."""
    parts = ", ".join(f"{tokens}[i + {j}]" for j in range(k))
    return (
        f"CASE WHEN len({tokens}) >= {k} THEN "
        f"list_transform(range(1, len({tokens}) - {k} + 2), i -> concat_ws(' ', {parts})) "
        f"ELSE [] END"
    )


def token_hashes_sql(tokens_col: str, p: int = MERSENNE_P) -> str:
    """SQL text hashing each token of an array<string> column ONCE:
    `pmod(xxhash64(token), p)`. The production path shared by
    minhash_profile and decontaminate — one hash call per token, no
    shingle strings ever built."""
    return f"transform({tokens_col}, t -> pmod(xxhash64(t), {p}))"


def gram_ids_sql(token_hashes: str, k: int, mult: int = 131,
                 p: int = MERSENNE_P) -> str:
    """Combine the array<bigint> SQL expression `token_hashes` of
    per-token hashes into k-gram term ids via the polynomial fold
    (acc*mult + h) % p over shifted slices — a gram's id from its k
    token hashes without materializing the gram string. Empty array
    when the document has < k tokens. Slice/zip_with form for the same
    CollapseProject reasons as `shingles_sql`.

    Built by DOUBLING like `shingles_sql` (the fold is mod-linear:
    fold_{L+M}[q] = (fold_L[q] * mult^M + fold_M[q+L]) % p), so k~50
    substring-dedup anchors need O(log k) zip_with nestings instead of
    k-1 — a sequential chain trips the analyzer's Resolution iteration
    cap there. VALUE-IDENTICAL to the sequential fold at every k
    (same polynomial mod p; unit-tested), so staged minhash profiles
    and decontamination gram ids are unaffected. Intermediate products
    stay in range: operands < p < 2^31, so a*mult^L + b < 2^62 — no
    bigint overflow under ANSI."""
    return _doubling_sql(
        token_hashes, k,
        lambda a, b, span: f"({a} * {pow(mult, span, p)} + {b}) % {p}",
        "ARRAY<BIGINT>",
    )


def fold_gram_ids_sql(grams_col: str, mult: int = 131,
                      p: int = MERSENNE_P) -> str:
    """SQL text mapping an array<string> of gram strings to their
    char-fold term ids — the oracle-portable arm: a left-to-right
    polynomial fold over character code points, acc = (acc*mult +
    code) % p, seed 0, which DuckDB replicates value-exactly via
    `duckdb_char_fold_hash`.

    Fully parallel (no dictionary, no global sort) and replicable in
    any engine with a list fold, so minhash/simhash stay
    oracle-checkable at unbounded vocabulary. Collision rate ~ n^2/2p
    (birthday) — immaterial for sketching. Characters come from
    `split(s, '')` (one pass) rather than `substring(s, i, 1)` per
    index, which seeks from the string head each call (variable-width
    UTF8) and makes the indexed form quadratic per string; the split
    form measured ~13% faster on the sf0.1 shingle corpus with
    identical values."""
    return (
        f"transform({grams_col}, s -> aggregate(transform(split(s, ''), "
        f"c -> CAST(ascii(c) AS BIGINT)), CAST(0 AS BIGINT), "
        f"(acc, c) -> (acc * {mult} + c) % {p}))"
    )


def duckdb_char_fold_hash(col: str, mult: int = 131, p: int = MERSENNE_P) -> str:
    """Oracle twin of the Spark char fold (`fold_gram_ids_sql`; DuckDB
    list_reduce seeds with the first element, so prepend the 0 seed)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> CAST(ascii(substr({col}, i, 1)) AS BIGINT))), "
        f"(acc, c) -> (acc * {mult} + c) % {p})"
    )
