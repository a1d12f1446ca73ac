"""SQL-text literals and identifiers that parse the same under every
session conf.

Building expressions
--------------------
The row-local kernels on the corpus chain (`text.doc_profile`,
`dedup.minhash_profile` / `lsh_candidates` / `minhash_near_dups`,
`prep._substring_anchors` / `_substring_narrow` and the shared helpers
in `functions/hashing.py`) are built as SQL TEXT, not Column trees. A
SQL string and a Column tree lower to the same Catalyst plan, but every
Column node is a py4j round trip while Python builds the frame (a
single doc_profile call was ~2,000 of them); the string is parsed in one.
The rules:

* One SQL string per staged projection (`df.selectExpr(...)`). Keep the
  projection boundaries the kernels already had: CollapseProject keeps
  a boundary only where a non-cheap alias is referenced more than once,
  and that is what stops a tokenizer or a hash fold from being inlined
  into every consumer.
* No conf-dependent literals. Plain integers read the same under every
  conf; every other value and every caller-given column name spliced
  into the text goes through this module. `'...'` string literals are
  reinterpreted by `spark.sql.parser.escapedStringLiterals`, double-
  quoted ones by `spark.sql.ansi.doubleQuotedIdentifiers`, and an
  unsuffixed exponent literal by
  `spark.sql.legacy.exponentLiteralAsDecimal.enabled`.
* The `duckdb_*` oracle twins stay separate, independently written
  references; they never share text with the Spark kernels.
"""

from __future__ import annotations

import math

#: int literals the SQL parser types as INT, as `F.lit` does
_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def ident(name: str) -> str:
    """A column name as a backtick-quoted identifier (embedded backticks
    doubled) — resolves the same name `F.col(name)` does for any plain
    column name, whatever characters it holds."""
    return "`" + name.replace("`", "``") + "`"


def str_lit(s: str) -> str:
    """A STRING literal: plain `'...'` when `s` holds no quote or
    backslash (read identically in both `escapedStringLiterals` modes),
    else `CAST(X'<utf-8 hex>' AS STRING)`, which has no escapes at all.
    Doubled quotes are NOT conf-independent: with escapedStringLiterals
    on, `'it''s'` parses as `it''s`."""
    if "'" not in s and "\\" not in s:
        return f"'{s}'"
    return f"CAST(X'{s.encode('utf-8').hex().upper()}' AS STRING)"


def dbl_text(v: float) -> str:
    """A DOUBLE cast from its shortest round-trip decimal,
    `CAST('<repr>' AS DOUBLE)`: bit-exact (Java's parseDouble is
    correctly rounded) and NULLABLE like every string cast — the typing
    `similarity._local_frame`'s literal frames have always had.
    Non-finite values cast from their names."""
    v = float(v)
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"


def dbl_lit(v: float) -> str:
    """A non-null DOUBLE literal typed as `F.lit(float)` types it,
    bit-exact: repr is the shortest round-trip decimal and the `D`
    suffix makes the parser read it with Java's correctly rounded
    parseDouble (an unsuffixed `0.5` would be a DECIMAL, and an
    unsuffixed exponent is conf-dependent). Non-finite values, which
    have no literal syntax, fall back to `dbl_text`."""
    v = float(v)
    if not math.isfinite(v):
        return dbl_text(v)
    r = repr(v)
    return f"({r}D)" if r.startswith("-") else f"{r}D"


def int_lit(v: int) -> str:
    """An integer literal typed as `F.lit` types it: INT inside the
    32-bit range, BIGINT outside it."""
    v = int(v)
    if _INT_MIN <= v <= _INT_MAX:
        return f"({v})" if v < 0 else str(v)
    return f"CAST({v} AS BIGINT)"


def lit(v) -> str:
    """`F.lit(v)` as SQL text, for None / bool / int / float / str."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return int_lit(v)
    if isinstance(v, float):
        return dbl_lit(v)
    if isinstance(v, str):
        return str_lit(v)
    raise TypeError(f"no SQL literal form for {type(v).__name__}")
