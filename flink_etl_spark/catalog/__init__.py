"""Query catalog: every engine capability exposed as a
(Spark implementation, DuckDB oracle SQL) pair for the correctness gate.

Determinism rules (so order-insensitive value-hash comparison works):
* no raw nano-precision timestamps in outputs — truncate to ms or emit
  epoch-millis longs
* doubles either pass through untouched (bit-identical in both engines)
  or are rounded AFTER aggregation with matching `round(x, n)`
* `round(sum(x), k)` is only safe when the TRUE sum lies on the
  k-decimal grid (x is <= k-decimal-exact) — then fp error rounds back
  to the grid on both sides. Rounding to FEWER decimals than the data
  (round-2 of a 4/6-decimal product sum) or any rounded avg() is a
  float-addition-order lottery: use `exact_decimal_sum`/`_avg`
  (integer sums, one division, no round) instead
* `round(a/b, k)` of an integer quotient is ALSO a lottery even
  per-row: a/b lands on exact k-decimal halves for whole families of
  b (empirically: Spark's BigDecimal HALF_UP and DuckDB's fp round
  disagree on ~0.5% of such halves). Emit quotients via
  `operators.text.micro_floor_ratio` / `duckdb_micro_floor_ratio`
  (exact integer product, one division, floor — no half-edge exists)
  or the exact_decimal helpers
* every window/rank has a total ordering (explicit tie-breakers)
* column names aliased identically in Spark and SQL
* a NULLABLE integer column must stay within 2^53: union-variant pads
  make a BIGINT column nullable, nullable int64 becomes float64 in
  pandas, and the engines' int64->float64 conversions disagree beyond
  2^53 (Spark/Arrow rounds to nearest, DuckDB's .df() truncates —
  observed as a 4-ulp phash mismatch). Full-width hashes travel as
  decimal VARCHAR in gates (`media_decode_features` ahash/dhash)
* PINNED-SEQUENCE arms need an INDEPENDENT value test: when a gate's
  oracle replicates the operator's exact formula (pinned IEEE op
  order, mirrored constants), the driver's hash match only proves the
  two engines AGREE — both stay green on a wrong shared formula (the
  r12 grouped-fit intercept dropped a per-day 86400 factor and every
  gate stayed green). RULE: no mirrored-formula arm ships without at
  least one test whose expected values are derived OUTSIDE the shared
  formula (hand computation, exact rational arithmetic, a pure-Python
  reference implementation, a published example). Current anchors:
  grouped fit (`test_grouped_linear_fit_hand_computed_intercept`),
  decoder mean/var
  (`test_media_decode_feature_values_independently_derived`), BM25 /
  A-ES / DSIR / BPE / phash / DCT-phash reference tests in
  tests/test_extensions.py and tests/test_prep.py
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_etl_spark.functions.sql import ident, utc_instant
from flink_etl_spark.sources.tables import load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

#: name -> (spark_fn, oracle_sql | None)
CATALOG: dict[str, tuple[QueryFn, str | None]] = {}

_WORKDIRS: dict[str, str] = {}


def process_workdir(tag: str) -> str:
    """Process-cached scratch dir for gates that stage data (minhash
    profile, IVF index, rollup output): ONE dir per tag, overwritten in
    place on re-invocation, removed at exit. A fresh mkdtemp per call
    accumulated a full staged artifact + an atexit handler every time
    a harness re-built the same query in one session."""
    if tag not in _WORKDIRS:
        import atexit
        import shutil
        import tempfile

        d = tempfile.mkdtemp(prefix=f"gate_{tag.replace('/', '_')}_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        _WORKDIRS[tag] = d
    return _WORKDIRS[tag]


def query(name: str, oracle: str | None):
    """Register a catalog entry. `oracle=None` -> rows-only check (for
    genuinely non-SQL-expressible ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        # a silent overwrite would DROP a correctness gate (import
        # order decides which module's entry survives) — make name
        # collisions loud at import time
        if name in CATALOG:
            raise ValueError(f"duplicate catalog query name: {name!r}")
        CATALOG[name] = (fn, oracle)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _ts_ms(col: str = "ts") -> F.Column:
    """Epoch millis of an NTZ timestamp read as UTC, whatever the session
    zone: DuckDB's epoch_ms of the same naive value."""
    return F.unix_millis(F.expr(utc_instant(ident(col))))


def exact_decimal_sum(expr: F.Column, decimals: int) -> F.Column:
    """Order-independent aggregate sum of d-decimal-exact doubles (the
    money-ish testdata columns and their short products): scale each
    element to an integer (exact — elements are d-decimal by
    construction, so round() never sees a half-edge), sum as BIGINT
    (associative, no float addition order), divide back ONCE.

    A naive round(sum(x), k) can flip its last digit between Spark and
    the oracle: the engines sum in different orders, and round() itself
    disagrees on exact-half inputs — a per-testdata-regeneration
    lottery on every large-group rounded sum. The integer sum removes
    both hazards; the single division produces the same IEEE double in
    any engine.

    Overflow is LOUD on every path, never a silent wrap: the result is
    NULL unless count * max|scaled| < 2^62, inside which no long sum
    can wrap — a loud gate/consumer mismatch, and under ANSI mode the
    overflowing cast or sum may raise first. The guard is the same
    plan whatever the session's ANSI setting, so a frame built under
    one setting and run under the other keeps it: ANSI off, the
    element cast SATURATES (1e36 reads as 2^63 - 1, a plausible
    number to a bare sum or try_sum) and only the max|scaled| factor
    catches it. The long accumulator + guard measured 2x faster than a
    DECIMAL(38,0) accumulator (two extra long aggregates in the same
    pass vs decimal128 arithmetic per row)."""
    scale = 10 ** decimals
    scaled, no_wrap = _scaled_guard(expr, scale)
    return F.when(no_wrap, F.sum(scaled) / F.lit(float(scale)))


def duckdb_exact_decimal_sum(sql: str, decimals: int) -> str:
    """Oracle twin of `exact_decimal_sum`: HUGEINT sum (never wraps at
    these magnitudes), same single division — both engines
    nearest-convert the identical integer to the same double.
    Deliberately UNguarded: if the Spark side ever trips its overflow
    guard to NULL, the gate goes red instead of both sides hiding it."""
    scale = 10 ** decimals
    return f"(sum(CAST(round(({sql}) * {scale}) AS BIGINT)) / {scale}.0)"


def _scaled_guard(expr: F.Column, scale: int) -> tuple[F.Column, F.Column]:
    """Shared by exact_decimal_sum/_avg: the scaled-integer element and
    the wrap guard. Guard product in double — count * max could itself
    wrap in long arithmetic, and abs of a saturated Long.MIN_VALUE
    wraps negative; the conservative fp compare is exact enough at the
    2^62 half-range bound."""
    scaled = F.round(expr * scale).cast("long")
    no_wrap = (
        F.count(expr).cast("double") * F.max(F.abs(scaled.cast("double")))
        < F.lit(float(2 ** 62))
    )
    return scaled, no_wrap


def exact_decimal_avg(expr: F.Column, decimals: int) -> F.Column:
    """Order-independent mean of d-decimal-exact doubles: exact sum,
    ONE division by non_null_count*scale (avg() ignores NULLs — so
    does this; see `exact_decimal_sum` for the overflow guard)."""
    scale = 10 ** decimals
    scaled, no_wrap = _scaled_guard(expr, scale)
    return F.when(
        no_wrap, F.sum(scaled) / (F.count(expr) * F.lit(float(scale)))
    )


def duckdb_exact_decimal_avg(sql: str, decimals: int) -> str:
    scale = 10 ** decimals
    return (
        f"(sum(CAST(round(({sql}) * {scale}) AS BIGINT))"
        f" / (count({sql}) * {scale}.0))"
    )


def load_all() -> None:
    """Import every catalog module for its registration side effects."""
    from flink_etl_spark.catalog import (  # noqa: F401
        cdc,
        dedup,
        multimodal,
        pipeline,
        relational,
        similarity,
        streaming,
        temporal,
        text,
    )


def queries() -> dict[str, QueryFn]:
    load_all()
    return {name: fn for name, (fn, _) in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    load_all()
    return {name: sql.strip() for name, (_, sql) in CATALOG.items() if sql is not None}
