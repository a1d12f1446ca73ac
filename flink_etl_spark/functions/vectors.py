"""Vector column expressions over ARRAY<FLOAT> embedding columns.

All math is forced to DOUBLE and summed sequentially (left-to-right
array order) inside the JVM via higher-order functions — no Python UDFs
in the hot path, and deterministic enough to hash-match an oracle that
does the same (rounding applied at the query edge, never mid-pipeline).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def to_double(col: Column | str) -> Column:
    """ARRAY<FLOAT> -> ARRAY<DOUBLE>, so all downstream arithmetic is
    double-precision (float accumulation drifts too much to oracle)."""
    return F.transform(_c(col), lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential dot product: aggregate(zip_with(a,b,*), 0.0, +)."""
    prods = F.zip_with(
        to_double(a), to_double(b), lambda x, y: x * y
    )
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def safe_cosine(dot_col: Column, na: Column, nb: Column) -> Column:
    """dot/(na*nb) with a zero-norm guard: the result is NULL, never
    NaN, when either norm is zero. The guard is load-bearing for every
    consumer: Spark orders NaN ABOVE all doubles, so an unguarded
    zero-norm vector (in-domain — `l2_normalize` passes them through)
    would rank FIRST in every cosine top-k and satisfy every
    `cos_sim >= threshold` near-dup filter (NaN >= x is true). NULL
    does the right thing in both: desc ordering puts nulls last, and
    NULL >= threshold filters false."""
    denom = na * nb
    return F.when(denom != F.lit(0.0), dot_col / denom)


def l2_normalize(a: Column | str) -> Column:
    """Unit-normalize an embedding (zero vectors pass through unchanged
    rather than dividing by zero)."""
    n = norm(a)
    return F.when(
        n == 0, to_double(a)
    ).otherwise(F.transform(to_double(a), lambda x: x / n))


def duckdb_dot(a: str, b: str) -> str:
    """The oracle-side twin of `dot` (same order, same precision)."""
    return (
        f"list_sum(list_transform(list_zip({a}::DOUBLE[], {b}::DOUBLE[]),"
        f" p -> p[1] * p[2]))"
    )


def duckdb_cosine(a: str, b: str) -> str:
    return (
        f"({duckdb_dot(a, b)} / "
        f"(sqrt({duckdb_dot(a, a)}) * sqrt({duckdb_dot(b, b)})))"
    )


# ---------------------------------------------------------------------------
# int8 quantization — the 4x storage/bandwidth lever for 100 TB embedding
# corpora (symmetric absmax scheme, the public standard from the LLM.int8 /
# GPTQ lineage reduced to its engine-side core)
# ---------------------------------------------------------------------------


def quantize_scale(a: Column | str) -> Column:
    """Per-vector symmetric absmax scale: max(|v|)/127 as DOUBLE.

    One array_max over exact float-to-double casts and a single
    division — deterministic and bit-identical across engines (no
    accumulation)."""
    return (
        F.array_max(F.transform(to_double(a), F.abs)) / F.lit(127.0)
    ).cast("double")


def quantize_int8(a: Column | str, scale: Column) -> Column:
    """Symmetric int8 quantization: clamp(floor(v/scale + 0.5), -127, 127)
    as ARRAY<INT> (int, not tinyint: Arrow/pandas round-trips of tinyint
    arrays are lossy in some consumers; the VALUES are int8-range).

    floor(x + 0.5), NOT round(): engine round() implementations disagree
    on exact-half edges (same reason catalog/pipeline.py sums integers),
    while floor is IEEE-exact everywhere. Zero-scale (all-zero vector)
    quantizes to all zeros."""
    da = to_double(a)
    return F.when(
        scale == F.lit(0.0),
        F.transform(da, lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            da,
            lambda x: F.greatest(
                F.lit(-127),
                F.least(F.lit(127), F.floor(x / scale + F.lit(0.5)).cast("int")),
            ),
        )
    ).cast("array<int>")


def dequant_max_abs_err(a: Column | str, q: Column, scale: Column) -> Column:
    """max_i |v_i - q_i * scale| — elementwise (no accumulation), so the
    value is bit-identical in any engine; bounded by scale/2 except for
    clamped elements (|v| beyond 127*scale never happens under absmax)."""
    errs = F.zip_with(
        to_double(a), q, lambda v, qi: F.abs(v - qi.cast("double") * scale)
    )
    return F.array_max(errs)


def duckdb_quantize(a: str) -> dict[str, str]:
    """Oracle twins for the quantization family over a FLOAT[] column
    SQL expression: scale, the quantized INT list, max-abs
    reconstruction error, and exact integer summaries (sum_q /
    sum_abs_q / n_clipped) that make the scheme hashable without
    emitting list cells into a gate."""
    da = f"{a}::DOUBLE[]"
    scale = f"(list_max(list_transform({da}, x -> abs(x))) / 127.0)"
    q = (
        f"(CASE WHEN {scale} = 0 THEN list_transform({da}, x -> 0) "
        f"ELSE list_transform({da}, x -> CAST(greatest(-127, least(127, "
        f"floor(x / {scale} + 0.5))) AS INTEGER)) END)"
    )
    return {
        "scale": scale,
        "q": q,
        "max_abs_err": (
            f"list_max(list_transform(list_zip({da}, {q}), "
            f"p -> abs(p[1] - CAST(p[2] AS DOUBLE) * {scale})))"
        ),
        # coalesce: DuckDB list_sum([]) is NULL where Spark's
        # zero-seeded aggregate yields 0 — a zero-length embedding must
        # give 0 on both sides (same divergence class the
        # text_bpe_pretokens oracle fixed)
        "sum_q": f"CAST(coalesce(list_sum({q}), 0) AS BIGINT)",
        "sum_abs_q": (
            f"CAST(coalesce(list_sum(list_transform({q}, x -> abs(x))), 0)"
            " AS BIGINT)"
        ),
        "n_clipped": (
            f"CAST(len(list_filter({q}, x -> abs(x) = 127)) AS BIGINT)"
        ),
    }
