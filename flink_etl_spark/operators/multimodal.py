"""Multimodal column plumbing: opaque binary media + typed metadata.

Design (extension surface, SURVEY.md §2.12): media travels as a
`BINARY` column with typed metadata columns beside it; decode /
feature-extraction runs as Arrow-batched `mapInPandas` so bytes never
round-trip through Python row-at-a-time.

The decode step itself is STUBBED — the container has no image/audio
codecs — behind `decode_media`, which by default raises
NotImplementedError and with `fake=True` produces a deterministic fake
feature vector from the bytes. The Spark-side plumbing (schema,
partition shape, UDF signature, Arrow batch handling) is real and
tested; swapping the stub for PIL/ffmpeg is a one-function change.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from flink_etl_spark.session import anchor
from flink_etl_spark.sources.tables import rescue_scan_parallelism
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: schema of a decoded-feature record (one per media row)
DECODE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def make_media_table(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Build a media table from documents: payload = utf-8 bytes of the
    text (a deterministic stand-in for image/audio blobs), plus typed
    metadata. Real pipelines read `binaryFile` sources or parquet BINARY
    columns; everything downstream only sees (binary, metadata)."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata pass: sizes and a hex fingerprint prefix of the
    payload — the kind of cheap triage (corrupt/empty/oversized blobs)
    that should never touch Python."""
    hexed = F.lower(F.hex(F.col("payload")))
    return media.select(
        "media_id",
        "mime",
        F.length(F.col("payload")).cast("long").alias("n_bytes"),
        F.substring(hexed, 1, 16).alias("head_hex"),
        F.expr("right(lower(hex(payload)), 8)").alias("tail_hex"),
    )


def decode_media(media: DataFrame, fake: bool = True, batch_hint: int | None = None) -> DataFrame:
    """Decode/feature-extract media via Arrow-batched mapInPandas.

    `fake=True` (tests / codec-less containers): deterministic fake
    decode — width/height derived from byte length, an 8-dim feature
    vector from byte-value moments. `fake=False` decodes with PIL when
    it is importable on the executors (real geometry; the same 8
    moments over the grayscale pixel bytes) and raises
    NotImplementedError otherwise — the arm is real code behind a
    guarded import, exercised by a skip-unless-PIL test the day the
    environment grows a codec.

    Scale: mapInPandas streams Arrow batches per partition — no
    collect, no per-row Python crossing; repartition upstream so one
    batch's blobs fit executor memory (e.g. 64 MB of payload per batch).
    """

    def decode_batches(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        # NOTE: this closure must be fully self-contained (no references
        # to flink_etl_spark module globals): executor Python workers do
        # not have the repo on sys.path when the engine is driven from an
        # external harness, and cloudpickle serializes module-level
        # references by name, not value.
        import math

        import pandas as pd

        def fake_features(payload: bytes) -> list[float]:
            # mean/var come from EXACT integer moments with a pinned
            # IEEE op order and FLOOR-to-6-decimals (never round():
            # Python rounds half-to-even, DuckDB half-away, and a
            # power-of-two payload length lands the mean exactly on a
            # 7th-decimal half — observed as a real 6-doc divergence
            # at sf0.1; floor has no half-edge, and the oracle runs
            # the identical double sequence on the same exact ints)
            if not payload:
                return [0.0] * 8
            n = len(payload)
            total = sum(payload)
            ssq = sum(b * b for b in payload)
            mean = total / n
            var = ssq / n - mean * mean
            return [
                float(n),
                math.floor(mean * 1e6) / 1e6,
                math.floor(var * 1e6) / 1e6,
                float(max(payload)),
                float(min(payload)),
                float(payload[0]),
                float(payload[-1]),
                float(total % 997),
            ]

        for pdf in batches:
            if not fake:
                try:
                    from PIL import Image
                except ImportError as e:
                    raise NotImplementedError(
                        "real media decode requires an image codec (PIL) "
                        "absent from this container; use fake=True for "
                        "plumbing tests"
                    ) from e
                import io

                widths, heights, feats, sizes = [], [], [], []
                for p in pdf["payload"]:
                    b = b"" if p is None else bytes(p)
                    img = Image.open(io.BytesIO(b)).convert("L")
                    widths.append(img.width)
                    heights.append(img.height)
                    feats.append(fake_features(bytes(img.tobytes())))
                    sizes.append(len(b))
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "mime": pdf["mime"],
                        "n_bytes": sizes,
                        "width": widths,
                        "height": heights,
                        "features": feats,
                    }
                )
                continue
            # NULL payloads are in-domain (make_media_table encodes a
            # null text to a null payload): treat as empty — len(None)
            # would TypeError the executor
            payloads = pdf["payload"].map(lambda p: b"" if p is None else bytes(p))
            n_bytes = payloads.map(len)
            out = pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": n_bytes,
                    # deterministic fake geometry from payload size
                    "width": (n_bytes % 640) + 1,
                    "height": (n_bytes % 480) + 1,
                    "features": [fake_features(p) for p in payloads],
                }
            )
            yield out

    return media.mapInPandas(decode_batches, DECODE_SCHEMA)


def sample_frames(
    media: DataFrame,
    frame_size: int = 256,
    stride: int = 4,
) -> DataFrame:
    """Frame sampling as PURE JVM column math — no Python at all: treat
    the payload as fixed-size frames, emit every `stride`-th frame as a
    (media_id, frame_idx, offset, frame_bytes) row via sequence+explode
    and binary substring. The 1->N shape and partition behavior are
    exactly what a real video sampler needs; only pixel DECODING of the
    emitted frames would require a codec (see `decode_media`).

    Scale: output rows = n_frames/stride per blob, produced inside
    whole-stage codegen; no shuffle — sampling is embarrassingly
    parallel per input partition."""
    n_frames = F.greatest(
        (F.length("payload") + F.lit(frame_size - 1)) / F.lit(frame_size), F.lit(1)
    ).cast("long")
    return (
        media.select(
            "media_id",
            "payload",
            F.explode(
                F.sequence(F.lit(0), n_frames - 1, F.lit(stride))
            ).alias("frame_idx"),
        )
        .select(
            "media_id",
            F.col("frame_idx").cast("long").alias("frame_idx"),
            (F.col("frame_idx") * frame_size).cast("long").alias("offset"),
            F.expr(
                f"substring(payload, frame_idx * {frame_size} + 1, {frame_size})"
            ).alias("frame_bytes"),
        )
        .withColumn("n_frame_bytes", F.length("frame_bytes").cast("long"))
    )


#: schema of a resized-media record
RESIZE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("payload", BinaryType()),
    ]
)


def resize_media(
    decoded_media: DataFrame, max_w: int = 224, max_h: int = 224, fake: bool = True
) -> DataFrame:
    """Aspect-preserving downscale to fit (max_w, max_h) via Arrow
    mapInPandas. Geometry math is real; pixel resampling is the codec
    arm (`fake=True` passes the payload through; `fake=False` runs
    PIL's `Image.resize` when PIL is importable — actual pixels
    resampled, payload re-encoded PNG, scale computed from the DECODED
    geometry — and raises NotImplementedError otherwise). Upscaling
    never happens (scale capped at 1.0) — the usual training-data
    convention."""

    def resize_batches(batches: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        # self-contained closure: see decode_batches note
        import pandas as pd

        for pdf in batches:
            if not fake:
                try:
                    from PIL import Image
                except ImportError as e:
                    raise NotImplementedError(
                        "real pixel resampling requires an image codec "
                        "(PIL) absent from this container; use fake=True "
                        "for plumbing tests"
                    ) from e
                import io

                widths, heights, payloads = [], [], []
                for p in pdf["payload"]:
                    img = Image.open(
                        io.BytesIO(b"" if p is None else bytes(p))
                    )
                    s = min(max_w / img.width, max_h / img.height, 1.0)
                    w = max(1, int(img.width * s))
                    h = max(1, int(img.height * s))
                    out = io.BytesIO()
                    img.resize((w, h)).save(out, "PNG")
                    widths.append(w)
                    heights.append(h)
                    payloads.append(out.getvalue())
                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "mime": pdf["mime"],
                        "width": widths,
                        "height": heights,
                        "payload": payloads,
                    }
                )
                continue
            scale = (max_w / pdf["width"]).clip(upper=1.0).combine(
                (max_h / pdf["height"]).clip(upper=1.0), min
            )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "width": (pdf["width"] * scale).astype("int64").clip(lower=1),
                    "height": (pdf["height"] * scale).astype("int64").clip(lower=1),
                    "payload": pdf["payload"],
                }
            )

    return decoded_media.mapInPandas(resize_batches, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# perceptual-hash media dedup (aHash / dHash)
# ---------------------------------------------------------------------------

#: perceptual hashes pool the payload into this many blocks — the
#: classic 8x8 = 64-cell average-hash grid, linearized (the fake
#: decode's "pixel buffer" IS the payload byte sequence)
PHASH_BLOCKS = 64

#: pinned integer 8-point DCT-II kernel, K[u][x] =
#: round(1024 * cos((2x+1) * u * pi / 16)) — PINNED as source literals
#: (never recomputed from libm at runtime) so every engine and the
#: pure-Python reference multiply the exact same integers. Rows u >= 1
#: sum to exactly 0: global brightness cancels out of every AC
#: coefficient by construction, which is what decorrelates the DCT
#: bits where every aHash bit shares the buffer mean.
_DCT_K = (
    (1024, 1024, 1024, 1024, 1024, 1024, 1024, 1024),
    (1004, 851, 569, 200, -200, -569, -851, -1004),
    (946, 392, -392, -946, -946, -392, 392, 946),
    (851, -200, -1004, -569, 569, 1004, 200, -851),
    (724, -724, -724, 724, 724, -724, -724, 724),
    (569, -1004, 200, 851, -851, -200, 1004, -569),
    (392, -946, 946, -392, -392, 946, -946, 392),
    (200, -569, 851, -1004, 1004, -851, 569, -200),
)

#: span means are quantized to integers as (s * 2^20) div c before the
#: DCT — keeps every product exact in int64 on both engines:
#: |m| <= 255 * 2^20 ~ 2.7e8, |KK| <= 1024^2, 64-term sums < 1.8e16
_DCT_MEAN_SCALE = 1_048_576

#: flattened product kernel for the linearized 8x8 grid:
#: _DCT_KK[j][b] = K[u][x] * K[v][y] with (u, v) = divmod(b + 1, 8)
#: (the 63 AC coefficients — DC is skipped) and (x, y) = divmod(j, 8)
_DCT_KK = tuple(
    tuple(
        _DCT_K[(b + 1) // 8][j // 8] * _DCT_K[(b + 1) % 8][j % 8]
        for b in range(63)
    )
    for j in range(64)
)

#: int64-exactness bound on payload size for the perceptual hashes:
#: the bit votes are integer cross-multiplications whose largest
#: product is total * span_len <= (255 * n) * (n / 64 + 1); at
#: n = 1.5e9 that is ~8.97e18, just inside the 9.22e18 int64 range —
#: beyond it Spark (non-ANSI) WRAPS silently and the hash bits go
#: quietly wrong, so the operator raises instead (a 1.5 GB single
#: payload is out of contract for an 8x8 signature anyway)
_PHASH_MAX_BYTES = 1_500_000_000


def _phash_arrow(
    media: DataFrame, id_col: str, payload_col: str, include_dct: bool
) -> DataFrame:
    """Vectorized (numpy-per-batch) twin of the expression hashes —
    §4.2 of the optimization playbook: the expression form walks the
    payload per BYTE through interpreted HOF lambdas (~2 MB/s/core
    measured); this form is vectorized ACROSS ROWS as well as within
    them (one concatenated buffer + cumsum per chunk, the 65 span
    bounds of every row as one 2D fancy-index, one int64 matmul for
    all rows' DCT), so neither per-byte interpretation nor per-row
    Python overhead survives — small-payload corpora were measured
    loop-bound, not byte-bound. Bit-identical to the expression arm
    by the same integer contracts (_PHASH_MAX_BYTES guard raises
    before any product can leave int64; all divisions are
    non-negative floor divisions, where numpy, SQL ``div`` and the
    oracle agree). Pinned equal to the expression arm AND the
    pure-Python reference in
    tests/test_extensions.py::test_phash_arrow_engine_matches_expr.

    Rows are sub-chunked to ~16 MB of payload per numpy pass so the
    transient int64 cumsum (8x the byte count) stays bounded no
    matter how the Arrow batch size is configured; a single payload
    larger than the chunk bound still processes alone (same transient
    the JVM expression form pays for its materialized span arrays).

    The batch fn is SELF-CONTAINED (closes over plain ints/tuples
    only, imports numpy inside) — executors under the external driver
    do not have the repo on sys.path, so nested-closure pickling by
    value is load-bearing (the stateful-closure rule)."""
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = media.schema[id_col]
    fields = [
        StructField(id_field.name, id_field.dataType, id_field.nullable),
        StructField("ahash", LongType()),
        StructField("dhash", LongType()),
    ]
    if include_dct:
        fields.append(StructField("dcthash", LongType()))
    schema = StructType(fields)

    kk_literal = _DCT_KK if include_dct else None
    scale = _DCT_MEAN_SCALE
    maxb = _PHASH_MAX_BYTES
    want_dct = include_dct
    idn = id_field.name
    payn = payload_col

    def hash_batches(batches):
        import numpy as np
        import pandas as pd

        kk = np.array(kk_literal, dtype=np.int64) if want_dct else None
        w63 = np.int64(1) << np.arange(63, dtype=np.int64)
        j65 = np.arange(65, dtype=np.int64)
        chunk_bytes = 16 * 1024 * 1024

        def hash_rows(pays, n):
            # one concatenated buffer for ALL rows of the chunk; every
            # span sum is a difference of two cumsum reads, so the
            # per-row base offset cancels and no per-row loop remains
            off = np.concatenate(([np.int64(0)], np.cumsum(n)))
            buf = np.frombuffer(b"".join(pays), dtype=np.uint8)
            cs = np.concatenate(
                ([np.int64(0)], np.cumsum(buf, dtype=np.int64))
            )
            # R x 65 absolute span bounds: off_i + (j * n_i) div 64.
            # n_i = 0 rows collapse every bound to off_i -> all spans
            # empty -> every comparison below is 0 > 0 -> hash 0,
            # exactly the expression arm's empty/NULL contract.
            bounds = off[:-1, None] + (j65[None, :] * n[:, None]) // 64
            s = cs[bounds[:, 1:]] - cs[bounds[:, :-1]]
            c = bounds[:, 1:] - bounds[:, :-1]
            total = cs[off[1:]] - cs[off[:-1]]
            abits = (s * n[:, None]) > (total[:, None] * c)
            a = (abits[:, :63] * w63).sum(axis=1)
            # bit 63 is the long's sign bit: same subtract-through
            # int64 identity the per-row reference used, no overflow
            # (a <= 2^63 - 1, so a - (2^63 - 1) - 1 >= -2^63)
            a = np.where(abits[:, 63], (a - 9223372036854775807) - 1, a)
            dbits = (s[:, :-1] * c[:, 1:]) > (s[:, 1:] * c[:, :-1])
            d = (dbits * w63).sum(axis=1)
            if not want_dct:
                return a, d, None
            m = np.where(
                c > 0, (s * scale) // np.where(c > 0, c, np.int64(1)), 0
            )
            coef = m @ kk
            return a, d, ((coef > 0) * w63).sum(axis=1)

        for pdf in batches:
            pays = [
                b"" if p is None else bytes(p) for p in pdf[payn]
            ]
            n = np.fromiter(
                (len(b) for b in pays), dtype=np.int64, count=len(pays)
            )
            if n.size and int(n.max()) > maxb:
                bad = int(n.max())
                raise ValueError(
                    f"media_perceptual_hashes: payload of {bad} bytes "
                    f"exceeds the int64-exact bound ({maxb}); larger "
                    "blobs would wrap the integer bit votes silently "
                    "— downsample first"
                )
            # split rows into ~chunk_bytes slices (>= 1 row each) so
            # the int64 cumsum transient stays bounded
            parts_a, parts_d, parts_c = [], [], []
            lo = 0
            while lo < n.size:
                hi, acc = lo + 1, int(n[lo])
                while hi < n.size and acc + int(n[hi]) <= chunk_bytes:
                    acc += int(n[hi])
                    hi += 1
                a, d, cdc = hash_rows(pays[lo:hi], n[lo:hi])
                parts_a.append(a)
                parts_d.append(d)
                if cdc is not None:
                    parts_c.append(cdc)
                lo = hi
            empty = np.zeros(0, dtype=np.int64)
            data = {
                idn: pdf[idn],
                "ahash": pd.Series(
                    np.concatenate(parts_a or [empty]), dtype="int64"
                ),
                "dhash": pd.Series(
                    np.concatenate(parts_d or [empty]), dtype="int64"
                ),
            }
            if want_dct:
                data["dcthash"] = pd.Series(
                    np.concatenate(parts_c or [empty]), dtype="int64"
                )
            yield pd.DataFrame(data)

    # pass ONLY the two columns the function needs (§4.1: opaque
    # functions defeat column pruning — prune explicitly before)
    return media.select(F.col(id_col), F.col(payload_col)).mapInPandas(
        hash_batches, schema
    )


def media_perceptual_hashes(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    include_dct: bool = True,
    engine: str = "auto",
) -> DataFrame:
    """Per-media perceptual hashes over the payload byte buffer — the
    standard image near-dup signatures, computed as PURE JVM
    expressions (no Python, no shuffle: one projection):

    * ``ahash`` — average hash: pool the bytes into 64 equal spans
      (the linearized 8x8 grid; with a real codec the spans are the
      resized grayscale cells — the pooling, packing, and pair
      machinery below are codec-independent), set bit j iff span j's
      mean exceeds the whole-buffer mean. 64 bits, so the top bit
      lands in the BIGINT sign — packed sign-safely with the same
      two-step subtraction the DuckDB oracle uses.
    * ``dhash`` — difference hash: bit j iff span j's mean exceeds
      span j+1's (63 bits; gradient signature, robust to global
      brightness shifts where ahash is robust to local noise).
    * ``dcthash`` (r13) — the classical DCT perceptual hash: the 64
      span means (quantized to exact integers, `_DCT_MEAN_SCALE`)
      form the linearized 8x8 grid, a pinned INTEGER 2D DCT-II kernel
      (`_DCT_K`) projects them onto the 63 AC frequency components,
      bit b = sign of coefficient b+1. This is the standard fix for
      exactly the hot-bucket finding measured on aHash at 90x
      (docs/SCALING.md): every aHash bit compares a span mean to the
      SHARED buffer mean, so bits correlate on a homogeneous corpus
      and chunk buckets go hot; the AC kernel rows each sum to
      exactly 0, so brightness structure cancels and the bits
      decorrelate (measured: 27% fewer uncapped candidate pairs and a
      flatter top bucket on the sf0.01 corpus, ladder numbers in
      docs/SCALING.md). 63 bits, non-negative.

      Expression shape matters here: the DCT chain is built
      SINGLE-REFERENCE (zip_with over the quantized-mean array and
      the literal product kernel, folded elementwise, bit-packed
      against a power array) because element_at(col, i) references
      under HOF lambdas get no CSE — a nested-aggregate formulation
      re-inlined the span table per kernel cell and hung (the
      documented landmine); this shape runs in the same projection as
      ahash/dhash at ~0.2 ms/row extra. ``include_dct=False`` skips
      it (measured +52% on the sf0.1 ahash pair bench when computed
      unused) — the pair/cluster operators request it only when
      ``hash_col="dcthash"``.

    All comparisons are INTEGER cross-multiplications
    (s_j * n > total * c_j), never float means — bit-exact across
    engines, no rounding lottery. Byte values come off `hex()` +
    `conv()` (Spark exposes no binary-to-byte-array primitive); empty
    and NULL payloads hash to 0/0. Payloads beyond `_PHASH_MAX_BYTES`
    (1.5 GB) RAISE: past that the cross-multiplications exceed int64
    and Spark's non-ANSI arithmetic would wrap into silently-wrong
    bits (the DuckDB oracle promotes to HUGEINT and would diverge).

    Near-dup pairs: feed the output to `media_phash_near_dups`.

    ``engine`` (r14): "expr" is the pure-JVM expression form below
    (zero Python, the oracle-portable reference); "arrow" hands whole
    Arrow batches to numpy (`_phash_arrow` — bit-identical by the same
    integer contracts, pinned by test). Measured on local[32]: warm
    152 MiB/s aggregate on 64 KiB payloads where the expression form
    did not finish 256 MiB in 9 minutes (the HOF lambdas interpret
    per byte), and 0.93x on the 1.5 MB sf0.1 bench corpus where
    per-task overhead dominates — the win grows with payload bytes.
    "auto" (default) picks arrow when numpy imports on the driver,
    else expr. Both arms hash to identical values, so every consumer
    (pairs, clusters, the streaming media sink, the gates) is
    engine-agnostic."""
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"engine must be 'auto', 'expr' or 'arrow', got {engine!r}"
        )
    if engine == "auto":
        # probe the FULL driver-side stack the arrow arm needs
        # (mapInPandas = numpy + pandas + pyarrow), not just numpy
        # (ADVICE r14). The probe is driver-side only: local[*] shares
        # the interpreter, but a cluster whose EXECUTORS lack these
        # packages fails at task time — pin engine="expr" there, or
        # ship the packages (the standard pyspark Arrow requirement).
        try:
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401

            engine = "arrow"
        except Exception:
            engine = "expr"
    if engine == "arrow":
        return _phash_arrow(media, id_col, payload_col, include_dct)
    B = PHASH_BLOCKS
    byte_arr = (
        "transform(sequence(1, _n), i -> "
        "CAST(conv(substr(_hx, (i - 1) * 2 + 1, 2), 16, 10) AS BIGINT))"
    )
    spans = f"""
    transform(sequence(0, {B - 1}), j -> struct(
      aggregate(slice(_bytes, CAST((j * _n) div {B} AS INT) + 1,
                CAST(((j + 1) * _n) div {B} AS INT)
                  - CAST((j * _n) div {B} AS INT)),
                CAST(0 AS BIGINT), (a, x) -> a + x) AS s,
      CAST(((j + 1) * _n) div {B} AS INT)
        - CAST((j * _n) div {B} AS INT) AS c))
    """
    n_raw = F.coalesce(F.length(payload_col).cast("long"), F.lit(0).cast("long"))
    n_guarded = F.when(n_raw <= _PHASH_MAX_BYTES, n_raw).otherwise(
        F.raise_error(
            F.concat(
                F.lit("media_perceptual_hashes: payload of "),
                n_raw.cast("string"),
                F.lit(
                    f" bytes exceeds the int64-exact bound "
                    f"({_PHASH_MAX_BYTES}); larger blobs would wrap the "
                    "integer bit votes silently — downsample first"
                ),
            )
        ).cast("long")
    )
    return (
        media.select(
            F.col(id_col),
            n_guarded.alias("_n"),
            F.hex(F.coalesce(F.col(payload_col), F.lit(b""))).alias("_hx"),
        )
        .withColumn(
            "_bytes",
            F.expr(f"CASE WHEN _n = 0 THEN array() ELSE {byte_arr} END"),
        )
        .withColumn("_bs", F.expr(spans))
        .withColumn(
            "_t", F.expr("aggregate(_bytes, CAST(0 AS BIGINT), (a, x) -> a + x)")
        )
        .withColumn(
            "_alo",
            F.expr(
                "aggregate(sequence(0, 62), CAST(0 AS BIGINT), (acc, j) -> "
                "acc + IF(element_at(_bs, j + 1).s * _n > "
                "_t * element_at(_bs, j + 1).c, "
                "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
            ),
        )
        .withColumn(
            "_neg",
            F.expr(f"element_at(_bs, {B}).s * _n > _t * element_at(_bs, {B}).c"),
        )
        .withColumn(
            "_m",
            F.expr(
                "transform(_bs, b -> IF(b.c = 0, CAST(0 AS BIGINT), "
                f"(b.s * CAST({_DCT_MEAN_SCALE} AS BIGINT)) div b.c))"
            ),
        )
        .select(
            id_col,
            F.expr(
                "IF(_neg, (_alo - 9223372036854775807) - 1, _alo)"
            ).alias("ahash"),
            F.expr(
                "aggregate(sequence(0, 62), CAST(0 AS BIGINT), (acc, j) -> "
                "acc + IF(element_at(_bs, j + 1).s * element_at(_bs, j + 2).c "
                "> element_at(_bs, j + 2).s * element_at(_bs, j + 1).c, "
                "shiftleft(CAST(1 AS BIGINT), j), CAST(0 AS BIGINT)))"
            ).alias("dhash"),
            # the DCT is the one hash with real per-row cost (64x63
            # integer kernel fold, measured +52% on the ahash pair
            # bench); include_dct=False skips it for ahash/dhash-only
            # callers while keeping the multi-use ahash/dhash
            # structure that prevents the collapse landmine
            *(
                [F.expr(_dct_hash_sql("_m")).alias("dcthash")]
                if include_dct
                else []
            ),
        )
    )


def _dct_kk_sql() -> str:
    """The 64x63 literal product-kernel array (see `_DCT_KK`)."""
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(f"CAST({v} AS BIGINT)" for v in row) + ")"
            for row in _DCT_KK
        )
        + ")"
    )


def _dct_hash_sql(m_col: str) -> str:
    """63-bit DCT sign hash over a 64-element quantized-mean array —
    the single-reference zip_with chain (each intermediate consumed
    exactly once; see the dcthash docstring for why the shape is
    load-bearing). Portable: the identical text runs in DuckDB with
    list_transform/list_zip semantics via the oracle twin in
    catalog/multimodal.py."""
    pow_sql = "array(" + ", ".join(
        f"CAST({1 << b} AS BIGINT)" for b in range(63)
    ) + ")"
    return f"""
    aggregate(
      zip_with(
        aggregate(
          zip_with({m_col}, {_dct_kk_sql()},
                   (mv, krow) -> transform(krow, k -> mv * k)),
          array_repeat(CAST(0 AS BIGINT), 63),
          (acc, p) -> zip_with(acc, p, (a, b) -> a + b)),
        {pow_sql},
        (cf, w) -> IF(cf > 0, w, CAST(0 AS BIGINT))),
      CAST(0 AS BIGINT), (a, x) -> a + x)
    """


def media_phash_near_dups(
    media: DataFrame,
    max_hamming: int = 8,
    hash_col: str = "ahash",
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_bucket: int | None = None,
    n_chunks: int | None = None,
    auto_chunks: bool = False,
) -> DataFrame:
    """Perceptual-hash media near-dup pairs — connects the multimodal
    column to the dedup family: hash every payload
    (`media_perceptual_hashes`, one shuffle-free projection), then run
    the EXACT banded Hamming join (`dedup.hamming_banded_pairs` — the
    SimHash pigeonhole machinery over the chosen 64-bit
    ``ahash``/63-bit ``dhash``). Output (id_a, id_b, hamming).

    100 TB shape: candidates come from chunk-bucket equality (shuffle
    keys are (chunk_id, 6-8 bit chunk_val, 8-byte hash) — payloads
    never leave the scan), verification is one XOR popcount, and
    `max_bucket` caps hot buckets exactly as documented on
    `simhash_near_dups`. Perceptual hash bits on a homogeneous corpus
    are CORRELATED (every aHash bit is a span-mean vs buffer-mean
    comparison, and similar media share mean structure), so chunk
    buckets go hot and the exact pigeonhole join's candidate volume
    grows super-linearly — measured on a 90x corpus: 1.0-1.1 GiB
    shuffle uncapped at max_hamming=8.

    DEPLOYMENT RULE (r13 — the r12 rule corrected by MEASURED recall,
    `tail_probe --query media_phash_recall` [retired; in git history], table in
    docs/SCALING.md): `max_bucket` is a SKEW skimmer, valid ONLY
    while the corpus is small relative to the banding's capacity,
    n << max_bucket * 2^(bits div (max_hamming+1)). At max_hamming=8
    a 64-bit signature yields 7-bit chunks (128 values), so
    max_bucket=256 holds ~33k media — past that the MEAN bucket
    exceeds the cap and recall COLLAPSES rather than degrades
    (measured planted-pair recall: 0.67 at 53k, 0.11 at 159k, 0.0094
    at 476k — and the better-decorrelated dcthash is WORSE under an
    overloaded cap, 0.39/0.0/0.0, because uniform spreading pushes
    every bucket over it; `hamming_banded_pairs` now warns loudly in
    this regime). At corpus scale the honest options are: (a) run
    UNCAPPED — recall is exactly 1.0 by construction, and
    ``hash_col="dcthash"`` cuts the cost 2.4x (456 MiB / 12.2 s vs
    1.1 GiB / 26.9 s at 90x) while also halving the statistical
    mean-structure collision pairs aHash emits; (b) lower
    max_hamming so chunks widen (max_hamming=3 -> 16-bit chunks hold
    ~16M media at cap 256); (c) collapse exact-equal signatures first
    (group-by hash — the mass-duplicate regime) and band the distinct
    hashes.

    The signature frame is MATERIALIZED (localCheckpoint) before the
    band join: the hash expression nests element_at chains under
    aggregate lambdas, where codegen gets no common-subexpression
    elimination — unmaterialized, the self-join's two banded sides
    re-derive the span table per chunk reference and per
    element-lambda step, a multiplicative re-evaluation measured as a
    multi-minute hang on 530 rows (vs 2.6 s materialized). The
    materialized rows are (id, small ints) — vocabulary-of-hashes
    sized, never payload sized — and live at the RDD layer, where the
    ContextCleaner reclaims them once the RETURNED frame is dropped
    (the bpe_fit anchor discipline; a session-lifetime persist() here
    leaked one signature cache per call because Dataset.unpersist
    cannot free blocks a returned plan still references). The anchor
    is `session.anchor`: localCheckpoint by default — which trades
    away fault tolerance (blocks die with a lost executor and the job
    FAILS instead of recomputing) and runs one Spark job at
    DataFrame-construction time — so real-cluster deployments with
    executor churn should set
    ``spark.flinkEtlSpark.reliableCheckpoint=true`` plus a
    `setCheckpointDir` to get reliable `checkpoint()` anchors
    instead."""
    from flink_etl_spark.operators.dedup import hamming_banded_pairs

    if hash_col not in ("ahash", "dhash", "dcthash"):
        raise ValueError(
            f"hash_col must be 'ahash', 'dhash' or 'dcthash', got {hash_col!r}"
        )
    spread = rescue_scan_parallelism(media.select(id_col, payload_col))
    sigs = anchor(
        media_perceptual_hashes(
            spread, id_col, payload_col, include_dct=(hash_col == "dcthash")
        )
    )
    bits = 64 if hash_col == "ahash" else 63
    return hamming_banded_pairs(
        sigs, bits, max_hamming, id_col=id_col, sig_col=hash_col,
        max_bucket=max_bucket, n_chunks=n_chunks, auto_chunks=auto_chunks,
    ).withColumnsRenamed({"doc_a": "id_a", "doc_b": "id_b"})


def media_phash_dup_clusters(
    media: DataFrame,
    max_hamming: int = 8,
    hash_col: str = "dcthash",
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_bucket: int | None = None,
    algorithm: str = "star",
    max_iters: int = 20,
    n_chunks: int | None = None,
    auto_chunks: bool = True,
) -> DataFrame:
    """Media near-dup CLUSTERS at corpus scale — the r13 recall
    ladder's recommendation made an operator. The pair join above is
    exact but inherently hot on mass-duplicated corpora (the 90x rung:
    1.1 GiB shuffle, 14.7M pairs, most of them transitively
    redundant); clustering never needs the pair EXPANSION, only the
    signature-level structure. So:

    1. hash every payload once (`media_perceptual_hashes`);
    2. COLLAPSE exact-equal signatures — a 10^5-copy boilerplate blob
       becomes ONE node, and the band join below runs over DISTINCT
       signature values (Heaps-bounded, corpus-independent once the
       signature space saturates: the ladder corpus has ~476k media
       but far fewer distinct 64-bit hashes);
    3. EXACT banded Hamming join over the distinct signatures
       (`dedup.hamming_banded_pairs`, the signature doubling as its
       own id — `max_bucket` still available, with the same validity
       bound, but the mean bucket load is now distinct-sigs/128, not
       n/128);
    4. connected components over the SIGNATURE graph
       (`dedup.duplicate_clusters` — star O(log n) rounds by
       default);
    5. label media: component per signature, cluster_id = the MINIMUM
       member `id_col` of the cluster (the same canonical-doc
       convention as `duplicate_clusters`).

    Output: (id_col, cluster_id) — every input row labeled; media
    whose signature pairs with nothing cluster alone. Corpus-sized
    exchanges carry only (id, hash) / (hash, component) rows; the
    quadratic-risk join runs on distinct signatures only. Exactness:
    identical to clustering the full `media_phash_near_dups` pair set
    (equal signatures are Hamming-0 pairs; components are invariant
    under collapsing 0-distance nodes) — pinned by test against a
    pure-Python transitive closure."""
    from flink_etl_spark.operators.dedup import (
        duplicate_clusters,
        hamming_banded_pairs,
    )

    if hash_col not in ("ahash", "dhash", "dcthash"):
        raise ValueError(
            f"hash_col must be 'ahash', 'dhash' or 'dcthash', got {hash_col!r}"
        )
    bits = 64 if hash_col == "ahash" else 63
    # checkpoint BEFORE pruning to one hash column: dropping the other
    # hashes removes the multi-use column structure that stops
    # Catalyst collapsing the span-table aliases, and the collapsed
    # single-reference chain re-derives the O(n) byte transform per
    # span slice (measured 22 s vs 2 s on the sf0.01 gate corpus —
    # the same landmine the dcthash docstring documents)
    sigs = anchor(
        media_perceptual_hashes(
            media, id_col, payload_col,
            include_dct=(hash_col == "dcthash"),
        )
    ).select(id_col, hash_col)
    # repartition the distinct signatures before banding: AQE sizes
    # the distinct's output by BYTES (a few MB of hashes -> coalesced
    # to ONE partition), but the band self-join fans every row out
    # 9x and probes ~sum(bucket^2) candidate pairs — work AQE cannot
    # see. Measured at the 30x rung: the coalesced frame ran the
    # entire 1.5B-probe join as a single task (462 s); repartitioned,
    # 1.5 s. The shuffle cost is one pass over (hash) rows — nothing.
    n_part = int(
        media.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    dsig = (
        sigs.select(hash_col).distinct()
        .repartition(n_part)
        .select(
            F.col(hash_col).alias("_sig_id"), F.col(hash_col).alias("_sig")
        )
    )
    # materialize the pair frame ONCE: duplicate_clusters reads its
    # input through two independent consumers (nodes + canonical
    # edges), and an unmaterialized band join re-runs its full probe
    # volume per consumer (measured ~3x the 90x rung wall)
    sig_pairs = hamming_banded_pairs(
        dsig, bits, max_hamming, id_col="_sig_id", sig_col="_sig",
        max_bucket=max_bucket, n_chunks=n_chunks, auto_chunks=auto_chunks,
    )
    sig_pairs = anchor(sig_pairs)
    comp = duplicate_clusters(
        sig_pairs, algorithm=algorithm, max_iters=max_iters
    ).select(
        F.col("doc_id").alias("_sig"), F.col("cluster_id").alias("_comp")
    )
    # signatures absent from the pair graph are their own component
    labeled = sigs.join(
        comp, sigs[hash_col] == comp["_sig"], "left"
    ).select(
        id_col,
        F.coalesce("_comp", F.col(hash_col)).alias("_comp"),
    )
    reps = labeled.groupBy("_comp").agg(F.min(id_col).alias("cluster_id"))
    return labeled.join(reps, "_comp").select(id_col, "cluster_id")
