"""Similarity search over embedding columns (ARRAY<FLOAT>).

Two tiers (extension surface, SURVEY.md §2.12):

* brute-force cosine top-k — the exactness baseline; O(|Q| * N) via a
  broadcast of the query set against the corpus
* sign-LSH (random-hyperplane) bucketed ANN — the 100 TB path: corpus
  hashed once into 2^H buckets, search touches only the query's bucket

Hyperplanes are data-derived (the embeddings of the H smallest vec_ids)
instead of RNG-generated — deterministic, oracle-replicable, and a
public technique (Charikar '02 sign-LSH with any fixed hyperplane set).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from flink_etl_spark.functions.vectors import cosine, dot, norm, safe_cosine
from flink_etl_spark.sources.tables import _plan_size_bytes, _spread_anchored
from flink_etl_spark.staged import (
    IVFPQ_META,
    PQ_META,
    TARGET_FILE_BYTES,
    _materialize_with_retry,
    append_unstaged,
    require_new_path,
)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_pairs: int | None = 100_000_000,
    force: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    The query set is broadcast (it's the small side by construction);
    the corpus never shuffles — each partition scores its slice and the
    per-query top-k is a WindowGroupLimit, so only k rows per query
    cross the final exchange. Scores are rounded BEFORE ranking so rank
    order is reproducible across engines (ties then break on id).

    GUARD: the scored pair space is O(|Q| * N) by design (the exactness
    baseline); when |queries| * |corpus| exceeds `max_pairs` (two
    column-pruned counts) this raises, naming `signlsh_topk` /
    `ivf_topk` as the scale paths. `force=True` downgrades to a
    RuntimeWarning, `max_pairs=None` disables the check."""
    if max_pairs is not None:
        nq, nc = queries.count(), corpus.count()
        if nq * nc > max_pairs:
            msg = (
                f"cosine_topk scores every (query, corpus) pair: "
                f"{nq:,} x {nc:,} = {nq * nc:,} pairs (> max_pairs="
                f"{max_pairs:,}). Use signlsh_topk / signlsh_topk_multiprobe "
                "or ivf_topk (bucketed ANN) at this scale, or pass "
                "force=True / a larger max_pairs to run the exact baseline "
                "anyway."
            )
            if not force:
                raise ValueError(msg)
            import warnings

            warnings.warn(msg, RuntimeWarning, stacklevel=2)
    # norms precomputed once per vector (not 3 dots per pair) — same
    # double-precision values, ~3x fewer array traversals in the join
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(vec_col).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("qv", "cv"), F.col("qn"), F.col("cn")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def hyperplanes(embs: DataFrame, n_planes: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Deterministic hyperplane set: embeddings of the n smallest ids,
    re-indexed 0..n-1 (bit positions must be dense regardless of the
    actual id values).

    Scale: `orderBy(id).limit(n)` plans as TakeOrderedAndProject —
    per-partition top-n, driver merges n rows — NOT a global sort (the
    r1 version's empty-partition window moved the whole corpus to one
    task). The dense 0..n-1 re-index is window-free: pack the n
    (id, vec) structs into one sorted array and posexplode, so the only
    "single partition" in the plan holds exactly n rows.

    Cap: n_planes <= 31. Bucket bits are built with a 32-bit
    `shiftleft(1, plane_id)` (Java int shifts wrap mod 32), so plane
    32 would alias plane 0 and plane 31's sign bit would disagree with
    the multiprobe XOR's 64-bit shift — silently wrong buckets. 2^31
    buckets is already far past any useful plane count (auto-sizing
    clamps to 24)."""
    if n_planes > 31:
        raise ValueError(
            f"n_planes={n_planes} > 31: 32-bit shiftleft bucket bits "
            "would alias planes (and 2^31 buckets is already absurd); "
            "use IVF for finer partitioning"
        )
    packed = (
        embs.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(n_planes)
        .agg(F.array_sort(F.collect_list(F.struct(id_col, vec_col))).alias("_a"))
    )
    return packed.select(
        F.posexplode("_a").alias("_pos", "_s")
    ).select(
        F.col("_pos").cast("int").alias("plane_id"),
        F.col(f"_s.{vec_col}").alias("plane"),
    )


def signlsh_buckets(
    embs: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign each vector its 2^H bucket: broadcast-join the H planes,
    one bit per plane by dot-product sign, sum bit<<plane_id."""
    joined = embs.join(F.broadcast(planes))
    bit = (
        F.when(dot(vec_col, "plane") > 0, F.expr("shiftleft(1, plane_id)"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return (
        joined.groupBy(id_col)
        .agg(F.sum(bit).cast("long").alias("bucket"))
    )


def ivf_centroids(
    embs: DataFrame, n_cells: int = 8,
    id_col: str = "vec_id", vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """Deterministic coarse quantizer: the embeddings of the n_cells
    smallest ids as cell centroids, re-labeled 0..n-1.

    `refine_iters` runs that many Lloyd (k-means) refinement passes to
    improve CELL BALANCE — data-picked seeds can land several seeds in
    one dense region, leaving giant cells whose probe cost dominates.
    Each pass is fully distributed: assign every vector to its nearest
    centroid (broadcast), then the new centroid is the per-dimension
    mean via posexplode + two groupBys — no driver-side data, no
    per-cell pandas materialization. Determinism is preserved the same
    way the rest of the family does it: FIXED iteration count (no
    convergence RNG), means ROUNDED to 6 dp before reuse, ties in
    assignment broken on cell_id; an empty cell keeps its previous
    centroid. The oracle gates pin refine_iters=0 (seed centroids are
    exactly replicable in SQL); refined mode is measured in the stress
    probe's recall table (docs/SCALING.md).

    Scale: the seed pick is the same window-free TakeOrderedAndProject
    + posexplode as `hyperplanes` — the n smallest ids come out of a
    per-partition top-n merge, never a single-partition global sort of
    the corpus; each refinement pass costs one corpus scan + a
    (cell, dim)-sized aggregate (tiny)."""
    packed = (
        embs.select(F.col(id_col), F.col(vec_col))
        .orderBy(id_col)
        .limit(n_cells)
        .agg(F.array_sort(F.collect_list(F.struct(id_col, vec_col))).alias("_a"))
    )
    cents = packed.select(
        F.posexplode("_a").alias("_pos", "_s")
    ).select(
        F.col("_pos").cast("int").alias("cell_id"),
        F.col(f"_s.{vec_col}").alias("centroid"),
        norm(f"_s.{vec_col}").alias("centroid_norm"),
    )
    for _ in range(refine_iters):
        assigned = ivf_assign(embs, cents, 1, id_col, vec_col)
        means = (
            assigned.select("cell_id", F.posexplode(F.col(vec_col)).alias("_d", "_v"))
            .groupBy("cell_id", "_d")
            .agg(F.avg("_v").alias("_m"))
            .groupBy("cell_id")
            .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_a"))
            .select(
                F.col("cell_id").alias("_cid"),
                F.transform(
                    "_a", lambda s: F.round(s.getField("_m"), 6)
                ).alias("_mean"),
            )
        )
        cents = (
            cents.join(means, cents.cell_id == means._cid, "left")
            .select(
                "cell_id",
                F.coalesce(F.col("_mean"), F.col("centroid")).alias("centroid"),
            )
            .withColumn("centroid_norm", norm("centroid"))
        )
    return cents


def _local_frame(spark, rows, schema) -> DataFrame:
    """Driver-local frame as a pure LITERAL plan: `inline(<constant
    array of structs>)` over a one-row LocalTableScan — JVM-only,
    constant-folded, ZERO Python at execution. The obvious
    alternatives both ship the rows through a Python-evaluated RDD
    (`applySchemaToPythonRDD` -> `Scan ExistingRDD`): every
    downstream reference then re-runs a pickled Python task — and the
    quantizer/codebook frames here are referenced by MANY consumers
    (assignment broadcasts, codebook lookups, searches), so that form
    re-paid Python worker launches per job and measured ~1.1-1.15x
    SLOWER end-to-end than the r14 anchored corpus frames it replaced
    (interleaved A/B, this round). Literals are exact: collected
    float32 values widen to Python doubles losslessly and the
    double-literal -> float cast narrows back to the identical bits
    (round-trip law); the bit-for-bit pins cover it."""
    from pyspark.sql import types as T

    from flink_etl_spark.functions.sql import dbl_text, str_lit

    if not rows:
        return spark.createDataFrame([], schema)

    def lit_sql(v, dt) -> str:
        if v is None:
            return f"CAST(NULL AS {dt.simpleString()})"
        if isinstance(dt, T.ArrayType):
            if len(v) == 0:
                return f"CAST(array() AS {dt.simpleString()})"
            inner = ",".join(lit_sql(x, dt.elementType) for x in v)
            return f"array({inner})"
        if isinstance(dt, T.DoubleType):
            return dbl_text(v)
        if isinstance(dt, T.FloatType):
            # collected float32 widened losslessly to double; the
            # double -> float narrowing restores the identical bits
            return f"CAST({dbl_text(v)} AS FLOAT)"
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            return f"CAST({int(v)} AS {dt.simpleString()})"
        if isinstance(dt, T.StringType):
            return str_lit(str(v))
        raise TypeError(
            f"_local_frame: unsupported literal type {dt.simpleString()}"
        )

    structs = ",".join(
        "named_struct("
        + ",".join(
            f"{str_lit(f.name)},{lit_sql(v, f.dataType)}"
            for v, f in zip(r, schema.fields)
        )
        + ")"
        for r in rows
    )
    # ONE parsed expression = ONE driver round-trip for the whole
    # frame (an F.lit-per-value build costs thousands of py4j calls
    # inside the timed construction path — measured 3-4x the whole
    # entry); the parser constant-folds it into a single literal array
    return spark.sql("VALUES (1)").selectExpr(f"inline(array({structs}))")


#: ceiling on rows x dim of a driver-local seed frame: `_seed_head`
#: collects the vectors and `_local_frame` renders them as ONE SQL
#: literal (~40 characters per value), and `ivf_auto_cells` can ask for
#: 65,536 cells. Above it the anchored corpus derivation runs instead
#: (row-identical by the local-vs-distributed pins).
_LOCAL_SEED_MAX_VALUES = 1 << 18


def _seed_head(embs: DataFrame, n: int, id_col: str, vec_col: str):
    """The n smallest-id (id, vector, norm) rows, collected — ONE
    corpus TakeOrdered pass. Both deterministic seed picks of the IVF
    family are 'n smallest ids by construction': `ivf_centroids`
    (refine_iters=0) over the corpus, and `_pq_seeds` over the
    residual frame — whose id set EQUALS the corpus's (assignment
    drops no row when the centroid table is non-empty), so the PQ
    seeds are exactly the residuals of the n_codes smallest-id
    vectors. One shared head fetch therefore replaces what were two
    eagerly-anchored full corpus passes (guide §2.4 / §5; the r14
    verdict's anchor-job floor). Assumes the family's documented
    unique-non-NULL-id contract (ADVICE r14).

    None when n x dim passes `_LOCAL_SEED_MAX_VALUES`: the collect
    nulls every vector over the ceiling, so the driver never holds
    more than it (plus n ids and norms), and the caller takes the
    anchored derivation."""
    fits = F.size(vec_col).cast("long") * F.lit(n) <= F.lit(
        _LOCAL_SEED_MAX_VALUES
    )
    head = (
        embs.select(
            F.col(id_col),
            F.when(fits, F.col(vec_col)).alias(vec_col),
            norm(vec_col).alias("_hn"),
        )
        .orderBy(id_col)
        .limit(n)
        .collect()
    )
    return None if any(r[1] is None for r in head) else head


def ivf_centroids_local(
    embs: DataFrame,
    n_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    head=None,
) -> DataFrame:
    """`ivf_centroids(refine_iters=0)` as a driver-local frame.

    Row-identical to the distributed derivation by construction: the
    head fetch runs the SAME TakeOrdered + norm expressions in one
    collect job (doubles round-trip collect/createDataFrame exactly,
    float32 embeddings widen and narrow losslessly), and cell_id is
    the id-order position exactly as the posexplode relabel assigned
    it. What changes is the PLAN: the old `anchor(ivf_centroids(...))`
    ran an eager localCheckpoint job per construction and left a
    corpus-lineage frame that every consumer's broadcast re-walked;
    this frame is a 1-task local scan. Pinned bit-for-bit in
    tests/test_extensions.py::test_ivf_centroids_local_matches_distributed.
    Above the `_LOCAL_SEED_MAX_VALUES` ceiling it returns the anchored
    distributed derivation instead."""
    from pyspark.sql import types as T

    spark = embs.sparkSession
    if head is None:
        head = _seed_head(embs, n_cells, id_col, vec_col)
    if head is None:
        from flink_etl_spark.session import anchor

        return anchor(ivf_centroids(embs, n_cells, id_col, vec_col))
    vec_f = embs.schema[vec_col]
    schema = T.StructType(
        [
            T.StructField("cell_id", T.IntegerType(), False),
            T.StructField("centroid", vec_f.dataType, True),
            T.StructField("centroid_norm", T.DoubleType(), True),
        ]
    )
    rows = [(i, r[1], r[2]) for i, r in enumerate(head[:n_cells])]
    return _local_frame(spark, rows, schema)


def _ivf_quantizer(
    corpus: DataFrame, n_cells: int, id_col: str, vec_col: str,
    refine_iters: int,
) -> DataFrame:
    """The coarse quantizer as a materialized frame, never a lazy corpus
    plan: the driver-local seed pick (`ivf_centroids_local`; anchored
    past its ceiling), or the anchored Lloyd-refined derivation."""
    if refine_iters == 0:
        return ivf_centroids_local(corpus, n_cells, id_col, vec_col)
    from flink_etl_spark.session import anchor

    return anchor(ivf_centroids(corpus, n_cells, id_col, vec_col, refine_iters))


def _round6_twin(x: float) -> float:
    """Driver-side twin of Spark's round(double, 6): HALF_UP on the
    SHORTEST decimal representation (BigDecimal.valueOf semantics) —
    the same rule `_pq_codes_arrow`'s executor-local `r6` applies,
    pinned against Spark's own round in
    tests/test_extensions.py::test_spark_round6_twin."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def _head_seed_residuals(head, n_cells: int, n_codes: int):
    """Pure-driver twin of (ivf_assign(nprobe=1) -> join cents_n ->
    zip_with(l2_normalize(vec), cnv, x - y)) over the seed HEAD rows —
    the PQ seed residual computation. The head is a handful of rows
    already collected on the driver, so pushing 10^2 dot products
    through a Spark job bought two driver round-trips (plan build +
    collect, ~1.2 s of the bench entry) for work that takes
    microseconds in-process.

    Bit-exact replay of the column expressions, op for op:
    * dot = sequential left fold acc + x*y in doubles (collected
      float32 widens losslessly; Python floats ARE IEEE doubles and
      CPython arithmetic is the same correctly-rounded hardware op)
    * norm = sqrt(dot) (correctly rounded on both sides)
    * assignment key = coalesce(-round(safe_cosine, 6), +inf) with
      cell_id tie-break, `_round6_twin` for the HALF_UP rounding
    * residual = zip_with(l2n(vec), l2n(centroid), x - y) including
      zip_with's pad-with-NULL semantics for length mismatches and
      NULL-element poisoning; NULL vectors yield NULL residuals
    Pinned row-for-row against the legacy Spark derivation by
    tests/test_extensions.py::test_ivfpq_parts_fused_matches_anchored
    (which drives the anchored path explicitly), including NULL
    vector, zero vector, NULL-element and short-row corpora."""
    import math

    def pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            if x is None or y is None:
                return None
            acc = acc + float(x) * float(y)
        return acc

    def l2n(v):
        d = pydot(v, v)
        n = math.sqrt(d) if d is not None else None
        if n is None:
            return [None] * len(v)
        if n == 0.0:
            return [float(x) for x in v]
        return [float(x) / n for x in v]

    cents = head[:n_cells]  # (id, vec, norm) rows in id order
    out = []
    for code_id, row in enumerate(head[:n_codes]):
        vec, vn = row[1], row[2]
        # pick the cell: min (key, cell_id), key = -round(sim, 6) or inf
        best_key, best_cell = float("inf"), 0
        for cell_id, crow in enumerate(cents):
            cvec, cn = crow[1], crow[2]
            key = float("inf")
            if vec is not None and cvec is not None and vn is not None \
                    and cn is not None:
                denom = vn * cn
                d = pydot(vec, cvec)
                if denom != 0.0 and d is not None:
                    key = -_round6_twin(d / denom)
            if (key, cell_id) < (best_key, best_cell):
                best_key, best_cell = key, cell_id
        cvec = cents[best_cell][1]
        if vec is None or cvec is None:
            out.append((code_id, None))
            continue
        nv_a, nv_c = l2n(vec), l2n(cvec)
        # zip_with pads the shorter side with NULL; NULL - y = NULL
        width = max(len(nv_a), len(nv_c))
        nv = [
            (nv_a[j] - nv_c[j])
            if j < len(nv_a) and j < len(nv_c)
            and nv_a[j] is not None and nv_c[j] is not None
            else None
            for j in range(width)
        ]
        out.append((code_id, nv))
    return out


def ivf_assign(
    embs: DataFrame,
    centroids: DataFrame,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_sim: bool = False,
) -> DataFrame:
    """Assign each vector its nprobe nearest cells by cosine (broadcast
    the centroid table — it is tiny by construction). Deterministic:
    similarity rounded before ranking, ties break on cell_id.

    The vector and its norm RIDE ALONG through the assignment
    (`<vec_col>`, `vec_norm` in the output) — downstream scoring then
    never joins back to the corpus, keeping the whole IVF search at one
    scan per side. `keep_sim=True` also emits the rounded cosine to the
    assigned centroid as `centroid_sim` (semdedup's keep rule ranks
    within-cluster duplicates by exactly this value).

    ZERO-SHUFFLE: the centroid table is packed into ONE broadcastable
    row (structs sorted by cell_id) and each vector picks its nprobe
    best cells in a row-local array expression — no per-(vector, cell)
    join fan-out, no window, NO CORPUS EXCHANGE. The r1-r13 form was a
    broadcast nested-loop join (n_cells rows per vector) followed by a
    row_number window whose hash-by-id exchange shipped every corpus
    VECTOR; at 100 TB that exchange was the whole cost of assignment.
    Ordering is byte-equivalent to that window's
    (_sim DESC NULLS LAST, cell_id ASC): the sort key is
    coalesce(-sim, +inf) — negation is IEEE-exact (signed zeros
    round-trip), a NULL sim (zero-norm vector; safe_cosine's guard)
    maps to +inf and so still ranks LAST exactly as desc NULLS LAST
    did, and the struct tie-break is cell_id ascending. The packed row
    uses an O(1)-size HOF transform, not per-cell unrolled
    expressions — auto-sized cell counts must not trip janino's 64 KB
    method limit (the r14 banding landmine). Pinned against a
    window-based reference implementation in
    tests/test_extensions.py::test_ivf_assign_matches_window_reference.

    INPUT CONTRACT (ADVICE r14, applies to `ivf_assign_two_level` too):
    ids must be UNIQUE per row — the old row_number window partitioned
    by id, so duplicated ids collectively got nprobe assignments,
    while the row-local form emits nprobe rows per PHYSICAL row; every
    in-repo consumer (semdedup, the ANN indexes, decontamination) keys
    on unique ids already. Embedding VALUES must be finite: NULL and
    zero-norm vectors are in-domain (safe_cosine guards them to NULL
    sim -> ranked last, byte-equal to the window form), but a NaN/Inf
    component produces NaN similarities, which the old DESC window
    ranked FIRST (Spark orders NaN greatest) and the ascending
    -sim key ranks LAST — such rows are OUT OF CONTRACT and may pick
    a different cell than the r13 window form did."""
    # safe_cosine, not raw division: a zero-norm vector (in-domain)
    # raises DIVIDE_BY_ZERO under ANSI mode and ranks NaN-first
    # otherwise — found by the semdedup hypothesis suite
    packed = (
        centroids.select("cell_id", "centroid", "centroid_norm")
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cell_id", "centroid", "centroid_norm"))
            ).alias("_cents")
        )
    )
    base = embs.select(
        F.col(id_col), F.col(vec_col), norm(vec_col).alias("vec_norm")
    ).crossJoin(F.broadcast(packed))
    inf = F.lit(float("inf"))
    cand = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            F.coalesce(
                -F.round(
                    safe_cosine(
                        dot(vec_col, c.getField("centroid")),
                        F.col("vec_norm"),
                        c.getField("centroid_norm"),
                    ),
                    6,
                ),
                inf,
            ).alias("_key"),
            c.getField("cell_id").alias("cell_id"),
        ),
    )
    if nprobe == 1:
        # array_min = the same (key, cell_id) ordering, no Generate
        # node. The empty-centroid guard is size(_cents) — NOT
        # _s.isNotNull(): predicate pushdown rewrites a filter on _s
        # in terms of its defining expression, re-evaluating every
        # per-centroid dot product a second time per row (measured
        # +30% on the ivf bench entry; the CollapseProject staging
        # rule from minhash_profile applies to FILTERS too)
        picked = base.filter(F.size("_cents") > 0).withColumn(
            "_s", F.array_min(cand)
        )
    else:
        picked = base.withColumn(
            "_s", F.explode(F.slice(F.array_sort(cand), 1, nprobe))
        )
    out = [
        F.col(id_col), F.col(vec_col), F.col("vec_norm"),
        F.col("_s.cell_id").alias("cell_id"),
    ]
    if keep_sim:
        # -(-sim) restores the exact stored double (incl. -0.0); the
        # +inf sentinel maps back to the NULL the old window emitted
        out.append(
            F.when(F.col("_s._key") != inf, -F.col("_s._key")).alias(
                "centroid_sim"
            )
        )
    return picked.select(*out)


def cell_census(asgn: DataFrame) -> list[tuple[int, int]]:
    """(cell_id, size) census of an assignment frame, sorted by cell —
    a bounded <= n_cells driver fetch of counts (never rows). The
    skew diagnostic every IVF layout needs at scale: cells come from
    seed picks / Lloyd refinement with NO size bound, so a skewed
    embedding distribution can put a large fraction of the corpus in
    one `cell_id=` partition, and every probe of that cell scans all
    of it."""
    return sorted(
        (r["cell_id"], r["n"])
        for r in asgn.groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    )


def split_hot_cells(
    embs: DataFrame,
    cents: DataFrame,
    max_cell_frac: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rounds: int = 4,
    census_sample: float = 1.0,
) -> DataFrame:
    """Rebalance a coarse quantizer by SPLITTING every cell holding
    more than ``max_cell_frac`` of the corpus: the hot centroid is
    replaced by k = ceil(size / cap) sub-centroids seeded from the
    cell's own members, cold centroids keep their ids, sub-centroids
    take fresh ids past the current max. Sub-seeds are the k members
    with the smallest ``xxhash64(id)`` (id tie-break) — deterministic,
    and the hash scrambling spreads the picks over the dense region
    (the k smallest IDS can be correlated with geometry — e.g. all on
    one edge of the cluster — and then fail to divide it; measured in
    the test's adversarial corpus).

    Splitting ITERATES (up to ``max_rounds``) because one round can
    make skew WORSE before it gets better: when a dense mode is
    smeared across several moderately-hot cells, the first round's
    sub-centroids sit INSIDE the mode and attract the whole cluster
    away from the old cells — skew_probe [retired; in git history]
    measured a 0.16 max-cell-fraction corpus going to 0.43 after one round, then to
    under the cap on the next. Each round costs one assignment scan;
    the loop stops as soon as no cell exceeds the cap, and the builder
    re-censuses afterwards and warns if residual skew survived
    max_rounds (a pathological distribution wants a bigger n_cells).

    Deterministic throughout (hash-ordered seed MEMBERSHIP; sub-cell
    ids are then assigned in (round, hot cell id, member id) order —
    the array_sort on (id, vec) structs orders the chosen k by member
    id, the hash only decides WHICH k members seed); downstream is
    transparent: search and appends read the centroid table from the
    index and never assume contiguous cell ids. The scale-relevant
    probe cost is what the split removes — probing a cell that holds
    40% of a 100 TB corpus scans 40% of it.

    ``census_sample=s`` (0 < s <= 1, default 1 = full) runs every
    census round on a DETERMINISTIC hash-sampled slice
    (`pmod(xxhash64(id), 1e6) < s*1e6`) instead of the full corpus —
    the 100 TB lever: each round otherwise costs one FULL assignment
    scan before the build even starts (up to max_rounds of them), and
    a cell holding >max_cell_frac of the corpus holds ~the same
    fraction of any hash sample (binomial error ~ 1/sqrt(s*n*frac) —
    at 1% of 1e9 rows a 10% cell is estimated within +-0.03%).
    Sub-seeds then come from the sampled slice's members (hash-ordered
    within the sample), so the split is deterministic for a fixed
    (corpus, s) but yields different — equally valid — sub-centroids
    than the full census. Measured: `skew_probe --sample` [retired; in
    git history] (same hot set found, same final skew bound, census scans read
    1/s fewer rows; docs/SCALING.md "IVF cell skew"). An over-small
    sample on a tiny corpus can census 0 rows — the loop then exits
    without splitting; size s to keep >= ~100 sampled members per
    suspected hot cell."""
    import math

    if not (0 < max_cell_frac <= 1):
        raise ValueError(
            f"max_cell_frac must be in (0, 1], got {max_cell_frac}"
        )
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if not (0 < census_sample <= 1):
        raise ValueError(
            f"census_sample must be in (0, 1], got {census_sample}"
        )
    src = embs
    if census_sample < 1.0:
        thresh = max(1, int(round(census_sample * 1_000_000)))
        src = embs.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
            < F.lit(thresh)
        )
    for _ in range(max_rounds):
        asgn = ivf_assign(src, cents, 1, id_col, vec_col)
        census = cell_census(asgn)
        total = sum(n for _, n in census)
        if total == 0:
            if census_sample < 1.0:
                # an over-small sample silently disabling skew
                # protection is the documented failure mode — make it
                # a runtime signal, not just a docstring note (ADVICE)
                import warnings

                warnings.warn(
                    f"split_hot_cells: census_sample={census_sample} "
                    "sampled 0 vectors — skew splitting is a no-op this "
                    "build; raise the sample rate (or pass 1.0) if the "
                    "corpus is small enough that the sample can miss it",
                    UserWarning,
                    stacklevel=2,
                )
            return cents
        cap = max_cell_frac * total
        hot = [(c, n) for c, n in census if n > cap]
        if not hot:
            return cents
        next_id = max(
            r["cell_id"] for r in cents.select("cell_id").collect()
        ) + 1
        hot_ids = [c for c, _ in hot]
        parts = [
            cents.filter(~F.col("cell_id").isin(hot_ids)).select(
                "cell_id", "centroid"
            )
        ]
        for cell, n in hot:
            k = min(max(2, math.ceil(n / cap)), n)
            # orderBy + limit = TakeOrderedAndProject: a per-partition
            # top-k merge, never a global sort of the (large) hot cell
            packed = (
                asgn.filter(F.col("cell_id") == cell)
                .select(
                    F.xxhash64(F.col(id_col)).alias("_h"),
                    F.col(id_col), F.col(vec_col),
                )
                .orderBy("_h", id_col)
                .limit(k)
                .agg(
                    F.array_sort(
                        F.collect_list(F.struct(id_col, vec_col))
                    ).alias("_a")
                )
            )
            parts.append(
                packed.select(
                    F.posexplode("_a").alias("_pos", "_s")
                ).select(
                    (F.col("_pos").cast("int") + F.lit(next_id)).alias(
                        "cell_id"
                    ),
                    F.col(f"_s.{vec_col}").alias("centroid"),
                )
            )
            next_id += k
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        # localCheckpoint: the centroid table is tiny, and each round's
        # plan would otherwise nest the previous round's whole lineage
        cents = (
            out.withColumn("centroid_norm", norm("centroid"))
            .localCheckpoint(eager=True)
        )
    return cents


def ivf_assign_two_level(
    embs: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_sim: bool = False,
) -> DataFrame:
    """Hierarchical (two-level) cell assignment: level 1 assigns each
    vector to one of ~sqrt(n_cells) coarse cells (broadcast sweep),
    level 2 re-assigns it among ITS OWN coarse cell's
    ~sqrt(n_cells) sub-seeds (the k2 smallest ids in the cell, a
    WindowGroupLimit) — so the per-vector sweep costs k1 + k2 ~
    2*sqrt(n_cells) similarity evaluations instead of the flat
    quantizer's n_cells. That is what breaks the flat O(n^1.5)
    SemDeDup cost floor: with assignment at n*2*sqrt(k), the optimal
    cell count rises to k = (cost_ratio * n)^(2/3)
    (`knobs.semdedup_auto_cells_two_level`) and the total
    assignment + within-cell pair cost drops to O(n^(4/3)).

    The final `cell_id = l1 * k2 + sub` refines the coarse partition
    (every final cell is inside one coarse cell). Deterministic
    end-to-end: both levels rank on 6-dp-rounded cosine with index
    tie-breaks, and the sub-seeds are id-ordered. `keep_sim` emits the
    rounded similarity to the FINAL (sub-)centroid, the value the
    SemDeDup duel ranks on.

    ZERO CORPUS EXCHANGE (r14): the r5-r13 level-2 pick joined every
    vector with its coarse cell's ~k2 seeds and ranked the fan-out
    with a row_number window whose hash-by-id exchange shipped every
    corpus VECTOR k2 times — at scale, that exchange was the whole
    cost. Now the per-cell seed lists pack into ONE broadcastable
    row (a `_l1 -> sorted seed structs` map) and each vector picks
    its best sub-seed in a row-local array expression, the exact
    packed-argmin treatment `ivf_assign` got. Ordering is
    byte-equivalent to the old window's (`_sim DESC NULLS LAST,
    _sub ASC`): sort key coalesce(-sim, +inf), struct tie-break on
    `_sub` (IEEE-exact double negation; NULL sims from zero-norm
    vectors map to +inf = rank-last). The only remaining exchange is
    the seed pick itself — a WindowGroupLimit whose map-side limit
    ships <= k1*k2 candidate rows per input partition, never the
    corpus. Pinned row-for-row against a join+window reference in
    tests/test_extensions.py::test_two_level_assign_matches_window_reference.

    The level-1 assignment is persisted (it feeds both the seed pick
    and the scoring projection); same cache contract as `ivf_assign`
    consumers — clearCache between corpora.

    Same INPUT CONTRACT as `ivf_assign` (see there): unique ids per
    row, finite embedding components (NULL/zero-norm in-domain;
    NaN/Inf out of contract)."""
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    from math import isqrt

    k1 = max(1, isqrt(n_cells - 1) + 1 if n_cells > 1 else 1)  # ceil(sqrt)
    k2 = -(-n_cells // k1)
    l1_cents = ivf_centroids(embs, k1, id_col, vec_col)
    a1 = (
        ivf_assign(embs, l1_cents, 1, id_col, vec_col)
        .withColumnRenamed("cell_id", "_l1")
        .persist()
    )
    w_seed = Window.partitionBy("_l1").orderBy(id_col)
    packed = (
        a1.withColumn("_r", F.row_number().over(w_seed))
        .filter(F.col("_r") <= k2)
        .groupBy("_l1")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("_r") - 1).alias("_sub"),
                        F.col(vec_col).alias("_scent"),
                        F.col("vec_norm").alias("_snorm"),
                    )
                )
            ).alias("_seeds")
        )
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_l1", "_seeds"))
            ).alias("_smap")
        )
    )
    inf = F.lit(float("inf"))
    cand = F.transform(
        F.col("_cand"),
        lambda s: F.struct(
            F.coalesce(
                -F.round(
                    safe_cosine(
                        dot(vec_col, s.getField("_scent")),
                        F.col("vec_norm"),
                        s.getField("_snorm"),
                    ),
                    6,
                ),
                inf,
            ).alias("_key"),
            s.getField("_sub").alias("_sub"),
        ),
    )
    # the size() filter (not a null-check on the picked struct)
    # mirrors ivf_assign's pushdown landmine note and preserves the
    # old INNER join's drop of vectors whose cell has no seeds (only
    # possible for an empty map lookup); element_at is a cheap map
    # probe, safe to re-evaluate in the pushed filter
    scored = (
        a1.crossJoin(F.broadcast(packed))
        .withColumn("_cand", F.element_at("_smap", F.col("_l1")))
        .filter(F.size("_cand") > 0)
        .withColumn("_s", F.array_min(cand))
    )
    out = [
        F.col(id_col), F.col(vec_col), F.col("vec_norm"),
        (F.col("_l1").cast("long") * F.lit(k2) + F.col("_s._sub")).alias(
            "cell_id"
        ),
    ]
    if keep_sim:
        # -(-sim) restores the exact stored double (incl. -0.0); the
        # +inf sentinel maps back to the NULL the old window emitted
        out.append(
            F.when(F.col("_s._key") != inf, -F.col("_s._key")).alias(
                "centroid_sim"
            )
        )
    return scored.select(*out)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | str = 8,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
    refine_iters: int = 0,
) -> DataFrame:
    """IVF-Flat ANN top-k: corpus vectors live in their nearest cell;
    each query probes its `nprobe` nearest cells and scores only those
    vectors. The scale shape: corpus shuffles ONCE by cell_id (then can
    be written bucketed-by-cell and reused across query batches); per
    query the work is |corpus|/n_cells * nprobe instead of |corpus|.

    `n_cells="auto"` sizes the quantizer to ~sqrt(corpus)
    (`knobs.ivf_auto_cells` — balances per-query cell scan against
    centroid scan); explicit integers stay the deterministic oracle
    override."""
    from flink_etl_spark.operators.knobs import ivf_auto_cells, resolve_knob

    n_cells = resolve_knob(n_cells, ivf_auto_cells, corpus, n_vecs)
    cents = _ivf_quantizer(corpus, n_cells, id_col, vec_col, refine_iters)
    c = ivf_assign(corpus, cents, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("vec_norm").alias("cn"),
        "cell_id",
    )
    q = ivf_assign(queries, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("vec_norm").alias("qn"),
        # renamed so the candidate join predicate is between two
        # distinctly-named columns — the r1 `c.cell_id == q.cell_id`
        # construction warned "trivially true equals predicate" and was
        # one refactor away from a silently-degenerate self-join
        F.col("cell_id").alias("q_cell_id"),
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("cell_id") == F.col("q_cell_id")),
        )
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("qv", "cv"), F.col("qn"), F.col("cn")), 6)
        )
        # a neighbor can appear via several probed cells -> dedup pairs
        .select("query_id", "neighbor_id", "cos_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def signlsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | str = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
) -> DataFrame:
    """ANN top-k: score only corpus vectors in the query's bucket.

    Approximate by design (neighbors across a hyperplane are missed —
    recall tunes with n_planes and multi-probe); the candidate join is
    bucket-equi so Catalyst shuffles corpus once by bucket instead of
    cross-joining. Bucket boundaries are deterministic: dot products are
    double-precision and compared to 0, with plane vectors taken from
    the data itself.

    `n_planes="auto"` sizes the bucket space to ~32 vectors per bucket
    from the corpus count (`knobs.signlsh_auto_planes`); explicit
    integers stay the deterministic oracle override."""
    from flink_etl_spark.operators.knobs import resolve_knob, signlsh_auto_planes

    n_planes = resolve_knob(n_planes, signlsh_auto_planes, corpus, n_vecs)
    planes = hyperplanes(corpus, n_planes, id_col, vec_col)
    cb = signlsh_buckets(corpus, planes, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    qb = signlsh_buckets(queries, planes, id_col, vec_col).withColumnRenamed(
        id_col, "query_id"
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    ).join(cb, "neighbor_id")
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            norm(vec_col).alias("qn"),
        )
        .join(qb, "query_id")
        # distinct name for the join key — see ivf_topk note
        .withColumnRenamed("bucket", "q_bucket")
    )
    scored = (
        c.join(F.broadcast(q), (F.col("query_id") != F.col("neighbor_id"))
               & (F.col("bucket") == F.col("q_bucket")))
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("qv", "cv"), F.col("qn"), F.col("cn")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def signlsh_bucket_margins(
    embs: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucket assignment PLUS per-plane margins: alongside the 2^H
    bucket, keep each plane's |dot| margin sorted ascending — the
    planes whose hyperplane the vector sits closest to, i.e. the bit
    flips most likely to recover a missed neighbor. Margins are rounded
    to 6 dp before sorting (ties break on plane_id) so the probe order
    is reproducible across engines."""
    joined = embs.join(F.broadcast(planes))
    d = dot(vec_col, "plane")
    bit = (
        F.when(d > 0, F.expr("shiftleft(1, plane_id)"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    return joined.groupBy(id_col).agg(
        F.sum(bit).cast("long").alias("bucket"),
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.round(F.abs(d), 6).alias("m"),
                    F.col("plane_id").alias("p"),
                )
            )
        ).alias("margins"),
    )


def signlsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int | str = 4,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
) -> DataFrame:
    """Multi-probe sign-LSH ANN top-k: each query searches its own
    bucket PLUS `n_probe` neighboring buckets obtained by flipping its
    lowest-margin bits (Lv et al., VLDB'07 multi-probe LSH). Recall
    rises with n_probe at a cost of (1 + n_probe)x candidate volume —
    the knob any training-data user reaches for when single-bucket
    recall is not enough.

    Scale shape is unchanged from signlsh_topk: the corpus still
    shuffles ONCE by bucket; only the (broadcast) query side fans out
    1 + n_probe probe rows per query before the bucket-equi join.
    Candidate pairs reached via several probes are deduped before
    ranking. `n_planes="auto"` as in `signlsh_topk`."""
    from flink_etl_spark.operators.knobs import resolve_knob, signlsh_auto_planes

    n_planes = resolve_knob(n_planes, signlsh_auto_planes, corpus, n_vecs)
    if not 0 <= n_probe < n_planes:
        raise ValueError(f"n_probe must be in [0, {n_planes}), got {n_probe}")
    planes = hyperplanes(corpus, n_planes, id_col, vec_col)
    cb = signlsh_buckets(corpus, planes, id_col, vec_col).withColumnRenamed(
        id_col, "neighbor_id"
    )
    qm = signlsh_bucket_margins(queries, planes, id_col, vec_col)
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.expr(f"bucket ^ shiftleft(CAST(1 AS BIGINT), margins[{j}].p)")
            for j in range(n_probe)
        ],
    )
    qb = qm.select(
        F.col(id_col).alias("query_id"),
        F.explode(probe_buckets).alias("q_bucket"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        norm(vec_col).alias("cn"),
    ).join(cb, "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        norm(vec_col).alias("qn"),
    ).join(qb, "query_id")
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("bucket") == F.col("q_bucket")),
        )
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("qv", "cv"), F.col("qn"), F.col("cn")), 6)
        )
        # same pair may arrive via several probes -> dedup before rank
        .select("query_id", "neighbor_id", "cos_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def ivf_build_index(
    corpus: DataFrame,
    index_path: str,
    n_cells: int | str = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_vecs: int | None = None,
    refine_iters: int = 0,
) -> None:
    """Materialize an IVF index: centroids + the cell-assigned corpus
    written as parquet PARTITIONED BY cell_id. Build once, search many
    — the corpus is scanned and cell-assigned exactly once, and every
    later query batch reads ONLY its probed cells' directories
    (partition pruning on the `cell_id=` layout), i.e. nprobe/n_cells
    of the index instead of the corpus. `n_cells="auto"` as in
    `ivf_topk` — the knob is resolved at BUILD time and baked into the
    index layout, so searches need no knowledge of it."""
    from flink_etl_spark.operators.knobs import ivf_auto_cells, resolve_knob

    n_cells = resolve_knob(n_cells, ivf_auto_cells, corpus, n_vecs)
    # consumed TWICE (the centroids write + the assignment broadcast):
    # a lazy corpus-derived table would be two corpus passes at scale
    cents = _ivf_quantizer(corpus, n_cells, id_col, vec_col, refine_iters)
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    # centroid_sim rides along (free at build time): the incremental
    # SemDeDup consumer (dedup.semdedup_incremental) needs each staged
    # vector's similarity to its own centroid for the keep-rule duel;
    # search consumers simply ignore the column
    assigned = ivf_assign(corpus, cents, 1, id_col, vec_col, keep_sim=True)
    (
        assigned.select(id_col, vec_col, "vec_norm", "cell_id", "centroid_sim")
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(f"{index_path}/cells")
    )


def ivf_search_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    allowed: DataFrame | None = None,
) -> DataFrame:
    """Top-k search against a staged IVF index (`ivf_build_index`).
    Queries are assigned to their nprobe nearest cells using the STAGED
    centroids; the candidate join reads the staged cell partitions —
    Catalyst prunes to the probed `cell_id=` directories (dynamic
    partition pruning from the broadcast query side), so the scan cost
    is the probed cells, not the corpus. Scores identically to
    `ivf_topk` by construction. `allowed` (a frame carrying `id_col`)
    restricts neighbors filter-then-rank — top-k among the allowed
    set."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    cells = _allowed_semi(
        spark.read.parquet(f"{index_path}/cells"), allowed, id_col
    )
    q = ivf_assign(queries, cents, nprobe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("vec_norm").alias("qn"),
        F.col("cell_id").alias("q_cell_id"),
    )
    c = cells.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col("vec_norm").alias("cn"),
        "cell_id",
    )
    scored = (
        c.join(
            F.broadcast(q),
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("cell_id") == F.col("q_cell_id")),
        )
        .withColumn(
            "cos_sim", F.round(safe_cosine(dot("qv", "cv"), F.col("qn"), F.col("cn")), 6)
        )
        .select("query_id", "neighbor_id", "cos_sim")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the canonical embedding-compression ANN
# (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
# Search"): split each (unit-normalized) vector into m subvectors,
# quantize each against a per-subspace codebook of n_codes codewords,
# and the corpus becomes m small ints per vector — m bytes at
# n_codes <= 128. Search is asymmetric distance computation (ADC): the
# query precomputes an m x n_codes table of exact subspace distances
# row-locally, and scoring a neighbor is m table lookups, never a
# float-vector read. At 100 TB this is the difference between shipping
# 256-dim float arrays (1 KB/vec) and 8 bytes/vec through every scan
# and shuffle. Codebooks are data-derived (subvectors of the n_codes
# smallest ids, the `ivf_centroids`/`hyperplanes` determinism recipe)
# with optional per-subspace Lloyd refinement; everything rounds at
# 6 dp with id tie-breaks, so the whole path is oracle-replicable.
# ---------------------------------------------------------------------------


def _l2sq(a, b):
    """Sequential squared L2 between two double arrays (same fold
    order as `dot` — oracle-matched)."""
    diffs = F.zip_with(a, b, lambda x, y: (x - y) * (x - y))
    return F.aggregate(diffs, F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def pq_codebooks(
    embs: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
) -> DataFrame:
    """Per-subspace PQ codebooks: one row per (sub_id, code_id,
    codeword), codewords in UNIT-NORMALIZED space (PQ approximates
    angular distance here, matching the cosine family; zero vectors
    pass through unnormalized). Seeds are the subvectors of the
    n_codes smallest-id vectors — deterministic and SQL-replicable;
    `refine_iters` runs per-subspace Lloyd passes (distributed means
    via posexplode, rounded 6 dp, empty code keeps its codeword — the
    `ivf_centroids` refinement recipe, pinned to 0 in oracle gates).

    The vector dimension must be divisible by m; encode/search raise
    (expression-level guard) on a row that is not."""
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    if not (2 <= n_codes <= 128):
        raise ValueError(
            f"n_codes must be in [2, 128] (codes are tinyint — one "
            f"BYTE per subspace per vector), got {n_codes}"
        )
    from flink_etl_spark.functions.vectors import l2_normalize

    nv_frame = embs.select(F.col(id_col), l2_normalize(vec_col).alias("_nv"))
    seeds = _pq_seeds(nv_frame, n_codes, id_col)
    subs = F.sequence(F.lit(0), F.lit(m - 1))
    d_sub = _guarded_dsub("_nv", m)
    cbs = seeds.select(
        "code_id",
        F.explode(
            F.transform(
                subs,
                lambda s: F.struct(
                    s.cast("int").alias("sub_id"),
                    F.slice(F.col("_nv"), s * d_sub + 1, d_sub).alias(
                        "codeword"
                    ),
                ),
            )
        ).alias("_e"),
    ).select(F.col("_e.sub_id"), "code_id", F.col("_e.codeword"))

    for _ in range(refine_iters):
        assigned = _pq_assign_subs(embs, cbs, m, id_col, vec_col)
        means = (
            assigned.select(
                "sub_id", "code",
                F.posexplode("subvec").alias("_d", "_v"),
            )
            .groupBy("sub_id", "code", "_d")
            .agg(F.avg("_v").alias("_m"))
            .groupBy("sub_id", "code")
            .agg(F.array_sort(F.collect_list(F.struct("_d", "_m"))).alias("_a"))
            .select(
                F.col("sub_id").alias("_sid"),
                F.col("code").alias("_cid"),
                F.transform(
                    "_a", lambda s: F.round(s.getField("_m"), 6)
                ).alias("_mean"),
            )
        )
        cbs = (
            cbs.join(
                means,
                (cbs.sub_id == means._sid) & (cbs.code_id == means._cid),
                "left",
            )
            .select(
                "sub_id",
                "code_id",
                F.coalesce(F.col("_mean"), F.col("codeword")).alias("codeword"),
            )
        )
    return cbs


def _pq_seeds(nv_frame: DataFrame, n_codes: int, id_col: str) -> DataFrame:
    """(code_id, _nv): the n_codes smallest-id rows of a (id, _nv)
    frame, re-labeled 0..n-1 — the deterministic seed pick shared by
    plain-PQ (normalized vectors) and IVF-PQ (cell residuals)."""
    packed = (
        nv_frame.orderBy(id_col)
        .limit(n_codes)
        .agg(F.array_sort(F.collect_list(F.struct(id_col, "_nv"))).alias("_a"))
    )
    return packed.select(F.posexplode("_a").alias("_code", "_s")).select(
        F.col("_code").cast("int").alias("code_id"),
        F.col("_s._nv").alias("_nv"),
    )


def _pq_codes_arrow(nv_frame: DataFrame, cb_vals, m: int,
                    id_cols: list[str]) -> DataFrame:
    """Vectorized (Arrow/numpy) twin of the expression encode — §4.2:
    the expression argmin interprets m * n_codes * d_sub HOF lambda
    steps per row (~530 vec/s/core measured at dim 64, m=8,
    n_codes=16); this form computes all rows' subspace distance
    matrices with vectorized numpy and is row-for-row identical:

    * distances replay the exact IEEE fold: acc = acc + (x-y)^2 over
      j in subvector order, each step a correctly-rounded float64 op —
      bit-identical to `_l2sq`'s sequential aggregate.
    * the argmin replays `array_min(struct(round(d, 6), position))`:
      raw argmin when unique (rounding is monotone, so the raw argmin
      IS the rounded argmin), and for near-ties (within 1e-6 + slack)
      the exact HALF_UP-on-shortest-decimal rounding Spark applies to
      doubles (`_spark_round6`, pinned against Spark's own round in
      tests/test_extensions.py::test_spark_round6_twin) decides
      equality, then the smallest array position wins — the same
      (d, index) struct ordering.
    * degenerate shapes replicate the probed expression contract:
      NULL vector / NULL element / empty subvector / length-mismatched
      codeword all NULL-poison every affected distance, and a NULL d
      ranks FIRST in the struct ordering, so the smallest affected
      position wins (a NULL vector encodes as [0]*m); NaN ranks LAST
      (Spark's NaN-greatest ordering), non-finite ties break on
      position.

    `cb_vals` is the driver-collected codebook (m lists of codewords
    in code_id order — a bounded m * n_codes fetch; the emitted code
    is the POSITION in that order, exactly the expression's lambda
    index). The batch fn is self-contained (closes over plain
    lists/ints, imports numpy inside) — executors under the external
    driver do not have the repo on sys.path."""
    from pyspark.sql.types import (
        ArrayType, ByteType, StructField, StructType,
    )

    fields = [nv_frame.schema[c] for c in id_cols]
    schema = StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in fields]
        + [StructField("codes", ArrayType(ByteType()))]
    )
    idns = [f.name for f in fields]
    mm = m
    cb_lists = [[list(map(float, cw)) for cw in sub] for sub in cb_vals]

    def encode_batches(batches):
        import math

        import numpy as np
        import pandas as pd

        from decimal import Decimal, ROUND_HALF_UP

        q6 = Decimal("1e-6")

        def r6(x):
            # Spark round(double, 6): HALF_UP on the SHORTEST decimal
            # representation (BigDecimal.valueOf semantics — probed:
            # round(5e-7, 6) = 1e-6, though 5e-7's exact binary
            # expansion is below the halfway point)
            return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

        n_codes = len(cb_lists[0]) if cb_lists else 0
        cb_arrs = [
            [np.asarray(cw, dtype=np.float64) for cw in sub]
            for sub in cb_lists
        ]

        def encode_group(X, d_sub, R):
            out = np.zeros((R, mm), dtype=np.int64)
            for s in range(mm):
                cws = cb_arrs[s]
                poisoned = [
                    i for i, cw in enumerate(cws) if cw.shape[0] != d_sub
                ]
                if poisoned:
                    # zip_with pads the shorter side with NULL -> the
                    # distance is NULL -> ranks FIRST; the smallest
                    # poisoned position wins for every row
                    out[:, s] = min(poisoned)
                    continue
                Xs = X[:, s * d_sub:(s + 1) * d_sub]
                acc = np.zeros((R, n_codes), dtype=np.float64)
                for j in range(d_sub):
                    d = Xs[:, j][:, None] - np.array(
                        [cw[j] for cw in cws], dtype=np.float64
                    )[None, :]
                    acc = acc + d * d
                # NULL elements arrive as NaN; a NaN-poisoned
                # subvector poisons every code equally, and both the
                # NULL-first and NaN-last orderings then collapse to
                # the smallest position — +inf substitution makes
                # numpy's selection agree
                sel = np.where(np.isnan(acc), np.inf, acc)
                dmin = sel.min(axis=1)
                first = sel.argmin(axis=1)
                # tie candidates: anything that can round-equal the
                # min. 1e-6 + slack covers the grid distance; the
                # 4-ulp term keeps the bound unabsorbed for huge
                # distances (ulp > 1e-6 past |d| ~ 4e9), where the
                # shortest-decimal slack also scales with ulp
                with np.errstate(invalid="ignore"):
                    bound = np.where(
                        np.isfinite(dmin),
                        dmin + (1.01e-6 + 4.0 * np.spacing(np.abs(dmin))),
                        np.inf,  # non-finite min: every code is a
                        # candidate, the slow path orders inf vs NaN
                    )
                cand = sel <= bound[:, None]
                multi = cand.sum(axis=1) > 1
                out[:, s] = first
                for r in np.nonzero(multi)[0]:
                    dm = float(dmin[r])
                    row = sel[r]
                    if not math.isfinite(dm):
                        # non-finite ties: real +inf outranks NaN
                        # (Spark orders NaN greatest); position breaks
                        real = np.nonzero(
                            (acc[r] == np.inf) & (row == dm)
                        )[0]
                        pool = real if real.size else np.nonzero(
                            row == dm
                        )[0]
                        out[r, s] = int(pool[0])
                        continue
                    r0 = r6(dm)
                    for c in np.nonzero(cand[r])[0]:
                        if r6(float(row[c])) == r0:
                            out[r, s] = int(c)
                            break
                # positions past 127 wrap exactly like the
                # expression's int -> tinyint cast
            return ((out + 128) % 256 - 128).astype(np.int8)

        for pdf in batches:
            vecs = pdf["_nv"]
            R_all = len(vecs)
            lens = np.fromiter(
                ((-1 if v is None else len(v)) for v in vecs),
                dtype=np.int64, count=R_all,
            )
            codes_out = [None] * R_all
            for n in np.unique(lens):
                idx = np.nonzero(lens == n)[0]
                n = int(n)
                if n < 0:
                    # NULL vector: every distance NULL -> [0]*m
                    # (probed expression contract)
                    for i in idx:
                        codes_out[i] = [0] * mm
                    continue
                if n % mm != 0:
                    raise ValueError(
                        f"PQ: vector dimension {n} is not divisible "
                        f"by m={mm}"
                    )
                d_sub = n // mm
                X = np.empty((len(idx), n), dtype=np.float64)
                for k, i in enumerate(idx):
                    X[k] = np.asarray(vecs.iloc[i], dtype=np.float64)
                grp = encode_group(X, d_sub, len(idx))
                for k, i in enumerate(idx):
                    codes_out[i] = [int(c) for c in grp[k]]
            data = {c: pdf[c] for c in idns}
            data["codes"] = pd.Series(codes_out, dtype="object")
            yield pd.DataFrame(data)

    return nv_frame.select(*[F.col(c) for c in idns], "_nv").mapInPandas(
        encode_batches, schema
    )


#: size floor for `_pq_codes_on(engine="auto", size_hint_bytes=...)`:
#: below this the arrow arm's fixed costs (bounded codebook collect,
#: Python worker spin-up, Arrow transfer) exceed the whole expression
#: cost. The measured crossover is "a few thousand rows per call"
#: (deployment rule below) ~ 1 MiB of raw dim-64 float32 vectors;
#: 8 MiB keeps a wide safety margin so the many tiny lifecycle
#: re-encodes (hundreds of rows, KBs) stay on the expression arm and
#: only genuinely batch-scale appends pay the arrow fixed costs.
_PQ_ARROW_MIN_BYTES = 8 * 1024 * 1024


def _pq_codes_on(nv_frame: DataFrame, codebooks: DataFrame, m: int,
                 id_cols: list[str], engine: str = "expr",
                 size_hint_bytes: int | None = None) -> DataFrame:
    """Encode a (…ids…, _nv) frame against codebooks: adds a `codes`
    ARRAY<TINYINT> column via the zero-shuffle packed-broadcast
    argmin; `id_cols` are carried through.

    ``engine`` (r14): "expr" (default) is the pure-JVM expression
    argmin below (the oracle-portable reference); "arrow" vectorizes
    the distance matrices in numpy (`_pq_codes_arrow` — row-identical
    by the exact IEEE fold replay + the pinned round-HALF_UP twin for
    ties); "auto" picks arrow when numpy imports on the driver AND
    the input is at least `_PQ_ARROW_MIN_BYTES` by the caller's
    ``size_hint_bytes`` (r15 — None means "caller asserts batch
    scale", preserving the r14 corpus-encode behavior; pass the
    plan-estimated `_plan_size_bytes` so tiny lifecycle re-encodes
    stay on the expression arm per the crossover below).

    DEPLOYMENT RULE (measured, local[32]): arrow wins the
    corpus-encode regime and loses the tiny-job regime, so the
    default stays expr and corpus encodes opt in. At dim 256 / m=16 /
    n_codes=128 and 20k vectors arrow is 13x (0.68 s vs 8.80 s; the
    expression argmin interprets m*n_codes*d_sub lambda steps per
    row, arrow streams the same flops through vectorized numpy); at
    dim 64 / m=8 / n_codes=16 and 100k vectors it is 1.8x; BELOW a
    few thousand rows per call the arrow fixed costs (one bounded
    codebook collect at construction + Python worker spin-up +
    Arrow transfer) exceed the whole expression cost — the ANN
    lifecycle gates (many tiny re-encodes at sf0.01) measured
    ~+20-50%% wall under a blanket arrow default, which is why auto
    is NOT the default here (contrast `media_perceptual_hashes`,
    whose expression arm loses at every size). The arrow arm's
    codebook collect also makes construction eager — anchor the
    codebook frame first (every in-repo heavy path already does) or
    a lazy codebook derivation replays once for the collect."""
    if engine not in ("auto", "expr", "arrow"):
        raise ValueError(
            f"engine must be 'auto', 'expr' or 'arrow', got {engine!r}"
        )
    if engine == "auto":
        if (
            size_hint_bytes is not None
            and size_hint_bytes < _PQ_ARROW_MIN_BYTES
        ):
            engine = "expr"
        else:
            # full driver-side stack probe (mapInPandas = numpy +
            # pandas + pyarrow, not just numpy — ADVICE r14); executors
            # must carry the same packages on a real cluster
            try:
                import numpy  # noqa: F401
                import pandas  # noqa: F401
                import pyarrow  # noqa: F401

                engine = "arrow"
            except Exception:
                engine = "expr"
    if engine == "arrow":
        rows = codebooks.select("sub_id", "code_id", "codeword").collect()
        by_sub: dict = {}
        ok = True
        for r in rows:
            cw = r["codeword"]
            if cw is None or any(x is None for x in cw):
                ok = False  # NULL codeword: expression semantics only
                break
            by_sub.setdefault(r["sub_id"], []).append(
                (r["code_id"], list(cw))
            )
        if ok and sorted(by_sub) == list(range(m)) and all(
            len(v) > 0 for v in by_sub.values()
        ) and len({len(v) for v in by_sub.values()}) == 1:
            cb_vals = [
                [cw for _, cw in sorted(by_sub[s])] for s in range(m)
            ]
            return _pq_codes_arrow(nv_frame, cb_vals, m, id_cols)
        # malformed codebook (NULL codewords, missing subs): keep the
        # expression form's exact semantics rather than guess
    packed = _pq_packed(codebooks)
    d_sub = _guarded_dsub("_nv", m)
    staged = nv_frame.crossJoin(F.broadcast(packed)).withColumn(
        "_subs",
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.slice(F.col("_nv"), s * d_sub + 1, d_sub),
        ),
    )
    codes = F.transform(
        F.col("_subs"),
        lambda sv, s: F.array_min(
            F.transform(
                F.element_at(F.col("_cb"), s + 1),
                lambda cw, c: F.struct(
                    F.round(_l2sq(sv, cw), 6).alias("d"),
                    c.cast("int").alias("code"),
                ),
            )
        ).getField("code"),
    )
    return staged.select(
        *[F.col(c) for c in id_cols],
        codes.cast("array<tinyint>").alias("codes"),
    )


def _guarded_dsub(vec_col: str, m: int):
    """size/m with an expression-level divisibility guard — a silent
    truncated tail would quantize garbage."""
    n = F.size(F.col(vec_col))
    return F.when(
        n % m == 0, (n / m).cast("int")
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"PQ: vector dimension "),
                n.cast("string"),
                F.lit(f" is not divisible by m={m}"),
            )
        ).cast("int")
    )


def _pq_packed(codebooks: DataFrame) -> DataFrame:
    """ONE-row broadcastable form: _cb[sub][code] = codeword (both
    1-indexed via element_at downstream)."""
    return (
        codebooks.groupBy("sub_id")
        .agg(F.array_sort(F.collect_list(F.struct("code_id", "codeword"))).alias("_a"))
        .groupBy()
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "_a"))).alias("_b"))
        .select(
            F.transform(
                "_b",
                lambda s: F.transform(
                    s.getField("_a"), lambda c: c.getField("codeword")
                ),
            ).alias("_cb")
        )
    )


def _pq_assign_subs(
    embs: DataFrame, codebooks: DataFrame, m: int, id_col: str, vec_col: str
) -> DataFrame:
    """(id, sub_id, subvec, code) — refinement's working form; the
    argmin is a row-local array_min over (rounded dist, code_id)
    structs, the same deterministic tie-break as `ivf_assign`."""
    from flink_etl_spark.functions.vectors import l2_normalize

    packed = _pq_packed(codebooks)
    d_sub = _guarded_dsub("_nv", m)
    staged = (
        embs.select(F.col(id_col), l2_normalize(vec_col).alias("_nv"))
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_subs",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("_nv"), s * d_sub + 1, d_sub),
            ),
        )
    )
    exploded = staged.select(
        F.col(id_col), F.posexplode("_subs").alias("sub_id", "subvec"),
        "_cb",
    )
    codes_col = F.element_at(F.col("_cb"), F.col("sub_id") + 1)
    best = F.array_min(
        F.transform(
            codes_col,
            lambda cw, c: F.struct(
                F.round(_l2sq(F.col("subvec"), cw), 6).alias("d"),
                c.cast("int").alias("code"),
            ),
        )
    )
    return exploded.select(
        F.col(id_col), "sub_id", "subvec", best.getField("code").alias("code")
    )


def pq_recon_error(
    embs: DataFrame,
    codebooks: DataFrame,
    m: int,
    vec_col: str = "embedding",
) -> float:
    """Mean PQ reconstruction error of a frame against codebooks: for
    each (l2-normalized) vector, the sum over subspaces of the squared
    L2 distance to its NEAREST codeword — the ADC distance of the
    vector to its own codes. This is the flat-PQ analogue of
    `mean_centroid_sim`: a production-monitorable quantizer-fit signal
    needing NO ground truth and no centroids (flat PQ has none) —
    frozen codebooks reconstruct a drifted batch worse, so the error
    RISES monotonically as the distribution leaves the build-time
    corpus (decay curve: `drift_probe --flat` [retired; in git
    history], table in docs/SCALING.md). Zero shuffle: the packed codebook broadcasts as
    one row, the per-subspace min-distance is a row-local array_min,
    and one avg aggregates the batch. Returns 0.0 for an empty frame
    (and legitimately ~0.0 when every vector was a codebook seed)."""
    from flink_etl_spark.functions.vectors import l2_normalize

    packed = _pq_packed(codebooks)
    d_sub = _guarded_dsub("_nv", m)
    staged = (
        embs.select(l2_normalize(vec_col).alias("_nv"))
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_subs",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.slice(F.col("_nv"), s * d_sub + 1, d_sub),
            ),
        )
    )
    dists = F.transform(
        F.col("_subs"),
        lambda sv, s: F.array_min(
            F.transform(
                F.element_at(F.col("_cb"), s + 1),
                lambda cw: F.round(_l2sq(sv, cw), 6),
            )
        ),
    )
    row = (
        staged.select(
            F.aggregate(dists, F.lit(0.0), lambda a, x: a + x).alias("_e")
        )
        .agg(F.avg("_e").alias("e"))
        .first()
    )
    return round(row["e"], 6) if row and row["e"] is not None else 0.0


def pq_drift_check(
    spark,
    index_path: str,
    batch: DataFrame,
    vec_col: str = "embedding",
    rebuild_above: float = 2.0,
    meta: dict | None = None,
    codebooks: DataFrame | None = None,
) -> dict:
    """Quantizer-drift check for a batch about to be appended to a
    staged FLAT-PQ index — the centroid-less counterpart of
    `ann_drift_check` (flat PQ has no coarse centroids, so the
    similarity-based monitor cannot apply; README documents the gap
    this closes): encodes the batch against the index's frozen
    codebooks and compares its mean reconstruction error
    (`pq_recon_error`) with the BUILD-TIME baseline recorded in
    `_PQ_META.json`. Returns ``{"batch_err", "baseline_err", "ratio",
    "rebuild_recommended"}`` and warns when the ratio EXCEEDS
    ``rebuild_above`` (errors rise under drift — the inverse sense of
    the IVF-PQ similarity ratio). The default 2.0 comes from the
    measured curve (`drift_probe --flat` [retired; in git history]):
    recall is flat until the error roughly doubles and sags beyond it.

    A baseline that is missing (pre-r10 index), zero (every build
    vector was a seed — nothing to reconstruct imperfectly), or
    negative (corrupt sidecar) is UN-CHECKABLE: warns monitor-off and
    returns ratio 1.0, never a rebuild flag off bad math (the
    `ann_drift_check` baseline guard, mirrored).

    ``meta`` / ``codebooks`` inject the frozen inputs for cadence
    callers — same contract as `ann_drift_check` (read once at
    attach; a rebuild is a new path + re-attach, so never stale)."""
    if meta is None:
        meta = PQ_META.require(spark, index_path)
    guarded = _dim_guarded(batch, vec_col, int(meta["dim"]), "drift check")
    cbs = (
        codebooks
        if codebooks is not None
        else spark.read.parquet(f"{index_path}/codebooks")
    )
    batch_err = pq_recon_error(guarded, cbs, int(meta["m"]), vec_col)
    baseline = meta.get("mean_recon_err")
    checkable = baseline is not None and baseline > 0
    if baseline is not None and baseline <= 0:
        import warnings

        warnings.warn(
            f"PQ index at {index_path}: recorded baseline mean_recon_err "
            f"{baseline} is <= 0 — the drift ratio is undefined there; "
            "rebuild the index over a corpus larger than n_codes to "
            "record a usable baseline. Returning ratio 1.0 with the "
            "monitor OFF",
            UserWarning,
            stacklevel=2,
        )
    ratio = round(batch_err / baseline, 4) if checkable else 1.0
    out = {
        "batch_err": batch_err,
        "baseline_err": baseline,
        "ratio": ratio,
        # False = monitor OFF (missing/zero/negative baseline), so a
        # scheduler can tell "healthy" from "un-checkable" (ADVICE r10)
        "checkable": checkable,
        "rebuild_recommended": checkable and ratio > rebuild_above,
    }
    if out["rebuild_recommended"]:
        import warnings

        warnings.warn(
            f"PQ index at {index_path}: appended-batch mean reconstruction "
            f"error {batch_err} is {ratio:.1f}x the build-time baseline "
            f"{baseline} (> {rebuild_above:.1f}x) — the codebooks have "
            "drifted; rebuild the index (pq_build_index to a new path, "
            "refine_iters>=1) and cut searches over",
            UserWarning,
            stacklevel=2,
        )
    return out


def pq_encode(
    embs: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    engine: str = "expr",
) -> DataFrame:
    """Encode the corpus: (id, codes ARRAY<TINYINT>) — m bytes per
    vector. ZERO shuffles: the packed codebook broadcasts as one row
    and the per-subspace argmin is a row-local array_min over
    (rounded dist, code_id) structs. This is the frame you stage to
    parquet and scan at 100 TB instead of the float corpus.

    ``engine="arrow"`` (r14) is the lever for exactly that 100 TB
    staging pass: the vectorized numpy argmin, row-identical by pin
    test, 13x at dim 256 / m=16 / n_codes=128 — see the deployment
    rule on `_pq_codes_on` for when it wins (corpus encodes) and
    when the expression default does (tiny interactive jobs)."""
    from flink_etl_spark.functions.vectors import l2_normalize

    return _pq_codes_on(
        embs.select(F.col(id_col), l2_normalize(vec_col).alias("_nv")),
        codebooks, m, [id_col], engine=engine,
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: DataFrame | None = None,
    codes: DataFrame | None = None,
    rerank: int = 1,
) -> DataFrame:
    """PQ-ADC ANN top-k: queries precompute their m x n_codes exact
    subspace distance tables ROW-LOCALLY (one crossJoin with the
    1-row packed codebook), the encoded corpus broadcasts-joins the
    query batch, and each candidate costs m table lookups. Scores are
    the ADC angular approximation `cos ~ 1 - ||q - c~||^2 / 2` (unit
    vectors), rounded 6 dp, ranked desc with neighbor-id tie-break —
    the `ivf_topk` output contract (query_id, neighbor_id, cos_sim,
    rnk).

    ``rerank=R > 1`` is the standard two-stage recipe (Jégou et al.
    2011 §V): ADC shortlists R*k candidates per query, then ONLY the
    shortlist's raw vectors are fetched (id-keyed semi-join — R*k*|Q|
    rows, never the corpus) and rescored with exact cosine; cos_sim
    in the output is then exact. The compressed scan does the heavy
    elimination; the float reads are bounded by the shortlist.

    Pass `codebooks`/`codes` to reuse a trained+encoded corpus (the
    build-once/search-many shape — both are tiny-per-vector parquet
    stages); omitted, both derive in-job (deterministic seeds)."""
    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    if codebooks is None:
        codebooks = pq_codebooks(
            corpus, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col
        )
    if codes is None:
        codes = pq_encode(corpus, codebooks, m=m, id_col=id_col, vec_col=vec_col)
    else:
        # pre-built codes: a caller m smaller than the staged code
        # arrays would silently truncate the ADC sum (element_at
        # returns null / partial sums depending on ANSI mode) — guard
        # expression-side, mirroring the _IVFPQ_META.json discipline
        codes = codes.withColumn(
            "codes",
            F.when(F.size("codes") == m, F.col("codes")).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("PQ: staged codes have "),
                        F.size("codes").cast("string"),
                        F.lit(f" subspaces but m={m} was passed — "
                              "mismatched m silently mis-ranks"),
                    )
                ).cast("array<tinyint>")
            ),
        )
    from flink_etl_spark.functions.vectors import l2_normalize

    packed = _pq_packed(codebooks)
    d_sub = _guarded_dsub("_nv", m)
    q = (
        queries.select(
            F.col(id_col).alias("query_id"), l2_normalize(vec_col).alias("_nv")
        )
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_dtab",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.transform(
                    F.element_at(F.col("_cb"), s + 1),
                    lambda cw: _l2sq(
                        F.slice(F.col("_nv"), s * d_sub + 1, d_sub), cw
                    ),
                ),
            ),
        )
        .select("query_id", "_dtab")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0).cast("double"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("_dtab"), s + 1),
            F.element_at(F.col("codes"), s + 1).cast("int") + 1,
        ),
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", F.round(F.lit(1.0) - adc / F.lit(2.0), 6))
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return _rank_and_rerank(
        scored, k, rerank, corpus, queries, id_col, vec_col
    )


def _rank_and_rerank(
    scored: DataFrame, k: int, rerank: int,
    corpus: DataFrame | None, queries: DataFrame | None,
    id_col: str, vec_col: str,
) -> DataFrame:
    """Shared PQ/IVF-PQ tail: rank (query_id, neighbor_id, cos_sim)
    desc with neighbor-id tie-break; with rerank > 1, ADC shortlists
    R*k and ONLY the shortlist's raw vectors are fetched (id-keyed
    join) and rescored with exact cosine. `corpus` must be provided
    when rerank > 1 (the staged-index search takes it explicitly —
    the index stores codes, not floats).

    DUPLICATE-TOLERANT by design: a search that overlaps an ANN-index
    compaction swap may see each staged row TWICE (the additive
    move-new-then-delete-old swap — `compact_ann_index`'s reader
    contract: duplicated rows, never missing ones). Ranking therefore
    cuts the scored stream at 2*k*rerank with `row_number` FIRST —
    keeping the WindowGroupLimit top-k pushdown on the big stream;
    the doubled cut provably still contains the top k*rerank DISTINCT
    candidates since each appears at most twice — then collapses
    byte-identical duplicates and re-ranks the <= 2*k*rerank
    survivors per query. Neither step adds an exchange (both the
    dropDuplicates keys and the second window are clustered by the
    first window's query_id partitioning); with no duplicates the
    result is bit-identical to the plain row_number rank."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    top = (
        scored.select("query_id", "neighbor_id", "cos_sim")
        .withColumn("_r0", F.row_number().over(w))
        .filter(F.col("_r0") <= 2 * k * rerank)
        .drop("_r0")
        .dropDuplicates(["query_id", "neighbor_id", "cos_sim"])
    )
    ranked = (
        top.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k * rerank)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )
    if rerank == 1:
        return ranked
    if corpus is None:
        raise ValueError("rerank > 1 needs the raw corpus for rescoring")
    cand = ranked.select("query_id", "neighbor_id")
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    exact = (
        cand.join(cv, "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "cos_sim",
            F.round(safe_cosine(dot("_qv", "_cv"), norm("_qv"), norm("_cv")), 6),
        )
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


def pq_build_index(
    embs: DataFrame,
    index_path: str,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 0,
    baseline_sample: float = 0.05,
) -> None:
    """Stage a FLAT PQ index: `codebooks/` + `codes/` parquet (m
    one-byte codes per vector) plus a `_PQ_META.json` sidecar pinning
    {version, m, n_codes, dim} — the first-class form of the
    "encode once, stage (id, codes), scan THAT" recipe DEPLOYMENT.md
    prescribes (flat = every query batch ADC-scans all codes; use
    `ivfpq_build_index` when you also want cell pruning). Search
    derives its parameters from the sidecar, closing the same
    silent-mis-rank foot-gun the IVF-PQ sidecar closes.

    ``baseline_sample`` (r11, ADVICE) bounds the drift-baseline pass:
    the `mean_recon_err` the sidecar records used to be a SECOND full
    pass over the build corpus (per-row m*n_codes distance evals,
    roughly doubling build cost at 100 TB); a mean over a
    deterministic hash sample (the `census_sample` pattern from
    `split_hot_cells`) is an equally valid drift baseline. Guarded
    against small corpora: if the sample holds fewer than 1024
    vectors the full corpus is used (the sampled mean would carry
    more sampling error than the drift it monitors; the fallback is
    recorded as `baseline_sample_effective` in the sidecar).
    `pq_rebuild_index` reuses the sidecar's requested value."""
    if not (0 < baseline_sample <= 1):
        raise ValueError(
            f"baseline_sample must be in (0, 1], got {baseline_sample}"
        )
    spark = embs.sparkSession
    dim_row = embs.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("pq_build_index: empty corpus")
    # guard the BUILD corpus too, not just queries/appends: a mixed-dim
    # corpus whose other rows still divide by m would encode garbage
    # codes silently (zip_with pads with nulls)
    embs = _dim_guarded(embs, vec_col, dim_row["d"], "PQ build: corpus")
    cbs = pq_codebooks(
        embs, m=m, n_codes=n_codes, id_col=id_col, vec_col=vec_col,
        refine_iters=refine_iters,
    )
    codes = pq_encode(embs, cbs, m=m, id_col=id_col, vec_col=vec_col)
    cbs.write.mode("overwrite").parquet(f"{index_path}/codebooks")
    codes.write.mode("overwrite").parquet(f"{index_path}/codes")
    base, eff = embs, baseline_sample
    if baseline_sample < 1.0:
        thresh = max(1, int(round(baseline_sample * 1_000_000)))
        base = embs.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(1_000_000))
            < F.lit(thresh)
        )
        # bounded early-stop probe, never a full count
        if base.limit(1024).count() < 1024:
            base, eff = embs, 1.0
    PQ_META.write(spark, index_path, {
        "m": m, "n_codes": n_codes, "dim": dim_row["d"],
        # drift-monitor baseline: the build corpus's own mean ADC
        # reconstruction error under the just-derived codebooks, read
        # back from the STAGED parquet so the baseline measures exactly
        # what searches will use (pq_drift_check compares appended
        # batches against it)
        "mean_recon_err": pq_recon_error(
            base, spark.read.parquet(f"{index_path}/codebooks"), m, vec_col
        ),
        "baseline_sample": baseline_sample,
        "baseline_sample_effective": eff,
    })


def pq_append_index(
    spark,
    new_embs: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a new batch to a staged flat PQ index with the FROZEN
    staged codebooks (codes stay comparable across batches). Replay
    convergence: already-present ids are anti-joined out first — the
    staged side is an id-column-pruned scan of the codes parquet
    (m bytes + id per vector, a small fraction of corpus bytes).
    Returns the number of vectors appended. Ids must be globally
    unique across the corpus and every batch."""
    meta = PQ_META.require(spark, index_path)
    m, dim = int(meta["m"]), int(meta["dim"])
    guarded = _dim_guarded(new_embs, vec_col, dim, "PQ append: batch")
    cbs = spark.read.parquet(f"{index_path}/codebooks")
    codes = pq_encode(guarded, cbs, m=m, id_col=id_col, vec_col=vec_col)
    staged_ids = spark.read.parquet(f"{index_path}/codes").select(id_col)

    def write(fresh: DataFrame, n: int) -> None:
        # bound the append's file count by the batch's BYTES (m
        # one-byte codes + an 8-byte id per row at ~128 MB/file), not
        # by the join's task count — otherwise every append drops
        # ~shuffle-partition-count small files into codes/
        rows_per_file = max(1, TARGET_FILE_BYTES // (m + 8))
        fresh.repartition(-(-n // rows_per_file)).write.mode(
            "append"
        ).parquet(f"{index_path}/codes")

    return append_unstaged(codes, staged_ids, id_col, write)


def _allowed_semi(codes: DataFrame, allowed: DataFrame | None,
                  id_col: str) -> DataFrame:
    """Filtered search: restrict the NEIGHBOR side to an allow-list of
    ids BEFORE scoring (filter-then-rank — the top-k is taken among
    the allowed set, the semantics a predicate filter composes with).
    The semi-join keys are the id column only; with a
    broadcast-sized allow-list Catalyst keeps the codes side
    unshuffled, and at worst the exchange carries the byte codes."""
    if allowed is None:
        return codes
    return codes.join(
        allowed.select(F.col(id_col)).distinct(), id_col, "left_semi"
    )


def pq_rebuild_index(
    spark,
    old_path: str,
    new_path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_iters: int = 2,
) -> None:
    """Periodic rebuild of a staged FLAT-PQ index — the response to a
    `pq_drift_check` alert (its reconstruction-error ratio passing
    `rebuild_above`), symmetric to `ivfpq_rebuild_index`: m and
    n_codes default from the OLD sidecar, the result is byte-identical
    to `pq_build_index(corpus, new_path, <same params>)` (pinned by
    test), and the new sidecar records a FRESH `mean_recon_err`
    baseline so the monitor re-arms. `refine_iters` defaults to 2 for
    the same measured reason as the IVF-PQ rebuild: seed codebooks are
    the smallest-id rows, so a drift-accreted mode with large ids
    never seeds — only Lloyd refinement moves codewords toward it;
    passing 0 warns. Always a NEW path (cut searches over, then delete
    the old dir — an in-place rebuild would race readers and break the
    append replay contract mid-write)."""
    meta = PQ_META.require(
        spark, old_path,
        absent="not a PQ index; use pq_build_index for a first build",
        advice="parameters cannot be trusted; pass them to pq_build_index "
        "explicitly",
        reads="build writes",
    )
    require_new_path(old_path, new_path)
    if refine_iters == 0:
        import warnings

        warnings.warn(
            "pq_rebuild_index(refine_iters=0): a rebuild without Lloyd "
            "refinement cannot move codewords toward a drift-accreted "
            "mode (seeds are the smallest ids — the same measured "
            "finding as the IVF-PQ rebuild, docs/SCALING.md); keep "
            "the default unless this is a layout-only rebuild",
            UserWarning,
            stacklevel=2,
        )
    pq_build_index(
        corpus, new_path,
        m=int(meta["m"]), n_codes=int(meta["n_codes"]),
        id_col=id_col, vec_col=vec_col, refine_iters=refine_iters,
        baseline_sample=float(meta.get("baseline_sample", 0.05)),
    )


def pq_search_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 1,
    corpus: DataFrame | None = None,
    allowed: DataFrame | None = None,
    retry_missing_files: int = 0,
    _on_built=None,
) -> DataFrame:
    """Search a staged flat PQ index (`pq_build_index`): ADC over the
    staged byte codes, parameters DERIVED from the `_PQ_META.json`
    sidecar, query batch dimension-guarded. Scores identically to
    `pq_topk` with the same codebooks/codes by construction; `rerank`
    needs `corpus` (the index holds codes, not floats). `allowed` (a
    frame carrying `id_col`) restricts neighbors filter-then-rank —
    top-k among the allowed set.

    ``retry_missing_files=N`` (r11) absorbs the compaction window's
    loud read race without hand-rolled caller retries: a search
    overlapping `compact_ann_index`'s additive swap can list an
    original file the swap then deletes, failing with
    FAILED_READ_FILE; with N > 0 the result is materialized eagerly
    (bounded: n_queries x k rows) and the plan rebuilt from a fresh
    listing up to N times on exactly that failure — the file set is
    stable once the swap completes, so N=1 suffices. Other errors
    never retry. Default 0 keeps the plan lazy."""
    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    meta = PQ_META.require(spark, index_path)
    m = int(meta["m"])
    guarded = _dim_guarded(queries, vec_col, int(meta["dim"]), "PQ: query")

    def build() -> DataFrame:
        cbs = spark.read.parquet(f"{index_path}/codebooks")
        codes = _allowed_semi(
            spark.read.parquet(f"{index_path}/codes"), allowed, id_col
        )
        return pq_topk(
            corpus, guarded, k=k, m=m, n_codes=int(meta["n_codes"]),
            id_col=id_col, vec_col=vec_col, codebooks=cbs, codes=codes,
            rerank=rerank,
        )

    if retry_missing_files > 0:
        return _materialize_with_retry(
            build, retry_missing_files, _on_built=_on_built
        )
    return build()


# ---------------------------------------------------------------------------
# IVF-PQ — the composed billion-scale layout (Jégou et al. 2011 §VI,
# the FAISS IVFPQ scheme): a coarse quantizer routes each vector to a
# cell, PQ encodes the RESIDUAL (normalized vector minus normalized
# centroid — residuals concentrate near zero, so the same codebook
# budget spends its resolution where the data is), and search probes
# nprobe cells reading ONLY their code partitions. The two pruning
# axes compose: the cell probe cuts candidates to nprobe/n_cells of
# the corpus, PQ cuts bytes-per-candidate to m — together a 100 TB
# corpus serves an ANN query from a few partition-pruned scans of
# byte codes.
# ---------------------------------------------------------------------------


def _ivfpq_parts(
    embs: DataFrame, n_cells: int, m: int, n_codes: int,
    id_col: str, vec_col: str, cell_refine_iters: int,
    cents: DataFrame | None = None,
):
    """(cents, cents_norm, residual codebooks, cell-tagged codes) —
    the shared construction behind the one-shot and staged forms.
    `cents` overrides the centroid derivation (the hot-cell-split build
    path passes its post-split quantizer).

    Construction (r15, the fused seed head): with an unrefined seed
    quantizer, the centroid pick AND the PQ seed pick are both
    'n smallest ids' over frames with the SAME id set (`_seed_head`),
    so ONE corpus TakeOrdered collect feeds both as driver-local
    frames, and the n_codes seed residuals are computed by the same
    assignment/residual expressions over that tiny local frame. The
    r14 shape anchored `cents` and `cbs` with two eager
    localCheckpoint jobs, EACH a full corpus pass (the cbs anchor ran
    corpus-wide assignment + residual just to TakeOrdered n_codes
    rows) — at scale that was a whole wasted corpus pass per build,
    locally ~2.5 s of the 3.4 s bench entry (the r14 verdict's
    anchor-job floor). Now: 1 corpus pass (the head collect) + 1 tiny
    local job; the one-shot `ivfpq_topk` plan keeps 2 corpus scans /
    0 corpus exchanges (plans/r15/ann_ivfpq_topk_{before,after}.txt).
    Row-identical by the `test_ivfpq_parts_fused_matches_anchored`
    pin. Refined/overridden quantizers, and heads over the
    `_LOCAL_SEED_MAX_VALUES` ceiling, keep the anchored corpus
    derivation (`cents=` passes the hot-cell-split table)."""
    from flink_etl_spark.functions.vectors import l2_normalize
    from flink_etl_spark.session import anchor

    spark = embs.sparkSession
    seeds = head = None
    if cents is None and cell_refine_iters == 0:
        head = _seed_head(embs, max(n_cells, n_codes), id_col, vec_col)
    if head is not None:
        from pyspark.sql import types as T

        cents = ivf_centroids_local(embs, n_cells, id_col, vec_col, head=head)
        # the head is already in id order (the _pq_seeds relabel
        # order — unique-id contract as everywhere), so the seed
        # residuals are computed in-process by the exact expression
        # twin (`_head_seed_residuals`) — ZERO Spark jobs here
        seeds = _local_frame(
            spark,
            _head_seed_residuals(head, n_cells, n_codes),
            T.StructType(
                [
                    T.StructField("code_id", T.IntegerType(), False),
                    T.StructField(
                        "_nv", T.ArrayType(T.DoubleType(), True), True
                    ),
                ]
            ),
        )
    elif cents is None:
        cents = anchor(
            ivf_centroids(embs, n_cells, id_col, vec_col, cell_refine_iters)
        )
    cents_n = cents.select(
        "cell_id", l2_normalize("centroid").alias("_cnv")
    )
    asgn = ivf_assign(embs, cents, 1, id_col, vec_col)
    res = asgn.join(F.broadcast(cents_n), "cell_id").select(
        F.col(id_col),
        F.col("cell_id"),
        F.zip_with(
            l2_normalize(vec_col), F.col("_cnv"), lambda x, y: x - y
        ).alias("_nv"),
    )
    fused = seeds is not None
    if seeds is None:
        seeds = _pq_seeds(res.select(id_col, "_nv"), n_codes, id_col)
    subs = F.sequence(F.lit(0), F.lit(m - 1))
    d_sub = _guarded_dsub("_nv", m)
    cbs = seeds.select(
        "code_id",
        F.explode(
            F.transform(
                subs,
                lambda scol: F.struct(
                    scol.cast("int").alias("sub_id"),
                    F.slice(F.col("_nv"), scol * d_sub + 1, d_sub).alias(
                        "codeword"
                    ),
                ),
            )
        ).alias("_e"),
    ).select(F.col("_e.sub_id"), "code_id", F.col("_e.codeword"))
    # corpus-derived seeds (refined/overridden quantizer) anchor as
    # before — lazily each downstream reference would replay a corpus
    # pass; local-head seeds need no anchor (their whole lineage is a
    # 1-task local scan, re-derivation costs nothing)
    if not fused:
        cbs = anchor(cbs)
    # the one corpus-scale encode pass: auto (arrow when numpy
    # imports) — cbs is anchored so the arrow arm's bounded codebook
    # collect replays nothing, and this call dominates a build at
    # scale (the deployment rule on _pq_codes_on; measured 0.44 s vs
    # 1.35 s warm even at the 2000-vector bench shape). The tiny
    # append/refinement encodes stay on the expression default.
    codes = _pq_codes_on(res, cbs, m, [id_col, "cell_id"], engine="auto")
    return cents, cents_n, cbs, codes


def _ivfpq_score(
    codes: DataFrame, cents, cents_n, cbs: DataFrame,
    queries: DataFrame, k: int, nprobe: int, m: int,
    id_col: str, vec_col: str, rerank: int,
    corpus: DataFrame | None,
) -> DataFrame:
    """Probe nprobe cells per query, ADC against the probed cells'
    codes with PER-CELL query residual distance tables."""
    from flink_etl_spark.functions.vectors import l2_normalize

    qasgn = ivf_assign(queries, cents, nprobe, id_col, vec_col)
    d_sub = _guarded_dsub("_nv", m)
    packed = _pq_packed(cbs)
    q = (
        qasgn.join(F.broadcast(cents_n), "cell_id")
        .select(
            F.col(id_col).alias("query_id"),
            F.col("cell_id").alias("q_cell_id"),
            F.zip_with(
                l2_normalize(vec_col), F.col("_cnv"), lambda x, y: x - y
            ).alias("_nv"),
        )
        .crossJoin(F.broadcast(packed))
        .withColumn(
            "_dtab",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda scol: F.transform(
                    F.element_at(F.col("_cb"), scol + 1),
                    lambda cw: _l2sq(
                        F.slice(F.col("_nv"), scol * d_sub + 1, d_sub), cw
                    ),
                ),
            ),
        )
        .select("query_id", "q_cell_id", "_dtab")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0).cast("double"),
        lambda acc, scol: acc
        + F.element_at(
            F.element_at(F.col("_dtab"), scol + 1),
            F.element_at(F.col("codes"), scol + 1).cast("int") + 1,
        ),
    )
    scored = (
        codes.withColumnRenamed(id_col, "neighbor_id")
        .join(
            F.broadcast(q),
            (F.col("cell_id") == F.col("q_cell_id"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .withColumn("cos_sim", F.round(F.lit(1.0) - adc / F.lit(2.0), 6))
        # nprobe=1 corpus assignment: a neighbor lives in exactly one
        # cell, so (query, neighbor) pairs are already unique
        .select("query_id", "neighbor_id", "cos_sim")
    )
    return _rank_and_rerank(scored, k, rerank, corpus, queries, id_col, vec_col)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int | str = 8,
    nprobe: int = 2,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_refine_iters: int = 0,
    rerank: int = 1,
    n_vecs: int | None = None,
) -> DataFrame:
    """One-shot IVF-PQ ANN top-k (see the section comment): coarse
    cells + shared residual codebooks + per-cell ADC, `ivf_topk`
    output contract. Deterministic throughout (seed centroids, seed
    codebooks, 6 dp rounding, id tie-breaks) — oracle-replicable with
    `cell_refine_iters=0`. `rerank=R` rescans only the R*k shortlist
    with exact cosine. `n_cells="auto"` sizes the coarse quantizer to
    ~sqrt(corpus) as in `ivf_topk`; explicit integers stay the
    deterministic oracle override."""
    from flink_etl_spark.operators.knobs import ivf_auto_cells, resolve_knob

    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    # the cells, codebooks, codes and rerank all read one spread corpus
    corpus = _spread_anchored(corpus.select(id_col, vec_col))
    n_cells = resolve_knob(n_cells, ivf_auto_cells, corpus, n_vecs)
    cents, cents_n, cbs, codes = _ivfpq_parts(
        corpus, n_cells, m, n_codes, id_col, vec_col, cell_refine_iters
    )
    return _ivfpq_score(
        codes, cents, cents_n, cbs, queries, k, nprobe, m, id_col,
        vec_col, rerank, corpus,
    )


def ann_index_kind(spark, index_path: str) -> str:
    """Resolve a staged ANN index's kind ("ivfpq" | "pq") from its own
    meta sidecar — an IVF-PQ dir carries _IVFPQ_META.json, a flat-PQ
    dir _PQ_META.json. A dir with BOTH is mixed/corrupted and a dir
    with NEITHER is not a staged index; both raise rather than letting
    a caller silently pick a branch (the CLI and the maintenance ops
    share this resolution)."""
    has_ivfpq = IVFPQ_META.read(spark, index_path) is not None
    has_pq = PQ_META.read(spark, index_path) is not None
    ivfpq, pq = IVFPQ_META.name, PQ_META.name
    if has_ivfpq and has_pq:
        raise ValueError(
            f"{index_path} carries BOTH {ivfpq} and {pq} — a mixed or "
            "corrupted index dir; rebuild it (or delete the stale "
            "sidecar) first"
        )
    if not has_ivfpq and not has_pq:
        raise ValueError(
            f"{index_path} has neither {ivfpq} nor {pq} — not a staged "
            "ANN index; build one first"
        )
    return "ivfpq" if has_ivfpq else "pq"


def _dim_guarded(df: DataFrame, vec_col: str, dim: int, what: str) -> DataFrame:
    """Expression-level dimension guard: zip_with pads the shorter
    array with nulls, so a wrong-dim vector would propagate null
    distances instead of erroring — raise at evaluation instead."""
    vec_type = df.schema[vec_col].dataType.simpleString()
    return df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{what} vector dimension "),
                    F.size(F.col(vec_col)).cast("string"),
                    F.lit(f" != staged index dim {dim}"),
                )
            ).cast(vec_type)
        ),
    )


def ivfpq_build_index(
    embs: DataFrame,
    index_path: str,
    n_cells: int | str = 8,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_refine_iters: int = 0,
    n_vecs: int | None = None,
    max_cell_frac: float | None = None,
    warn_cell_frac: float = 0.25,
    census_sample: float = 1.0,
) -> None:
    """Stage the IVF-PQ index: `centroids/` + `codebooks/` parquet and
    `cells/` parquet PARTITIONED BY cell_id holding (id, codes) — m
    bytes per vector — plus an `_IVFPQ_META.json` sidecar pinning
    {version, n_cells, m, n_codes, dim}. Build once; every query batch
    reads only its probed `cell_id=` directories of byte codes. The
    raw float corpus is NOT stored — pass it to
    `ivfpq_search_index(corpus=...)` only when reranking.

    The sidecar exists for the same reason `_PROFILE_META.json` /
    `_SUBSTR_META.json` do: a search with a mismatched `m` that still
    divides the query dimension mis-slices subvectors and truncates
    the ADC sum — SILENTLY wrong rankings, no error. Search derives
    its parameters from the sidecar and raises on any explicit
    mismatch instead.

    `n_cells="auto"` sizes the coarse quantizer to ~sqrt(corpus)
    (`knobs.ivf_auto_cells`) — resolved at BUILD time and baked into
    the layout + sidecar, so searches need no knowledge of it.

    CELL SKEW: seed-picked/Lloyd cells have no size bound, and a
    skewed embedding distribution (half the corpus in one dense
    cluster) puts that fraction in ONE `cell_id=` partition — every
    probe of the hot cell then scans it, defeating the nprobe/n_cells
    pruning the layout exists for. The build always censuses the final
    layout (a column-pruned count over the written cells, bounded
    driver fetch), records the observed max cell fraction in the
    sidecar (`max_cell_frac_observed`), and emits a `UserWarning` when
    it exceeds `warn_cell_frac`. Pass `max_cell_frac=` to go further
    and SPLIT hot cells at build time (`split_hot_cells`: hot
    centroids replaced by deterministic sub-seeds from their own
    members, one extra assignment scan); searches and appends are
    transparent to the split — they read the centroid table from the
    index and never assume contiguous ids. At 100 TB pass
    `census_sample=` too (hash-sampled census rounds — see
    `split_hot_cells`; the splitting scans otherwise cost up to
    max_rounds FULL corpus passes before the build starts). Measured
    on a half-in-one-cluster corpus in `skew_probe` [retired; in git history]
    (docs/SCALING.md)."""
    from flink_etl_spark.operators.knobs import ivf_auto_cells, resolve_knob

    spark = embs.sparkSession
    n_cells = resolve_knob(n_cells, ivf_auto_cells, embs, n_vecs)
    dim_row = embs.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_row is None:
        raise ValueError("ivfpq_build_index: empty corpus")
    # same build-corpus dimension guard as pq_build_index
    embs = _dim_guarded(embs, vec_col, dim_row["d"], "IVF-PQ build: corpus")
    cents = None
    if max_cell_frac is not None:
        cents = split_hot_cells(
            embs,
            ivf_centroids(embs, n_cells, id_col, vec_col, cell_refine_iters),
            max_cell_frac, id_col, vec_col,
            census_sample=census_sample,
        )
    cents, _, cbs, codes = _ivfpq_parts(
        embs, n_cells, m, n_codes, id_col, vec_col, cell_refine_iters,
        cents=cents,
    )
    cents.write.mode("overwrite").parquet(f"{index_path}/centroids")
    cbs.write.mode("overwrite").parquet(f"{index_path}/codebooks")
    codes.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{index_path}/cells"
    )
    # census the WRITTEN layout (ids only — the codes column is pruned):
    # the number every capacity plan needs, and the skew warning
    sizes = (
        spark.read.parquet(f"{index_path}/cells")
        .groupBy("cell_id").agg(F.count("*").alias("n")).collect()
    )
    total = sum(r["n"] for r in sizes)
    observed = round(max(r["n"] for r in sizes) / total, 4) if total else 0.0
    staged_cents = spark.read.parquet(f"{index_path}/centroids")
    resolved_cells = (
        staged_cents.count() if max_cell_frac is not None else n_cells
    )
    # baseline drift signal (one broadcast assignment scan): the mean
    # cosine of the BUILD corpus to its assigned centroids, recorded so
    # ann_drift_check can compare every appended batch against it
    # without ground truth (drift_probe [retired; in git history] derived
    # the rebuild rule from its decay curve)
    baseline_sim = mean_centroid_sim(embs, staged_cents, id_col, vec_col)
    IVFPQ_META.write(spark, index_path, {
        "n_cells": resolved_cells, "m": m, "n_codes": n_codes,
        "dim": dim_row["d"],
        "max_cell_frac_observed": observed,
        "mean_centroid_sim": baseline_sim,
    })
    if observed > warn_cell_frac:
        import warnings

        warnings.warn(
            f"IVF-PQ index at {index_path}: one cell holds {observed:.0%} "
            f"of the corpus (> {warn_cell_frac:.0%}) — every probe of that "
            "cell scans that fraction. Rebuild with max_cell_frac= to "
            "split hot cells, or raise n_cells.",
            UserWarning,
            stacklevel=2,
        )


def ivfpq_append_index(
    spark,
    new_embs: DataFrame,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> int:
    """Append a NEW batch of vectors to a staged IVF-PQ index — the
    daily-batch shape (the codes twin of `semdedup_incremental
    (append=True)` / `substring_stage_index(mode="append")`): the
    batch is assigned with the index's FROZEN centroids and encoded
    with its FROZEN residual codebooks (new cells/codewords are never
    invented, so staged and appended codes score identically at
    search time — the standard incremental IVFPQ discipline), then
    appended into the `cell_id=` partition layout. Returns the number
    of vectors appended.

    Build/append equivalence: because quantizers are frozen at build
    time, `ivfpq_build_index(A)` + append(B) produces the same
    searchable index as `ivfpq_build_index(A ∪ B)` WHENEVER A
    contains the seed vectors (the smallest-id rows) — pinned by
    test. Ids must be globally unique across the corpus and every
    batch.

    Replay safety: batch ids already present in the index are
    anti-joined out before the write (the staged read is statically
    partition-pruned to the batch's touched cells — a bounded
    <= n_cells driver fetch of cell ids, never corpus rows), so a
    replayed batch appends nothing. Duplicate (id, codes) rows would
    otherwise break search's pair-uniqueness argument and surface the
    same neighbor twice in a top-k."""
    meta = IVFPQ_META.require(
        spark, index_path,
        absent="not an IVF-PQ index staged by ivfpq_build_index; build "
        "before appending",
    )
    from flink_etl_spark.functions.vectors import l2_normalize

    m, dim = int(meta["m"]), int(meta["dim"])
    guarded = _dim_guarded(new_embs, vec_col, dim, "IVF-PQ append: batch")
    cents = spark.read.parquet(f"{index_path}/centroids")
    cbs = spark.read.parquet(f"{index_path}/codebooks")
    cents_n = cents.select("cell_id", l2_normalize("centroid").alias("_cnv"))
    asgn = ivf_assign(guarded, cents, 1, id_col, vec_col)
    res = asgn.join(F.broadcast(cents_n), "cell_id").select(
        F.col(id_col),
        F.col("cell_id"),
        F.zip_with(
            l2_normalize(vec_col), F.col("_cnv"), lambda x, y: x - y
        ).alias("_nv"),
    )
    # size-aware engine pick (r15): the append batch is whatever the
    # caller hands in — the lifecycle gates append hundreds of rows
    # (KBs, where the arrow fixed costs dominate) while a production
    # staged append reads a day's parquet (GBs, where the expression
    # argmin interprets m*n_codes*d_sub lambda steps per row). The
    # plan-estimated input size routes each regime to its measured
    # winner; an unknown estimate (None) is NOT "tiny" — it takes the
    # batch-scale arm, as `_pq_codes_on` documents for None (identical
    # rows either way by the engine pins).
    codes = _pq_codes_on(
        res, cbs, m, [id_col, "cell_id"], engine="auto",
        size_hint_bytes=_plan_size_bytes(guarded),
    ).persist()
    try:
        # replay convergence: drop ids already staged in the touched
        # cells (bounded fetch: <= n_cells ints, static partition prune)
        touched = [
            r["cell_id"] for r in codes.select("cell_id").distinct().collect()
        ]
        staged_ids = None
        if touched:
            staged_ids = (
                spark.read.option("basePath", f"{index_path}/cells")
                .parquet(f"{index_path}/cells")
                .withColumn("cell_id", F.col("cell_id").cast("int"))
                .filter(F.col("cell_id").isin(touched))
                .select(id_col)
            )

        def write(fresh: DataFrame, n: int) -> None:
            # repartition BY cell_id before the write: without it every
            # shuffle task holding rows of a cell emits its own file
            # into that cell's partition (~tasks x cells files per
            # append — the ann_soak probe measured 95 files/cell over
            # one 10-batch cadence); keyed, each touched cell gets ONE
            # file per append, and compact_ann_index folds those. The
            # exchange carries m tinyints + an id per vector.
            fresh.repartition("cell_id").write.mode("append").partitionBy(
                "cell_id"
            ).parquet(f"{index_path}/cells")

        return append_unstaged(codes, staged_ids, id_col, write)
    finally:
        codes.unpersist()


def mean_centroid_sim(
    embs: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> float:
    """Mean cosine of each vector to its assigned (nearest) centroid —
    the production-monitorable quantizer-fit signal: one broadcast
    assignment over the frame, NO ground truth needed, and it decays
    monotonically as the distribution leaves the centroids (measured
    0.912 -> 0.610 over 0..16 sigma of drift, `drift_probe` [retired;
    in git history]; raw recall is non-monotone and needs ground truth). Returns 0.0
    for an empty frame."""
    row = (
        ivf_assign(embs, cents, 1, id_col, vec_col, keep_sim=True)
        .agg(F.avg("centroid_sim").alias("s"))
        .first()
    )
    return round(row["s"], 4) if row and row["s"] is not None else 0.0


def ann_drift_check(
    spark,
    index_path: str,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_below: float = 0.95,
    meta: dict | None = None,
    centroids: DataFrame | None = None,
) -> dict:
    """Quantizer-drift check for a batch about to be appended to a
    staged IVF-PQ index: assigns the batch with the index's frozen
    centroids and compares its mean centroid similarity against the
    BUILD-TIME baseline recorded in the sidecar.

    ``meta`` / ``centroids`` (r11, ADVICE) inject the frozen inputs so
    a caller checking on a cadence (the continuous sink's
    `drift_check_every`) reads the sidecar and centroid parquet ONCE
    instead of per check — both are frozen between rebuilds, and a
    rebuild targets a new path with a re-attach, so the cache can
    never go stale while the caller holds it. Returns
    ``{"batch_sim", "baseline_sim", "ratio", "rebuild_recommended"}``
    and warns when the ratio falls below ``rebuild_below`` (default
    0.95 — the ~5% drop where the measured curve shows recall sagging
    and the appended slice concentrating into stale cells). The
    recommended fix is `ivfpq_rebuild_index(..., cell_refine_iters>=2)`
    — a bare rebuild does NOT rescue a late-arriving mode (docstring
    there; curve in docs/SCALING.md "Quantizer drift").

    Cost: one broadcast assignment over the batch — run it per daily
    batch, or sampled inside a streaming sink. Indexes built before
    the baseline field existed return ratio 1.0 with a baseline of
    None (re-record by rebuilding)."""
    if meta is None:
        meta = IVFPQ_META.require(spark, index_path)
    guarded = _dim_guarded(batch, vec_col, int(meta["dim"]), "drift check")
    cents = (
        centroids
        if centroids is not None
        else spark.read.parquet(f"{index_path}/centroids")
    )
    batch_sim = mean_centroid_sim(guarded, cents, id_col, vec_col)
    baseline = meta.get("mean_centroid_sim")
    # a baseline <= 0 is un-checkable, not "missing": 0.0 would divide
    # away, and a NEGATIVE baseline (legal for cosine) would INVERT
    # the ratio — a worse (more negative) batch_sim reading as higher.
    # Treat both as monitor-off and say so, rather than silently never
    # warning.
    checkable = baseline is not None and baseline > 0
    if baseline is not None and baseline <= 0:
        import warnings

        warnings.warn(
            f"IVF-PQ index at {index_path}: recorded baseline "
            f"mean_centroid_sim {baseline} is <= 0 — the drift ratio is "
            "undefined there (a negative baseline inverts the "
            "comparison); rebuild the index to record a usable "
            "baseline. Returning ratio 1.0 with the monitor OFF",
            UserWarning,
            stacklevel=2,
        )
    ratio = round(batch_sim / baseline, 4) if checkable else 1.0
    out = {
        "batch_sim": batch_sim,
        "baseline_sim": baseline,
        "ratio": ratio,
        # False = monitor OFF (missing/zero/negative baseline), so a
        # scheduler can tell "healthy" from "un-checkable" (ADVICE r10)
        "checkable": checkable,
        "rebuild_recommended": checkable and ratio < rebuild_below,
    }
    if out["rebuild_recommended"]:
        import warnings

        warnings.warn(
            f"IVF-PQ index at {index_path}: appended-batch mean centroid "
            f"similarity {batch_sim} is {ratio:.0%} of the build-time "
            f"baseline {baseline} (< {rebuild_below:.0%}) — the quantizer "
            "has drifted; schedule ivfpq_rebuild_index(..., "
            "cell_refine_iters>=2) to a new path",
            UserWarning,
            stacklevel=2,
        )
    return out


def ivfpq_rebuild_index(
    spark,
    old_path: str,
    new_path: str,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | str | None = None,
    cell_refine_iters: int = 2,
    max_cell_frac: float | None = None,
    warn_cell_frac: float = 0.25,
    census_sample: float = 1.0,
) -> None:
    """Periodic rebuild of a staged IVF-PQ index — the operational
    answer to quantizer drift (`drift_probe` [retired; in git history]
    measured the decay; DEPLOYMENT.md carries the trigger rule): a frozen-quantizer
    index appended from a moving distribution keeps routing new
    vectors through stale centroids, and ONLY a rebuild re-derives
    them.

    ``cell_refine_iters`` defaults to 2 (Lloyd refinement ON) because
    the drift probe PROVED the bare rebuild useless against the very
    drift that triggers this call: id-ordered seed picks never land in
    a late-arriving mode, so refine=0 left recall@5 at 0.30 while
    refine=3 recovered 1.00 (`drift_probe` [retired; in git history], curve in
    docs/SCALING.md "Quantizer drift"). Passing 0 explicitly is
    allowed (it reproduces a frozen-seed build exactly — useful for
    layout-only rebuilds) but warns, so the operator answering an
    `ann_drift_check` alert cannot silently run the no-op arm.

    What must be re-derived vs what streams — the split this function
    exists to document and test:

    * RE-DERIVED (require the quantizer-derivation passes): the coarse
      centroids and the residual codebooks. They are functions of the
      corpus distribution; nothing in the old index can refresh them
      (the old index stores CODES — lossy 8-bit projections — not the
      floats the seed picks and refinement need).
    * STREAMED (one pass over the float corpus, embarrassingly
      parallel): re-assignment of every vector to its new cell and
      re-encode of its residual against the new codebooks — the same
      single `_ivfpq_parts` encode pass a fresh build runs.
    * NOT needed from the old index: anything. The rebuild reads only
      its sidecar (parameter defaults: m, n_codes, and the RESOLVED
      n_cells — so a periodic rebuild keeps the layout's shape without
      the caller re-specifying it) and raises if `corpus` is not the
      full intended corpus' floats. At 100 TB the floats may be in
      cold storage: this one pass is the entire read; budget for it.

    Writes a complete fresh index at `new_path` (never touches
    `old_path` — cut searches over, then delete the old dir; an
    in-place rebuild would race searches and break the append
    replay contract mid-write). By construction the result is
    IDENTICAL to `ivfpq_build_index(corpus, new_path, <same params>)`
    — pinned by test. Overrides: `n_cells` (int or "auto" to re-size
    to the rebuilt corpus), `cell_refine_iters`, `max_cell_frac`
    (hot-cell splitting; a drift-accreted dense mode is exactly the
    skew case)."""
    meta = IVFPQ_META.require(
        spark, old_path,
        absent="not an IVF-PQ index; use ivfpq_build_index for a first "
        "build",
        advice="parameters cannot be trusted; pass them to "
        "ivfpq_build_index explicitly",
        reads="build writes",
    )
    require_new_path(old_path, new_path)
    if cell_refine_iters == 0:
        import warnings

        warnings.warn(
            "ivfpq_rebuild_index(cell_refine_iters=0): a rebuild without "
            "Lloyd refinement does NOT recover from quantizer drift "
            "(measured: recall@5 stays at its drifted floor while "
            "refine>=2 recovers fully — docs/SCALING.md); keep the "
            "default unless this is a layout-only rebuild",
            UserWarning,
            stacklevel=2,
        )
    ivfpq_build_index(
        corpus, new_path,
        n_cells=meta["n_cells"] if n_cells is None else n_cells,
        m=int(meta["m"]), n_codes=int(meta["n_codes"]),
        id_col=id_col, vec_col=vec_col,
        cell_refine_iters=cell_refine_iters,
        max_cell_frac=max_cell_frac, warn_cell_frac=warn_cell_frac,
        census_sample=census_sample,
    )


def ivfpq_search_index(
    spark,
    index_path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    m: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank: int = 1,
    corpus: DataFrame | None = None,
    allowed: DataFrame | None = None,
    retry_missing_files: int = 0,
    _on_built=None,
) -> DataFrame:
    """Search a staged IVF-PQ index: queries assign against the staged
    centroids and the candidate join reads only the probed `cell_id=`
    partitions (partition-pruned byte-code scan). Scores identically
    to `ivfpq_topk` by construction; `rerank` needs `corpus` (the
    index holds codes, not floats). `allowed` (a frame carrying
    `id_col`) restricts neighbors filter-then-rank — top-k among the
    allowed set, the shape a metadata predicate composes with.

    `m` is DERIVED from the index's `_IVFPQ_META.json` sidecar —
    passing it is optional and validated (a mismatch raises; a caller
    `m` that merely divides the query dimension would otherwise
    mis-slice subvectors against the staged codewords and return
    silently wrong rankings). Query vectors are also guarded
    expression-side against the staged `dim` — a wrong-dimension
    query batch raises instead of zip-padding nulls into the ADC.

    ``retry_missing_files=N`` (r11) absorbs the compaction window's
    loud read race: see `pq_search_index` — same contract (eager
    bounded materialization, fresh-listing re-plan on FAILED_READ_FILE
    only, N=1 suffices because the file set is stable after the swap
    completes)."""
    from flink_etl_spark.functions.vectors import l2_normalize  # noqa: F401

    if rerank < 1:
        raise ValueError(f"rerank must be >= 1, got {rerank}")
    meta = IVFPQ_META.require(
        spark, index_path,
        absent="not an IVF-PQ index staged by ivfpq_build_index (or a "
        "pre-sidecar build); rebuild the index",
    )
    if m is not None and m != meta["m"]:
        raise ValueError(
            f"caller m={m} disagrees with the staged index's m={meta['m']} "
            f"({index_path}) — a mismatched m mis-slices subvectors and "
            "silently mis-ranks; drop the argument (it is derived from "
            "the sidecar) or rebuild the index"
        )
    m = meta["m"]
    guarded = _dim_guarded(queries, vec_col, int(meta["dim"]), "IVF-PQ: query")

    def build() -> DataFrame:
        cents = spark.read.parquet(f"{index_path}/centroids")
        cbs = spark.read.parquet(f"{index_path}/codebooks")
        codes = _allowed_semi(
            spark.read.parquet(f"{index_path}/cells").withColumn(
                "cell_id", F.col("cell_id").cast("int")
            ),
            allowed, id_col,
        )
        cents_n = cents.select(
            "cell_id", l2_normalize("centroid").alias("_cnv")
        )
        return _ivfpq_score(
            codes, cents, cents_n, cbs, guarded, k, nprobe, m, id_col,
            vec_col, rerank, corpus,
        )

    if retry_missing_files > 0:
        return _materialize_with_retry(
            build, retry_missing_files, _on_built=_on_built
        )
    return build()
