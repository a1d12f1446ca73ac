"""Build an N-x replica of a testdata sf directory with CONSISTENT key
offsets — the scale-probe corpus generator.

Unlike the stress_probe [retired; in git history], which deliberately
cloned documents into exact duplicate cliques (an adversarial near-dup
workload), this replica models "N times MORE data of the same shape":

* fact tables replicate with per-copy key offsets that preserve join
  relationships (lineitem.l_orderkey tracks orders.o_orderkey,
  orders.o_custkey tracks customer.c_custkey, events offset both
  event_id and user_id so PER-KEY density stays constant);
* dimension tables (nation/region/supplier/part) stay single-copy —
  at scale they are the broadcast side and do not grow with the fact;
* document text is caesar-ROTATED per copy (translate over a-z), so
  each copy keeps the original's internal near-dup structure while
  sharing no shingles across copies — near-dup pairs scale linearly
  with data, as they would with genuinely new data, instead of
  quadratically as duplicate cliques;
* embeddings offset vec_id only (duplicate vectors are fine for ANN
  timing: candidate volume is bucket-occupancy-bound either way).

Usage: python tools/replicate_testdata.py [replicas=10] [out_dir]
"""

from __future__ import annotations

import os
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

#: key offset per copy — far above any real key in the generated data
OFF = 1_000_000_000

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: per-table BIGINT key columns to offset per copy (join-consistent)
KEY_OFFSETS = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

#: dimension tables: single copy (the broadcast side never scales with
#: the fact side)
DIMS = ("region", "nation", "supplier", "part")


#: affine multiplier families for copies 52+ — the units of Z/26
#: excluding 1 (plain rotations, copies 0-25) and 25 (reversed
#: rotations, copies 26-51)
_AFFINE_UNITS = (3, 5, 7, 9, 11, 15, 17, 19, 21, 23)


def _rotated_text(col, i: int):
    """Substitute a-z by a copy-distinct permutation so copy i shares
    (essentially) no shingles with any other copy while keeping token
    lengths, whitespace, and within-copy similarity structure
    identical. Copies 0-25 are plain caesar rotations and 26-51 the
    reversed rotations — BIT-IDENTICAL to the r4/r5 behavior, so
    earlier 10x/30x probe corpora reproduce exactly. Copies 52-311 are
    the remaining AFFINE alphabet maps x -> (a*x + b) mod 26 with a a
    unit of Z/26: 12 multipliers x 26 offsets = 312 distinct
    permutations, unlocking the 100x probe. Any two distinct affine
    maps with unit multipliers agree on at most gcd(a1-a2, 26) = 2
    letters (unit multipliers are odd, so the difference is even and
    never divisible by 13), so cross-copy shingle aliasing needs three
    consecutive tokens drawn entirely from a <=2-letter set — the same
    negligible-risk class the reversed rotations already accepted."""
    if i == 0:
        return col
    if i >= 312:
        raise ValueError(
            f"replica copy {i}: only 312 distinct text substitutions "
            f"exist (12 affine multipliers x 26 offsets) — a larger "
            f"replica would alias copies into exact-duplicate cliques"
        )
    az = string.ascii_lowercase
    if i < 52:
        rot = az[i % 26:] + az[: i % 26]
        if i >= 26:
            rot = rot[::-1]
        return F.translate(col, az, rot)
    a_idx, b = divmod(i - 52, 26)
    a = _AFFINE_UNITS[a_idx]
    perm = "".join(az[(a * x + b) % 26] for x in range(26))
    return F.translate(col, az, perm)


def build_replica(
    spark, src_dir: str, out_dir: str, n: int,
    tables: tuple[str, ...] = TABLES,
) -> None:
    """Write the N-x replica of `src_dir` into `out_dir` (same
    `<table>.parquet` layout, so catalog queries run on it verbatim via
    the sf_dir argument). `tables` restricts the build (the 30x tail
    probe needs only documents + embeddings — replicating 6M lineitem
    rows 30x for a doc-only probe would dominate its wall clock)."""
    from flink_etl_spark.sources.tables import load_table

    for table in tables:
        df = load_table(spark, src_dir, table)
        if table in DIMS or n <= 1:
            out = df
        else:
            copies = []
            for i in range(n):
                c = df
                for k in KEY_OFFSETS.get(table, ()):
                    c = c.withColumn(k, F.col(k) + F.lit(i * OFF))
                if table == "documents":
                    c = c.withColumn("text", _rotated_text(F.col("text"), i))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{out_dir}/{table}.parquet")


if __name__ == "__main__":
    from flink_etl_spark.session import get_spark

    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/sf0.1x{replicas}"
    spark = get_spark(app_name="replicate-testdata")
    build_replica(spark, "/root/testdata/sf0.1", out, replicas)
    print(f"wrote {replicas}x replica of sf0.1 to {out}")
    spark.stop()
