"""Simulate the external driver's contract against __spark_entry__.py.

Mirrors the driver as closely as its observable behavior allows:
- vanilla SparkSession (no engine confs): the package must give the
  oracles' rows without configuring it, and must leave its confs as
  they were (a snapshot of `spark.conf.getAll` before and after the
  gates may differ only in nanosAsLong, which `load_table` sets for
  nano-timestamp tables);
- per-query: run the Spark callable at sf0.01 AND the oracle SQL in
  DuckDB over the same parquet, then canonicalize the way the r1 driver
  traceback shows it does (pandas DataFrame -> sort columns by name ->
  sort_values over ALL columns -> value hash). List/array columns make
  pandas sort_values throw `unhashable type` — exactly the r1 failure —
  so this sim catches that class of bug before the driver does.

Usage:
    python tools/driver_sim.py [query_name ...]   # default: all queries
"""

from __future__ import annotations

import hashlib
import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.01"
#: the one session conf the package may write (sources.tables.read_raw_table)
ALLOWED_CONF_WRITES = {"spark.sql.legacy.parquet.nanosAsLong"}
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _canon(df):
    """Driver-style canonicalization: sort cols by name, sort rows via
    pandas sort_values (throws on unhashable cells -> gate would be red),
    normalize, hash."""
    import math

    import pandas as pd

    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(round(v, 9))
        if hasattr(v, "isoformat"):
            try:
                return v.replace(tzinfo=None).isoformat()
            except TypeError:
                return v.isoformat()
        return repr(v)

    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update("|".join(norm(v) for v in row).encode())
        h.update(b"\n")
    return len(df), sorted(df.columns), h.hexdigest()


def main(names: list[str]) -> int:
    import duckdb
    from pyspark.sql import SparkSession

    import os

    master = f"local[{os.environ.get('SIM_CPUS', '8')}]"
    spark = (
        SparkSession.builder.master(master)
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    import __spark_entry__ as E

    t0 = time.time()
    rows = E.entry(spark).collect()
    print(f"entry: {len(rows)} rows in {time.time() - t0:.1f}s", flush=True)
    assert len(rows) >= 0

    confs_before = dict(spark.conf.getAll)
    qs = E.queries()
    oracles = E.oracle_sql()
    targets = names or list(qs)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    n_pass = n_fail = n_rows_only = 0
    for name in targets:
        fn = qs[name]
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            s_n, s_cols, s_hash = _canon(sdf)
            if name not in oracles:
                n_rows_only += 1
                print(f"  {name}: rows-only {s_n} rows ({time.time()-t0:.1f}s)", flush=True)
                continue
            odf = con.execute(oracles[name]).df()
            o_n, o_cols, o_hash = _canon(odf)
            ok = (s_n == o_n) and (s_cols == o_cols) and (s_hash == o_hash)
            n_pass += ok
            n_fail += not ok
            status = "PASS" if ok else (
                f"FAIL rows={s_n}/{o_n} cols_match={s_cols == o_cols} "
                f"hash_match={s_hash == o_hash}"
            )
            print(f"  {name}: {status} ({time.time()-t0:.1f}s)", flush=True)
        except Exception as exc:  # driver records err and reads red
            n_fail += 1
            print(f"  {name}: ERR {type(exc).__name__}: {exc}", flush=True)
    print(f"driver_sim: {n_pass} pass / {n_fail} fail / {n_rows_only} rows-only")
    confs_after = dict(spark.conf.getAll)
    changed = sorted(
        k for k in confs_before.keys() | confs_after.keys()
        if confs_before.get(k) != confs_after.get(k) and k not in ALLOWED_CONF_WRITES
    )
    for k in changed:
        print(f"  session conf changed: {k}: "
              f"{confs_before.get(k)!r} -> {confs_after.get(k)!r}")
    print(f"driver_sim: session confs {'CHANGED' if changed else 'unchanged'}")
    return 1 if n_fail or changed else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
