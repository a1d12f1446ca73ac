"""Reference results computed without the package under test.

* `cdc_expected`: a DuckDB replay of the raw Canal log through the
  README's Hive merge SQL (latest row per key of the day, FULL OUTER
  JOIN, per-column COALESCE), with `ts` as the documented tie-break.
* `brute_topk`: exact cosine top-k with numpy.

Inputs are the generated files; outputs of the program are read back
with pyarrow, never through Spark.
"""

from __future__ import annotations

import json
import os
from collections import Counter
from datetime import datetime, timezone

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

MERGE_SQL = """
SELECT COALESCE(t2.code, t1.code) AS code,
       COALESCE(t2.city, t1.city) AS city,
       COALESCE(t2.province, t1.province) AS province,
       COALESCE(t2.event_time, t1.event_time) AS event_time
FROM snapshot t1
FULL OUTER JOIN (
    SELECT code, city, province, event_time FROM (
        SELECT *, row_number() OVER (PARTITION BY code
                                     ORDER BY event_time DESC, ts DESC) AS rank
        FROM delta WHERE dt = ?
    ) temp WHERE rank = 1
) t2 ON t1.code = t2.code
"""


def _replay_rows(log_dir: str):
    """The Canal log as flattened delta rows, parsed with `json`:
    DDL and malformed records dropped, `data` exploded, null row images
    skipped, dt from `es` in UTC with the 00000000 fallback."""
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                try:
                    env = json.loads(line)
                except json.JSONDecodeError:
                    continue
                if str(env.get("isDdl")).lower() != "false":
                    continue
                es = env.get("es")
                dt = ("00000000" if es is None else
                      datetime.fromtimestamp(es / 1000, tz=timezone.utc).strftime("%Y%m%d"))
                for row in env.get("data") or ():
                    if row is not None:
                        yield (row.get("code"), row.get("city"), row.get("province"),
                               es, env.get("ts"), env.get("type"), dt)


def cdc_expected(log_dir: str, snapshot_dir: str, day: str, out_path: str) -> None:
    """Write the expected merged snapshot for `day` to `out_path`."""
    rows = list(_replay_rows(log_dir))
    cols = list(zip(*rows))
    delta = pa.table({
        "code": pa.array(cols[0], pa.string()),
        "city": pa.array(cols[1], pa.string()),
        "province": pa.array(cols[2], pa.string()),
        "event_time": pa.array(cols[3], pa.int64()),
        "ts": pa.array(cols[4], pa.int64()),
        "type": pa.array(cols[5], pa.string()),
        "dt": pa.array(cols[6], pa.string()),
    })
    snapshot = ds.dataset(snapshot_dir).to_table()
    con = duckdb.connect()
    try:
        con.register("delta", delta)
        con.register("snapshot", snapshot)
        out = con.execute(MERGE_SQL + " ORDER BY code", [day]).arrow()
    finally:
        con.close()
    pq.write_table(out, out_path)


def read_sorted(path: str, columns: list[str], key: str) -> pa.Table:
    """A parquet file or unpartitioned directory as a table sorted by
    `key`, without the writer's schema metadata."""
    t = ds.dataset(path, format="parquet").to_table(columns=columns)
    return t.sort_by(key).replace_schema_metadata(None)


def dt_counts(delta_dir: str) -> dict[str, int]:
    """Rows per `dt=` partition of an ingested delta."""
    dt = ds.partitioning(pa.schema([("dt", pa.string())]), flavor="hive")
    t = ds.dataset(delta_dir, format="parquet", partitioning=dt).to_table(columns=["dt"])
    return dict(Counter(t.column("dt").to_pylist()))


def brute_topk(corpus: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Row indices of each query's exact cosine top-k in `corpus`."""
    c = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q @ c.T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]
