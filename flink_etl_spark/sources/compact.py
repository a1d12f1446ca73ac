"""Small-file compaction for partitioned sink output.

Streaming file sinks write one file set per micro-batch per partition
(K1); at a 60 s trigger that is ~1440 files per dt partition per day —
the classic small-files problem that degrades every downstream scan.
This is the maintenance op that rewrites partitions to a bounded file
count, preserving layout and contents.

Scale design: compaction reads and rewrites ONLY the selected
partitions (dynamic partition overwrite), never the table; repartition
by the partition column + a bounded salt gives target_files_per_dt
output files per partition with even sizes.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def compact_partitions(
    spark: SparkSession,
    path: str,
    dt_values: list[str] | None = None,
    dt_col: str = "dt",
    target_files_per_dt: int = 1,
    fmt: str = "parquet",
) -> None:
    """Rewrite the given dt partitions (all when None) so each holds at
    most `target_files_per_dt` files. Contents and partition layout are
    unchanged — only file boundaries move (same contract as the
    reference's rolling policy, SURVEY.md §2.9 T4).

    Refuses a streaming file-sink root — see
    `operators/maintenance.refuse_streaming_sink_log` (the commit log
    pins exact files) — and note `operators/maintenance.
    compact_partition` is the per-partition STAGED-SWAP variant of this
    op (crash-recoverable; prefer it for single closed partitions)."""
    from flink_etl_spark.operators.maintenance import refuse_streaming_sink_log
    from flink_etl_spark.sources.files import read_string_partitioned

    refuse_streaming_sink_log(spark, path)
    df = read_string_partitioned(spark, path, dt_col, fmt)
    if dt_values is not None:
        df = df.filter(F.col(dt_col).isin(dt_values))
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]),
                  F.lit(target_files_per_dt))
    # dynamic overwrite per write: static would DELETE the unselected dts
    (
        df.repartition(F.col(dt_col), salt)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(dt_col)
        .option("maxRecordsPerFile", 0)  # size governed by repartition
        .format(fmt)
        .save(path)
    )
