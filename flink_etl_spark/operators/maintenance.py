"""Table maintenance: small-file compaction for partitioned sinks.

The reference's rolling file sink (HdfsSink.java:110-125) — and our
Structured Streaming substitute (streaming/ingest.py) — writes one file
set per roll interval / micro-batch per partition. At streaming
cadence that accretes hundreds of small files per dt partition per day,
and at 100 TB small files dominate scan setup cost (one task + one
footer read per file). Compaction is the standard daily maintenance
pass: rewrite yesterday's closed partition into a bounded file count.

Built on the same stage-then-swap (Hadoop FileSystem API) as the CDC
snapshot overwrite, so a crash mid-swap is recoverable and the path
scheme (file:/hdfs:/s3a:) is transparent.

WHAT COMPACTION MAY TARGET: batch-published partitioned layouts —
`run_ingest_batch` output, daily-merge snapshots, rollups. It must
NOT target the LIVE streaming sink root: the file sink's
`_spark_metadata` commit log pins the exact file set, so swapping in
compacted files makes every root read throw FileNotFoundException
(and rewriting the log in place would race the running query). Both
compactors refuse such roots; compact the table the merge PUBLISHES,
downstream of the streaming sink. (`sources/compact.compact_partitions`
is the multi-partition dynamic-overwrite variant of the same op —
this module's per-partition staged swap is the crash-recoverable
default.)
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from flink_etl_spark.operators.merge import overwrite_snapshot
from flink_etl_spark.staged import _data_file_names, _hadoop_fs


def refuse_streaming_sink_log(spark: SparkSession, table_path: str) -> None:
    """Raise when `table_path` is a Structured Streaming file-sink root
    (has a `_spark_metadata` commit log). The log enumerates the exact
    committed files; rewriting data files behind it breaks every
    subsequent read of the root (verified: FileNotFoundException via
    MetadataLogFileIndex). Shared guard for both compactors."""
    fs, hpath = _hadoop_fs(spark, f"{table_path.rstrip('/')}/_spark_metadata")
    if fs.exists(hpath):
        raise ValueError(
            f"{table_path} is a live streaming file-sink root "
            "(_spark_metadata commit log present): compacting it would "
            "break every read through the sink's log. Compact the "
            "table your merge job PUBLISHES from this sink instead."
        )


def partition_file_count(spark: SparkSession, path: str) -> int:
    """Number of data files in a partition directory (Hadoop FS listing;
    driver-side metadata call, not a data scan). Hidden/commit files
    (leading `.` or `_`) are not data."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0
    return len(_data_file_names(fs, hpath))


def compact_partition(
    spark: SparkSession,
    table_path: str,
    value: str,
    dt_col: str = "dt",
    target_files: int = 1,
    fmt: str = "parquet",
) -> tuple[int, int]:
    """Rewrite ONE closed partition (`<table>/<dt_col>=<value>`) into
    `target_files` files. Only the named partition is read or touched —
    cost is proportional to the partition, never the table — and the
    rewrite goes through `overwrite_snapshot`'s stage-then-swap, so
    readers see the old file set until the swap and a crash mid-swap is
    recoverable (`recover_snapshot`).

    Refuses a streaming file-sink root (see module doc / the shared
    guard) and no-ops on a missing or file-less partition (a nightly
    sweep over many tables must not fail because one table had no
    events yesterday).

    Returns (files_before, files_after)."""
    refuse_streaming_sink_log(spark, table_path)
    part = f"{table_path.rstrip('/')}/{dt_col}={value}"
    before = partition_file_count(spark, part)
    if before == 0:
        return (0, 0)
    df = spark.read.format(fmt).load(part)
    # repartition, not coalesce: coalesce(1) would collapse the READ
    # parallelism of the rewrite too; repartition keeps the scan wide
    # and only narrows the write
    overwrite_snapshot(df.repartition(target_files), part, fmt=fmt)
    after = partition_file_count(spark, part)
    return before, after
