"""Sink semantics: dynamic partition overwrite (K3 — the daily
INSERT OVERWRITE of one dt partition) and snapshot rotation."""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_etl_spark.operators.merge import dedup_latest, overwrite_snapshot


def test_dynamic_partition_overwrite_replaces_only_touched_dt(spark, tmp_path):
    """`INSERT OVERWRITE ... PARTITION(dt=X)` semantics: rewriting one
    day must leave every other day's partition untouched. The write
    carries `partitionOverwriteMode=dynamic` as its own option, the
    form the package's path writes use, so it holds under a `static`
    session conf."""
    path = str(tmp_path / "t")
    day1 = [(1, "a", "20200323"), (2, "b", "20200323")]
    day2 = [(3, "c", "20200324")]
    spark.createDataFrame(day1 + day2, "id long, v string, dt string").write.partitionBy(
        "dt"
    ).parquet(path)

    # overwrite ONLY dt=20200324 with a corrected row
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        spark.createDataFrame(
            [(3, "c2", "20200324"), (4, "d", "20200324")],
            "id long, v string, dt string",
        ).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
            "dt"
        ).parquet(path)
    finally:
        spark.conf.set(key, prev)

    got = sorted(
        map(tuple, spark.read.parquet(path).select("id", "v", "dt").collect())
    )
    assert got == [
        (1, "a", "20200323"),
        (2, "b", "20200323"),
        (3, "c2", "20200324"),
        (4, "d", "20200324"),
    ]


def test_snapshot_rotation_avoids_self_overwrite(spark, tmp_path):
    """The reference's `INSERT OVERWRITE code_city ... FROM code_city`
    (README.md:222,229) is illegal in Spark; rotating dated snapshot
    directories reproduces the effect without reading+writing one path."""
    base = tmp_path / "snapshot"
    v1 = str(base / "v=1")
    v2 = str(base / "v=2")
    spark.createDataFrame(
        [(1, "x", 100, 0), (2, "y", 100, 1)], "id long, v string, es long, ts long"
    ).write.parquet(v1)

    delta = spark.createDataFrame(
        [(2, "y2", 200, 2), (3, "z", 200, 3)], "id long, v string, es long, ts long"
    )
    snap = spark.read.parquet(v1)
    merged = (
        snap.join(delta, "id", "full_outer")
        .select(
            "id",
            F.coalesce(delta["v"], snap["v"]).alias("v"),
            F.coalesce(delta["es"], snap["es"]).alias("es"),
            F.coalesce(delta["ts"], snap["ts"]).alias("ts"),
        )
    )
    overwrite_snapshot(merged, v2)
    got = sorted(map(tuple, spark.read.parquet(v2).select("id", "v").collect()))
    assert got == [(1, "x"), (2, "y2"), (3, "z")]
    # old snapshot still readable (rotation, not destruction)
    assert spark.read.parquet(v1).count() == 2


def test_dedup_latest_strict_parity_mode(spark):
    """strict_parity reproduces the reference's single-column ordering
    (event_time only, nondeterministic ties documented in SURVEY §7);
    default mode adds the ts tie-break."""
    df = spark.createDataFrame(
        [(1, 100, 1, "a"), (1, 100, 2, "b"), (1, 50, 3, "c")],
        "id long, es long, ts long, v string",
    )
    strict = dedup_latest(df, ["id"], strict_parity=True)
    assert strict.count() == 1
    assert strict.first().es == 100  # one of the es=100 rows (tie undefined)
    default = dedup_latest(df, ["id"])
    assert (default.first().es, default.first().ts, default.first().v) == (100, 2, "b")


def test_overwrite_snapshot_reads_and_replaces_same_path(spark, tmp_path):
    """The reference's self-overwrite (INSERT OVERWRITE code_city ...
    FROM code_city) through the staging swap: the plan reads the
    CURRENT snapshot while its replacement is written."""
    from flink_etl_spark.operators.merge import cdc_merge

    path = str(tmp_path / "snap")
    spark.createDataFrame(
        [(1, "x", 100, 0), (2, "y", 100, 1)], "id long, v string, es long, ts long"
    ).write.parquet(path)

    delta = spark.createDataFrame(
        [(2, "y2", 200, 2), (3, "z", 200, 3)], "id long, v string, es long, ts long"
    )
    merged = cdc_merge(spark.read.parquet(path), delta, ["id"])
    overwrite_snapshot(merged, path)

    got = sorted(map(tuple, spark.read.parquet(path).select("id", "v").collect()))
    assert got == [(1, "x"), (2, "y2"), (3, "z")]


def test_compact_partitions_reduces_files_preserves_data(spark, tmp_path):
    import glob

    from flink_etl_spark.sources.compact import compact_partitions

    path = str(tmp_path / "t")
    rows = [(i, f"v{i}", "20200323" if i % 2 else "20200324") for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v string, dt string")
    # simulate many micro-batch writes -> many small files per partition
    for chunk in range(4):
        df.filter((F.col("id") % 4) == chunk).repartition(4).write.mode(
            "append"
        ).partitionBy("dt").parquet(path)
    before = glob.glob(f"{path}/dt=*/part-*")
    assert len(before) > 8
    expected = sorted(map(tuple, spark.read.option("basePath", path).parquet(path).collect()))

    compact_partitions(spark, path, target_files_per_dt=1)

    after = glob.glob(f"{path}/dt=*/part-*")
    assert len(after) <= 2  # one file per dt partition
    got = sorted(map(tuple, spark.read.option("basePath", path).parquet(path).collect()))
    assert got == expected


def test_compact_partitions_safe_under_static_overwrite_mode(spark, tmp_path):
    """Regression: with the session in the Spark-default STATIC
    partition-overwrite mode, compacting a subset of partitions must
    not delete the unselected ones."""
    from flink_etl_spark.sources.compact import compact_partitions

    path = str(tmp_path / "t2")
    rows = [(i, "20200323" if i % 2 else "20200324") for i in range(20)]
    spark.createDataFrame(rows, "id long, dt string").write.partitionBy(
        "dt"
    ).parquet(path)

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        compact_partitions(spark, path, dt_values=["20200323"])
        # the function must restore the caller's (static) conf...
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode") == "static"
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # ...and the unselected partition must survive
    assert spark.read.option("basePath", path).parquet(path).count() == 20


def test_recover_snapshot_promotes_staging(spark, tmp_path):
    """Crash between rmtree and rename: target gone, staging complete —
    recovery must promote staging instead of losing the snapshot."""
    import shutil

    from flink_etl_spark.operators.merge import recover_snapshot
    from flink_etl_spark.staged import _staging_path

    path = str(tmp_path / "snap2")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    # simulate the crash window
    shutil.move(path, _staging_path(path))
    assert recover_snapshot(path) is True
    assert spark.read.parquet(path).count() == 1
    assert recover_snapshot(path) is False  # idempotent


def test_recover_snapshot_cleans_stale_staging(spark, tmp_path):
    """Crash after the staging write but before delete+rename: target
    intact, staging stale. Recovery must delete the stale staging (else
    a later crash would promote the wrong, older copy) and return False."""
    import os

    from flink_etl_spark.operators.merge import recover_snapshot
    from flink_etl_spark.staged import _staging_path

    path = str(tmp_path / "snap3")
    spark.createDataFrame([(1, "new")], "id long, v string").write.parquet(path)
    stale = _staging_path(path)
    spark.createDataFrame([(1, "old")], "id long, v string").write.parquet(stale)
    assert recover_snapshot(path) is False
    assert not os.path.exists(stale)
    assert spark.read.parquet(path).first().v == "new"


def test_recover_snapshot_promotes_legacy_staging(spark, tmp_path):
    """A deployment that crashed mid-swap under the pre-r3 staging layout
    ('<path>__staging' sibling) must still self-recover after upgrading."""
    import shutil

    from flink_etl_spark.operators.merge import recover_snapshot

    path = str(tmp_path / "snap4")
    spark.createDataFrame([(1, "a")], "id long, v string").write.parquet(path)
    shutil.move(path, path + "__staging")  # crash window, old layout
    assert recover_snapshot(path) is True
    assert spark.read.parquet(path).count() == 1


def test_recover_snapshot_cleans_stale_legacy_staging(spark, tmp_path):
    """Target intact + stale legacy '<path>__staging' dir: the stale dir
    parses as a bogus partition and must be deleted, not promoted."""
    import os

    from flink_etl_spark.operators.merge import recover_snapshot

    path = str(tmp_path / "snap5")
    spark.createDataFrame([(1, "new")], "id long, v string").write.parquet(path)
    legacy = path + "__staging"
    spark.createDataFrame([(1, "old")], "id long, v string").write.parquet(legacy)
    assert recover_snapshot(path) is False
    assert not os.path.exists(legacy)
    assert spark.read.parquet(path).first().v == "new"


def test_compact_partition_staging_invisible_to_table_readers(spark, tmp_path):
    """The staging dir for a partition compaction must NOT parse as a
    partition of the table: `_staging/dt=x` is skipped at the `_staging`
    component by Spark's file listing, so a concurrent table-root reader
    never double-counts the partition mid-compaction. (A flat
    `_staging__dt=x` sibling would NOT be skipped — the `_`-prefix rule
    exempts names containing `=` — and a `dt=x__staging` sibling would
    be read as partition dt='x__staging'.)"""
    from flink_etl_spark.staged import _staging_path

    table = str(tmp_path / "tbl2")
    df = spark.createDataFrame(
        [(1, "20240101"), (2, "20240102")], "id long, dt string"
    )
    df.write.partitionBy("dt").parquet(table)
    # materialize a staging copy of one partition inside the table root,
    # exactly where compact_partition stages it
    part = f"{table}/dt=20240101"
    spark.read.parquet(part).write.parquet(_staging_path(part))
    assert _staging_path(part) == f"{table}/_staging/dt=20240101"
    # a table-root reader must see only the two real partitions
    assert spark.read.parquet(table).count() == 2


def test_compact_partition_bounds_files_preserves_data(spark, tmp_path):
    """Daily small-file compaction: a dt partition fragmented into many
    files collapses to target_files with identical contents; other
    partitions are untouched."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.maintenance import (
        compact_partition,
        partition_file_count,
    )

    table = str(tmp_path / "tbl")
    df = spark.range(10_000).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, "20240101").otherwise("20240102").alias("dt"),
    )
    df.repartition(16).write.partitionBy("dt").parquet(table)
    assert partition_file_count(spark, f"{table}/dt=20240101") > 4

    other_before = partition_file_count(spark, f"{table}/dt=20240102")
    before, after = compact_partition(spark, table, "20240101", target_files=1)
    assert before > 4 and after == 1
    assert partition_file_count(spark, f"{table}/dt=20240102") == other_before

    back = spark.read.parquet(table)
    assert back.filter("dt = 20240101").count() == 5000
    assert back.count() == 10_000


def test_compaction_refuses_streaming_sink_root(spark, tmp_path):
    """A _spark_metadata commit log pins the sink's exact file set;
    compacting behind it breaks every root read — both compactors must
    refuse instead."""
    import pytest as _pytest

    from flink_etl_spark.operators.maintenance import compact_partition
    from flink_etl_spark.sources.compact import compact_partitions

    root = tmp_path / "sinkroot"
    (root / "_spark_metadata").mkdir(parents=True)
    (root / "dt=20200323").mkdir()
    spark.range(3).coalesce(1).write.mode("overwrite").parquet(
        str(root / "dt=20200323")
    )
    with _pytest.raises(ValueError, match="_spark_metadata"):
        compact_partition(spark, str(root), "20200323")
    with _pytest.raises(ValueError, match="_spark_metadata"):
        compact_partitions(spark, str(root))


def test_compact_partition_missing_partition_is_noop(spark, tmp_path):
    """A nightly sweep over many tables must not fail because one table
    had no events yesterday: missing partition -> (0, 0), no read."""
    from flink_etl_spark.operators.maintenance import compact_partition

    table = tmp_path / "t"
    table.mkdir()
    assert compact_partition(spark, str(table), "20990101") == (0, 0)


def test_run_ingest_batch_pins_dynamic_overwrite(spark, tmp_path):
    """A one-day batch backfill under the Spark-default STATIC
    partitionOverwriteMode must not delete the other dt partitions at
    the sink path (the conf is pinned around the write), and the
    caller's conf must be restored."""
    import json

    import pyspark.sql.functions as F

    from flink_etl_spark.streaming.ingest import SinkConfig, run_ingest_batch

    path = str(tmp_path / "out")
    # pre-existing partition from an earlier day
    spark.createDataFrame([(1,)], "id long").withColumn(
        "dt", F.lit("20200101")
    ).write.partitionBy("dt").parquet(path)

    rec = json.dumps({
        "isDdl": "false", "id": 10, "es": 1584950400000, "ts": 1,
        "type": "INSERT",
        "data": [{"city": "beijing", "province": "bj"}],
    })
    raw = spark.createDataFrame([(rec,)], "value string")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        run_ingest_batch(
            raw, ["city", "province"],
            SinkConfig(path=path, checkpoint_location=str(tmp_path / "chk")),
        )
        assert spark.conf.get(key) == "static"  # restored
    finally:
        spark.conf.set(key, prev)
    dts = {r.dt for r in spark.read.parquet(path).select("dt").distinct().collect()}
    assert "20200101" in dts and "20200323" in dts
