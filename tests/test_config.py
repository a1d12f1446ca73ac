"""Config surface (replaces the reference's HOCON loader, Utility.java
+ kafkaConfig.conf)."""

from __future__ import annotations

import os
from unittest import mock

import pytest

from flink_etl_spark.config import KafkaSourceConfig, PipelineConfig, SinkConfig


def test_kafka_reader_options_shape():
    cfg = KafkaSourceConfig(
        bootstrap_servers="b1:9092,b2:9092", topic="qfbap_ods.code_city",
        starting_offsets="earliest", group_id="test123",
    )
    opts = cfg.reader_options()
    assert opts["kafka.bootstrap.servers"] == "b1:9092,b2:9092"
    assert opts["subscribe"] == "qfbap_ods.code_city"
    # earliest replay is the reference's start position (HdfsSink.java:54)
    assert opts["startingOffsets"] == "earliest"


def test_pipeline_config_env_overrides():
    with mock.patch.dict(os.environ, {
        "FLINK_ETL_SPARK_KAFKA_TOPIC": "other.topic",
        "FLINK_ETL_SPARK_SINK_PATH": "/data/out",
    }):
        cfg = PipelineConfig.from_env()
    assert cfg.kafka.topic == "other.topic"
    assert cfg.sink.path == "/data/out"


def test_sink_defaults_match_reference_policy():
    sink = SinkConfig(path="/p", checkpoint_location="/c")
    # 60s trigger plays the rolling-interval role (HdfsSink.java:112)
    assert sink.trigger_seconds == 60
    assert sink.partition_by == ("dt",)


def test_get_spark_extra_conf_overrides_runtime_confs(spark):
    """extra_conf must WIN over RUNTIME_CONFS — the post-getOrCreate
    runtime re-apply (which exists for session reuse) used to clobber
    explicit caller overrides right back to the engine defaults."""
    from flink_etl_spark.session import RUNTIME_CONFS, get_spark

    key = "spark.sql.legacy.parquet.nanosAsLong"
    assert RUNTIME_CONFS[key] == "true"
    prev = spark.conf.get(key)
    try:
        s = get_spark(extra_conf={key: "false"})
        assert s.conf.get(key) == "false"
    finally:
        spark.conf.set(key, prev)


def test_get_spark_reuse_takes_static_extra_conf_and_runtime_confs(spark):
    """On a running session, a static key in extra_conf must not raise
    (getOrCreate only warns about it), and every RUNTIME_CONFS value
    holds again even after a caller drifted one."""
    from flink_etl_spark.session import RUNTIME_CONFS, get_spark

    drift = "spark.sql.sources.partitionColumnTypeInference.enabled"
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(drift, "true")
    try:
        s = get_spark(
            shuffle_partitions=int(parts),
            extra_conf={"spark.sql.warehouse.dir": "/nonexistent/warehouse"},
        )
        assert s is spark
        for k, v in RUNTIME_CONFS.items():
            assert s.conf.get(k) == v, k
        assert s.conf.get("spark.sql.warehouse.dir") != "/nonexistent/warehouse"
    finally:
        spark.conf.set(drift, RUNTIME_CONFS[drift])


def test_dynamic_partition_overwrite_restores_on_error(spark):
    """The shared conf pin must restore the caller's mode even when the
    enclosed write raises — a leaked 'dynamic' would change later
    unrelated overwrites' semantics (and a leaked 'static' would make
    the next partition overwrite wipe its table)."""
    from flink_etl_spark.session import dynamic_partition_overwrite

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, "static")
    spark.conf.set(key, "static")
    try:
        with pytest.raises(RuntimeError, match="boom"):
            with dynamic_partition_overwrite(spark):
                assert spark.conf.get(key) == "dynamic"
                raise RuntimeError("boom")
        assert spark.conf.get(key) == "static"
    finally:
        spark.conf.set(key, prev)
