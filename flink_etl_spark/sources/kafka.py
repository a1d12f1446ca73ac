"""Kafka source builders (S1, SURVEY.md §2.1).

Thin config-to-options mapping; the streaming entry point lives in
streaming/ingest.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: The EXACT schema `spark.read(.readStream).format("kafka").load()`
#: produces (public Structured-Streaming Kafka integration contract).
#: Recorded-frame tests build batches with this schema and feed them
#: through `decode_kafka_frames` -> the Canal chain, so every seam of
#: the consumption path except the broker socket itself is executed:
#: no broker runs in this environment, but the frame contract does.
KAFKA_FRAME_SCHEMA = StructType(
    [
        StructField("key", BinaryType()),
        StructField("value", BinaryType()),
        StructField("topic", StringType()),
        StructField("partition", IntegerType()),
        StructField("offset", LongType()),
        StructField("timestamp", TimestampType()),
        StructField("timestampType", IntegerType()),
    ]
)


def decode_kafka_frames(frames: DataFrame) -> DataFrame:
    """Kafka frame -> raw JSON string: the one projection between the
    source and the Canal chain (`CAST(value AS STRING)` — the Kafka
    `value` is BINARY; the reference's SimpleStringSchema did the same
    utf-8 decode, HdfsSink.java:52). Shared by the real source readers
    AND the recorded-frame contract tests so both run the identical
    code path."""
    return frames.selectExpr("CAST(value AS STRING) AS value")
