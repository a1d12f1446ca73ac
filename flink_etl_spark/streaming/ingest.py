"""The reference's streaming job, Spark-first: Kafka/file source ->
Canal transform chain -> event-date-partitioned file sink.

Reference lifecycle (HdfsSink.java:36-126) mapped onto Structured
Streaming (SURVEY.md §3.1):

| Flink (reference)                      | here                          |
|----------------------------------------|-------------------------------|
| env + checkpointing 10s (:40-44)       | checkpointLocation option     |
| FlinkKafkaConsumer earliest (:47-55)   | readStream kafka / file source|
| filter isDdl -> map flatten (:58-104)  | canal.ingest_pipeline         |
| StreamingFileSink + bucket assigner    | writeStream.partitionBy("dt") |
|   + rolling policy (:110-125)          |   + trigger + maxRecordsPerFile|
| env.execute (:126)                     | .start() -> StreamingQuery    |

Exactly-once to files comes from the sink commit log (replaces Flink's
checkpoint-barrier pending-file protocol). File *boundaries* differ
from the reference's 60s/128MB rolls; file *contents* and partitioning
are identical, which is what the batch consumer (the daily merge) sees.

The transform chain is stateless record-at-a-time, so the same
`ingest_pipeline` runs in batch mode (`run_ingest_batch`) for testing
and backfills — one code path, two execution modes.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from flink_etl_spark.config import KafkaSourceConfig, SinkConfig
from flink_etl_spark.operators.canal import ingest_pipeline


def read_kafka_stream(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """S1: Kafka topic as a stream of raw JSON strings
    (HdfsSink.java:47-55; earliest offsets per :54). Frame decoding is
    shared with the batch reader and the recorded-frame contract tests
    (sources/kafka.decode_kafka_frames)."""
    from flink_etl_spark.sources.kafka import decode_kafka_frames

    reader = spark.readStream.format("kafka")
    for k, v in cfg.reader_options().items():
        reader = reader.option(k, v)
    return decode_kafka_frames(reader.load())


def read_file_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """Kafka test-double: JSONL files as a stream (one `value` string
    per line) — lets the whole pipeline run without brokers."""
    reader = spark.readStream.format("text")
    # `is not None`, not truthiness: a (mis)configured 0 must surface
    # Spark's "maxFilesPerTrigger must be positive" error, not silently
    # drain the whole directory unthrottled in one micro-batch
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def start_ingest(
    raw: DataFrame,
    payload_cols: Sequence[str],
    sink: SinkConfig,
    available_now: bool = False,
) -> StreamingQuery:
    """Attach the Canal chain and start the partitioned file sink.

    `available_now=True` drains everything currently available then
    stops — the testing/backfill trigger; otherwise the processing-time
    trigger plays the reference's 60 s rollover role (T4)."""
    out = ingest_pipeline(raw, payload_cols)
    writer = (
        out.writeStream.format(sink.format)
        .option("path", sink.path)
        .option("checkpointLocation", sink.checkpoint_location)
        .option("maxRecordsPerFile", str(sink.max_records_per_file))
        .partitionBy(*sink.partition_by)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{sink.trigger_seconds} seconds")
    return writer.start()


def run_ingest_batch(
    raw: DataFrame, payload_cols: Sequence[str], sink: SinkConfig
) -> None:
    """Same pipeline, batch execution (backfill / tests): identical
    transform chain, identical partitioned layout.

    The write passes `partitionOverwriteMode=dynamic` itself: under
    Spark's static default a one-day backfill would DELETE every other
    partition at sink.path."""
    out = ingest_pipeline(raw, payload_cols)
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .format(sink.format)
        .option("maxRecordsPerFile", str(sink.max_records_per_file))
        .partitionBy(*sink.partition_by)
        .save(sink.path)
    )
