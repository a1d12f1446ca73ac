"""SparkSession factory with engine defaults.

Replaces the reference's environment setup (HdfsSink.java:36-44 —
execution env, parallelism, checkpointing) with a Spark-first
configuration. `get_spark`'s builder is the one place the package
configures a session; its defaults serve users' own queries. The
package's plans and writes carry their own semantics: e.g. dt buckets
in UTC whatever the session zone (the reference used the JVM default
TZ, EventTimeBucketAssigner.java:41-42; SURVEY.md §7).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# SQL confs `get_spark` builds its session with, for users' own queries
RUNTIME_CONFS: dict[str, str] = {
    # driver testdata uses pandas-default INT64 TIMESTAMP(NANOS) which
    # Spark refuses by default; read them as raw longs and convert.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deterministic timestamp rendering (see module doc)
    "spark.sql.session.timeZone": "UTC",
    # INSERT OVERWRITE a single dt= partition without nuking the table
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    # dt partitions are STRINGS ("dt=00000000" sentinel included); type
    # inference would read them back as ints and turn the sentinel into 0
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}


def get_spark(
    app_name: str = "flink-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    for tests; on a real cluster callers pass their own master/deploy
    config and only the SQL confs below matter.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # getOrCreate applies every builder option: a new session takes them
    # at creation, a reused one takes the runtime ones through
    # applyModifiableSettings (static keys only log a warning), and
    # extra_conf was added last, so it wins over RUNTIME_CONFS
    return builder.getOrCreate()


# Conf key gating lineage anchors between fast executor-local
# checkpoints and fault-tolerant reliable checkpoints (see `anchor`).
RELIABLE_CHECKPOINT_CONF = "spark.flinkEtlSpark.reliableCheckpoint"


def anchor(df, eager: bool = True):
    """Materialize a DataFrame to cap lineage / stop re-evaluation.

    Defaults to ``localCheckpoint`` — blocks live on executors, freed
    by the ContextCleaner once the returned frame is dropped; the
    right trade on local mode and on clusters without executor churn.
    The cost it hides: localCheckpoint blocks DIE with a lost
    executor, failing the job instead of recomputing, so long-running
    cluster deployments of the iterative/self-join operators
    (`media_phash_dup_clusters`, `duplicate_clusters`, `bpe_fit`)
    should set the session conf
    ``spark.flinkEtlSpark.reliableCheckpoint=true`` AND a checkpoint
    directory (``spark.sparkContext.setCheckpointDir(hdfs_path)``) —
    this helper then uses reliable ``checkpoint()``, which survives
    executor loss at the price of one HDFS round-trip per anchor.
    If the conf is set without a checkpoint dir, raises loudly
    (Spark's own error names the fix) rather than silently degrading
    the fault-tolerance the caller asked for.

    ``eager=False`` cuts the lineage without computing the frame: the
    returned frame plans as one ``Scan ExistingRDD`` leaf, and the
    first job that consumes it computes the blocks and keeps them for
    every later job (`minhash_near_dups` reads its profile this way
    from four branches). Only an exchange inside the anchored plan
    runs at once: the adaptive plan runs its map stage when the anchor
    is built. A lost executor still fails the job, as with an eager
    local anchor, unless the reliable conf is set; under it the leaf
    is computed by the first job and computed AGAIN when Spark saves
    it to the checkpoint directory after that job."""
    conf = df.sparkSession.conf.get(RELIABLE_CHECKPOINT_CONF, "false")
    if str(conf).lower() == "true":
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def pinned_conf(spark: SparkSession, key: str, value: str):
    """Set one session conf for the enclosed block, then restore the
    caller's setting (unset if it had none), also on error. Only for
    confs with no per-plan or per-write form."""
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def dynamic_partition_overwrite(spark: SparkSession):
    """Pin `partitionOverwriteMode=dynamic` for the enclosed write (under
    Spark's `static` default a partitioned overwrite DELETES every
    partition absent from the frame). Only `insertInto` needs the
    session pin: it ignores the per-write option path writes pass (a
    one-partition overwrite with the option wiped the other one)."""
    return pinned_conf(spark, "spark.sql.sources.partitionOverwriteMode", "dynamic")
