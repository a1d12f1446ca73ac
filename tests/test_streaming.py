"""Streaming/batch equivalence for the ingest job (SURVEY.md §5.4):
identical transform chain under readStream must produce the same
partitioned output as the batch run."""

from __future__ import annotations

import pytest

import json

from flink_etl_spark.config import SinkConfig
from flink_etl_spark.streaming import ingest


def _write_jsonl(path, n=20):
    recs = []
    for i in range(n):
        recs.append(json.dumps({
            "isDdl": "false" if i % 5 else "true",
            "id": i,
            "es": 1704067200000 + i * 43_200_000,  # every 12h -> several dt days
            "ts": i,
            "type": "INSERT",
            "data": [{"city": f"c{i}", "province": f"p{i % 3}"}],
        }))
    path.write_text("\n".join(recs))


def test_stream_equals_batch(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src / "chunk.jsonl")

    batch_sink = SinkConfig(path=str(tmp_path / "out_batch"),
                            checkpoint_location=str(tmp_path / "chk_b"))
    stream_sink = SinkConfig(path=str(tmp_path / "out_stream"),
                             checkpoint_location=str(tmp_path / "chk_s"))

    raw_batch = spark.read.text(str(src))
    ingest.run_ingest_batch(raw_batch, ["city", "province"], batch_sink)

    raw_stream = spark.readStream.format("text").schema("value string").load(str(src))
    q = ingest.start_ingest(raw_stream, ["city", "province"], stream_sink,
                            available_now=True)
    q.awaitTermination(120)

    b = spark.read.option("basePath", batch_sink.path).parquet(batch_sink.path)
    s = spark.read.option("basePath", stream_sink.path).parquet(stream_sink.path)
    b_rows = sorted(map(tuple, b.select("id", "es", "ts", "type", "city", "province", "dt").collect()))
    s_rows = sorted(map(tuple, s.select("id", "es", "ts", "type", "city", "province", "dt").collect()))
    assert b_rows == s_rows
    assert len(b_rows) == 16  # 4 of 20 records are DDL -> dropped
    # partition layout is dt=yyyyMMdd directories
    dts = {r.dt for r in b.select("dt").distinct().collect()}
    assert all(len(d) == 8 and d.isdigit() for d in dts) and len(dts) > 1


def test_stream_restart_is_exactly_once(spark, tmp_path):
    """Restarting with the same checkpoint must not duplicate output."""
    src = tmp_path / "src"
    src.mkdir()
    _write_jsonl(src / "a.jsonl", n=10)
    sink = SinkConfig(path=str(tmp_path / "out"),
                      checkpoint_location=str(tmp_path / "chk"))

    def run_once():
        raw = spark.readStream.format("text").schema("value string").load(str(src))
        q = ingest.start_ingest(raw, ["city", "province"], sink, available_now=True)
        q.awaitTermination(120)

    run_once()
    n1 = spark.read.parquet(sink.path).count()
    # second start over the same checkpoint: no new input -> no new rows
    run_once()
    n2 = spark.read.parquet(sink.path).count()
    assert n1 == n2 == 8  # 2 of 10 are DDL


def test_watermarked_window_agg_stream_equals_batch(spark, tmp_path):
    """Tumbling-window agg with a watermark under readStream must match
    the batch result once the stream drains (availableNow)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    src = str(tmp_path / "events_pq")
    events.write.parquet(src)

    # watermarks require instant TIMESTAMP (not NTZ) — cast both modes
    batch = (
        spark.read.parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "1 hour").getField("start").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    expected = sorted((r.w, r.n) for r in batch.collect())

    stream = (
        spark.readStream.schema(events.schema).parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").getField("start").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory").queryName("win_agg_test")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.w, r.n) for r in spark.sql("SELECT * FROM win_agg_test").collect()
    )
    assert got == expected


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream inner join with watermarks + event-time range
    condition must equal the batch interval join once drained."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.joins import interval_join
    from flink_etl_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value",
    )
    src = str(tmp_path / "ev_ss")
    events.write.parquet(src)
    schema = "event_id bigint, user_id bigint, ts timestamp, event_type string, value double"

    def split(df):
        p = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id",
            F.col("ts").alias("pts"),
        )
        c = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("cts"),
        )
        return p, c

    sp, sc = split(spark.readStream.schema(schema).parquet(src))
    joined = (
        sp.withWatermark("pts", "2 hours")
        .join(
            sc.withWatermark("cts", "2 hours"),
            F.expr(
                "user_id = c_user_id AND "
                "cts > pts - INTERVAL 1 HOUR AND cts <= pts"
            ),
            "inner",
        )
        .select("purchase_id", "click_id")
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_join_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM ss_join_test").collect())
    )

    bp, bc = split(spark.read.parquet(src))
    batch = interval_join(
        bp, bc.withColumnRenamed("c_user_id", "user_id"),
        on=["user_id"], left_ts="pts", right_ts="cts",
        lower="1 HOUR", upper="0 SECONDS",
    ).filter(F.col("click_id").isNotNull())
    expected = sorted(map(tuple, batch.select("purchase_id", "click_id").collect()))
    assert got == expected
    assert len(got) > 0


def test_stream_static_broadcast_join_equals_batch(spark, tmp_path):
    """Stream-static join: a streaming fact enriched by a static
    dimension (no watermark needed — the static side is just a lookup)
    must equal the batch join."""
    import pyspark.sql.functions as F

    from flink_etl_spark.sources.tables import load_table

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    customers = load_table(spark, "/root/testdata/sf0.001", "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    src = str(tmp_path / "ev_ss2")
    events.write.parquet(src)

    stream = spark.readStream.schema(events.schema).parquet(src)
    joined = stream.join(F.broadcast(customers), "user_id").select(
        "event_id", "user_id", "c_mktsegment"
    )
    q = (
        joined.writeStream.format("memory").queryName("ss_static_test")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ss_static_test").collect()))

    expected = sorted(
        map(tuple,
            events.join(F.broadcast(customers), "user_id")
            .select("event_id", "user_id", "c_mktsegment").collect())
    )
    assert got == expected
    assert len(got) >= 1000


@pytest.mark.slow
def test_continuous_dedup_stream_scrubs_against_earlier_batches(
    spark, tmp_path
):
    """Three single-file micro-batches through start_continuous_dedup:
    each batch loses exactly the passages already ingested by EARLIER
    batches (plus its own repeats), first occurrences survive, and the
    accreted index equals the union of all batches' anchor keys."""
    import os
    import time as _time

    from flink_etl_spark.streaming.dedup_sink import start_continuous_dedup

    para = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(12))
    batches = [
        [(1, para + " tail"), (2, other)],
        [(10, "shift " + para)],          # dup of batch-0 passage
        [(20, other), (21, "fresh " + " ".join(f"u{i}" for i in range(10)))],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            p for p in os.listdir(tmp_path / f"stage{i}")
            if p.endswith(".parquet")
        )
        dst = src / f"b{i}.parquet"
        os.rename(tmp_path / f"stage{i}" / part, dst)
        # FileStreamSource orders by modification time: pin it
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        _time.sleep(0.01)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_continuous_dedup(
        stream,
        index_path=str(tmp_path / "idx"),
        output_path=str(tmp_path / "out"),
        checkpoint_location=str(tmp_path / "ck"),
        min_tokens=8,
        available_now=True,
    )
    q.awaitTermination(120)

    out = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    assert set(out) == {1, 2, 10, 20, 21}
    assert out[1][0] == out[1][1]  # batch-0 docs intact
    assert out[2][0] == out[2][1]
    assert out[10] == (13, 1, "shift")  # batch-0 passage scrubbed
    assert out[20] == (12, 0, "")  # dup of batch-0's `other`
    assert out[21][0] == out[21][1]  # genuinely fresh text survives

    # index = union of every batch's distinct keys (batch 1/2 dirs
    # exist even though their content duplicated earlier batches).
    # batch_id reads as STRING: the engine session disables partition
    # type inference — which is why the sink's pruning filter carries
    # an explicit bigint cast
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert {
        r.batch_id for r in idx.select("batch_id").distinct().collect()
    } == {"0", "1", "2"}


def test_continuous_dedup_replay_is_idempotent(spark, tmp_path):
    """The replay-safety core: re-running a batch step AFTER its own
    keys were staged must keep the batch's first occurrences (the
    batch-id partition pruning excludes its own directory), producing
    byte-identical output both times."""
    from flink_etl_spark.streaming.dedup_sink import dedup_batch_step

    para = " ".join(f"w{i}" for i in range(12))
    b0 = spark.createDataFrame([(1, para)], "doc_id long, text string")
    b1 = spark.createDataFrame(
        [(10, "pre " + para), (11, "solo " + " ".join(f"x{i}" for i in range(9)))],
        "doc_id long, text string",
    )
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    dedup_batch_step(b0, 0, idx, out, min_tokens=8)
    dedup_batch_step(b1, 1, idx, out, min_tokens=8)
    first = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=1").collect())
    )
    # doc 11's text is a batch-1 first occurrence; its keys are now in
    # idx/batch_id=1 — a naive replay would scrub it against itself
    dedup_batch_step(b1, 1, idx, out, min_tokens=8)
    second = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=1").collect())
    )
    assert first == second
    kept = {r[0]: r for r in second}  # (doc_id, n_tokens, n_kept, text)
    assert kept[11][3] == "solo x0 x1 x2 x3 x4 x5 x6 x7 x8"
    assert kept[10][3] == "pre"


@pytest.mark.slow
def test_compact_dedup_index_preserves_scrub_and_replay(spark, tmp_path):
    """Folding pre-horizon index partitions must change NOTHING
    semantically: a new batch scrubs to byte-identical output against
    the compacted index, the in-flight (max) batch replays
    idempotently after compaction, and a second compaction folds the
    previous consolidated partition too."""
    from flink_etl_spark.staged import _list_index_partitions
    from flink_etl_spark.streaming.dedup_sink import (
        compact_dedup_index,
        dedup_batch_step,
    )

    para = " ".join(f"w{i}" for i in range(12))
    other = " ".join(f"v{i}" for i in range(12))
    batches = {
        0: [(1, para + " tail")],
        1: [(10, other)],
        2: [(20, "mid " + " ".join(f"m{i}" for i in range(10)))],
        3: [(30, "shift " + para)],  # scrubbed against batch 0
    }
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    for bid, rows in batches.items():
        dedup_batch_step(
            spark.createDataFrame(rows, "doc_id long, text string"),
            bid, idx, out, min_tokens=8,
        )
    batch3_first = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=3").collect())
    )

    # reference scrub of a NEW batch against the uncompacted index
    b4 = spark.createDataFrame(
        [(40, "x " + para), (41, "y " + other), (42, "novel z0 z1 z2")],
        "doc_id long, text string",
    )
    dedup_batch_step(b4, 4, idx, out, min_tokens=8)
    batch4_ref = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=4").collect())
    )
    # roll back batch 4's index partition so compaction (horizon =
    # max = 4... ) — keep it: horizon defaults to max id (4), folding
    # 0..3; batch 4 itself stays unfolded and replayable.

    folded = compact_dedup_index(spark, idx)
    assert folded == 4
    assert _list_index_partitions(spark, idx) == [-1, 4]

    # the replayable (max) batch re-runs byte-identically
    dedup_batch_step(b4, 4, idx, out, min_tokens=8)
    assert sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=4").collect())
    ) == batch4_ref

    # a genuinely new batch scrubs BYTE-IDENTICALLY against the
    # compacted index vs an uncompacted twin built from the same
    # batch history
    idx2, out2 = str(tmp_path / "idx2"), str(tmp_path / "out2")
    for bid, rows in batches.items():
        dedup_batch_step(
            spark.createDataFrame(rows, "doc_id long, text string"),
            bid, idx2, out2, min_tokens=8,
        )
    dedup_batch_step(b4, 4, idx2, out2, min_tokens=8)
    b5 = spark.createDataFrame(
        [(50, "x " + para), (51, "y " + other), (52, "unseen q0 q1 q2")],
        "doc_id long, text string",
    )
    dedup_batch_step(b5, 5, idx, out, min_tokens=8)
    dedup_batch_step(b5, 5, idx2, out2, min_tokens=8)
    got5 = sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=5").collect())
    )
    ref5 = sorted(
        map(tuple, spark.read.parquet(f"{out2}/batch_id=5").collect())
    )
    assert got5 == ref5

    # second compaction folds the consolidated partition as well,
    # with a strictly decreasing fresh id
    folded2 = compact_dedup_index(spark, idx)
    assert folded2 == 2  # {-1, 4} folded under horizon=5
    assert _list_index_partitions(spark, idx) == [-2, 5]

    # batch 3 output unchanged on disk (sanity: compaction never
    # touches outputs)
    assert sorted(
        map(tuple, spark.read.parquet(f"{out}/batch_id=3").collect())
    ) == batch3_first


def test_compact_dedup_index_noop_cases(spark, tmp_path):
    """No partitions, a single partition, or an explicit horizon that
    folds fewer than two directories must all be no-ops."""
    from flink_etl_spark.staged import _list_index_partitions
    from flink_etl_spark.streaming.dedup_sink import (
        compact_dedup_index,
        dedup_batch_step,
    )

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    assert compact_dedup_index(spark, idx) == 0  # path absent

    b = spark.createDataFrame([(1, "a b c d e f g h")], "doc_id long, text string")
    dedup_batch_step(b, 0, idx, out, min_tokens=4)
    assert compact_dedup_index(spark, idx) == 0  # nothing below max
    dedup_batch_step(b, 1, idx, out, min_tokens=4)
    assert compact_dedup_index(spark, idx) == 0  # one dir below max
    assert compact_dedup_index(spark, idx, horizon=1) == 0
    assert _list_index_partitions(spark, idx) == [0, 1]


@pytest.mark.slow
def test_continuous_dedup_inline_compaction_matches_uncompacted(
    spark, tmp_path
):
    """compact_every folds the index inside the sink: outputs must
    equal an identical run without compaction, and the directory
    count must stay bounded."""
    import os
    import time as _time

    from flink_etl_spark.staged import _list_index_partitions
    from flink_etl_spark.streaming.dedup_sink import (
        start_continuous_dedup,
    )

    para = " ".join(f"w{i}" for i in range(12))
    batches = [
        [(1, para + " tail")],
        [(10, "shift " + para)],
        [(20, "fresh " + " ".join(f"u{i}" for i in range(10)))],
        [(30, "again " + para)],
        [(40, "solo " + " ".join(f"z{i}" for i in range(10)))],
    ]

    def run(tag, **kw):
        src = tmp_path / f"src_{tag}"
        src.mkdir()
        for i, rows in enumerate(batches):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            stage = tmp_path / f"stage_{tag}{i}"
            df.coalesce(1).write.mode("overwrite").parquet(str(stage))
            part = next(
                p for p in os.listdir(stage) if p.endswith(".parquet")
            )
            dst = src / f"b{i}.parquet"
            os.rename(stage / part, dst)
            os.utime(dst, (1_000_000 + i, 1_000_000 + i))
            _time.sleep(0.01)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_continuous_dedup(
            stream,
            index_path=str(tmp_path / f"idx_{tag}"),
            output_path=str(tmp_path / f"out_{tag}"),
            checkpoint_location=str(tmp_path / f"ck_{tag}"),
            min_tokens=8,
            available_now=True,
            **kw,
        )
        q.awaitTermination(120)
        return sorted(
            map(
                tuple,
                spark.read.parquet(str(tmp_path / f"out_{tag}"))
                .drop("batch_id")
                .collect(),
            )
        )

    plain = run("plain")
    compacted = run("compact", compact_every=2)
    assert plain == compacted
    # 5 batches with compact_every=2: last fold at batch 4 (horizon=4)
    # leaves {consolidated, 4} — bounded, fewer dirs than batches
    parts = _list_index_partitions(spark, str(tmp_path / "idx_compact"))
    assert len(parts) < 5 and parts[0] < 0 and parts[-1] == 4

    import pytest

    with pytest.raises(ValueError, match="compact_every"):
        start_continuous_dedup(
            spark.readStream.schema("doc_id long, text string")
            .parquet(str(tmp_path / "src_plain")),
            index_path=str(tmp_path / "i2"),
            output_path=str(tmp_path / "o2"),
            checkpoint_location=str(tmp_path / "c2"),
            compact_every=0,
        )


@pytest.mark.slow
def test_continuous_ann_index_append_matches_batch_build(spark, tmp_path):
    """streaming/ann_sink: an embedding stream appended micro-batch by
    micro-batch into a pre-built IVF-PQ index converges to the SAME
    searchable index as a one-shot build over the full corpus (the
    bootstrap half holds the seed vectors); a restarted stream with a
    redelivered batch appends nothing; a missing index or bad kind
    fails at attach time."""
    import os

    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import start_continuous_ann_index

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    schema = "vec_id long, embedding array<float>"
    bootstrap = embs.filter("vec_id < 250")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(bootstrap, idx, n_cells=4, m=8, n_codes=16)

    # two micro-batch files of the remaining half
    src = tmp_path / "src"
    src.mkdir()
    for i, pred in enumerate(
        ["vec_id >= 250 and vec_id < 375", "vec_id >= 375"]
    ):
        stage = tmp_path / f"stage{i}"
        embs.filter(pred).coalesce(1).write.mode("overwrite").parquet(
            str(stage)
        )
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(stage / part, src / f"b{i}.parquet")

    def attach():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = start_continuous_ann_index(
            stream, idx, str(tmp_path / "ck"), kind="ivfpq",
            available_now=True,
        )
        q.awaitTermination(120)

    attach()
    full_idx = str(tmp_path / "full")
    similarity.ivfpq_build_index(embs, full_idx, n_cells=4, m=8, n_codes=16)
    read = lambda p: sorted(
        map(lambda r: (r[0], list(r[1]), r[2]),
            spark.read.parquet(f"{p}/cells").collect())
    )
    assert read(idx) == read(full_idx)

    # restart: checkpoint replays nothing new; then a REDELIVERED file
    # (same ids, new name -> new micro-batch) appends nothing either
    import shutil

    shutil.copy(src / "b1.parquet", src / "b1_replay.parquet")
    attach()
    assert read(idx) == read(full_idx)

    qs = embs.filter("vec_id < 8")
    a = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=2).collect()))
    b = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, full_idx, qs, k=5, nprobe=2).collect()))
    assert a == b

    # attach-time failures
    dead = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    with pytest.raises(ValueError, match="no IVF-PQ index"):
        start_continuous_ann_index(
            dead, str(tmp_path / "nope"), str(tmp_path / "ck2")
        )
    with pytest.raises(ValueError, match="kind must be"):
        start_continuous_ann_index(
            dead, idx, str(tmp_path / "ck3"), kind="hnsw"
        )


@pytest.mark.slow
def test_continuous_ann_index_pq_kind(spark, tmp_path):
    """The sink's kind='pq' branch: a streamed flat-PQ index converges
    to the one-shot build (bootstrap half holds the seed vectors)."""
    import os

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import start_continuous_ann_index

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "pq_idx")
    similarity.pq_build_index(
        embs.filter("vec_id < 250"), idx, m=8, n_codes=16
    )
    src = tmp_path / "src"
    src.mkdir()
    stage = tmp_path / "stage"
    embs.filter("vec_id >= 250").coalesce(1).write.mode("overwrite").parquet(
        str(stage)
    )
    part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
    os.rename(stage / part, src / "b0.parquet")
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_continuous_ann_index(
        stream, idx, str(tmp_path / "ck"), kind="pq", available_now=True
    )
    q.awaitTermination(120)

    full = str(tmp_path / "pq_full")
    similarity.pq_build_index(embs, full, m=8, n_codes=16)
    read = lambda p: sorted(
        map(lambda r: (r[0], list(r[1])),
            spark.read.parquet(f"{p}/codes").collect())
    )
    assert read(idx) == read(full)

@pytest.mark.slow
def test_compact_ann_index_bounds_files_preserves_rows_and_replay(
    spark, tmp_path
):
    """compact_ann_index: after many small appends, every cell
    partition is rewritten to the file-count target with the (id,
    codes) row set byte-identical, search results unchanged, a
    replayed append still converges to a no-op (the anti-join contract
    rides the preserved id set), and an immediate re-compaction is a
    no-op."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        compact_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(
        embs.filter("vec_id < 100"), idx, n_cells=4, m=8, n_codes=16
    )
    # 8 small appends -> every touched cell accretes 8+ file sets
    for lo in range(100, 500, 50):
        similarity.ivfpq_append_index(
            spark, embs.filter(f"vec_id >= {lo} and vec_id < {lo + 50}"), idx
        )
    read_cells = lambda: sorted(
        map(lambda r: (r[0], list(r[1]), r[2]),
            spark.read.parquet(f"{idx}/cells").collect())
    )
    qs = embs.filter("vec_id < 8")
    search = lambda: sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=2).collect()))
    rows_before, res_before = read_cells(), search()
    dirs = _ann_data_dirs(spark, idx)
    assert max(partition_file_count(spark, d) for d in dirs) > 2

    n = compact_ann_index(spark, idx, target_files=1)
    assert n >= 1
    assert all(partition_file_count(spark, d) == 1 for d in dirs)
    assert read_cells() == rows_before
    assert search() == res_before
    # replayed (already-present) batch appends nothing post-compaction
    assert similarity.ivfpq_append_index(
        spark, embs.filter("vec_id >= 100 and vec_id < 150"), idx
    ) == 0
    # everything at target already -> no-op
    assert compact_ann_index(spark, idx, target_files=1) == 0


def test_compact_ann_index_pq_kind_and_validation(spark, tmp_path):
    """Flat-PQ codes/ dir compacts the same way; bad target_files and
    non-index dirs raise."""
    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import compact_ann_index

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "pq")
    similarity.pq_build_index(embs.filter("vec_id < 200"), idx, m=8,
                              n_codes=16)
    for lo in (200, 300, 400):
        similarity.pq_append_index(
            spark, embs.filter(f"vec_id >= {lo} and vec_id < {lo + 100}"),
            idx,
        )
    rows = lambda: sorted(
        map(lambda r: (r[0], list(r[1])),
            spark.read.parquet(f"{idx}/codes").collect())
    )
    before = rows()
    assert partition_file_count(spark, f"{idx}/codes") > 1
    assert compact_ann_index(spark, idx, target_files=1) == 1
    assert partition_file_count(spark, f"{idx}/codes") == 1
    assert rows() == before

    with pytest.raises(ValueError, match="target_files"):
        compact_ann_index(spark, idx, target_files=0)
    with pytest.raises(ValueError, match="neither"):
        compact_ann_index(spark, str(tmp_path / "nope"))


def test_compact_ann_index_signature_mismatch_refuses_swap(
    spark, tmp_path, monkeypatch
):
    """A staged rewrite that does NOT reproduce the original row set is
    refused: the original directory survives untouched and the staged
    copy is deleted (the append replay contract depends on the id set
    being preserved)."""
    import pytest

    from flink_etl_spark.operators import merge, similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import compact_ann_index

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.pq_build_index(embs.filter("vec_id < 200"), idx, m=8,
                              n_codes=16)
    similarity.pq_append_index(
        spark, embs.filter("vec_id >= 200 and vec_id < 300"), idx
    )
    before = sorted(
        map(lambda r: (r[0], list(r[1])),
            spark.read.parquet(f"{idx}/codes").collect())
    )

    real_stage = merge.stage_snapshot

    def corrupted_stage(df, path, fmt="parquet", partition_by=None):
        real_stage(df.limit(df.count() - 1), path, fmt, partition_by)

    monkeypatch.setattr(merge, "stage_snapshot", corrupted_stage)
    with pytest.raises(ValueError, match="signature"):
        compact_ann_index(spark, idx, target_files=1)
    monkeypatch.undo()
    after = sorted(
        map(lambda r: (r[0], list(r[1])),
            spark.read.parquet(f"{idx}/codes").collect())
    )
    assert after == before
    # and the staged junk is gone: a later compaction works cleanly
    assert compact_ann_index(spark, idx, target_files=1) == 1


def test_recover_ann_index_heals_crash_window(spark, tmp_path):
    """Crash inside compact's delete+rename window: the cell directory
    is missing, its staged replacement exists — a search would
    silently MISS the cell. recover_ann_index promotes the staged
    copy; stale staging next to an intact target is swept instead."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.merge import stage_snapshot
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.staged import _hadoop_fs, _staging_path
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        recover_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    read_cells = lambda: sorted(
        map(lambda r: (r[0], list(r[1]), r[2]),
            spark.read.parquet(f"{idx}/cells").collect())
    )
    before = read_cells()
    victim = _ann_data_dirs(spark, idx)[0]

    # simulate the crash: replacement staged, target deleted, no rename
    df = spark.read.parquet(victim)
    stage_snapshot(df.repartition(1), victim)
    fs, hp = _hadoop_fs(spark, victim)
    fs.delete(hp, True)
    assert len(read_cells()) < len(before)  # the silent-miss window

    assert recover_ann_index(spark, idx) == 1
    assert read_cells() == before

    # stale staging next to an INTACT target: swept, not promoted
    # (re-read: the pre-swap plan's file listing is stale after promote)
    stage_snapshot(spark.read.parquet(victim).limit(1), victim)
    assert recover_ann_index(spark, idx) == 0
    fs2, stale = _hadoop_fs(spark, _staging_path(victim))
    assert not fs2.exists(stale)
    assert read_cells() == before


def _hrow(r):
    """Row -> hashable tuple (list cells -> tuples)."""
    return tuple(tuple(x) if isinstance(x, list) else x for x in r)


def _mid_swap(spark, d, n_moves=None):
    """Drive the additive swap to a chosen crash point: stage a 1-file
    rewrite of `d`, write the roll-forward plan, then move `n_moves`
    staged files into the live dir (None = all). Returns the plan."""
    from flink_etl_spark.operators.merge import stage_snapshot
    from flink_etl_spark.staged import (
        COMPACT_PLAN,
        _hadoop_fs,
        _staging_path,
        _write_json_sidecar,
    )
    from flink_etl_spark.streaming.ann_sink import _data_file_names

    df = spark.read.parquet(d)
    stage_snapshot(df.repartition(1), d)
    fs, dp = _hadoop_fs(spark, d)
    _, sp = _hadoop_fs(spark, _staging_path(d))
    plan = {
        "version": 1,
        "originals": _data_file_names(fs, dp),
        "staged": _data_file_names(fs, sp),
    }
    _write_json_sidecar(spark, f"{_staging_path(d)}/{COMPACT_PLAN.name}", plan)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for name in plan["staged"][:n_moves]:
        assert fs.rename(
            Path(f"{_staging_path(d)}/{name}"), Path(f"{d}/{name}")
        )
    return plan


@pytest.mark.slow
def test_ann_search_is_correct_during_additive_compaction_swap(
    spark, tmp_path
):
    """The r10 reader contract: at EVERY point inside the additive
    swap (staged files moved in, originals not yet deleted) the live
    directory holds duplicated — never missing — rows, and both staged
    searches return results byte-identical to the quiesced index's
    (the ranking collapses duplicates). Covers IVF-PQ and flat PQ."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import _ann_data_dirs

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")

    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    search = lambda: sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=2).collect()))
    search_rr = lambda: sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=3, nprobe=2, rerank=2, corpus=embs).collect()))
    quiesced, quiesced_rr = search(), search_rr()
    victim = _ann_data_dirs(spark, idx)[0]
    base_rows = sorted(
        map(_hrow, spark.read.parquet(victim).collect())
    )
    _mid_swap(spark, victim)  # all staged files in, originals intact
    mid_rows = sorted(map(_hrow, spark.read.parquet(victim).collect()))
    assert len(mid_rows) == 2 * len(base_rows)        # duplicated...
    assert sorted(set(mid_rows)) == base_rows          # ...never missing
    assert search() == quiesced                        # ranking collapses
    # the rerank shortlist sees the same duplicates through the same
    # ranking — exact rescoring still matches the quiesced result
    assert search_rr() == quiesced_rr
    from flink_etl_spark.streaming.ann_sink import recover_ann_index

    assert recover_ann_index(spark, idx) == 1
    assert sorted(
        map(_hrow, spark.read.parquet(victim).collect())
    ) == base_rows
    assert search() == quiesced

    pq = str(tmp_path / "pq")
    similarity.pq_build_index(embs, pq, m=8, n_codes=16)
    psearch = lambda **kw: sorted(map(tuple, similarity.pq_search_index(
        spark, pq, qs, k=5, **kw).collect()))
    pquiesced = psearch()
    pquiesced_rr = psearch(rerank=2, corpus=embs)
    _mid_swap(spark, f"{pq}/codes")
    assert psearch() == pquiesced
    assert psearch(rerank=2, corpus=embs) == pquiesced_rr
    assert recover_ann_index(spark, pq) == 1
    assert psearch() == pquiesced


def test_recover_ann_index_rolls_additive_swap_forward(spark, tmp_path):
    """Crashes at every stage of the additive swap roll FORWARD: plan
    written but nothing moved; half the files moved; everything moved
    but originals not deleted. Each recovery leaves the row set
    byte-identical, the staging dir gone, and a repeated recovery a
    no-op. A plan referencing a staged file that exists nowhere
    refuses to delete originals."""
    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.staged import _hadoop_fs, _staging_path
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        recover_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(
        embs.filter("vec_id < 300"), idx, n_cells=4, m=8, n_codes=16
    )
    similarity.ivfpq_append_index(spark, embs.filter("vec_id >= 300"), idx)
    victim = _ann_data_dirs(spark, idx)[0]
    rows = lambda: sorted(map(_hrow, spark.read.parquet(victim).collect()))
    before = rows()

    for crash_point in (0, 1, None):  # none moved / one moved / all moved
        _mid_swap(spark, victim, n_moves=crash_point)
        assert sorted(set(rows())) == before  # never missing mid-crash
        assert recover_ann_index(spark, idx) == 1
        assert rows() == before
        assert partition_file_count(spark, victim) == 1
        fs, sp = _hadoop_fs(spark, _staging_path(victim))
        assert not fs.exists(sp)
        assert recover_ann_index(spark, idx) == 0  # idempotent

    # corrupt plan: staged file in neither staging nor target -> raise,
    # originals survive
    plan = _mid_swap(spark, victim, n_moves=0)
    fs, _ = _hadoop_fs(spark, victim)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs.delete(Path(f"{_staging_path(victim)}/{plan['staged'][0]}"), False)
    with pytest.raises(Exception, match="neither"):
        recover_ann_index(spark, idx)
    assert sorted(set(rows())) == before
    # heal by dropping the broken staging dir; the index is intact
    fs.delete(Path(_staging_path(victim)), True)
    assert rows() == before


def test_additive_swap_refuses_colliding_plan(spark, tmp_path):
    """r10 verdict item 3: a plan listing the same file name as both
    staged and original could delete data (the move is skipped when
    the destination exists, then every original name is deleted).
    Spark's UUID part names make a real collision cryptographically
    unlikely; the swap executor now makes it impossible — a forged
    colliding plan is refused before any file is touched, at both
    entry points (direct recovery and the attach-time heal)."""
    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.staged import (
        COMPACT_PLAN,
        _staging_path,
        _write_json_sidecar,
    )
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        recover_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    victim = _ann_data_dirs(spark, idx)[0]
    rows = lambda: sorted(map(_hrow, spark.read.parquet(victim).collect()))
    before = rows()

    plan = _mid_swap(spark, victim, n_moves=0)
    forged = {
        "version": 1,
        "originals": plan["originals"],
        # claim an ORIGINAL is also staged: the skip-then-delete
        # sequence would destroy it if the plan were executed
        "staged": plan["staged"] + [plan["originals"][0]],
    }
    _write_json_sidecar(
        spark, f"{_staging_path(victim)}/{COMPACT_PLAN.name}", forged
    )
    with pytest.raises(ValueError, match="both staged and original"):
        recover_ann_index(spark, idx)
    assert rows() == before  # nothing moved, nothing deleted


def _delete_originals(spark, d, plan):
    """Complete the additive swap's DELETE step by hand — the window a
    reader whose listing predates it fails loudly inside."""
    from flink_etl_spark.staged import _hadoop_fs

    fs, _ = _hadoop_fs(spark, d)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    for name in plan["originals"]:
        fs.delete(Path(f"{d}/{name}"), False)


@pytest.mark.slow
def test_search_retry_absorbs_compaction_delete_window(spark, tmp_path):
    """r10 verdict item 2: `retry_missing_files=1` absorbs the
    compaction window's loud read race without a hand-rolled caller
    retry. The test kills the read deterministically: the swap's
    staged files are moved in (`_mid_swap`), the search plan is built
    (file listing taken — the `_on_built` seam fires), THEN the
    originals are deleted, so attempt 0 opens a deleted file and fails
    with FAILED_READ_FILE; the re-planned attempt 1 must return rows
    byte-identical to the quiesced index's. Covers IVF-PQ and flat
    PQ. Without the option the same race must still raise (the loud
    contract is unchanged)."""
    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import _ann_data_dirs

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")

    # --- IVF-PQ: nprobe == n_cells so the victim cell is always read
    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    quiesced = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=4).collect()))
    victim = _ann_data_dirs(spark, idx)[0]
    plan = _mid_swap(spark, victim)  # staged moved in, originals live
    attempts = []

    def kill_first_read(attempt):
        attempts.append(attempt)
        if attempt == 0:
            _delete_originals(spark, victim, plan)

    got = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=4,
        retry_missing_files=1, _on_built=kill_first_read,
    ).collect()))
    assert attempts == [0, 1]  # the race fired AND was absorbed once
    assert got == quiesced

    # healthy index: no retry, result identical, plan listed once
    # (the callback's delete of the already-deleted originals is a
    # no-op — the swap completed above)
    attempts.clear()
    again = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=4,
        retry_missing_files=1, _on_built=kill_first_read,
    ).collect()))
    assert attempts == [0]  # single attempt, no re-plan
    assert again == quiesced

    # --- flat PQ, and the loud default: retry OFF must still raise
    pq = str(tmp_path / "pq")
    similarity.pq_build_index(embs, pq, m=8, n_codes=16)
    pquiesced = sorted(map(tuple, similarity.pq_search_index(
        spark, pq, qs, k=5).collect()))
    pplan = _mid_swap(spark, f"{pq}/codes")
    stale = similarity.pq_search_index(spark, pq, qs, k=5)  # lazy listing
    attempts.clear()

    def pq_kill(attempt):
        attempts.append(attempt)
        if attempt == 0:
            _delete_originals(spark, f"{pq}/codes", pplan)

    pgot = sorted(map(tuple, similarity.pq_search_index(
        spark, pq, qs, k=5, retry_missing_files=1, _on_built=pq_kill,
    ).collect()))
    assert attempts == [0, 1]
    assert pgot == pquiesced
    # the pre-deletion lazy plan fails loudly — retry never silently
    # becomes the default
    with pytest.raises(Exception, match="FAILED_READ_FILE|FileNotFound"):
        stale.collect()


@pytest.mark.slow
def test_continuous_ann_sink_compact_every_cadence(spark, tmp_path):
    """The sink's compact_every= runs the compaction inline: after
    draining N micro-batches the cell file counts are bounded, and the
    index still equals the one-shot build over the union corpus."""
    import os

    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        start_continuous_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    schema = "vec_id long, embedding array<float>"
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(
        embs.filter("vec_id < 100"), idx, n_cells=4, m=8, n_codes=16
    )
    src = tmp_path / "src"
    src.mkdir()
    for i, lo in enumerate(range(100, 500, 50)):
        stage = tmp_path / f"stage{i}"
        embs.filter(
            f"vec_id >= {lo} and vec_id < {lo + 50}"
        ).coalesce(1).write.mode("overwrite").parquet(str(stage))
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.rename(stage / part, src / f"b{i:02d}.parquet")

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_continuous_ann_index(
        stream, idx, str(tmp_path / "ck"), kind="ivfpq",
        available_now=True, compact_every=2,
    )
    q.awaitTermination(180)

    # bounded: compaction ran at batches 2,4,6 (8 batches: 0..7), so a
    # cell carries at most the compacted file + the post-batch-6
    # appends' file sets — never the 8 accreted sets of the raw sink
    counts = [
        partition_file_count(spark, d) for d in _ann_data_dirs(spark, idx)
    ]
    assert max(counts) <= 4, counts

    full = str(tmp_path / "full")
    similarity.ivfpq_build_index(embs, full, n_cells=4, m=8, n_codes=16)
    read = lambda p: sorted(
        map(lambda r: (r[0], list(r[1]), r[2]),
            spark.read.parquet(f"{p}/cells").collect())
    )
    assert read(idx) == read(full)

    with pytest.raises(ValueError, match="compact_every"):
        start_continuous_ann_index(
            spark.readStream.schema(schema).parquet(str(src)),
            idx, str(tmp_path / "ck2"), compact_every=0,
        )

@pytest.mark.slow
def test_pq_rebuild_index_and_sink_drift_cadence(spark, tmp_path):
    """pq_rebuild_index: params default from the old sidecar, result
    byte-identical to a fresh build, sidecar baseline re-armed,
    in-place/sidecar-less raise, refine=0 warns. And the continuous
    sink's drift_check_every= runs the kind-appropriate check inside
    foreachBatch: a drifted stream raises the drift UserWarning from
    the micro-batch thread."""
    import random
    import warnings

    import pytest

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.similarity import pq_rebuild_index
    from flink_etl_spark.staged import _read_json_sidecar
    from flink_etl_spark.streaming.ann_sink import (
        start_continuous_ann_index,
    )

    rng = random.Random(5)
    dim = 16

    def cluster_row(i, shift=0.0):
        v = [round(0.5 + shift + rng.gauss(0, 0.2), 4)] + [
            round(rng.gauss(0, 0.2), 4) for _ in range(dim - 1)
        ]
        return (i, v)

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [cluster_row(i) for i in range(400)], schema
    )
    union_rows = [cluster_row(1000 + i, shift=-3.0) for i in range(100)]
    union = base.unionByName(spark.createDataFrame(union_rows, schema))

    old = str(tmp_path / "old")
    similarity.pq_build_index(base, old, m=8, n_codes=16)
    similarity.pq_append_index(
        spark, spark.createDataFrame(union_rows, schema), old
    )

    new = str(tmp_path / "new")
    pq_rebuild_index(spark, old, new, union)
    fresh = str(tmp_path / "fresh")
    similarity.pq_build_index(union, fresh, m=8, n_codes=16,
                              refine_iters=2)
    codes = lambda p: sorted(
        (r[0], bytes(r[1]))
        for r in spark.read.parquet(f"{p}/codes").collect()
    )
    assert codes(new) == codes(fresh)
    # the rebuilt sidecar re-arms the drift baseline on the NEW corpus
    assert _read_json_sidecar(spark, f"{new}/_PQ_META.json")[
        "mean_recon_err"
    ] == _read_json_sidecar(spark, f"{fresh}/_PQ_META.json")[
        "mean_recon_err"
    ]

    with pytest.warns(UserWarning, match="without Lloyd refinement"):
        pq_rebuild_index(
            spark, old, str(tmp_path / "norefine"), union, refine_iters=0
        )
    with pytest.raises(ValueError, match="NEW path"):
        pq_rebuild_index(spark, old, old + "/", union)
    with pytest.raises(ValueError, match="no _PQ_META"):
        pq_rebuild_index(
            spark, str(tmp_path / "nope"), str(tmp_path / "x"), union
        )

    # sink drift cadence: stream DRIFTED batches into the base index
    # with drift_check_every=1 — the check must warn from foreachBatch
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(union_rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(src / "_stage"))
    import os
    part = next(
        p for p in os.listdir(src / "_stage") if p.endswith(".parquet")
    )
    os.rename(src / "_stage" / part, src / "b0.parquet")

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        stream = spark.readStream.schema(schema).parquet(str(src))
        q = start_continuous_ann_index(
            stream, old, str(tmp_path / "ck"), kind="pq",
            available_now=True, drift_check_every=1,
        )
        q.awaitTermination(180)
    msgs = [str(w.message) for w in caught]
    assert any("drifted" in m for m in msgs), msgs

    with pytest.raises(ValueError, match="drift_check_every"):
        start_continuous_ann_index(
            spark.readStream.schema(schema).parquet(str(src)),
            old, str(tmp_path / "ck2"), kind="pq", drift_check_every=0,
        )

@pytest.mark.slow
def test_additive_swap_does_not_leak_checksum_sidecars(spark, tmp_path):
    """On a ChecksumFileSystem (file://), the additive swap must carry
    each moved file's hidden .crc along and delete the deleted
    originals' .crc sidecars — the pre-r10 whole-dir delete removed
    them implicitly, and leaking one hidden file per original per
    compaction re-creates the small-file problem invisibly."""
    import os

    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import (
        _ann_data_dirs,
        compact_ann_index,
    )

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(
        embs.filter("vec_id < 200"), idx, n_cells=4, m=8, n_codes=16
    )
    for lo in (200, 300, 400):
        similarity.ivfpq_append_index(
            spark, embs.filter(f"vec_id >= {lo} and vec_id < {lo + 100}"),
            idx,
        )
    assert compact_ann_index(spark, idx, target_files=1) >= 1
    # another append + compaction cycle: the leak (if any) accretes
    similarity.ivfpq_append_index(spark, embs.filter("vec_id >= 500"), idx)
    compact_ann_index(spark, idx, target_files=1)

    for d in _ann_data_dirs(spark, idx):
        names = set(os.listdir(d))
        data = {n for n in names if not n.startswith((".", "_"))}
        orphans = {
            n for n in names
            if n.startswith(".") and n.endswith(".crc")
            and n[1:-4] not in data and n[1:-4] not in ("_SUCCESS",)
        }
        assert not orphans, (d, sorted(orphans))
        # and every moved data file kept its checksum protection
        missing = {n for n in data if f".{n}.crc" not in names}
        assert not missing, (d, sorted(missing))


def test_semantic_decontaminate_stream_equals_batch(spark, tmp_path):
    """The stateless stream-static anti-join decontamination must keep
    exactly the batch arm's kept set: a streamed embedding corpus
    (multiple micro-batches) scrubbed against a fixed benchmark equals
    semantic_decontaminate(method='signlsh') on the same corpus, and
    drops at least the benchmark's verbatim copies."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.dedup import (
        semantic_decontaminate,
        semantic_decontaminate_stream,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    bench = embs.filter("vec_id % 7 = 0")
    src = str(tmp_path / "emb_stream")
    # corpus INCLUDES the benchmark rows (verbatim leakage); several
    # files so availableNow drains in more than one micro-batch
    embs.repartition(4).write.parquet(src)

    for method, kw in (
        ("signlsh", {"n_planes": 4, "n_probe": 1}),
        ("ivf", {"n_cells": 8, "nprobe": 2}),
    ):
        stream = (
            spark.readStream.schema(embs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        kept_stream = semantic_decontaminate_stream(
            stream, bench, threshold=0.5, method=method, **kw
        )
        name = f"sem_dec_stream_{method}"
        q = (
            kept_stream.writeStream.format("memory").queryName(name)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        got = {
            r.vec_id
            for r in spark.sql(f"SELECT vec_id FROM {name}").collect()
        }
        expected = {
            r.vec_id
            for r in semantic_decontaminate(
                embs, bench, threshold=0.5, method=method,
                max_bench_rows=None, **kw,
            ).collect()
        }
        assert got == expected, method
        bench_ids = {r.vec_id for r in bench.collect()}
        # every verbatim copy is dropped (cos 1.0, same bucket/cell)
        assert not (got & bench_ids), method
        assert len(got) > 0, method

    # the streaming arm enforces the family's broadcast-safety
    # contract: an oversized benchmark raises at plan-build time (not
    # after the stream starts), and force=True downgrades to a warning
    import warnings

    import pytest

    stream = (
        spark.readStream.schema(embs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with pytest.raises(ValueError, match="max_bench_rows"):
        semantic_decontaminate_stream(
            stream, bench, threshold=0.5, max_bench_rows=3
        )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_decontaminate_stream(
            stream, bench, threshold=0.5, max_bench_rows=3, force=True
        )
    assert any("max_bench_rows" in str(x.message) for x in w)


def test_nb_classifier_scores_stream_equals_batch(spark, tmp_path):
    """The NB scoring fold is stateless (packed broadcast row +
    row-local fold), so it applies to a document STREAM unchanged —
    continuous quality filtering with no state store. Streamed scores
    must equal the batch staged scorer's."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import (
        nb_classifier_scores_staged,
        nb_stage_fit,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    labeled = docs.filter("doc_id % 2 = 0").withColumn(
        "label", F.expr("lang = 'en'")
    )
    fit = str(tmp_path / "fit")
    nb_stage_fit(labeled, fit, n_buckets=512)
    score_docs = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "docs_stream")
    score_docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(score_docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = nb_classifier_scores_staged(stream, fit)
    q = (
        scored.writeStream.format("memory").queryName("nb_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM nb_stream").collect()))
    expected = sorted(map(tuple, nb_classifier_scores_staged(
        score_docs, fit).collect()))
    assert got == expected and len(got) > 0


def test_dsir_staged_scores_stream_equals_batch(spark, tmp_path):
    """The staged DSIR scorer shares the NB scorer's stateless
    packed-broadcast shape, so it too applies to a document STREAM
    unchanged — continuous importance-weight scoring against a frozen
    fit. Streamed weights must equal the batch staged scorer's."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import (
        dsir_log_weights_staged,
        dsir_stage_fit,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    fit = str(tmp_path / "fit")
    dsir_stage_fit(
        docs.filter("doc_id % 2 = 0"), docs.filter("doc_id % 2 = 1"),
        fit, n_buckets=512,
    )
    score_docs = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "docs_stream")
    score_docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(score_docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    scored = dsir_log_weights_staged(stream, fit)
    q = (
        scored.writeStream.format("memory").queryName("dsir_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM dsir_stream").collect()))
    expected = sorted(map(tuple, dsir_log_weights_staged(
        score_docs, fit).collect()))
    assert got == expected and len(got) > 0


def test_bpe_encode_staged_stream_equals_batch(spark, tmp_path):
    """The inline BPE encode plan is a stateless row-local projection
    (zero shuffle, plan-pinned in tests/test_plans.py), so a staged
    tokenizer artifact applies to a document STREAM unchanged —
    continuous tokenization against a frozen vocabulary, the same
    claim shape as the staged NB/DSIR scorers above. Streamed token
    rows must equal the batch arm's exactly."""
    from flink_etl_spark.operators.text import (
        bpe_encode_staged,
        bpe_stage_fit,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    fit = str(tmp_path / "bpe_fit")
    bpe_stage_fit(docs.filter("doc_id % 2 = 0"), fit, 24, vocab_partitions=1)
    enc_docs = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "docs_stream")
    enc_docs.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(enc_docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    toks = bpe_encode_staged(stream, fit)
    q = (
        toks.writeStream.format("memory").queryName("bpe_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tokens"])
        for r in spark.sql("SELECT * FROM bpe_stream").collect()
    )
    expected = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tokens"])
        for r in bpe_encode_staged(enc_docs, fit).collect()
    )
    assert got == expected and len(got) > 0


def test_media_perceptual_hashes_stream_equals_batch(spark, tmp_path):
    """The perceptual-hash signatures (ahash/dhash/dcthash) are one
    stateless projection, so continuous media fingerprinting on a
    STREAM is the same operator unchanged — the r13 DCT arm included.
    Streamed hashes must equal the batch hashes exactly."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.multimodal import (
        make_media_table,
        media_perceptual_hashes,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    media = make_media_table(docs).select("media_id", "payload")
    src = str(tmp_path / "media_stream")
    media.repartition(3).write.parquet(src)

    stream = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        media_perceptual_hashes(stream)
        .writeStream.format("memory").queryName("phash_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM phash_stream").collect())
    )
    expected = sorted(
        map(tuple, media_perceptual_hashes(media).collect())
    )
    assert got == expected and len(got) > 0


# r14: continuous media near-dup dedup (signature-index sink)


def _media_rows():
    base = [
        b"the quick brown fox jumps over the lazy dog " * 5,
        b"pack my box with five dozen liquor jugs!!!! " * 5,
        bytes(range(200)),
    ]
    return base


@pytest.mark.slow
def test_continuous_media_dedup_stream_scrubs_and_clusters(spark, tmp_path):
    """Three single-file micro-batches through
    start_continuous_media_dedup: within a batch the cluster
    representative (min media_id) survives, later batches lose exact
    and near duplicates of earlier-ingested media, fresh media ride
    through, and the signature index accretes one partition per
    batch."""
    import os
    import time as _time

    from flink_etl_spark.streaming.media_sink import (
        start_continuous_media_dedup,
    )

    base = _media_rows()
    # dct-near fresh payload pair (measured _ref_dcthash hamming 2;
    # bytes(range(200))'s substitution lands at 19 — too structured)
    fresh = b"sphinx of black quartz judge my vow!!!!! " * 5
    batches = [
        # batch 0: two originals + an in-batch near-dup of base[0]
        [(1, base[0]), (2, base[1]), (3, base[0][:17] + b"Q" + base[0][18:])],
        # batch 1: exact copy of base[0] (drop), near-dup of base[1]
        # (drop), fresh payload (keep)
        [(10, base[0]), (11, base[1][:17] + b"Q" + base[1][18:]),
         (12, fresh)],
        # batch 2: near-dup of batch 1's FRESH payload (drop)
        [(20, fresh[:17] + b"Q" + fresh[18:])],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        df.coalesce(1).write.mode("overwrite").parquet(
            str(tmp_path / f"stage{i}")
        )
        part = next(
            p for p in os.listdir(tmp_path / f"stage{i}")
            if p.endswith(".parquet")
        )
        dst = src / f"b{i}.parquet"
        os.rename(tmp_path / f"stage{i}" / part, dst)
        os.utime(dst, (1_000_000 + i, 1_000_000 + i))
        _time.sleep(0.01)

    stream = (
        spark.readStream.schema("media_id long, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = start_continuous_media_dedup(
        stream,
        index_path=str(tmp_path / "idx"),
        output_path=str(tmp_path / "out"),
        checkpoint_location=str(tmp_path / "ck"),
        max_hamming=8,
        available_now=True,
    )
    q.awaitTermination(180)

    kept = {
        r.media_id
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # 1 represents its in-batch near-dup 3; 10/11 duplicate batch 0;
    # 12 is fresh; 20 near-duplicates 12
    assert kept == {1, 2, 12}
    idx = spark.read.parquet(str(tmp_path / "idx"))
    assert {
        r.batch_id for r in idx.select("batch_id").distinct().collect()
    } == {"0", "1", "2"}
    # index carries signatures only (8-byte longs), never payloads
    assert idx.drop("batch_id").columns == ["sig"]


def test_media_dedup_replay_is_idempotent(spark, tmp_path):
    """Re-running a media batch step AFTER its own signatures were
    staged keeps the batch's first occurrences (batch-id pruning
    excludes its own directory) — identical output both times."""
    from flink_etl_spark.streaming.media_sink import media_batch_step

    base = _media_rows()
    b0 = spark.createDataFrame(
        [(1, base[0])], "media_id long, payload binary"
    )
    b1 = spark.createDataFrame(
        [(10, base[0]), (11, base[1])], "media_id long, payload binary"
    )
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    media_batch_step(b0, 0, idx, out)
    media_batch_step(b1, 1, idx, out)
    first = sorted(
        r.media_id
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    )
    assert first == [11]  # 10 scrubbed against batch 0, 11 fresh
    media_batch_step(b1, 1, idx, out)  # replay
    second = sorted(
        r.media_id
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    )
    assert first == second


def test_compact_media_index_preserves_scrub(spark, tmp_path):
    """Folding index partitions must not change any later batch's
    visible signature set: the scrub of batch N sees the identical
    distinct signatures before and after compaction, and the folded
    directories are replaced by one negative-id partition."""
    from flink_etl_spark.staged import _list_index_partitions, index_so_far
    from flink_etl_spark.streaming.media_sink import (
        compact_media_index,
        media_batch_step,
    )

    base = _media_rows()
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    for i, payload in enumerate(base):
        media_batch_step(
            spark.createDataFrame(
                [(i * 10, payload)], "media_id long, payload binary"
            ),
            i, idx, out,
        )
    before = {
        r.sig for r in index_so_far(spark, idx, 3, "sig", "bigint").collect()
    }
    folded = compact_media_index(spark, idx, horizon=2)
    assert folded == 2
    assert _list_index_partitions(spark, idx) == [-1, 2]
    after = {
        r.sig for r in index_so_far(spark, idx, 3, "sig", "bigint").collect()
    }
    assert before == after
    # compaction twice more is a no-op (single foldable dir)
    assert compact_media_index(spark, idx, horizon=2) == 0


def test_media_index_meta_mismatch_raises(spark, tmp_path):
    """A signature index staged with one hash must refuse a step with
    another — mismatched signatures never match, silently losing every
    cross-batch hit."""
    from flink_etl_spark.streaming.media_sink import media_batch_step

    base = _media_rows()
    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    b = spark.createDataFrame([(1, base[0])], "media_id long, payload binary")
    media_batch_step(b, 0, idx, out, hash_col="dcthash")
    with pytest.raises(ValueError, match="incompatible"):
        media_batch_step(b, 1, idx, out, hash_col="ahash")
    with pytest.raises(ValueError, match="hash_col"):
        media_batch_step(b, 1, idx, out, hash_col="md5")
