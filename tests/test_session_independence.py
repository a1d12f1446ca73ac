"""The package's results do not depend on the session it is handed.

`get_spark` builds its session with UTC, partition type inference off
and dynamic partition overwrite; a caller's own session (the driver's,
a notebook's) has Spark's defaults and any time zone. Each check below
runs under such vanilla confs, in a UTC and in a non-UTC zone, and
compares with the engine session: the dt bucketing, the cdc ingest and
merge, and the corpus chain. The session's confs are restored after.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

import pyspark.sql.functions as F

from tests.conftest import SF_ORACLE

#: Spark's defaults where `get_spark` sets its own, plus a session zone
_VANILLA = {
    "spark.sql.optimizer.excludedRules": None,
    "spark.sql.sources.partitionColumnTypeInference.enabled": "true",
    "spark.sql.sources.partitionOverwriteMode": "static",
}
_ZONES = ("UTC", "Asia/Shanghai")

# 2023-11-14 20:00 UTC is 2023-11-15 04:00 in Asia/Shanghai
_LATE_UTC_MS = 1699992000000
_DAY = "20231114"


@contextmanager
def _vanilla(spark, zone: str):
    confs = {**_VANILLA, "spark.sql.session.timeZone": zone}
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _sessions(spark, run):
    """run() under the engine confs, then under vanilla confs in each
    zone; the engine result first."""
    out = [run("engine")]
    for zone in _ZONES:
        with _vanilla(spark, zone):
            out.append(run(zone.replace("/", "_")))
    return out


def test_dt_bucketing_reads_utc_in_every_session_zone(spark):
    from flink_etl_spark.operators.canal import dt_expr, dt_from_line

    df = spark.createDataFrame(
        [(_LATE_UTC_MS, f"1,{_LATE_UTC_MS},2,INSERT")], "es long, line string"
    )

    def run(_):
        return df.select(dt_expr("es"), dt_from_line("line")).first()

    for got in _sessions(spark, run):
        assert tuple(got) == (_DAY, _DAY)


def _canal_log() -> list[str]:
    def rec(i, es, city, typ="INSERT", ddl="false"):
        return json.dumps({
            "isDdl": ddl, "id": i, "es": es, "ts": 1000 + i, "type": typ,
            "data": [{"code": f"c{i % 4}", "city": city, "province": "p"}],
        })

    hour = 3_600_000
    return [
        rec(1, _LATE_UTC_MS - 10 * hour, "early"),   # 10:00 UTC
        rec(2, _LATE_UTC_MS, "late"),                # 20:00 UTC, +1 day east
        rec(3, _LATE_UTC_MS + 2 * hour, "next"),     # 22:00 UTC
        rec(5, _LATE_UTC_MS + 5 * hour, "tomorrow"), # next UTC day
        rec(6, _LATE_UTC_MS - 22 * hour, "yesterday"),
        rec(7, _LATE_UTC_MS, "ddl", ddl="true"),
        "not json",
    ]


def test_cdc_ingest_and_merge_match_the_engine_session(spark, tmp_path):
    """start_ingest -> merge_day -> overwrite_snapshot on a tiny Canal
    log whose events straddle the UTC day boundary of a UTC+8 zone."""
    from flink_etl_spark.config import SinkConfig
    from flink_etl_spark.operators import merge
    from flink_etl_spark.sources import files
    from flink_etl_spark.streaming import ingest

    cols = ["code", "city", "province", "event_time"]

    def run(tag):
        base = tmp_path / tag
        log = base / "log"
        log.mkdir(parents=True)
        (log / "binlog-0.json").write_text("\n".join(_canal_log()) + "\n")
        snap = str(base / "snapshot")
        spark.createDataFrame(
            [(f"c{k}", f"old{k}", "p", 0) for k in range(6)],
            "code string, city string, province string, event_time long",
        ).write.parquet(snap)
        sink = SinkConfig(path=str(base / "delta"), checkpoint_location=str(base / "chk"))
        q = ingest.start_ingest(
            ingest.read_file_stream(spark, str(log)), ("code", "city", "province"),
            sink, available_now=True,
        )
        q.awaitTermination()
        delta = files.read_partitioned(spark, sink.path).select(
            "code", "city", "province", F.col("es").alias("event_time"), "ts",
            "type", "dt",
        )
        merged = merge.merge_day(
            spark.read.parquet(snap), delta, _DAY, keys=["code"], columns=cols
        )
        merge.overwrite_snapshot(merged, snap)
        dts = sorted(r.dt for r in delta.select("dt").distinct().collect())
        rows = sorted(map(tuple, spark.read.parquet(snap).select(*cols).collect()))
        return dts, rows

    engine, *vanilla = _sessions(spark, run)
    assert engine[0] == ["20231113", _DAY, "20231115"]
    assert ("c2", "late", "p", _LATE_UTC_MS) in engine[1]
    for got in vanilla:
        assert got == engine


def test_corpus_chain_matches_the_engine_session(spark):
    """doc_profile -> exact_dedup -> minhash_near_dups ->
    fingerprint_candidates on a small document sample with planted
    exact and near duplicates."""
    from flink_etl_spark.operators import dedup, prep, text

    base = spark.read.parquet(f"{SF_ORACLE}/documents.parquet").select(
        "doc_id", "text", "n_chars"
    ).filter(F.col("doc_id") < 200)
    near = F.concat("text", F.lit(" trailing words"))
    docs = base.unionByName(
        base.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 10_000).alias("doc_id"), "text", "n_chars"
        )
    ).unionByName(
        base.filter(F.col("doc_id") % 10 == 1).select(
            (F.col("doc_id") + 20_000).alias("doc_id"), near.alias("text"),
            F.length(near).cast("long").alias("n_chars"),
        )
    )

    def run(_):
        prof = text.doc_profile(docs)
        keepers = dedup.exact_dedup(
            prof.select(
                F.sha2("text", 256).alias("_digest"), "doc_id", "text",
                ((F.col("verdict") == "keep") & (F.col("lang_guess") == "en")).alias("_pass"),
            ),
            ["_digest"], "doc_id", carry_cols=("text",), where_col="_pass",
        ).select(F.col("keep_id").alias("doc_id"), "text")
        kept = sorted(r.doc_id for r in keepers.collect())
        near = sorted(map(tuple, dedup.minhash_near_dups(keepers).select(
            "doc_a", "doc_b").collect()))
        fps = sorted(map(tuple, prep.fingerprint_candidates(keepers).collect()))
        return kept, near, fps

    engine, *vanilla = _sessions(spark, run)
    assert engine[0] and engine[1] and engine[2]
    for got in vanilla:
        assert got == engine
