"""Job CLI (`python -m flink_etl_spark`): each subcommand runs the
same library path the gates verify; these tests drive main() in-process
over real files."""

from __future__ import annotations

import json

import pytest

import pyspark.sql.functions as F

from flink_etl_spark.__main__ import build_parser, main


def _canal_line(i, key, es):
    return json.dumps(
        {
            "isDdl": "false", "id": key, "es": es, "ts": i, "type": "INSERT",
            "data": [{"city": f"c{i}", "province": f"p{key % 3}"}],
        },
        separators=(",", ":"),
    )


def test_cli_ingest_file_source_writes_partitioned_output(spark, tmp_path, monkeypatch):
    src = tmp_path / "raw"
    src.mkdir()
    lines = [_canal_line(i, i % 5, 1704067200000 + i * 1000) for i in range(20)]
    (src / "a.jsonl").write_text("\n".join(lines))
    out = tmp_path / "delta"
    rc = main([
        "ingest", "--source", "file", "--path", str(src),
        "--payload-cols", "city,province",
        "--sink-path", str(out),
        "--checkpoint", str(tmp_path / "chk"),
        "--available-now",
    ])
    assert rc == 0
    got = spark.read.parquet(str(out))
    assert got.count() == 20
    assert set(got.columns) == {"id", "es", "ts", "type", "city", "province", "dt"}
    # dt partition directories exist (partitionBy layout)
    assert got.select("dt").distinct().count() >= 1
    assert (out / "dt=20240101").exists()


def test_cli_merge_day_matches_library_merge(spark, tmp_path):
    from flink_etl_spark.operators.canal import with_dt

    snapshot = spark.createDataFrame(
        [(k, f"old{k}", "p0") for k in range(8)], "id long, city string, province string"
    )
    delta = with_dt(
        spark.createDataFrame(
            [(k, 1704067200000 + k, k, f"new{k}", "p1") for k in range(4, 12)],
            "id long, es long, ts long, city string, province string",
        ),
        es_col="es",
    ).select("id", "es", "ts", "city", "province", "dt")
    snap_path = tmp_path / "snap"
    delta_path = tmp_path / "delta"
    snapshot.write.parquet(str(snap_path))
    delta.write.parquet(str(delta_path))
    out = tmp_path / "next"
    rc = main([
        "merge-day", "--snapshot", str(snap_path), "--delta", str(delta_path),
        "--day", "20240101", "--keys", "id", "--out", str(out),
    ])
    assert rc == 0
    got = spark.read.parquet(str(out))
    rows = {r.id: r.city for r in got.collect()}
    assert len(rows) == 12           # 8 snapshot keys ∪ 8 delta keys
    assert rows[2] == "old2"         # untouched snapshot row survives
    assert rows[5] == "new5"         # delta wins on overlap
    assert rows[11] == "new11"       # delta-only insert arrives


def test_cli_merge_day_self_recovers_crashed_snapshot(spark, tmp_path):
    """A crash inside overwrite_snapshot's delete+rename window leaves
    the snapshot only in staging; the next CLI run must self-heal via
    recover_snapshot instead of failing on the missing path."""
    import shutil

    from flink_etl_spark.operators.canal import with_dt
    from flink_etl_spark.staged import _staging_path

    snap_path = str(tmp_path / "snap")
    spark.createDataFrame(
        [(k, f"old{k}", "p0") for k in range(4)],
        "id long, city string, province string",
    ).write.parquet(snap_path)
    delta = with_dt(
        spark.createDataFrame(
            [(9, 1704067200000, 1, "new9", "p1")],
            "id long, es long, ts long, city string, province string",
        ),
        es_col="es",
    ).select("id", "es", "ts", "city", "province", "dt")
    delta_path = str(tmp_path / "delta")
    delta.write.parquet(delta_path)
    # simulate the crash window: target gone, staging holds the snapshot
    shutil.move(snap_path, _staging_path(snap_path))
    out = str(tmp_path / "next")
    rc = main([
        "merge-day", "--snapshot", snap_path, "--delta", delta_path,
        "--day", "20240101", "--keys", "id", "--out", out,
    ])
    assert rc == 0
    rows = {r.id: r.city for r in spark.read.parquet(out).collect()}
    assert len(rows) == 5 and rows[1] == "old1" and rows[9] == "new9"


def test_cli_bootstrap_uses_env_config(spark, tmp_path, monkeypatch):
    # embedded Derby as in tests/test_jdbc.py
    db = str(tmp_path / "db")
    url = f"jdbc:derby:{db};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate("CREATE TABLE t1 (id BIGINT PRIMARY KEY, v VARCHAR(8))")
    for i in range(25):
        st.executeUpdate(f"INSERT INTO t1 VALUES ({i}, 'v{i}')")
    conn.close()
    monkeypatch.setenv("FLINK_ETL_SPARK_JDBC_URL", url)
    monkeypatch.setenv("FLINK_ETL_SPARK_JDBC_PARTITION_COLUMN", "id")
    out = tmp_path / "boot"
    rc = main(["bootstrap", "--table", "t1", "--out", str(out)])
    assert rc == 0
    assert spark.read.parquet(str(out)).count() == 25


def test_cli_parser_rejects_missing_required(capsys):
    import pytest

    with pytest.raises(SystemExit):
        build_parser().parse_args(["merge-day", "--snapshot", "x"])
    rc = main(["ingest", "--source", "file", "--payload-cols", "a"])
    assert rc == 2  # file source without --path is a usage error


def test_cli_merge_day_buckets_requires_tables():
    """--buckets without --tables must refuse instead of silently
    writing an unbucketed path snapshot."""
    import pytest as _pytest

    from flink_etl_spark.__main__ import main

    with _pytest.raises(SystemExit, match="--buckets requires --tables"):
        main([
            "merge-day", "--snapshot", "/tmp/x", "--delta", "/tmp/y",
            "--day", "20240101", "--keys", "id", "--buckets", "32",
        ])


def test_cli_dedup_stream_drains_and_scrubs(spark, tmp_path, monkeypatch):
    """The dedup-stream subcommand in backfill mode: one parquet file of
    documents in, deduped batch-id-partitioned output + anchor index
    out — wiring check over the library sink the streaming tests pin."""
    from flink_etl_spark.__main__ import main

    para = " ".join(f"c{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, para), (2, "pad " + para)], "doc_id long, text string"
    )
    src = tmp_path / "in"
    docs.coalesce(1).write.mode("overwrite").parquet(str(src))
    rc = main([
        "dedup-stream",
        "--path", str(src),
        "--index", str(tmp_path / "idx"),
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ck"),
        "--min-tokens", "8",
        "--max-files-per-trigger", "0",
        "--available-now",
    ])
    assert rc == 0
    out = {
        r.doc_id: r.dedup_text
        for r in spark.read.parquet(str(tmp_path / "out")).collect()
    }
    # one micro-batch: doc 1 keeps the passage, doc 2 loses it
    assert out[1] == para and out[2] == "pad"


@pytest.mark.slow
def test_cli_dedup_compact_folds_index(spark, tmp_path):
    """The dedup-compact subcommand folds pre-horizon index partitions
    through the same library op the streaming tests pin."""
    from flink_etl_spark.__main__ import main
    from flink_etl_spark.staged import _list_index_partitions
    from flink_etl_spark.streaming.dedup_sink import dedup_batch_step

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    for bid, text in enumerate(
        ["a b c d e f g h", "i j k l m n o p", "q r s t u v w x"]
    ):
        dedup_batch_step(
            spark.createDataFrame(
                [(bid * 10, text)], "doc_id long, text string"
            ),
            bid, idx, out, min_tokens=4,
        )
    rc = main(["dedup-compact", "--index", idx])
    assert rc == 0
    assert _list_index_partitions(spark, idx) == [-1, 2]


def test_cli_ann_round_trip(spark, tmp_path):
    """Default-set case of the lifecycle below: ann-build -> ann-append
    (and its replay) -> ann-compact -> ann-search on a small IVF-PQ
    index returns the library search's rows."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    boot, batch = tmp_path / "boot", tmp_path / "batch"
    embs.filter("vec_id < 120").write.parquet(str(boot))
    embs.filter("vec_id >= 120 AND vec_id < 160").write.parquet(str(batch))
    idx = str(tmp_path / "idx")
    assert main([
        "ann-build", "--path", str(boot), "--index", idx,
        "--m", "8", "--n-codes", "8", "--n-cells", "2",
    ]) == 0
    for _ in range(2):  # the replayed append converges
        assert main(["ann-append", "--path", str(batch), "--index", idx]) == 0
    assert main(["ann-compact", "--index", idx, "--target-files", "1"]) == 0
    qdir, out = tmp_path / "q", tmp_path / "res"
    queries = embs.filter("vec_id < 4")
    queries.write.parquet(str(qdir))
    assert main([
        "ann-search", "--queries", str(qdir), "--index", idx,
        "--out", str(out), "--k", "3", "--nprobe", "2",
    ]) == 0
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    want = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, queries, k=3, nprobe=2
    ).collect()))
    assert got == want and len(got) == 12
    cells = spark.read.parquet(f"{idx}/cells")
    assert cells.count() == cells.select("vec_id").distinct().count() == 160


@pytest.mark.slow
def test_cli_ann_lifecycle(spark, tmp_path):
    """ann-build -> ann-append -> ann-search: the staged-index
    lifecycle end to end through the CLI; append converges on replay
    and search results match the library call."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    boot, batch = tmp_path / "boot", tmp_path / "batch"
    embs.filter("vec_id < 250").write.parquet(str(boot))
    embs.filter("vec_id >= 250").write.parquet(str(batch))
    idx = str(tmp_path / "idx")

    assert main([
        "ann-build", "--path", str(boot), "--index", idx,
        "--m", "8", "--n-codes", "16", "--n-cells", "4",
    ]) == 0
    assert main(["ann-append", "--path", str(batch), "--index", idx]) == 0
    # replayed append converges (prints 0 appended, exit 0)
    assert main(["ann-append", "--path", str(batch), "--index", idx]) == 0

    qdir, out = tmp_path / "q", tmp_path / "res"
    embs.filter("vec_id < 8").write.parquet(str(qdir))
    assert main([
        "ann-search", "--queries", str(qdir), "--index", idx,
        "--out", str(out), "--k", "5", "--nprobe", "2",
    ]) == 0
    got = sorted(map(tuple, spark.read.parquet(str(out)).collect()))
    want = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, embs.filter("vec_id < 8"), k=5, nprobe=2
    ).collect()))
    assert got == want

    # the one-cell (flat) index round-trips too
    idx2 = str(tmp_path / "idx2")
    assert main([
        "ann-build", "--path", str(boot), "--index", idx2,
        "--m", "8", "--n-codes", "16", "--n-cells", "1",
    ]) == 0
    assert main(["ann-append", "--path", str(batch), "--index", idx2]) == 0
    out2 = tmp_path / "res2"
    assert main([
        "ann-search", "--queries", str(qdir), "--index", idx2,
        "--out", str(out2), "--k", "5",
    ]) == 0
    assert spark.read.parquet(str(out2)).count() > 0

def test_cli_ann_kind_ambiguity_raises(spark, tmp_path):
    """A flat PQ index staged by an earlier release (a dir holding only
    `_PQ_META.json`) is refused by every ANN command with one message
    naming the rebuild, and a dir with no sidecar at all is not an
    index — neither is silently read as something else."""
    import pytest

    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.staged import _write_json_sidecar

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    legacy = str(tmp_path / "legacy")
    _write_json_sidecar(
        spark, f"{legacy}/_PQ_META.json",
        {"version": 1, "m": 8, "n_codes": 8, "dim": 64},
    )
    batch = tmp_path / "b"
    embs.filter("vec_id >= 100 AND vec_id < 110").write.parquet(str(batch))
    rebuild = r"_PQ_META\.json: a flat PQ index .* n_cells=1"
    for argv in (
        ["ann-append", "--path", str(batch), "--index", legacy],
        ["ann-search", "--queries", str(batch), "--index", legacy,
         "--out", str(tmp_path / "r")],
        ["ann-drift", "--path", str(batch), "--index", legacy],
        ["ann-compact", "--index", legacy],
    ):
        with pytest.raises(ValueError, match=rebuild):
            main(argv)
    with pytest.raises(ValueError, match="no _IVFPQ_META"):
        main(["ann-append", "--path", str(batch),
              "--index", str(tmp_path / "not_an_index")])

@pytest.mark.slow
def test_cli_ann_compact_bounds_files(spark, tmp_path):
    """ann-compact rewrites accreted cell partitions to the file target
    through the CLI and preserves search results."""
    from flink_etl_spark.operators import similarity
    from flink_etl_spark.operators.maintenance import partition_file_count
    from flink_etl_spark.sources.tables import load_table
    from flink_etl_spark.streaming.ann_sink import _ann_data_dirs

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
    qs = embs.filter("vec_id < 4")
    before = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5).collect()))
    assert main(["ann-compact", "--index", idx, "--target-files", "1"]) == 0
    assert all(
        partition_file_count(spark, d) == 1
        for d in _ann_data_dirs(spark, idx)
    )
    assert sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5).collect())) == before

@pytest.mark.slow
def test_cli_ann_drift_dispatches_and_exit_codes(spark, tmp_path):
    """ann-drift: dispatches on the sidecar's cell count (several ->
    centroid similarity, one -> reconstruction error), prints JSON, exits 0
    on a healthy batch and 2 on a rebuild recommendation (the
    scheduler branch)."""
    import json
    import random
    import warnings

    from flink_etl_spark.operators import similarity

    # generator params mirror test_ann_drift_check_flags_drifted_batches
    # (seed 5 / 500 base rows): proven to land the same-distribution
    # batch inside the healthy ratio band for both monitors
    rng = random.Random(5)
    dim = 16

    def cluster_row(i, shift=0.0):
        v = [round(0.5 + shift + rng.gauss(0, 0.2), 4)] + [
            round(rng.gauss(0, 0.2), 4) for _ in range(dim - 1)
        ]
        return (i, v)

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame([cluster_row(i) for i in range(500)], schema)
    same = tmp_path / "same"
    spark.createDataFrame(
        [cluster_row(1000 + i) for i in range(100)], schema
    ).write.parquet(str(same))
    drifted = tmp_path / "drifted"
    spark.createDataFrame(
        [cluster_row(2000 + i, shift=-3.0) for i in range(100)], schema
    ).write.parquet(str(drifted))

    for kind, n_cells in (("ivfpq", 8), ("pq", 1)):
        idx = str(tmp_path / f"idx_{kind}")
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            similarity.ivfpq_build_index(
                base, idx, n_cells=n_cells, m=8, n_codes=16
            )
            assert main(
                ["ann-drift", "--path", str(same), "--index", idx]
            ) == 0
            rc = main(
                ["ann-drift", "--path", str(drifted), "--index", idx]
            )
        assert rc == 2, f"{kind}: drifted batch should exit 2"

    # exit 3 = monitor OFF (un-checkable baseline), distinct from both
    # healthy (0) and rebuild (2) so a scheduler branching on exit
    # codes never reads "couldn't check" as "healthy" (ADVICE r10)
    from flink_etl_spark.staged import IVFPQ_META, _write_json_sidecar

    idx = str(tmp_path / "idx_ivfpq")
    meta = IVFPQ_META.read(spark, idx)
    _write_json_sidecar(
        spark, f"{idx}/_IVFPQ_META.json",
        {**meta, "mean_centroid_sim": 0.0},
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        assert main(
            ["ann-drift", "--path", str(drifted), "--index", idx]
        ) == 3
    _write_json_sidecar(spark, f"{idx}/_IVFPQ_META.json", meta)

def test_cli_dsir_fit_and_score(spark, tmp_path):
    """dsir-fit stages the bucketed fit; dsir-score scores a shard
    against it (and --select N draws the Gumbel sample) — both equal
    to the library calls."""
    from flink_etl_spark.operators.prep import (
        dsir_log_weights_staged,
        dsir_select_n,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    tdir, rdir = tmp_path / "target", tmp_path / "raw"
    docs.filter("doc_id % 2 = 0").write.parquet(str(tdir))
    docs.filter("doc_id % 2 = 1").write.parquet(str(rdir))
    fit = str(tmp_path / "fit")
    assert main([
        "dsir-fit", "--target", str(tdir), "--raw", str(rdir),
        "--fit", fit, "--buckets", "512",
    ]) == 0

    out = str(tmp_path / "scored")
    assert main([
        "dsir-score", "--docs", str(rdir), "--fit", fit, "--out", out,
    ]) == 0
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple, dsir_log_weights_staged(
        spark.read.parquet(str(rdir)), fit
    ).collect()))
    assert got == want and len(got) > 0

    sel = str(tmp_path / "selected")
    assert main([
        "dsir-score", "--docs", str(rdir), "--fit", fit, "--out", sel,
        "--select", "16", "--salt", "1",
    ]) == 0
    got_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(sel).collect()
    )
    want_ids = sorted(r["doc_id"] for r in dsir_select_n(
        dsir_log_weights_staged(spark.read.parquet(str(rdir)), fit),
        n=16, salt=1,
    ).collect())
    assert got_ids == want_ids and len(got_ids) == 16


def test_cli_text_drift_exit_codes(spark, tmp_path):
    """text-drift: prints the drift-check JSON, exits 0 on a held-out
    batch of the fit corpus and 2 on a vocabulary-shifted batch (the
    re-stage scheduler branch)."""
    import json
    import warnings

    import pyspark.sql.functions as F

    from flink_etl_spark.operators.prep import nb_stage_fit
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    labeled = docs.filter("doc_id % 2 = 0").withColumn(
        "label", F.expr("lang = 'en'")
    )
    fit = str(tmp_path / "fit")
    nb_stage_fit(labeled, fit, n_buckets=512)
    held = tmp_path / "held"
    docs.filter("doc_id % 2 = 1").write.parquet(str(held))
    shifted = tmp_path / "shifted"
    docs.filter("doc_id % 2 = 1").withColumn(
        "text", F.upper("text")
    ).write.parquet(str(shifted))

    rc = main(["text-drift", "--path", str(held), "--fit", fit])
    assert rc == 0
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        rc = main(["text-drift", "--path", str(shifted), "--fit", fit])
    assert rc == 2


def test_cli_sem_decontam_writes_kept_and_report(spark, tmp_path):
    """sem-decontam: writes the kept corpus and the contamination-pair
    report; kept + flagged partition the corpus, and a verbatim
    benchmark copy planted in the corpus is dropped."""
    import json

    embs = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    corpus_dir = tmp_path / "corpus"
    bench_dir = tmp_path / "bench"
    # corpus includes the benchmark slice -> verbatim leakage
    embs.select("vec_id", "embedding").write.parquet(str(corpus_dir))
    embs.filter("vec_id % 7 = 0").select("vec_id", "embedding").write.parquet(
        str(bench_dir)
    )
    out = tmp_path / "kept"
    report = tmp_path / "report"
    rc = main([
        "sem-decontam", "--corpus", str(corpus_dir),
        "--benchmark", str(bench_dir), "--out", str(out),
        "--report", str(report), "--threshold", "0.9",
        "--method", "signlsh", "--n-planes", "4", "--n-probe", "1",
    ])
    assert rc == 0
    kept = {r.vec_id for r in spark.read.parquet(str(out)).collect()}
    pairs = spark.read.parquet(str(report))
    flagged = {r.id_a for r in pairs.select("id_a").distinct().collect()}
    all_ids = {r.vec_id for r in embs.collect()}
    bench_ids = {r.vec_id for r in embs.filter("vec_id % 7 = 0").collect()}
    assert kept | flagged == all_ids and not (kept & flagged)
    assert bench_ids <= flagged  # every verbatim copy dropped


def test_cli_bpe_fit_and_encode(spark, tmp_path):
    """bpe-fit stages the merge table + sidecar; bpe-encode tokenizes a
    shard against it, matching the library inline path."""
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "ab ab abc abcd", "aaaa aaa"]
        )],
        ["doc_id", "text"],
    )
    src = tmp_path / "docs"
    docs.write.parquet(str(src))
    fit = tmp_path / "fit"
    rc = main([
        "bpe-fit", "--docs", str(src), "--fit", str(fit),
        "--merges", "6", "--vocab-partitions", "1",
    ])
    assert rc == 0
    assert (fit / "_BPE_META.json").exists()
    out = tmp_path / "tokens"
    rc = main([
        "bpe-encode", "--docs", str(src), "--fit", str(fit),
        "--out", str(out), "--method", "vocab",
    ])
    assert rc == 0
    got = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tokens"])
        for r in spark.read.parquet(str(out)).collect()
    )
    expect = sorted(
        (r["doc_id"], tuple(r["tokens"]), r["n_tokens"])
        for r in text.bpe_encode(docs, text.bpe_fit(docs, 6)).collect()
    )
    assert got == expect and len(got) == 3
