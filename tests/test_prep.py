"""Unit tests for the training-data prep operators
(operators/prep.py): repetition stats, hash splits, per-group caps,
and PII redaction — including DuckDB cross-checks of the
oracle-portable arms."""

from __future__ import annotations

import duckdb
import pyspark.sql.functions as F
import pytest

from flink_etl_spark.operators import prep as P


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# repetition_stats
# ---------------------------------------------------------------------------


def test_repetition_stats_hand_computed(spark):
    # "a b a b a" -> bigrams: "a b" x2, "b a" x2 (tie -> larger = "b a")
    #              -> trigrams: "a b a" x2, "b a b" x1
    # len(text) = 9, top bigram chars = 2*3 = 6, dup trigram chars = 2*5 = 10 -> capped 1.0
    docs = _docs(spark, [(1, "a b a b a"), (2, "x y z"), (3, "solo")])
    out = {r["doc_id"]: r.asDict() for r in P.repetition_stats(docs).collect()}

    r1 = out[1]
    assert r1["n_tokens"] == 5
    assert r1["dup_token_frac"] == pytest.approx(1 - 2 / 5, abs=1e-6)
    assert r1["top_bigram"] == "b a"
    assert r1["top_bigram_count"] == 2
    assert r1["top_bigram_char_frac"] == pytest.approx(6 / 9, abs=1e-6)
    assert r1["dup_trigram_char_frac"] == 1.0  # capped

    r2 = out[2]  # all unique: top bigram count 1, no dup trigrams
    assert r2["dup_token_frac"] == 0.0
    assert r2["top_bigram_count"] == 1
    assert r2["dup_trigram_char_frac"] == 0.0

    r3 = out[3]  # single token: no bigrams at all
    assert r3["top_bigram"] is None
    assert r3["top_bigram_count"] == 0
    assert r3["top_bigram_char_frac"] == 0.0


def test_repetition_stats_flags_degenerate_doc(spark):
    clean = " ".join(f"w{i}" for i in range(50))
    spam = "buy now " * 25
    docs = _docs(spark, [(1, clean), (2, spam.strip())])
    out = {r["doc_id"]: r.asDict() for r in P.repetition_stats(docs).collect()}
    assert out[1]["top_bigram_char_frac"] < 0.1
    # "buy now" occurs 25x, covering 25*7/199 of the chars
    assert out[2]["top_bigram_char_frac"] > 0.8
    assert out[2]["dup_trigram_char_frac"] > 0.8


# ---------------------------------------------------------------------------
# hash_split
# ---------------------------------------------------------------------------


def test_hash_split_deterministic_and_proportional(spark):
    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    a = P.hash_split(df, "doc_id")
    b = P.hash_split(df, "doc_id")
    assert a.exceptAll(b).count() == 0  # pure function of the key
    frac = {
        r["split"]: r["n"] / 5000
        for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert frac["train"] == pytest.approx(0.9, abs=0.03)
    assert frac["val"] == pytest.approx(0.05, abs=0.02)
    assert frac["test"] == pytest.approx(0.05, abs=0.02)


def test_hash_split_salt_rotates_assignment(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = P.hash_split(df, "doc_id", salt="exp1")
    b = P.hash_split(df, "doc_id", salt="exp2")
    moved = a.join(b.withColumnRenamed("split", "split_b"), "doc_id").filter(
        "split != split_b"
    )
    assert moved.count() > 0


def test_hash_split_charfold_matches_duckdb(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {
        r["doc_id"]: r["split"]
        for r in P.hash_split(df, "doc_id", hash_fn="charfold", salt="s").collect()
    }
    expr = P.duckdb_split_expr("doc_id", salt="s")
    want = dict(
        duckdb.sql(
            f"SELECT doc_id, {expr} AS split FROM range(0, 500) t(doc_id)"
        ).fetchall()
    )
    assert got == want


def test_hash_split_validates_weights(spark):
    df = spark.range(10).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="sum to 1.0"):
        P.hash_split(df, "doc_id", weights=(("train", 0.5), ("val", 0.1)))
    with pytest.raises(ValueError, match="n_buckets"):
        P.hash_split(df, "doc_id", n_buckets=0)
    with pytest.raises(ValueError, match="hash_fn"):
        P.split_buckets(F.col("doc_id"), hash_fn="md5")


# ---------------------------------------------------------------------------
# cap_per_group
# ---------------------------------------------------------------------------


def test_cap_per_group_keeps_top_n_deterministically(spark):
    rows = [(g, i, float((i * 7) % 10)) for g in ("a", "b") for i in range(20)]
    df = spark.createDataFrame(rows, "src string, id long, q double")
    capped = P.cap_per_group(
        df, ["src"], [F.col("q").desc(), F.col("id")], n=3
    )
    out = capped.orderBy("src", "id").collect()
    assert len(out) == 6
    for g in ("a", "b"):
        qs = sorted((r["q"] for r in out if r["src"] == g), reverse=True)
        assert qs[0] == 9.0  # the best rows survive
    # WindowGroupLimit in the physical plan (rank pushed into shuffle)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_cap_per_group_rejects_nonpositive_cap(spark):
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    with pytest.raises(ValueError, match="cap"):
        P.cap_per_group(df, ["doc_id"], [F.col("doc_id")], n=0)


# ---------------------------------------------------------------------------
# pii_redact
# ---------------------------------------------------------------------------


def test_pii_redact_counts_and_replaces(spark):
    docs = _docs(
        spark,
        [
            (1, "mail bob.smith+x@corp.example.com or call 555-123-4567 now"),
            (2, "server at 10.0.0.1 and 192.168.1.255, backup 555.867.5309"),
            (3, "nothing sensitive here"),
        ],
    )
    out = {r["doc_id"]: r.asDict() for r in P.pii_redact(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] == 1
    assert out[1]["text_redacted"] == "mail <EMAIL> or call <PHONE> now"
    # dotted phone is ALSO ip-shaped up to its 3rd octet boundary — the
    # phone pattern wins because \b\d{1,3} can't end inside "4567"
    assert out[2]["n_ipv4"] == 2 and out[2]["n_phone"] == 1
    assert out[2]["text_redacted"] == "server at <IP> and <IP>, backup <PHONE>"
    assert out[3]["n_email"] == out[3]["n_phone"] == out[3]["n_ipv4"] == 0
    assert out[3]["text_redacted"] == "nothing sensitive here"


def test_pii_redact_matches_duckdb(spark):
    rows = [
        (1, "a@b.io c@d.org 1.2.3.4"),
        (2, "x 555-000-1111 y 10.20.30.40 z"),
        (3, "no pii"),
        (4, "edge a@b.c-d.ee end 999.999.999.999"),
    ]
    docs = _docs(spark, rows)
    got = {
        r["doc_id"]: (r["n_email"], r["n_phone"], r["n_ipv4"], r["text_redacted"])
        for r in P.pii_redact(docs).collect()
    }
    sqls = P.duckdb_pii_sql("text")
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2], r[3], r[4])
        for r in con.execute(
            f"SELECT doc_id, {sqls['n_email']}, {sqls['n_phone']}, "
            f"{sqls['n_ipv4']}, {sqls['redacted']} FROM d"
        ).fetchall()
    }
    assert got == want


def test_pii_redact_id_cols_projection(spark):
    docs = _docs(spark, [(1, "a@b.io")]).withColumn("extra", F.lit("x"))
    out = P.pii_redact(docs, id_cols=["doc_id"])
    assert set(out.columns) == {
        "doc_id", "text", "n_email", "n_phone", "n_ipv4", "text_redacted"
    }


def test_pii_redact_column_collision_raises(spark):
    """Appended output columns colliding with retained input columns
    must raise, not emit a duplicate-name frame (the merge `_prio`
    hazard class)."""
    import pytest

    docs = _docs(spark, [(1, "a@b.io")])
    # out_col == text_col (retained)
    with pytest.raises(ValueError, match="collide"):
        P.pii_redact(docs, out_col="text")
    # a count column clobbers a same-named input column
    with pytest.raises(ValueError, match="collide"):
        P.pii_redact(docs.withColumn("n_email", F.lit(7)))
    # out_col collides with a count column itself
    with pytest.raises(ValueError, match="count column"):
        P.pii_redact(docs, out_col="n_phone")
    # id_cols projection DROPS the offending column -> no collision
    assert (
        P.pii_redact(
            docs.withColumn("n_email", F.lit(7)), id_cols=["doc_id"]
        ).count()
        == 1
    )


# ---------------------------------------------------------------------------
# pack_greedy
# ---------------------------------------------------------------------------


def test_pack_greedy_start_offset_binning(spark):
    rows = [("s", i, t) for i, t in enumerate([300, 300, 300, 700, 100])]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = {
        r["doc_id"]: r.asDict()
        for r in P.pack_greedy(df, budget=512, part_cols=("source",)).collect()
    }
    # prefix-before: 0, 300, 600, 900, 1600
    assert (out[0]["seq_id"], out[0]["seq_offset"]) == (0, 0)
    assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 300)
    assert (out[2]["seq_id"], out[2]["seq_offset"]) == (1, 88)
    assert (out[3]["seq_id"], out[3]["seq_offset"]) == (1, 388)
    assert (out[4]["seq_id"], out[4]["seq_offset"]) == (3, 64)
    assert out[3]["overflow_doc"] is True and out[0]["overflow_doc"] is False


def test_pack_greedy_groups_are_independent(spark):
    rows = [(s, i, 200) for s in ("a", "b") for i in range(4)]
    df = spark.createDataFrame(rows, "source string, doc_id long, n_tokens long")
    out = P.pack_greedy(df, budget=512).groupBy("source").agg(
        F.max("seq_id").alias("m")
    )
    assert {r["m"] for r in out.collect()} == {1}  # each group restarts at 0


def test_pack_greedy_rejects_bad_budget(spark):
    df = spark.createDataFrame([("a", 1, 2)], "source string, doc_id long, n_tokens long")
    with pytest.raises(ValueError, match="budget"):
        P.pack_greedy(df, budget=0)


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_roundtrip_and_duckdb_parity(spark):
    from flink_etl_spark.functions import vectors as V

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    scale = V.quantize_scale("embedding")
    q = V.quantize_int8("embedding", scale)
    out = embs.select(
        "vec_id",
        scale.alias("scale"),
        q.alias("q"),
        V.dequant_max_abs_err("embedding", q, scale).alias("err"),
    )
    rows = out.collect()
    # reconstruction error bounded by scale/2 (+ float eps)
    for r in rows:
        assert all(-127 <= x <= 127 for x in r["q"])
        assert r["err"] <= r["scale"] / 2 + 1e-9
    # DuckDB twin computes the identical quantized vectors + stats
    import duckdb

    sqls = V.duckdb_quantize("embedding")
    want = {
        r[0]: (r[1], r[2], r[3])
        for r in duckdb.sql(
            f"SELECT vec_id, {sqls['scale']}, {sqls['q']}, {sqls['max_abs_err']} "
            "FROM '/root/testdata/sf0.001/embeddings.parquet'"
        ).fetchall()
    }
    for r in rows:
        ws, wq, we = want[r["vec_id"]]
        assert r["scale"] == ws
        assert list(r["q"]) == wq
        assert r["err"] == we


def test_quantize_zero_vector_is_all_zero(spark):
    from flink_etl_spark.functions import vectors as V

    df = spark.createDataFrame(
        [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    scale = V.quantize_scale("embedding")
    out = df.select("vec_id", V.quantize_int8("embedding", scale).alias("q")).collect()
    got = {r["vec_id"]: list(r["q"]) for r in out}
    assert got[1] == [0, 0, 0]
    assert got[2] == [64, -127, 32]  # scale = 2/127


def test_hash_split_null_key_matches_duckdb_and_is_deterministic(spark):
    df = spark.createDataFrame(
        [(None,), (1,), (2,)], "doc_id bigint"
    )
    got = {
        r["doc_id"]: r["split"]
        for r in P.hash_split(df, "doc_id", hash_fn="charfold", salt="e'1").collect()
    }
    expr = P.duckdb_split_expr("doc_id", salt="e'1")
    want = dict(
        duckdb.sql(
            f"SELECT doc_id, {expr} AS split FROM "
            "(VALUES (CAST(NULL AS BIGINT)), (1), (2)) t(doc_id)"
        ).fetchall()
    )
    assert got == want
    assert got[None] is not None  # null key -> a real (single) bucket
    # xxhash64 arm: null key is deterministic too
    x = P.hash_split(df, "doc_id").collect()
    assert all(r["split"] in ("train", "val", "test") for r in x)


# ---------------------------------------------------------------------------
# decontaminate
# ---------------------------------------------------------------------------


def test_decontaminate_flags_overlapping_docs(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "completely unrelated text about spark engines"),
            (3, "short"),
        ],
    )
    bench = _docs(spark, [(100, "quick brown fox jumps high")])
    out = {
        r["doc_id"]: r.asDict()
        for r in P.decontaminate(train, bench, n=3).collect()
    }
    # doc 1 shares "quick brown fox" and "brown fox jumps"
    assert out[1]["contaminated"] == 1 and out[1]["n_shared_grams"] == 2
    assert out[1]["n_bench_docs"] == 1
    assert out[2]["contaminated"] == 0 and out[2]["n_shared_grams"] == 0
    assert out[3]["contaminated"] == 0  # < n tokens: clean by definition
    assert set(out) == {1, 2, 3}  # every training doc appears


def test_decontaminate_benchmark_is_broadcast(spark):
    train = _docs(spark, [(1, "a b c d")])
    bench = _docs(spark, [(9, "b c d e")])
    plan = (
        P.decontaminate(train, bench, n=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_decontaminate_rejects_bad_n(spark):
    d = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError, match="n must"):
        P.decontaminate(d, d, n=0)
    with pytest.raises(ValueError, match="hash_fn"):
        P.decontaminate(d, d, n=2, hash_fn="md5")


def test_decontaminate_hash_fns_agree(spark):
    """The production token-combined xxhash64 gram ids and the portable
    charfold ids must yield identical per-doc counts (the minhash
    hash_fn contract: the hash steers the id space, not the answer)."""
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    train, bench = docs.filter("doc_id % 7 != 0"), docs.filter("doc_id % 7 = 0")
    a = {
        r["doc_id"]: (r["n_shared_grams"], r["n_bench_docs"], r["contaminated"])
        for r in P.decontaminate(train, bench, n=3, hash_fn="xxhash64").collect()
    }
    b = {
        r["doc_id"]: (r["n_shared_grams"], r["n_bench_docs"], r["contaminated"])
        for r in P.decontaminate(train, bench, n=3, hash_fn="charfold").collect()
    }
    assert a == b and len(a) > 0


def test_pack_greedy_global_matches_single_window(spark):
    """The two-level prefix sum must reproduce EXACTLY what one global
    window would compute, across bucket boundaries."""
    import random

    rng = random.Random(7)
    rows = [(i, rng.randint(10, 400)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    # reference: single group (constant part col) -> one global window
    ref = P.pack_greedy(
        df.withColumn("g", F.lit(1)), budget=512, part_cols=("g",)
    ).select("doc_id", "seq_id", "seq_offset", "overflow_doc")
    # two-level with a bucket width that forces many buckets
    got = P.pack_greedy_global(df, budget=512, bucket_width=37).select(
        "doc_id", "seq_id", "seq_offset", "overflow_doc"
    )
    assert sorted(map(tuple, ref.collect())) == sorted(map(tuple, got.collect()))


def test_pack_greedy_global_no_single_partition_window(spark):
    """The doc-level window must partition by bucket — only the tiny
    per-bucket offsets window is allowed to be unpartitioned."""
    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id").withColumn(
        "n_tokens", F.lit(100)
    )
    out = P.pack_greedy_global(df, budget=512, bucket_width=100)
    phys = out._jdf.queryExecution().executedPlan().toString()
    # two windows: the doc-level one partitioned by _pkb (its exchange
    # is hashpartitioning on the bucket, not a global single-partition
    # sort of all docs), plus the tiny per-bucket offsets window
    assert phys.count("Window") >= 2
    assert "hashpartitioning(_pkb" in phys
    with pytest.raises(ValueError, match="bucket_width"):
        P.pack_greedy_global(df, budget=512, bucket_width=0)


def test_pack_greedy_global_rejects_non_integral_and_negative_ids(spark):
    """The docstring's non-negative integral id_col requirement is
    enforced: non-integral dtype -> ValueError at plan time; negative
    values -> raise_error at run time (folded into the bucket
    expression so pruning can't drop the check)."""
    bad_type = spark.createDataFrame(
        [("a", 10)], "doc_id string, n_tokens long"
    )
    with pytest.raises(ValueError, match="integral id_col"):
        P.pack_greedy_global(bad_type, budget=512)

    neg = spark.createDataFrame(
        [(-1, 10), (2, 10)], "doc_id long, n_tokens long"
    )
    with pytest.raises(Exception, match="non-negative"):
        P.pack_greedy_global(neg, budget=512).collect()


def test_hash_split_boundaries_exact_for_decimal_weights(spark):
    """round(cum * n_buckets), not int(): 0.7 * 10000 is
    6999.999999999999 in IEEE double — truncation silently moves a
    bucket between splits."""
    assert P._split_bounds((("train", 0.7), ("val", 0.2), ("test", 0.1)), 10000) == [
        ("train", 7000),
        ("val", 9000),
    ]
    # single-label split: valid on both arms (the oracle emits a plain
    # literal — a zero-WHEN CASE is a DuckDB parser error)
    df = spark.range(5).withColumnRenamed("id", "doc_id")
    out = P.hash_split(df, "doc_id", weights=(("all", 1.0),), hash_fn="charfold")
    assert {r["split"] for r in out.collect()} == {"all"}
    expr = P.duckdb_split_expr("doc_id", weights=(("all", 1.0),))
    got = duckdb.sql(f"SELECT {expr} FROM range(3) t(doc_id)").fetchall()
    assert all(r[0] == "all" for r in got)


def test_split_on_cluster_representative_prevents_leakage(spark):
    """The leakage-safe composition hash_split's docstring prescribes:
    near-dup pairs -> duplicate_clusters -> split on the CLUSTER id, so
    every member of a duplicate group lands in the same split (splitting
    on raw doc_id would let a train doc's near-copy leak into test)."""
    from flink_etl_spark.operators.dedup import (
        duplicate_clusters,
        minhash_near_dups,
    )

    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "training data pipelines dedup score filter pack and split",
        "spark shuffles partitions and broadcasts the small side",
    ]
    rows, did = [], 0
    for t in base:
        for copy in range(4):  # 4 near-identical copies per group
            rows.append((did, t + (" extra" if copy == 3 else "")))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_near_dups(docs, threshold=0.5, n_hashes=16, bands=8)
    clusters = duplicate_clusters(pairs)  # doc_id -> cluster_id
    labeled = docs.join(clusters, "doc_id", "left").withColumn(
        "rep", F.coalesce("cluster_id", "doc_id")
    )
    split = P.hash_split(labeled, key_col="rep", salt="leak")
    # every cluster maps to exactly one split label
    per_cluster = (
        split.groupBy("rep")
        .agg(F.countDistinct("split").alias("n_splits"), F.count("*").alias("n"))
        .collect()
    )
    assert all(r["n_splits"] == 1 for r in per_cluster)
    assert sum(r["n"] for r in per_cluster) == len(rows)
    # sanity: the groups really were multi-member (the test is not vacuous)
    assert max(r["n"] for r in per_cluster) >= 4


# ---------------------------------------------------------------------------
# mixture_sample
# ---------------------------------------------------------------------------


def _mix_df(spark, n=2000):
    return spark.range(0, n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4).cast("string")).alias("source"),
        (F.col("id") % 7 + 1).alias("n_tokens"),
    )


def test_mixture_sample_rates_proportional_and_deterministic(spark):
    rates = {"s0": 0.0, "s1": 0.5, "s2": 1.0, "s3": 2.25}
    df = _mix_df(spark)
    out = P.mixture_sample(df, rates, key_col="doc_id")
    per = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert "s0" not in per                       # rate 0 removes the group
    assert per["s1"] == pytest.approx(250, abs=30)
    assert per["s2"] == 500                      # rate 1.0 is exact passthrough
    assert per["s3"] == pytest.approx(1125, abs=30)
    # pure function of (key, salt): re-run identical
    again = P.mixture_sample(df, rates, key_col="doc_id")
    assert out.exceptAll(again).count() == 0
    # integer part repeats EVERY row: each s3 key appears >= 2 times
    s3_min = (
        out.filter("source = 's3'").groupBy("doc_id").count()
        .agg(F.min("count")).collect()[0][0]
    )
    assert s3_min == 2


def test_mixture_sample_expand_false_matches_expanded_counts(spark):
    rates = {"s1": 0.5, "s3": 1.5}
    df = _mix_df(spark, 800)
    counted = P.mixture_sample(df, rates, key_col="doc_id", expand=False)
    expanded = P.mixture_sample(df, rates, key_col="doc_id")
    a = {
        (r["source"],): r["s"]
        for r in counted.groupBy("source").agg(F.sum("n_copies").alias("s")).collect()
    }
    b = {
        (r["source"],): r["s"]
        for r in expanded.groupBy("source").agg(F.count("*").alias("s")).collect()
    }
    # expand drops zero-copy rows; n_copies sums agree group-by-group
    assert {k: v for k, v in a.items() if v > 0} == b
    # copy_id is a 1..n index per retained row
    mx = expanded.filter("source = 's3'").agg(F.max("copy_id")).collect()[0][0]
    assert mx == 2


def test_mixture_sample_charfold_matches_duckdb(spark):
    rates = {"s0": 0.25, "s1": 1.75}
    df = _mix_df(spark, 600)
    got = {
        r["doc_id"]: r["n_copies"]
        for r in P.mixture_sample(
            df, rates, key_col="doc_id", hash_fn="charfold",
            salt="m", expand=False, default_rate=0.5,
        ).collect()
    }
    expr = P.duckdb_mixture_copies(
        "doc_id", "source", rates, salt="m", default_rate=0.5
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT range AS doc_id, "
        "concat('s', range % 4) AS source FROM range(600)"
    )
    want = dict(con.execute(f"SELECT doc_id, {expr} FROM t").fetchall())
    assert got == want
    # every regime present in the comparison set
    assert {0, 1, 2} <= set(want.values())


def test_mixture_sample_null_group_uses_default_and_validates(spark):
    df = spark.createDataFrame(
        [(1, None, 3), (2, "s1", 3)], "doc_id long, source string, n_tokens long"
    )
    out = P.mixture_sample(
        df, {"s1": 0.0}, key_col="doc_id", expand=False, default_rate=2.0
    )
    got = {r["doc_id"]: r["n_copies"] for r in out.collect()}
    assert got == {1: 2, 2: 0}
    with pytest.raises(ValueError, match="finite"):
        P.mixture_sample(df, {"s1": -0.5})
    with pytest.raises(ValueError, match="finite"):
        P.mixture_sample(df, {"s1": float("nan")})


def test_mixture_sample_rejects_runaway_rate(spark):
    df = _mix_df(spark, 10)
    with pytest.raises(ValueError, match="sanity cap"):
        P.mixture_sample(df, {"s1": 1e6})


# ---------------------------------------------------------------------------
# chunk_documents
# ---------------------------------------------------------------------------


def test_chunk_documents_geometry_and_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "abcdefghij"), (2, "ab"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = P.chunk_documents(docs, chunk_chars=4, overlap=2)
    rows = {(r.doc_id, r.chunk_idx): r for r in out.collect()}
    # len 10, stride 2: starts 0,2,4,6 -> last chunk covers chars 7-10
    assert [rows[(1, i)].chunk_text for i in range(4)] == [
        "abcd", "cdef", "efgh", "ghij"
    ]
    assert rows[(1, 3)].chunk_start == 6
    # reconstruction: dropping each chunk's overlap prefix (idx > 0)
    # re-concatenates to the original text
    rebuilt = "".join(
        rows[(1, i)].chunk_text if i == 0 else rows[(1, i)].chunk_text[2:]
        for i in range(4)
    )
    assert rebuilt == "abcdefghij"
    # short / empty / null docs emit exactly one chunk
    assert rows[(2, 0)].chunk_text == "ab" and (2, 1) not in rows
    assert rows[(3, 0)].chunk_text == "" and rows[(3, 0)].n_chunk_chars == 0
    assert rows[(4, 0)].chunk_text == ""
    with pytest.raises(ValueError, match="overlap"):
        P.chunk_documents(docs, chunk_chars=4, overlap=4)
    with pytest.raises(ValueError, match="chunk_chars"):
        P.chunk_documents(docs, chunk_chars=0)


def test_chunk_documents_matches_duckdb(spark):
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        (r.doc_id, r.chunk_idx): (r.chunk_start, r.chunk_text)
        for r in P.chunk_documents(docs, chunk_chars=100, overlap=30).collect()
    }
    con = duckdb.connect()
    want = {
        (d, i): (s, t)
        for d, i, s, t in con.execute(
            """
            WITH docs AS (
                SELECT doc_id, coalesce(text, '') AS text,
                       greatest(1, CAST(ceil((length(coalesce(text, '')) - 30)
                                             / 70.0) AS INT)) AS n
                FROM '/root/testdata/sf0.001/documents.parquet'
            )
            SELECT doc_id, i AS chunk_idx, i * 70 AS chunk_start,
                   substr(text, i * 70 + 1, 100) AS chunk_text
            FROM docs, LATERAL (SELECT unnest(range(n)) AS i)
            """
        ).fetchall()
    }
    assert got == want and len(got) > len(
        {k[0] for k in got}
    )  # at least one multi-chunk doc


# ---------------------------------------------------------------------------
# span_dedup
# ---------------------------------------------------------------------------


def test_span_dedup_within_doc_keeps_first_occurrence(spark):
    docs = spark.createDataFrame(
        [(1, "a b c a b c a b"), (2, "x y z"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in P.span_dedup(docs, span_tokens=3, scope="within_doc").collect()
    }
    assert (out[1].n_spans, out[1].n_spans_kept) == (3, 2)
    assert out[1].dedup_text == "a b c a b"
    assert out[2].dedup_text == "x y z" and out[2].n_spans_kept == 1
    # empty / NULL text: a single empty span survives
    assert out[3].n_spans == 1 and out[3].dedup_text == ""
    assert out[4].n_spans == 1 and out[4].dedup_text == ""


def test_span_dedup_global_first_occurrence_order(spark):
    # doc 1's first span reappears in docs 2 and 3; "earlier" is
    # (doc_id, pos) lexicographic so only doc 1's copy survives
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z"), (3, "q r s a b c")],
        "doc_id long, text string",
    )
    for key in ("digest", "content"):
        out = {
            r.doc_id: r
            for r in P.span_dedup(
                docs, span_tokens=3, scope="global", key=key
            ).collect()
        }
        assert out[1].dedup_text == "a b c d e f"
        assert out[2].dedup_text == "x y z" and out[2].n_spans_kept == 1
        assert out[3].dedup_text == "q r s" and out[3].n_spans == 2


def test_span_dedup_unique_corpus_rebuilds_identity(spark):
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    out = P.span_dedup(docs, span_tokens=20, scope="global").join(
        docs, "doc_id"
    )
    # undeduped docs rebuild byte-identical (single-spaced corpus);
    # deduped docs rebuild as a subsequence of their own spans
    assert (
        out.filter(
            (F.col("n_spans") == F.col("n_spans_kept"))
            & (F.col("dedup_text") != F.col("text"))
        ).count()
        == 0
    )
    # the sf0.001 corpus has near-dup docs sharing spans -> non-degenerate
    assert out.filter(F.col("n_spans") != F.col("n_spans_kept")).count() > 0


def test_span_dedup_validation(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="span_tokens"):
        P.span_dedup(docs, span_tokens=0)
    with pytest.raises(ValueError, match="scope"):
        P.span_dedup(docs, scope="corpus")
    with pytest.raises(ValueError, match="key"):
        P.span_dedup(docs, key="xxhash64")
    with pytest.raises(ValueError, match="collides"):
        P.span_dedup(docs, out_col="doc_id")


def test_span_dedup_matches_duckdb(spark):
    from flink_etl_spark.sources.tables import load_table

    k = 7
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r.doc_id: (r.n_spans, r.n_spans_kept, r.dedup_text)
        for r in P.span_dedup(docs, span_tokens=k, scope="global").collect()
    }
    con = duckdb.connect()
    want = {
        d: (n, nk, t)
        for d, n, nk, t in con.execute(
            f"""
            WITH sp AS (
              SELECT doc_id, CAST(g.i AS INT) AS pos,
                     array_to_string(tk[g.i*{k}+1 : g.i*{k}+{k}], ' ') AS span
              FROM (SELECT doc_id,
                           regexp_split_to_array(coalesce(text,''), ' +') AS tk
                    FROM '/root/testdata/sf0.001/documents.parquet') t,
                   UNNEST(generate_series(
                       0, CAST((len(tk)+{k-1})//{k} AS BIGINT) - 1)) AS g(i)
            ),
            ranked AS (
              SELECT doc_id, pos, span,
                     row_number() OVER (PARTITION BY sha256(span)
                                        ORDER BY doc_id, pos) AS rn
              FROM sp
            )
            SELECT doc_id, count(*), count(*) FILTER (WHERE rn = 1),
                   coalesce(string_agg(span, ' ' ORDER BY pos)
                            FILTER (WHERE rn = 1), '')
            FROM ranked GROUP BY doc_id
            """
        ).fetchall()
    }
    assert got == want


# ---------------------------------------------------------------------------
# substring_dedup (offset-robust anchors)
# ---------------------------------------------------------------------------


def test_substring_dedup_catches_shifted_duplicate_grid_misses(spark):
    """The Lee et al. 2022 motivation, verbatim: a duplicated paragraph
    shifted off the span grid by ONE token is invisible to grid
    span_dedup but fully removed by overlapping-anchor substring
    dedup, with the first occurrence kept intact."""
    para = " ".join(f"p{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, para + " tail one two three"), (2, "shift " + para)],
        "doc_id long, text string",
    )
    grid = {
        r.doc_id: (r.n_spans, r.n_spans_kept)
        for r in P.span_dedup(docs, span_tokens=20, scope="global").collect()
    }
    assert grid[2][0] == grid[2][1]  # grid sees nothing to drop
    for key in ("digest", "hash64"):
        out = {
            r.doc_id: r
            for r in P.substring_dedup(docs, min_tokens=20, key=key).collect()
        }
        assert out[1].dedup_text == para + " tail one two three"
        assert out[2].dedup_text == "shift"
        assert (out[2].n_tokens, out[2].n_tokens_kept) == (26, 1)


def test_substring_dedup_hash64_matches_digest(spark):
    """The 8-byte production keys and the sha256 oracle keys must
    produce identical results on a corpus with real duplication."""
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = lambda key: sorted(  # noqa: E731
        map(
            tuple,
            P.substring_dedup(docs, min_tokens=10, key=key).collect(),
        )
    )
    a, b = rows("digest"), rows("hash64")
    assert a == b and len(a) > 0
    # non-degenerate: the corpus contains near-dup docs sharing passages
    assert any(r[1] != r[2] for r in a)


def test_substring_dedup_unique_corpus_identity_and_short_docs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "f g h"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in P.substring_dedup(docs, min_tokens=4).collect()
    }
    assert out[1].dedup_text == "a b c d e"  # unique -> identity
    assert out[2].dedup_text == "f g h"  # shorter than min_tokens
    assert out[3].dedup_text == "" and out[3].n_tokens == 1
    assert out[4].dedup_text == "" and out[4].n_tokens_kept == 1


def test_substring_dedup_within_doc_repeat_keeps_first(spark):
    # the second copy of the 4-token run inside ONE document is removed
    docs = spark.createDataFrame(
        [(1, "a b c d x y a b c d")], "doc_id long, text string"
    )
    out = P.substring_dedup(docs, min_tokens=4).collect()[0]
    assert out.dedup_text == "a b c d x y"
    assert (out.n_tokens, out.n_tokens_kept) == (10, 6)


def test_substring_dedup_stride_trades_recall(spark):
    """stride divides anchor volume; an aligned duplicate is still
    caught, a misaligned one may be missed — the documented trade."""
    para = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, para), (2, para), (3, "zz " + para)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in P.substring_dedup(docs, min_tokens=6, stride=6).collect()
    }
    assert out[1].n_tokens_kept == 12  # first occurrence intact
    assert out[2].n_tokens_kept == 0  # grid-aligned dup fully removed
    # doc 3's copy is shifted off BOTH docs' stride-6 grids at the
    # matching offsets -> partially or fully missed (recall loss):
    assert out[3].n_tokens_kept >= 1
    # stride=1 catches it exactly
    exact = {
        r.doc_id: r
        for r in P.substring_dedup(docs, min_tokens=6, stride=1).collect()
    }
    assert exact[3].dedup_text == "zz"


def test_substring_dedup_validation(spark):
    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="min_tokens"):
        P.substring_dedup(docs, min_tokens=0)
    with pytest.raises(ValueError, match="stride"):
        P.substring_dedup(docs, stride=0)
    with pytest.raises(ValueError, match="winnow"):
        P.substring_dedup(docs, winnow=0)
    with pytest.raises(ValueError, match="mutually exclusive"):
        P.substring_dedup(docs, stride=2, winnow=2)
    with pytest.raises(ValueError, match="winnow"):
        P.substring_dedup(docs, min_tokens=4, winnow=5)
    with pytest.raises(ValueError, match="key"):
        P.substring_dedup(docs, key="content")
    with pytest.raises(ValueError, match="collides"):
        P.substring_dedup(docs, out_col="doc_id")


def test_substring_dedup_winnow_guarantee_and_slop_bound(spark):
    """The winnowing contract (Schleimer et al. 2003): a duplicated
    passage of >= min_tokens + winnow - 1 tokens is ALWAYS detected
    regardless of offsets (selection is content-based), and removal
    misses at most winnow-1 boundary tokens per passage end. Probed
    over many random offsets/prefixes."""
    import random

    rng = random.Random(13)
    k, w = 8, 4
    para = " ".join(f"d{i}" for i in range(k + w - 1))  # exactly k+w-1
    for trial in range(10):
        pre1 = " ".join(f"a{rng.randint(0, 10**6)}" for _ in range(rng.randint(0, 9)))
        pre2 = " ".join(f"b{rng.randint(0, 10**6)}" for _ in range(rng.randint(0, 9)))
        suf2 = " ".join(f"c{rng.randint(0, 10**6)}" for _ in range(rng.randint(0, 9)))
        docs = spark.createDataFrame(
            [(1, f"{pre1} {para}".strip()), (2, f"{pre2} {para} {suf2}".strip())],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r
            for r in P.substring_dedup(
                docs, min_tokens=k, winnow=w, key="hash64"
            ).collect()
        }
        dropped = out[2].n_tokens - out[2].n_tokens_kept
        # detection guaranteed: SOMETHING of the passage is removed...
        assert dropped >= 1, f"trial {trial}: winnowing missed the passage"
        # ...and the removal stays within the passage + slop bound
        assert dropped <= len(para.split())
        # removed at least the passage minus boundary slop at each end
        assert dropped >= len(para.split()) - 2 * (w - 1)
        # first occurrence keeps all its tokens
        assert out[1].n_tokens_kept == out[1].n_tokens


def test_substring_dedup_matches_duckdb(spark):
    """Independent DuckDB replication of the full anchor pipeline
    (sha256 anchors, first occurrence by (doc_id, pos), coverage-union
    removal) on the sf0.001 corpus."""
    from flink_etl_spark.sources.tables import load_table

    k = 10
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in P.substring_dedup(docs, min_tokens=k, key="digest").collect()
    }
    con = duckdb.connect()
    want = {
        d: (n, nk, t)
        for d, n, nk, t in con.execute(
            f"""
            WITH atk AS (
              SELECT doc_id,
                     regexp_split_to_array(coalesce(text,''), ' +') AS tk
              FROM '/root/testdata/sf0.001/documents.parquet'
            ),
            anch AS (
              SELECT doc_id, CAST(g.i AS INT) AS pos,
                     sha256(array_to_string(tk[g.i+1 : g.i+{k}], ' ')) AS h
              FROM atk,
                   UNNEST(generate_series(
                       0, CAST(len(tk) AS BIGINT) - {k})) AS g(i)
            ),
            sdup AS (
              SELECT doc_id, pos
              FROM (SELECT doc_id, pos,
                           row_number() OVER (PARTITION BY h
                                              ORDER BY doc_id, pos) AS rn
                    FROM anch) r
              WHERE rn > 1
            ),
            scov AS (
              SELECT DISTINCT doc_id, CAST(u.i AS INT) AS ti
              FROM sdup,
                   UNNEST(generate_series(pos, pos + {k - 1})) AS u(i)
            ),
            stok AS (
              SELECT doc_id, CAST(g.i AS INT) AS ti, tk[g.i+1] AS tok
              FROM atk,
                   UNNEST(generate_series(
                       0, CAST(len(tk) AS BIGINT) - 1)) AS g(i)
            )
            SELECT t.doc_id, count(*),
                   count(*) FILTER (WHERE c.ti IS NULL),
                   coalesce(string_agg(tok, ' ' ORDER BY t.ti)
                            FILTER (WHERE c.ti IS NULL), '')
            FROM stok t
            LEFT JOIN scov c ON c.doc_id = t.doc_id AND c.ti = t.ti
            GROUP BY t.doc_id
            """
        ).fetchall()
    }
    assert got == want and len(got) > 0


def test_doubling_fold_matches_sequential_model(spark):
    """gram_ids_sql / shingles_sql build by doubling (O(log k)
    zip_with nestings); they must stay VALUE-IDENTICAL to the
    sequential polynomial fold / concat at every k — staged minhash
    profiles and decontamination gram ids depend on the exact values —
    and must not trip the analyzer's Resolution cap at the Lee et al.
    anchor width (k=50+, the bug that motivated the rewrite)."""
    import random

    from flink_etl_spark.functions.hashing import (
        MERSENNE_P,
        gram_ids_sql,
        shingles_sql,
    )

    rng = random.Random(42)
    toks = [f"t{rng.randint(0, 999)}" for _ in range(120)]
    df = spark.createDataFrame([(1, toks)], "id long, toks array<string>")
    th = F.transform(
        F.col("toks"), lambda t: F.pmod(F.xxhash64(t), F.lit(MERSENNE_P))
    )
    dfh = df.select("id", th.alias("th"), F.col("toks"))
    for k in (1, 2, 3, 5, 20, 50, 100, 127):
        row = dfh.select(
            F.expr(gram_ids_sql("th", k)).alias("g"),
            F.expr(shingles_sql("toks", k)).alias("s"),
            F.col("th"),
        ).collect()[0]
        want_g = []
        for p0 in range(len(row["th"]) - k + 1):
            acc = 0
            for h in row["th"][p0 : p0 + k]:
                acc = (acc * 131 + h) % MERSENNE_P
            want_g.append(acc)
        assert list(row["g"]) == want_g, f"gram ids diverge at k={k}"
        want_s = [
            " ".join(toks[p0 : p0 + k]) for p0 in range(len(toks) - k + 1)
        ]
        assert list(row["s"]) == want_s, f"shingles diverge at k={k}"


# ---------------------------------------------------------------------------
# substring_dedup_incremental (staged anchor index)
# ---------------------------------------------------------------------------


def test_substring_incremental_index_wins_and_batch_repeats_drop(
    spark, tmp_path
):
    para = " ".join(f"p{i}" for i in range(20))
    corpus = _docs(
        spark, [(1, para + " extra stuff here"), (2, "other doc entirely")]
    )
    uniq = "q r s " + " ".join(f"z{i}" for i in range(15))
    batch = _docs(
        spark,
        [(10, "prefix " + para + " suffix"), (11, uniq), (12, uniq)],
    )
    idx = str(tmp_path / "idx")
    P.substring_stage_index(
        corpus, idx, mode="overwrite", min_tokens=10, key="hash64"
    )
    out = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in P.substring_dedup_incremental(
            batch, idx, min_tokens=10, key="hash64"
        ).collect()
    }
    assert set(out) == {10, 11, 12}  # batch docs only
    assert out[10] == (22, 2, "prefix suffix")  # index passage removed
    assert out[11] == (18, 18, uniq)  # batch first occurrence intact
    assert out[12] == (18, 0, "")  # batch repeat fully covered


def test_substring_incremental_matches_global_precedence(spark, tmp_path):
    """With index ids all BELOW batch ids, index-always-wins coincides
    with (id, pos) ordering — the incremental result for batch docs
    must then equal the global substring_dedup over index + batch."""
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    lo = docs.filter("doc_id % 2 = 0")
    hi = docs.filter("doc_id % 2 = 1")
    # shift batch ids above every index id so ordering agrees
    hi_shift = hi.withColumn("doc_id", F.col("doc_id") + F.lit(10**9))
    idx = str(tmp_path / "idx2")
    P.substring_stage_index(
        lo, idx, mode="overwrite", min_tokens=10, key="digest"
    )
    inc = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in P.substring_dedup_incremental(
            hi_shift, idx, min_tokens=10, key="digest"
        ).collect()
    }
    glob = {
        r.doc_id: (r.n_tokens, r.n_tokens_kept, r.dedup_text)
        for r in P.substring_dedup(
            lo.unionByName(hi_shift), min_tokens=10, key="digest"
        ).collect()
        if r.doc_id >= 10**9
    }
    assert inc == glob and len(inc) > 0


def test_substring_incremental_meta_guard_and_append(spark, tmp_path):
    docs = _docs(spark, [(1, "a b c d e f g h")])
    idx = str(tmp_path / "idx3")
    P.substring_stage_index(docs, idx, mode="overwrite", min_tokens=4)
    # append with matching params is fine
    P.substring_stage_index(_docs(spark, [(2, "x y z w v u")]), idx,
                            min_tokens=4)
    # any mismatched parameter raises on append AND on lookup
    with pytest.raises(ValueError, match="incompatible"):
        P.substring_stage_index(docs, idx, min_tokens=5)
    with pytest.raises(ValueError, match="incompatible"):
        P.substring_dedup_incremental(docs, idx, min_tokens=4, key="digest")
    # matching lookup works and sees BOTH appended batches
    out = {
        r.doc_id: r.n_tokens_kept
        for r in P.substring_dedup_incremental(
            _docs(spark, [(9, "a b c d x y z w")]), idx, min_tokens=4
        ).collect()
    }
    assert out[9] == 0  # first half hits batch-1 keys, second batch-2


def test_substring_stage_index_validation(spark, tmp_path):
    docs = _docs(spark, [(1, "a b c")])
    idx = str(tmp_path / "v")
    with pytest.raises(ValueError, match="min_tokens"):
        P.substring_stage_index(docs, idx, min_tokens=0)
    with pytest.raises(ValueError, match="winnow"):
        P.substring_stage_index(docs, idx, min_tokens=4, winnow=5)
    with pytest.raises(ValueError, match="key"):
        P.substring_stage_index(docs, idx, key="charfold")


def test_substring_incremental_winnow_composition(spark, tmp_path):
    """Winnow-sampled index + winnow-sampled batch: the content-based
    selection picks identical passage-relative anchors on both sides,
    so a duplicated passage >= min_tokens + winnow - 1 is still caught
    across the index boundary."""
    k, w = 8, 4
    para = " ".join(f"d{i}" for i in range(k + w - 1))
    corpus = _docs(spark, [(1, "lead " + para + " trail")])
    batch = _docs(spark, [(10, "other prefix " + para)])
    idx = str(tmp_path / "widx")
    P.substring_stage_index(
        corpus, idx, mode="overwrite", min_tokens=k, winnow=w
    )
    out = P.substring_dedup_incremental(
        batch, idx, min_tokens=k, winnow=w
    ).collect()[0]
    dropped = out.n_tokens - out.n_tokens_kept
    assert dropped >= 1  # detection guaranteed across the index
    assert dropped >= len(para.split()) - 2 * (w - 1)  # slop-bounded
    # winnow params are part of the meta contract
    with pytest.raises(ValueError, match="incompatible"):
        P.substring_dedup_incremental(batch, idx, min_tokens=k, winnow=2)


def test_document_fingerprints_shared_passage_and_plan(spark):
    """Two docs sharing a >= k+w-1 passage must share at least one
    fingerprint at the passage-relative offset; the operator itself is
    exchange-free (row-local selection)."""
    k, w = 8, 4
    para = " ".join(f"f{i}" for i in range(k + w - 1))
    docs = _docs(
        spark,
        [(1, "aa bb " + para), (2, para + " zz"), (3, "totally other words")],
    )
    fp = P.document_fingerprints(docs, min_tokens=k, winnow=w)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    shared = by_doc[1] & by_doc[2]
    assert shared, "shared passage must yield a common fingerprint"
    assert not (by_doc[1] & by_doc.get(3, set()))
    # density: winnowing selects ~2/(w+1) of anchors, never all
    n_anchors_1 = len("aa bb ".split()) + len(para.split()) - k + 1
    assert len(by_doc[1]) < n_anchors_1
    plan = fp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # row-local, zero shuffles
    with pytest.raises(ValueError, match="winnow"):
        P.document_fingerprints(docs, min_tokens=4, winnow=5)


def test_out_col_metric_collision_raises(spark):
    """out_col colliding with the operator's own metric columns must
    raise instead of silently emitting a duplicate-named column."""
    docs = _docs(spark, [(1, "a b c")])
    for bad in ("n_spans", "n_spans_kept"):
        with pytest.raises(ValueError, match="collides"):
            P.span_dedup(docs, out_col=bad)
    for bad in ("n_tokens", "n_tokens_kept"):
        with pytest.raises(ValueError, match="collides"):
            P.substring_dedup(docs, out_col=bad)


def test_substring_incremental_respects_broadcast_batch(spark, tmp_path):
    """broadcast_batch=False must not force-broadcast ANY side — the
    flag exists for batches whose key set is too large for the driver,
    and a forced broadcast of the hit set (bounded only by the batch
    keys) would OOM at exactly that scale. Results must be identical
    either way."""
    idx = str(tmp_path / "idx")
    base = " ".join(f"w{i}" for i in range(12))
    P.substring_stage_index(
        _docs(spark, [(1, base)]), idx, min_tokens=6, key="digest"
    )
    batch = _docs(
        spark, [(10, "x y " + base), (11, "fresh tokens only here now")]
    )
    wide = P.substring_dedup_incremental(
        batch, idx, min_tokens=6, key="digest", broadcast_batch=True
    )
    narrow = P.substring_dedup_incremental(
        batch, idx, min_tokens=6, key="digest", broadcast_batch=False
    )
    assert sorted(map(tuple, wide.collect())) == sorted(
        map(tuple, narrow.collect())
    )
    # the broadcast hints are caller-controlled: present when asked,
    # absent (both joins) when declined
    assert "ResolvedHint" in wide._jdf.queryExecution().analyzed().toString()
    assert (
        "ResolvedHint"
        not in narrow._jdf.queryExecution().analyzed().toString()
    )


def test_gap_slice_rebuild_matches_naive_model(spark):
    """The merged-interval gap-slice rebuild must equal the naive
    per-element coverage filter over randomized drop sets — including
    adjacent, overlapping, duplicate, and edge-hugging windows."""
    import random

    rng = random.Random(41)
    for k, stride in ((1, 1), (3, 1), (5, 2)):
        rows, expect = [], {}
        for rid in range(40):
            n = rng.randint(0, 28)
            toks = [f"t{j}" for j in range(n)]
            max_grid = max(0, (n - k) // stride)
            drops = (
                [rng.randint(0, max_grid) for _ in range(rng.randint(0, 12))]
                if n >= k
                else []
            )
            rows.append((rid, toks, drops or None))
            covered = {
                i
                for p in drops
                for i in range(p * stride, p * stride + k)
                if i < n
            }
            expect[rid] = [t for j, t in enumerate(toks) if j not in covered]
        df = spark.createDataFrame(
            rows, "rid long, _toks array<string>, _dup array<int>"
        )
        out = P._gap_slice_rebuild(df, "_toks", "_dup", k, stride, "_kept")
        got = {r.rid: list(r._kept) for r in out.collect()}
        assert got == expect, f"k={k} stride={stride}"


def test_fingerprint_candidates_pairs_and_knobs(spark):
    """MOSS pair census: docs sharing a >= k+w-1 passage must pair;
    min_shared filters; max_df drops corpus-wide boilerplate
    fingerprints before the self-join."""
    k, w = 8, 4
    para = " ".join(f"p{i}" for i in range(k + w - 1))
    boiler = " ".join(f"b{i}" for i in range(k + w - 1))
    docs = _docs(
        spark,
        [
            (1, f"{para} one extra words here"),
            (2, f"lead {para}"),
            (3, "entirely unrelated text tokens only q0 q1 q2 q3 q4 q5"),
            # identical docs: every fingerprint has df=3, so max_df=2
            # prunes the WHOLE clique deterministically (suffix
            # variation would leave df<=2 selection-edge fingerprints)
            (4, boiler),
            (5, boiler),
            (6, boiler),
        ],
    )
    pairs = {
        (r.doc_a, r.doc_b): r.n_shared
        for r in P.fingerprint_candidates(
            docs, min_tokens=k, winnow=w
        ).collect()
    }
    assert (1, 2) in pairs  # shared passage guarantees the pair
    assert not any(3 in p for p in pairs)  # unrelated never pairs
    assert {(4, 5), (4, 6), (5, 6)} <= set(pairs)  # boilerplate clique

    # min_shared keeps only pairs above the census threshold
    strong = P.fingerprint_candidates(
        docs, min_tokens=k, winnow=w, min_shared=10**6
    )
    assert strong.count() == 0

    # max_df=2: the boilerplate fingerprints live in 3 docs and are
    # pruned before the join, dissolving the clique; (1,2) survives
    pruned = {
        (r.doc_a, r.doc_b)
        for r in P.fingerprint_candidates(
            docs, min_tokens=k, winnow=w, max_df=2
        ).collect()
    }
    assert (1, 2) in pruned
    assert not ({(4, 5), (4, 6), (5, 6)} & pruned)

    with pytest.raises(ValueError, match="min_shared"):
        P.fingerprint_candidates(docs, min_shared=0)
    with pytest.raises(ValueError, match="max_df"):
        P.fingerprint_candidates(docs, max_df=0)


def test_fingerprint_overlap_cross_corpus(spark):
    """Asymmetric MOSS: suspect-vs-reference pairs appear iff a
    >= k+w-1 passage is shared across corpora; max_df counts total df
    across BOTH corpora; composition with the substring scrub removes
    exactly the reported passages."""
    k, w = 8, 4
    para = " ".join(f"r{i}" for i in range(k + w - 1))
    ref = _docs(spark, [(100, para + " ref tail"), (101, "other stuff only here x1 x2 x3")])
    sus = _docs(
        spark,
        [(1, "lead " + para), (2, "clean text with nothing shared y1 y2 y3")],
    )
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in P.fingerprint_overlap(sus, ref, min_tokens=k, winnow=w).collect()
    }
    assert (1, 100) in pairs and pairs[(1, 100)] >= 1
    assert not any(a == 2 for a, _ in pairs)  # clean doc never pairs
    assert not any(b == 101 for _, b in pairs)

    # max_df over the UNION: para fingerprints live in 2 docs total;
    # max_df=1 prunes them all -> empty report
    assert (
        P.fingerprint_overlap(sus, ref, min_tokens=k, winnow=w, max_df=1)
        .count()
        == 0
    )
    with pytest.raises(ValueError, match="min_shared"):
        P.fingerprint_overlap(sus, ref, min_shared=0)


def test_substring_scrub_composes_as_passage_decontamination(
    spark, tmp_path
):
    """The documented removal composition: stage the benchmark's
    anchors, scrub the corpus incrementally — every benchmark passage
    vanishes from the corpus, everything else survives."""
    k = 8
    bench_para = " ".join(f"b{i}" for i in range(k + 3))
    idx = str(tmp_path / "bench_idx")
    P.substring_stage_index(
        _docs(spark, [(900, bench_para)]), idx, min_tokens=k, key="digest"
    )
    corpus = _docs(
        spark,
        [
            (1, "intro " + bench_para + " outro"),
            (2, "wholly original writing w1 w2 w3 w4 w5 w6 w7 w8 w9"),
        ],
    )
    out = {
        r.doc_id: r
        for r in P.substring_dedup_incremental(
            corpus, idx, min_tokens=k, key="digest"
        ).collect()
    }
    assert "b0" not in out[1].dedup_text and "b10" not in out[1].dedup_text
    assert out[1].dedup_text.startswith("intro")
    assert out[2].n_tokens_kept == out[2].n_tokens

def test_dsir_log_weights_hand_computed(spark):
    """DSIR log importance weights match an independent Python
    evaluation of the smoothed bag-of-n-gram formula (per-instance
    micro-floor, integer sum); a target-like document outscores an
    off-domain one; hashed and string feature keys agree; empty docs
    are absent."""
    import math

    from flink_etl_spark.operators.prep import dsir_log_weights

    target = spark.createDataFrame(
        [(100, "the cat sat"), (101, "the cat ran")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "the cat sat"), (2, "dogs bark loud"), (3, "")],
        "doc_id long, text string",
    )

    def feats(text):
        # empty text tokenizes to [''] — the package tokens_sql rule
        toks = text.split() if text else [""]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    tfeats = [f for t in ("the cat sat", "the cat ran") for f in feats(t)]
    qfeats = [f for t in ("the cat sat", "dogs bark loud", "") for f in feats(t)]
    ct, cq = {}, {}
    for f in tfeats:
        ct[f] = ct.get(f, 0) + 1
    for f in qfeats:
        cq[f] = cq.get(f, 0) + 1
    v = len(set(tfeats) | set(qfeats))
    nt, nq = len(tfeats), len(qfeats)

    def expect(text):
        fs = feats(text)
        s = sum(
            math.floor(
                (math.log((ct.get(f, 0) + 1.0) / (nt + v))
                 - math.log((cq.get(f, 0) + 1.0) / (nq + v))) * 1e6
            )
            for f in fs
        )
        novel = sum(1 for f in fs if f not in ct)
        return len(fs), s, novel

    got = {
        r.doc_id: r
        for r in dsir_log_weights(raw, target, hash_terms=False).collect()
    }
    assert set(got) == {1, 2, 3}  # empty text = one '' token, still scored
    for doc_id, text in ((1, "the cat sat"), (2, "dogs bark loud"), (3, "")):
        nf, s, novel = expect(text)
        r = got[doc_id]
        assert r.n_feats == nf
        assert r.logw_micro == s
        assert r.mean_lr_micro == s / nf
        assert r.novel_target_frac == math.floor(novel * 1e6 / nf) / 1e6
    # in-domain text outscores the off-domain one
    assert got[1].logw_micro > got[2].logw_micro
    assert got[1].novel_target_frac == 0.0
    assert got[2].novel_target_frac == 1.0

    hashed = {
        r.doc_id: (r.n_feats, r.logw_micro)
        for r in dsir_log_weights(raw, target, hash_terms=True).collect()
    }
    assert hashed == {k: (r.n_feats, r.logw_micro) for k, r in got.items()}


def test_dsir_log_weights_bucketed_hand_computed(spark):
    """dsir_log_weights(n_buckets=B) matches an independent Python
    evaluation of the bucketed formula (char-fold bucket, V = B,
    bucket-level novelty), for a B small enough that collisions
    genuinely fire; a huge B reproduces the exact arm's VALUES on a
    collision-free corpus (same floored ratios, V=B differing only by
    the smoothing constant is NOT expected to match exactly — so the
    equivalence is checked structurally: n_feats and rankings);
    validation raises on bad B."""
    import math

    import pytest

    from flink_etl_spark.functions.hashing import MERSENNE_P
    from flink_etl_spark.operators.prep import dsir_log_weights

    target = spark.createDataFrame(
        [(100, "the cat sat"), (101, "the cat ran")],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(1, "the cat sat"), (2, "dogs bark loud"), (3, "")],
        "doc_id long, text string",
    )
    B = 7  # tiny: forces real collisions

    def feats(text):
        toks = text.split() if text else [""]
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):
        acc = 0
        for c in f:
            acc = (acc * 131 + ord(c)) % MERSENNE_P
        return acc % B

    ct, cq = {}, {}
    for t in ("the cat sat", "the cat ran"):
        for f in feats(t):
            b = bucket(f)
            ct[b] = ct.get(b, 0) + 1
    for t in ("the cat sat", "dogs bark loud", ""):
        for f in feats(t):
            b = bucket(f)
            cq[b] = cq.get(b, 0) + 1
    nt, nq = sum(ct.values()), sum(cq.values())

    def expect(text):
        bs = [bucket(f) for f in feats(text)]
        s = sum(
            math.floor(
                (math.log((ct.get(b, 0) + 1.0) / (nt + B))
                 - math.log((cq.get(b, 0) + 1.0) / (nq + B))) * 1e6
            )
            for b in bs
        )
        novel = sum(1 for b in bs if ct.get(b, 0) == 0)
        return len(bs), s, novel

    got = {
        r.doc_id: r
        for r in dsir_log_weights(
            raw, target, hash_terms=False, n_buckets=B
        ).collect()
    }
    assert set(got) == {1, 2, 3}
    for doc_id, text in ((1, "the cat sat"), (2, "dogs bark loud"), (3, "")):
        nf, s, novel = expect(text)
        r = got[doc_id]
        assert r.n_feats == nf, (doc_id, r)
        assert r.logw_micro == s, (doc_id, r)
        assert r.mean_lr_micro == s / nf
        assert r.novel_target_frac == math.floor(novel * 1e6 / nf) / 1e6
    # collisions coarsen but don't flip the in-vs-off-domain ordering
    assert got[1].logw_micro > got[2].logw_micro

    # hashed (xxhash64) buckets: same structure, same n_feats, and on
    # this corpus the same domain ordering (values differ: different
    # collision pattern)
    h = {
        r.doc_id: r
        for r in dsir_log_weights(
            raw, target, hash_terms=True, n_buckets=4096
        ).collect()
    }
    assert {k: v.n_feats for k, v in h.items()} == {
        k: v.n_feats for k, v in got.items()
    }
    assert h[1].logw_micro > h[2].logw_micro

    with pytest.raises(ValueError, match="n_buckets must be >= 2"):
        dsir_log_weights(raw, target, n_buckets=1)
    with pytest.raises(ValueError, match="sanity cap"):
        dsir_log_weights(raw, target, n_buckets=20_000_000)


def test_dsir_select_n_gumbel_topk(spark):
    """Gumbel-top-k selection: deterministic per (id, salt), ties on
    id, high-logw rows selected more often across salts, per-group
    form respects group boundaries, n<1 raises."""
    import math

    import pytest

    from flink_etl_spark.functions.hashing import MERSENNE_P, MINHASH_COEFFS
    from flink_etl_spark.operators.prep import dsir_select_n

    rows = [
        (i, "a" if i < 6 else "b", (5_000_000 if i % 3 == 0 else 0))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, logw_micro long")

    def expect(salt, n=3):
        a, b = MINHASH_COEFFS[salt % len(MINHASH_COEFFS)]
        key = {}
        for i, _, lw in rows:
            h = (a * ((i + salt) % MERSENNE_P) + b) % MERSENNE_P
            u = (h + 1) / float(MERSENNE_P + 1)
            key[i] = lw / 1e6 + round(-math.log(-math.log(u)), 6)
        return sorted(sorted(key, key=lambda i: (-key[i], i))[:n])

    for salt in range(12):
        got = sorted(
            r.doc_id for r in dsir_select_n(df, 3, salt=salt).collect()
        )
        assert got == expect(salt)

    # weight-proportional inclusion: logw=5 (e^5 ~ 148x) dominates
    heavy = sum(
        sum(1 for i in expect(s) if i % 3 == 0) for s in range(40)
    )
    light = 40 * 3 - heavy
    assert heavy > light

    grouped = dsir_select_n(df, 2, group_cols=("src",), salt=1).collect()
    by_src = {}
    for r in grouped:
        by_src.setdefault(r.src, []).append(r.doc_id)
    assert sorted(len(v) for v in by_src.values()) == [2, 2]
    assert all((i < 6) == (s == "a") for s, v in by_src.items() for i in v)

    with pytest.raises(ValueError, match="n must"):
        dsir_select_n(df, 0)


def test_dsir_staged_fit_equals_in_memory_and_validates(spark, tmp_path):
    """dsir_stage_fit + dsir_log_weights_staged: scoring the same
    corpora against the staged fit is value-identical to the
    in-memory bucketed arm; parameters derive from the sidecar;
    missing/drifted sidecars raise; and scoring a NEW shard reuses
    the frozen fit (the fit-once/score-many contract)."""
    import pytest

    from flink_etl_spark.operators.prep import (
        dsir_log_weights,
        dsir_log_weights_staged,
        dsir_stage_fit,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    raw = docs.filter("doc_id % 2 = 1")
    target = docs.filter("doc_id % 2 = 0")
    fit = str(tmp_path / "fit")
    dsir_stage_fit(target, raw, fit, n_buckets=512, hash_terms=True)

    staged = sorted(
        map(tuple, dsir_log_weights_staged(raw, fit).collect())
    )
    mem = sorted(
        map(tuple, dsir_log_weights(raw, target, n_buckets=512).collect())
    )
    assert staged == mem

    # a new shard scores against the FROZEN fit (q from stage time):
    # every output doc present, values deterministic across two reads
    shard = docs.filter("doc_id % 4 = 3")
    s1 = sorted(map(tuple, dsir_log_weights_staged(shard, fit).collect()))
    s2 = sorted(map(tuple, dsir_log_weights_staged(shard, fit).collect()))
    assert s1 == s2
    assert len(s1) == shard.count()

    with pytest.raises(ValueError, match="no _DSIR_META"):
        dsir_log_weights_staged(raw, str(tmp_path / "nope"))
    from flink_etl_spark.staged import _write_json_sidecar

    _write_json_sidecar(
        spark, f"{fit}/_DSIR_META.json",
        {"version": 99, "n_buckets": 512, "hash_terms": True},
    )
    with pytest.raises(ValueError, match="format version"):
        dsir_log_weights_staged(raw, fit)
    with pytest.raises(ValueError, match="n_buckets"):
        dsir_stage_fit(target, raw, str(tmp_path / "f2"), n_buckets=1)


def test_nb_classifier_learns_planted_vocabulary(spark):
    """Two disjoint planted vocabularies: the classifier must predict
    held-out documents of each class correctly, and swapping the
    labels must negate every log-odds score up to flooring (the
    smoothed ratio and the prior are antisymmetric, but each
    micro-FLOORED term may sit 1 unit off the negation when the true
    value is off the 1e-6 grid — bound: n_feats + 1 terms)."""
    from flink_etl_spark.operators.prep import nb_classifier_scores

    pos_words = ["apple", "banana", "cherry", "plum"]
    neg_words = ["rock", "stone", "gravel", "sand"]
    rows = []
    for i in range(12):
        w = pos_words if i % 2 == 0 else neg_words
        text = " ".join(w[(i + j) % 4] for j in range(6))
        rows.append((i, text, i % 2 == 0))
    labeled = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    held = spark.createDataFrame(
        [
            (100, "apple cherry banana plum apple"),
            (101, "stone rock sand gravel rock"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in nb_classifier_scores(
            held, labeled, n_buckets=64, hash_terms=True
        ).collect()
    }
    assert out[100].predicted and out[100].logodds_micro > 0
    assert not out[101].predicted and out[101].logodds_micro < 0
    flipped = labeled.withColumn("label", ~F.col("label"))
    swapped = {
        r.doc_id: r
        for r in nb_classifier_scores(
            held, flipped, n_buckets=64, hash_terms=True
        ).collect()
    }
    for d in (100, 101):
        drift = abs(swapped[d].logodds_micro + out[d].logodds_micro)
        assert drift <= out[d].n_feats + 1, drift
        assert swapped[d].predicted != out[d].predicted


def test_nb_classifier_guards(spark):
    """Null labels and empty classes must raise loudly — a null label
    would silently count as negative, an empty class makes the prior
    undefined."""
    import pytest

    from flink_etl_spark.operators.prep import nb_classifier_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], ["doc_id", "text"]
    )
    with_null = spark.createDataFrame(
        [(1, "a b", True), (2, "c d", None)],
        "doc_id long, text string, label boolean",
    )
    with pytest.raises(ValueError, match="NULL"):
        nb_classifier_scores(docs, with_null)
    one_class = spark.createDataFrame(
        [(1, "a b", True), (2, "c d", True)],
        "doc_id long, text string, label boolean",
    )
    with pytest.raises(ValueError, match="non-empty"):
        nb_classifier_scores(docs, one_class)


def test_nb_staged_fit_matches_inline_and_guards(spark, tmp_path):
    """nb_stage_fit -> nb_classifier_scores_staged must be
    value-identical to the inline fit (same labeled corpus, same
    knobs), and the sidecar contract must raise on a missing or
    version-drifted fit."""
    import json

    import pytest

    from flink_etl_spark.operators.prep import (
        nb_classifier_scores,
        nb_classifier_scores_staged,
        nb_stage_fit,
    )

    rows = [
        (i, "apple banana cherry" if i % 2 == 0 else "rock stone sand",
         i % 2 == 0)
        for i in range(10)
    ]
    labeled = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    held = spark.createDataFrame(
        [(100, "apple banana plum"), (101, "gravel rock dust")],
        ["doc_id", "text"],
    )
    fit = str(tmp_path / "nbfit")
    nb_stage_fit(labeled, fit, n_buckets=64)
    inline = sorted(map(tuple, nb_classifier_scores(
        held, labeled, n_buckets=64).collect()))
    staged = sorted(map(tuple, nb_classifier_scores_staged(
        held, fit).collect()))
    assert inline == staged and len(staged) == 2

    with pytest.raises(ValueError, match="_NB_META"):
        nb_classifier_scores_staged(held, str(tmp_path / "nope"))
    meta_file = tmp_path / "nbfit" / "_NB_META.json"
    m = json.loads(meta_file.read_text())
    m["version"] = 99
    meta_file.write_text(json.dumps(m))
    # drop the Hadoop checksum sidecar the original write left — the
    # forged content would otherwise fail the CRC, not the version check
    (tmp_path / "nbfit" / "._NB_META.json.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="format version"):
        nb_classifier_scores_staged(held, fit)
    # the drift MONITOR must refuse a version-drifted fit too — it is
    # the component whose job is to say "re-stage", so it must never
    # compute against a misread counts frame and report healthy
    from flink_etl_spark.operators.prep import staged_fit_drift_check

    with pytest.raises(ValueError, match="format version"):
        staged_fit_drift_check(held, fit)


def test_staged_fit_drift_check_flags_vocab_shift(spark, tmp_path):
    """staged_fit_drift_check: a held-out slice of the fit corpus sits
    at the noise floor; a vocabulary-shifted batch warns with
    drift_detected and high novel mass; an empty batch raises; a
    non-fit path raises."""
    import warnings

    import pytest

    from flink_etl_spark.operators.prep import (
        nb_stage_fit,
        staged_fit_drift_check,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    labeled = docs.filter("doc_id % 2 = 0").withColumn(
        "label", F.expr("lang = 'en'")
    )
    held = docs.filter("doc_id % 2 = 1")
    fit = str(tmp_path / "nbfit")
    nb_stage_fit(labeled, fit, n_buckets=512)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ok = staged_fit_drift_check(held, fit)
        assert not any("re-stage" in str(x.message) for x in w)
    assert ok["kind"] == "nb" and not ok["drift_detected"]
    assert ok["tv"] < 0.2 and ok["novel_frac"] < 0.05

    shifted = held.withColumn("text", F.upper("text"))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bad = staged_fit_drift_check(shifted, fit)
        assert any("re-stage" in str(x.message) for x in w)
    assert bad["drift_detected"] and bad["refit_recommended"]
    # novel mass is collision-damped at B=512 (most buckets carry SOME
    # fit mass), so it reads lower than the B=10k calibration — tv is
    # the robust signal; novel_frac just has to move off zero
    assert bad["tv"] > 0.5 and bad["novel_frac"] > 0.1

    # an empty batch (zero feature instances) raises instead of
    # dividing by zero inside the TV aggregate
    with pytest.raises(ValueError, match="no feature instances"):
        staged_fit_drift_check(held.filter("doc_id < 0"), fit)
    with pytest.raises(ValueError, match="no feature instances"):
        staged_fit_drift_check(
            held.withColumn("text", F.lit(None).cast("string")), fit
        )

    with pytest.raises(ValueError, match="sidecar"):
        staged_fit_drift_check(held, str(tmp_path / "nope"))


def test_nb_multi_class_learns_and_guards(spark):
    """Multi-class NB: three planted disjoint vocabularies predict
    held-out docs exactly with positive margins; ties and guards
    behave (null labels raise, a single class raises, max_classes
    raises; a two-class multi run agrees with the binary classifier's
    argmax on clearly separated data)."""
    import pytest

    from flink_etl_spark.operators.prep import (
        nb_classifier_scores,
        nb_classifier_scores_multi,
    )

    vocab = {
        "aa": ["red blue green", "blue green red"],
        "bb": ["one two three", "two three one"],
        "cc": ["dog cat bird", "cat bird dog"],
    }
    data, i = [], 0
    for lang, texts in vocab.items():
        for t in texts * 3:
            data.append((i, t, lang))
            i += 1
    lab = spark.createDataFrame(data, ["doc_id", "text", "lang"])
    held = spark.createDataFrame(
        [
            (100, "green red blue"),
            (101, "three one two"),
            (102, "bird dog cat"),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in nb_classifier_scores_multi(
            held, lab, label_col="lang", n_buckets=64
        ).collect()
    }
    assert {d: r.predicted for d, r in out.items()} == {
        100: "aa", 101: "bb", 102: "cc"
    }
    assert all(r.margin_micro > 0 for r in out.values())

    # two-class multi agrees with the binary argmax on separated data
    two = lab.filter(F.col("lang") != "cc")
    multi2 = {
        r.doc_id: r.predicted
        for r in nb_classifier_scores_multi(
            held.filter("doc_id < 102"), two, label_col="lang",
            n_buckets=64,
        ).collect()
    }
    binary = {
        r.doc_id: "aa" if r.predicted else "bb"
        for r in nb_classifier_scores(
            held.filter("doc_id < 102"),
            two.withColumn("label", F.col("lang") == "aa"),
            n_buckets=64,
        ).collect()
    }
    assert multi2 == binary

    with_null = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", None)],
        "doc_id long, text string, lang string",
    )
    with pytest.raises(ValueError, match="NULL"):
        nb_classifier_scores_multi(held, with_null, label_col="lang")
    one_cls = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x")], ["doc_id", "text", "lang"]
    )
    with pytest.raises(ValueError, match="2 classes"):
        nb_classifier_scores_multi(held, one_cls, label_col="lang")
    with pytest.raises(ValueError, match="max_classes"):
        nb_classifier_scores_multi(
            held, lab, label_col="lang", max_classes=2
        )
    # a class whose every doc tokenizes to nothing would silently
    # shrink the packed log-prob array and shift later classes'
    # regions — it must raise instead
    zero_feat = lab.union(
        spark.createDataFrame(
            [(900, None, "zz"), (901, None, "zz")],
            "doc_id long, text string, lang string",
        )
    )
    with pytest.raises(ValueError, match="zero feature instances"):
        nb_classifier_scores_multi(
            held, zero_feat, label_col="lang", n_buckets=64
        ).collect()


def test_nb_multi_label_fetch_is_bounded(spark):
    """A mistaken high-cardinality label_col (e.g. doc_id) must raise
    after a LIMITed distinct fetch, not pull every distinct label to
    the driver first: with 10k distinct labels and max_classes=16 the
    guard fires fast and the plan carries the limit."""
    import pytest

    from flink_etl_spark.operators.prep import nb_classifier_scores_multi

    big = spark.range(10_000).select(
        F.col("id").alias("doc_id"),
        F.lit("some text").alias("text"),
        F.col("id").cast("string").alias("lang"),
    )
    with pytest.raises(ValueError, match="max_classes"):
        nb_classifier_scores_multi(
            big.limit(5), big, label_col="lang", max_classes=16
        )


def test_staged_fit_drift_bigram_novelty_catches_order_drift(spark, tmp_path):
    """The exact-bigram novelty companion signal fires on word-ORDER
    drift the bucket TV is blind to — calibrated on a corpus with real
    order structure (each bigram occurs in ONE direction: cyclic
    w_i w_{i+1} chains): a held-out same-structure batch reads ~0
    novelty and stays healthy; a token-order-REVERSED batch flips
    every bigram identity, fires bigram drift while tv stays under its
    threshold, and recommends a re-stage. A pre-r12 fit (no bigrams
    sidecar) reports None and never fires the signal."""
    import json
    import warnings

    from flink_etl_spark.operators.prep import (
        nb_stage_fit,
        staged_fit_drift_check,
    )

    # 2000 distinct direction-unique bigrams >> 512 buckets: the
    # washout regime where the bucket histogram converges to uniform
    # and tv goes blind to feature identity (start stride 7 < run
    # length 29 covers every cycle bigram, so held-out novelty is 0)
    words = [f"w{i:04d}" for i in range(2000)]

    def doc(start: int, n: int) -> str:
        return " ".join(words[(start + k) % 2000] for k in range(n))

    rows = [(i, doc((i * 7) % 2000, 30), i % 2 == 0) for i in range(300)]
    labeled = spark.createDataFrame(rows, ["doc_id", "text", "label"])
    held = spark.createDataFrame(
        [(1000 + i, doc((i * 13) % 2000, 25)) for i in range(200)],
        ["doc_id", "text"],
    )
    fit = str(tmp_path / "fit")
    # 64 buckets: deep in the washout regime (2000 >> 64) AND a low
    # tv sampling-noise floor (~sqrt(B/N)) for the held-out batch
    nb_stage_fit(labeled, fit, n_buckets=64)

    ok = staged_fit_drift_check(held, fit)
    assert ok["bigram_novel_frac"] == 0.0 and not ok["drift_detected"]

    reversed_batch = held.withColumn(
        "text", F.expr("array_join(reverse(split(text, ' ')), ' ')")
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        bad = staged_fit_drift_check(reversed_batch, fit)
        assert any("word-order" in str(x.message) for x in w)
    # every reversed bigram is unseen; the bucket tv stays blind in
    # the washout regime (unigram mass unchanged, hashed bigrams
    # near-uniform in either direction)
    assert bad["bigram_novel_frac"] > 0.95
    assert bad["tv"] <= bad["warn_above"], bad["tv"]
    assert bad["drift_detected"] and bad["refit_recommended"]

    # a zero-bigram batch (single-token docs) is not drift
    single = spark.createDataFrame([(1, "w0000")], ["doc_id", "text"])
    assert staged_fit_drift_check(single, fit)["bigram_novel_frac"] == 0.0

    # pre-r12 fit compat: strip the bigrams flag from the sidecar
    meta_file = tmp_path / "fit" / "_NB_META.json"
    m = json.loads(meta_file.read_text())
    del m["bigrams"]
    meta_file.write_text(json.dumps(m))
    (tmp_path / "fit" / "._NB_META.json.crc").unlink(missing_ok=True)
    legacy = staged_fit_drift_check(reversed_batch, fit)
    assert legacy["bigram_novel_frac"] is None
    assert not legacy["drift_detected"]


def test_nb_classifier_scores_hand_computed(spark):
    """Independent absolute-value check of the full NB score (r13, the
    pinned-sequence rule): prior + per-instance smoothed log-odds
    computed in plain Python math over a collision-free fixture, and
    the operator's micro-floored sum must land within the flooring
    tolerance (one micro-unit per floored term) of that value. The
    planted-vocabulary test pins behavior and antisymmetry; THIS pins
    the formula's absolute output, which a shared-formula oracle
    cannot (the r12 intercept-units class)."""
    import math

    from flink_etl_spark.operators.prep import nb_classifier_scores

    B = 10_007
    pos_texts = ["apple banana", "apple cherry"]
    neg_texts = ["rock stone gravel"]
    score_text = "apple banana rock"

    def feats(t):
        toks = t.split(" ")
        return toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

    def bucket(f):  # fixture-sanity only: prove no bucket collisions
        acc = 0
        for ch in f:
            acc = (acc * 131 + ord(ch)) % 2_147_483_647
        return acc % B

    vocab = {f for t in pos_texts + neg_texts + [score_text] for f in feats(t)}
    assert len({bucket(f) for f in vocab}) == len(vocab), "collision in fixture"

    c_pos, c_neg = {}, {}
    for t in pos_texts:
        for f in feats(t):
            c_pos[f] = c_pos.get(f, 0) + 1
    for t in neg_texts:
        for f in feats(t):
            c_neg[f] = c_neg.get(f, 0) + 1
    n_pos = sum(c_pos.values())
    n_neg = sum(c_neg.values())
    expected = math.log(len(pos_texts) / len(neg_texts)) + sum(
        math.log((c_pos.get(f, 0) + 1) / (n_pos + B))
        - math.log((c_neg.get(f, 0) + 1) / (n_neg + B))
        for f in feats(score_text)
    )

    labeled = spark.createDataFrame(
        [(i, t, True) for i, t in enumerate(pos_texts)]
        + [(100 + i, t, False) for i, t in enumerate(neg_texts)],
        ["doc_id", "text", "label"],
    )
    docs = spark.createDataFrame([(0, score_text)], ["doc_id", "text"])
    r = nb_classifier_scores(
        docs, labeled, hash_terms=False, n_buckets=B
    ).collect()[0]
    n_terms = r.n_feats + 1  # each instance term + the prior is floored
    assert abs(r.logodds_micro / 1e6 - expected) <= n_terms * 1e-6, (
        r.logodds_micro / 1e6,
        expected,
    )
    assert r.predicted == (expected > 0)
