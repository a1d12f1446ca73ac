"""Unit tests for dedup / similarity / text operators on synthetic data
with planted structure (SURVEY.md §5 + FIXTURES.md §5)."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from flink_etl_spark.operators import dedup, multimodal, similarity, text
from tests.conftest import SF_ORACLE, SF_SMOKE


def _docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    far = "completely different words that share nothing with other texts here"
    return spark.createDataFrame(
        [(0, base), (1, base), (2, near), (3, far)], ["doc_id", "text"]
    )


def test_exact_dedup_keeps_min_id(spark):
    out = dedup.exact_dedup(_docs(spark), ["text"], "doc_id")
    got = {r.keep_id: r.n_copies for r in out.collect()}
    assert got == {0: 2, 2: 1, 3: 1}


def test_jaccard_pairs_finds_planted_near_dup(spark):
    pairs = dedup.jaccard_pairs(_docs(spark), threshold=0.5)
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0            # exact dup
    assert 0.5 <= got[(2, 0)] if (2, 0) in got else got[(0, 2)] < 1.0
    assert not any(3 in p for p in got)  # unrelated doc never pairs


def test_minhash_lsh_recalls_exact_dup(spark):
    out = dedup.minhash_near_dups(_docs(spark), threshold=0.5)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert (0, 1) in pairs


def test_simhash_identical_docs_same_signature(spark):
    sigs = {r.doc_id: r.simhash for r in dedup.simhash_signatures(_docs(spark)).collect()}
    assert sigs[0] == sigs[1]
    assert sigs[0] != sigs[3]


def test_cosine_topk_exact_neighbors(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = similarity.cosine_topk(embs, embs.filter(F.col("vec_id") == 0), k=3)
    ranked = [r.neighbor_id for r in out.orderBy("rnk").collect()]
    assert ranked == [1, 2, 3]
    top = out.filter(F.col("rnk") == 1).first()
    assert math.isclose(top.cos_sim, 0.9 / math.sqrt(0.82), rel_tol=1e-4)


def test_signlsh_bucket_excludes_opposite_vectors(spark):
    vecs = [(i, [1.0 + 0.01 * i, 0.5, 0.25]) for i in range(4)] + [
        (10, [1.0, 0.4, 0.3]),
        (11, [-1.0, -0.4, -0.3]),
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = similarity.signlsh_topk(embs, embs.filter(F.col("vec_id") == 10), k=5)
    neighbors = {r.neighbor_id for r in out.collect()}
    assert 11 not in neighbors  # opposite sign pattern -> different bucket
    assert neighbors  # same-direction vectors found


def test_lang_id_and_quality(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a test of the system"),
            (2, "el perro y el gato en la casa es de un amigo"),
        ],
        ["doc_id", "text"],
    ).withColumn("n_chars", F.length("text"))
    langs = {r.doc_id: r.lang_guess for r in text.lang_scores(docs).collect()}
    assert langs == {1: "en", 2: "es"}
    q = {r.doc_id: r.verdict for r in text.quality_scores(docs).collect()}
    assert set(q.values()) <= {"keep", "flag"}


def test_fingerprint_order_sensitive(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    fps = {r.doc_id: r.fingerprint for r in text.fingerprints(docs).collect()}
    assert fps[1] == fps[3] != fps[2]


@pytest.mark.slow
def test_media_decode_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello world"), (2, "")], ["doc_id", "text"])
    out = multimodal.decode_media(multimodal.make_media_table(docs), fake=True)
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].n_bytes == 11 and len(rows[1].features) == 8
    assert rows[2].features == [0.0] * 8


def test_media_sample_frames_slices(spark):
    media = spark.createDataFrame(
        [(1, b"abcdefghij"), (2, b"xy"), (3, b"")],
        "media_id long, payload binary",
    )
    out = multimodal.sample_frames(media, frame_size=4, stride=1)
    rows = {(r.media_id, r.frame_idx): r for r in out.collect()}
    # 10 bytes -> 3 frames of 4/4/2; 2 bytes -> 1 frame; empty -> 1 empty frame
    assert bytes(rows[(1, 0)].frame_bytes) == b"abcd"
    assert bytes(rows[(1, 1)].frame_bytes) == b"efgh"
    assert bytes(rows[(1, 2)].frame_bytes) == b"ij"
    assert rows[(1, 2)].n_frame_bytes == 2
    assert rows[(1, 1)].offset == 4
    assert bytes(rows[(2, 0)].frame_bytes) == b"xy"
    assert rows[(3, 0)].n_frame_bytes == 0
    # stride sampling drops odd frames
    strided = multimodal.sample_frames(media, frame_size=4, stride=2)
    got = {(r.media_id, r.frame_idx) for r in strided.collect()}
    assert got == {(1, 0), (1, 2), (2, 0), (3, 0)}


def test_media_real_codec_arm_decodes_and_resizes(spark):
    """SKIP-UNLESS-IMPORTABLE (the MySQL-dialect-test pattern): the
    fake=False arm runs real PIL decode/resize the day the environment
    grows a codec; in a codec-less container this test skips and the
    fake-arm gates are untouched."""
    import pytest

    pytest.importorskip("PIL")
    import io

    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (10, 6), (30, 60, 90)).save(buf, "PNG")
    media = spark.createDataFrame(
        [(1, bytearray(buf.getvalue()), "image/png", len(buf.getvalue()))],
        "media_id long, payload binary, mime string, n_bytes long",
    )
    dec = {r.media_id: r for r in multimodal.decode_media(media, fake=False).collect()}
    assert (dec[1].width, dec[1].height) == (10, 6)
    assert len(dec[1].features) == 8 and dec[1].features[0] == 60.0  # 10*6 px
    big = io.BytesIO()
    Image.new("RGB", (640, 480), (1, 2, 3)).save(big, "PNG")
    decoded = spark.createDataFrame(
        [(2, "image/png", 640, 480, bytearray(big.getvalue()))],
        "media_id long, mime string, width long, height long, payload binary",
    )
    out = multimodal.resize_media(decoded, max_w=224, max_h=224, fake=False).collect()
    assert (out[0].width, out[0].height) == (224, 168)
    resized = Image.open(io.BytesIO(bytes(out[0].payload)))
    assert resized.size == (224, 168)


def test_media_fake_false_without_codec_raises_not_implemented(spark):
    """In a codec-less container the fake=False arm must surface the
    honest NotImplementedError (wrapped by Spark as a Python worker
    failure), never a silent fake result."""
    import pytest

    try:
        import PIL  # noqa: F401

        pytest.skip("PIL present — the real arm is live, covered above")
    except ImportError:
        pass
    media = spark.createDataFrame(
        [(1, b"xx", "image/png", 2)],
        "media_id long, payload binary, mime string, n_bytes long",
    )
    with pytest.raises(Exception, match="NotImplementedError|image codec"):
        multimodal.decode_media(media, fake=False).collect()


def test_media_resize_geometry(spark):
    decoded = spark.createDataFrame(
        [(1, "text/plain", 640, 480, b"p1"), (2, "text/plain", 100, 200, b"p2"),
         (3, "text/plain", 50, 40, b"p3")],
        "media_id long, mime string, width long, height long, payload binary",
    )
    out = multimodal.resize_media(decoded, max_w=224, max_h=224, fake=True)
    rows = {r.media_id: r for r in out.collect()}
    # 640x480 -> scale 0.35 -> 224x168 (aspect preserved, fits box)
    assert (rows[1].width, rows[1].height) == (224, 168)
    # 100x200 -> scale 1.12 capped at... 224/200=1.12, but no upscaling
    assert (rows[2].width, rows[2].height) == (100, 200)
    # small image untouched
    assert (rows[3].width, rows[3].height) == (50, 40)
    assert bytes(rows[1].payload) == b"p1"


def test_grouped_linear_fit_degenerate_group_is_null(spark):
    from datetime import datetime

    from flink_etl_spark.operators.grouped import per_group_linear_fit

    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1), 5.0),          # single event
            (2, datetime(2024, 1, 1), 1.0),
            (2, datetime(2024, 1, 2), 3.0),          # perfect slope 2/day
        ],
        "user_id long, ts timestamp, value double",
    )
    rows = {r.user_id: r for r in per_group_linear_fit(ev).collect()}
    assert rows[1].slope is None and rows[1].intercept is None
    assert rows[1].n == 1
    assert abs(rows[2].slope - 2.0) < 1e-9


def test_approx_percentile_within_tolerance(spark):
    from flink_etl_spark.sources.tables import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    row = (
        e.agg(
            F.expr("approx_percentile(value, array(0.5, 0.9), 10000)").alias("ap"),
            F.expr("percentile(value, array(0.5, 0.9))").alias("ex"),
        ).first()
    )
    for approx, exact in zip(row.ap, row.ex):
        # accuracy parameter 10000 -> rank error <= n/10000; values are
        # densely spread so the value gap stays tiny
        assert abs(approx - exact) <= max(0.05, abs(exact) * 0.01)


def test_duplicate_clusters_label_propagation(spark):
    from flink_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4),          # chain 1-2-3-4 -> cluster 1
         (10, 11),                         # pair -> cluster 10
         (20, 21), (21, 22), (20, 22)],    # triangle -> cluster 20
        "doc_a long, doc_b long",
    )
    got = {(r.doc_id, r.cluster_id) for r in duplicate_clusters(pairs).collect()}
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_duplicate_clusters_plan_stays_constant(spark):
    """The lineage cut (localCheckpoint per round) must keep the
    iterative loop's plan size constant: a long chain forces many
    rounds, and the returned DataFrame's plan should be a leaf scan of
    checkpointed blocks, not max_iters nested joins."""
    from flink_etl_spark.operators.dedup import duplicate_clusters

    # path graph 0-1-2-...-15: min-label needs ~log-diameter rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(15)], "doc_a long, doc_b long"
    )
    out = duplicate_clusters(pairs, max_iters=20)
    got = {(r.doc_id, r.cluster_id) for r in out.collect()}
    assert got == {(i, 0) for i in range(16)}
    # plan must not contain a tower of per-iteration joins: after the
    # final checkpoint the optimized plan is a handful of nodes
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Join") <= 1, plan


@pytest.mark.slow
def test_duplicate_clusters_raises_on_nonconvergence(spark):
    """r10 verdict item 1: a chain of diameter > max_iters used to
    return non-component labels SILENTLY — the one answer-corrupting
    failure the sf0.01 gate (near-clique clusters) can never catch.
    A planted 25-link chain with the default max_iters=20 must now be
    loud: raise by default, RuntimeWarning on the opt-in warn path."""
    import warnings

    from flink_etl_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "doc_a long, doc_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        duplicate_clusters(chain).collect()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            (r.doc_id, r.cluster_id)
            for r in duplicate_clusters(
                chain, on_nonconverged="warn"
            ).collect()
        }
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "did not converge" in str(w.message)
        for w in caught
    )
    # the degraded labels are returned (one per node), just not the CC
    assert len(got) == 26
    assert got != {(i, 0) for i in range(26)}


def test_duplicate_clusters_star_converges_past_propagation_bound(spark):
    """The large-star/small-star arm (Kiveris et al. 2014) is the
    scale answer to the chain failure: O(log n) rounds regardless of
    diameter, so the same 25-link chain that exhausts propagation's
    max_iters=20 converges comfortably."""
    from flink_etl_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(25)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in duplicate_clusters(chain, algorithm="star").collect()
    }
    assert got == {(i, 0) for i in range(26)}
    # far under the propagation bound: 8 star rounds >> log2(26)
    got8 = {
        (r.doc_id, r.cluster_id)
        for r in duplicate_clusters(
            chain, algorithm="star", max_iters=8
        ).collect()
    }
    assert got8 == got


@pytest.mark.slow
def test_duplicate_clusters_star_equals_propagation_on_random_graphs(spark):
    """Equivalence of the two arms on random pair graphs: same nodes,
    same cluster assignment (both label every node with the component
    minimum). Seeded — three shapes: sparse, dense, and with self
    pairs (isolated nodes)."""
    import random

    from flink_etl_spark.operators.dedup import duplicate_clusters

    rng = random.Random(11)
    cases = []
    # sparse: 60 nodes, 40 random edges -> many small components
    cases.append([(rng.randrange(60), rng.randrange(60)) for _ in range(40)])
    # dense: 25 nodes, 80 edges -> one or two giant components
    cases.append([(rng.randrange(25), rng.randrange(25)) for _ in range(80)])
    # self pairs mixed in (isolated nodes must label themselves)
    cases.append(
        [(i, i) for i in range(100, 105)]
        + [(rng.randrange(30), rng.randrange(30)) for _ in range(20)]
    )
    for pairs_py in cases:
        pairs = spark.createDataFrame(pairs_py, "doc_a long, doc_b long")
        prop = {
            (r.doc_id, r.cluster_id)
            for r in duplicate_clusters(pairs, max_iters=50).collect()
        }
        star = {
            (r.doc_id, r.cluster_id)
            for r in duplicate_clusters(
                pairs, algorithm="star", max_iters=50
            ).collect()
        }
        assert star == prop, (sorted(star - prop), sorted(prop - star))


def test_duplicate_clusters_rejects_bad_options(spark):
    from flink_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="algorithm"):
        duplicate_clusters(pairs, algorithm="graphx")
    with pytest.raises(ValueError, match="on_nonconverged"):
        duplicate_clusters(pairs, on_nonconverged="ignore")


def test_multiprobe_lsh_recall_improves(spark):
    """n_probe=1 candidates strictly contain the n_probe=0 bucket, so
    recall vs exact kNN must be >= single-bucket recall (and the probe=0
    special case must equal plain signlsh_topk)."""
    from flink_etl_spark.operators.similarity import (
        cosine_topk,
        signlsh_topk,
        signlsh_topk_multiprobe,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = embs.filter("vec_id < 32")

    def pairs(df):
        return {(r.query_id, r.neighbor_id) for r in df.collect()}

    exact = pairs(cosine_topk(embs, queries, k=5))
    single = pairs(signlsh_topk(embs, queries, k=5, n_planes=4))
    probe0 = pairs(signlsh_topk_multiprobe(embs, queries, k=5, n_planes=4, n_probe=0))
    probe1 = pairs(signlsh_topk_multiprobe(embs, queries, k=5, n_planes=4, n_probe=1))
    assert probe0 == single
    r_single = len(single & exact) / len(exact)
    r_probe1 = len(probe1 & exact) / len(exact)
    assert r_probe1 >= r_single


def test_jaccard_max_df_caps_posting_lists(spark):
    """A stopword shingle shared by every doc must be prunable: with
    max_df set, the hot shingle disappears from the join and the pair
    count is driven by the rare shingles only."""
    from flink_etl_spark.operators.dedup import jaccard_pairs, shingle_sets

    # 6 docs all sharing one hot token-3-gram ('aa bb cc') and
    # otherwise disjoint tails -> full Jaccard is low but nonzero for
    # every pair via the hot shingle
    rows = [(i, f"aa bb cc d{i} e{i} f{i}") for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sh = shingle_sets(docs)
    hot_df = sh.groupBy("shingle").count().agg({"count": "max"}).first()[0]
    assert hot_df == 6  # the construction really is skewed

    full = jaccard_pairs(docs, threshold=0.01).count()
    pruned = jaccard_pairs(docs, threshold=0.01, max_df=3).count()
    assert full == 15        # every pair shares the hot shingle
    assert pruned == 0       # pruning removes the only shared shingle

    # pruning must NOT touch sub-threshold-df shingles: identical docs
    # still pair at jaccard 1.0
    dup = spark.createDataFrame(
        [(1, "aa bb cc dd"), (2, "aa bb cc dd"), (3, "qq rr ss tt")],
        "doc_id long, text string",
    )
    got = jaccard_pairs(dup, threshold=0.9, max_df=3).collect()
    assert [(r.doc_a, r.doc_b, r.jaccard) for r in got] == [(1, 2, 1.0)]


def test_minhash_staged_profile_single_tokenization(spark, tmp_path):
    """staged_path must (a) produce identical pairs to the in-memory
    path and (b) rewire all four consumers onto the staged parquet —
    the final plan then contains NO tokenization (split/transform over
    text), only scans of the staged profile."""
    from flink_etl_spark.operators.dedup import minhash_near_dups
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    staged = str(tmp_path / "profile")
    mem = minhash_near_dups(docs, threshold=0.8)
    stg = minhash_near_dups(docs, threshold=0.8, staged_path=staged)
    a = {(r.doc_a, r.doc_b, r.jaccard) for r in mem.collect()}
    b = {(r.doc_a, r.doc_b, r.jaccard) for r in stg.collect()}
    assert a == b and len(a) > 0
    plan = stg._jdf.queryExecution().optimizedPlan().toString()
    # every Relation in the plan is the staged profile, not `documents`
    assert "text#" not in plan, plan


def test_embedding_lsh_pairs_subset_of_exact(spark):
    """LSH near-dup pairs must be a SUBSET of the exact cross-join pairs
    (identical scores on the pairs it finds), with nonzero recall."""
    from flink_etl_spark.operators.dedup import (
        embedding_near_dups,
        embedding_near_dups_lsh,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dups(embs, threshold=0.35).collect()
    }
    lsh = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dups_lsh(embs, threshold=0.35).collect()
    }
    assert lsh <= exact
    assert len(lsh) > 0


def test_minhash_incremental_matches_full_run(spark, tmp_path):
    """Staging the corpus then deduping a new batch incrementally must
    find exactly the full-run pairs that touch the new batch — the
    corpus is never re-sketched and corpus-corpus pairs are never
    re-emitted."""
    from flink_etl_spark.operators.dedup import (
        minhash_near_dups,
        minhash_near_dups_incremental,
        minhash_stage_profile,
    )
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    corpus = docs.filter("doc_id % 5 != 0")
    batch = docs.filter("doc_id % 5 = 0")
    staged = str(tmp_path / "corpus_profile")
    minhash_stage_profile(corpus, staged, mode="overwrite")

    inc = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_near_dups_incremental(batch, staged).collect()
    }
    full = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_near_dups(docs, threshold=0.8).collect()
    }
    new_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    expected = {p for p in full if p[0] in new_ids or p[1] in new_ids}
    assert inc == expected
    assert len(inc) > 0


def test_staged_profiles_keep_empty_sets_and_one_reader_drops_them(spark, tmp_path):
    """Both staged-profile writers (`minhash_near_dups(staged_path=)`
    and `minhash_stage_profile`) store the profile rows as computed,
    empty shingle sets included; `_staged_profile`, the one reader,
    drops them, so either staged copy gives the same pairs."""
    docs = _docs(spark).unionByName(
        spark.createDataFrame([(4, ""), (5, "two words")], ["doc_id", "text"])
    )
    by_near_dups, by_stage = str(tmp_path / "a"), str(tmp_path / "b")
    staged_pairs = dedup.minhash_near_dups(docs, threshold=0.5, staged_path=by_near_dups)
    assert sorted(staged_pairs.collect()) == sorted(
        dedup.minhash_near_dups(docs, threshold=0.5).collect()
    )
    dedup.minhash_stage_profile(docs, by_stage, mode="overwrite")
    batch = spark.createDataFrame([(9, _docs(spark).first().text)], ["doc_id", "text"])
    inc = []
    for path in (by_near_dups, by_stage):
        assert spark.read.parquet(path).filter("n_sh = 0").count() == 2
        assert dedup._staged_profile(spark, path).count() == 4
        inc.append(sorted(dedup.minhash_near_dups_incremental(batch, path, threshold=0.5).collect()))
    assert inc[0] == inc[1] and inc[0]
    spark.catalog.clearCache()


def test_ivf_staged_index_partition_layout_and_equality(spark, tmp_path):
    """The staged index must lay out cell_id= partition directories
    (partition-pruned search reads probed cells only) and search
    results must equal the in-memory ivf_topk."""
    import os

    from flink_etl_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    queries = embs.filter("vec_id < 32")
    idx = str(tmp_path / "ivf")
    ivf_build_index(embs, idx, n_cells=8)
    cell_dirs = [d for d in os.listdir(f"{idx}/cells") if d.startswith("cell_id=")]
    assert len(cell_dirs) > 1

    staged = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
        for r in ivf_search_index(spark, idx, queries, k=5, nprobe=2).collect()
    }
    mem = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rnk)
        for r in ivf_topk(embs, queries, k=5, n_cells=8, nprobe=2).collect()
    }
    assert staged == mem and len(staged) > 0


@pytest.mark.slow
def test_simhash_wide_signature_separates_corpus(spark):
    """63-bit signatures must keep exact dups identical while unrelated
    docs no longer collide the way a 16-bit signature does at corpus
    scale; Hamming pairs at 48 bits on sf0.001 documents = exact-dup
    pairs only (plus genuinely-near token bags), a tiny fraction of the
    16-bit accidental-collision count."""
    from flink_etl_spark.operators.dedup import simhash_near_dups, simhash_signatures
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    sigs = {r.doc_id: r.simhash for r in simhash_signatures(docs, bits=48).collect()}
    texts = {r.doc_id: r.text for r in docs.collect()}
    # identical text -> identical signature at any width
    by_text = {}
    for d, t in texts.items():
        by_text.setdefault(t, []).append(d)
    for ids in by_text.values():
        assert len({sigs[i] for i in ids}) == 1

    n16 = simhash_near_dups(docs, max_hamming=2, bits=16).count()
    n48 = simhash_near_dups(docs, max_hamming=2, bits=48).count()
    assert n48 < n16


def test_ivf_refined_centroids_deterministic_and_valid(spark):
    """k-means refinement must stay deterministic (fixed iterations,
    rounded means) — two runs produce identical centroids and top-k —
    and refined search must still return k well-formed neighbors per
    query (a correct IVF structure, whatever the cell balance)."""
    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = embs.filter("vec_id < 8")
    a = similarity.ivf_centroids(embs, n_cells=8, refine_iters=2)
    b = similarity.ivf_centroids(embs, n_cells=8, refine_iters=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    t1 = similarity.ivf_topk(embs, queries, k=5, n_cells=8, nprobe=2,
                             refine_iters=2)
    t2 = similarity.ivf_topk(embs, queries, k=5, n_cells=8, nprobe=2,
                             refine_iters=2)
    r1 = sorted(map(tuple, t1.collect()))
    assert r1 == sorted(map(tuple, t2.collect()))
    per_q = {}
    for q, n, s, rnk in r1:
        per_q.setdefault(q, []).append(rnk)
        assert q != n
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    # refinement actually moved centroids off the seed vectors
    seed = similarity.ivf_centroids(embs, n_cells=8, refine_iters=0)
    assert sorted(map(tuple, a.collect())) != sorted(map(tuple, seed.collect()))


def test_minhash_hash_fn_choice_does_not_change_pairs(spark):
    """hash_fn steers LSH candidate generation and (in xxhash64 mode)
    the term-id representation verification intersects — short of a
    hash collision, the production xxhash64 path must emit the same
    near-dup pairs as the oracle-portable char-fold path."""
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    spark.catalog.clearCache()
    a = sorted(
        map(
            tuple,
            dedup.minhash_near_dups(
                docs, threshold=0.8, hash_fn="charfold"
            ).collect(),
        )
    )
    spark.catalog.clearCache()
    b = sorted(
        map(
            tuple,
            dedup.minhash_near_dups(
                docs, threshold=0.8, hash_fn="xxhash64"
            ).collect(),
        )
    )
    assert a == b and len(a) > 10
    # simhash: identical docs still collide under either hash; the
    # signature VALUES differ (different hash), the structure holds
    sigs = {
        r.doc_id: r.simhash
        for r in dedup.simhash_signatures(_docs(spark), hash_fn="xxhash64").collect()
    }
    assert sigs[0] == sigs[1] != sigs[3]


def test_jaccard_hash_terms_matches_string_postings(spark):
    """hash_terms=True keys the inverted-index shuffles on 64-bit
    xxhash64 longs; pairs must match the exact string postings (a
    divergence would need a 2^-64-scale collision) and the posting
    column must actually be a LONG (the shuffle-key shrink is the
    point)."""
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    a = sorted(map(tuple, dedup.jaccard_pairs(docs, threshold=0.8).collect()))
    b = sorted(
        map(
            tuple,
            dedup.jaccard_pairs(docs, threshold=0.8, hash_terms=True).collect(),
        )
    )
    assert a == b and len(a) > 10
    sh = dedup.shingle_sets(docs, hash_terms=True)
    assert dict(sh.dtypes)["shingle"] == "bigint"


def test_production_minhash_profile_has_no_shingle_strings(spark):
    """The production (xxhash64) profile must carry term-ids as longs —
    shingle strings are never built, verification intersects 8-byte
    ids, and a staged profile stores ids instead of shingle text. The
    oracle-portable charfold profile keeps the literal string set."""
    prod = dedup.minhash_profile(_docs(spark))
    assert dict(prod.dtypes)["shset"] == "array<bigint>"
    portable = dedup.minhash_profile(_docs(spark), hash_fn="charfold")
    assert dict(portable.dtypes)["shset"] == "array<string>"


def test_quadratic_baselines_guard_large_inputs(spark):
    """The O(n^2)/O(|Q|*N) exactness baselines must refuse corpora past
    their row guards (naming the bucketed scale path), run under
    force=True with a RuntimeWarning, and stay silent below the guard."""
    import warnings

    import pytest

    embs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="embedding_near_dups_lsh"):
        dedup.embedding_near_dups(embs, threshold=0.9, max_rows=5)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.embedding_near_dups(embs, threshold=0.9, max_rows=5, force=True)
        assert any(issubclass(x.category, RuntimeWarning) for x in w)
    # below the guard: no exception, no warning
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        dedup.embedding_near_dups(embs, threshold=0.9, max_rows=100)
        assert not w

    with pytest.raises(ValueError, match="ivf_topk"):
        similarity.cosine_topk(embs, embs, k=2, max_pairs=50)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        similarity.cosine_topk(embs, embs, k=2, max_pairs=50, force=True)
        assert any(issubclass(x.category, RuntimeWarning) for x in w)


def test_production_hash_default_is_xxhash64():
    """The OPERATOR default is the native one-call hash; the portable
    char-fold is opt-in for oracle parity (the catalog gates pin it).
    A regression back to a charfold default would put a per-character
    codegen loop on the hottest production path."""
    import inspect

    for fn in (
        dedup.minhash_profile,
        dedup.minhash_near_dups,
        dedup.minhash_stage_profile,
        dedup.minhash_near_dups_incremental,
        dedup.simhash_signatures,
        dedup.simhash_near_dups,
    ):
        assert (
            inspect.signature(fn).parameters["hash_fn"].default == "xxhash64"
        ), fn.__name__


def test_staged_profile_meta_enforces_consistency(spark, tmp_path):
    """The staged-profile sidecar (_PROFILE_META.json) must reject
    appends/lookups whose hash_fn / k / n_hashes differ from what the
    profile was built with — the mismatch is otherwise SILENT (same
    schema, disjoint band keys, zero old-new pairs)."""
    import pytest as _pytest

    from flink_etl_spark.staged import PROFILE_META

    staged = str(tmp_path / "prof")
    corpus = _docs(spark)
    dedup.minhash_stage_profile(corpus, staged, mode="overwrite")

    # k mismatch: identical schema, silently-wrong band keys -> raises
    with _pytest.raises(ValueError, match="k: staged=3 caller=2"):
        dedup.minhash_near_dups_incremental(corpus, staged, k=2)
    with _pytest.raises(ValueError, match="hash_fn"):
        dedup.minhash_stage_profile(corpus, staged, hash_fn="charfold")

    # matching params keep working, including through near_dups'
    # staged_path writer (which stamps the same meta)
    assert dedup.minhash_near_dups_incremental(corpus, staged).count() >= 0
    staged2 = str(tmp_path / "prof2")
    dedup.minhash_near_dups(corpus, threshold=0.5, staged_path=staged2)
    assert PROFILE_META.read(spark, staged2)["hash_fn"] == "xxhash64"

    # legacy profile without meta: accepted (schema checks still apply)
    legacy = str(tmp_path / "legacy")
    dedup.minhash_profile(corpus).filter(F.col("n_sh") > 0).write.parquet(legacy)
    assert dedup.minhash_near_dups_incremental(corpus, legacy).count() >= 0


def test_staged_profile_legacy_schema_mismatch_raises(spark, tmp_path):
    """A META-LESS profile whose shset type disagrees with the caller's
    hash_fn must raise: unionByName would silently WIDEN
    array<bigint> vs array<string> and every old-new pair would
    vanish. Overwrite-mode re-staging with new params is allowed and
    re-stamps the meta."""
    import pytest as _pytest

    from flink_etl_spark.staged import PROFILE_META

    legacy = str(tmp_path / "legacy_cf")
    corpus = _docs(spark)
    # legacy charfold profile (array<string> shset), no meta sidecar
    dedup.minhash_profile(corpus, hash_fn="charfold").filter(
        F.col("n_sh") > 0
    ).write.parquet(legacy)
    with _pytest.raises(ValueError, match="shset type"):
        dedup.minhash_near_dups_incremental(corpus, legacy)  # xxhash64 default

    # overwrite-mode restaging with different params is legitimate
    staged = str(tmp_path / "re")
    dedup.minhash_stage_profile(corpus, staged, mode="overwrite")
    dedup.minhash_stage_profile(
        corpus, staged, mode="overwrite", hash_fn="charfold"
    )
    assert PROFILE_META.read(spark, staged)["hash_fn"] == "charfold"


def test_minhash_token_combine_matches_python_reference(spark):
    """Randomized cross-check of the production profile's slice/zip_with
    shingle-id combine: for ~200 seeded random docs (unicode tokens,
    whitespace runs, lengths 0..9 tokens), the shingle-id SET and every
    minhash min must equal a pure-Python recomputation from the same
    per-token xxhash64 values (fetched once via Spark, since xxhash64
    itself is JVM-defined)."""
    import random

    from flink_etl_spark.functions.hashing import MERSENNE_P, MINHASH_COEFFS

    rng = random.Random(42)
    words = ["the", "fox", "δοκιμή", "端到端", "a" * 30, "b", "cc", "naïve"]
    docs = []
    for i in range(200):
        n = rng.randrange(0, 10)
        sep = "  " if i % 7 == 0 else " "
        docs.append((i, sep.join(rng.choice(words) for _ in range(n))))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # JVM truth for token hashes (one row per distinct token)
    toks = sorted({t for _, s in docs for t in s.split() if t})
    tok_df = spark.createDataFrame([(t,) for t in toks], ["tok"])
    th = {
        r.tok: r.h % MERSENNE_P
        for r in tok_df.selectExpr("tok", "xxhash64(tok) AS h").collect()
    }

    def ref_profile(text, k=3, n_hashes=16):
        import re

        # replicate F.split(text, ' +') exactly: empty string -> ['']
        # and leading/trailing runs produce empty-string tokens
        tokens = re.split(" +", text)
        hs = [th[t] for t in tokens]
        ids = []
        for i in range(len(tokens) - k + 1):
            acc = hs[i]
            for j in range(1, k):
                acc = (acc * 131 + hs[i + j]) % MERSENNE_P
            ids.append(acc)
        shset = list(dict.fromkeys(ids))
        mins = [
            min(((x * a + b) % MERSENNE_P for x in shset), default=None)
            for a, b in MINHASH_COEFFS[:n_hashes]
        ]
        return set(shset), mins

    # '' (empty token) appears when text is empty or has leading runs;
    # fetch its hash too
    extra = spark.createDataFrame([("",)], ["tok"]).selectExpr(
        "tok", "xxhash64(tok) AS h"
    ).collect()
    th[""] = extra[0].h % MERSENNE_P

    got = {
        r.doc_id: r for r in dedup.minhash_profile(df).collect()
    }
    for doc_id, text in docs:
        want_set, want_mins = ref_profile(text)
        r = got[doc_id]
        assert set(r.shset) == want_set, f"doc {doc_id}: shset mismatch"
        for i, wm in enumerate(want_mins):
            gm = getattr(r, f"m{i}")
            assert gm == wm, f"doc {doc_id}: m{i} {gm} != {wm}"


def test_zero_norm_vectors_never_rank_or_pair(spark):
    """Spark orders NaN above every double, so an unguarded zero-norm
    embedding would rank FIRST in every top-k and pass every
    >= threshold near-dup filter. The guard nulls the cosine instead:
    zero vectors never appear as neighbors or near-dup pairs."""
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 0.0, 0.0]),   # zero-norm
        (3, [0.95, 0.05, 0.0]),
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = similarity.cosine_topk(embs, embs.filter(F.col("vec_id") == 0), k=2)
    neighbors = [r.neighbor_id for r in out.orderBy("rnk").collect()]
    assert neighbors == [3, 1]  # zero vector displaced nothing
    # zero QUERY vector: all-null scores, never >= anything
    qout = similarity.cosine_topk(embs, embs.filter(F.col("vec_id") == 2), k=3)
    assert all(r.cos_sim is None for r in qout.collect())

    pairs = dedup.embedding_near_dups(embs, threshold=0.9)
    ids = {i for r in pairs.collect() for i in (r.id_a, r.id_b)}
    assert 2 not in ids and len(ids) > 0


def test_minhash_bands_must_divide_n_hashes(spark):
    """bands > n_hashes would make every band key the empty string (all
    docs share every bucket -> quadratic); a non-divisor silently drops
    trailing hashes. Both now raise."""
    import pytest as _pytest

    docs = _docs(spark)
    with _pytest.raises(ValueError, match="divide n_hashes"):
        dedup.minhash_near_dups(docs, threshold=0.8, bands=32)
    with _pytest.raises(ValueError, match="divide n_hashes"):
        dedup.minhash_near_dups(docs, threshold=0.8, bands=5)


def test_signlsh_rejects_aliasing_plane_counts(spark):
    import pytest as _pytest

    embs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="n_planes"):
        similarity.hyperplanes(embs, n_planes=33)


def test_stage_append_to_legacy_mismatched_profile_raises(spark, tmp_path):
    """Appending an xxhash64 profile into a META-LESS charfold directory
    must fail the schema fallback — not mix parquet schemas and stamp
    the directory v2."""
    import pytest as _pytest

    legacy = str(tmp_path / "legacy")
    corpus = _docs(spark)
    dedup.minhash_profile(corpus, hash_fn="charfold").filter(
        F.col("n_sh") > 0
    ).write.parquet(legacy)
    with _pytest.raises(ValueError, match="shset type"):
        dedup.minhash_stage_profile(corpus, legacy, mode="append")


def test_decode_media_null_payload_is_empty(spark):
    docs = spark.createDataFrame(
        [(1, "hello"), (2, None)], "doc_id long, text string"
    )
    out = multimodal.decode_media(multimodal.make_media_table(docs), fake=True)
    rows = {r.media_id: r for r in out.collect()}
    assert rows[2].n_bytes == 0 and rows[2].features == [0.0] * 8


def test_grouped_fit_respects_group_col_name_and_type(spark):
    from datetime import datetime

    from flink_etl_spark.operators.grouped import per_group_linear_fit

    ev = spark.createDataFrame(
        [("dev-a", datetime(2024, 1, 1), 1.0),
         ("dev-a", datetime(2024, 1, 2), 3.0)],
        "device_id string, ts timestamp, value double",
    )
    out = per_group_linear_fit(ev, group_col="device_id")
    assert out.columns[0] == "device_id"
    row = out.first()
    assert row.device_id == "dev-a" and abs(row.slope - 2.0) < 1e-9


def test_cogroup_asof_rejects_overlap_and_survives_null_ts(spark):
    from datetime import datetime

    import pytest as _pytest

    from flink_etl_spark.operators.grouped import cogroup_asof

    left = spark.createDataFrame(
        [(1, 7, datetime(2024, 1, 1, 12)),
         (2, 7, None)],                       # null left ts: unmatched
        "l_id long, user_id long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(10, 7, datetime(2024, 1, 1, 11), 1.0),
         (11, 7, None, 9.0)],                 # null right ts: dropped
        "r_id long, user_id long, rts timestamp, val double",
    )
    out = {r.l_id: r for r in cogroup_asof(
        left, right, on="user_id", left_ts="lts", right_ts="rts"
    ).collect()}
    assert out[1].r_id == 10 and out[1].val == 1.0
    assert out[2].r_id is None and out[2].val is None

    both_ts = left.withColumnRenamed("lts", "ts")
    r_ts = right.withColumnRenamed("rts", "ts")
    with _pytest.raises(ValueError, match="overlapping"):
        cogroup_asof(both_ts, r_ts, on="user_id", left_ts="ts", right_ts="ts")


def test_exact_decimal_guard_skipped_under_ansi_kept_otherwise(spark):
    """Under ANSI (the session default) the wrap guard's two extra
    aggregate buffers are plan-build-time skipped — sum(long) raises
    ARITHMETIC_OVERFLOW before any guard could matter; with ANSI off
    the guard aggregates come back and the overflow path yields NULL,
    never a silent wrap."""
    from flink_etl_spark.catalog import exact_decimal_sum

    df = spark.createDataFrame([(1.0,)], "v double")

    def plan_of(frame):
        return frame._jdf.queryExecution().optimizedPlan().toString()

    ansi_plan = plan_of(df.agg(exact_decimal_sum(F.col("v"), 2).alias("s")))
    assert "max(" not in ansi_plan and "count(" not in ansi_plan

    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        guarded_plan = plan_of(
            df.agg(exact_decimal_sum(F.col("v"), 2).alias("s"))
        )
        assert "max(" in guarded_plan
        big = spark.createDataFrame([(8.0e12,), (8.0e12,)], "v double")
        out = big.agg(exact_decimal_sum(F.col("v"), 6).alias("s")).first()
        assert out["s"] is None
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)


def test_exact_decimal_sum_guard_and_parity(spark):
    """catalog.exact_decimal_sum: order-independent exact totals in the
    safe range; NULL (never a silently-wrapped long) past the
    count*max|scaled| >= 2^62 bound."""
    import duckdb

    from flink_etl_spark.catalog import (
        duckdb_exact_decimal_avg,
        duckdb_exact_decimal_sum,
        exact_decimal_avg,
        exact_decimal_sum,
    )

    rows = [(1, 1.25), (1, 2.50), (1, None), (2, 0.01)]
    df = spark.createDataFrame(rows, "g int, v double")
    got = {
        r["g"]: (r["s"], r["a"])
        for r in df.groupBy("g")
        .agg(
            exact_decimal_sum(F.col("v"), 2).alias("s"),
            exact_decimal_avg(F.col("v"), 2).alias("a"),
        )
        .collect()
    }
    # NULLs are skipped by sum AND by the avg divisor (avg semantics)
    assert got[1] == (3.75, 1.875)
    assert got[2] == (0.01, 0.01)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (g INT, v DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            f"SELECT g, {duckdb_exact_decimal_sum('v', 2)},"
            f" {duckdb_exact_decimal_avg('v', 2)} FROM t GROUP BY g"
        ).fetchall()
    }
    assert got == want

    # overflow: two elements whose scaled sum exceeds a long. LOUD
    # either way — ANSI (the session default) raises from the sum
    # itself; non-ANSI sessions hit the count*max guard and yield NULL.
    # Never a silently-wrapped negative total.
    big = spark.createDataFrame([(8.0e12,), (8.0e12,)], "v double")
    try:
        out = big.agg(exact_decimal_sum(F.col("v"), 6).alias("s")).first()
        assert out["s"] is None
    except Exception as e:  # noqa: BLE001 — ANSI ArithmeticException path
        assert "ARITHMETIC_OVERFLOW" in str(e) or "Arithmetic" in str(
            type(e).__name__
        ) or "overflow" in str(e).lower()


# ---------------------------------------------------------------------------
# SemDeDup (cluster-then-dedup)
# ---------------------------------------------------------------------------


def test_semdedup_pairs_subset_of_exact_with_identical_scores(spark):
    """Within-cluster pairs must be a subset of the exact cross-join
    pairs with identical rounded scores — clustering only restricts the
    candidate space, never changes a score."""
    from flink_etl_spark.operators.dedup import embedding_near_dups, semdedup_pairs
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    exact = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in embedding_near_dups(embs, threshold=0.35).collect()
    }
    sd = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in semdedup_pairs(embs, threshold=0.35, n_cells=8).collect()
    }
    assert sd <= exact
    assert len(sd) > 0


def test_semdedup_keep_rule_and_survivor_guarantee(spark):
    """The member FARTHEST from the centroid survives a duel (SemDeDup
    keeps the less prototypical example), and every duplicate clique
    retains at least one survivor."""
    from flink_etl_spark.operators.dedup import semdedup, semdedup_pairs

    # centroid seeds are the two smallest ids: 0=[1,0,0] and 1=[0,1,0].
    # Clique {0,5,6} shares cell 0 (csims 1.0 > ~0.995 > ~0.964); vec 1
    # sits alone in cell 1.
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.0, 1.0, 0.0]),
        (5, [0.98, 0.1, 0.0]),
        (6, [0.9, 0.25, 0.0]),
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    pairs = semdedup_pairs(embs, threshold=0.9, n_cells=2).collect()
    assert len(pairs) == 3, pairs  # all three clique pairs emitted
    for r in pairs:
        # dropped member is the one CLOSER to the centroid
        kept_csim = r.csim_a if r.drop_id == r.id_b else r.csim_b
        drop_csim = r.csim_a if r.drop_id == r.id_a else r.csim_b
        assert drop_csim >= kept_csim
    kept = {r.vec_id for r in semdedup(embs, threshold=0.9, n_cells=2).collect()}
    # vec 6 is farthest from the centroid -> the clique's sole survivor;
    # vec 1 (alone in its cell) is untouched
    assert kept == {1, 6}


def test_semdedup_survives_single_cell_and_empty_pairs(spark):
    from flink_etl_spark.operators.dedup import semdedup

    # orthogonal vectors: no pairs above threshold -> everything kept
    vecs = [(i, [float(i == d) for d in range(3)]) for i in range(3)]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    assert semdedup(embs, threshold=0.5, n_cells=1).count() == 3


def test_semdedup_auto_quantizer_picks_flat_small_two_level_large(spark):
    """quantizer="auto" must equal the flat arm below the crossover
    (same keeper set) and route to two_level above it; n_vecs passes
    through so "auto" never re-counts a corpus the caller already
    sized."""
    from flink_etl_spark.operators.dedup import semdedup

    vecs = [
        (0, [1.0, 0.0]), (1, [0.999, 0.01]),  # a near-dup pair
        (2, [0.0, 1.0]), (3, [0.01, 0.999]),  # another
    ]
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    auto_small = {r.vec_id for r in
                  semdedup(embs, threshold=0.9, quantizer="auto").collect()}
    flat = {r.vec_id for r in
            semdedup(embs, threshold=0.9, quantizer="flat",
                     n_cells="auto").collect()}
    assert auto_small == flat
    # forcing a large claimed corpus routes to two_level — the keeper
    # invariant (>= 1 survivor per duplicate clique) holds either way
    auto_big = {r.vec_id for r in
                semdedup(embs, threshold=0.9, quantizer="auto",
                         n_vecs=1_000_000).collect()}
    assert auto_big & {0, 1} and auto_big & {2, 3}
    with pytest.raises(ValueError, match="quantizer"):
        semdedup(embs, quantizer="bogus")


def test_exact_dedup_carry_cols_matches_join_back(spark):
    """carry_cols must reproduce exactly the keeper row's attribute
    values (the min-id row per content group)."""
    from flink_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "x", "s1", 10), (3, "x", "s3", 30), (2, "y", "s2", 20)],
        "doc_id long, text string, source string, n long",
    )
    got = {
        r.text: (r.keep_id, r.n_copies, r.source, r.n)
        for r in exact_dedup(df, ["text"], "doc_id",
                             carry_cols=("source", "n")).collect()
    }
    assert got == {"x": (1, 2, "s1", 10), "y": (2, 1, "s2", 20)}
    # plain mode unchanged
    plain = {
        r.text: (r.keep_id, r.n_copies)
        for r in exact_dedup(df, ["text"], "doc_id").collect()
    }
    assert plain == {"x": (1, 2), "y": (2, 1)}


def test_semdedup_incremental_matches_full_and_appends(spark, tmp_path):
    """Incremental batch-vs-index dedup must find exactly the full-run
    within-cell pairs that touch the batch (same frozen centroids),
    never re-emit staged-staged pairs, and append only survivors;
    a replayed batch appends nothing."""
    from flink_etl_spark.operators.dedup import semdedup_incremental, semdedup_pairs
    from flink_etl_spark.operators.similarity import ivf_build_index
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    corpus = embs.filter("vec_id % 5 != 0")
    batch = embs.filter("vec_id % 5 = 0")
    idx = str(tmp_path / "idx")
    ivf_build_index(corpus, idx, n_cells=4)

    got = semdedup_incremental(spark, batch, idx, threshold=0.35)
    got_rows = got.collect()
    batch_ids = {r.vec_id for r in batch.collect()}
    # every pair touches the batch on id_a
    assert all(r.id_a in batch_ids for r in got_rows)
    # full-run equivalence on the SAME centroid set: semdedup_pairs
    # over corpus+batch with 4 cells seeds centroids from the 4
    # smallest ids of the union — identical to the index build only if
    # those ids are in the corpus split; vec_id % 5 != 0 keeps 1,2,3,4
    # as the smallest, while the union's smallest are 0,1,2,3 -> seed
    # sets differ, so compare against a rebuild on the union instead
    full = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.cos_sim)
        for r in semdedup_pairs(
            corpus.unionByName(batch), threshold=0.35, n_cells=4
        ).collect()
        # drop pairs whose BOTH sides are staged (settled at build)
        if r.id_a in batch_ids or r.id_b in batch_ids
    }
    inc = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b), r.cos_sim)
        for r in got_rows
    }
    # centroid SETS differ between the two runs (seed ids), so exact
    # equality is not guaranteed; require substantial overlap AND
    # score equality on the intersection keys
    inter = {p[:2] for p in inc} & {p[:2] for p in full}
    assert len(inter) > 0
    full_scores = {p[:2]: p[2] for p in full}
    for p in inc:
        if p[:2] in inter:
            assert full_scores[p[:2]] == p[2]

    # append survivors; a replay then converges (nothing appended)
    n_before = spark.read.parquet(f"{idx}/cells").count()
    pairs1 = semdedup_incremental(spark, batch, idx, threshold=0.35, append=True)
    n_drop = pairs1.select("drop_id").distinct().count()
    n_mid = spark.read.parquet(f"{idx}/cells").count()
    assert n_mid > n_before  # survivors landed
    semdedup_incremental(spark, batch, idx, threshold=0.35, append=True)
    n_after = spark.read.parquet(f"{idx}/cells").count()
    assert n_after == n_mid  # replay appended nothing
    assert n_drop >= 0


def test_exact_dedup_carry_cols_skips_null_ids(spark):
    """A NULL id must not win the keeper pick (plain min(id) skips
    NULLs; the struct form must agree) but still counts as a copy."""
    from flink_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(None, "x", "s0"), (3, "x", "s3")],
        "doc_id long, text string, source string",
    )
    got = exact_dedup(df, ["text"], "doc_id", carry_cols=("source",)).collect()
    assert len(got) == 1
    r = got[0]
    assert r.keep_id == 3 and r.source == "s3" and r.n_copies == 2


def test_exact_dedup_where_col_matches_filter_first(spark):
    """r15: folding the predicate into the aggregate (where_col) must
    be value-identical to filtering first — keeper pick, n_copies,
    carried attributes, group existence — including NULL predicate
    rows (count as false, like .filter) and NULL-id passing rows
    (count in n_copies, never win the pick)."""
    from flink_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [
            (1, "x", "s1", True), (3, "x", "s3", True),
            (2, "y", "s2", False),           # whole group filtered out
            (None, "z", "s0", True), (7, "z", "s7", True),
            (9, "w", "s9", None),            # NULL predicate == false
            (4, "y", "s4", True),            # y survives via doc 4 only
        ],
        "doc_id long, text string, source string, ok boolean",
    )

    def key(rows):
        return {r.text: (r.keep_id, r.n_copies) for r in rows}

    def key_carry(rows):
        return {
            r.text: (r.keep_id, r.n_copies, r.source) for r in rows
        }

    filtered = df.filter("ok").drop("ok")
    assert key(
        exact_dedup(df, ["text"], "doc_id", where_col="ok").collect()
    ) == key(exact_dedup(filtered, ["text"], "doc_id").collect())
    assert key_carry(
        exact_dedup(
            df, ["text"], "doc_id", carry_cols=("source",),
            where_col="ok",
        ).collect()
    ) == key_carry(
        exact_dedup(filtered, ["text"], "doc_id",
                    carry_cols=("source",)).collect()
    )
    # the expected values, spelled out
    got = key_carry(
        exact_dedup(
            df, ["text"], "doc_id", carry_cols=("source",),
            where_col="ok",
        ).collect()
    )
    assert got == {
        "x": (1, 2, "s1"),
        "z": (7, 2, "s7"),   # NULL id counted, never the keeper
        "y": (4, 1, "s4"),   # doc 2 failed the predicate
    }


def test_semdedup_incremental_dim_mismatch_raises(spark, tmp_path):
    import pytest

    from flink_etl_spark.operators.dedup import semdedup_incremental
    from flink_etl_spark.operators.similarity import ivf_build_index

    corpus = spark.createDataFrame(
        [(i, [1.0 * i, 0.5, 0.1]) for i in range(1, 6)],
        ["vec_id", "embedding"],
    )
    idx = str(tmp_path / "idx")
    ivf_build_index(corpus, idx, n_cells=2)
    bad = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0, 4.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="dimension"):
        semdedup_incremental(spark, bad, idx)
    # mixed dims PAST the first row: a first-row-sample guard would
    # pass this batch and null dot products downstream
    mixed = spark.createDataFrame(
        [(100, [1.0, 2.0, 3.0]), (101, [1.0, 2.0, 3.0, 4.0])],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="dimension"):
        semdedup_incremental(spark, mixed, idx)


def test_semdedup_incremental_empty_centroids_clear_error(spark, tmp_path):
    """An empty/never-built centroids table must raise a clear
    ValueError naming the index, not a bare TypeError from first()."""
    import pytest

    from flink_etl_spark.operators.dedup import semdedup_incremental

    idx = str(tmp_path / "idx")
    spark.createDataFrame(
        [], "cell_id int, centroid array<double>, centroid_norm double"
    ).write.parquet(f"{idx}/centroids")
    spark.createDataFrame(
        [],
        "vec_id long, embedding array<double>, vec_norm double, "
        "centroid_sim double, cell_id int",
    ).write.partitionBy("cell_id").parquet(f"{idx}/cells")
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="centroids table .* is empty"):
        semdedup_incremental(spark, batch, idx)


def test_semdedup_incremental_heals_legacy_index_schema(spark, tmp_path):
    """An index whose cells lack the stored centroid_sim (or a mixed
    tree a legacy append produced) must duel with RECOMPUTED
    similarities, not NULLs — NULL csims would send every duel into
    the tie branch and silently drop batch vectors."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.dedup import semdedup_incremental
    from flink_etl_spark.operators.similarity import ivf_build_index

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]), (3, [0.9, 0.3, 0.0])],
        ["vec_id", "embedding"],
    )
    idx = str(tmp_path / "idx")
    ivf_build_index(corpus, idx, n_cells=2)
    # strip the stored column, simulating a pre-centroid_sim build
    legacy = spark.read.parquet(f"{idx}/cells").drop("centroid_sim")
    legacy.write.mode("overwrite").partitionBy("cell_id").parquet(
        f"{idx}/cells_legacy"
    )
    import shutil

    shutil.rmtree(f"{idx}/cells")
    shutil.move(f"{idx}/cells_legacy", f"{idx}/cells")

    # batch vector FARTHER from the centroid than staged vec 3: the
    # duel must drop the STAGED side (csim comparison), which a
    # NULL-poisoned tie branch would get backwards
    batch = spark.createDataFrame([(10, [0.8, 0.6, 0.0])], ["vec_id", "embedding"])
    pairs = semdedup_incremental(spark, batch, idx, threshold=0.9).collect()
    by_b = {r.id_b: r for r in pairs}
    assert 3 in by_b
    r = by_b[3]
    assert r.csim_b is not None  # healed, not NULL
    assert r.drop_id == 3  # staged vec 3 is closer to the centroid


def test_semdedup_two_level_quantizer_refines_and_finds_dups(spark):
    """The two-level assignment must (a) give every vector exactly one
    final cell, (b) keep identical vectors in one cell (they score
    identically at both levels), and (c) find the planted duplicate
    pairs the flat quantizer finds."""
    from flink_etl_spark.operators.dedup import semdedup_pairs
    from flink_etl_spark.operators.similarity import ivf_assign_two_level
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    # plant exact duplicates with fresh ids
    import pyspark.sql.functions as F

    dups = embs.limit(5).withColumn("vec_id", F.col("vec_id") + F.lit(10_000))
    corpus = embs.unionByName(dups)
    asgn = ivf_assign_two_level(corpus, 12, keep_sim=True)
    rows = asgn.collect()
    assert len(rows) == corpus.count()          # one cell per vector
    by_id = {r.vec_id: r.cell_id for r in rows}
    for r in dups.collect():
        assert by_id[r.vec_id] == by_id[r.vec_id - 10_000]  # twins co-cell
    pairs = {
        (r.id_a, r.id_b)
        for r in semdedup_pairs(
            corpus, threshold=0.999, n_cells=12, quantizer="two_level"
        ).collect()
    }
    for r in dups.collect():
        assert (r.vec_id - 10_000, r.vec_id) in pairs


# ---------------------------------------------------------------------------
# unigram_lm_scores
# ---------------------------------------------------------------------------


def test_unigram_lm_self_fit_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the the the the")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.unigram_lm_scores(docs).collect()}
    # corpus tf: the=6, cat/sat/on/mat=1 each -> T=10, V=5
    # doc 1: sum_tf = 6+1+1+1+6+1 = 16 over 6 tokens
    assert out[1].n_tokens == 6
    assert out[1].mean_tf_micro == 2.666666
    assert out[1].rare_frac_micro == 0.666666  # 4 of 6 tokens have tf<=2
    # doc 2: every token is 'the' (tf 6) -> logp = 4*ln(7/15)
    assert out[2].mean_tf_micro == 6.0 and out[2].rare_frac_micro == 0.0
    want = math.log(7 / 15)
    assert abs(out[2].logprob_per_token - want) < 1e-12
    assert abs(out[2].ppl - math.exp(-want)) < 1e-9


def test_unigram_lm_hash_terms_matches_exact_strings(spark):
    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = {
        r.doc_id: (r.n_tokens, r.mean_tf_micro, r.rare_frac_micro)
        for r in text.unigram_lm_scores(docs, hash_terms=True).collect()
    }
    b = {
        r.doc_id: (r.n_tokens, r.mean_tf_micro, r.rare_frac_micro)
        for r in text.unigram_lm_scores(docs, hash_terms=False).collect()
    }
    assert a == b and len(a) > 0


def test_unigram_lm_external_vocab_oov(spark):
    docs = spark.createDataFrame(
        [(1, "known unknown")], "doc_id long, text string"
    )
    vocab = spark.createDataFrame([("known", 9)], "term string, tf long")
    r = text.unigram_lm_scores(docs, vocab=vocab).collect()[0]
    # T=9, V=1: known -> ln(10/10)=0, unknown (OOV) -> ln(1/10)
    assert r.mean_tf_micro == 4.5  # (9 + 0) / 2
    assert r.rare_frac_micro == 0.5  # OOV counts as rare
    assert abs(r.logprob_per_token - math.log(1 / 10) / 2) < 1e-12


def test_unigram_lm_float_scores_match_duckdb_tolerance(spark):
    import duckdb

    from flink_etl_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = {
        r.doc_id: (r.logprob_per_token, r.ppl)
        for r in text.unigram_lm_scores(docs, hash_terms=False).collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            """
            WITH toks AS (
                SELECT doc_id, tok
                FROM (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
                      FROM '/root/testdata/sf0.001/documents.parquet') d,
                     UNNEST(t) AS u(tok)
            ),
            tf AS (SELECT tok, count(*) AS tf FROM toks GROUP BY tok),
            tot AS (SELECT sum(tf) AS T, count(*) AS V FROM tf)
            SELECT doc_id,
                   sum(ln(CAST(f.tf + 1 AS DOUBLE) / (tot.T + tot.V)))
                       / count(*) AS lp
            FROM toks t JOIN tf f ON t.tok = f.tok CROSS JOIN tot
            GROUP BY doc_id
            """
        ).fetchall()
    )
    assert set(got) == set(want)
    for d, (lp, ppl) in got.items():
        assert abs(lp - want[d]) < 1e-9
        assert abs(ppl - math.exp(-lp)) < 1e-9 * max(1.0, ppl)


def test_unigram_lm_validation(spark):
    import pytest

    docs = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="rare_tf_max"):
        text.unigram_lm_scores(docs, rare_tf_max=-1)


def test_normalize_text_steps_and_toggles(spark):
    """Fixed step order (control -> accents -> lower -> whitespace),
    each step independently toggleable; DuckDB twin produces identical
    strings for the same chain."""
    import duckdb

    rows = [
        (0, "Héllo   Wörld\tFOO"),
        (1, "  CAFÉ naïve\x01x  "),
        (2, None),
        (3, "ĀĒĪŌŪ šž"),
        (4, "plain"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.norm_text
           for r in text.normalize_text(docs).collect()}
    assert got == {0: "hello world foo", 1: "cafe naive x", 2: "",
                   3: "aeiou sz", 4: "plain"}
    # twin: identical chain in DuckDB
    con = duckdb.connect()
    con.execute("create table t(doc_id bigint, s varchar)")
    for i, s in rows:
        con.execute("insert into t values (?, ?)", [i, s])
    twin = dict(con.execute(
        f"select doc_id, {text.duckdb_normalize_sql('s')} from t"
    ).fetchall())
    assert twin == got
    # toggles: accents kept, case kept, whitespace kept
    kept = {r.doc_id: r.norm_text for r in text.normalize_text(
        docs, fold_accents=False, lowercase=False, collapse_ws=False
    ).collect()}
    # only control-strip ran: the tab (a C0 char) became a space,
    # accents/case/runs untouched
    assert kept[0] == "Héllo   Wörld FOO"
    # collision guard
    import pytest

    with pytest.raises(ValueError, match="collides"):
        text.normalize_text(docs, out_col="text")


def test_rescue_scan_parallelism_gates(spark):
    """Small single-split scan -> repartitioned to defaultParallelism;
    already-wide or byte-capped inputs pass through untouched (the
    inert-at-scale guarantees)."""
    from flink_etl_spark.sources.tables import (
        load_table,
        rescue_scan_parallelism,
    )

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    assert docs.rdd.getNumPartitions() == 1  # single row group
    target = spark.sparkContext.defaultParallelism
    rescued = rescue_scan_parallelism(docs)
    assert rescued.rdd.getNumPartitions() == target
    # identical rows either way
    assert rescued.count() == docs.count()
    # byte cap: a "large" input (cap forced below the file size) is
    # never shuffled
    untouched = rescue_scan_parallelism(docs, max_bytes=1)
    assert untouched.rdd.getNumPartitions() == 1
    # already-parallel input is never re-shuffled
    wide = docs.repartition(target)
    assert rescue_scan_parallelism(wide) is wide


def test_rescue_scan_parallelism_passes_streaming_through(spark):
    """A streaming frame has no batch plan to size (PySpark raises its
    own AnalysisException there, not a py4j error): it passes through
    unchanged."""
    from flink_etl_spark.sources.tables import rescue_scan_parallelism

    path = f"{SF_ORACLE}/documents.parquet"
    stream = spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)
    assert stream.isStreaming
    assert rescue_scan_parallelism(stream) is stream


# ---------------------------------------------------------------------------
# product quantization (pq_codebooks / pq_encode / pq_topk)
# ---------------------------------------------------------------------------


def test_pq_encode_codes_and_duplicate_vectors(spark):
    """Seed vectors encode to their own code in every subspace; exact
    duplicates share identical codes; codes are one byte each."""
    import random

    rng = random.Random(7)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(12)]
    vecs.append((100, list(vecs[3][1])))  # dup of vec 3
    embs = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    cbs = similarity.pq_codebooks(embs, m=4, n_codes=4)
    codes = {
        r.vec_id: list(r.codes)
        for r in similarity.pq_encode(embs, cbs, m=4).collect()
    }
    assert len(codes[0]) == 4
    for seed_id in range(4):
        assert codes[seed_id] == [seed_id] * 4  # own codeword wins
    assert codes[100] == codes[3]  # duplicates encode identically


def test_pq_topk_deterministic_and_rerank_exact(spark):
    """Two invocations agree row-for-row; rerank returns EXACT cosine
    for its survivors and never lowers recall vs pure ADC."""
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")
    a = sorted(map(tuple, similarity.pq_topk(embs, qs, k=5, m=8, n_codes=16).collect()))
    b = sorted(map(tuple, similarity.pq_topk(embs, qs, k=5, m=8, n_codes=16).collect()))
    assert a == b

    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.cosine_topk(embs, qs, k=5).collect()
    }
    adc = {(qid, nid) for qid, nid, _, _ in a}
    rr = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.pq_topk(
            embs, qs, k=5, m=8, n_codes=16, rerank=10
        ).collect()
    }
    hit_adc = len(adc & set(exact)) / len(exact)
    hit_rr = len(set(rr) & set(exact)) / len(exact)
    assert hit_rr >= hit_adc  # exact rescore never hurts
    # reranked survivors carry EXACT cosine (they were rescored)
    for pair, sim in rr.items():
        if pair in exact:
            assert sim == exact[pair]


def test_pq_validation_and_divisibility_guard(spark):
    import pytest
    from pyspark.errors import SparkRuntimeException

    embs = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [0.5, 0.1, 0.9])], ["vec_id", "embedding"]
    )
    with pytest.raises(ValueError, match="m must"):
        similarity.pq_codebooks(embs, m=0)
    with pytest.raises(ValueError, match="n_codes"):
        similarity.pq_codebooks(embs, n_codes=200)
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_topk(embs, embs, rerank=0)
    # dim 3 not divisible by m=2: the expression-level guard raises
    # on execution, not silently truncates
    cbs = similarity.pq_codebooks(embs, m=2, n_codes=2)
    with pytest.raises(SparkRuntimeException, match="not divisible"):
        similarity.pq_encode(embs, cbs, m=2).collect()


def test_pq_staged_index_equals_inmemory_and_guards(spark, tmp_path):
    """pq_build_index/pq_search_index: the staged flat-PQ search is
    row-identical to pq_topk with in-job codebooks/codes; parameters
    derive from the _PQ_META.json sidecar; append uses the frozen
    codebooks, converges on replay, and build(A)+append(B) equals
    build(A ∪ B); meta-less dirs and wrong-dim batches raise."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")
    mem = sorted(map(tuple, similarity.pq_topk(
        embs, qs, k=5, m=8, n_codes=16
    ).collect()))

    idx = str(tmp_path / "pq")
    similarity.pq_build_index(embs, idx, m=8, n_codes=16)
    staged = sorted(map(tuple, similarity.pq_search_index(
        spark, idx, qs, k=5
    ).collect()))
    assert staged == mem

    # rerank through the staged index matches the in-memory rerank
    rr_mem = sorted(map(tuple, similarity.pq_topk(
        embs, qs, k=5, m=8, n_codes=16, rerank=4
    ).collect()))
    rr_staged = sorted(map(tuple, similarity.pq_search_index(
        spark, idx, qs, k=5, rerank=4, corpus=embs
    ).collect()))
    assert rr_staged == rr_mem

    # frozen-codebook append: build(A)+append(B) == build(A ∪ B)
    a, b = embs.filter("vec_id < 250"), embs.filter("vec_id >= 250")
    inc = str(tmp_path / "pq_inc")
    similarity.pq_build_index(a, inc, m=8, n_codes=16)
    assert similarity.pq_append_index(spark, b, inc) == b.count()
    assert similarity.pq_append_index(spark, b, inc) == 0  # replay
    read = lambda p: sorted(
        map(lambda r: (r[0], list(r[1])),
            spark.read.parquet(f"{p}/codes").collect())
    )
    assert read(inc) == read(idx)

    with pytest.raises(ValueError, match="no _PQ_META"):
        similarity.pq_search_index(spark, str(tmp_path / "nope"), qs)
    with pytest.raises(ValueError, match="rerank"):
        similarity.pq_search_index(spark, idx, qs, rerank=0)
    wrong = spark.createDataFrame([(0, [1.0] * 8)], ["vec_id", "embedding"])
    with pytest.raises(SparkRuntimeException, match="vector dimension"):
        similarity.pq_search_index(spark, idx, wrong).collect()
    with pytest.raises(SparkRuntimeException, match="vector dimension"):
        similarity.pq_append_index(spark, wrong, idx)


# ---------------------------------------------------------------------------
# IVF-PQ (ivfpq_topk / ivfpq_build_index / ivfpq_search_index)
# ---------------------------------------------------------------------------


def test_ivfpq_staged_equals_oneshot_and_sidecar(spark, tmp_path):
    """The staged index search is row-identical to the one-shot form
    (build/search round-trips through parquet + partition pruning);
    the build writes an _IVFPQ_META.json sidecar and search derives m
    from it. Two one-shot invocations agree (determinism)."""
    from flink_etl_spark.staged import IVFPQ_META
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")
    one = sorted(map(tuple, similarity.ivfpq_topk(
        embs, qs, k=5, n_cells=4, nprobe=2, m=8, n_codes=16
    ).collect()))
    again = sorted(map(tuple, similarity.ivfpq_topk(
        embs, qs, k=5, n_cells=4, nprobe=2, m=8, n_codes=16
    ).collect()))
    assert one == again

    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    meta = IVFPQ_META.read(spark, idx)
    assert 0 < meta.pop("max_cell_frac_observed") <= 1  # r9 census field
    assert -1 <= meta.pop("mean_centroid_sim") <= 1  # r9 drift baseline
    assert meta == {"version": 1, "n_cells": 4, "m": 8, "n_codes": 16,
                    "dim": 64}
    # m omitted — derived from the sidecar
    staged = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=2
    ).collect()))
    assert staged == one
    # explicit matching m still accepted
    explicit = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx, qs, k=5, nprobe=2, m=8
    ).collect()))
    assert explicit == one


@pytest.mark.slow
def test_ivfpq_rerank_exact_and_recall(spark):
    """rerank=R rescores the ADC shortlist with EXACT cosine: reranked
    survivors match brute-force cosine values, and recall vs the exact
    top-5 never drops relative to pure ADC."""
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 8")
    adc = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(
            embs, qs, k=5, n_cells=4, nprobe=2, m=8, n_codes=16
        ).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.ivfpq_topk(
            embs, qs, k=5, n_cells=4, nprobe=2, m=8, n_codes=16, rerank=8
        ).collect()
    }
    exact = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in similarity.cosine_topk(embs, qs, k=5).collect()
    }
    assert len(set(rr) & set(exact)) >= len(adc & set(exact))
    for pair, sim in rr.items():
        if pair in exact:
            assert sim == exact[pair]


def test_ivfpq_guards(spark, tmp_path):
    """Parameter and sidecar guards: mismatched m raises (the
    silent-misranking foot-gun), meta-less dirs are rejected, a
    wrong-dimension query batch raises at evaluation, rerank
    validation, rerank-without-corpus."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 4")
    idx = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    # m=4 also divides dim 16 — without the sidecar this would silently
    # mis-slice; with it, it raises
    with pytest.raises(ValueError, match="disagrees with the staged"):
        similarity.ivfpq_search_index(spark, idx, qs, m=4)
    with pytest.raises(ValueError, match="no _IVFPQ_META"):
        similarity.ivfpq_search_index(spark, str(tmp_path / "nope"), qs)
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivfpq_search_index(spark, idx, qs, rerank=0)
    with pytest.raises(ValueError, match="rerank"):
        similarity.ivfpq_topk(embs, qs, rerank=0)
    # staged rerank needs the raw corpus (the index stores codes only)
    with pytest.raises(ValueError, match="raw corpus"):
        similarity.ivfpq_search_index(spark, idx, qs, rerank=2).collect()
    # wrong-dim queries: zip_with would null-pad — the guard raises
    wrong = spark.createDataFrame(
        [(0, [float(i) for i in range(8)])], ["vec_id", "embedding"]
    )
    with pytest.raises(SparkRuntimeException, match="query vector dimension"):
        similarity.ivfpq_search_index(spark, idx, wrong).collect()


def test_build_corpus_dim_guard_raises_on_mixed_dims(spark, tmp_path):
    """r8 advisory fix: the BUILD pass guards the corpus dimension too.
    A mixed-dimension corpus whose stray rows still divide by m used to
    encode garbage codes silently (zip_with null-pads); both builders
    now raise at evaluation."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    rows = [(i, [float(i + j) for j in range(16)]) for i in range(40)]
    rows.append((99, [1.0] * 8))  # stray dim-8 row; 8 also divides by m
    mixed = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(SparkRuntimeException, match="corpus vector dimension"):
        similarity.ivfpq_build_index(
            mixed, str(tmp_path / "i1"), n_cells=2, m=4, n_codes=8
        )
    with pytest.raises(SparkRuntimeException, match="corpus vector dimension"):
        similarity.pq_build_index(mixed, str(tmp_path / "i2"), m=4, n_codes=8)


@pytest.mark.slow
def test_ivfpq_auto_cells_knob(spark, tmp_path):
    """n_cells="auto" resolves through knobs.ivf_auto_cells at build
    time: the one-shot result equals the explicit-integer run and the
    sidecar records the RESOLVED count (searches stay knob-free)."""
    from flink_etl_spark.operators.knobs import ivf_auto_cells
    from flink_etl_spark.staged import IVFPQ_META
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 4")
    expect = ivf_auto_cells(embs.count())
    auto = sorted(map(tuple, similarity.ivfpq_topk(
        embs, qs, k=5, n_cells="auto", m=8, n_codes=16
    ).collect()))
    explicit = sorted(map(tuple, similarity.ivfpq_topk(
        embs, qs, k=5, n_cells=expect, m=8, n_codes=16
    ).collect()))
    assert auto == explicit
    idx = str(tmp_path / "auto_idx")
    similarity.ivfpq_build_index(embs, idx, n_cells="auto", m=8, n_codes=16)
    assert IVFPQ_META.read(spark, idx)["n_cells"] == expect


def test_ivfpq_append_index_equivalence_and_replay(spark, tmp_path):
    """Frozen-quantizer append: build(A) + append(B) yields a
    searchable index row-identical to build(A ∪ B) when A holds the
    seed vectors (smallest ids); a replayed append adds nothing; a
    wrong-dimension batch and a meta-less dir raise."""
    import pytest
    from pyspark.errors import SparkRuntimeException

    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    a, b = embs.filter("vec_id < 250"), embs.filter("vec_id >= 250")
    qs = embs.filter("vec_id < 8")

    full_idx = str(tmp_path / "full")
    similarity.ivfpq_build_index(embs, full_idx, n_cells=4, m=8, n_codes=16)
    inc_idx = str(tmp_path / "inc")
    similarity.ivfpq_build_index(a, inc_idx, n_cells=4, m=8, n_codes=16)
    appended = similarity.ivfpq_append_index(spark, b, inc_idx)
    assert appended == b.count()

    # identical staged cell contents and identical search results
    read = lambda p: sorted(
        map(tuple, spark.read.parquet(f"{p}/cells").collect())
    )
    assert read(inc_idx) == read(full_idx)
    search = lambda p: sorted(map(tuple, similarity.ivfpq_search_index(
        spark, p, qs, k=5, nprobe=2
    ).collect()))
    assert search(inc_idx) == search(full_idx)

    # replayed batch converges: nothing appended twice
    assert similarity.ivfpq_append_index(spark, b, inc_idx) == 0
    assert read(inc_idx) == read(full_idx)

    with pytest.raises(ValueError, match="no _IVFPQ_META"):
        similarity.ivfpq_append_index(spark, b, str(tmp_path / "nope"))
    wrong = spark.createDataFrame(
        [(999, [1.0] * 8)], ["vec_id", "embedding"]
    )
    with pytest.raises(SparkRuntimeException, match="batch vector dimension"):
        similarity.ivfpq_append_index(spark, wrong, inc_idx)


def test_pq_refinement_preserves_determinism(spark):
    """Lloyd passes stay deterministic (fixed iteration count, rounded
    means) and keep the codebook shape."""
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings").filter(
        "vec_id < 200"
    )
    a = sorted(
        map(tuple, similarity.pq_codebooks(embs, m=4, n_codes=8, refine_iters=2).collect())
    )
    b = sorted(
        map(tuple, similarity.pq_codebooks(embs, m=4, n_codes=8, refine_iters=2).collect())
    )
    assert a == b
    assert len(a) == 4 * 8


# ---------------------------------------------------------------------------
# edit-distance verification (dedup.edit_distance_pairs)
# ---------------------------------------------------------------------------


def test_edit_distance_pairs_verdicts_and_bounds(spark):
    """Exact distances on known pairs; candidate bounding (a pair the
    candidate generator misses is never scored); explicit-candidates
    override; threshold and guard behavior."""
    base = " ".join(f"w{i}" for i in range(30))
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.replace("w7", "w7x")),          # 1 insert
            (3, "zz " + base),                       # 3 edits (prefix)
            (4, " ".join(f"q{i}" for i in range(30))),  # unrelated
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in dedup.edit_distance_pairs(
            docs, max_dist=8, min_tokens=10, winnow=2
        ).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 3
    assert got[(2, 3)] == 4
    assert not any(4 in pair for pair in got)  # unrelated never paired

    # max_dist excludes: with max_dist=2 the distance-3/4 pairs vanish
    tight = {
        (r.doc_a, r.doc_b)
        for r in dedup.edit_distance_pairs(
            docs, max_dist=2, min_tokens=10, winnow=2
        ).collect()
    }
    assert tight == {(1, 2)}

    # explicit candidates: only the supplied pair is scored
    cand = spark.createDataFrame([(1, 3)], "doc_a long, doc_b long")
    only = dedup.edit_distance_pairs(docs, max_dist=8, candidates=cand).collect()
    assert [(r.doc_a, r.doc_b, r.edit_dist) for r in only] == [(1, 3, 3)]

    with pytest.raises(ValueError, match="max_dist"):
        dedup.edit_distance_pairs(docs, max_dist=-1)


@pytest.mark.slow
def test_staged_search_allowed_filter(spark, tmp_path):
    """`allowed=` on the staged searches is filter-THEN-rank: results
    contain only allow-listed neighbors, ranks are contiguous, and the
    top-k equals re-ranking the unfiltered candidate list restricted
    to the allow-list (scores unchanged by filtering)."""
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    qs = embs.filter("vec_id < 4")
    allowed = embs.filter("vec_id % 2 = 0").select("vec_id")

    def reference(all_rows, k=5):
        by_q = {}
        for r in sorted(
            all_rows, key=lambda r: (r.query_id, -r.cos_sim, r.neighbor_id)
        ):
            if r.neighbor_id % 2 == 0:
                lst = by_q.setdefault(r.query_id, [])
                if len(lst) < k:
                    lst.append((r.query_id, r.neighbor_id, r.cos_sim,
                                len(lst) + 1))
        return sorted(x for lst in by_q.values() for x in lst)

    idx = str(tmp_path / "ivf")
    similarity.ivf_build_index(embs, idx, n_cells=4)
    got = sorted(map(tuple, similarity.ivf_search_index(
        spark, idx, qs, k=5, nprobe=2, allowed=allowed
    ).collect()))
    big = similarity.ivf_search_index(
        spark, idx, qs, k=10**6, nprobe=2
    ).collect()
    assert got == reference(big)

    idx2 = str(tmp_path / "ivfpq")
    similarity.ivfpq_build_index(embs, idx2, n_cells=4, m=8, n_codes=16)
    got2 = sorted(map(tuple, similarity.ivfpq_search_index(
        spark, idx2, qs, k=5, nprobe=2, allowed=allowed
    ).collect()))
    big2 = similarity.ivfpq_search_index(
        spark, idx2, qs, k=10**6, nprobe=2
    ).collect()
    assert got2 == reference(big2)

    idx3 = str(tmp_path / "pq")
    similarity.pq_build_index(embs, idx3, m=8, n_codes=16)
    got3 = sorted(map(tuple, similarity.pq_search_index(
        spark, idx3, qs, k=5, allowed=allowed
    ).collect()))
    big3 = similarity.pq_search_index(spark, idx3, qs, k=10**6).collect()
    assert got3 == reference(big3)


def test_bm25_topk_matches_reference_formula(spark):
    """Scores equal an independent Python evaluation of Okapi BM25
    with the same micro-floor contract; ranking is score-desc with
    doc-id tie-break; query terms are distinct (qtf=1)."""
    import math

    corpus = {
        1: "apple banana apple",
        2: "apple cherry",
        3: "banana banana banana durian",
    }
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    queries = spark.createDataFrame(
        [(100, "apple banana apple")], "query_id long, query_text string"
    )
    got = {
        (r.query_id, r.doc_id): (r.score, r.rnk)
        for r in text.bm25_topk(docs, queries, k=10).collect()
    }

    tok = {d: t.split() for d, t in corpus.items()}
    n, avgdl = len(tok), sum(map(len, tok.values())) / len(tok)
    df = {}
    for ts in tok.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    k1, b = 1.2, 0.75

    def score(doc, qterms):
        micro = 0
        for t in set(qterms):
            tf = tok[doc].count(t)
            if not tf:
                continue
            idf = math.log(((n - df[t] + 0.5) / (df[t] + 0.5)) + 1.0)
            w = idf * ((tf * (k1 + 1.0))
                       / (tf + k1 * ((1.0 - b) + (b * (len(tok[doc]) / avgdl)))))
            micro += math.floor(w * 1_000_000.0)
        return micro / 1_000_000.0

    expect = {d: score(d, ["apple", "banana"]) for d in corpus}
    for (qid, d), (s, _) in got.items():
        assert qid == 100
        assert s == expect[d], (d, s, expect[d])
    ranked = sorted(got.items(), key=lambda kv: kv[1][1])
    assert [d for (_, d), _ in ranked] == sorted(
        corpus, key=lambda d: (-expect[d], d)
    )
    with pytest.raises(ValueError, match="k1"):
        text.bm25_topk(docs, queries, b=2.0)


def test_gapfill_time_buckets_fills(spark):
    """All three fill strategies on a hand-built gappy hourly series:
    spine spans each group's observed range only, gap rows carry
    n_events=0, locf carries the last value, linear interpolates on
    the bucket axis, leading gaps stay NULL under linear."""
    from datetime import datetime

    from flink_etl_spark.operators.temporal import gapfill_time_buckets

    rows = [
        (datetime(2024, 1, 1, 0, 10), "a", 1.0),
        (datetime(2024, 1, 1, 3, 5), "a", 4.0),
        (datetime(2024, 1, 1, 2, 0), "b", 7.0),
    ]
    events = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double"
    )

    def run(fill):
        return {
            (r.event_type, r.window_start.hour): (r.n_events, r.sum_value)
            for r in gapfill_time_buckets(events, fill=fill).collect()
        }

    null = run("null")
    assert null[("a", 0)] == (1, 1.0)
    assert null[("a", 1)] == (0, None)
    assert null[("a", 2)] == (0, None)
    assert null[("a", 3)] == (1, 4.0)
    assert null[("b", 2)] == (1, 7.0)
    assert len(null) == 5  # b's spine is its single bucket

    locf = run("locf")
    assert locf[("a", 1)] == (0, 1.0)
    assert locf[("a", 2)] == (0, 1.0)

    lin = run("linear")
    assert lin[("a", 1)] == (0, 2.0)
    assert lin[("a", 2)] == (0, 3.0)
    assert lin[("a", 0)] == (1, 1.0)  # observed rows untouched

    import pytest

    with pytest.raises(ValueError, match="fill must"):
        gapfill_time_buckets(events, fill="spline")
    with pytest.raises(ValueError, match="group_cols"):
        gapfill_time_buckets(events, group_cols=())


def test_weighted_sample_n_deterministic_and_weighted(spark):
    """Priorities equal an independent Python evaluation of the A-ES
    key; the draw is a pure function of salt (same salt = same set,
    different salt = eventually different set); non-positive weights
    are excluded; across many salts heavier rows are drawn more often."""
    import math

    from flink_etl_spark.functions.hashing import MERSENNE_P, MINHASH_COEFFS
    from flink_etl_spark.operators.prep import weighted_sample_n

    rows = [(i, float(w)) for i, w in enumerate([1, 1, 1, 1, 50, 50, 0, -3])]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    def expect(salt, n=3):
        a, b = MINHASH_COEFFS[salt % len(MINHASH_COEFFS)]
        pri = {}
        for i, w in rows:
            if w <= 0:
                continue
            h = (a * ((i + salt) % MERSENNE_P) + b) % MERSENNE_P
            # ln(u) rounded BEFORE the exact division (the large-weight
            # fix: rounding the quotient collapses big weights onto the
            # 6dp grid)
            pri[i] = round(math.log((h + 1) / float(MERSENNE_P + 1)), 6) / w
        return sorted(sorted(pri, key=lambda i: (-pri[i], i))[:n])

    got0 = sorted(
        r.doc_id for r in weighted_sample_n(df, 3, "w", salt=0).collect()
    )
    assert got0 == expect(0)
    assert got0 == sorted(
        r.doc_id for r in weighted_sample_n(df, 3, "w", salt=0).collect()
    )
    assert not {6, 7} & set(got0)  # non-positive weights never drawn

    counts = {i: 0 for i, _ in rows}
    for salt in range(40):
        for i in expect(salt):
            counts[i] += 1
        assert sorted(
            r.doc_id
            for r in weighted_sample_n(df, 3, "w", salt=salt).collect()
        ) == expect(salt)
    # the two weight-50 rows dominate the four weight-1 rows
    heavy = counts[4] + counts[5]
    light = counts[0] + counts[1] + counts[2] + counts[3]
    assert heavy > light, counts

    import pytest

    with pytest.raises(ValueError, match="n must"):
        weighted_sample_n(df, 0, "w")


def test_weighted_sample_n_large_weights_stay_distinct(spark):
    """Regression (r8 advisory): with quotient-side rounding, weights
    >= ~2.2e7 collapsed every priority to the same 6dp value and the
    draw degenerated to a smallest-id tie-break. With ln(u) rounded
    before the division, realistic large weights (token counts of long
    documents, 1e6..1e9) keep distinct, weight-ordered priorities and
    the heavy row still dominates the draw across salts."""
    from flink_etl_spark.operators.prep import weighted_sample_n

    rows = [(i, 1.0e8 if i == 9 else 2.5e7) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, w double")

    pri = {
        r.doc_id: r.priority
        for r in weighted_sample_n(df, 10, "w", salt=0).collect()
    }
    assert len(set(pri.values())) == len(pri), (
        f"priorities collapsed onto the rounding grid: {pri}"
    )

    # the 4x-heavier row must be drawn into a top-3 more often than any
    # single light row across salts (weight-proportional inclusion)
    heavy_hits = light_hits = 0
    for salt in range(30):
        top = {
            r.doc_id
            for r in weighted_sample_n(df, 3, "w", salt=salt).collect()
        }
        heavy_hits += 9 in top
        light_hits += 0 in top
    assert heavy_hits > light_hits, (heavy_hits, light_hits)


def test_bigram_lm_scores_hand_computed(spark):
    """Add-one-smoothed conditional bigram log-probs match hand
    arithmetic (micro-floored per bigram, exact mean); novel bigrams
    are counted; word order moves the score (the signal unigram LM
    lacks); hashed and string term keys agree absent collisions."""
    import math

    fit = spark.createDataFrame(
        [(0, "a b c a b")], "doc_id long, text string"
    )
    docs = spark.createDataFrame(
        [(1, "a b x"), (3, "b a c")], "doc_id long, text string"
    )
    got = {
        r.doc_id: r
        for r in text.bigram_lm_scores(
            docs, fit_docs=fit, hash_terms=False
        ).collect()
    }
    # fit: C2 = {ab:2, bc:1, ca:1}; C1 prefix = {a:2, b:1, c:1}; V=3
    lp_ab = math.floor(math.log((2 + 1.0) / (2 + 3)) * 1e6)
    lp_bx = math.floor(math.log((0 + 1.0) / (1 + 3)) * 1e6)
    r1 = got[1]
    assert (r1.n_tokens, r1.n_bigrams) == (3, 2)
    assert r1.mean_logp_micro == (lp_ab + lp_bx) / 2
    assert r1.novel_bigram_frac == 0.5
    # "b a c": bigrams ba (novel), ac (novel) -> both smoothed floors
    lp_ba = math.floor(math.log(1.0 / (1 + 3)) * 1e6)
    lp_ac = math.floor(math.log(1.0 / (2 + 3)) * 1e6)
    r3 = got[3]
    assert r3.mean_logp_micro == (lp_ba + lp_ac) / 2
    assert r3.novel_bigram_frac == 1.0
    # word order is the signal: the in-order doc outscores the shuffle
    assert r1.mean_logp_micro > r3.mean_logp_micro
    # hashed keys agree (no collisions at this scale)
    hashed = {
        r.doc_id: (r.mean_logp_micro, r.novel_bigram_frac)
        for r in text.bigram_lm_scores(docs, fit_docs=fit).collect()
    }
    assert hashed == {
        d: (r.mean_logp_micro, r.novel_bigram_frac) for d, r in got.items()
    }

@pytest.mark.slow
def test_ivfpq_cell_skew_census_warning_and_split(spark, tmp_path):
    """Cell-skew handling (r8 verdict item): a half-in-one-cluster
    corpus concentrates in one cell — the build censuses the written
    layout, records max_cell_frac_observed in the sidecar, and warns;
    max_cell_frac= splits the hot cell into deterministic sub-seeds,
    bringing the observed fraction down, with appends and staged
    search transparent to the split and the build fully
    deterministic."""
    import math
    import warnings

    import pytest

    from flink_etl_spark.staged import IVFPQ_META

    dim = 16
    rows = []
    # 100 spread vectors (ids 0..99, one-hot-ish — the seed picks)
    for i in range(100):
        v = [0.0] * dim
        v[i % dim] = 1.0
        v[(i * 7 + 3) % dim] = 0.5
        rows.append((i, v))
    # 300 clustered vectors: tight disc around a base direction, angle
    # scrambled so smallest-id members span the disc (ids 100..399)
    for i in range(100, 400):
        theta = (i * 137) % 360 / 180 * math.pi
        v = [0.0] * dim
        v[0] = 10.0
        v[1] = 1.5 * math.cos(theta)
        v[2] = 1.5 * math.sin(theta)
        rows.append((i, [round(x, 4) for x in v]))
    embs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    idx = str(tmp_path / "skewed")
    with pytest.warns(UserWarning, match="one cell holds"):
        similarity.ivfpq_build_index(embs, idx, n_cells=4, m=8, n_codes=16)
    meta = IVFPQ_META.read(spark, idx)
    assert meta["max_cell_frac_observed"] > 0.5
    assert meta["n_cells"] == 4

    idx2 = str(tmp_path / "split")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # a residual-skew warning fails
        similarity.ivfpq_build_index(
            embs, idx2, n_cells=4, m=8, n_codes=16,
            max_cell_frac=0.25, warn_cell_frac=0.4,
        )
    meta2 = IVFPQ_META.read(spark, idx2)
    assert meta2["max_cell_frac_observed"] <= 0.4
    assert meta2["max_cell_frac_observed"] < meta["max_cell_frac_observed"]
    assert meta2["n_cells"] > 4  # sidecar records the RESOLVED count
    assert meta2["n_cells"] == spark.read.parquet(
        f"{idx2}/centroids"
    ).count()

    # search over the split index: k rows per query, valid neighbors
    qs = embs.filter("vec_id IN (0, 150, 301)")
    res = similarity.ivfpq_search_index(spark, idx2, qs, k=5, nprobe=2)
    got = res.groupBy("query_id").count().collect()
    assert sorted((r[0], r[1]) for r in got) == [(0, 5), (150, 5), (301, 5)]

    # frozen-quantizer appends are transparent to the split layout
    extra = spark.createDataFrame(
        [(500 + i, rows[100 + i][1]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    assert similarity.ivfpq_append_index(spark, extra, idx2) == 20
    assert similarity.ivfpq_append_index(spark, extra, idx2) == 0  # replay

    # determinism: an identical split build produces identical cells
    idx3 = str(tmp_path / "split2")
    similarity.ivfpq_build_index(
        embs, idx3, n_cells=4, m=8, n_codes=16,
        max_cell_frac=0.25, warn_cell_frac=0.4,
    )
    read = lambda p: sorted(
        (r[0], bytes(r[1]), r[2])
        for r in spark.read.parquet(f"{p}/cells").collect()
    )
    base2 = [r for r in read(idx2) if r[0] < 500]
    assert base2 == read(idx3)

    from flink_etl_spark.operators.similarity import split_hot_cells

    with pytest.raises(ValueError, match="max_cell_frac"):
        split_hot_cells(embs, spark.read.parquet(f"{idx}/centroids"), 0.0)

    # r10 sampled census: a hash-sampled census-driven split still
    # lands under the cap (the sample sees the same hot cells — a
    # >25% cell holds ~that fraction of any hash slice), the build is
    # deterministic for a fixed (corpus, sample), and bad fractions
    # raise. 0.5 sample on 400 rows keeps >= ~100 members of the hot
    # cell in the census.
    idx4 = str(tmp_path / "split_sampled")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        similarity.ivfpq_build_index(
            embs, idx4, n_cells=4, m=8, n_codes=16,
            max_cell_frac=0.25, warn_cell_frac=0.4, census_sample=0.5,
        )
    meta4 = IVFPQ_META.read(spark, idx4)
    assert meta4["max_cell_frac_observed"] <= 0.4
    idx5 = str(tmp_path / "split_sampled2")
    similarity.ivfpq_build_index(
        embs, idx5, n_cells=4, m=8, n_codes=16,
        max_cell_frac=0.25, warn_cell_frac=0.4, census_sample=0.5,
    )
    assert read(idx4) == read(idx5)
    with pytest.raises(ValueError, match="census_sample"):
        split_hot_cells(
            embs, spark.read.parquet(f"{idx}/centroids"), 0.25,
            census_sample=0.0,
        )
    with pytest.raises(ValueError, match="census_sample"):
        split_hot_cells(
            embs, spark.read.parquet(f"{idx}/centroids"), 0.25,
            census_sample=1.5,
        )

@pytest.mark.slow
def test_ivfpq_rebuild_index_equals_fresh_build(spark, tmp_path):
    """ivfpq_rebuild_index: parameters default from the OLD sidecar
    (resolved n_cells, m, n_codes), the result is byte-identical to a
    fresh build with the same params on the same corpus, and in-place
    / sidecar-less rebuilds raise."""
    import pytest

    from flink_etl_spark.staged import IVFPQ_META
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    old = str(tmp_path / "old")
    similarity.ivfpq_build_index(
        embs.filter("vec_id < 300"), old, n_cells=4, m=8, n_codes=16
    )
    similarity.ivfpq_append_index(spark, embs.filter("vec_id >= 300"), old)

    new = str(tmp_path / "new")
    similarity.ivfpq_rebuild_index(spark, old, new, embs)
    fresh = str(tmp_path / "fresh")
    # the rebuild's default is cell_refine_iters=2 (the drift probe
    # proved refine=0 recovers nothing) — the fresh-build twin must
    # pass the same value to stay byte-identical
    similarity.ivfpq_build_index(
        embs, fresh, n_cells=4, m=8, n_codes=16, cell_refine_iters=2
    )
    read = lambda p: sorted(
        (r[0], bytes(r[1]), r[2])
        for r in spark.read.parquet(f"{p}/cells").collect()
    )
    assert read(new) == read(fresh)
    assert IVFPQ_META.read(spark, new) == IVFPQ_META.read(spark, fresh)

    qs = embs.filter("vec_id < 4")
    assert sorted(map(tuple, similarity.ivfpq_search_index(
        spark, new, qs, k=5).collect())) == sorted(map(
        tuple, similarity.ivfpq_search_index(spark, fresh, qs, k=5).collect()
    ))

    # refine=0 is the measured no-op arm against drift: allowed
    # (layout-only rebuilds) but must WARN so a drift-alert response
    # can't silently run it
    with pytest.warns(UserWarning, match="without Lloyd refinement"):
        similarity.ivfpq_rebuild_index(
            spark, old, str(tmp_path / "norefine"), embs,
            cell_refine_iters=0,
        )

    with pytest.raises(ValueError, match="NEW path"):
        similarity.ivfpq_rebuild_index(spark, old, old + "/", embs)
    with pytest.raises(ValueError, match="no _IVFPQ_META"):
        similarity.ivfpq_rebuild_index(
            spark, str(tmp_path / "nope"), str(tmp_path / "x"), embs
        )

def test_ann_drift_check_flags_drifted_batches(spark, tmp_path):
    """ann_drift_check: a same-distribution batch scores ~the sidecar
    baseline (no rebuild flag); a drifted batch scores measurably
    lower and warns with rebuild_recommended=True; missing index
    raises."""
    import random

    import pytest

    from flink_etl_spark.operators.similarity import ann_drift_check

    rng = random.Random(5)
    dim = 16

    def cluster_row(i, shift=0.0):
        v = [round(0.5 + shift + rng.gauss(0, 0.2), 4)] + [
            round(rng.gauss(0, 0.2), 4) for _ in range(dim - 1)
        ]
        return (i, v)

    schema = "vec_id long, embedding array<float>"
    base = spark.createDataFrame(
        [cluster_row(i) for i in range(500)], schema
    )
    idx = str(tmp_path / "idx")
    similarity.ivfpq_build_index(base, idx, n_cells=8, m=8, n_codes=16)

    same = spark.createDataFrame(
        [cluster_row(1000 + i) for i in range(100)], schema
    )
    ok = ann_drift_check(spark, idx, same)
    assert ok["baseline_sim"] is not None
    assert ok["checkable"]  # r11: healthy is distinguishable from OFF
    assert not ok["rebuild_recommended"]
    assert ok["ratio"] > 0.95

    # drifted: the dominant direction flips sign — far from every
    # build-time centroid
    drifted = spark.createDataFrame(
        [cluster_row(2000 + i, shift=-3.0) for i in range(100)], schema
    )
    with pytest.warns(UserWarning, match="drifted"):
        bad = ann_drift_check(spark, idx, drifted)
    assert bad["rebuild_recommended"]
    assert bad["ratio"] < ok["ratio"]

    with pytest.raises(ValueError, match="no _IVFPQ_META"):
        ann_drift_check(spark, str(tmp_path / "nope"), same)

    # baseline <= 0 is un-checkable, not missing: 0.0 used to be
    # truthiness-swallowed (never warns) and a NEGATIVE baseline
    # INVERTS the ratio so worse batches read as better — both must
    # warn monitor-off and never recommend a rebuild off bad math
    from flink_etl_spark.staged import IVFPQ_META, _write_json_sidecar

    meta = IVFPQ_META.read(spark, idx)
    for bad_baseline in (0.0, -0.4):
        _write_json_sidecar(
            spark, f"{idx}/_IVFPQ_META.json",
            {**meta, "mean_centroid_sim": bad_baseline},
        )
        with pytest.warns(UserWarning, match="monitor OFF"):
            res = ann_drift_check(spark, idx, drifted)
        assert res["ratio"] == 1.0
        assert not res["checkable"]  # monitor OFF, visibly
        assert not res["rebuild_recommended"]
    _write_json_sidecar(spark, f"{idx}/_IVFPQ_META.json", meta)

def test_pq_drift_check_reconstruction_error_signal(spark, tmp_path):
    """Flat-PQ drift monitor (r10): pq_build_index records the build
    corpus's mean ADC reconstruction error in the sidecar; a
    same-distribution batch checks in near ratio 1, a drifted batch's
    error rises past the threshold and warns; baseline <= 0 and
    legacy (absent) baselines are monitor-off, never a flag off bad
    math."""
    import random

    import pytest

    from flink_etl_spark.operators.similarity import (
        pq_drift_check,
        pq_recon_error,
    )
    from flink_etl_spark.staged import PQ_META, _write_json_sidecar

    rng = random.Random(11)
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
    idx = str(tmp_path / "pq")
    similarity.pq_build_index(base, idx, m=8, n_codes=16)
    meta = PQ_META.require(spark, idx)
    assert meta["mean_recon_err"] > 0

    same = spark.createDataFrame(
        [cluster_row(1000 + i) for i in range(100)], schema
    )
    ok = pq_drift_check(spark, idx, same)
    assert ok["checkable"]
    assert not ok["rebuild_recommended"]
    assert 0.5 < ok["ratio"] < 2.0

    drifted = spark.createDataFrame(
        [cluster_row(2000 + i, shift=-3.0) for i in range(100)], schema
    )
    with pytest.warns(UserWarning, match="codebooks have drifted"):
        bad = pq_drift_check(spark, idx, drifted)
    assert bad["rebuild_recommended"]
    assert bad["ratio"] > ok["ratio"]

    # the raw signal is monotone in the drift magnitude
    cbs = spark.read.parquet(f"{idx}/codebooks")
    errs = [
        pq_recon_error(
            spark.createDataFrame(
                [cluster_row(9000 + i, shift=-s) for i in range(100)],
                schema,
            ),
            cbs, 8,
        )
        for s in (0.0, 1.0, 3.0)
    ]
    assert errs[0] < errs[1] < errs[2]

    # un-checkable baselines: zero/negative warn monitor-off; a legacy
    # sidecar without the field is silent ratio 1.0
    for bad_baseline in (0.0, -1.0):
        _write_json_sidecar(
            spark, f"{idx}/_PQ_META.json",
            {**meta, "mean_recon_err": bad_baseline},
        )
        with pytest.warns(UserWarning, match="monitor OFF"):
            res = pq_drift_check(spark, idx, drifted)
        assert res["ratio"] == 1.0 and not res["rebuild_recommended"]
        assert not res["checkable"]
    legacy = {k: v for k, v in meta.items() if k != "mean_recon_err"}
    _write_json_sidecar(spark, f"{idx}/_PQ_META.json", legacy)
    res = pq_drift_check(spark, idx, drifted)
    assert res["ratio"] == 1.0 and not res["rebuild_recommended"]
    assert not res["checkable"]
    _write_json_sidecar(spark, f"{idx}/_PQ_META.json", meta)

@pytest.mark.slow
def test_pq_build_baseline_sample_bounds_the_second_pass(spark, tmp_path):
    """ADVICE r11: the drift baseline used to be a second FULL pass
    over the build corpus. Now it runs over a deterministic hash
    sample (default 5%): on a corpus large enough the sidecar records
    the sampled rate, the sampled mean tracks the exact mean, and
    pq_rebuild_index reuses the requested rate; on a small corpus the
    1024-vector floor falls back to the full pass (recorded as
    effective 1.0)."""
    import random

    from flink_etl_spark.operators.similarity import (
        pq_build_index,
        pq_rebuild_index,
        pq_recon_error,
    )
    from flink_etl_spark.staged import PQ_META

    rng = random.Random(7)
    dim = 8
    schema = "vec_id long, embedding array<float>"
    big = spark.createDataFrame(
        [(i, [round(rng.gauss(0, 1), 4) for _ in range(dim)])
         for i in range(25_000)],
        schema,
    )
    idx = str(tmp_path / "big")
    pq_build_index(big, idx, m=4, n_codes=16)
    meta = PQ_META.require(spark, idx)
    assert meta["baseline_sample"] == 0.05
    assert meta["baseline_sample_effective"] == 0.05  # 25k * 5% >= 1024
    exact = pq_recon_error(
        big, spark.read.parquet(f"{idx}/codebooks"), 4
    )
    assert exact > 0
    # the sampled mean is a valid baseline: within 10% of exact here
    assert abs(meta["mean_recon_err"] - exact) / exact < 0.10

    # rebuild reuses the requested rate from the sidecar
    new = str(tmp_path / "rebuilt")
    pq_rebuild_index(spark, idx, new, big)
    assert PQ_META.require(spark, new)["baseline_sample"] == 0.05

    # small corpus: the sample would hold < 1024 vectors -> full pass
    small = big.filter("vec_id < 500")
    idx2 = str(tmp_path / "small")
    pq_build_index(small, idx2, m=4, n_codes=16)
    meta2 = PQ_META.require(spark, idx2)
    assert meta2["baseline_sample"] == 0.05
    assert meta2["baseline_sample_effective"] == 1.0
    assert meta2["mean_recon_err"] == pq_recon_error(
        small, spark.read.parquet(f"{idx2}/codebooks"), 4
    )

    import pytest

    with pytest.raises(ValueError, match="baseline_sample"):
        pq_build_index(small, idx2, m=4, n_codes=16, baseline_sample=0)


def test_split_hot_cells_warns_on_empty_sampled_census(spark):
    """ADVICE r11: census_sample small enough to sample ZERO vectors
    silently disabled skew protection — now it warns (still returns
    the centroids unchanged)."""
    import pytest

    from flink_etl_spark.operators.similarity import (
        ivf_centroids,
        split_hot_cells,
    )

    embs = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    cents = ivf_centroids(embs, 2)
    with pytest.warns(UserWarning, match="sampled 0 vectors"):
        out = split_hot_cells(
            embs, cents, max_cell_frac=0.01, census_sample=1e-6
        )
    assert sorted(r["cell_id"] for r in out.collect()) == sorted(
        r["cell_id"] for r in cents.collect()
    )


def test_semdedup_zero_norm_centroid_duel_is_deterministic(spark):
    """Regression (hypothesis find, r9): when the smallest-id seed is a
    ZERO vector, the flat quantizer's only centroid is zero-norm and
    every centroid similarity is NULL — the duel must fall to the id
    tie rule deterministically (NULL ranks as -2.0), never error or
    pick nondeterministically; and a zero-norm MEMBER (NULL csim)
    loses no duel (kept as 'farthest from centroid')."""
    from flink_etl_spark.operators.dedup import semdedup, semdedup_pairs

    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),   # smallest id -> zero centroid
        (5, [1.0, 0.0, 0.0, 0.0]),
        (9, [0.99, 0.01, 0.0, 0.0]),  # near-dup of 5
    ]
    embs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = semdedup_pairs(
        embs, threshold=0.5, n_cells=1, quantizer="flat"
    ).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (5, 9)
    assert p.csim_a is None and p.csim_b is None  # zero-norm centroid
    assert p.drop_id == 9  # NULL==NULL -> tie -> larger id drops
    kept = {r.vec_id for r in semdedup(
        embs, threshold=0.5, n_cells=1, quantizer="flat").collect()}
    assert kept == {0, 5}

    # zero-norm MEMBER vs directed member, real centroid: the NULL-csim
    # member ranks -2.0 (farthest) and must be kept — but note a
    # zero-norm member can never pair (its cos_sim is NULL), so the
    # rule is exercised via csim ordering against a real centroid
    rows2 = [
        (1, [1.0, 0.0, 0.0, 0.0]),   # seed/centroid
        (2, [0.9, 0.1, 0.0, 0.0]),   # closer to centroid
        (3, [0.6, 0.8, 0.0, 0.0]),   # farther from centroid
    ]
    embs2 = spark.createDataFrame(rows2, ["vec_id", "embedding"])
    pairs2 = semdedup_pairs(
        embs2, threshold=0.5, n_cells=1, quantizer="flat"
    ).collect()
    for p in pairs2:
        loser = p.csim_a if p.drop_id == p.id_a else p.csim_b
        winner = p.csim_b if p.drop_id == p.id_a else p.csim_a
        assert loser >= winner

def test_rank_and_rerank_duplicate_tolerance_randomized(spark):
    """Property (seeded draws): for ANY scored frame, duplicating an
    arbitrary subset of rows once (the compaction reader contract's
    worst case — each row seen at most twice) leaves _rank_and_rerank's
    output BYTE-IDENTICAL, including at tie pile-ups and at the cut
    boundary; with no duplicates the result equals the plain
    row_number rank it replaced."""
    import random

    from pyspark.sql import Window
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.similarity import _rank_and_rerank

    for seed in range(5):
        rng = random.Random(seed)
        rows = []
        for q in range(4):
            for nb in range(rng.randint(5, 25)):
                # coarse grid -> plenty of exact ties
                sim = round(rng.choice([0.1, 0.3, 0.5, 0.7, 0.9]), 6)
                rows.append((q, nb, sim))
        schema = "query_id long, neighbor_id long, cos_sim double"
        base = spark.createDataFrame(rows, schema)
        k = rng.randint(1, 6)
        clean = sorted(map(tuple, _rank_and_rerank(
            base, k, 1, None, None, "vec_id", "embedding").collect()))

        # reference: the plain row_number rank (pre-r10 semantics)
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id")
        )
        plain = sorted(map(tuple, base.withColumn(
            "rnk", F.row_number().over(w)
        ).filter(F.col("rnk") <= k).collect()))
        assert clean == plain, f"seed {seed}: no-dup result drifted"

        dup_rows = rows + [r for r in rows if rng.random() < 0.5]
        duped = spark.createDataFrame(dup_rows, schema)
        with_dups = sorted(map(tuple, _rank_and_rerank(
            duped, k, 1, None, None, "vec_id", "embedding").collect()))
        assert with_dups == clean, f"seed {seed}: duplicates leaked"


def test_semantic_contamination_signlsh_subset_of_exact(spark):
    """The sign-LSH contamination report must be a SUBSET of the exact
    broadcast verify-all (identical cosines on the pairs it finds),
    and the removal composition must drop exactly the flagged ids."""
    from flink_etl_spark.operators.dedup import (
        semantic_contamination_pairs,
        semantic_decontaminate,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    corpus = embs.filter("vec_id % 7 != 0")
    bench = embs.filter("vec_id % 7 = 0")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_contamination_pairs(
            corpus, bench, 0.35, method="exact"
        ).collect()
    }
    lsh_rows = semantic_contamination_pairs(
        corpus, bench, 0.35, method="signlsh", n_planes=4, n_probe=1
    ).collect()
    lsh = {(r.id_a, r.id_b): r.cos_sim for r in lsh_rows}
    assert len(lsh_rows) == len(lsh), "a pair matched more than one probe"
    assert set(lsh) <= set(exact) and len(lsh) > 0
    assert all(lsh[k] == exact[k] for k in lsh)
    kept = semantic_decontaminate(
        corpus, bench, 0.35, method="signlsh", n_planes=4, n_probe=1
    )
    flagged = {k[0] for k in lsh}
    kept_ids = {r.vec_id for r in kept.collect()}
    corpus_ids = {r.vec_id for r in corpus.collect()}
    assert kept_ids == corpus_ids - flagged


def test_semantic_decontaminate_catches_planted_copies(spark):
    """Exact copies of benchmark vectors planted in the corpus must be
    flagged at a near-dup threshold by BOTH methods (identical vectors
    agree with every hyperplane, so sign-LSH recall on true copies is
    1), and clean rows must survive."""
    from flink_etl_spark.operators.dedup import semantic_decontaminate

    bench_vecs = [
        (100, [1.0, 0.2, -0.5, 0.8]),
        (101, [-0.3, 0.9, 0.1, -0.2]),
        (102, [0.5, -0.7, 0.6, 0.1]),
        (103, [0.2, 0.1, 0.9, -0.6]),
    ]
    corpus_vecs = [
        (1, [1.0, 0.2, -0.5, 0.8]),     # copy of 100 -> flagged
        (2, [-0.3, 0.9, 0.1, -0.2]),    # copy of 101 -> flagged
        (3, [-1.0, -0.2, 0.5, -0.8]),   # antipode of 100 -> kept
        (4, [0.8, -0.1, -0.3, 0.05]),   # unrelated -> kept
    ]
    bench = spark.createDataFrame(bench_vecs, ["vec_id", "embedding"])
    corpus = spark.createDataFrame(corpus_vecs, ["vec_id", "embedding"])
    for method in ("exact", "signlsh"):
        kept = {
            r.vec_id
            for r in semantic_decontaminate(
                corpus, bench, 0.99, method=method, n_planes=3, n_probe=1
            ).collect()
        }
        assert kept == {3, 4}, f"{method}: kept {kept}"


def test_semantic_contamination_probe_zero_matches_bucket_reference(spark):
    """The corpus side's row-local packed-plane bucket fold must agree
    with the groupBy-based `signlsh_buckets` assignment: with
    n_probe=0 the pair set equals a reference built from two
    signlsh_buckets joins."""
    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine
    from flink_etl_spark.operators.dedup import semantic_contamination_pairs
    from flink_etl_spark.operators.similarity import (
        hyperplanes,
        signlsh_buckets,
    )
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    corpus = embs.filter("vec_id % 7 != 0")
    bench = embs.filter("vec_id % 7 = 0")
    got = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in semantic_contamination_pairs(
            corpus, bench, 0.35, method="signlsh", n_planes=4, n_probe=0
        ).collect()
    }
    planes = hyperplanes(bench, 4)
    cb = signlsh_buckets(corpus, planes).withColumnRenamed("vec_id", "id_a")
    bb = signlsh_buckets(bench, planes).withColumnRenamed("vec_id", "id_b")
    ca = corpus.select(
        F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
        norm("embedding").alias("na"),
    )
    be = bench.select(
        F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
        norm("embedding").alias("nb"),
    )
    ref = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in cb.join(bb, "bucket")
        .join(ca, "id_a")
        .join(be, "id_b")
        .withColumn(
            "cos_sim",
            F.round(safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6),
        )
        .filter(F.col("cos_sim") >= 0.35)
        .select("id_a", "id_b", "cos_sim")
        .collect()
    }
    assert got == ref and len(got) > 0


def test_semantic_contamination_guards(spark):
    """Benchmark bigger than max_bench_rows raises (broadcast safety),
    force=True downgrades to RuntimeWarning, bad method / n_probe
    raise."""
    import warnings

    import pytest

    from flink_etl_spark.operators.dedup import semantic_contamination_pairs

    embs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0]) for i in range(10)],
        ["vec_id", "embedding"],
    )
    with pytest.raises(ValueError, match="max_bench_rows"):
        semantic_contamination_pairs(embs, embs, 0.9, max_bench_rows=5)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        semantic_contamination_pairs(
            embs, embs, 0.9, max_bench_rows=5, force=True
        )
        assert any(issubclass(x.category, RuntimeWarning) for x in w)
    with pytest.raises(ValueError, match="must be 'exact'"):
        semantic_contamination_pairs(embs, embs, 0.9, method="bogus")
    with pytest.raises(ValueError, match="n_probe"):
        semantic_contamination_pairs(
            embs, embs, 0.9, method="signlsh", n_planes=4, n_probe=4,
            max_bench_rows=None,
        )
    # benchmark smaller than n_planes: a short packed plane array would
    # throw ANSI INVALID_ARRAY_INDEX mid-scan — must raise the real
    # cause up front
    tiny = embs.filter("vec_id < 3")
    with pytest.raises(ValueError, match="n_planes"):
        semantic_contamination_pairs(
            embs, tiny, 0.9, method="signlsh", n_planes=4, n_probe=1,
            max_bench_rows=None,
        )


@pytest.mark.slow
def test_semantic_contamination_randomized_plane_counts(spark):
    """The row-local packed-plane bucket fold must agree with the
    signlsh_buckets reference for every plane count (the element_at
    indexing is hand-built per plane — an off-by-one would mis-bucket
    silently), across random vector sets and dims."""
    import random

    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine
    from flink_etl_spark.operators.dedup import semantic_contamination_pairs
    from flink_etl_spark.operators.similarity import (
        hyperplanes,
        signlsh_buckets,
    )

    for seed in range(3):
        rng = random.Random(seed)
        dim = rng.choice([3, 8, 17])
        n_planes = rng.choice([2, 5, 9])
        bench_rows = [
            (i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n_planes + rng.randint(0, 4))
        ]
        corp_rows = [
            (100 + i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(30)
        ]
        bench = spark.createDataFrame(bench_rows, ["vec_id", "embedding"])
        corp = spark.createDataFrame(corp_rows, ["vec_id", "embedding"])
        got = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in semantic_contamination_pairs(
                corp, bench, -1.0, method="signlsh",
                n_planes=n_planes, n_probe=0, max_bench_rows=None,
            ).collect()
        }
        planes = hyperplanes(bench, n_planes)
        cb = signlsh_buckets(corp, planes).withColumnRenamed("vec_id", "id_a")
        bb = signlsh_buckets(bench, planes).withColumnRenamed("vec_id", "id_b")
        ca = corp.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
            norm("embedding").alias("na"),
        )
        be = bench.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
            norm("embedding").alias("nb"),
        )
        ref = {
            (r.id_a, r.id_b, r.cos_sim)
            for r in cb.join(bb, "bucket")
            .join(ca, "id_a")
            .join(be, "id_b")
            .select(
                "id_a", "id_b",
                F.round(
                    safe_cosine(dot("va", "vb"), F.col("na"), F.col("nb")), 6
                ).alias("cos_sim"),
            )
            .collect()
        }
        assert got == ref, f"seed {seed} (dim {dim}, planes {n_planes})"


def test_semantic_contamination_ivf_method(spark):
    """The IVF decontamination method: subset-of-exact with identical
    cosines, recall monotone in nprobe, nprobe=n_cells reaching the
    all-cells census for the bench side, verbatim copies always found
    (own cell == own cell), and knob guards raise."""
    import pytest

    from flink_etl_spark.operators.dedup import semantic_contamination_pairs
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    bench = embs.filter("vec_id % 7 = 0")
    exact = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_contamination_pairs(
            embs, bench, 0.35, method="exact"
        ).collect()
    }
    last = -1
    for npb in (1, 4, 16):
        got = {
            (r.id_a, r.id_b): r.cos_sim
            for r in semantic_contamination_pairs(
                embs, bench, 0.35, method="ivf", n_cells=16, nprobe=npb,
                max_bench_rows=None,
            ).collect()
        }
        assert set(got) <= set(exact)
        assert all(got[k] == exact[k] for k in got)
        assert len(got) >= last
        last = len(got)
    # verbatim copies (corpus includes the bench slice) at a near-dup
    # threshold: found even at nprobe=1
    got1 = {
        (r.id_a, r.id_b)
        for r in semantic_contamination_pairs(
            embs, bench, 0.9, method="ivf", n_cells=16, nprobe=1,
            max_bench_rows=None,
        ).collect()
    }
    assert {(r.vec_id, r.vec_id) for r in bench.collect()} <= got1

    with pytest.raises(ValueError, match="nprobe"):
        semantic_contamination_pairs(
            embs, bench, 0.9, method="ivf", n_cells=4, nprobe=5,
            max_bench_rows=None,
        )
    with pytest.raises(ValueError, match="n_cells"):
        semantic_contamination_pairs(
            embs, embs.filter("vec_id < 3"), 0.9, method="ivf",
            n_cells=8, nprobe=1, max_bench_rows=None,
        )


# bpe_fit / bpe_encode


def _ref_bpe_fit(texts, n_merges):
    """Pure-Python reference BPE (Sennrich et al. 2016): fit on word
    counts, argmax by (count DESC, left ASC, right ASC)."""
    import re
    from collections import Counter

    words = Counter()
    for t in texts:
        for tok in re.findall(r"\w+|[^\w\s]", t or ""):
            words[tuple(tok)] += 1
    merges = []
    for rank in range(1, n_merges + 1):
        pairs = Counter()
        for syms, cnt in words.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += cnt
        if not pairs:
            break
        (l, r), c = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rank, l, r, c))
        new = Counter()
        for syms, cnt in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new[tuple(out)] += cnt
        words = new
    return merges


def _ref_bpe_encode(text, merges):
    import re

    toks = []
    for tok in re.findall(r"\w+|[^\w\s]", text or ""):
        syms = list(tok)
        for _, l, r, _c in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        toks.extend(syms)
    return toks


def test_bpe_fit_matches_reference_implementation(spark):
    """The distributed merge loop (pair counts over the sep-encoded
    word table, literal-replace application) reproduces a classical
    in-memory BPE fit exactly — merges, ranks, and pair counts — on a
    corpus engineered to exercise ties, overlapping merges (aaaa), and
    merged-symbol-joins-next-round chains."""
    from flink_etl_spark.operators import text

    texts = [
        "low lower lowest low low",
        "aaaa aaa banana bandana",
        "the the the them theme",
        "ab ab abc abcd, abcd!",
    ]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                 ["doc_id", "text"])
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in text.bpe_fit(docs, 12).orderBy("rank").collect()
    ]
    assert got == _ref_bpe_fit(texts, 12)


def test_bpe_encode_matches_reference_and_methods_agree(spark):
    """Both encode plans (inline literal-replace chain; vocab-join)
    reproduce the reference greedy rank-order application, including
    docs that are empty, whitespace-only, or contain the separator
    char itself."""
    from flink_etl_spark.operators import text

    fit_texts = ["low lower lowest", "ab ab abc abcd", "aaaa aaa"]
    fit_docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(fit_texts)], ["doc_id", "text"]
    )
    merges_df = text.bpe_fit(fit_docs, 8)
    merges = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in merges_df.orderBy("rank").collect()
    ]
    enc_texts = [
        "lowest ability", "", "   ", "abcd abab \x1f low",
        "unseen words only",
    ]
    enc = spark.createDataFrame(
        [(i, t) for i, t in enumerate(enc_texts)], ["doc_id", "text"]
    )
    for method in ("inline", "vocab"):
        got = {
            r["doc_id"]: list(r["tokens"])
            for r in text.bpe_encode(enc, merges_df, method=method).collect()
        }
        for i, t in enumerate(enc_texts):
            expect = _ref_bpe_encode(t.replace("\x1f", " "), merges)
            assert got[i] == expect, (method, i, got[i], expect)


def test_bpe_fit_guards_and_early_stop(spark):
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame([(0, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="n_merges"):
        text.bpe_fit(docs, 0)
    # single-char words have no pairs: the loop stops with an empty
    # merge table instead of spinning max rounds
    assert text.bpe_fit(docs, 5).count() == 0
    with pytest.raises(ValueError, match="method"):
        text.bpe_encode(docs, [], method="rdd")


# media perceptual hashes


def _ref_phashes(payload: bytes) -> tuple[int, int]:
    """Pure-Python reference aHash/dHash: 64 equal spans, integer
    cross-multiplied mean comparisons, signed-64 packing."""
    n = len(payload)
    B = 64
    spans = [
        (
            sum(payload[(j * n) // B:((j + 1) * n) // B]),
            ((j + 1) * n) // B - (j * n) // B,
        )
        for j in range(B)
    ]
    total = sum(payload)
    a = 0
    for j, (s, c) in enumerate(spans):
        if s * n > total * c:
            a |= 1 << j
    if a >= 1 << 63:
        a -= 1 << 64
    d = 0
    for j in range(B - 1):
        if spans[j][0] * spans[j + 1][1] > spans[j + 1][0] * spans[j][1]:
            d |= 1 << j
    return a, d


def test_media_perceptual_hashes_match_reference(spark):
    """ahash/dhash equal the reference on payloads exercising the edge
    shapes: shorter than 64 bytes (empty spans), exactly 64, longer,
    empty, NULL, constant bytes (all-false bits), and a high-byte
    payload that sets the ahash sign bit."""
    payloads = [
        b"",
        None,
        b"abc",
        bytes(range(64)),
        b"the quick brown fox jumps over the lazy dog " * 7,
        b"\x00" * 100,
        b"\x01" * 63 + b"\xff" * 64,  # hot tail -> sign bit set
    ]
    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: (r.ahash, r.dhash)
        for r in multimodal.media_perceptual_hashes(media).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == _ref_phashes(p or b""), (i, got[i])
    # the sign-bit case actually went negative (packing is sign-safe)
    assert got[6][0] < 0


def test_media_phash_near_dups_exact_vs_bruteforce(spark):
    """The banded Hamming join over ahash is EXACT: pairs equal the
    brute-force XOR-popcount filter, near-dup payloads (single-byte
    substitution) land within the budget, and unrelated payloads do
    not pair."""
    import itertools

    base = [
        b"the quick brown fox jumps over the lazy dog " * 5,
        b"pack my box with five dozen liquor jugs!!!! " * 5,
        bytes(range(200)),
    ]
    rows = [(i, p) for i, p in enumerate(base)]
    # single-byte substitutions of each base payload
    for i, p in enumerate(base):
        rows.append((100 + i, p[:17] + b"Q" + p[18:]))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.media_phash_near_dups(
            media, max_hamming=8
        ).collect()
    }
    hs = {
        r.media_id: r.ahash
        for r in multimodal.media_perceptual_hashes(media).collect()
    }
    expect = set()
    for a, b in itertools.combinations(sorted(hs), 2):
        h = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
        if h <= 8:
            expect.add((a, b, h))
    assert got == expect
    # every planted substitution pairs with its original
    assert all(any(p == (i, 100 + i, h) for (p0, p1, h) in got
                   for p in [(p0, p1)]) or (i, 100 + i) in
               {(x, y) for x, y, _ in got} for i in range(len(base)))
    with pytest.raises(ValueError, match="hash_col"):
        multimodal.media_phash_near_dups(media, hash_col="phash")


def test_phash_conjugate_block_formula():
    """The oracle assigns byte b (0-based) to span ((b*64 + 63) // n) —
    pure arithmetic twin of the operator's span ranges
    [j*n//64, (j+1)*n//64). Property-check the conjugacy for every
    n up to 4x the span count and a few big primes."""
    for n in list(range(1, 257)) + [997, 4093, 65537]:
        spans = {}
        for j in range(64):
            for b in range((j * n) // 64, ((j + 1) * n) // 64):
                spans[b] = j
        for b in range(n):
            assert spans[b] == (b * 64 + 63) // n, (n, b)


def test_bpe_staged_fit_encode_lifecycle(spark, tmp_path):
    """bpe_stage_fit -> bpe_encode_staged equals the inline fit+encode
    byte-for-byte; the sidecar refuses a missing fit, a version bump,
    a pre-tokenizer mismatch, and a merges table whose row count
    disagrees with n_fitted (half-written artifact)."""
    import json

    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["low lower lowest", "ab ab abc abcd", "aaaa aaa", "newest news"]
        )],
        ["doc_id", "text"],
    )
    fit = str(tmp_path / "bpe")
    text.bpe_stage_fit(docs, fit, 6, vocab_partitions=1)

    inline = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode(docs, text.bpe_fit(docs, 6)).collect()
    )
    for method in ("inline", "vocab"):
        staged = sorted(
            (r["doc_id"], tuple(r["tokens"]))
            for r in text.bpe_encode_staged(
                docs, fit, method=method
            ).collect()
        )
        assert staged == inline, method

    with pytest.raises(ValueError, match="_BPE_META"):
        text.bpe_encode_staged(docs, str(tmp_path / "nope"))

    meta_file = tmp_path / "bpe" / "_BPE_META.json"
    m = json.loads(meta_file.read_text())
    m["version"] = 99
    meta_file.write_text(json.dumps(m))
    (tmp_path / "bpe" / "._BPE_META.json.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="format version"):
        text.bpe_encode_staged(docs, fit)

    m["version"] = 1
    m["pretoken_re"] = r"\S+"
    meta_file.write_text(json.dumps(m))
    (tmp_path / "bpe" / "._BPE_META.json.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="pre-tokenizer"):
        text.bpe_encode_staged(docs, fit)

    m["pretoken_re"] = text.BPE_PRETOKEN_RE
    m["n_fitted"] = 99
    meta_file.write_text(json.dumps(m))
    (tmp_path / "bpe" / "._BPE_META.json.crc").unlink(missing_ok=True)
    with pytest.raises(ValueError, match="n_fitted"):
        text.bpe_encode_staged(docs, fit)


def test_phash_oracle_hash_type_is_bigint():
    """Regression for the HUGEINT xor trap: DuckDB's SUM(BIGINT)
    promotes to HUGEINT, where xor over a mixed-sign pair
    sign-extends to 128 bits and bit_count reads true_hamming + 64 —
    silently DROPPING every mixed-sign near-dup pair from the oracle's
    <= 8 filter. The ph CTE must emit BIGINT hashes; pin the type and
    document the underlying engine behavior."""
    import duckdb

    from flink_etl_spark.catalog.multimodal import _phash_oracle_ctes

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(0, 'hello world test'), (1, 'hello world text')) t(doc_id, text)"
    )
    t = con.execute(
        f"WITH {_phash_oracle_ctes().strip()} "
        "SELECT typeof(ahash), typeof(dhash) FROM ph LIMIT 1"
    ).fetchone()
    assert t == ("BIGINT", "BIGINT"), t
    # the trap itself: a Hamming-2 mixed-sign pair reads 2 as BIGINT
    # and 66 as HUGEINT
    a, b = -(1 << 63) | 5, 4  # differ in bits 0 and 63
    good = con.execute(
        "SELECT bit_count(xor(CAST(? AS BIGINT), CAST(? AS BIGINT)))",
        [a, b],
    ).fetchone()[0]
    bad = con.execute(
        "SELECT bit_count(xor(CAST(? AS HUGEINT), CAST(? AS HUGEINT)))",
        [a, b],
    ).fetchone()[0]
    assert good == 2 and bad == 66, (good, bad)


def test_hamming_banded_pairs_rejects_negative_budget(spark):
    from flink_etl_spark.operators.dedup import hamming_banded_pairs

    sigs = spark.createDataFrame([(1, 5), (2, 4)], ["doc_id", "simhash"])
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_banded_pairs(sigs, 16, -1)
    with pytest.raises(ValueError, match="max_hamming"):
        hamming_banded_pairs(sigs, 16, -2)


def test_bpe_encode_depth_bounds(spark):
    """The inline plan raises past its parser-bound merge cap (one
    Column tree a few hundred replaces deep overflows Spark's parser
    stack), and the vocab plan — staged chunks + anchored lineage —
    encodes correctly with a merge table far past it (real merges
    padded with never-matching synthetic ones, so the token stream
    must equal the real-merges-only inline encode)."""
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "ab ab abc abcd")],
        ["doc_id", "text"],
    )
    real = [
        (r["rank"], r["left"], r["right"], 0)
        for r in text.bpe_fit(docs, 6, vocab_partitions=1).collect()
    ]
    pad = [
        (i, f"zq{i}", f"xj{i}", 0)
        for i in range(len(real) + 1, 400 + 1)
    ]
    with pytest.raises(ValueError, match="parser bound"):
        text.bpe_encode(docs, real + pad, method="inline")
    expect = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode(docs, real, method="inline").collect()
    )
    got = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode(docs, real + pad, method="vocab").collect()
    )
    assert got == expect


def test_bpe_encode_staged_auto_method_survives_large_artifacts(spark, tmp_path):
    """method=None picks the plan from the artifact size: a staged
    merge table past the inline parser cap encodes through the vocab
    plan instead of raising — loading a production-sized tokenizer
    must never hit the inline cap by default."""
    import json

    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "ab ab abc abcd")],
        ["doc_id", "text"],
    )
    fit = str(tmp_path / "bpe")
    text.bpe_stage_fit(docs, fit, 6, vocab_partitions=1)
    # inflate the artifact past the inline cap with never-matching
    # merges, keeping the sidecar consistent (real rows materialized
    # BEFORE the same-path overwrite)
    real_rows = [
        tuple(r) for r in spark.read.parquet(f"{fit}/merges").collect()
    ]
    inflated = real_rows + [
        (i, f"zq{i}", f"xj{i}", 0) for i in range(100, 400)
    ]
    spark.createDataFrame(
        inflated,
        "rank bigint, left string, right string, pair_count bigint",
    ).write.mode("overwrite").parquet(f"{fit}/merges")
    meta_file = tmp_path / "bpe" / "_BPE_META.json"
    m = json.loads(meta_file.read_text())
    m["n_fitted"] = len(inflated)
    meta_file.write_text(json.dumps(m))
    (tmp_path / "bpe" / "._BPE_META.json.crc").unlink(missing_ok=True)

    got = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode_staged(docs, fit).collect()
    )
    expect = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode(docs, text.bpe_fit(docs, 6)).collect()
    )
    assert got == expect


def test_grouped_linear_fit_hand_computed_intercept(spark):
    """Pin the fit SEMANTICS against an independently computed
    least-squares line — the operator and its oracle share one pinned
    formula, so only an external value can catch a units bug in both
    at once (review caught exactly that: the intercept's slope term
    missing the per-day 86400 factor, collapsing intercept to
    ~mean(y) while the mirrored oracle kept the gate green)."""
    import datetime

    from flink_etl_spark.operators.grouped import per_group_linear_fit

    # points (day 100, 5), (day 101, 7), (day 102, 9):
    # slope = 2 per day, intercept = 7 - 2*101 = -195
    rows = [
        (1, datetime.datetime(1970, 1, 1)
         + datetime.timedelta(days=100 + i), 5.0 + 2.0 * i)
        for i in range(3)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    r = per_group_linear_fit(ev).collect()[0]
    assert r["n"] == 3
    assert abs(r["slope"] - 2.0) < 1e-6
    assert abs(r["intercept"] - (-195.0)) < 1e-6


# r13: ADVICE closures + the independent-value rule from the r12
# intercept-units lesson (every pinned-sequence gate needs at least
# one INDEPENDENTLY derived expected value)


def test_media_decode_feature_values_independently_derived(spark):
    """The fake decoder's mean/var gate arm mirrors one pinned formula
    into the DuckDB oracle, so cross-engine agreement alone cannot
    catch a wrong formula on both sides (the r12 intercept-units
    class). Pin the VALUES against exact rational arithmetic
    (fractions.Fraction), independent of the operator's sum/ssq IEEE
    sequence; fixtures are checked to sit off the floor-6 grid edge so
    the rational and IEEE floors provably agree."""
    import math
    from fractions import Fraction

    payloads = [
        b"hello world",
        bytes(range(7, 120, 3)),
        b"\xff" * 5 + b"\x00" * 3,
        b"a",
    ]
    media = spark.createDataFrame(
        [(i, "text/plain", p) for i, p in enumerate(payloads)],
        "media_id long, mime string, payload binary",
    )
    got = {
        r.media_id: r.features
        for r in multimodal.decode_media(media, fake=True).collect()
    }
    for i, p in enumerate(payloads):
        n = len(p)
        total = sum(p)
        ssq = sum(b * b for b in p)
        mean_q = Fraction(total, n)
        var_q = Fraction(ssq, n) - mean_q * mean_q
        for q in (mean_q, var_q):
            # fixture sanity: either the exact value is a dyadic
            # rational (small power-of-two denominator -> the double
            # is EXACT, so floors agree even on the 1e-6 grid) or it
            # sits off the grid edge, so floor(exact) == floor(IEEE)
            # is guaranteed and the expected value is truly
            # independent of the operator's rounding path
            dyadic = q.denominator & (q.denominator - 1) == 0
            assert dyadic or q * 10**6 != math.floor(q * 10**6)
        exp_mean = math.floor(mean_q * 10**6) / 1e6
        exp_var = math.floor(var_q * 10**6) / 1e6
        assert got[i][1] == exp_mean, (i, got[i][1], exp_mean)
        assert got[i][2] == exp_var, (i, got[i][2], exp_var)
        assert got[i][0] == float(n)
        assert got[i][3] == float(max(p)) and got[i][4] == float(min(p))
        assert got[i][7] == float(total % 997)


def test_phash_payload_size_guard_raises(spark, monkeypatch):
    """Payloads past the int64-exactness bound RAISE instead of
    silently wrapping the integer bit votes (non-ANSI Spark wraps;
    the DuckDB oracle promotes to HUGEINT — the two would diverge
    exactly when it matters). Bound shrunk via monkeypatch: nobody
    allocates 1.5 GB in a unit test."""
    monkeypatch.setattr(multimodal, "_PHASH_MAX_BYTES", 8)
    media = spark.createDataFrame(
        [(1, b"0123456789abcdef")], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="int64-exact bound"):
        multimodal.media_perceptual_hashes(media).collect()
    # at the bound (not past it) the hash still computes
    ok = spark.createDataFrame(
        [(1, b"01234567")], "media_id long, payload binary"
    )
    assert multimodal.media_perceptual_hashes(ok).count() == 1


def test_bpe_encode_vocab_broadcast_guard(spark, monkeypatch):
    """ADVICE r12: the vocab reassembly join must not broadcast a
    Heaps'-law-sized pre-token map. broadcast_vocab=False pins the
    plain shuffle join (no broadcast hint in the optimized plan) with
    value-identical output; the None default degrades on its own once
    the counted vocabulary passes `_BPE_BROADCAST_MAX_VOCAB`."""
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "low lower lowest low"), (1, "ab ab abc abcd")],
        ["doc_id", "text"],
    )
    merges = text.bpe_fit(docs, 6, vocab_partitions=1)
    base = sorted(
        (r["doc_id"], tuple(r["tokens"]))
        for r in text.bpe_encode(docs, merges, method="vocab").collect()
    )

    def hint(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    pinned = text.bpe_encode(
        docs, merges, method="vocab", broadcast_vocab=False
    )
    assert "strategy=broadcast" not in hint(pinned)
    assert base == sorted(
        (r["doc_id"], tuple(r["tokens"])) for r in pinned.collect()
    )
    # default path: tiny vocab -> broadcast hint present
    assert "strategy=broadcast" in hint(
        text.bpe_encode(docs, merges, method="vocab")
    )
    # auto-degrade: shrink the bound so the counted vocab exceeds it
    monkeypatch.setattr(text, "_BPE_BROADCAST_MAX_VOCAB", 1)
    auto = text.bpe_encode(docs, merges, method="vocab")
    assert "strategy=broadcast" not in hint(auto)
    assert base == sorted(
        (r["doc_id"], tuple(r["tokens"])) for r in auto.collect()
    )


def test_bpe_fit_vocab_partitions_can_increase(spark):
    """ADVICE r12: the knob is now a real repartition — asking for
    MORE partitions than the token aggregate produced takes effect
    instead of silently no-opping (coalesce can only shrink), and the
    fit stays value-identical."""
    from flink_etl_spark.operators import text

    texts = ["low lower lowest", "ab ab abc abcd"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).coalesce(1)
    wide = text.bpe_word_counts(docs).repartition(64)
    assert wide.rdd.getNumPartitions() == 64
    got = [
        tuple(r)
        for r in text.bpe_fit(docs, 6, vocab_partitions=64)
        .orderBy("rank").collect()
    ]
    assert got == _ref_bpe_fit(texts, 6)


def test_bpe_fit_auto_batch_arm_equals_sequential(spark):
    """Default-set case of the equivalence below: the arm
    `batch_merges="auto"` switches to (B = `_BPE_AUTO_BATCH`, fused
    verify) returns the sequential merge table, counts included, on the
    tie / overlapping-merge corpus — the B-invariance the switch relies
    on to never change results."""
    from flink_etl_spark.operators import text

    texts = ["low lower lowest low low", "aaaa aaa banana bandana",
             "the the the them theme", "ab ab abc abcd, abcd!"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = [
        (r["rank"], r["left"], r["right"], r["pair_count"])
        for r in text.bpe_fit(
            docs, 12, vocab_partitions=1,
            batch_merges=text._BPE_AUTO_BATCH, batch_verify="fused",
        ).orderBy("rank").collect()
    ]
    assert got == _ref_bpe_fit(texts, 12)


@pytest.mark.slow
def test_bpe_fit_batched_equals_sequential(spark):
    """batch_merges is EXACT by construction (`_bpe_truncate_batch`):
    for every batch size the merge table — ranks, pairs, AND recorded
    counts — must be byte-identical to the classical
    one-merge-per-round loop, on corpora engineered for ties,
    overlapping merges, interacting candidates, and whole-word
    symbols (where the side-total bound must NOT truncate)."""
    from flink_etl_spark.operators import text

    corpora = [
        # ties + overlapping (aaaa) + chained merges
        ["low lower lowest low low", "aaaa aaa banana bandana",
         "the the the them theme", "ab ab abc abcd, abcd!"],
        # disjoint whole-word pairs: a batch should sweep them all
        ["ab cd ef gh ij kl", "ab cd ef gh", "mn op qr"],
        # heavy interaction: candidates share symbols constantly
        ["aa ab ba bb aaa bbb abab baba", "a b ab ba"],
    ]
    for texts in corpora:
        docs = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        ref = _ref_bpe_fit(texts, 12)
        for B in (2, 8, 64):
            rounds_by_mode = {}
            for mode in ("lazy", "fused"):
                st: dict = {}
                got = [
                    (r["rank"], r["left"], r["right"], r["pair_count"])
                    for r in text.bpe_fit(
                        docs, 12, vocab_partitions=1, batch_merges=B,
                        batch_verify=mode, stats=st,
                    ).orderBy("rank").collect()
                ]
                assert got == ref, (texts, B, mode, got, ref)
                assert st["n_merges"] == len(ref)
                rounds_by_mode[mode] = st["rounds"]
                if mode == "fused":
                    # the fused plan computes the bounds inside the
                    # argmax action — no separate verify job ever runs
                    assert st["verify_jobs"] == 0, st
            # identical bounds -> identical truncation decisions:
            # fused must not change the round structure, only where
            # the verify aggregates execute
            assert rounds_by_mode["fused"] == rounds_by_mode["lazy"]


def test_bpe_fit_restores_aqe_conf(spark):
    """The fit loop pins spark.sql.adaptive.enabled off for its
    classical/lazy rounds (r14 — AQE re-plan jobs are pure overhead
    on a size-constant vocab loop) and must restore the session's
    value afterwards in every mode, including the fused path that
    skips the pin."""
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "ab ab cd cd ef"), (1, "ab cd ef gh")], ["doc_id", "text"]
    )
    key = "spark.sql.adaptive.enabled"
    before = spark.conf.get(key)
    assert before == "true"  # the session default the pin must restore
    for mode in ("lazy", "fused"):
        text.bpe_fit(docs, 4, vocab_partitions=1, batch_merges=4,
                     batch_verify=mode)
        assert spark.conf.get(key) == before, mode
    with pytest.raises(ValueError, match="batch_verify"):
        text.bpe_fit(docs, 4, batch_verify="eager")
    assert spark.conf.get(key) == before


def test_bpe_fit_auto_batch_latency_rule(spark, monkeypatch):
    """r15: batch_merges="auto" times the first probe rounds (each
    one driver action) and switches to the fused B=16 arm only past
    the measured ~0.65 s/action break-even. Local rounds are far
    cheaper, so auto must stay classical here; forcing the threshold
    to 0 must engage the switch at exactly the probe boundary — and
    the merge table must be byte-identical in both regimes (the
    B-invariance property), with the session AQE conf restored."""
    from flink_etl_spark.operators import text

    texts = ["low lower lowest low low", "aaaa aaa banana bandana",
             "the the the them theme", "ab ab abc abcd, abcd!"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )

    def fit(stats, **kw):
        return [
            (r["rank"], r["left"], r["right"], r["pair_count"])
            for r in text.bpe_fit(
                docs, 12, vocab_partitions=1, stats=stats, **kw
            ).orderBy("rank").collect()
        ]

    ref_st: dict = {}
    ref = fit(ref_st, batch_merges=1)

    # pin the threshold on BOTH arms: the decision must follow the
    # measured probe against the constant, not this box's load
    monkeypatch.setattr(text, "_BPE_AUTO_LATENCY_SEC", 1e9)
    st: dict = {}
    assert fit(st, batch_merges="auto") == ref
    assert st["auto_batch_merges"] == 1
    assert st["auto_switch_round"] is None
    assert st["auto_probe_sec"] is not None
    assert st["rounds"] == ref_st["rounds"]  # stayed classical

    monkeypatch.setattr(text, "_BPE_AUTO_LATENCY_SEC", 0.0)
    st2: dict = {}
    assert fit(st2, batch_merges="auto") == ref
    assert st2["auto_batch_merges"] == text._BPE_AUTO_BATCH
    assert st2["auto_switch_round"] == text._BPE_AUTO_PROBE_ROUNDS
    assert st2["rounds"] <= ref_st["rounds"]
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"

    with pytest.raises(ValueError, match="batch_merges"):
        text.bpe_fit(docs, 4, batch_merges="bogus")


def test_bpe_fit_batched_reduces_rounds(spark):
    """The point of the batch: disjoint frequent pairs are swept in
    one round, so the driver-round count drops well below n_merges
    (corpus of whole-word pairs over disjoint alphabets: 9 merges in
    <= 3 rounds at B=8)."""
    from flink_etl_spark.operators import text

    docs = spark.createDataFrame(
        [(0, "ab cd ef gh ij kl"), (1, "ab cd ef gh"), (2, "mn op qr")],
        ["doc_id", "text"],
    )
    st: dict = {}
    text.bpe_fit(docs, 12, vocab_partitions=1, batch_merges=8, stats=st)
    assert st["n_merges"] == 9
    assert st["rounds"] <= 3, st
    with pytest.raises(ValueError, match="batch_merges"):
        text.bpe_fit(docs, 4, batch_merges=0)


# (the batched-fit hypothesis property lives in
# tests/test_property_prep.py with the other hypothesis suites)


# r13: DCT perceptual hash


def _ref_dcthash(payload: bytes) -> int:
    """Pure-Python reference DCT hash, written from the definition
    (quantized integer span means -> pinned integer 2D DCT-II kernel
    -> AC-coefficient sign bits) independently of the operator's
    zip_with chain and of the oracle's flat-kernel SQL."""
    from flink_etl_spark.operators.multimodal import (
        _DCT_K,
        _DCT_MEAN_SCALE,
    )

    n = len(payload)
    m = []
    for j in range(64):
        lo, hi = (j * n) // 64, ((j + 1) * n) // 64
        c = hi - lo
        m.append(0 if c == 0 else (sum(payload[lo:hi]) * _DCT_MEAN_SCALE) // c)
    h = 0
    for b in range(63):
        u, v = (b + 1) // 8, (b + 1) % 8
        coeff = sum(
            m[8 * x + y] * _DCT_K[u][x] * _DCT_K[v][y]
            for x in range(8)
            for y in range(8)
        )
        if coeff > 0:
            h |= 1 << b
    return h


def test_media_dct_hash_matches_reference(spark):
    """dcthash equals the pure-Python definition on the edge shapes
    (short/empty/NULL payloads, constant bytes -> 0, sign-exercising
    high bytes), is non-negative (63 bits), and a single-byte
    substitution stays within a small Hamming distance while an
    unrelated payload does not."""
    payloads = [
        b"",
        None,
        b"abc",
        bytes(range(64)),
        b"the quick brown fox jumps over the lazy dog " * 7,
        b"\x00" * 100,
        b"\x01" * 63 + b"\xff" * 64,
    ]
    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    got = {
        r.media_id: r.dcthash
        for r in multimodal.media_perceptual_hashes(media).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == _ref_dcthash(p or b""), (i, got[i])
        assert got[i] >= 0
    # constant bytes: every span mean equals the DC level, all AC
    # coefficients are exactly 0 (kernel rows sum to 0) -> hash 0
    assert got[5] == 0
    base = payloads[4]
    near = _ref_dcthash(base[:17] + b"Q" + base[18:])
    far = _ref_dcthash(b"pack my box with five dozen liquor jugs!! " * 7)
    assert bin(got[4] ^ near).count("1") <= 8
    assert bin(got[4] ^ far).count("1") > 8


def test_media_dct_near_dups_exact_vs_bruteforce(spark):
    """The banded Hamming join over dcthash (63 bits) is EXACT vs the
    brute-force XOR-popcount filter on the same planted-substitution
    corpus the ahash twin uses."""
    import itertools

    base = [
        b"the quick brown fox jumps over the lazy dog " * 5,
        b"pack my box with five dozen liquor jugs!!!! " * 5,
        bytes(range(200)),
    ]
    rows = [(i, p) for i, p in enumerate(base)]
    for i, p in enumerate(base):
        rows.append((100 + i, p[:17] + b"Q" + p[18:]))
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in multimodal.media_phash_near_dups(
            media, max_hamming=8, hash_col="dcthash"
        ).collect()
    }
    hs = {
        r.media_id: r.dcthash
        for r in multimodal.media_perceptual_hashes(media).collect()
    }
    expect = set()
    for a, b in itertools.combinations(sorted(hs), 2):
        h = bin(hs[a] ^ hs[b]).count("1")
        if h <= 8:
            expect.add((a, b, h))
    assert got == expect
    # the text payloads pair with their substitutions; the ramp
    # (bytes(range(200))) legitimately does NOT — a 64-unit byte spike
    # in a 3-byte span is a large quantized-mean change that flips >8
    # AC signs (the DCT trades that sensitivity for decorrelation)
    assert {(0, 100), (1, 101)} <= {(a, b) for a, b, _ in got}


def test_dct_oracle_matches_reference():
    """The DuckDB oracle twin (pq/pdct/pdh CTEs) reproduces the
    pure-Python reference hash value-for-value — the third,
    independent corner of the operator/oracle/reference triangle
    (per the pinned-sequence rule in catalog/__init__)."""
    import duckdb

    from flink_etl_spark.catalog.multimodal import _phash_oracle_ctes

    texts = [
        (0, "hello world test"),
        (1, "the quick brown fox jumps over the lazy dog " * 7),
        (2, ""),
        (3, "x"),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in texts)
        + ") t(doc_id, text)"
    )
    rows = con.execute(
        f"WITH {_phash_oracle_ctes().strip()} "
        "SELECT media_id, dcthash, typeof(dcthash) FROM pdh "
        "WHERE media_id < 1000000 ORDER BY media_id"
    ).fetchall()
    assert [t for _, _, t in rows] == ["BIGINT"] * len(texts)
    for mid, dct, _ in rows:
        assert dct == _ref_dcthash(dict(texts)[mid].encode()), mid


def test_hamming_banded_pairs_warns_past_cap_regime(spark):
    """The max_bucket cap must WARN when the corpus has outgrown the
    cap's skew regime (most occupied buckets over the cap — measured
    in the r13 recall ladder as the silent-recall-collapse regime),
    and stay silent when the cap only skims genuine skew."""
    import warnings

    from flink_etl_spark.operators.dedup import hamming_banded_pairs

    # 64 identical signatures: every occupied bucket holds 64 > 4
    hot = spark.createDataFrame(
        [(i, 5) for i in range(64)], "doc_id long, simhash long"
    )
    with pytest.warns(RuntimeWarning, match="skew regime"):
        hamming_banded_pairs(hot, 16, 1, max_bucket=4)
    # spread signatures, one hot value: cap skims it silently
    spread = spark.createDataFrame(
        [(i, i) for i in range(64)] + [(1000 + i, 7) for i in range(64)],
        "doc_id long, simhash long",
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        hamming_banded_pairs(spread, 16, 1, max_bucket=70)


def test_media_phash_dup_clusters_matches_transitive_closure(spark):
    """The collapse-first cluster operator equals a pure-Python
    transitive closure over the brute-force signature graph (equal
    hashes are Hamming-0 pairs, so collapsing them cannot change
    components), with cluster_id = min media_id of the cluster and
    every input row labeled — including exact-duplicate payloads and
    media whose hash pairs with nothing."""
    base = [
        b"the quick brown fox jumps over the lazy dog " * 5,
        b"pack my box with five dozen liquor jugs!!!! " * 5,
        bytes(range(200)),
    ]
    rows = [(i, p) for i, p in enumerate(base)]
    for i, p in enumerate(base):
        rows.append((100 + i, p[:17] + b"Q" + p[18:]))  # near-dups
        rows.append((200 + i, p))  # exact duplicates (hash collapse)
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r.media_id: r.cluster_id
        for r in multimodal.media_phash_dup_clusters(
            media, max_hamming=8, hash_col="dcthash"
        ).collect()
    }
    assert len(got) == len(rows)
    # pure-Python reference: union-find over brute-force hash pairs
    hs = {i: _ref_dcthash(dict(rows)[i]) for i, _ in rows}
    parent = {i: i for i in hs}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a in hs:
        for b in hs:
            if a < b and bin(hs[a] ^ hs[b]).count("1") <= 8:
                ra, rb = find(a), find(b)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    comps: dict = {}
    for i in hs:
        comps.setdefault(find(i), []).append(i)
    expect = {}
    for members in comps.values():
        rep = min(members)
        for m in members:
            expect[m] = rep
    assert got == expect
    # exact duplicates share a cluster with their original
    for i in range(3):
        assert got[i] == got[200 + i]


# r14: ADVICE hardening — collision-free batch truncation, anchor conf


def test_bpe_truncate_batch_collision_truncates(spark):
    """The batch-exactness proof is collision-free by construction
    (r14): a member whose merged string equals an EXISTING symbol may
    survive only as the batch's LAST element (nothing after it for
    its unification mass to outrank), and with an unknown vocabulary
    (known_products=None) batches conservatively degrade to size 1."""
    from flink_etl_spark.operators.text import (
        _bpe_truncate_batch,
        bpe_word_counts,
    )

    # corpus with none of the batch patterns: every bound is 0, so
    # nothing BUT the collision rule can truncate
    words = bpe_word_counts(
        spark.createDataFrame([(0, "x y")], ["doc_id", "text"])
    )
    batch = [
        {"l": "a", "r": "b", "c": 100},
        {"l": "c", "r": "d", "c": 90},
        {"l": "e", "r": "f", "c": 80},
    ]
    # no collisions: full batch survives
    assert _bpe_truncate_batch(words, list(batch), set()) == batch
    # middle member collides: kept as the LAST element
    assert _bpe_truncate_batch(words, list(batch), {"cd"}) == batch[:2]
    # first member collides: batch degrades to the exact argmax alone
    assert _bpe_truncate_batch(words, list(batch), {"ab"}) == batch[:1]
    # unknown vocabulary: conservative size-1 batch
    assert _bpe_truncate_batch(words, list(batch), None) == batch[:1]


def test_anchor_reliable_checkpoint_conf(spark, tmp_path):
    """`session.anchor` is localCheckpoint by default and switches to
    reliable checkpoint() when spark.flinkEtlSpark.reliableCheckpoint
    is true — the executor-churn escape hatch the iterative operators
    document (values unchanged either way)."""
    import os

    from flink_etl_spark.session import RELIABLE_CHECKPOINT_CONF, anchor

    df = spark.range(10)
    try:
        # default: no files in the (unset-for-this-test) checkpoint dir
        out = anchor(df)
        assert [r.id for r in out.orderBy("id").collect()] == list(range(10))

        spark.sparkContext.setCheckpointDir(str(tmp_path))
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "true")
        out = anchor(df)
        assert [r.id for r in out.orderBy("id").collect()] == list(range(10))
        written = [
            os.path.join(root, f)
            for root, _, files in os.walk(tmp_path)
            for f in files
        ]
        assert written, "reliable checkpoint wrote nothing"
    finally:
        spark.conf.set(RELIABLE_CHECKPOINT_CONF, "false")


# r14: generalized-pigeonhole banding (capacity-aware chunk selection)


def test_hamming_banded_pairs_multichunk_equals_classical(spark):
    """The q-of-c generalized pigeonhole (`n_chunks > max_hamming+1`)
    must return EXACTLY the classical q=1 pair set — recall 1.0 by
    construction at every admissible width, including `auto_chunks`
    (whose census only picks the width, never the answer)."""
    import random

    from flink_etl_spark.operators.dedup import hamming_banded_pairs

    def signed(u: int) -> int:
        return u - (1 << 64) if u >= 1 << 63 else u

    rng = random.Random(20260816)
    raw = [rng.getrandbits(64) for _ in range(400)]
    sigs = [(i, signed(u)) for i, u in enumerate(raw)]
    # planted near-dups: flip <= 8 bits of existing signatures
    for j in range(60):
        u = raw[j * 5]
        for b in rng.sample(range(64), rng.randint(1, 8)):
            u ^= 1 << b
        sigs.append((1000 + j, signed(u)))
    df = spark.createDataFrame(sigs, "doc_id long, simhash long")
    expect = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_banded_pairs(df, 64, 8).collect()
    }
    assert expect, "planted near-dups must produce pairs"
    for nc in (10, 11, 12):
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in hamming_banded_pairs(df, 64, 8, n_chunks=nc).collect()
        }
        assert got == expect, nc
    st: dict = {}
    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in hamming_banded_pairs(
            df, 64, 8, auto_chunks=True, _stats=st
        ).collect()
    }
    assert got == expect
    assert st["n_chunks"] >= 9 and st["combos"] >= 1


def test_hamming_banded_pairs_chunk_knob_validation(spark):
    from flink_etl_spark.operators.dedup import hamming_banded_pairs

    sigs = spark.createDataFrame([(0, 1)], "doc_id long, simhash long")
    with pytest.raises(ValueError, match="pigeonhole needs"):
        hamming_banded_pairs(sigs, 64, 8, n_chunks=8)
    with pytest.raises(ValueError, match="exceeds bits"):
        hamming_banded_pairs(sigs, 16, 8, n_chunks=17)
    with pytest.raises(ValueError, match="band keys"):
        hamming_banded_pairs(sigs, 64, 8, n_chunks=30)
    with pytest.raises(ValueError, match="mutually exclusive"):
        hamming_banded_pairs(sigs, 64, 8, n_chunks=10, auto_chunks=True)


def test_auto_band_chunks_census(spark):
    """The census-driven width choice: a small corpus stays at the
    classical q=1 (a banded row costs ~180 probes — replication
    dominates until the probe term is deep into its quadratic), while
    a corpus far past the default chunk space's capacity buys it with
    q >= 2 — and the auto trace records the costs that justified it.
    Thresholds per the r14 calibration (_BAND_ROW_COST): uniform
    64-bit signatures at max_hamming=8 cross over near ~110k."""
    from flink_etl_spark.operators.dedup import _auto_band_chunks

    small = spark.range(5000).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("simhash")
    )
    assert _auto_band_chunks(small, 64, 8, "doc_id", "simhash") == 9

    big = spark.range(400_000).select(
        F.col("id").alias("doc_id"), F.xxhash64("id").alias("simhash")
    )
    st: dict = {}
    c = _auto_band_chunks(big, 64, 8, "doc_id", "simhash", _stats=st)
    assert c >= 10, (c, st["auto_trace"])
    # the chosen width's estimated cost is the trace minimum
    costs = {row[0]: row[4] for row in st["auto_trace"]}
    assert costs[c] == min(costs.values())


def test_media_phash_dup_clusters_ahash_dhash_paths(spark):
    """Every selectable hash_col of `media_phash_dup_clusters` is
    pinned against the pure-Python transitive closure (r14 — the dct
    path had this since r13; ahash/dhash were selectable but only
    pair-tested): same collapse-first plan, components computed over
    the respective signature graph, cluster_id = min media_id."""
    base = [
        b"the quick brown fox jumps over the lazy dog " * 5,
        b"pack my box with five dozen liquor jugs!!!! " * 5,
        bytes(range(200)),
    ]
    rows = [(i, p) for i, p in enumerate(base)]
    for i, p in enumerate(base):
        rows.append((100 + i, p[:17] + b"Q" + p[18:]))  # near-dups
        rows.append((200 + i, p))  # exact duplicates (hash collapse)
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    for hash_col, pick in (("ahash", 0), ("dhash", 1)):
        got = {
            r.media_id: r.cluster_id
            for r in multimodal.media_phash_dup_clusters(
                media, max_hamming=8, hash_col=hash_col
            ).collect()
        }
        assert len(got) == len(rows)
        hs = {i: _ref_phashes(dict(rows)[i])[pick] for i, _ in rows}
        parent = {i: i for i in hs}

        def find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for a in hs:
            for b in hs:
                ham = bin((hs[a] ^ hs[b]) & ((1 << 64) - 1)).count("1")
                if a < b and ham <= 8:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        expect = {}
        comps: dict = {}
        for i in hs:
            comps.setdefault(find(i), []).append(i)
        for members in comps.values():
            rep = min(members)
            for m in members:
                expect[m] = rep
        assert got == expect, hash_col


def test_ivf_assign_matches_window_reference(spark):
    """r14: `ivf_assign` is the zero-shuffle packed-broadcast top-nprobe
    pick; this pins it row-for-row against the r1-r13 broadcast-join +
    row_number window form (sim DESC NULLS LAST, cell_id ASC, rounded
    sims, vec/vec_norm ride-along), including a zero-norm vector (NULL
    sim must still assign — to the smallest cell — and keep_sim must
    emit NULL, exactly as the window's NULLS LAST rank-1 did) and an
    exact-duplicate pair (tie pressure through the rounded sims)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from flink_etl_spark.functions.vectors import dot, norm, safe_cosine
    from flink_etl_spark.operators.similarity import ivf_assign, ivf_centroids

    def window_ref(embs, centroids, nprobe, keep_sim):
        scored = embs.select(
            "vec_id", "embedding", norm("embedding").alias("vec_norm")
        ).join(F.broadcast(centroids)).withColumn(
            "_sim",
            F.round(
                safe_cosine(
                    dot("embedding", "centroid"),
                    F.col("vec_norm"), F.col("centroid_norm"),
                ), 6,
            ),
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("_sim").desc(), F.col("cell_id")
        )
        out = [F.col("vec_id"), F.col("embedding"), F.col("vec_norm"),
               F.col("cell_id")]
        if keep_sim:
            out.append(F.col("_sim").alias("centroid_sim"))
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= nprobe).select(*out)
        )

    dim = 8
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(dim)])
            for i in range(40)]
    rows.append((100, [0.0] * dim))          # zero-norm: NULL sim
    rows.append((101, rows[3][1]))           # exact duplicate: tie
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = ivf_centroids(embs, 6).localCheckpoint()

    for nprobe in (1, 3):
        for keep_sim in (False, True):
            got = ivf_assign(embs, cents, nprobe, keep_sim=keep_sim)
            ref = window_ref(embs, cents, nprobe, keep_sim)
            cols = [c for c in got.columns if c != "embedding"]
            assert got.count() == ref.count(), (nprobe, keep_sim)
            assert got.select(*cols).exceptAll(ref.select(*cols)).count() == 0
            assert ref.select(*cols).exceptAll(got.select(*cols)).count() == 0

    z = ivf_assign(embs, cents, 1, keep_sim=True).filter("vec_id = 100")
    zr = z.collect()[0]
    assert zr["centroid_sim"] is None
    assert zr["cell_id"] == 0


def test_ivf_assign_is_zero_shuffle_on_corpus(spark):
    """r14: the corpus side of an assignment must plan NO exchange and
    NO window — the packed centroid row broadcasts and every vector
    picks its cell row-locally (the 100 TB contract: assignment never
    moves the corpus)."""
    from flink_etl_spark.operators.similarity import ivf_assign, ivf_centroids

    embs = spark.createDataFrame(
        [(i, [float((i * 5 + j) % 7) for j in range(8)]) for i in range(64)],
        "vec_id bigint, embedding array<float>",
    )
    cents = ivf_centroids(embs, 4).localCheckpoint()
    plan = ivf_assign(embs, cents, 1)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # the only exchange allowed is the broadcast of the packed row
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_ivf_centroids_local_matches_distributed(spark):
    """r15: the driver-local seed quantizer must be bit-identical to
    the distributed `ivf_centroids(refine_iters=0)` — ids, float32
    centroid vectors (collect/createDataFrame round-trip), and the
    double norms — on float and double embeddings, including corpora
    smaller than n_cells and a zero vector."""
    from flink_etl_spark.operators.similarity import (
        ivf_centroids,
        ivf_centroids_local,
    )

    for elem in ("float", "double"):
        embs = spark.createDataFrame(
            [(i, [float((i * 7 + j) % 5) - 1.5 for j in range(8)])
             for i in range(37)] + [(99, [0.0] * 8)],
            f"vec_id bigint, embedding array<{elem}>",
        )
        for n_cells in (4, 64):  # 64 > corpus: take what exists
            want = sorted(
                (tuple(r) for r in ivf_centroids(embs, n_cells).collect()),
            )
            got = sorted(
                (tuple(r)
                 for r in ivf_centroids_local(embs, n_cells).collect()),
            )
            assert got == want, (elem, n_cells)


def test_ivfpq_parts_fused_matches_anchored(spark):
    """r15: the fused one-head construction (one TakeOrdered collect
    feeding centroids AND codebook seeds) must reproduce the r14
    anchored path row-for-row — centroids, codebooks, and the encoded
    corpus — and `ivfpq_topk` end-to-end. The legacy path is invoked
    by passing the anchored centroid table explicitly (exactly what
    the r14 code did when cents was None)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.similarity import (
        _ivfpq_parts,
        ivf_centroids,
        ivfpq_topk,
    )
    from flink_etl_spark.session import anchor

    rows = [
        (i, [float(((i * 13 + j * 3) % 11) - 5) / 3.0 for j in range(8)])
        for i in range(64)
    ] + [(200, [0.0] * 8), (201, None)]
    # degenerate rows INSIDE the seed head (ids 2, 3 land in both the
    # centroid and codebook-seed slices): a NULL element and an
    # all-NULL full-width vector — the r15 driver-side residual twin
    # must reproduce the expression arm's NULL-poisoning exactly
    # (short vectors are out of PQ's domain: both arms raise the
    # dim-divisibility guard)
    rows[2] = (2, [1.0, None, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0])
    rows[3] = (3, [None] * 8)
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>",
    )
    n_cells, m, n_codes = 4, 4, 8
    f_cents, _, f_cbs, f_codes = _ivfpq_parts(
        embs, n_cells, m, n_codes, "vec_id", "embedding", 0
    )
    legacy_cents = anchor(ivf_centroids(embs, n_cells))
    l_cents, _, l_cbs, l_codes = _ivfpq_parts(
        embs, n_cells, m, n_codes, "vec_id", "embedding", 0,
        cents=legacy_cents,
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(f_cents) == rows(l_cents)
    assert rows(f_cbs) == rows(l_cbs)
    assert rows(f_codes) == rows(l_codes)

    queries = embs.filter(F.col("vec_id") < 8)
    got = rows(ivfpq_topk(embs, queries, k=3, n_cells=n_cells,
                          nprobe=2, m=m, n_codes=n_codes))
    assert len(got) > 0


def test_local_seed_frame_ceiling_takes_anchored_path(spark, monkeypatch):
    """Past `_LOCAL_SEED_MAX_VALUES` (head rows x dim) the seed
    quantizer and the IVF-PQ parts take the anchored corpus derivation
    — no driver-collected literal frame — with rows identical to the
    local-frame path. At the ceiling exactly the local frame stays."""
    from flink_etl_spark.operators import similarity as S

    embs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5) - 1.5 for j in range(8)])
         for i in range(40)],
        "vec_id bigint, embedding array<float>",
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # ivf_centroids_local: 4 rows x 8 dims; _ivfpq_parts: 8-row head
    local_cents = S.ivf_centroids_local(embs, 4)
    local_parts = S._ivfpq_parts(embs, 4, 4, 8, "vec_id", "embedding", 0)
    assert "inline(" in plan(local_cents)
    monkeypatch.setattr(S, "_LOCAL_SEED_MAX_VALUES", 4 * 8)
    assert "inline(" in plan(S.ivf_centroids_local(embs, 4))
    parts = S._ivfpq_parts(embs, 4, 4, 8, "vec_id", "embedding", 0)
    for df in (parts[0], parts[2]):  # centroids, codebooks
        assert "inline(" not in plan(df)
        assert "ExistingRDD" in plan(df)
    for got, want in zip(parts, local_parts):
        assert rows(got) == rows(want)
    monkeypatch.setattr(S, "_LOCAL_SEED_MAX_VALUES", 4 * 8 - 1)
    cents = S.ivf_centroids_local(embs, 4)
    assert "inline(" not in plan(cents) and "ExistingRDD" in plan(cents)
    assert rows(cents) == rows(local_cents)


def test_phash_arrow_engine_matches_expr(spark):
    """r14: the vectorized Arrow/numpy hash engine must be
    bit-identical to the pure-JVM expression engine (and hence to the
    pure-Python reference already pinned above) on every edge shape:
    empty, NULL, shorter than 64 bytes (empty spans), exactly 64,
    longer, constant bytes, a sign-bit-setting high-byte payload, and
    multi-KB payloads — for both include_dct arms."""
    payloads = [
        b"", None, b"abc", bytes(range(64)),
        b"the quick brown fox jumps over the lazy dog " * 7,
        b"\x00" * 100, b"\x01" * 63 + b"\xff" * 64,
        bytes(range(256)) * 40, b"\xff" * 4096,
    ]
    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)],
        "media_id long, payload binary",
    )
    for inc in (True, False):
        e = {
            r.media_id: tuple(r)[1:]
            for r in multimodal.media_perceptual_hashes(
                media, include_dct=inc, engine="expr"
            ).collect()
        }
        a = {
            r.media_id: tuple(r)[1:]
            for r in multimodal.media_perceptual_hashes(
                media, include_dct=inc, engine="arrow"
            ).collect()
        }
        assert e == a, (inc, {k: (e[k], a[k]) for k in e if e[k] != a[k]})
    # the reference triangle: arrow == pure-Python too (ahash/dhash)
    got = {
        r.media_id: (r.ahash, r.dhash)
        for r in multimodal.media_perceptual_hashes(
            media, include_dct=False, engine="arrow"
        ).collect()
    }
    for i, p in enumerate(payloads):
        assert got[i] == _ref_phashes(p or b""), i


def test_phash_engine_validation_and_auto(spark):
    """engine must validate; auto resolves to a working arm (this
    environment has numpy, so auto == arrow == expr values)."""
    import pytest as _pytest

    media = spark.createDataFrame(
        [(0, b"hello world")], "media_id long, payload binary"
    )
    with _pytest.raises(ValueError, match="engine"):
        multimodal.media_perceptual_hashes(media, engine="nope")
    auto = multimodal.media_perceptual_hashes(media).collect()
    expr = multimodal.media_perceptual_hashes(media, engine="expr").collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in expr]


def test_two_level_assign_matches_window_reference(spark):
    """r14: `ivf_assign_two_level`'s level-2 pick is the packed-
    broadcast map argmin; this pins it row-for-row against the r5-r13
    join + row_number window form (sim DESC NULLS LAST, _sub ASC,
    rounded sims, final cell_id = l1*k2 + sub), including a zero-norm
    vector (NULL sims to every seed must still assign — to sub 0 —
    and keep_sim must emit NULL) and exact-duplicate tie pressure."""
    import pyspark.sql.functions as F
    from math import isqrt
    from pyspark.sql import Window

    from flink_etl_spark.functions.vectors import dot, safe_cosine
    from flink_etl_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_two_level,
        ivf_centroids,
    )

    def window_ref(embs, n_cells, keep_sim):
        # byte-for-byte the r5-r13 implementation
        k1 = max(1, isqrt(n_cells - 1) + 1 if n_cells > 1 else 1)
        k2 = -(-n_cells // k1)
        l1_cents = ivf_centroids(embs, k1)
        a1 = ivf_assign(embs, l1_cents, 1).withColumnRenamed(
            "cell_id", "_l1"
        )
        w_seed = Window.partitionBy("_l1").orderBy("vec_id")
        seeds = (
            a1.withColumn("_r", F.row_number().over(w_seed))
            .filter(F.col("_r") <= k2)
            .select(
                "_l1",
                (F.col("_r") - 1).alias("_sub"),
                F.col("embedding").alias("_scent"),
                F.col("vec_norm").alias("_snorm"),
            )
        )
        scored = a1.join(seeds, "_l1").withColumn(
            "_sim",
            F.round(
                safe_cosine(
                    dot("embedding", "_scent"),
                    F.col("vec_norm"),
                    F.col("_snorm"),
                ),
                6,
            ),
        )
        w_pick = Window.partitionBy("vec_id").orderBy(
            F.col("_sim").desc(), F.col("_sub")
        )
        out = [
            F.col("vec_id"), F.col("embedding"), F.col("vec_norm"),
            (F.col("_l1").cast("long") * F.lit(k2) + F.col("_sub")).alias(
                "cell_id"
            ),
        ]
        if keep_sim:
            out.append(F.col("_sim").alias("centroid_sim"))
        return (
            scored.withColumn("_r2", F.row_number().over(w_pick))
            .filter(F.col("_r2") == 1)
            .select(*out)
        )

    dim = 8
    rows = [(i, [float((i * 7 + j * 3) % 5 - 2) for j in range(dim)])
            for i in range(40)]
    rows.append((100, [0.0] * dim))          # zero-norm: NULL sims
    rows.append((101, rows[3][1]))           # exact duplicate: tie
    embs = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    for n_cells in (1, 7, 12):
        for keep_sim in (False, True):
            got = ivf_assign_two_level(embs, n_cells, keep_sim=keep_sim)
            ref = window_ref(embs, n_cells, keep_sim)
            cols = [c for c in got.columns if c != "embedding"]
            assert got.count() == ref.count(), (n_cells, keep_sim)
            assert got.select(*cols).exceptAll(ref.select(*cols)).count() == 0
            assert ref.select(*cols).exceptAll(got.select(*cols)).count() == 0
            spark.catalog.clearCache()

    z = ivf_assign_two_level(embs, 12, keep_sim=True).filter("vec_id = 100")
    zr = z.collect()[0]
    assert zr["centroid_sim"] is None
    spark.catalog.clearCache()


def test_two_level_assign_no_corpus_exchange_by_id(spark):
    """r14: the two-level plan's only hash exchange is the bounded
    seed pick (by _l1, WindowGroupLimit-limited map-side); the r5-r13
    hash-by-vec_id exchange that shipped every corpus vector k2 times
    must be gone, along with its per-id window."""
    from flink_etl_spark.operators.similarity import ivf_assign_two_level

    embs = spark.createDataFrame(
        [(i, [float((i * 5 + j) % 7) for j in range(8)]) for i in range(64)],
        "vec_id bigint, embedding array<float>",
    )
    plan = (
        ivf_assign_two_level(embs, 9)
        ._jdf.queryExecution().executedPlan().toString()
    )
    spark.catalog.clearCache()
    assert "hashpartitioning(vec_id" not in plan
    assert "WindowGroupLimit" in plan  # the seed pick stays bounded


def test_spark_round6_twin(spark):
    """r14: the arrow PQ encode's tie path re-implements Spark's
    round(double, 6) as HALF_UP on the shortest decimal repr
    (Decimal(repr(x))). Pin that formula against Spark's own round on
    the halfway/boundary shapes that distinguish the candidate
    semantics (shortest-repr halfway like 5e-7 — whose exact binary
    expansion is BELOW halfway — exact-representable halfway like
    0.0078125, negatives, large magnitudes) plus a deterministic
    pseudo-random sweep."""
    import random
    from decimal import ROUND_HALF_UP, Decimal

    import pyspark.sql.functions as F

    q6 = Decimal("1e-6")

    def twin(x):
        return float(Decimal(repr(x)).quantize(q6, ROUND_HALF_UP))

    vals = [
        5e-07, 1.5e-06, 2.5e-06, 3.5e-06, -5e-07, -1.5e-06,
        0.0078125, -0.0078125, 0.1234565, 0.70000005, 1.0000005,
        0.0, 1.0, 123456.9999995, 4e9 + 0.4999995, 1e-12, -1e-12,
    ]
    rng = random.Random(20260817)
    vals += [rng.uniform(-2.0, 2.0) for _ in range(4000)]
    vals += [rng.uniform(0, 1e-5) for _ in range(2000)]
    # values engineered near the 0.5e-6 grid
    vals += [k * 1e-6 + 5e-7 + rng.uniform(-2e-12, 2e-12)
             for k in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "d double")
    got = [
        r["r"] for r in
        df.select(F.round("d", 6).alias("r")).collect()
    ]
    for v, g in zip(vals, got):
        assert twin(v) == g, (v, twin(v), g)


def test_pq_codes_arrow_matches_expr(spark):
    """r14: the vectorized Arrow/numpy PQ encode must be row-identical
    to the expression argmin on every pressure shape: random vectors,
    exact-duplicate vectors, duplicate codewords (exact distance
    ties), engineered near-ties (sub-1e-6 distance gaps through the
    rounded-tie slow path), NULL vector, NULL element, empty vector,
    and a dimension-mismatched row (poisoned-position contract)."""
    import pyspark.sql.functions as F

    from flink_etl_spark.operators.similarity import (
        _pq_codes_on,
        pq_codebooks,
    )

    dim = 8
    base_rows = [
        (i, [float(((i * 13 + j * 5) % 17) - 8) / 7.0 for j in range(dim)])
        for i in range(60)
    ]
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    # duplicate seed vectors => duplicate codewords => exact ties
    dup_seeds = spark.createDataFrame(
        [(i, base_rows[i % 3][1]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    for m, n_codes, seed_frame in ((2, 4, base), (4, 8, base),
                                   (2, 6, dup_seeds)):
        cbs = pq_codebooks(seed_frame, m=m, n_codes=n_codes)
        cbs = cbs.localCheckpoint(eager=True)
        probe_rows = [(i, v) for i, v in base_rows]
        # near-tie pressure: vectors displaced ~1e-7 from a seed
        probe_rows += [
            (1000 + i, [x + 1e-7 for x in base_rows[i][1]])
            for i in range(5)
        ]
        probe_rows += [
            (2000, None), (2001, []),
            (2002, [0.1, None] + [0.3] * (dim - 2)),
            (2004, [0.5] * dim), (2005, [0.5] * dim),  # exact dups
        ]
        nv = spark.createDataFrame(
            probe_rows, f"vec_id long, _nv array<double>"
        )
        if dim % m == 0:
            # a dimension-mismatched row only for the engines to agree
            # on when it divides by m (else both raise)
            nv_extra = spark.createDataFrame(
                [(3000, [0.2] * (2 * m))], "vec_id long, _nv array<double>"
            )
            nv = nv.unionByName(nv_extra)
        e = {
            r["vec_id"]: list(r["codes"])
            for r in _pq_codes_on(nv, cbs, m, ["vec_id"],
                                  engine="expr").collect()
        }
        a = {
            r["vec_id"]: list(r["codes"])
            for r in _pq_codes_on(nv, cbs, m, ["vec_id"],
                                  engine="arrow").collect()
        }
        assert e == a, (
            m, n_codes,
            {k: (e[k], a[k]) for k in e if e.get(k) != a.get(k)},
        )


def test_pq_codes_engine_validation(spark):
    """engine must validate; auto == expr values on a plain corpus."""
    import pytest as _pytest

    from flink_etl_spark.operators.similarity import (
        _pq_codes_on,
        pq_codebooks,
    )

    base = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cbs = pq_codebooks(base, m=2, n_codes=2).localCheckpoint(eager=True)
    nv = base.withColumnRenamed("embedding", "_nv")
    with _pytest.raises(ValueError, match="engine"):
        _pq_codes_on(nv, cbs, 2, ["vec_id"], engine="nope")

    def codes(**kw):
        return {
            (r["vec_id"], tuple(r["codes"]))
            for r in _pq_codes_on(nv, cbs, 2, ["vec_id"], **kw).collect()
        }

    expr = codes(engine="expr")
    # ADVICE r14: exercise the auto arm EXPLICITLY (the default is
    # expr, so codes() alone would compare expr against itself) —
    # no hint (batch-scale assertion -> arrow when numpy imports)
    # and both sides of the r15 size hint
    assert codes(engine="auto") == expr
    assert codes(engine="auto", size_hint_bytes=1 << 30) == expr
    assert codes(engine="auto", size_hint_bytes=1024) == expr


def test_pq_codes_auto_size_hint_routes_engine(spark, monkeypatch):
    """r15: engine='auto' with a size hint below _PQ_ARROW_MIN_BYTES
    must stay on the expression arm (never touch numpy/Arrow), and at
    or above it must take the arrow arm. Routed-ness is observed by
    poisoning _pq_codes_arrow: the small-hint call must not reach it,
    the large-hint call must."""
    import pytest as _pytest

    from flink_etl_spark.operators import similarity as S

    base = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    cbs = S.pq_codebooks(base, m=2, n_codes=2).localCheckpoint(eager=True)
    nv = base.withColumnRenamed("embedding", "_nv")

    calls = []

    real_arrow = S._pq_codes_arrow

    def spy(*a, **kw):
        calls.append(1)
        return real_arrow(*a, **kw)

    monkeypatch.setattr(S, "_pq_codes_arrow", spy)
    small = S._pq_codes_on(
        nv, cbs, 2, ["vec_id"], engine="auto",
        size_hint_bytes=S._PQ_ARROW_MIN_BYTES - 1,
    ).collect()
    assert not calls  # expression arm
    big = S._pq_codes_on(
        nv, cbs, 2, ["vec_id"], engine="auto",
        size_hint_bytes=S._PQ_ARROW_MIN_BYTES,
    ).collect()
    numpy = _pytest.importorskip("numpy")  # noqa: F841
    assert calls  # arrow arm engaged at/above the floor
    k = lambda rows: {(r["vec_id"], tuple(r["codes"])) for r in rows}  # noqa: E731
    assert k(small) == k(big)

    # the plan-size helper: parquet/local frames give a real estimate
    est = S._plan_size_bytes(nv)
    assert est is None or est > 0


def test_ivfpq_append_unknown_size_is_not_routed_as_tiny(spark, tmp_path, monkeypatch):
    """An append batch whose plan has no size estimate must reach the
    encode router as unknown (None: the batch-scale arm), not as a
    0-byte "tiny" batch pinned to the expression arm; a known small
    estimate still routes to the expression arm."""
    from flink_etl_spark.operators import similarity as S
    from flink_etl_spark.sources.tables import load_table

    embs = load_table(spark, SF_SMOKE, "embeddings")
    idx = str(tmp_path / "idx")
    S.ivfpq_build_index(embs.filter("vec_id < 250"), idx, n_cells=4, m=8, n_codes=16)

    hints, arrow = [], []
    route, encode = S._pq_codes_on, S._pq_codes_arrow

    def spy_route(*a, **kw):
        hints.append(kw.get("size_hint_bytes"))
        return route(*a, **kw)

    def spy_arrow(*a, **kw):
        arrow.append(1)
        return encode(*a, **kw)

    monkeypatch.setattr(S, "_pq_codes_on", spy_route)
    monkeypatch.setattr(S, "_pq_codes_arrow", spy_arrow)
    assert S.ivfpq_append_index(spark, embs.filter("vec_id BETWEEN 250 AND 259"), idx) == 10
    assert hints[-1] is not None and hints[-1] < S._PQ_ARROW_MIN_BYTES and not arrow

    monkeypatch.setattr(S, "_plan_size_bytes", lambda df: None)
    assert S.ivfpq_append_index(spark, embs.filter("vec_id BETWEEN 260 AND 269"), idx) == 10
    assert hints[-1] is None
    try:
        import numpy, pandas, pyarrow  # noqa: F401, E401
    except ImportError:
        return
    assert arrow  # the batch-scale arm
