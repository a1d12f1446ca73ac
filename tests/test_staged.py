"""The staged-artifact contract (`flink_etl_spark/staged.py`): every
sidecar kind reads the bytes earlier builds wrote and writes the same
bytes, and absent, wrong-version and wrong-parameter sidecars raise
the messages each public entry point has always raised."""

from __future__ import annotations

import json

import pytest

from flink_etl_spark import staged as S

#: (kind, parameters as its writer passes them, the sidecar's exact bytes)
PAYLOADS = [
    (
        S.IVFPQ_META,
        {"n_cells": 4, "m": 8, "n_codes": 16, "dim": 64,
         "max_cell_frac_observed": 0.29, "mean_centroid_sim": 0.8123},
        '{"version": 1, "n_cells": 4, "m": 8, "n_codes": 16, "dim": 64, '
        '"max_cell_frac_observed": 0.29, "mean_centroid_sim": 0.8123}',
    ),
    (
        S.BPE_META,
        {"n_merges": 12, "pretoken_re": r"\w+|[^\w\s]", "n_fitted": 11},
        r'{"version": 1, "n_merges": 12, "pretoken_re": "\\w+|[^\\w\\s]", '
        r'"n_fitted": 11}',
    ),
    (
        S.DSIR_META,
        {"n_buckets": 512, "hash_terms": True, "bigrams": True},
        '{"version": 1, "n_buckets": 512, "hash_terms": true, '
        '"bigrams": true}',
    ),
    (
        S.NB_META,
        {"n_buckets": 512, "hash_terms": False, "d_pos": 3, "d_neg": 5,
         "bigrams": True},
        '{"version": 1, "n_buckets": 512, "hash_terms": false, "d_pos": 3, '
        '"d_neg": 5, "bigrams": true}',
    ),
    (
        S.PROFILE_META,
        {"hash_fn": "xxhash64", "k": 3, "n_hashes": 16},
        '{"version": 2, "hash_fn": "xxhash64", "k": 3, "n_hashes": 16}',
    ),
    (
        S.SUBSTR_META,
        {"key": "hash64", "min_tokens": 50, "winnow": 1},
        '{"version": 1, "key": "hash64", "min_tokens": 50, "winnow": 1}',
    ),
    (
        S.MEDIA_META,
        {"hash_col": "dcthash", "max_hamming": 8},
        '{"version": 1, "hash_col": "dcthash", "max_hamming": 8}',
    ),
    (
        S.COMPACT_PLAN,
        {"originals": ["part-0.parquet"], "staged": ["part-1.parquet"]},
        '{"version": 1, "originals": ["part-0.parquet"], '
        '"staged": ["part-1.parquet"]}',
    ),
]


def _put(root, name: str, raw: str) -> None:
    root.mkdir(parents=True, exist_ok=True)
    (root / name).write_text(raw)


def _raises(msg: str, fn, *args, **kwargs) -> None:
    with pytest.raises(ValueError) as exc:
        fn(*args, **kwargs)
    assert str(exc.value) == msg


def test_sidecars_round_trip_earlier_payloads(spark, tmp_path):
    """Eight kinds: the file an earlier build staged reads back as its
    payload (require and the parameter check accept it), and the
    writer produces those exact bytes again."""
    assert len({kind.name for kind, _, _ in PAYLOADS}) == 8
    for kind, params, raw in PAYLOADS:
        old, new = tmp_path / f"old{kind.name}", tmp_path / f"new{kind.name}"
        _put(old, kind.name, raw)
        assert kind.read(spark, str(old)) == json.loads(raw)
        assert kind.require(spark, str(old)) == json.loads(raw)
        assert kind.check(spark, str(old), params) is True
        kind.write(spark, str(new), params)
        assert (new / kind.name).read_text() == raw
        assert kind.read(spark, str(tmp_path / "absent")) is None
        assert kind.check(spark, str(tmp_path / "absent"), params) is False


def test_staged_guards_raise_their_messages(spark, tmp_path):
    """Each public reader's absent / format-version / parameter /
    in-place-rebuild error, worded as it always was."""
    from flink_etl_spark.operators import dedup, prep, similarity, text
    from flink_etl_spark.streaming.ann_sink import start_continuous_ann_index
    from flink_etl_spark.streaming.media_sink import media_batch_step

    embs = spark.createDataFrame(
        [(1, [0.5] * 8)], "vec_id long, embedding array<float>"
    )
    docs = spark.createDataFrame(
        [(1, "a b c d")], "doc_id long, text string"
    )
    nope = str(tmp_path / "nope")

    def bumped(kind, name):
        d = tmp_path / name
        _put(d, kind.name, json.dumps({"version": kind.version + 1}))
        return str(d)

    # a flat PQ index staged by earlier releases: every ANN reader
    # names the one-cell rebuild, none reads it as something else
    legacy = tmp_path / "legacy_pq"
    _put(legacy, "_PQ_META.json",
         '{"version": 1, "m": 8, "n_codes": 16, "dim": 64, '
         '"mean_recon_err": 0.25, "baseline_sample": 0.05, '
         '"baseline_sample_effective": 1.0}')
    legacy = str(legacy)
    for fn, args in (
        (similarity.ivfpq_search_index, (spark, legacy, embs)),
        (similarity.ivfpq_append_index, (spark, embs, legacy)),
        (similarity.ann_drift_check, (spark, legacy, embs)),
        (similarity.ivfpq_rebuild_index,
         (spark, legacy, str(tmp_path / "n"), embs)),
        (start_continuous_ann_index, (embs, legacy, str(tmp_path / "ck0"))),
    ):
        _raises(
            f"{legacy}/_PQ_META.json: a flat PQ index staged by an earlier "
            "release, which this release no longer reads; rebuild it with "
            "ivfpq_build_index(corpus, <new path>, n_cells=1) — the "
            "one-cell index is the flat index — and cut searches over",
            fn, *args,
        )
    in_place = (
        "rebuild must target a NEW path (searches keep reading the old "
        "index until cutover; an in-place rebuild races them)"
    )

    # IVF-PQ
    ivf = bumped(S.IVFPQ_META, "ivf")
    _raises(
        f"no _IVFPQ_META.json at {nope} — not an IVF-PQ index staged by "
        "ivfpq_build_index; build before appending",
        similarity.ivfpq_append_index, spark, embs, nope,
    )
    _raises(
        f"no _IVFPQ_META.json at {nope} — not an IVF-PQ index staged by "
        "ivfpq_build_index (or a pre-sidecar build); rebuild the index",
        similarity.ivfpq_search_index, spark, nope, embs,
    )
    for fn, args in (
        (similarity.ivfpq_append_index, (spark, embs, ivf)),
        (similarity.ivfpq_search_index, (spark, ivf, embs)),
    ):
        _raises(
            f"IVF-PQ index at {ivf} has format version 2, this build reads "
            "1 — rebuild the index", fn, *args,
        )
    _raises(
        f"no _IVFPQ_META.json at {nope} — not an IVF-PQ index",
        similarity.ann_drift_check, spark, nope, embs,
    )
    # the drift check and the sink's attach-time check read the format
    # version too (a stream must fail at attach, not in its first batch)
    for fn, args in (
        (similarity.ann_drift_check, (spark, ivf, embs)),
        (start_continuous_ann_index, (embs, ivf, str(tmp_path / "ckpt"))),
    ):
        _raises(
            f"IVF-PQ index at {ivf} has format version 2, this build reads "
            "1 — rebuild the index", fn, *args,
        )
    _raises(
        f"no _IVFPQ_META.json at {nope} — not an IVF-PQ index; use "
        "ivfpq_build_index for a first build",
        similarity.ivfpq_rebuild_index, spark, nope, str(tmp_path / "n"),
        embs,
    )
    _raises(
        f"IVF-PQ index at {ivf} has format version 2, this build writes 1 "
        "— parameters cannot be trusted; pass them to ivfpq_build_index "
        "explicitly",
        similarity.ivfpq_rebuild_index, spark, ivf, str(tmp_path / "n"),
        embs,
    )
    good_ivf = tmp_path / "good_ivf"
    _put(good_ivf, S.IVFPQ_META.name, PAYLOADS[0][2])
    _raises(
        in_place, similarity.ivfpq_rebuild_index, spark, str(good_ivf),
        str(good_ivf), embs,
    )

    # staged fits
    for kind, fn, what, stage in (
        (S.BPE_META, text.bpe_encode_staged, "BPE", "bpe_stage_fit"),
        (S.DSIR_META, prep.dsir_log_weights_staged, "DSIR",
         "dsir_stage_fit"),
        (S.NB_META, prep.nb_classifier_scores_staged, "NB", "nb_stage_fit"),
    ):
        _raises(
            f"no {kind.name} at {nope} — not a staged {what} fit; run "
            f"{stage} first", fn, docs, nope,
        )
        fit = bumped(kind, f"fit_{what}")
        _raises(
            f"staged {what} fit at {fit} has format version 2, this reader "
            "expects 1 — re-stage the fit", fn, docs, fit,
        )
        if kind is not S.BPE_META:
            _raises(
                f"staged fit at {fit} has format version 2, this drift "
                "check expects 1 — re-stage the fit",
                prep.staged_fit_drift_check, docs, fit,
            )
    _raises(
        f"no staged-fit sidecar at {nope} (expected _DSIR_META.json or "
        "_NB_META.json)",
        prep.staged_fit_drift_check, docs, nope,
    )

    # parameter-pinned indexes: a mismatched caller (or format) raises
    prof = tmp_path / "prof"
    _put(prof, S.PROFILE_META.name, PAYLOADS[4][2])
    _raises(
        f"staged minhash profile at {prof} is incompatible with this call "
        "(k: staged=3 caller=2); band keys from mismatched profiles never "
        "match, silently losing pairs — rebuild the profile "
        "(minhash_stage_profile mode='overwrite') or match the staged "
        "parameters",
        dedup.minhash_near_dups_incremental, docs, str(prof), k=2,
    )
    v1 = PAYLOADS[4][2].replace('"version": 2', '"version": 1')
    _put(prof, S.PROFILE_META.name, v1)
    _raises(
        f"staged minhash profile at {prof} is incompatible with this call "
        "(version: staged=1 caller=2); band keys from mismatched profiles "
        "never match, silently losing pairs — rebuild the profile "
        "(minhash_stage_profile mode='overwrite') or match the staged "
        "parameters",
        dedup.minhash_near_dups_incremental, docs, str(prof),
    )
    sub = tmp_path / "sub"
    _put(sub, S.SUBSTR_META.name, PAYLOADS[5][2])
    _raises(
        f"staged substring index at {sub} is incompatible with this call "
        "(min_tokens: staged=50 caller=13, winnow: staged=1 caller=2); "
        "anchor keys from mismatched parameters never match, silently "
        "losing all index hits — rebuild the index (substring_stage_index "
        "mode='overwrite') or match the staged parameters",
        prep.substring_dedup_incremental, docs, str(sub), min_tokens=13,
        winnow=2,
    )
    media = tmp_path / "media"
    _put(media, S.MEDIA_META.name, PAYLOADS[6][2])
    batch = spark.createDataFrame(
        [(1, bytearray(b"x"))], "media_id long, payload binary"
    )
    _raises(
        f"staged media signature index at {media} is incompatible with "
        "this call (max_hamming: staged=8 caller=4); signatures from "
        "mismatched parameters never match, silently losing every "
        "cross-batch hit — use a fresh index path or match the staged "
        "parameters",
        media_batch_step, batch, 0, str(media), str(tmp_path / "out"),
        max_hamming=4,
    )


def test_snapshot_swap_and_data_file_listing(spark, tmp_path):
    """The snapshot swap and the data-file listing live in staged.py,
    and `merge` re-exports the same functions: stage to
    `<parent>/_staging/<base>`, promote by delete+rename, heal a crash
    between the two, and count only visible files as data."""
    from flink_etl_spark.operators import maintenance, merge
    from flink_etl_spark.streaming import ann_sink

    for name in ("stage_snapshot", "promote_snapshot", "snapshot_exists",
                 "recover_snapshot"):
        assert getattr(merge, name) is getattr(S, name)
    assert ann_sink._data_file_names is S._data_file_names

    snap = str(tmp_path / "snap")
    staging = tmp_path / "_staging" / "snap"
    assert S._staging_path(snap) == str(staging)
    assert not S.snapshot_exists(spark, snap)
    assert maintenance.partition_file_count(spark, snap) == 0

    S.stage_snapshot(spark.range(6).repartition(3), snap)
    assert staging.is_dir() and not S.snapshot_exists(spark, snap)
    S.promote_snapshot(spark, snap)
    assert S.snapshot_exists(spark, snap) and not staging.exists()
    assert sorted(r.id for r in spark.read.parquet(snap).collect()) == list(range(6))

    fs, hpath = S._hadoop_fs(spark, snap)
    names = S._data_file_names(fs, hpath)
    assert names == sorted(names) and len(names) == 3
    assert all(n.startswith("part-") for n in names)
    (tmp_path / "snap" / "sub").mkdir()
    assert maintenance.partition_file_count(spark, snap) == len(names)

    # crash after the delete, before the rename: recovery promotes
    S.stage_snapshot(spark.range(2), snap)
    fs.delete(hpath, True)
    assert S.recover_snapshot(snap, spark) is True
    assert spark.read.parquet(snap).count() == 2
    # crash before the delete: the intact target wins, the stale stage goes
    S.stage_snapshot(spark.range(9), snap)
    assert S.recover_snapshot(snap, spark) is False
    assert not staging.exists() and spark.read.parquet(snap).count() == 2
    # the pre-staging-dir layout `<path>__staging` still heals
    legacy = str(tmp_path / "snap__staging")
    spark.range(4).write.parquet(legacy)
    fs.delete(hpath, True)
    assert S.recover_snapshot(snap, spark) is True
    assert spark.read.parquet(snap).count() == 4
    assert not (tmp_path / "snap__staging").exists()
