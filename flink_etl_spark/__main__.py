"""Job CLI — the reference's three operational entry points as
subcommands, so a user of jiamx/flink-etl can run the SAME jobs here
without writing driver code:

    # the Flink streaming job (`flink run ... HdfsSink`):
    python -m flink_etl_spark ingest --source kafka \\
        --payload-cols city,province
    python -m flink_etl_spark ingest --source file --path raw/ \\
        --payload-cols city,province --available-now

    # the daily Hive merge (README.md:221-253 of the reference):
    python -m flink_etl_spark merge-day --snapshot warehouse/code_city \\
        --delta warehouse/code_city_delta --day 20200324 --keys id \\
        --out warehouse/code_city_next

    # the Sqoop snapshot bootstrap (README.md:31):
    python -m flink_etl_spark bootstrap --out warehouse/code_city

Connection/sink settings come from `PipelineConfig.from_env`
(`$FLINK_ETL_SPARK_CONFIG` JSON + per-field env overrides — the
replacement for the reference's kafkaConfig.conf); flags override env.
Each subcommand is a thin arg-parsing shell over the library operators
the tests and correctness gates already exercise — no logic lives here.
"""

from __future__ import annotations

import argparse
import sys

from flink_etl_spark.config import PipelineConfig


def _spark(app: str):
    from flink_etl_spark.session import get_spark

    return get_spark(app_name=app)


def cmd_ingest(args: argparse.Namespace) -> int:
    from flink_etl_spark.streaming.ingest import (
        read_file_stream,
        read_kafka_stream,
        start_ingest,
    )

    cfg = PipelineConfig.from_env()
    if args.sink_path:
        cfg.sink.path = args.sink_path
    if args.checkpoint:
        cfg.sink.checkpoint_location = args.checkpoint
    spark = _spark("flink-etl-spark-ingest")
    if args.source == "kafka":
        raw = read_kafka_stream(spark, cfg.kafka)
    else:
        if not args.path:
            print("--path is required with --source file", file=sys.stderr)
            return 2
        raw = read_file_stream(spark, args.path)
    q = start_ingest(
        raw,
        payload_cols=[c.strip() for c in args.payload_cols.split(",") if c.strip()],
        sink=cfg.sink,
        available_now=args.available_now,
    )
    q.awaitTermination()
    return 0


def cmd_merge_day(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators.merge import (
        merge_day,
        overwrite_snapshot,
        recover_snapshot,
    )

    if args.buckets is not None and not args.tables:
        # refuse rather than silently write an unbucketed path snapshot:
        # the user asked for the shuffle-free daily merge and would not
        # get it
        raise SystemExit("--buckets requires --tables (bucket specs live "
                         "in the metastore; path-mode parquet has none)")

    spark = _spark("flink-etl-spark-merge")
    keys = [k.strip() for k in args.keys.split(",") if k.strip()]
    order_by = [c.strip() for c in args.order_by.split(",") if c.strip()]
    if args.tables:
        # metastore mode: --snapshot/--delta/--out are TABLE names; the
        # recover + staged-swap contract lives inside merge_day_table
        from flink_etl_spark.operators.merge import merge_day_table

        merge_day_table(
            spark, args.snapshot, args.delta, day=args.day, keys=keys,
            out_table=args.out, order_by=order_by, n_buckets=args.buckets,
        )
        print(f"merged day {args.day} into table {args.out or args.snapshot}")
        return 0
    # recover_snapshot's contract: every snapshot READER calls it first,
    # or a crash inside overwrite_snapshot's delete+rename window leaves
    # the next run failing on a missing path instead of self-healing.
    recover_snapshot(args.snapshot, spark)
    if args.out and args.out != args.snapshot:
        recover_snapshot(args.out, spark)
    snapshot = spark.read.parquet(args.snapshot)
    delta = spark.read.parquet(args.delta)
    merged = merge_day(snapshot, delta, day=args.day, keys=keys, order_by=order_by)
    out = args.out or args.snapshot
    overwrite_snapshot(merged, out)
    print(f"merged day {args.day} into {out}")
    return 0


def cmd_bootstrap(args: argparse.Namespace) -> int:
    from flink_etl_spark.sources.jdbc import bootstrap_to_parquet

    cfg = PipelineConfig.from_env()
    if args.table:
        cfg.jdbc.table = args.table
    spark = _spark("flink-etl-spark-bootstrap")
    bootstrap_to_parquet(spark, cfg.jdbc, args.out)
    print(f"bootstrapped {cfg.jdbc.table} -> {args.out}")
    return 0


def cmd_dedup_stream(args: argparse.Namespace) -> int:
    from flink_etl_spark.streaming.dedup_sink import start_continuous_dedup

    spark = _spark("flink-etl-spark-dedup-stream")
    reader = spark.readStream.schema(args.schema)
    if args.max_files_per_trigger > 0:  # 0 = unlimited (option unset)
        reader = reader.option(
            "maxFilesPerTrigger", args.max_files_per_trigger
        )
    docs = reader.parquet(args.path)
    q = start_continuous_dedup(
        docs,
        index_path=args.index,
        output_path=args.out,
        checkpoint_location=args.checkpoint,
        min_tokens=args.min_tokens,
        winnow=args.winnow,
        id_col=args.id_col,
        text_col=args.text_col,
        key=args.key,
        available_now=args.available_now,
    )
    q.awaitTermination()
    return 0


def cmd_dedup_compact(args: argparse.Namespace) -> int:
    from flink_etl_spark.streaming.dedup_sink import compact_dedup_index

    spark = _spark("flink-etl-spark-dedup-compact")
    folded = compact_dedup_index(
        spark, args.index, horizon=args.horizon,
        target_files=args.target_files,
    )
    print(f"folded {folded} index partition(s) under {args.index}")
    return 0


def cmd_ann_build(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators import similarity as S

    spark = _spark("flink-etl-spark-ann-build")
    embs = spark.read.parquet(args.path)
    n_cells = "auto" if args.n_cells == "auto" else int(args.n_cells)
    S.ivfpq_build_index(
        embs, args.index, n_cells=n_cells, m=args.m,
        n_codes=args.n_codes, id_col=args.id_col, vec_col=args.vec_col,
    )
    print(f"built index at {args.index}")
    return 0


def cmd_ann_append(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators import similarity as S

    spark = _spark("flink-etl-spark-ann-append")
    batch = spark.read.parquet(args.path)
    n = S.ivfpq_append_index(
        spark, batch, args.index, id_col=args.id_col, vec_col=args.vec_col
    )
    print(f"appended {n} vector(s) to {args.index}")
    return 0


def cmd_ann_compact(args: argparse.Namespace) -> int:
    from flink_etl_spark.streaming.ann_sink import compact_ann_index

    spark = _spark("flink-etl-spark-ann-compact")
    n = compact_ann_index(spark, args.index, target_files=args.target_files)
    print(f"compacted {n} index director(ies) under {args.index}")
    return 0


def cmd_dsir_fit(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators.prep import dsir_stage_fit

    spark = _spark("flink-etl-spark-dsir-fit")
    dsir_stage_fit(
        spark.read.parquet(args.target),
        spark.read.parquet(args.raw),
        args.fit,
        n_buckets=args.buckets,
        text_col=args.text_col,
    )
    print(f"staged DSIR fit at {args.fit} ({args.buckets} buckets)")
    return 0


def cmd_dsir_score(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators.prep import (
        dsir_log_weights_staged,
        dsir_select_n,
    )

    spark = _spark("flink-etl-spark-dsir-score")
    out = dsir_log_weights_staged(
        spark.read.parquet(args.docs), args.fit,
        id_col=args.id_col, text_col=args.text_col,
    )
    if args.select is not None:
        out = dsir_select_n(
            out, n=args.select, salt=args.salt, id_col=args.id_col
        )
    out.write.mode("overwrite").parquet(args.out)
    what = (
        f"Gumbel-top-{args.select} selection"
        if args.select is not None else "log weights"
    )
    print(f"wrote DSIR {what} to {args.out}")
    return 0


def cmd_ann_drift(args: argparse.Namespace) -> int:
    import json

    from flink_etl_spark.operators import similarity as S

    spark = _spark("flink-etl-spark-ann-drift")
    out = S.ann_drift_check(
        spark, args.index, spark.read.parquet(args.path),
        id_col=args.id_col, vec_col=args.vec_col,
    )
    print(json.dumps(out))
    # exit 2 on a rebuild recommendation, 3 when the monitor is OFF
    # (missing/zero/negative baseline — "un-checkable" is not
    # "healthy", and a scheduler branching on exit codes must see the
    # difference; ADVICE r10), 0 only when genuinely checked healthy
    if out["rebuild_recommended"]:
        return 2
    return 0 if out["checkable"] else 3


def cmd_sem_decontam(args: argparse.Namespace) -> int:
    import json

    from flink_etl_spark.operators.dedup import (
        semantic_contamination_pairs,
        semantic_decontaminate,
    )

    import pyspark.sql.functions as F

    spark = _spark("flink-etl-spark-sem-decontam")
    corpus = spark.read.parquet(args.corpus)
    bench = spark.read.parquet(args.benchmark)
    kw = dict(
        method=args.method, id_col=args.id_col, vec_col=args.vec_col,
        max_bench_rows=args.max_bench_rows, force=args.force,
    )
    if args.method == "signlsh":
        kw.update(n_planes=args.n_planes, n_probe=args.n_probe)
    elif args.method == "ivf":
        kw.update(n_cells=args.n_cells, nprobe=args.nprobe)
    if args.report:
        # ONE contamination pass: write the pair report, then derive
        # the kept corpus by anti-joining the WRITTEN report — running
        # semantic_decontaminate as well would re-verify the whole
        # corpus a second time
        semantic_contamination_pairs(
            corpus, bench, args.threshold, **kw
        ).write.mode("overwrite").parquet(args.report)
        flagged = F.broadcast(
            spark.read.parquet(args.report)
            .select(F.col("id_a").alias("_flagged"))
            .distinct()
        )
        kept = corpus.join(
            flagged, corpus[args.id_col] == flagged["_flagged"],
            "left_anti",
        )
    else:
        kept = semantic_decontaminate(corpus, bench, args.threshold, **kw)
    kept.write.mode("overwrite").parquet(args.out)
    n_in, n_out = corpus.count(), spark.read.parquet(args.out).count()
    print(json.dumps({
        "corpus_rows": n_in, "kept_rows": n_out,
        "flagged_rows": n_in - n_out, "threshold": args.threshold,
        "method": args.method,
    }))
    return 0


def cmd_bpe_fit(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators.text import bpe_stage_fit

    spark = _spark("flink-etl-spark-bpe-fit")
    bpe_stage_fit(
        spark.read.parquet(args.docs), args.fit, args.merges,
        text_col=args.text_col, vocab_partitions=args.vocab_partitions,
        batch_merges=args.batch_merges,
    )
    print(f"staged BPE fit at {args.fit} ({args.merges} merges)")
    return 0


def cmd_bpe_encode(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators.text import bpe_encode_staged

    spark = _spark("flink-etl-spark-bpe-encode")
    out = bpe_encode_staged(
        spark.read.parquet(args.docs), args.fit,
        id_col=args.id_col, text_col=args.text_col, method=args.method,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote BPE tokens to {args.out}")
    return 0


def cmd_text_drift(args: argparse.Namespace) -> int:
    import json

    from flink_etl_spark.operators.prep import staged_fit_drift_check

    spark = _spark("flink-etl-spark-text-drift")
    out = staged_fit_drift_check(
        spark.read.parquet(args.path), args.fit,
        text_col=args.text_col, warn_above=args.warn_above,
        bigram_warn_above=args.bigram_warn_above,
    )
    print(json.dumps(out))
    # mirror ann-drift's scheduler contract: 2 = re-stage the fit,
    # 0 = checked healthy (a staged fit always has a usable baseline —
    # its own counts — so there is no monitor-off exit here)
    return 2 if out["refit_recommended"] else 0


def cmd_ann_search(args: argparse.Namespace) -> int:
    from flink_etl_spark.operators import similarity as S

    spark = _spark("flink-etl-spark-ann-search")
    out = S.ivfpq_search_index(
        spark, args.index, spark.read.parquet(args.queries), k=args.k,
        nprobe=args.nprobe, id_col=args.id_col, vec_col=args.vec_col,
    )
    out.write.mode("overwrite").parquet(args.out)
    print(f"wrote top-{args.k} to {args.out}")
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="flink_etl_spark", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="streaming Canal ingest -> dt-partitioned files")
    ing.add_argument("--source", choices=("kafka", "file"), default="kafka")
    ing.add_argument("--path", default=None, help="file-source input dir (JSONL)")
    ing.add_argument("--payload-cols", required=True,
                     help="comma-separated registered payload columns")
    ing.add_argument("--sink-path", default=None)
    ing.add_argument("--checkpoint", default=None)
    ing.add_argument("--available-now", action="store_true",
                     help="drain available input then stop (backfill mode)")
    ing.set_defaults(fn=cmd_ingest)

    mrg = sub.add_parser("merge-day", help="daily CDC merge (the reference's Hive SQL)")
    mrg.add_argument("--snapshot", required=True)
    mrg.add_argument("--delta", required=True)
    mrg.add_argument("--day", required=True, help="dt partition value, yyyyMMdd")
    mrg.add_argument("--keys", required=True, help="comma-separated primary key columns")
    mrg.add_argument("--order-by", default="es,ts",
                     help="recency columns for latest-per-key (default es,ts)")
    mrg.add_argument("--out", default=None,
                     help="output snapshot path (default: overwrite --snapshot)")
    mrg.add_argument("--tables", action="store_true",
                     help="treat --snapshot/--delta/--out as metastore TABLE "
                          "names (spark.table in, staged saveAsTable swap out)")
    mrg.add_argument("--buckets", type=int, default=None,
                     help="with --tables: write the snapshot bucketBy(N, keys) "
                          "so the next day's merge never shuffles the snapshot "
                          "side (pick N >= spark.sql.shuffle.partitions)")
    mrg.set_defaults(fn=cmd_merge_day)

    bst = sub.add_parser("bootstrap", help="one-time JDBC snapshot -> parquet")
    bst.add_argument("--table", default=None, help="override $FLINK_ETL_SPARK_JDBC_TABLE")
    bst.add_argument("--out", required=True)
    bst.set_defaults(fn=cmd_bootstrap)

    dds = sub.add_parser(
        "dedup-stream",
        help="continuous substring dedup over a parquet document stream "
             "(Lee et al. 2022 scrub riding the ingest; replay-idempotent "
             "batch-id-partitioned anchor index)",
    )
    dds.add_argument("--path", required=True, help="input parquet dir (streamed)")
    dds.add_argument("--index", required=True, help="anchor-key index root")
    dds.add_argument("--out", required=True, help="deduped output root")
    dds.add_argument("--checkpoint", required=True)
    dds.add_argument("--schema", default="doc_id long, text string",
                     help="input schema DDL (default: 'doc_id long, text string')")
    dds.add_argument("--min-tokens", type=int, default=50)
    dds.add_argument("--winnow", type=int, default=1,
                     help="winnowing window (1 = exact dense anchors)")
    dds.add_argument("--id-col", default="doc_id")
    dds.add_argument("--text-col", default="text")
    dds.add_argument("--key", choices=("hash64", "digest"), default="hash64")
    dds.add_argument("--max-files-per-trigger", type=int, default=1,
                     help="files per micro-batch (0 = unlimited)")
    dds.add_argument("--available-now", action="store_true",
                     help="drain available input then stop (backfill mode)")
    dds.set_defaults(fn=cmd_dedup_stream)

    ddc = sub.add_parser(
        "dedup-compact",
        help="fold pre-horizon batch_id partitions of a continuous-dedup "
             "anchor index into one consolidated partition (run between "
             "micro-batches; preserves the replay invariant)",
    )
    ddc.add_argument("--index", required=True, help="anchor-key index root")
    ddc.add_argument("--horizon", type=int, default=None,
                     help="fold partitions with batch_id < HORIZON "
                          "(default: the max present id — the only batch "
                          "foreachBatch can replay stays unfolded)")
    ddc.add_argument("--target-files", type=int, default=None,
                     help="files in the consolidated partition (default: "
                          "sized from folded bytes at ~128MB/file)")
    ddc.set_defaults(fn=cmd_dedup_compact)

    def _ann_common(sp):
        sp.add_argument("--index", required=True, help="staged index root")
        sp.add_argument("--id-col", default="vec_id")
        sp.add_argument("--vec-col", default="embedding")

    anb = sub.add_parser(
        "ann-build",
        help="build a staged IVF-PQ index (cell-partitioned byte codes + "
             "sidecar; --n-cells 1 is the flat index) from an embedding "
             "parquet",
    )
    anb.add_argument("--path", required=True, help="embedding parquet dir")
    anb.add_argument("--m", type=int, default=8, help="PQ subspaces (bytes/vector)")
    anb.add_argument("--n-codes", type=int, default=32)
    anb.add_argument("--n-cells", default="auto",
                     help="coarse cells (int or 'auto' ~ sqrt(n); 1 = "
                          "flat, every search scans all codes)")
    _ann_common(anb)
    anb.set_defaults(fn=cmd_ann_build)

    ana = sub.add_parser(
        "ann-append",
        help="append a new embedding batch to a staged index with its "
             "FROZEN quantizers (replay-convergent)",
    )
    ana.add_argument("--path", required=True, help="batch parquet dir")
    _ann_common(ana)
    ana.set_defaults(fn=cmd_ann_append)

    anc = sub.add_parser(
        "ann-compact",
        help="rewrite a staged ANN index's accreted data directories to "
             "a bounded file count (signature-verified staged swap; run "
             "between micro-batches — the continuous sink's "
             "compact_every= runs the same op inline)",
    )
    anc.add_argument("--index", required=True, help="staged index root")
    anc.add_argument("--target-files", type=int, default=None,
                     help="files per directory (default: sized from bytes "
                          "at ~128MB/file)")
    anc.set_defaults(fn=cmd_ann_compact)

    dsf = sub.add_parser(
        "dsir-fit",
        help="stage a DSIR bucketed fit once (target + raw corpus "
             "parquet -> per-bucket counts + meta sidecar) for "
             "fit-once/score-many selection",
    )
    dsf.add_argument("--target", required=True,
                     help="target-corpus parquet dir")
    dsf.add_argument("--raw", required=True, help="raw-corpus parquet dir")
    dsf.add_argument("--fit", required=True, help="fit output dir")
    dsf.add_argument("--buckets", type=int, default=10_000,
                     help="hashed feature space size (the paper's 10k)")
    dsf.add_argument("--text-col", default="text")
    dsf.set_defaults(fn=cmd_dsir_fit)

    dss = sub.add_parser(
        "dsir-score",
        help="score a document shard against a staged DSIR fit "
             "(parameters derive from the fit's sidecar); --select N "
             "additionally draws the Gumbel-top-N sample without "
             "replacement",
    )
    dss.add_argument("--docs", required=True, help="shard parquet dir")
    dss.add_argument("--fit", required=True, help="staged fit dir")
    dss.add_argument("--out", required=True, help="result parquet dir")
    dss.add_argument("--select", type=int, default=None)
    dss.add_argument("--salt", type=int, default=0)
    dss.add_argument("--id-col", default="doc_id")
    dss.add_argument("--text-col", default="text")
    dss.set_defaults(fn=cmd_dsir_score)

    andr = sub.add_parser(
        "ann-drift",
        help="quantizer-drift check of a batch against a staged index's "
             "build-time baseline (mean centroid similarity, or mean ADC "
             "reconstruction error for a one-cell index); prints JSON "
             "and exits 2 when a rebuild is recommended, 3 when the "
             "index has no usable baseline (monitor off — not the same "
             "as healthy), 0 only when checked and healthy",
    )
    andr.add_argument("--path", required=True, help="batch parquet dir")
    _ann_common(andr)
    andr.set_defaults(fn=cmd_ann_drift)

    sdc = sub.add_parser(
        "sem-decontam",
        help="embedding-space benchmark decontamination: write the kept "
             "corpus (rows with no benchmark match at cosine >= "
             "threshold) and optionally the contamination-pair report; "
             "the benchmark side broadcasts, the corpus never shuffles "
             "under --method signlsh",
    )
    sdc.add_argument("--corpus", required=True, help="corpus parquet dir")
    sdc.add_argument("--benchmark", required=True,
                     help="benchmark/eval parquet dir (the small side)")
    sdc.add_argument("--out", required=True, help="kept-corpus parquet dir")
    sdc.add_argument("--report", default=None,
                     help="optional contamination-pairs parquet dir")
    sdc.add_argument("--threshold", type=float, default=0.9)
    sdc.add_argument("--method", choices=("signlsh", "ivf", "exact"),
                     default="signlsh")
    sdc.add_argument("--n-planes", type=int, default=8)
    sdc.add_argument("--n-probe", type=int, default=1)
    sdc.add_argument("--n-cells", type=int, default=16,
                     help="ivf method: benchmark-derived cell count")
    sdc.add_argument("--nprobe", type=int, default=2,
                     help="ivf method: bench-side probe cells (recall dial)")
    sdc.add_argument("--id-col", default="vec_id")
    sdc.add_argument("--vec-col", default="embedding")
    sdc.add_argument("--max-bench-rows", type=int, default=1_000_000,
                     help="broadcast-safety cap on the benchmark size")
    sdc.add_argument("--force", action="store_true",
                     help="downgrade the benchmark-size raise to a warning")
    sdc.set_defaults(fn=cmd_sem_decontam)

    bpf = sub.add_parser(
        "bpe-fit",
        help="stage a BPE tokenizer fit once (Sennrich merge-pair "
             "loop over the corpus's distinct pre-token counts -> "
             "merge table + meta sidecar) for fit-once/encode-many "
             "tokenization",
    )
    bpf.add_argument("--docs", required=True, help="corpus parquet dir")
    bpf.add_argument("--fit", required=True, help="fit output dir")
    bpf.add_argument("--merges", type=int, required=True,
                     help="merge rounds (vocabulary size - base symbols)")
    bpf.add_argument("--text-col", default="text")
    bpf.add_argument("--vocab-partitions", type=int, default=None,
                     help="repartition the word-count table before the "
                          "loop (pin 1 for small corpora; leave unset "
                          "at scale)")
    bpf.add_argument("--batch-merges", type=int, default=1,
                     help="select up to B non-interacting merges per "
                          "driver round, bounds fetched in the same "
                          "action (EXACTLY equal to B=1 output; pays "
                          "only past ~0.65 s per driver action, see "
                          "docs/SCALING.md)")
    bpf.set_defaults(fn=cmd_bpe_fit)

    bpe = sub.add_parser(
        "bpe-encode",
        help="tokenize a document shard with a staged BPE fit "
             "(sidecar-validated merge table; inline zero-shuffle "
             "plan or the vocab-join plan for large merge tables)",
    )
    bpe.add_argument("--docs", required=True, help="shard parquet dir")
    bpe.add_argument("--fit", required=True, help="staged fit dir")
    bpe.add_argument("--out", required=True, help="result parquet dir")
    bpe.add_argument("--method", choices=["inline", "vocab"],
                     default=None,
                     help="default picks by artifact size: inline "
                          "(zero-shuffle) under the parser-bound cap, "
                          "the chunk-staged vocab plan past it")
    bpe.add_argument("--id-col", default="doc_id")
    bpe.add_argument("--text-col", default="text")
    bpe.set_defaults(fn=cmd_bpe_encode)

    tdr = sub.add_parser(
        "text-drift",
        help="text-distribution drift check of a document batch against "
             "a staged DSIR or NB fit (total-variation distance over the "
             "fit's own bucket space + novel-mass fraction); prints JSON "
             "and exits 2 when a re-stage is recommended, 0 when healthy",
    )
    tdr.add_argument("--path", required=True, help="batch parquet dir")
    tdr.add_argument("--fit", required=True, help="staged fit dir")
    tdr.add_argument("--text-col", default="text")
    tdr.add_argument("--warn-above", type=float, default=0.2)
    tdr.add_argument(
        "--bigram-warn-above", type=float, default=0.5,
        help="threshold for the exact-bigram novelty companion signal "
             "(fires on word-order/phrasal drift the bucket TV is "
             "blind to; skipped for pre-r12 fits without the bigrams "
             "sidecar table)",
    )
    tdr.set_defaults(fn=cmd_text_drift)

    ans = sub.add_parser(
        "ann-search",
        help="top-k search of a staged index (parameters derived from "
             "the meta sidecar; reads only probed cell partitions)",
    )
    ans.add_argument("--queries", required=True, help="query parquet dir")
    ans.add_argument("--out", required=True, help="result parquet dir")
    ans.add_argument("--k", type=int, default=5)
    ans.add_argument("--nprobe", type=int, default=2,
                     help="cells probed per query")
    _ann_common(ans)
    ans.set_defaults(fn=cmd_ann_search)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
