"""The two workloads. Each is a class with the same shape:

* `inputs(cache)`  — generate or reuse the seeded inputs
* `warm()`         — the untimed warm-up pass, the workload's own op mix
* `step(i)`        — one closed-loop operation, timed through spans
* `probe()`        — traced runs only: extra calls that split fused work
* `end_to_end(traced)` — the user-visible metrics of the loop's
  untraced (or traced) steps
* `check()`        — counts checked and failed outputs against `oracle.py`
* `layers()`       — the per-layer metrics from the spans

Only calls into the package's public functions go through
`self.tr.span(layer, op)`; the rest is benchmark glue.
"""

from __future__ import annotations

import os
import shutil
import statistics

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyspark.sql.functions as F

import gen
import oracle


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it; the maximum when fewer than 20 samples leave no
    such percentile at or above the median."""
    s = sorted(samples)
    n = len(s)
    if n < 20:
        return s[-1], 100.0
    return s[n - 11], round(100.0 * (n - 10) / n, 1)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    #: nominal seconds per loop step on a 4-core box, and the fewest
    #: steps per run, so every operation type is measured
    STEP_S = 1.0
    MIN_STEPS = 1

    def __init__(self, seed: int, scale: str, cpus: int, work: str):
        self.seed, self.scale, self.cpus, self.work = seed, scale, cpus, work
        self.spark = self.tr = None
        self.attempted = self.failed = 0
        #: what the correctness check saw, for the results file
        self.checked: dict = {}

    def bind(self, spark, tracer) -> None:
        self.spark, self.tr = spark, tracer

    def fresh(self, *parts: str) -> str:
        d = os.path.join(self.work, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(os.path.dirname(d), exist_ok=True)
        return d

    def key(self, size: dict) -> str:
        """Input cache key: the workload, its sizes and the seed."""
        return "-".join([self.name, *(f"{k}{v}" for k, v in size.items()), f"s{self.seed}"])

    def probe(self) -> None:
        pass

    @staticmethod
    def pick(records: list[dict], traced: bool, key=lambda r: r) -> list[dict]:
        """The loop records of one kind of step: traced or untraced."""
        return [r for r in records if key(r)["traced"] == traced]

    def spans(self, layer: str, op: str | None = None) -> list[dict]:
        return [s for s in self.tr.spans
                if s["layer"] == layer and (op is None or s["op"] == op)]


# ---------------------------------------------------------------------------


class Cdc(Workload):
    """Canal log -> streaming ingest -> daily merge, as the reference."""

    name = "cdc"
    STEP_S = 5.0
    MIN_STEPS = 3
    SIZES = {"full": dict(n_files=32, lines_per_file=500, snapshot_factor=60),
             "tiny": dict(n_files=8, lines_per_file=100, snapshot_factor=6)}

    def inputs(self, cache: str) -> None:
        size = self.SIZES[self.scale]

        def build(out):
            facts = gen.build_cdc(out, self.seed, **size)
            oracle.cdc_expected(os.path.join(out, "log"), os.path.join(out, "snapshot"),
                                gen.DAY, os.path.join(out, "expected.parquet"))
            return facts

        self.dir, self.facts = gen.cached(cache, self.key(size), build)
        self.rounds: list[dict] = []

    def _ingest(self, log: str, rd: str) -> dict:
        from flink_etl_spark.config import SinkConfig
        from flink_etl_spark.streaming import ingest

        sink = SinkConfig(path=f"{rd}/delta", checkpoint_location=f"{rd}/chk")
        with self.tr.span("ingest", "start_ingest") as rec:
            raw = ingest.read_file_stream(self.spark, log, max_files_per_trigger=self.cpus)
            q = ingest.start_ingest(raw, gen.CDC_PAYLOAD, sink, available_now=True)
            rec["groups"].append(str(q.runId))
            q.awaitTermination()
        rec["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return rec

    def _merge(self, rd: str, probe: bool = False) -> dict:
        from flink_etl_spark.operators import merge
        from flink_etl_spark.sources import files

        def frames():
            snap = self.spark.read.parquet(f"{rd}/snapshot")
            delta = files.read_partitioned(self.spark, f"{rd}/delta").select(
                "code", "city", "province", F.col("es").alias("event_time"), "ts", "type", "dt")
            return snap, delta

        cols = ["code", "city", "province", "event_time"]
        if probe:
            with self.tr.span("merge", "dedup_latest") as rec:
                day = frames()[1].filter(F.col("dt") == gen.DAY).drop("dt")
                noop(merge.dedup_latest(day, ["code"]))
            # the day's delta rows in and latest rows out, counted untraced
            rec.update(probe=True, rows_in=day.count(),
                       rows_out=merge.dedup_latest(day, ["code"]).count())
            with self.tr.span("merge", "merge_day") as rec:
                noop(merge.merge_day(*frames(), gen.DAY, keys=["code"], columns=cols))
            rec["probe"] = True
        with self.tr.span("merge", "overwrite_snapshot") as rec:
            merged = merge.merge_day(*frames(), gen.DAY, keys=["code"], columns=cols)
            merge.overwrite_snapshot(merged, f"{rd}/snapshot")
        return rec

    def _round(self, rd: str) -> dict:
        shutil.copytree(f"{self.dir}/snapshot", f"{rd}/snapshot")
        ing = self._ingest(f"{self.dir}/log", rd)
        mrg = self._merge(rd)
        self.spark.catalog.clearCache()
        return {"dir": rd, "ingest": ing, "merge": mrg}

    def warm(self) -> None:
        self._round(self.fresh("warm", "cdc"))

    def step(self, i: int) -> None:
        self.rounds.append(self._round(self.fresh("rounds", f"r{len(self.rounds)}")))

    def probe(self) -> None:
        """Split the fused streaming chain into its layers with batch
        runs of growing prefixes over the same log, and the merge into
        dedup / join / write."""
        from flink_etl_spark.operators import canal
        from flink_etl_spark.sources import files

        log = f"{self.dir}/log"
        with self.tr.span("sources", "read_jsonl"):
            noop(files.read_jsonl(self.spark, log))
        with self.tr.span("canal", "parse_canal"):
            env = canal.filter_ddl(canal.parse_canal(canal.prefilter_ddl(
                files.read_jsonl(self.spark, log))))
            noop(env.select("id", "es", "ts", "type", "data"))
        with self.tr.span("canal", "ingest_pipeline"):
            noop(canal.ingest_pipeline(files.read_jsonl(self.spark, log), gen.CDC_PAYLOAD))
        rd = self.rounds[-1]["dir"]
        shutil.rmtree(f"{rd}/snapshot")
        shutil.copytree(f"{self.dir}/snapshot", f"{rd}/snapshot")
        self._merge(rd, probe=True)
        self.spark.catalog.clearCache()

    def end_to_end(self, traced: bool) -> tuple[dict, dict]:
        rounds = self.pick(self.rounds, traced, lambda r: r["merge"])
        drain = [r["ingest"]["wall_s"] for r in rounds]
        merges = [r["merge"]["wall_s"] for r in rounds]
        batches = [p["durationMs"]["triggerExecution"] / 1000
                   for r in rounds for p in r["ingest"]["progress"]]
        tail_s, pct = tail(batches)
        return ({
            "throughput_rps": (self.facts["n_lines"] * len(rounds) / sum(drain), "records/s"),
            "job_s": (statistics.median(merges), "s"),
            "latency_p50_s": (statistics.median(batches), "s"),
            "latency_tail_s": (tail_s, "s"),
        }, {"tail_percentile": pct, "batch_s": batches, "merge_s": merges, "drain_s": drain})

    def check(self) -> None:
        want_dt = self.facts["dml_rows_by_dt"]
        cols = ["code", "city", "province", "event_time"]
        want = oracle.read_sorted(f"{self.dir}/expected.parquet", cols, "code")
        for r in self.rounds:
            self.attempted += 2
            if oracle.dt_counts(f"{r['dir']}/delta") != want_dt:
                self.failed += 1
            got = oracle.read_sorted(f"{r['dir']}/snapshot", cols, "code")
            if not got.equals(want):
                self.failed += 1

    def layers(self) -> dict:
        out: dict = {}
        scan = self.spans("sources", "read_jsonl")
        parse = self.spans("canal", "parse_canal")
        chain = self.spans("canal", "ingest_pipeline")
        out["sources.scan_s"] = _med(s["cpu_s"] for s in scan)
        out["sources.input_bytes"] = _med(s["input_bytes"] for s in scan)
        out["canal.parse_s"] = _share(parse, scan)
        out["canal.flatten_s"] = _share(chain, parse)
        delta_rows = sum(oracle.dt_counts(f"{self.rounds[-1]['dir']}/delta").values())
        out["canal.rows_per_line"] = delta_rows / self.facts["n_lines"]
        ing = [r["ingest"] for r in self.pick(self.rounds, True, lambda r: r["ingest"])]
        prog = [p for r in ing for p in r["progress"]]
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in prog) / 1000 / max(1, len(ing))
        out["ingest.batches"] = len(prog) / max(1, len(ing))
        out["ingest.tasks_per_batch"] = _med(r["tasks"] for r in ing) / max(1.0, out["ingest.batches"])
        out["ingest.plan_s"] = dur("queryPlanning")
        out["ingest.log_s"] = dur("latestOffset") + dur("walCommit") + dur("commitOffsets")
        out["ingest.add_batch_s"] = dur("addBatch")
        files_, bytes_ = _tree(f"{self.rounds[-1]['dir']}/delta")
        out["ingest.files_written"] = files_
        out["ingest.bytes_written"] = bytes_
        dl = self.spans("merge", "dedup_latest")
        md = self.spans("merge", "merge_day")
        ow = self.spans("merge", "overwrite_snapshot")
        out["merge.dedup_latest_s"] = _med(s["cpu_s"] for s in dl)
        out["merge.cdc_merge_s"] = _share(md, dl)
        out["merge.write_s"] = _share(ow, md)
        out["merge.shuffle_bytes"] = _med(s["shuffle_bytes"] for s in ow)
        out["merge.compaction_ratio"] = _med(s["rows_in"] / max(1, s["rows_out"]) for s in dl)
        merged = f"{self.rounds[-1]['dir']}/snapshot"
        out["merge.write_amp"] = _tree(merged)[1] / max(1, _changed_bytes(f"{self.dir}/snapshot", merged))
        return out


def _changed_bytes(base_dir: str, merged_dir: str) -> int:
    """Arrow (in-memory) bytes of the merged snapshot's rows that are
    new or differ from the base: a yardstick for the changed rows that
    does not depend on how the program lays them out on disk."""
    con = duckdb.connect()
    try:
        con.register("base", ds.dataset(base_dir).to_table())
        con.register("merged", ds.dataset(merged_dir).to_table())
        changed = con.execute("""
            SELECT m.* FROM merged m LEFT JOIN base b USING (code)
            WHERE b.code IS NULL OR m.city IS DISTINCT FROM b.city
               OR m.province IS DISTINCT FROM b.province
               OR m.event_time IS DISTINCT FROM b.event_time""").arrow()
    finally:
        con.close()
    return changed.nbytes


def _tree(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, skipping Spark's metadata."""
    n = b = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in names:
            if f.endswith(".parquet"):
                n += 1
                b += os.path.getsize(os.path.join(root, f))
    return n, b


def _med(values) -> float:
    vals = list(values)
    return float(statistics.median(vals)) if vals else 0.0


def _share(longer: list[dict], prefix: list[dict]) -> float:
    """Executor CPU seconds a call adds over a call running a prefix of
    its plan: how fused work is split between layers (floored at 0)."""
    return max(0.0, _med(s["cpu_s"] for s in longer) - _med(s["cpu_s"] for s in prefix))


# ---------------------------------------------------------------------------


class Corpus(Workload):
    """Profile -> quality/lang filter -> exact dedup -> MinHash near
    dups -> winnowing fingerprint candidates over a document corpus."""

    name = "corpus"
    STEP_S = 3.5
    MIN_STEPS = 5
    SIZES = {"full": dict(n_docs=1500), "tiny": dict(n_docs=400)}
    #: the embedding side of the corpus, searched by the traced run's
    #: similarity probe: base vectors, an append pool and query vectors
    VECTORS = dict(n_base=1000, n_append=200, n_queries=64)
    K, NPROBE, RERANK, BATCH = 10, 4, 10, 32
    INDEX = dict(n_cells=4, m=4, n_codes=16)
    #: recall@10 floor of each probe search against exact top-10
    RECALL_FLOOR = 0.5

    def inputs(self, cache: str) -> None:
        size = self.SIZES[self.scale]

        def build(out):
            facts = gen.build_corpus(out, self.seed, **size)
            facts["vectors"] = gen.build_vectors(os.path.join(out, "vectors"), self.seed,
                                                 **self.VECTORS)
            return facts

        self.dir, self.facts = gen.cached(cache, self.key({**size, **self.VECTORS}), build)
        self.chains: list[dict] = []
        self.builds: list[dict] = []
        self.searches: list[dict] = []
        self.appends: list[dict] = []
        self.recalls: list[float] = []

    def _chain(self, docs_path: str, cd: str) -> dict:
        from flink_etl_spark.operators import dedup, prep, text

        with self.tr.span("dedup", "exact_dedup") as ex:
            prof = text.doc_profile(self.spark.read.parquet(docs_path))
            keepers = dedup.exact_dedup(
                prof.select(
                    F.sha2("text", 256).alias("_digest"), "doc_id", "text",
                    ((F.col("verdict") == "keep") & (F.col("lang_guess") == "en")).alias("_pass"),
                ),
                ["_digest"], "doc_id", carry_cols=("text",), where_col="_pass",
            )
            keepers.drop("_digest").write.parquet(f"{cd}/keepers")
        kept = lambda: self.spark.read.parquet(f"{cd}/keepers").select(
            F.col("keep_id").alias("doc_id"), "text")
        with self.tr.span("dedup", "minhash_near_dups") as mh:
            dedup.minhash_near_dups(kept()).select("doc_a", "doc_b").write.parquet(f"{cd}/near")
        with self.tr.span("prep", "fingerprint_candidates") as fp:
            prep.fingerprint_candidates(kept()).write.parquet(f"{cd}/fingerprints")
        self.spark.catalog.clearCache()
        return {"dir": cd, "spans": (ex, mh, fp)}

    def warm(self) -> None:
        self._chain(f"{self.dir}/docs", self.fresh("warm", "corpus"))

    def step(self, i: int) -> None:
        cd = self.fresh("chains", f"c{len(self.chains)}")
        self.chains.append(self._chain(f"{self.dir}/docs", cd))

    def probe(self) -> None:
        from flink_etl_spark.operators import dedup, text

        with self.tr.span("text", "doc_profile"):
            prof = text.doc_profile(self.spark.read.parquet(f"{self.dir}/docs"))
            noop(prof.select("doc_id", "text", "verdict", "lang_guess"))
        kept = self.spark.read.parquet(f"{self.chains[-1]['dir']}/keepers").select(
            F.col("keep_id").alias("doc_id"), "text")
        with self.tr.span("dedup", "lsh_candidates") as rec:
            sigs = dedup.minhash_profile(kept).filter(F.col("n_sh") > 0).drop("shset")
            rec["candidates"] = dedup.lsh_candidates(sigs, 8, 2).count()
        self.spark.catalog.clearCache()
        # the similarity layer: build, search, append, search again;
        # once untraced on a throwaway index, so the traced calls run warm
        self.tr.enabled = False
        self._similarity(self.fresh("index", "warm"))
        self.builds, self.searches, self.appends = [], [], []
        self.tr.enabled = True
        self._similarity(self.fresh("index", "probe"))

    def _similarity(self, index: str) -> None:
        from flink_etl_spark.operators import similarity

        vec = f"{self.dir}/vectors"
        base = self.spark.read.parquet(f"{vec}/base").select("vec_id", "embedding")
        pool = self.spark.read.parquet(f"{vec}/append").select("vec_id", "embedding")
        with self.tr.span("similarity", "build") as rec:
            similarity.ivfpq_build_index(base, index, **self.INDEX)
        self.builds.append(rec)
        self._search(index, base, self.facts["vectors"]["n_base"])
        with self.tr.span("similarity", "append") as rec:
            rec["added"] = similarity.ivfpq_append_index(self.spark, pool, index)
        self.appends.append(rec)
        self._search(index, base.unionByName(pool),
                     self.facts["vectors"]["n_base"] + self.facts["vectors"]["n_append"])

    def _search(self, index: str, corpus, n_indexed: int) -> None:
        """One batch of query vectors against the index, reranked
        against `corpus` (the `n_indexed` vectors indexed so far)."""
        from flink_etl_spark.operators import similarity

        lo = self.BATCH * len(self.searches)
        queries = self.spark.read.parquet(f"{self.dir}/vectors/queries").filter(
            F.col("vec_id").between(10**9 + lo, 10**9 + lo + self.BATCH - 1))
        out = self.fresh("search", f"{os.path.basename(index)}-{lo}")
        with self.tr.span("similarity", "search") as rec:
            similarity.ivfpq_search_index(
                self.spark, index, queries.select("vec_id", "embedding"), k=self.K,
                nprobe=self.NPROBE, rerank=self.RERANK, corpus=corpus).write.parquet(out)
        rec.update(out=out, lo=lo, n_indexed=n_indexed)
        self.searches.append(rec)

    def end_to_end(self, traced: bool) -> tuple[dict, dict]:
        chains = self.pick(self.chains, traced, lambda c: c["spans"][0])
        walls = [sum(s["wall_s"] for s in c["spans"]) for c in chains]
        front = [c["spans"][0]["wall_s"] for c in chains]
        near = [c["spans"][1]["wall_s"] for c in chains]
        tail_s, pct = tail(walls)
        return ({
            "throughput_rps": (self.facts["n_docs"] / statistics.median(front), "records/s"),
            "job_s": (statistics.median(walls), "s"),
            "latency_p50_s": (statistics.median(near), "s"),
            "latency_tail_s": (tail_s, "s"),
        }, {"tail_percentile": pct, "chain_s": walls, "keepers_s": front, "near_dups_s": near})

    def check(self) -> None:
        groups = self.facts["exact_groups"]
        pairs = {tuple(p) for p in self.facts["near_pairs"]}
        for c in self.chains:
            self.attempted += 3
            k = ds.dataset(f"{c['dir']}/keepers").to_table(columns=["keep_id", "n_copies"])
            copies = dict(zip(k.column("keep_id").to_pylist(), k.column("n_copies").to_pylist()))
            if any(copies.get(g[0]) != len(g) or any(j in copies for j in g[1:]) for g in groups):
                self.failed += 1
            n = ds.dataset(f"{c['dir']}/near").to_table()
            found = set(zip(n.column("doc_a").to_pylist(), n.column("doc_b").to_pylist()))
            if not pairs <= found:
                self.failed += 1
            f = ds.dataset(f"{c['dir']}/fingerprints").to_table()
            a, b = np.asarray(f.column("doc_a")), np.asarray(f.column("doc_b"))
            if f.num_rows == 0 or not (a < b).all() or not set(a) | set(b) <= set(copies):
                self.failed += 1
        self._check_similarity()

    def _check_similarity(self) -> None:
        """Each probe search's recall@k against a numpy brute-force
        top-k over the vectors indexed at that moment; each append adds
        the whole pool."""
        vec = f"{self.dir}/vectors"
        if not self.searches:
            return
        base, pool = np.load(f"{vec}/base.npy"), np.load(f"{vec}/append.npy")
        queries = np.load(f"{vec}/queries.npy")
        for s in self.searches:
            self.attempted += 1
            extra = s["n_indexed"] - len(base)
            corpus = np.concatenate([base, pool[:extra]]) if extra else base
            qv = queries[s["lo"]:s["lo"] + self.BATCH]
            truth = oracle.brute_topk(corpus, qv, self.K)
            got = ds.dataset(s["out"]).to_table(columns=["query_id", "neighbor_id"])
            by_q: dict[int, set] = {}
            for q, n in zip(got.column("query_id").to_pylist(), got.column("neighbor_id").to_pylist()):
                by_q.setdefault(q - 10**9 - s["lo"], set()).add(n)
            hits = sum(len(by_q.get(j, set()) & set(truth[j].tolist())) for j in range(len(qv)))
            recall = hits / (len(qv) * self.K)
            self.recalls.append(recall)
            if recall < self.RECALL_FLOOR:
                self.failed += 1
        self.checked["recall_at_k"] = self.recalls
        for a in self.appends:
            self.attempted += 1
            if a["added"] != len(pool):
                self.failed += 1

    def layers(self) -> dict:
        prof = self.spans("text", "doc_profile")
        ex = self.spans("dedup", "exact_dedup")
        mh = self.spans("dedup", "minhash_near_dups")
        cands = [s["candidates"] for s in self.spans("dedup", "lsh_candidates")]
        near = ds.dataset(f"{self.chains[-1]['dir']}/near").to_table().num_rows
        return {
            "text.doc_profile_s": _med(s["cpu_s"] for s in prof),
            "dedup.exact_dedup_s": _share(ex, prof),
            "dedup.minhash_s": _med(s["wall_s"] for s in mh),
            "dedup.lsh_candidates": _med(cands),
            "dedup.lsh_precision": near / max(1.0, _med(cands)),
            "prep.fingerprint_s": _med(s["wall_s"] for s in self.spans("prep")),
            "dedup.shuffle_bytes": _med(a["shuffle_bytes"] + b["shuffle_bytes"]
                                        for a, b in zip(ex, mh)),
            "similarity.build_s": _med(b["wall_s"] for b in self.builds),
            "similarity.build_jobs": _med(b["jobs"] for b in self.builds),
            "similarity.search_jobs": _med(s["jobs"] for s in self.searches),
            "similarity.search_driver_s": _med(s["driver_s"] for s in self.searches),
            "similarity.search_exec_s": _med(s["jobs_s"] for s in self.searches),
            "similarity.search_files_read": _med(s["files_read"] for s in self.searches),
            "similarity.append_jobs": _med(a["jobs"] for a in self.appends),
            "similarity.recall_at_k": float(np.mean(self.recalls)) if self.recalls else 0.0,
        }


WORKLOADS = {w.name: w for w in (Cdc, Corpus)}
