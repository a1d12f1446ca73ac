"""Seeded input generators for the two workloads.

Everything here is plain numpy / json / pyarrow: the program under test
only ever sees the files these functions write. The same (workload,
size, seed) always yields byte-identical inputs, and `cached` writes
them once per key under the benchmark's work directory.

Each generator also returns the facts its correctness check needs
(planted duplicate groups, per-dt DML counts, ...) as a JSON-able dict
stored beside the files.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: the merged day; late records land on the day before
DAY = "20240315"
_DAY_MS = int(datetime(2024, 3, 15, tzinfo=timezone.utc).timestamp() * 1000)
_MS_PER_DAY = 86_400_000
FALLBACK_DT = "00000000"


def cached(root: str, key: str, build) -> tuple[str, dict]:
    """Return (directory, facts) for `key`, building it with
    `build(tmp_dir) -> facts` when absent. The build goes to a sibling
    temp directory that is renamed into place, so a killed run never
    leaves a half-written input behind."""
    out = os.path.join(root, key)
    facts_path = os.path.join(out, "facts.json")
    if not os.path.exists(facts_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        facts = build(tmp)
        with open(os.path.join(tmp, "facts.json"), "w") as f:
            json.dump(facts, f)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
    with open(facts_path) as f:
        return out, json.load(f)


def _dt(es: int | None) -> str:
    if es is None:
        return FALLBACK_DT
    return datetime.fromtimestamp(es / 1000, tz=timezone.utc).strftime("%Y%m%d")


def _zipf_ranks(rng: np.random.Generator, n_keys: int, size: int, s: float) -> np.ndarray:
    """`size` draws of a key rank in [0, n_keys) with P(r) ~ 1/(r+1)^s."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return rng.choice(n_keys, size=size, p=p / p.sum())


# ---------------------------------------------------------------------------
# cdc: Canal change log + base snapshot
# ---------------------------------------------------------------------------

CDC_PAYLOAD = ("code", "city", "province")


def _code(k: int) -> str:
    return f"k{k:07d}"


def build_cdc(out: str, seed: int, n_files: int, lines_per_file: int,
              snapshot_factor: int = 6) -> dict:
    """A Canal JSONL change log of `n_files` equal files plus a base
    snapshot of the `code_city` table (FIXTURES §1-2).

    The log carries ~1% DDL records, a few malformed lines, `data:[]`
    and `data:[null]` records, multi-row `data`, records without `es`
    (partition 00000000), ~6% late records dated the previous day,
    boolean `isDdl`, and Zipf-skewed keys, a fifth of which are absent
    from the snapshot (inserts). Envelope `ts` strictly increases, so
    `(es, ts)` orders every key's history without ties even where two
    records of one key share an `es` second.

    The snapshot holds `snapshot_factor` x the number of keys the log
    can touch, so it is at least 5x the day's distinct delta keys."""
    rng = np.random.default_rng(seed)
    n_lines = n_files * lines_per_file
    key_space = max(64, n_lines // 4)
    n_snap = key_space * snapshot_factor
    # hot ranks map to scattered keys; 20% of touched keys are new
    perm = rng.permutation(n_snap)[:key_space]
    new = rng.random(key_space) < 0.2
    perm[new] = n_snap + np.arange(int(new.sum()))

    kind = rng.random(n_lines)
    n_rows = np.where(rng.random(n_lines) < 0.03, rng.integers(2, 4, n_lines), 1)
    ranks = _zipf_ranks(rng, key_space, int(n_rows.sum()), 1.1)
    es_sec = rng.integers(0, 86_400, n_lines)
    late = rng.random(n_lines) < 0.06
    no_es = rng.random(n_lines) < 0.01
    types = rng.choice(["INSERT", "UPDATE", "DELETE"], n_lines, p=[0.3, 0.6, 0.1])
    cities = rng.integers(0, 500, int(n_rows.sum()))
    malformed = set(rng.choice(n_lines, size=max(3, n_lines // 20_000), replace=False).tolist())

    dml_rows: dict[str, int] = {}
    day_keys: set[int] = set()
    n_ddl = n_malformed = n_dml = 0
    row_i = 0
    lines = []
    for i in range(n_lines):
        seq = 1_000_000 + i
        ts = _DAY_MS + 1_000 * i + 7
        if i in malformed:
            lines.append('{"isDdl":"false","id":%d,"es":%d,"data":[{"code"' % (seq, ts))
            n_malformed += 1
            continue
        if kind[i] < 0.01:
            lines.append(json.dumps({
                "isDdl": "true", "id": seq, "es": ts, "ts": ts, "type": "ALTER",
                "sql": "ALTER TABLE code_city ADD COLUMN note varchar(32)",
                "data": None, "database": "qfbap_ods", "table": "code_city",
            }, separators=(",", ":")))
            n_ddl += 1
            continue
        env: dict = {"isDdl": False if kind[i] < 0.06 else "false", "id": seq}
        es = None
        if not no_es[i]:
            es = _DAY_MS - (_MS_PER_DAY if late[i] else 0) + 1_000 * int(es_sec[i])
            env["es"] = es
        env["ts"] = ts
        env["type"] = str(types[i])
        k = int(n_rows[i])
        if kind[i] > 0.995:
            env["data"] = []
        elif kind[i] > 0.993:
            env["data"] = [None]
        else:
            seen = set()
            data = []
            for r in range(k):
                key = int(perm[ranks[row_i + r]])
                if key in seen:  # one row image per key per record
                    continue
                seen.add(key)
                c = int(cities[row_i + r])
                data.append({"code": _code(key), "city": f"city{c:03d}",
                             "province": f"prov{c % 34:02d}"})
            env["data"] = data
            d = _dt(es)
            dml_rows[d] = dml_rows.get(d, 0) + len(data)
            if d == DAY:
                day_keys.update(seen)
        row_i += k
        env["database"] = "qfbap_ods"
        env["table"] = "code_city"
        n_dml += 1
        lines.append(json.dumps(env, separators=(",", ":")))

    log_dir = os.path.join(out, "log")
    os.makedirs(log_dir)
    for f in range(n_files):
        chunk = lines[f * lines_per_file:(f + 1) * lines_per_file]
        with open(os.path.join(log_dir, f"binlog-{f:04d}.json"), "w") as fh:
            fh.write("\n".join(chunk) + "\n")

    snap_keys = np.arange(n_snap)
    snap_city = rng.integers(0, 500, n_snap)
    table = pa.table({
        "code": [_code(int(k)) for k in snap_keys],
        "city": [f"city{int(c):03d}" for c in snap_city],
        "province": [f"prov{int(c) % 34:02d}" for c in snap_city],
        "event_time": (_DAY_MS - 30 * _MS_PER_DAY
                       + rng.integers(0, 29 * _MS_PER_DAY, n_snap)).astype(np.int64),
    })
    os.makedirs(os.path.join(out, "snapshot"))
    pq.write_table(table, os.path.join(out, "snapshot", "part-0.parquet"))
    return {
        "n_lines": n_lines, "n_ddl": n_ddl, "n_malformed": n_malformed,
        "n_dml": n_dml, "dml_rows_by_dt": dml_rows, "n_snapshot": n_snap,
        "day_keys": len(day_keys),
    }


# ---------------------------------------------------------------------------
# corpus: documents with planted exact and near duplicates
# ---------------------------------------------------------------------------

_EN = ("the", "a", "of", "and", "to", "in", "is", "it")
_ES = ("el", "la", "de", "que", "y", "en", "un", "es")


#: tokens per full-length document, and parquet files per corpus
DOC_TOKENS, DOC_SHARDS = 120, 8


def build_corpus(out: str, seed: int, n_docs: int) -> dict:
    """`n_docs` documents over a Zipfian 20k-word vocabulary, written as
    `DOC_SHARDS` parquet files (doc_id, text, lang, source, n_chars).

    ~85% are English-like and pass the quality/lang filter, ~10% are
    Spanish-like and ~5% are short — both filtered out. Among the
    English docs, exact-duplicate groups of 2-4 copies and
    near-duplicate pairs (3 token substitutions, shingle Jaccard ~0.9)
    are planted at known ids."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(20_000)])
    p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    p /= p.sum()

    def english(n: int) -> list[str]:
        toks = vocab[rng.choice(len(vocab), size=n, p=p)].tolist()
        for j in np.nonzero(rng.random(n) < 0.3)[0]:
            toks[j] = _EN[rng.integers(0, len(_EN))]
        return toks

    texts: list[str] = []
    langs: list[str] = []
    for _ in range(n_docs):
        r = rng.random()
        if r < 0.10:
            toks = vocab[rng.choice(len(vocab), size=DOC_TOKENS, p=p)].tolist()
            for j in np.nonzero(rng.random(DOC_TOKENS) < 0.4)[0]:
                toks[j] = _ES[rng.integers(0, len(_ES))]
            langs.append("es")
        elif r < 0.15:
            toks = english(int(rng.integers(5, 30)))
            langs.append("en")
        else:
            toks = english(DOC_TOKENS)
            langs.append("en")
        texts.append(" ".join(toks))

    # plant duplicates over long English docs, each id used once
    long_en = [i for i in range(n_docs) if langs[i] == "en"
               and texts[i].count(" ") + 1 == DOC_TOKENS]
    pool = rng.permutation(long_en).tolist()
    n_groups = max(2, n_docs // 200)
    n_pairs = max(2, n_docs // 200)
    exact_groups: list[list[int]] = []
    for _ in range(n_groups):
        size = int(rng.integers(2, 5))
        ids = sorted(pool.pop() for _ in range(size))
        for j in ids[1:]:
            texts[j] = texts[ids[0]]
        exact_groups.append(ids)
    near_pairs: list[list[int]] = []
    for _ in range(n_pairs):
        a, b = sorted((pool.pop(), pool.pop()))
        toks = texts[a].split(" ")
        for j in rng.choice(len(toks), size=3, replace=False):
            toks[j] = f"edit{int(rng.integers(0, 10**6))}"
        texts[b] = " ".join(toks)
        near_pairs.append([a, b])

    ids = np.arange(n_docs, dtype=np.int64)
    os.makedirs(os.path.join(out, "docs"))
    for s in range(DOC_SHARDS):
        sel = ids[s::DOC_SHARDS]
        pq.write_table(pa.table({
            "doc_id": sel,
            "text": [texts[i] for i in sel],
            "lang": [langs[i] for i in sel],
            "source": [f"src{i % 7}" for i in sel],
            "n_chars": np.array([len(texts[i]) for i in sel], dtype=np.int64),
        }), os.path.join(out, "docs", f"part-{s:02d}.parquet"))
    return {"n_docs": n_docs, "exact_groups": exact_groups, "near_pairs": near_pairs}


# ---------------------------------------------------------------------------
# vectors: clustered embeddings (the corpus's similarity probe)
# ---------------------------------------------------------------------------


#: vector dimension, clusters, and each cluster's intrinsic dimension
DIM, CLUSTERS, RANK = 64, 32, 4


def build_vectors(out: str, seed: int, n_base: int, n_append: int, n_queries: int) -> dict:
    """Clustered vectors with labels: a base corpus (ids 0..n_base-1),
    an append pool (ids from n_base on) and a query pool (ids from 10^9
    on, never indexed), all drawn from the same `CLUSTERS` clusters.
    Each cluster spreads along its own `RANK`-dimensional subspace plus
    a little isotropic noise, the low-dimensional structure real
    embeddings have. Written as parquet (vec_id, embedding array<float>,
    label) plus one .npy per set for the brute-force oracle."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(CLUSTERS, DIM))
    spans = rng.normal(size=(CLUSTERS, RANK, DIM)) / 4

    def draw(n: int, first_id: int, name: str) -> None:
        labels = rng.integers(0, CLUSTERS, n)
        z = rng.normal(size=(n, RANK))
        vecs = (centers[labels] + np.einsum("nk,nkd->nd", z, spans[labels])
                + 0.02 * rng.normal(size=(n, DIM))).astype(np.float32)
        ids = np.arange(first_id, first_id + n, dtype=np.int64)
        d = os.path.join(out, name)
        os.makedirs(d)
        pq.write_table(pa.table({
            "vec_id": ids,
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }), os.path.join(d, "part-0.parquet"))
        np.save(os.path.join(out, f"{name}.npy"), vecs)

    draw(n_base, 0, "base")
    draw(n_append, n_base, "append")
    draw(n_queries, 10**9, "queries")
    return {"n_base": n_base, "n_append": n_append, "n_queries": n_queries}
