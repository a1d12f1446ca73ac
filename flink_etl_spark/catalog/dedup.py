"""Dedup catalog queries over `documents` / `embeddings`.

The MinHash/SimHash oracle SQL is generated programmatically from the
same coefficient tables the Spark operators use
(functions/hashing.py) — one source of truth for the hash math.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from flink_etl_spark.catalog import _t, query
from flink_etl_spark.functions.hashing import (
    MERSENNE_P,
    MINHASH_COEFFS,
    SIMHASH_COEFFS,
    duckdb_char_fold_hash,
)
from flink_etl_spark.functions.vectors import duckdb_cosine, duckdb_dot
from flink_etl_spark.operators import dedup as D

# shared oracle CTE fragments ------------------------------------------------

#: distinct (doc_id, shingle) postings from token 3-shingles
SHINGLE_CTES = """
toks AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents),
sh AS (
    SELECT DISTINCT doc_id, s
    FROM toks, UNNEST(
        CASE WHEN len(t) >= 3
             THEN list_transform(range(1, len(t) - 1),
                                 i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
             ELSE [] END) AS u(s)
),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
jac AS (
    SELECT doc_a, doc_b,
           floor(CAST(shared AS DOUBLE) * 1000000.0 / CAST(ca.c + cb.c - shared AS DOUBLE)) / 1000000.0 AS jaccard
    FROM pairs
    JOIN cnt ca ON ca.doc_id = doc_a
    JOIN cnt cb ON cb.doc_id = doc_b
)
"""


#: span CTE for the span_dedup oracle arms: fixed 20-token windows with
#: 0-based positions, mirroring operators/prep.span_dedup exactly
_SPAN_K = 20
_SPAN_CTE = f"""
    sp AS (
        SELECT doc_id, CAST(g.i AS INT) AS pos,
               array_to_string(tk[g.i*{_SPAN_K}+1 : g.i*{_SPAN_K}+{_SPAN_K}],
                               ' ') AS span
        FROM (SELECT doc_id,
                     regexp_split_to_array(coalesce(text, ''), ' +') AS tk
              FROM documents) t,
             UNNEST(generate_series(
                 0, CAST((len(tk)+{_SPAN_K - 1})//{_SPAN_K} AS BIGINT) - 1))
             AS g(i)
    )
"""


#: substring (offset-robust anchor) CTEs for the span_offset oracle
#: arm: 15-token stride-1 anchors, first occurrence by (doc_id, pos),
#: token dropped when covered by any non-winning anchor window —
#: mirroring operators/prep.substring_dedup(min_tokens=15, key="digest")
_SUBSTR_K = 15
_SUBSTR_CTE = f"""
    atk AS (
        SELECT doc_id,
               regexp_split_to_array(coalesce(text, ''), ' +') AS tk
        FROM documents
    ),
    anch AS (
        SELECT doc_id, CAST(g.i AS INT) AS pos,
               sha256(array_to_string(tk[g.i+1 : g.i+{_SUBSTR_K}], ' ')) AS h
        FROM atk,
             UNNEST(generate_series(
                 0, CAST(len(tk) AS BIGINT) - {_SUBSTR_K})) AS g(i)
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
             UNNEST(generate_series(pos, pos + {_SUBSTR_K - 1})) AS u(i)
    ),
    stok AS (
        SELECT doc_id, CAST(g.i AS INT) AS ti, tk[g.i+1] AS tok
        FROM atk,
             UNNEST(generate_series(0, CAST(len(tk) AS BIGINT) - 1)) AS g(i)
    ),
    srb AS (
        SELECT t.doc_id,
               count(*) FILTER (WHERE c.ti IS NULL) AS n_kept,
               string_agg(tok, ' ' ORDER BY t.ti)
                   FILTER (WHERE c.ti IS NULL) AS txt
        FROM stok t
        LEFT JOIN scov c ON c.doc_id = t.doc_id AND c.ti = t.ti
        GROUP BY t.doc_id
    )
"""

_SUBSTR_ORACLE_ARM = """
    SELECT 'span_offset' AS variant,
           a.doc_id AS keep_id,
           coalesce(s.n_kept, 0) AS n_copies,
           concat(CAST(len(a.tk) AS VARCHAR), ':',
                  coalesce(s.txt, '')) AS detail
    FROM atk a LEFT JOIN srb s USING (doc_id)
"""

#: winnowing-fingerprint CTEs for the span_winnow oracle arm: from
#: every window of _WINNOW_W consecutive anchors keep the rightmost
#: minimal hash (min over struct(h, -pos); short docs keep their
#: whole-array min via the least(W, mtot) full-window condition),
#: then the same first-occurrence + coverage rebuild restricted to
#: selected anchors — mirroring substring_dedup(winnow=_WINNOW_W)
_WINNOW_W = 4
_WINNOW_CTE = f"""
    wselraw AS (
        SELECT doc_id,
               min(struct_pack(h := h, np := -pos)) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
               ) AS msel,
               count(*) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
               ) AS wcnt,
               count(*) OVER (PARTITION BY doc_id) AS mtot
        FROM anch
    ),
    wsel AS (
        SELECT DISTINCT doc_id, -(msel.np) AS pos, msel.h AS h
        FROM wselraw WHERE wcnt = least({_WINNOW_W}, mtot)
    ),
    wdup AS (
        SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY h
                                      ORDER BY doc_id, pos) AS rn
            FROM wsel) r
        WHERE rn > 1
    ),
    wcov AS (
        SELECT DISTINCT doc_id, CAST(u.i AS INT) AS ti
        FROM wdup,
             UNNEST(generate_series(pos, pos + {_SUBSTR_K - 1})) AS u(i)
    ),
    wrb AS (
        SELECT t.doc_id,
               count(*) FILTER (WHERE c.ti IS NULL) AS n_kept,
               string_agg(tok, ' ' ORDER BY t.ti)
                   FILTER (WHERE c.ti IS NULL) AS txt
        FROM stok t
        LEFT JOIN wcov c ON c.doc_id = t.doc_id AND c.ti = t.ti
        GROUP BY t.doc_id
    )
"""

_WINNOW_ORACLE_ARM = """
    SELECT 'span_winnow' AS variant,
           a.doc_id AS keep_id,
           coalesce(s.n_kept, 0) AS n_copies,
           concat(CAST(len(a.tk) AS VARCHAR), ':',
                  coalesce(s.txt, '')) AS detail
    FROM atk a LEFT JOIN wrb s USING (doc_id)
"""

#: incremental-arm CTEs for the span_inc oracle: even doc_ids are the
#: staged anchor index (the index ALWAYS wins), odd doc_ids the batch —
#: a batch token drops when covered by an index-present anchor or a
#: non-first batch repeat, mirroring prep.substring_dedup_incremental
_INC_CTE = f"""
    ikeys AS (SELECT DISTINCT h FROM anch WHERE doc_id % 2 = 0),
    bnarrow AS (SELECT doc_id, pos, h FROM anch WHERE doc_id % 2 = 1),
    bdup AS (
        SELECT doc_id, pos
        FROM (SELECT doc_id, pos,
                     row_number() OVER (PARTITION BY h
                                        ORDER BY doc_id, pos) AS rn
              FROM bnarrow
              WHERE h NOT IN (SELECT h FROM ikeys)) r
        WHERE rn > 1
        UNION ALL
        SELECT doc_id, pos FROM bnarrow
        WHERE h IN (SELECT h FROM ikeys)
    ),
    bcov AS (
        SELECT DISTINCT doc_id, CAST(u.i AS INT) AS ti
        FROM bdup,
             UNNEST(generate_series(pos, pos + {_SUBSTR_K - 1})) AS u(i)
    ),
    brb AS (
        SELECT t.doc_id,
               count(*) FILTER (WHERE c.ti IS NULL) AS n_kept,
               string_agg(tok, ' ' ORDER BY t.ti)
                   FILTER (WHERE c.ti IS NULL) AS txt
        FROM (SELECT * FROM stok WHERE doc_id % 2 = 1) t
        LEFT JOIN bcov c ON c.doc_id = t.doc_id AND c.ti = t.ti
        GROUP BY t.doc_id
    )
"""

_INC_ORACLE_ARM = """
    SELECT 'span_inc' AS variant,
           a.doc_id AS keep_id,
           coalesce(s.n_kept, 0) AS n_copies,
           concat(CAST(len(a.tk) AS VARCHAR), ':',
                  coalesce(s.txt, '')) AS detail
    FROM (SELECT * FROM atk WHERE doc_id % 2 = 1) a
    LEFT JOIN brb s USING (doc_id)
"""


#: anchor dirs already staged by THIS process (dedup_exact_docs skips
#: the corpus anchor pass + write on re-construction — see its note)
_STAGED_ANCHOR_DIRS: set[str] = set()


def _substr_anchors_dir(sf_dir: str) -> str:
    """Process-cached staging dir for the shared anchored-corpus frame
    (doc_id, _toks, _a) all three substring arms read — anchoring is
    the dominant scan-side cost, so the gate pays it once."""
    from flink_etl_spark.catalog import process_workdir

    return (
        f"{process_workdir('substr_anchors')}/"
        f"{sf_dir.strip('/').replace('/', '_')}"
    )


def _span_oracle_arm(variant: str, partition: str) -> str:
    """One span_dedup oracle arm: first-occurrence keep over the given
    window partition ('sha256(span)' global / 'doc_id, sha256(span)'
    within-doc), per-doc rebuild via ordered string_agg."""
    return f"""
    SELECT '{variant}' AS variant,
           doc_id AS keep_id,
           count(*) FILTER (WHERE rn = 1) AS n_copies,
           concat(CAST(count(*) AS VARCHAR), ':',
                  coalesce(string_agg(span, ' ' ORDER BY pos)
                           FILTER (WHERE rn = 1), '')) AS detail
    FROM (SELECT doc_id, pos, span,
                 row_number() OVER (PARTITION BY {partition}
                                    ORDER BY doc_id, pos) AS rn
          FROM sp) r
    GROUP BY doc_id
    """


@query(
    "dedup_exact_docs",
    f"""
    WITH {_SPAN_CTE},
    {_SUBSTR_CTE},
    {_WINNOW_CTE},
    {_INC_CTE}
    SELECT 'content' AS variant,
           min(doc_id) AS keep_id,
           count(*) AS n_copies,
           CAST(length(text) AS VARCHAR) AS detail
    FROM documents
    GROUP BY text
    UNION ALL
    SELECT 'digest' AS variant,
           min(doc_id) AS keep_id,
           count(*) AS n_copies,
           digest AS detail
    FROM (SELECT doc_id, sha256(text) AS digest FROM documents)
    GROUP BY digest
    UNION ALL
    {_span_oracle_arm("span_global", "sha256(span)")}
    UNION ALL
    {_span_oracle_arm("span_within", "doc_id, sha256(span)")}
    UNION ALL
    {_SUBSTR_ORACLE_ARM}
    UNION ALL
    {_WINNOW_ORACLE_ARM}
    UNION ALL
    {_INC_ORACLE_ARM}
    """,
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup, BOTH shuffle-key strategies gated (former gates
    `dedup_exact_docs` + `dedup_exact_digest`, folded):

    * variant 'content' — groupBy on the full text; canonical row =
      min id; detail = text length.
    * variant 'digest' — keyed on a SHA-256 digest: the at-scale
      variant, where the shuffle carries 64-byte keys instead of
      documents. Collision probability (~n^2 / 2^257) is below
      hardware error rates; both engines compute the identical
      digest, so the oracle matches on the digest itself (detail).
    * variants 'span_global' / 'span_within' (r5) — SUB-document
      dedup (`operators/prep.span_dedup`, the public C4/RefinedWeb
      line-dedup heuristic over fixed 20-token spans): one row per
      doc, n_copies = spans kept, detail = 'n_spans:rebuilt_text'.
      The global arm pins key='digest' (the production sha256
      exchange, replicated by the oracle's sha256 window partition);
      within-doc is the zero-shuffle row-local arm.
    * variant 'span_offset' (r6) — OFFSET-ROBUST substring dedup
      (`operators/prep.substring_dedup`, the Lee et al. 2022
      ExactSubstr method via stride-1 overlapping 15-token anchors):
      catches duplicated passages the fixed span grid misses when
      shifted by any offset. One row per doc, n_copies = tokens
      kept, detail = 'n_tokens:rebuilt_text'. Gated on key='digest'
      (oracle-replicable sha256 anchors); the hash64 production arm
      is unit-tested equivalent.
    * variant 'span_winnow' (r6) — the same anchors sampled by
      WINNOWING fingerprint selection (Schleimer et al. 2003, w=4):
      ~2/(w+1) of the anchor exchange with the detection guarantee
      intact for passages >= min_tokens + w - 1, at up to w-1
      boundary tokens of removal slop per passage end. The 100 TB
      cost/recall dial between span_offset (exact, densest) and the
      span grid (cheapest, alignment-fragile).
    * variant 'span_inc' (r6) — INCREMENTAL substring dedup
      (prep.substring_dedup_incremental's scrub): even doc_ids staged
      as the anchor-key index (keys only, meta sidecar), odd doc_ids
      scrubbed against it + their own repeats. The index never
      shuffles (batch keys broadcast into a semi-join); one row per
      BATCH doc.

    EAGER SIDE EFFECT at query-CONSTRUCTION time (the minhash-gate
    staged-profile precedent): building this plan anchors the corpus
    once and writes ONE process-workdir parquet staging — the shared
    anchored frame (doc_id, _toks, _a) all three substring arms
    re-read instead of re-anchoring per arm. An explain-only harness
    (tools/dump_plans.py) therefore executes that write. The span_inc
    arm scrubs against an IN-PLAN even-doc key index derived from the
    same staged frame; the parquet-staged index path itself
    (substring_stage_index + meta sidecar) is covered by the unit and
    streaming suites (tests/test_prep.py, tests/test_streaming.py)."""
    from flink_etl_spark.operators.prep import span_dedup

    docs = _t(spark, sf_dir, "documents")
    content = D.exact_dedup(docs, ["text"], "doc_id").select(
        F.lit("content").alias("variant"),
        "keep_id",
        "n_copies",
        F.length("text").cast("string").alias("detail"),
    )
    digest = (
        docs.select("doc_id", F.sha2("text", 256).alias("digest"))
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select(
            F.lit("digest").alias("variant"),
            "keep_id",
            "n_copies",
            F.col("digest").alias("detail"),
        )
    )

    def span_arm(variant: str, scope: str) -> DataFrame:
        return span_dedup(
            docs, span_tokens=_SPAN_K, scope=scope, key="digest"
        ).select(
            F.lit(variant).alias("variant"),
            F.col("doc_id").alias("keep_id"),
            F.col("n_spans_kept").alias("n_copies"),
            F.concat(
                F.col("n_spans").cast("string"), F.lit(":"), F.col("dedup_text")
            ).alias("detail"),
        )

    from flink_etl_spark.operators.prep import (
        _substring_anchors,
        _substring_dedup_from_anchors,
        _substring_narrow,
        _substring_scrub,
    )

    # anchor ONCE, stage, and fan the three substring arms out from
    # the staged frame (see the eager-side-effect note above).
    # Measured at sf0.01 in driver_sim: rescue_scan_parallelism on the
    # staging write was ~2x faster in an engine session but +45% WALL
    # in the driver's vanilla session (32 tiny staged files fan every
    # downstream arm into tiny-task overhead) — so the staging stays
    # serial-scan here, matching the exchange-minimal gate rule.
    # Staged once per (process, sf_dir): explain-only/plan-dump
    # harnesses re-construct this gate repeatedly in one session, and
    # each construction was a full corpus anchor pass + disk write
    # (process_workdir dirs are process-private, inputs immutable for
    # a session — the same-dir-overwrite hazard is within-process only,
    # which this set also removes).
    anchors_dir = _substr_anchors_dir(sf_dir)
    if anchors_dir not in _STAGED_ANCHOR_DIRS:
        _substring_anchors(
            docs, _SUBSTR_K, 1, "doc_id", "text", "digest"
        ).write.mode("overwrite").parquet(anchors_dir)
        _STAGED_ANCHOR_DIRS.add(anchors_dir)
    anchored = spark.read.parquet(anchors_dir)

    def _shape(df: DataFrame, variant: str) -> DataFrame:
        return df.select(
            F.lit(variant).alias("variant"),
            F.col("doc_id").alias("keep_id"),
            F.col("n_tokens_kept").alias("n_copies"),
            F.concat(
                F.col("n_tokens").cast("string"), F.lit(":"),
                F.col("dedup_text"),
            ).alias("detail"),
        )

    def substr_arm(variant: str, w: int) -> DataFrame:
        return _shape(
            _substring_dedup_from_anchors(
                anchored, _SUBSTR_K, 1, w, "doc_id", "dedup_text"
            ),
            variant,
        )

    index_df = (
        _substring_narrow(anchored.filter("doc_id % 2 = 0"), "doc_id", 1)
        .select(F.col("_k").alias("anchor_key"))
        .distinct()
    )
    inc_arm = _shape(
        _substring_scrub(
            anchored.filter("doc_id % 2 = 1"), index_df,
            _SUBSTR_K, 1, "doc_id", "dedup_text", True,
        ),
        "span_inc",
    )

    return (
        content.unionByName(digest)
        .unionByName(span_arm("span_global", "global"))
        .unionByName(span_arm("span_within", "within_doc"))
        .unionByName(substr_arm("span_offset", 1))
        .unionByName(substr_arm("span_winnow", _WINNOW_W))
        .unionByName(inc_arm)
    )


_DECONTAM_PAD = """
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS n_shared_grams,
           CAST(NULL AS BIGINT) AS n_bench_docs,
           CAST(NULL AS BIGINT) AS contaminated
"""


#: winnowing-fingerprint candidate-pair CTEs for the fp_candidates
#: arm: the dedup_exact_docs winnow-selection SQL (same k/w), reduced
#: to DISTINCT per-doc fingerprints and self-joined into pair counts —
#: mirroring operators/prep.fingerprint_candidates(min_tokens=15,
#: winnow=4, key='digest')
_FP_CTES = f"""
fatk AS (
    SELECT doc_id,
           regexp_split_to_array(coalesce(text, ''), ' +') AS tk
    FROM documents
),
fanch AS (
    SELECT doc_id, CAST(g.i AS INT) AS pos,
           sha256(array_to_string(tk[g.i+1 : g.i+{_SUBSTR_K}], ' ')) AS h
    FROM fatk,
         UNNEST(generate_series(
             0, CAST(len(tk) AS BIGINT) - {_SUBSTR_K})) AS g(i)
),
fselraw AS (
    SELECT doc_id,
           min(struct_pack(h := h, np := -pos)) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
           ) AS msel,
           count(*) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
           ) AS wcnt,
           count(*) OVER (PARTITION BY doc_id) AS mtot
    FROM fanch
),
ffp AS (
    SELECT DISTINCT doc_id, msel.h AS h
    FROM fselraw WHERE wcnt = least({_WINNOW_W}, mtot)
)
"""

_FP_ORACLE_ARM = """
    SELECT 'fp_candidates' AS variant,
           a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard,
           CAST(NULL AS BIGINT) AS doc_id,
           count(*) AS n_shared_grams,
           CAST(NULL AS BIGINT) AS n_bench_docs,
           CAST(NULL AS BIGINT) AS contaminated
    FROM ffp a JOIN ffp b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
"""

#: character-level verification arm: exact Levenshtein over the fp
#: census candidates (threshold 16) — the order-sensitive verdict the
#: token-set arms can't give; edit distance rides the n_shared_grams
#: column (the union schema's integer slot)
_EDIT_MAX = 16
_EDIT_ORACLE_ARM = f"""
    SELECT 'edit_verified' AS variant,
           p.doc_a, p.doc_b,
           CAST(NULL AS DOUBLE) AS jaccard,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(levenshtein(x.text, y.text) AS BIGINT) AS n_shared_grams,
           CAST(NULL AS BIGINT) AS n_bench_docs,
           CAST(NULL AS BIGINT) AS contaminated
    FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ffp a JOIN ffp b ON a.h = b.h AND a.doc_id < b.doc_id
          GROUP BY 1, 2) p
    JOIN documents x ON x.doc_id = p.doc_a
    JOIN documents y ON y.doc_id = p.doc_b
    WHERE levenshtein(x.text, y.text) <= {_EDIT_MAX}
"""

#: cross-corpus overlap arm: fingerprint selection is row-local, so the
#: per-doc fingerprints of a SPLIT corpus equal the full corpus's —
#: the even/odd halves reuse the same ffp CTE, joined a-vs-b with no id
#: ordering (the asymmetric suspect-vs-reference join shape)
_FP_OVERLAP_ARM = """
    SELECT 'fp_overlap' AS variant,
           a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard,
           CAST(NULL AS BIGINT) AS doc_id,
           count(*) AS n_shared_grams,
           CAST(NULL AS BIGINT) AS n_bench_docs,
           CAST(NULL AS BIGINT) AS contaminated
    FROM (SELECT * FROM ffp WHERE doc_id % 2 = 0) a
    JOIN (SELECT * FROM ffp WHERE doc_id % 2 = 1) b ON a.h = b.h
    GROUP BY a.doc_id, b.doc_id
"""


@query(
    "dedup_ngram_jaccard",
    f"""
    WITH {SHINGLE_CTES},
    {_FP_CTES}
    SELECT 'exact' AS variant, doc_a, doc_b, jaccard, {_DECONTAM_PAD}
    FROM jac WHERE jaccard >= 0.8
    UNION ALL
    {_FP_ORACLE_ARM}
    UNION ALL
    {_FP_OVERLAP_ARM}
    UNION ALL
    {_EDIT_ORACLE_ARM}
    UNION ALL
    SELECT 'decontam' AS variant,
           CAST(NULL AS BIGINT) AS doc_a,
           CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS DOUBLE) AS jaccard,
           d.doc_id,
           coalesce(p.n_shared_grams, 0) AS n_shared_grams,
           coalesce(p.n_bench_docs, 0) AS n_bench_docs,
           CASE WHEN coalesce(p.n_shared_grams, 0) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT)
           END AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 != 0) d
    LEFT JOIN (
        -- grams joined as char-fold TERM IDS, mirroring the operator's
        -- id-keyed exchange (the Spark arm pins hash_fn='charfold');
        -- counts are over distinct ids on both sides by construction
        SELECT tr.doc_id,
               count(DISTINCT CASE WHEN be.bench_id IS NOT NULL
                                   THEN tr.g END) AS n_shared_grams,
               count(DISTINCT be.bench_id) AS n_bench_docs
        FROM (SELECT doc_id, {duckdb_char_fold_hash('s')} AS g
              FROM sh WHERE doc_id % 97 != 0) tr
        LEFT JOIN (SELECT DISTINCT doc_id AS bench_id,
                          {duckdb_char_fold_hash('s')} AS g
                   FROM sh WHERE doc_id % 97 = 0) be
               ON tr.g = be.g
        GROUP BY tr.doc_id
    ) p USING (doc_id)
    UNION ALL
    SELECT 'df_pruned' AS variant, doc_a, doc_b, jaccard, {_DECONTAM_PAD}
    FROM (
        WITH
        toksp AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t
                  FROM documents),
        shp0 AS (
            SELECT DISTINCT doc_id, s
            FROM toksp, UNNEST(
                CASE WHEN len(t) >= 3
                     THEN list_transform(range(1, len(t) - 1),
                                         i -> concat_ws(' ', t[i], t[i+1], t[i+2]))
                     ELSE [] END) AS u(s)
        ),
        hot AS (SELECT s FROM shp0 GROUP BY s HAVING count(*) > 2),
        shp AS (SELECT shp0.doc_id, shp0.s FROM shp0 ANTI JOIN hot USING (s)),
        cntp AS (SELECT doc_id, count(*) AS c FROM shp GROUP BY doc_id),
        pairsp AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM shp a JOIN shp b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               floor(CAST(shared AS DOUBLE) * 1000000.0 / CAST(ca.c + cb.c - shared AS DOUBLE)) / 1000000.0 AS jaccard
        FROM pairsp
        JOIN cntp ca ON ca.doc_id = doc_a
        JOIN cntp cb ON cb.doc_id = doc_b
        WHERE floor(CAST(shared AS DOUBLE) * 1000000.0 / CAST(ca.c + cb.c - shared AS DOUBLE)) / 1000000.0 >= 0.6
    )
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram (3-shingle) Jaccard similarity join, both modes gated
    (former gates `dedup_ngram_jaccard` + `dedup_ngram_jaccard_pruned`,
    folded):

    * variant 'exact' — full posting-list self-join, threshold 0.8
      (the labeled exactness baseline);
    * variant 'df_pruned' — max_df=2: hot shingles anti-joined out
      before the posting self-join, capping every posting list (the
      documented stopword-shingle skew mitigation), threshold 0.6;
      Jaccard is then exact over the pruned shingle space;
    * variant 'decontam' — benchmark decontamination
      (operators/prep.decontaminate, the public GPT-3/C4 n-gram-overlap
      methodology): the doc_id % 97 == 0 slice plays the eval set, its
      distinct 3-gram TERM IDS are broadcast (grams travel as 64-bit
      hashes, never strings — hash_fn='charfold' pinned here so the
      oracle folds the identical ids; production default is the
      token-combined xxhash64), and every remaining training doc
      reports shared-gram / benchmark-doc counts and a contaminated
      flag. The corpus side never shuffles for the membership join.
    * variant 'fp_candidates' (r7) — winnowing-fingerprint candidate
      pairs (operators/prep.fingerprint_candidates, the MOSS pair
      census): documents sharing >= 1 selected fingerprint, with the
      shared-fingerprint count in n_shared_grams. The deterministic
      passage-granularity candidate generator — any shared passage of
      >= min_tokens + winnow - 1 tokens GUARANTEES a pair here, which
      shingle-set MinHash only catches probabilistically. Gated on
      key='digest' (oracle-replicable sha256 anchors) with the same
      k/w as dedup_exact_docs' span_winnow arm.
    * variant 'fp_overlap' (r8) — CROSS-corpus fingerprint overlap
      (operators/prep.fingerprint_overlap, the asymmetric MOSS
      suspect-vs-reference setting / passage-granularity provenance
      report): the even-doc_id half plays the suspect corpus against
      the odd half as reference; one row per cross pair sharing a
      selected fingerprint. Same detection guarantee across corpora
      (selection is content-based); the oracle reuses the ffp CTE
      split in two because fingerprinting is row-local.
    * variant 'edit_verified' (r8) — CHARACTER-level verification
      (operators/dedup.edit_distance_pairs): exact Levenshtein over
      the fp census candidates, threshold 16, distance in
      n_shared_grams. The order-sensitive char-granular verdict the
      token-set arms cannot give; never all-pairs (candidates bound
      the O(L^2) work, a length prefilter and Spark's thresholded
      levenshtein bound each pair's cost).
    """
    from flink_etl_spark.operators.prep import (
        decontaminate,
        fingerprint_candidates,
        fingerprint_overlap,
    )

    docs = _t(spark, sf_dir, "documents")

    def _pad(df):
        return df.select(
            "*",
            F.lit(None).cast("long").alias("doc_id"),
            F.lit(None).cast("long").alias("n_shared_grams"),
            F.lit(None).cast("long").alias("n_bench_docs"),
            F.lit(None).cast("long").alias("contaminated"),
        )

    exact = _pad(
        D.jaccard_pairs(docs, threshold=0.8).select(
            F.lit("exact").alias("variant"), "doc_a", "doc_b", "jaccard"
        )
    )
    pruned = _pad(
        D.jaccard_pairs(docs, threshold=0.6, max_df=2).select(
            F.lit("df_pruned").alias("variant"), "doc_a", "doc_b", "jaccard"
        )
    )
    decontam = decontaminate(
        docs.filter("doc_id % 97 != 0"),
        docs.filter("doc_id % 97 = 0"),
        n=3,
        hash_fn="charfold",
    ).select(
        F.lit("decontam").alias("variant"),
        F.lit(None).cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        "doc_id",
        "n_shared_grams",
        "n_bench_docs",
        "contaminated",
    )
    fp = fingerprint_candidates(
        docs, min_tokens=_SUBSTR_K, winnow=_WINNOW_W, key="digest",
    ).select(
        F.lit("fp_candidates").alias("variant"),
        "doc_a",
        "doc_b",
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("n_shared").alias("n_shared_grams"),
        F.lit(None).cast("long").alias("n_bench_docs"),
        F.lit(None).cast("long").alias("contaminated"),
    )
    ed = D.edit_distance_pairs(
        docs, max_dist=_EDIT_MAX, min_tokens=_SUBSTR_K, winnow=_WINNOW_W,
        key="digest",
    ).select(
        F.lit("edit_verified").alias("variant"),
        "doc_a",
        "doc_b",
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("edit_dist").alias("n_shared_grams"),
        F.lit(None).cast("long").alias("n_bench_docs"),
        F.lit(None).cast("long").alias("contaminated"),
    )
    ov = fingerprint_overlap(
        docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 2 = 1"),
        min_tokens=_SUBSTR_K, winnow=_WINNOW_W, key="digest",
        persist_fingerprints=False,
    ).select(
        F.lit("fp_overlap").alias("variant"),
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.lit(None).cast("long").alias("doc_id"),
        F.col("n_shared").alias("n_shared_grams"),
        F.lit(None).cast("long").alias("n_bench_docs"),
        F.lit(None).cast("long").alias("contaminated"),
    )
    return (
        exact.unionByName(fp).unionByName(ov).unionByName(ed)
        .unionByName(pruned).unionByName(decontam)
    )


def _minhash_oracle() -> str:
    perms = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(MINHASH_COEFFS))
    return f"""
    WITH {SHINGLE_CTES},
    wid AS (SELECT doc_id, {duckdb_char_fold_hash('s')} AS term_id FROM sh),
    perms(perm_id, a, b) AS (VALUES {perms}),
    sigs AS (
        SELECT doc_id, perm_id,
               min((term_id * a + b) % {MERSENNE_P}) AS minhash
        FROM wid CROSS JOIN perms
        GROUP BY 1, 2
    ),
    banded AS (
        SELECT doc_id, CAST(floor(perm_id / 2) AS INT) AS band_id,
               array_to_string(list_sort(list(concat(CAST(perm_id AS VARCHAR), '=',
                                                     CAST(minhash AS VARCHAR)))), ':')
                   AS band_key
        FROM sigs
        GROUP BY 1, 2
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a
        JOIN banded b ON a.band_id = b.band_id AND a.band_key = b.band_key
                      AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b, j.jaccard
    FROM cands c JOIN jac j ON j.doc_a = c.doc_a AND j.doc_b = c.doc_b
    WHERE j.jaccard >= 0.8
    """


def _minhash_stage_dir(sf_dir: str) -> str:
    """Process-cached staging dir for the gate's incremental arm, one
    per sf_dir, cleaned at exit; re-invocations overwrite in place."""
    from flink_etl_spark.catalog import process_workdir

    return f"{process_workdir('mh_profile')}/{sf_dir.strip('/').replace('/', '_')}"


@query(
    "dedup_minhash_lsh",
    f"""
    SELECT 'full' AS variant, doc_a, doc_b, jaccard
    FROM ({_minhash_oracle()}) mh_full
    UNION ALL
    SELECT 'incremental' AS variant, doc_a, doc_b, jaccard
    FROM ({_minhash_oracle()}) mh_inc
    WHERE doc_a % 5 = 0 OR doc_b % 5 = 0
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(8 bands x 2 rows) candidates, verified
    with exact Jaccard >= 0.8; the oracle replicates the entire sketch
    pipeline — identical coefficients, dictionary, banding. Both run
    shapes gated (former gates `dedup_minhash_lsh` +
    `dedup_minhash_incremental`, folded):

    * variant 'full' — one-shot dedup of the whole corpus;
    * variant 'incremental' — the corpus profile (doc_id % 5 != 0)
      staged to parquet once, then the 'daily batch' (doc_id % 5 = 0)
      deduped against it WITHOUT re-sketching the corpus. Equals the
      full run restricted to pairs touching the batch (tests prove the
      identity; the oracle IS that restriction)."""
    from flink_etl_spark.operators.dedup import (
        minhash_near_dups_incremental,
        minhash_stage_profile,
    )

    docs = _t(spark, sf_dir, "documents")
    # hash_fn pinned to the portable char-fold the DuckDB oracle
    # replicates; the OPERATOR default is the faster native xxhash64
    full = D.minhash_near_dups(
        docs, threshold=0.8, n_hashes=16, bands=8, hash_fn="charfold"
    ).select(F.lit("full").alias("variant"), "doc_a", "doc_b", "jaccard")
    # ONE staging dir per (process, sf_dir), overwritten on re-build:
    # a fresh mkdtemp per invocation accumulated a full staged profile
    # + an atexit handler every time a harness re-built this query
    staged = _minhash_stage_dir(sf_dir)
    minhash_stage_profile(
        docs.filter("doc_id % 5 != 0"), staged, mode="overwrite", hash_fn="charfold"
    )
    inc = minhash_near_dups_incremental(
        docs.filter("doc_id % 5 = 0"), staged, hash_fn="charfold"
    ).select(F.lit("incremental").alias("variant"), "doc_a", "doc_b", "jaccard")
    return full.unionByName(inc)


def _simhash_oracle(bits: int = 16) -> str:
    votes = ",\n               ".join(
        f"sum(CASE WHEN ((term_id * {a} + {b}) % {MERSENNE_P}) % 2 = 1 "
        f"THEN 1 ELSE -1 END) AS v{j}"
        for j, (a, b) in enumerate(SIMHASH_COEFFS[:bits])
    )
    sig = " + ".join(f"CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END" for j in range(bits))
    return f"""
    WITH toks AS (SELECT doc_id, regexp_split_to_array(text, ' +') AS t FROM documents),
    tok AS (SELECT doc_id, tk AS token FROM toks, UNNEST(t) AS u(tk)),
    wid AS (SELECT doc_id, {duckdb_char_fold_hash('token')} AS term_id FROM tok),
    votes AS (
        SELECT doc_id,
               {votes}
        FROM wid GROUP BY doc_id
    )
    SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes
    """


@query(
    "dedup_simhash",
    f"""
    WITH sigs AS ({_simhash_oracle()})
    SELECT 'signature' AS variant,
           doc_id, simhash,
           CAST(NULL AS BIGINT) AS doc_a,
           CAST(NULL AS BIGINT) AS doc_b,
           CAST(NULL AS BIGINT) AS hamming
    FROM sigs
    UNION ALL
    SELECT 'hamming_pairs' AS variant,
           CAST(NULL AS BIGINT) AS doc_id,
           CAST(NULL AS BIGINT) AS simhash,
           a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-16, both the fingerprints and the near-dup pair search
    gated (former gates `dedup_simhash` + `dedup_simhash_hamming`,
    folded):

    * variant 'signature' — per-doc SimHash fingerprints (bit votes
      over hashed token occurrences, zero shuffle);
    * variant 'hamming_pairs' — Hamming<=2 near-dup pairs via lossless
      pigeonhole banding; the oracle is the brute-force pair join the
      banding provably equals."""
    docs = _t(spark, sf_dir, "documents")
    # charfold pinned: the oracle replicates the fold hash value-exactly
    sigs = D.simhash_signatures(docs, bits=16, hash_fn="charfold").select(
        F.lit("signature").alias("variant"),
        "doc_id",
        "simhash",
        F.lit(None).cast("long").alias("doc_a"),
        F.lit(None).cast("long").alias("doc_b"),
        F.lit(None).cast("long").alias("hamming"),
    )
    pairs = D.simhash_near_dups(docs, max_hamming=2, bits=16, hash_fn="charfold").select(
        F.lit("hamming_pairs").alias("variant"),
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("simhash"),
        "doc_a",
        "doc_b",
        F.col("hamming").cast("long").alias("hamming"),
    )
    return sigs.unionByName(pairs)


def _semdedup_two_level_oracle() -> str:
    """DuckDB twin of `semdedup_pairs(..., n_cells=8,
    quantizer="two_level")` — `similarity.ivf_assign_two_level` with
    k1 = ceil(sqrt(8)) = 3 coarse seed centroids (3 smallest vec_ids),
    k2 = ceil(8/3) = 3 sub-seeds per coarse cell (the k2 smallest ids
    ASSIGNED to that cell), final cell_id = l1*3 + sub; both levels
    rank on 6-dp-rounded cosine with index tie-breaks."""
    return f"""
    WITH l1c AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS l1,
               embedding AS cent
        FROM embeddings ORDER BY vec_id LIMIT 3
    ),
    a1 AS (
        SELECT vec_id, l1 FROM (
            SELECT e.vec_id, c.l1,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({duckdb_cosine('e.embedding', 'c.cent')}, 6)
                                DESC, c.l1) AS r
            FROM embeddings e CROSS JOIN l1c c) t
        WHERE r = 1
    ),
    seeds AS (
        SELECT l1, sub, scent FROM (
            SELECT a1.l1,
                   row_number() OVER (PARTITION BY a1.l1
                                      ORDER BY a1.vec_id) - 1 AS sub,
                   e.embedding AS scent
            FROM a1 JOIN embeddings e USING (vec_id)) t
        WHERE sub < 3
    ),
    a2 AS (
        SELECT vec_id, CAST(l1 * 3 + sub AS BIGINT) AS cell_id FROM (
            SELECT a1.vec_id, s.l1, s.sub,
                   row_number() OVER (
                       PARTITION BY a1.vec_id
                       ORDER BY round({duckdb_cosine('e.embedding', 's.scent')}, 6)
                                DESC, s.sub) AS r
            FROM a1
            JOIN seeds s ON s.l1 = a1.l1
            JOIN embeddings e ON e.vec_id = a1.vec_id) t
        WHERE r = 1
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
    FROM a2 a
    JOIN a2 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    JOIN embeddings ea ON ea.vec_id = a.vec_id
    JOIN embeddings eb ON eb.vec_id = b.vec_id
    WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    """


def _semdedup_inc_oracle() -> str:
    """DuckDB twin of `semdedup_incremental` over the mod-5 split:
    centroids frozen from the STAGED subset (8 smallest staged
    vec_ids — `ivf_build_index(..., n_cells=8)`), every vector
    assigned nearest-1 with them; pairs are batch-vs-staged (ALL
    same-cell collisions) plus batch-vs-batch (id_a < id_b); the duel
    drops the closer-to-centroid side, rounded ties dropping the batch
    side against staged and the larger id within the batch."""
    return f"""
    WITH inc_cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
               embedding AS cent
        FROM embeddings WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 8
    ),
    inc_asgn AS (
        SELECT vec_id, cell_id, csim, (vec_id % 5 = 0) AS is_batch FROM (
            SELECT e.vec_id, c.cell_id,
                   round({duckdb_cosine('e.embedding', 'c.cent')}, 6) AS csim,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({duckdb_cosine('e.embedding', 'c.cent')}, 6)
                                DESC, c.cell_id) AS r
            FROM embeddings e CROSS JOIN inc_cents c) t
        WHERE r = 1
    ),
    inc_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim,
               a.csim AS csim_a, b.csim AS csim_b,
               b.is_batch AS b_is_batch,
               CAST(a.cell_id AS BIGINT) AS cell_id
        FROM inc_asgn a
        JOIN inc_asgn b ON a.cell_id = b.cell_id AND a.is_batch
             AND ((NOT b.is_batch) OR a.vec_id < b.vec_id)
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    )
    SELECT 'semdedup_inc' AS variant, id_a, id_b, cos_sim FROM inc_pairs
    UNION ALL
    SELECT DISTINCT 'semdedup_inc_drop' AS variant,
           -- coalesce(-2.0) mirrors the engine duel's NULL rule
           CASE WHEN coalesce(csim_a, -2.0) > coalesce(csim_b, -2.0) THEN id_a
                WHEN coalesce(csim_b, -2.0) > coalesce(csim_a, -2.0) THEN id_b
                WHEN NOT b_is_batch THEN id_a ELSE id_b END AS id_a,
           cell_id AS id_b,
           CASE WHEN coalesce(csim_a, -2.0) > coalesce(csim_b, -2.0) THEN csim_a
                WHEN coalesce(csim_b, -2.0) > coalesce(csim_a, -2.0) THEN csim_b
                WHEN NOT b_is_batch THEN csim_a ELSE csim_b END AS cos_sim
    FROM inc_pairs
    """


def _decontam_sem_oracle() -> str:
    """DuckDB twin of `semantic_contamination_pairs(method='signlsh')`
    over the vec_id % 7 split (benchmark = multiples of 7, corpus =
    the rest): planes are the 4 smallest BENCHMARK ids; the benchmark
    emits its own bucket plus one lowest-|margin| flip probe; each
    corpus vector carries its own bucket only; candidates are
    bucket == probe, verified at cosine >= 0.35. 'decontam_kept' is
    the removal composition (corpus ids with NO verified match)."""
    return f"""
    WITH dbench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 = 0),
    dcorp AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 7 != 0),
    dplanes AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS plane_id,
               embedding AS plane
        FROM dbench ORDER BY vec_id LIMIT 4
    ),
    dbbuck AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN {duckdb_dot('e.embedding', 'p.plane')} > 0
                             THEN 1 << p.plane_id ELSE 0 END) AS BIGINT) AS bucket
        FROM dbench e CROSS JOIN dplanes p
        GROUP BY e.vec_id
    ),
    dbflip AS (
        SELECT vec_id, plane_id AS flip_p
        FROM (SELECT e.vec_id, p.plane_id,
                     row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(abs({duckdb_dot('e.embedding', 'p.plane')}), 6),
                                  p.plane_id) AS r
              FROM dbench e CROSS JOIN dplanes p) t
        WHERE r = 1
    ),
    dbprobes AS (
        SELECT vec_id, bucket AS probe FROM dbbuck
        UNION
        SELECT f.vec_id, xor(b.bucket, CAST(1 << f.flip_p AS BIGINT))
        FROM dbflip f JOIN dbbuck b ON b.vec_id = f.vec_id
    ),
    dcbuck AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN {duckdb_dot('e.embedding', 'p.plane')} > 0
                             THEN 1 << p.plane_id ELSE 0 END) AS BIGINT) AS bucket
        FROM dcorp e CROSS JOIN dplanes p
        GROUP BY e.vec_id
    ),
    dpairs AS (
        SELECT c.vec_id AS id_a, p.vec_id AS id_b,
               round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
        FROM dcbuck c
        JOIN dbprobes p ON c.bucket = p.probe
        JOIN embeddings ea ON ea.vec_id = c.vec_id
        JOIN embeddings eb ON eb.vec_id = p.vec_id
        WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    )
    SELECT 'decontam_sem' AS variant, id_a, id_b, cos_sim FROM dpairs
    UNION ALL
    SELECT 'decontam_kept' AS variant, vec_id AS id_a,
           CAST(-1 AS BIGINT) AS id_b, CAST(0.0 AS DOUBLE) AS cos_sim
    FROM dcorp WHERE vec_id NOT IN (SELECT id_a FROM dpairs)
    UNION ALL
    SELECT 'decontam_ivf' AS variant, id_a, id_b, cos_sim FROM (
        WITH dcents AS (
            SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
                   embedding AS cent
            FROM (SELECT * FROM embeddings WHERE vec_id % 7 = 0)
            ORDER BY vec_id LIMIT 8
        ),
        dbasgn AS (
            SELECT vec_id, cell_id FROM (
                SELECT e.vec_id, c.cell_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({duckdb_cosine('e.embedding', 'c.cent')}, 6)
                                    DESC, c.cell_id) AS r
                FROM (SELECT * FROM embeddings WHERE vec_id % 7 = 0) e
                CROSS JOIN dcents c) t
            WHERE r <= 2
        ),
        dcasgn AS (
            SELECT vec_id, cell_id FROM (
                SELECT e.vec_id, c.cell_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY round({duckdb_cosine('e.embedding', 'c.cent')}, 6)
                                    DESC, c.cell_id) AS r
                FROM (SELECT * FROM embeddings WHERE vec_id % 7 != 0) e
                CROSS JOIN dcents c) t
            WHERE r = 1
        )
        SELECT c.vec_id AS id_a, p.vec_id AS id_b,
               round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
        FROM dcasgn c
        JOIN dbasgn p ON c.cell_id = p.cell_id
        JOIN embeddings ea ON ea.vec_id = c.vec_id
        JOIN embeddings eb ON eb.vec_id = p.vec_id
        WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    )
    """


@query(
    "dedup_embedding_cosine",
    f"""
    WITH a AS (SELECT vec_id AS id_a, embedding AS va FROM embeddings),
         b AS (SELECT vec_id AS id_b, embedding AS vb FROM embeddings)
    SELECT 'exact' AS variant, id_a, id_b,
           round({duckdb_cosine('va', 'vb')}, 6) AS cos_sim
    FROM a JOIN b ON id_a < id_b
    WHERE round({duckdb_cosine('va', 'vb')}, 6) >= 0.35
    UNION ALL
    SELECT 'sign_lsh' AS variant, id_a, id_b, cos_sim
    FROM (
    WITH planes AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS plane_id,
               embedding AS plane
        FROM embeddings ORDER BY vec_id LIMIT 4
    ),
    buckets AS (
        SELECT e.vec_id,
               CAST(sum(CASE WHEN {duckdb_dot('e.embedding', 'p.plane')} > 0
                             THEN 1 << p.plane_id ELSE 0 END) AS BIGINT) AS bucket
        FROM embeddings e CROSS JOIN planes p
        GROUP BY e.vec_id
    ),
    flip AS (
        SELECT vec_id, plane_id AS flip_p
        FROM (SELECT e.vec_id, p.plane_id,
                     row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round(abs({duckdb_dot('e.embedding', 'p.plane')}), 6),
                                  p.plane_id) AS r
              FROM embeddings e CROSS JOIN planes p) t
        WHERE r = 1
    ),
    probes AS (
        SELECT vec_id, bucket AS probe FROM buckets
        UNION
        SELECT f.vec_id, xor(b.bucket, CAST(1 << f.flip_p AS BIGINT))
        FROM flip f JOIN buckets b ON b.vec_id = f.vec_id
    ),
    cand AS (
        SELECT DISTINCT pa.vec_id AS id_a, pb.vec_id AS id_b
        FROM probes pa JOIN probes pb
          ON pa.probe = pb.probe AND pa.vec_id < pb.vec_id
    )
    SELECT id_a, id_b,
           round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    )
    UNION ALL
    SELECT variant, id_a, id_b, cos_sim
    FROM (
    WITH cents AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
               embedding AS centroid
        FROM embeddings ORDER BY vec_id LIMIT 8
    ),
    sd_asgn AS (
        SELECT vec_id, cell_id, csim
        FROM (SELECT e.vec_id, p.cell_id,
                     round({duckdb_cosine('e.embedding', 'p.centroid')}, 6) AS csim,
                     row_number() OVER (
                         PARTITION BY e.vec_id
                         ORDER BY round({duckdb_cosine('e.embedding', 'p.centroid')}, 6)
                                  DESC, p.cell_id) AS r
              FROM embeddings e CROSS JOIN cents p) t
        WHERE r = 1
    ),
    sd_pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) AS cos_sim,
               a.csim AS csim_a, b.csim AS csim_b
        FROM sd_asgn a
        JOIN sd_asgn b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id
        WHERE round({duckdb_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.35
    ),
    sd_drops AS (
        SELECT DISTINCT CASE WHEN coalesce(csim_a, -2.0) > coalesce(csim_b, -2.0) THEN id_a ELSE id_b END AS vec_id
        FROM sd_pairs
    )
    SELECT 'semdedup' AS variant, id_a, id_b, cos_sim FROM sd_pairs
    UNION ALL
    SELECT 'semdedup_drop' AS variant, d.vec_id AS id_a,
           CAST(s.cell_id AS BIGINT) AS id_b, s.csim AS cos_sim
    FROM sd_drops d JOIN sd_asgn s ON s.vec_id = d.vec_id
    )
    UNION ALL
    SELECT 'semdedup_two_level' AS variant, id_a, id_b, cos_sim
    FROM ({_semdedup_two_level_oracle()}) tl
    UNION ALL
    SELECT variant, id_a, id_b, cos_sim
    FROM ({_semdedup_inc_oracle()}) inc
    UNION ALL
    SELECT variant, id_a, id_b, cos_sim
    FROM ({_decontam_sem_oracle()}) dsem
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, baseline AND both scale paths
    gated (former gates `dedup_embedding_cosine` + `dedup_embedding_lsh`,
    folded; semdedup arms added in r4):

    * variant 'exact' — brute-force all-pairs cosine (labeled O(n²)
      exactness baseline);
    * variant 'sign_lsh' — sign-LSH bucketing with one multi-probe
      flip: one probe-bucket shuffle join generates candidates, cosine
      verifies candidates only — nothing quadratic in the corpus;
    * variant 'semdedup' — SemDeDup (Abbas et al. 2023) within-cluster
      pairs: IVF coarse quantizer (8 cells pinned for the oracle;
      production sizes via n_cells="auto"), pair space restricted to
      same-cell members;
    * variant 'semdedup_drop' — the SemDeDup keep rule's dropped
      vectors: one row per vector losing a within-cluster duel
      (closer-to-centroid member drops), id_b carries the cell id and
      cos_sim the vector's rounded centroid similarity;
    * variant 'semdedup_two_level' (r5) — the SAME pair stage under the
      hierarchical two-level quantizer (similarity.ivf_assign_two_level,
      O(n^(4/3)) total — the 100 TB production arm `semdedup_keepers`
      benches): ~sqrt(k) coarse seeds then per-coarse-cell sub-seeds,
      deterministic end-to-end, so the oracle replicates both ranking
      levels exactly;
    * variant 'semdedup_inc' / 'semdedup_inc_drop' (r5) — INCREMENTAL
      SemDeDup (dedup.semdedup_incremental): the vec_id % 5 != 0 slice
      is staged as an IVF index (ivf_build_index, frozen centroids +
      cell_id= partitioned layout), then the % 5 = 0 batch dedups
      against the partition-pruned index plus itself; staged-staged
      pairs are never re-emitted, and rounded duel ties drop the batch
      side against staged. The drop arm mirrors 'semdedup_drop';
    * variant 'decontam_sem' / 'decontam_kept' (r11) — EMBEDDING-space
      benchmark decontamination (dedup.semantic_contamination_pairs /
      semantic_decontaminate): vec_id multiples of 7 play the eval
      benchmark, the rest the training corpus. The benchmark side is
      broadcast end to end (planes, packed plane row, probe postings)
      and the corpus computes its sign-LSH bucket in a row-local fold —
      ZERO corpus exchanges (plan-pinned in tests/test_plans.py), the
      asymmetric scale shape the symmetric LSH self-join can't give.
      'decontam_sem' gates the contamination report (pairs at
      cosine >= 0.35 through one flip probe), 'decontam_kept' the
      removal composition (kept corpus ids; id_b=-1, cos_sim=0.0);
      'decontam_ivf' gates the IVF-quantizer method (8 benchmark-
      derived cells, nprobe=2 bench-side posting, corpus top-1 cell
      by a row-local packed-centroid argmax) — the tunable-recall arm
      for weak-similarity thresholds."""
    from flink_etl_spark.catalog import process_workdir
    from flink_etl_spark.operators.dedup import semdedup_incremental
    from flink_etl_spark.operators.similarity import ivf_build_index

    embs = _t(spark, sf_dir, "embeddings")
    exact = D.embedding_near_dups(embs, threshold=0.35).select(
        F.lit("exact").alias("variant"), "id_a", "id_b", "cos_sim"
    )
    lsh = D.embedding_near_dups_lsh(
        embs, threshold=0.35, n_planes=4, n_probe=1
    ).select(F.lit("sign_lsh").alias("variant"), "id_a", "id_b", "cos_sim")
    sd_pairs = D.semdedup_pairs(embs, threshold=0.35, n_cells=8)
    sd = sd_pairs.select(
        F.lit("semdedup").alias("variant"), "id_a", "id_b", "cos_sim"
    )
    sd_drops = (
        sd_pairs.select(
            "drop_id",
            F.col("cell_id").cast("long").alias("_cell"),
            F.when(F.col("drop_id") == F.col("id_a"), F.col("csim_a"))
            .otherwise(F.col("csim_b"))
            .alias("_csim"),
        )
        .distinct()
        .select(
            F.lit("semdedup_drop").alias("variant"),
            F.col("drop_id").alias("id_a"),
            F.col("_cell").alias("id_b"),
            F.col("_csim").alias("cos_sim"),
        )
    )
    two_level = D.semdedup_pairs(
        embs, threshold=0.35, n_cells=8, quantizer="two_level"
    ).select(
        F.lit("semdedup_two_level").alias("variant"), "id_a", "id_b", "cos_sim"
    )
    # ONE staging dir per (process, sf_dir) — same contract as the
    # minhash incremental arm's profile staging
    idx = (
        f"{process_workdir('sd_ivf')}/"
        f"{sf_dir.strip('/').replace('/', '_')}"
    )
    ivf_build_index(embs.filter("vec_id % 5 != 0"), idx, n_cells=8)
    inc_pairs = semdedup_incremental(
        spark, embs.filter("vec_id % 5 = 0"), idx, threshold=0.35
    )
    inc = inc_pairs.select(
        F.lit("semdedup_inc").alias("variant"), "id_a", "id_b", "cos_sim"
    )
    inc_drops = (
        inc_pairs.select(
            "drop_id",
            F.col("cell_id").cast("long").alias("_cell"),
            F.when(F.col("drop_id") == F.col("id_a"), F.col("csim_a"))
            .otherwise(F.col("csim_b"))
            .alias("_csim"),
        )
        .distinct()
        .select(
            F.lit("semdedup_inc_drop").alias("variant"),
            F.col("drop_id").alias("id_a"),
            F.col("_cell").alias("id_b"),
            F.col("_csim").alias("cos_sim"),
        )
    )
    corp = embs.filter("vec_id % 7 != 0")
    bench = embs.filter("vec_id % 7 = 0")
    dec = D.semantic_contamination_pairs(
        corp, bench, 0.35, method="signlsh", n_planes=4, n_probe=1,
        max_bench_rows=None,
    ).select(F.lit("decontam_sem").alias("variant"), "id_a", "id_b", "cos_sim")
    dec_kept = D.semantic_decontaminate(
        corp, bench, 0.35, method="signlsh", n_planes=4, n_probe=1,
        max_bench_rows=None,
    ).select(
        F.lit("decontam_kept").alias("variant"),
        F.col("vec_id").alias("id_a"),
        F.lit(-1).cast("long").alias("id_b"),
        F.lit(0.0).alias("cos_sim"),
    )
    dec_ivf = D.semantic_contamination_pairs(
        corp, bench, 0.35, method="ivf", n_cells=8, nprobe=2,
        max_bench_rows=None,
    ).select(F.lit("decontam_ivf").alias("variant"), "id_a", "id_b", "cos_sim")
    return (
        exact.unionByName(lsh)
        .unionByName(sd)
        .unionByName(sd_drops)
        .unionByName(two_level)
        .unionByName(inc)
        .unionByName(inc_drops)
        .unionByName(dec)
        .unionByName(dec_kept)
        .unionByName(dec_ivf)
    )


def _clusters_oracle() -> str:
    from flink_etl_spark.catalog.multimodal import _phash_oracle_ctes

    return f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({_minhash_oracle()}) mh
    ),
    edges AS (
        SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION
        SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    reach(src, dst) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
    ),
    cc AS (
        SELECT src AS doc_id, min(dst) AS cluster_id
        FROM reach GROUP BY src
    ),
    {_phash_oracle_ctes().strip()},
    pedges AS (
        -- SIGNATURE-level near-dup graph (distinct DCT hash values):
        -- the oracle twin of media_phash_dup_clusters' collapse-first
        -- design — equal hashes are one node, closure runs over values
        SELECT DISTINCT x.dcthash AS a, y.dcthash AS b
        FROM pdh x, pdh y
        WHERE x.dcthash <> y.dcthash
          AND bit_count(xor(x.dcthash, y.dcthash)) <= 8
    ),
    pnodes AS (SELECT DISTINCT dcthash AS node FROM pdh),
    preach(src, dst) AS (
        SELECT node, node FROM pnodes
        UNION
        SELECT r.src, e.b FROM preach r JOIN pedges e ON e.a = r.dst
    ),
    pcc AS (SELECT src, min(dst) AS comp FROM preach GROUP BY src),
    plab AS (
        SELECT pdh.media_id, pcc.comp
        FROM pdh JOIN pcc ON pcc.src = pdh.dcthash
    ),
    pcl AS (SELECT comp, min(media_id) AS cluster_id FROM plab GROUP BY comp)
    SELECT 'propagation' AS variant, doc_id, cluster_id FROM cc
    UNION ALL
    SELECT 'star' AS variant, doc_id, cluster_id FROM cc
    UNION ALL
    SELECT 'phash_dct' AS variant, plab.media_id AS doc_id, pcl.cluster_id
    FROM plab JOIN pcl USING (comp)
    """


@query("dedup_duplicate_clusters", _clusters_oracle())
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS from near-dup pairs: connected components,
    BOTH arms driver-gated against the same transitive closure:

    * variant 'propagation' — iterative min-label propagation (a
      genuinely ITERATIVE distributed algorithm: driver loop over
      shuffle joins, Pregel-style); O(diameter) rounds, the cheap arm
      for the near-clique shapes real near-dup clusters have.
    * variant 'star' (r11) — large-star/small-star alternation
      (Kiveris et al. 2014): O(log n) rounds regardless of cluster
      diameter, the scale arm a template-chain of near-dups cannot
      outrun. Both loops now RAISE if they exhaust max_iters without
      converging (the r10-verdict silent-wrong-answer fix).

    * variant 'phash_dct' (r13) — the recall ladder's scale path as
      an operator: `media_phash_dup_clusters` over the planted media
      universe (collapse exact-equal DCT signatures, band the
      DISTINCT values, components over the SIGNATURE graph, min
      media_id per cluster). The oracle runs the same collapse-first
      closure recursively over the DCT-hash CTEs.

    The oracle computes the same components with a recursive-CTE
    transitive closure: the fixpoint formulations must agree, value
    for value."""
    from flink_etl_spark.catalog.multimodal import (
        _PHASH_DERIVE,
        _PHASH_PLANT_OFFSET,
        _PHASH_SLICE,
    )
    from flink_etl_spark.operators import multimodal as M

    docs = _t(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(
        docs, threshold=0.8, n_hashes=16, bands=8, hash_fn="charfold"
    ).select("doc_a", "doc_b")
    prop = D.duplicate_clusters(pairs).select(
        F.lit("propagation").alias("variant"), "doc_id", "cluster_id"
    )
    star = D.duplicate_clusters(pairs, algorithm="star").select(
        F.lit("star").alias("variant"), "doc_id", "cluster_id"
    )
    media = M.make_media_table(docs).select("media_id", "payload")
    planted = docs.filter(_PHASH_SLICE).select(
        (F.col("doc_id") + F.lit(_PHASH_PLANT_OFFSET)).alias("media_id"),
        F.encode(F.expr(_PHASH_DERIVE), "utf-8").alias("payload"),
    )
    phash = M.media_phash_dup_clusters(
        media.unionByName(planted), max_hamming=8, hash_col="dcthash"
    ).select(
        F.lit("phash_dct").alias("variant"),
        F.col("media_id").alias("doc_id"),
        "cluster_id",
    )
    return prop.unionByName(star).unionByName(phash)
