"""Canal binlog envelope operators — the reference's streaming transform chain.

Reference behavior (all column expressions here, no UDFs):

* parse the Canal JSON envelope          (HdfsSink.java:63,73   -> parse_canal)
* drop DDL records                       (HdfsSink.java:58-66   -> filter_ddl)
* explode the `data` row-image array     (HdfsSink.java:76-100  -> explode_rows)
* project envelope metadata + payload    (HdfsSink.java:86-101  -> flatten / flatten_csv)
* derive the dt=yyyyMMdd partition value (EventTimeBucketAssigner.java:17-45 -> with_dt)

The reference keeps records as raw strings end-to-end and re-parses the
event time by splitting the CSV (EventTimeBucketAssigner.java:40); we
keep typed columns through the whole plan — the CSV encoding
(`flatten_csv`) exists only for faithful-output mode.

Deviations (documented in SURVEY.md §7):
* dt buckets in UTC whatever the session zone (reference used the
  JVM-default TZ — nondeterministic)
* `isDdl` accepted as boolean or string ("false"/"true")
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from flink_etl_spark.functions.sql import EPOCH_NTZ

#: Canal envelope (HdfsSink.java:63-92). `data` is schemaless in the
#: reference (fastjson ordered maps); MAP<STRING,STRING> is the dynamic
#: default, a registered per-table payload schema gives typed columns.
CANAL_SCHEMA = StructType(
    [
        StructField("isDdl", StringType()),  # "false"/"true"; booleans coerce on parse
        StructField("id", LongType()),
        StructField("es", LongType()),  # business/event time, epoch millis
        StructField("ts", LongType()),  # log time, epoch millis
        StructField("type", StringType()),  # INSERT | UPDATE | DELETE
        StructField("data", ArrayType(MapType(StringType(), StringType()))),
        # real Canal envelopes also carry the source table identity; the
        # reference consumes a single-table topic and ignores them —
        # they parse as null there and enable multi-table routing here
        StructField("database", StringType()),
        StructField("table", StringType()),
    ]
)

#: sentinel partition for unparseable event time (EventTimeBucketAssigner.java:25-26)
DT_FALLBACK = "00000000"


def parse_canal(df: DataFrame, value_col: str = "value") -> DataFrame:
    """value: raw Canal JSON string -> typed envelope columns.

    Malformed JSON yields an all-null envelope row (from_json PERMISSIVE
    mode); `filter_ddl` drops those, matching the reference where a parse
    failure inside the filter function would drop the record.
    """
    # parse once, star-expand: aliasing each field off a fresh from_json
    # re-evaluates the parse per field after projection collapse
    # (measured 2x slower); the struct-star form parses one time
    parsed = df.select(
        F.col(value_col).alias("raw"),
        F.from_json(F.col(value_col), CANAL_SCHEMA).alias("_env"),
    )
    return parsed.select("raw", "_env.*")


def prefilter_ddl(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Raw-string DDL pre-filter — the ingest fast path: drop records
    POSITIVELY identified as DDL by a pure substring scan BEFORE the
    full envelope `from_json`.

    Deliberately a substring match, not `get_json_object`: a second
    JSON parse per row costs MORE than it saves (measured on 1M raw
    envelopes at 19.8% DDL: get_json_object pre-filter was a ~15%
    regression), while `contains` is a plain byte scan — measured
    1.30s -> 1.24s (~5%) on the same corpus, with savings scaling in
    the DDL fraction.

    SAFETY: the filter is negative-only — it drops a row only when the
    raw text contains the unescaped `"isDdl":true` / `"isDdl":"true"`
    pattern AND does not ALSO contain the DML marker
    (`"isDdl":false` / `"isDdl":"false"`). The AND-side guard covers
    the one place valid JSON can carry the true-pattern unescaped
    without being DDL: a source table with a column literally named
    `isDdl` serializes it as a KEY inside `data[]` (keys are not
    backslash-escaped, unlike text inside a payload string), so a DML
    row from such a table contains both patterns and must pass through.
    Any row the scan cannot positively classify — unusual spacing,
    ambiguous both-marker rows, malformed JSON — falls through to the
    exact post-parse `filter_ddl`, which remains the semantic anchor;
    the pre-filter can therefore only lose SAVINGS, never records."""
    v = F.col(value_col)
    is_ddl_text = (
        v.contains('"isDdl":true')
        | v.contains('"isDdl":"true"')
    )
    is_dml_text = (
        v.contains('"isDdl":false')
        | v.contains('"isDdl":"false"')
    )
    return df.filter(~(is_ddl_text & ~is_dml_text))


def filter_ddl(df: DataFrame) -> DataFrame:
    """Keep DML only: isDdl == "false" (HdfsSink.java:64).

    Records whose envelope failed to parse (null isDdl) are dropped, as
    the reference's filter would.
    """
    return df.filter(F.lower(F.col("isDdl")) == "false")


def explode_rows(
    df: DataFrame, out_col: str = "row", keep_cols: Sequence[str] = ()
) -> DataFrame:
    """One output record per element of `data` (HdfsSink.java:76-100).

    Plain `explode` drops null/empty arrays — matching the reference,
    which emits nothing when `data` is missing; the inner null-guard
    (HdfsSink.java:84) maps to the isNotNull filter. `keep_cols` carries
    extra envelope columns (e.g. `table` for routing) through. The
    coalesce keeps `from_json` to one run per envelope (functions/sql.py).
    """
    out = df.select(
        *keep_cols, "id", "es", "ts", "type",
        F.explode(F.coalesce(F.col("data"), F.array())).alias(out_col),
    )
    return out.filter(F.col(out_col).isNotNull())


def flatten(
    df: DataFrame,
    payload_cols: Sequence[str],
    row_col: str = "row",
    payload_types: dict[str, str] | None = None,
    extra: Sequence[Column] = (),
) -> DataFrame:
    """Typed flatten: envelope metadata + payload columns, in registered
    source-column order (HdfsSink.java:86-101).

    The reference preserved source column order via fastjson's
    OrderedField; `from_json` to a MAP doesn't guarantee order, so
    faithful ordering requires the per-table registered column list
    (SURVEY.md §7 "dynamic payload schema").

    `payload_types` maps payload columns to Spark SQL type names
    (e.g. {"population": "long"}) — the registered-schema TYPED mode:
    values come out of Canal's string row image and are try_cast (a
    malformed value yields null rather than failing the pipeline under
    ANSI mode, mirroring how the reference would write the raw string
    and let Hive's lazy cast null it out).

    `extra` appends additional column expressions (e.g. `csv_line_expr`)
    to the same projection — one pass, no re-select.
    """
    cols = [F.col("id"), F.col("es"), F.col("ts"), F.col("type")]
    types = payload_types or {}
    for c in payload_cols:
        v = F.col(row_col).getItem(c)
        if c in types:
            v = v.try_cast(types[c])
        cols.append(v.alias(c))
    cols.extend(extra)
    return df.select(*cols)


def csv_line_expr(
    payload_cols: Sequence[str],
    row_col: str = "row",
    sep: str = ",",
    null_token: str = "null",
) -> Column:
    """The faithful CSV encoding as a single column expression over an
    exploded envelope record: `id,es,ts,type,<payload...>`
    (HdfsSink.java:35,93-101). Exposed separately from `flatten_csv` so
    the typed flatten can carry the faithful line alongside its typed
    columns in ONE projection (no second pass over the data)."""
    parts: list[Column] = [
        F.col("id").cast("string"),
        F.col("es").cast("string"),
        F.col("ts").cast("string"),
        F.col("type"),
    ]
    parts += [F.col(row_col).getItem(c).cast("string") for c in payload_cols]
    guarded = [F.coalesce(p, F.lit(null_token)) for p in parts]
    return F.concat_ws(sep, *guarded)


def flatten_csv(
    df: DataFrame,
    payload_cols: Sequence[str],
    row_col: str = "row",
    sep: str = ",",
    null_token: str = "null",
) -> DataFrame:
    """Faithful-output mode: one delimited string per record, layout
    `id,es,ts,type,<payload...>` (HdfsSink.java:35,93-101).

    Null fields emit `null_token` (default the literal "null" — Java's
    StringBuilder.append(null) behavior the reference inherits), NOT
    nothing: concat_ws silently drops nulls, which would shift every
    later field left and break positional consumers like
    dt_from_line's split[1]."""
    return df.select(
        csv_line_expr(payload_cols, row_col, sep, null_token).alias("line")
    )


def flatten_csv_dynamic(
    df: DataFrame, row_col: str = "row", sep: str = ",", null_token: str = "null"
) -> DataFrame:
    """Faithful-output mode for tables with NO registered schema:
    payload columns in SOURCE JSON ORDER, exactly the reference's
    fastjson `Feature.OrderedField` behavior (HdfsSink.java:63,73,93-101).

    Spark's `from_json` to MAP<STRING,STRING> preserves JSON document
    key order (verified; map_values returns values in parse order), so
    this stays a pure column expression — the pandas-UDF fallback
    SURVEY.md §7 anticipated is unnecessary. Rows with differing key
    sets simply emit their own order, as the reference would."""
    parts: list[Column] = [
        F.col("id").cast("string"),
        F.col("es").cast("string"),
        F.col("ts").cast("string"),
        F.col("type"),
    ]
    # null -> literal token BEFORE concat_ws (which drops nulls and
    # would shift later fields left); same for null map values
    guarded = [F.coalesce(p, F.lit(null_token)) for p in parts]
    base = F.concat_ws(sep, *guarded)
    payload = F.concat_ws(
        sep,
        F.transform(
            F.map_values(F.col(row_col)),
            lambda v: F.coalesce(v, F.lit(null_token)),
        ),
    )
    # empty payload map -> metadata only, no trailing separator (the
    # reference's string join emits nothing for zero payload columns)
    line = F.when(
        F.size(F.map_values(F.col(row_col))) > 0,
        F.concat_ws(sep, base, payload),
    ).otherwise(base)
    return df.select(line.alias("line"))


def dt_from_line(line: Column | str, sep: str = ",") -> Column:
    """Faithful-mode partition derivation: recover `es` by SPLITTING the
    CSV line (field 2) exactly as the reference's bucket assigner does
    (EventTimeBucketAssigner.java:40 `element.split(",")[1]`), including
    the `00000000` fallback when the field doesn't parse as a long.

    Typed mode (`dt_expr` on the es column) is preferred; this exists so
    the faithful string pipeline reproduces the reference end-to-end."""
    c = F.col(line) if isinstance(line, str) else line
    # F.split takes a REGEX but the CSV writers treat sep literally —
    # \Q...\E quoting keeps metachar separators ('|', '.') literal too.
    # try_element_at + try_cast, not getItem + cast: ANSI mode (default
    # in Spark 4) throws INVALID_ARRAY_INDEX on a line WITHOUT the
    # separator and CAST_INVALID_INPUT on a non-numeric field, but the
    # reference catches both parse failures and routes to the sentinel
    es = F.try_element_at(
        F.split(c, "\\Q" + sep + "\\E"), F.lit(2)
    ).try_cast("long")
    return _utc_dt(es)


def audit_ingest(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """Data-quality accounting for an ingest batch: how many records
    arrived, parsed, were DDL, were DML, and how many payload rows the
    DML carried. The pipeline itself silently drops malformed + DDL
    records (reference behavior, HdfsSink.java:58-66); this is the
    side-channel that makes the drops observable. One aggregation —
    run it per micro-batch via foreachBatch or on a batch backfill."""
    env = parse_canal(raw, value_col)
    return env.agg(
        F.count("*").alias("n_records"),
        F.count(F.col("isDdl")).alias("n_parsed"),
        (F.count("*") - F.count(F.col("isDdl"))).alias("n_malformed"),
        F.sum(
            F.when(F.lower(F.col("isDdl")) == "true", 1).otherwise(0)
        ).alias("n_ddl"),
        F.sum(
            F.when(F.lower(F.col("isDdl")) == "false", F.size(F.col("data")))
            .otherwise(0)
        ).alias("n_payload_rows"),
    )


def dt_expr(es: Column | str) -> Column:
    """Event-time epoch-millis -> partition value, with the reference's
    `00000000` fallback on unparseable input
    (EventTimeBucketAssigner.java:21-29,37-43).

    The whole custom BucketAssigner collapses to this one expression.
    try_cast, not cast: under default-on ANSI mode a malformed
    string-typed es would otherwise throw CAST_INVALID_INPUT instead
    of bucketing to the sentinel.
    """
    es_col = F.col(es) if isinstance(es, str) else es
    return _utc_dt(es_col.try_cast("long"))


def _utc_dt(es: Column) -> Column:
    """yyyyMMdd of the UTC day of epoch millis `es` (NTZ arithmetic: no
    session zone moves it), or the sentinel for null."""
    day = F.to_date(F.timestamp_add("MILLISECOND", es, F.expr(EPOCH_NTZ)))
    return F.coalesce(F.date_format(day, "yyyyMMdd"), F.lit(DT_FALLBACK))


def with_dt(df: DataFrame, es_col: str = "es", out_col: str = "dt") -> DataFrame:
    return df.withColumn(out_col, dt_expr(es_col))


def ingest_pipeline(
    raw: DataFrame, payload_cols: Sequence[str], prefilter: bool = True
) -> DataFrame:
    """The reference's full streaming transform chain, batch or stream:
    [raw-string DDL pre-filter ->] parse -> DDL filter -> explode ->
    typed flatten -> dt.

    Works identically on a batch DataFrame (tests) and a streaming one
    (readStream) — the plan is stateless record-at-a-time, so no
    watermark is needed (SURVEY.md §2.9 T2/T3).

    `prefilter=True` short-circuits DDL records on the raw string
    (`prefilter_ddl`) before the full envelope parse; the post-parse
    `filter_ddl` stays in the plan as the semantic anchor (it is nearly
    free once only DML rows remain). The pre-filter is two substring
    `contains` scans per record (a `get_json_object` variant was
    measured ~15% SLOWER and rejected — see `prefilter_ddl`); disable
    only for streams known DDL-free, where even the byte scans are
    pure overhead."""
    if prefilter:
        raw = prefilter_ddl(raw)
    return with_dt(flatten(explode_rows(filter_ddl(parse_canal(raw))), payload_cols))


def route_tables(
    raw: DataFrame, table_payloads: dict[str, Sequence[str]]
) -> dict[str, DataFrame]:
    """Multi-table Canal routing: one flattened, dt-partitioned stream
    PER SOURCE TABLE, each with its registered payload schema. The
    reference consumes a single-table topic (`qfbap_ods.code_city`);
    real Canal topics multiplex a whole database — this is the fan-out.

    Each returned DataFrame is independently sink-able
    (`writeStream.partitionBy("dt")` per table path). Under streaming,
    N sinks = N queries re-reading the source; for one-pass fan-out
    wrap the dict in a single foreachBatch that writes each filter —
    same DataFrames, one read.

    Parse + explode happen ONCE in the shared prefix (`table` rides
    through explode_rows via keep_cols); per-table plans diverge only
    at the final filter + typed flatten. The raw-string DDL pre-filter
    (`prefilter_ddl`) fronts the shared prefix."""
    base = explode_rows(
        filter_ddl(parse_canal(prefilter_ddl(raw))), keep_cols=("table",)
    )
    routed: dict[str, DataFrame] = {}
    for tbl, cols in table_payloads.items():
        sub = base.filter(F.col("table") == tbl).drop("table")
        routed[tbl] = with_dt(flatten(sub, cols))
    return routed
