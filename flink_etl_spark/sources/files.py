"""File sources (S3/S4, SURVEY.md §2.1): partitioned parquet/text scans.

Catalyst gives partition pruning, predicate pushdown and column pruning
on these for free; the helpers here only encode the layout conventions
(Hive-style `dt=` directories, JSONL Canal dumps).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType


def read_partitioned(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Read a dt-partitioned table root; `dt` arrives as a partition
    column and `.filter(col('dt') == day)` prunes directories."""
    return read_string_partitioned(spark, path, "dt", fmt)


def read_string_partitioned(
    spark: SparkSession, path: str, part_col: str, fmt: str = "parquet"
) -> DataFrame:
    """A partitioned table root with `part_col` typed STRING. Under
    partition type inference (Spark's default) `dt=00000000` would read
    as the int 0, so the read then declares the type and lists again."""
    df = spark.read.format(fmt).option("basePath", path).load(path)
    if dict(df.dtypes).get(part_col, "string") == "string":
        return df
    schema = StructType([
        StructField(part_col, StringType()) if f.name == part_col else f
        for f in df.schema
    ])
    return spark.read.schema(schema).format(fmt).option("basePath", path).load(path)


def read_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Canal dump as raw lines: one `value` string column, exactly what
    the Kafka source would deliver (batch test-double)."""
    return spark.read.text(path)
