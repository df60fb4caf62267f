"""Table catalog over the driver-provided parquet fixtures.

The engine's equivalent of the reference's governed 3-level namespace
(``catalog.schema.table``, SURVEY.md §1.1): a thin loader that
normalises physical quirks once so every operator sees clean, typed
DataFrames. A governed catalog holds each table's schema as metadata;
here that metadata is the parquet footer, read on the driver with no
Spark job (``guards.parquet_schema``), so no metastore cache is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import parquet_schema

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalising storage quirks.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark has
    no type for; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    arrives as a long which we truncate to microseconds — the exact
    behaviour DuckDB applies when it reads the same file, so oracle
    comparisons line up.
    """
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
