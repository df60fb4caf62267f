"""Table catalog over the driver-provided parquet fixtures.

The engine's equivalent of the reference's governed 3-level namespace
(``catalog.schema.table``, SURVEY.md §1.1): a thin loader that
normalises physical quirks once so every operator sees clean, typed
DataFrames. Registers temp views so SQL-form plans work too.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

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


#: per-process schema cache — the metastore role a real catalog plays.
#: Parquet schema INFERENCE is a driver-side footer read costing
#: ~0.1 s per call; every query builder re-loads its tables, so the
#: bench paid it dozens of times per pass for immutable fixtures
#: (r14: explicit-schema reads are ~5× cheaper to construct). Keyed on
#: (sf_dir, table, nanosAsLong, files stamp) because that legacy flag
#: changes how a TIMESTAMP(NANOS) column surfaces, and the files stamp
#: (newest part-file mtime + file count, :func:`_files_stamp`)
#: invalidates the entry when a fixture is regenerated IN PLACE — a
#: contract violation nothing enforced, which previously made
#: renamed/retyped columns come back as NULLs/mis-casts instead of a
#: fresh inference. Caches METADATA only — every scan still reads the
#: parquet data in full; fixture dirs are immutable by contract (a
#: regenerated dir must use a fresh path, which the fuzz / scale
#: generators do).
_schema_cache: dict = {}


def _files_stamp(path: str) -> tuple[int, int] | None:
    """(newest file ``st_mtime_ns``, file count) of a parquet dataset
    dir, from one ``os.scandir`` — or of the single file when ``path``
    is one. A directory's own mtime moves only when an entry is added,
    removed or renamed, so a part file overwritten in place under its
    old name kept the stale schema; the newest file mtime catches it,
    the count catches a removed file. None for a missing or remote
    path: the Spark read reports it."""
    try:
        with os.scandir(path) as it:
            stamps = [e.stat().st_mtime_ns for e in it if e.is_file()]
        return max(stamps, default=0), len(stamps)
    except NotADirectoryError:
        return os.stat(path).st_mtime_ns, 1
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table, normalising storage quirks.

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS) which Spark has
    no type for; with ``spark.sql.legacy.parquet.nanosAsLong`` it
    arrives as a long which we truncate to microseconds — the exact
    behaviour DuckDB applies when it reads the same file, so oracle
    comparisons line up.
    """
    path = f"{sf_dir}/{name}.parquet"
    key = (
        sf_dir,
        name,
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false"),
        _files_stamp(path),
    )
    sch = _schema_cache.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _schema_cache[key] = df.schema
    else:
        df = spark.read.schema(sch).parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df
