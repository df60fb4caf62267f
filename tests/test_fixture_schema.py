"""Fixture dtype contract — pins the exact schemas (including timestamp
flavour) the engine assumes of the driver-generated parquet at
``/root/testdata/sf*``.

Two environment drifts in two rounds broke operators silently (r2:
driver JSON canonicalisation → q47; r3: ``ts`` columns became
TIMESTAMP_NTZ → q28/q64). This test makes the NEXT drift fail loudly in
exactly one place. If it goes red: the testdata changed shape — audit
every call site that touches the changed column (epoch conversions live
in ``functions/scalars.py:epoch_seconds/epoch_micros``), then update the
pinned schema here and the table in FIXTURES.md.

Checked at two layers because they can drift independently:

- **pyarrow (storage)** — the physical parquet types, for every sf dir,
  without spinning up the JVM.
- **Spark (engine view)** — what ``catalog.load_table`` actually hands
  operators after session config (``nanosAsLong``, NTZ inference) and
  normalisation are applied. This is the layer operators program
  against, so it is the contract that matters; TIMESTAMP vs
  TIMESTAMP_NTZ is visible only here.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from football_lakehouse_spark.catalog import TABLES, load_table
from football_lakehouse_spark.functions.guards import parquet_schema

SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

#: physical parquet schema per table: (column, pyarrow type string)
ARROW_SCHEMA = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int32"),
        ("n_name", "string"),
        ("n_regionkey", "int32"),
    ],
    "customer": [
        ("c_custkey", "int64"),
        ("c_name", "string"),
        ("c_nationkey", "int32"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "int64"),
        ("s_name", "string"),
        ("s_nationkey", "int32"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "int64"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int32"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "int64"),
        ("o_custkey", "int64"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp[us]"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "int64"),
        ("l_partkey", "int64"),
        ("l_suppkey", "int64"),
        ("l_linenumber", "int32"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp[us]"),
    ],
    "events": [
        ("event_id", "int64"),
        ("ts", "timestamp[us]"),
        ("user_id", "int64"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "int64"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "int64"),
    ],
    "embeddings": [
        ("vec_id", "int64"),
        ("embedding", "list<element: float>"),
        ("label", "int32"),
    ],
}

#: what catalog.load_table hands operators (Spark simpleString dtypes).
#: Timestamps are TIMESTAMP_NTZ as of round 3's testdata — every epoch
#: conversion must go through the NTZ-safe helpers in functions/scalars.
SPARK_SCHEMA = {
    "region": [("r_regionkey", "int"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int"),
        ("n_name", "string"),
        ("n_regionkey", "int"),
    ],
    "customer": [
        ("c_custkey", "bigint"),
        ("c_name", "string"),
        ("c_nationkey", "int"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "bigint"),
        ("s_name", "string"),
        ("s_nationkey", "int"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "bigint"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp_ntz"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "bigint"),
        ("l_partkey", "bigint"),
        ("l_suppkey", "bigint"),
        ("l_linenumber", "int"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp_ntz"),
    ],
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp_ntz"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def test_contract_covers_all_tables():
    assert set(ARROW_SCHEMA) == set(TABLES)
    assert set(SPARK_SCHEMA) == set(TABLES)


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", sorted(ARROW_SCHEMA))
def test_parquet_storage_schema(sf_dir, table):
    schema = pq.read_schema(f"{sf_dir}/{table}.parquet")
    got = [(f.name, str(f.type)) for f in schema]
    assert got == ARROW_SCHEMA[table], (
        f"{table} storage schema drifted in {sf_dir} — audit epoch/typed "
        f"call sites, then re-pin here and in FIXTURES.md"
    )


#: every sf dir, ids bare for the first dir and ``<table>-<dir>`` after it
ENGINE_CASES = [
    pytest.param(sf_dir, table, id=table if i == 0 else f"{table}-{sf_dir}")
    for i, sf_dir in enumerate(SF_DIRS)
    for table in sorted(SPARK_SCHEMA)
]


@pytest.mark.parametrize("sf_dir,table", ENGINE_CASES)
def test_spark_engine_schema(spark, sf_dir, table):
    df = load_table(spark, sf_dir, table)
    assert df.dtypes == SPARK_SCHEMA[table], (
        f"{table} engine-view schema drifted in {sf_dir} — "
        f"catalog.load_table or session config changed what operators "
        f"see; audit epoch helpers (functions/scalars.py) and re-pin"
    )


def test_parquet_schema_matches_spark_inference(spark, tmp_path):
    """The footer read equals Spark's own inference: every fixture
    table, a Spark-written multi-file dir (``_SUCCESS`` and ``.crc``
    files beside its part files, a non-nullable column), and a
    TIMESTAMP(NANOS) file under both ``nanosAsLong`` settings — where
    ``false`` makes the type illegal, both sides raise the same error."""
    import pyarrow as pa
    from pyspark.errors import AnalysisException
    from pyspark.sql.types import LongType

    for sf_dir in SF_DIRS:
        for table in TABLES:
            p = f"{sf_dir}/{table}.parquet"
            assert parquet_schema(spark, p) == spark.read.parquet(p).schema, p

    multi = str(tmp_path / "multi")
    spark.range(30).selectExpr("id", "cast(id AS string) AS s").repartition(
        3
    ).write.parquet(multi)
    names = os.listdir(multi)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.startswith("part-") for n in names) == 3
    assert parquet_schema(spark, multi) == spark.read.parquet(multi).schema

    nanos = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"id": [1], "ts": pa.array([1_000_000_123], pa.timestamp("ns"))}),
        nanos,
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got = parquet_schema(spark, nanos)
        assert got == spark.read.parquet(nanos).schema
        assert got["ts"].dataType == LongType()
        spark.conf.set(key, "false")
        errors = []
        for read in (lambda: parquet_schema(spark, nanos),
                     lambda: spark.read.parquet(nanos).schema):
            with pytest.raises(AnalysisException) as e:
                read()
            errors.append(e.value.getCondition())
        assert errors == ["PARQUET_TYPE_ILLEGAL"] * 2
    finally:
        spark.conf.set(key, before)


def test_load_table_starts_no_job(spark, tmp_path):
    """Loading the ten fixture tables from a path never loaded before
    starts no Spark job: each schema is read from its parquet footer on
    the driver, where inference ran one job per table."""
    import shutil

    sf = str(tmp_path / "sf")
    shutil.copytree(SF_DIRS[0], sf)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    try:
        sc.setJobGroup("load-table-probe", "load_table of ten fixture tables")
        frames = [load_table(spark, sf, t) for t in TABLES]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(tracker.getJobIdsForGroup("load-table-probe")) == []
    assert [f.dtypes for f in frames] == [SPARK_SCHEMA[t] for t in TABLES]


def test_load_table_names_missing_path(spark, tmp_path):
    """A missing fixture and a dataset dir holding no data file (only
    ``_SUCCESS`` and its ``.crc``) raise ``FileNotFoundError`` naming
    the path, not a Spark analysis error."""
    sf = str(tmp_path)
    with pytest.raises(FileNotFoundError, match="events.parquet"):
        load_table(spark, sf, "events")
    empty = tmp_path / "orders.parquet"
    empty.mkdir()
    (empty / "_SUCCESS").write_bytes(b"")
    (empty / "._SUCCESS.crc").write_bytes(b"")
    with pytest.raises(FileNotFoundError, match="no data file in .*orders.parquet"):
        load_table(spark, sf, "orders")


def test_schema_cache_invalidated_on_in_place_regeneration(spark, tmp_path):
    """A fixture regenerated IN PLACE (a contract violation nothing
    enforces) is read with its new schema: every load reads the
    current footer, so there is no stored schema to go stale."""
    import os
    import time

    from football_lakehouse_spark.catalog import load_table

    sf = str(tmp_path)
    p = os.path.join(sf, "events.parquet")
    spark.createDataFrame([(1, "x")], "event_id bigint, a string").write.parquet(p)
    assert dict(load_table(spark, sf, "events").dtypes)["a"] == "string"
    time.sleep(1.1)  # mtime granularity
    import shutil

    shutil.rmtree(p)
    spark.createDataFrame([(1, 7)], "event_id bigint, a bigint").write.parquet(p)
    assert dict(load_table(spark, sf, "events").dtypes)["a"] == "bigint"


def test_schema_cache_sees_part_file_overwritten_in_place(spark, tmp_path):
    """A part file overwritten under its OLD name, which leaves the
    dataset dir's mtime alone (no entry added, removed or renamed), is
    read with its new schema and values: the schema comes from the
    file's current footer, not an old one forced onto the file."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from football_lakehouse_spark.catalog import load_table

    sf = str(tmp_path)
    d = os.path.join(sf, "events.parquet")
    os.makedirs(d)
    part = os.path.join(d, "part-00000.parquet")
    pq.write_table(pa.table({"event_id": [1], "a": ["x"]}), part)
    assert dict(load_table(spark, sf, "events").dtypes)["a"] == "string"
    dir_mtime = os.stat(d).st_mtime_ns
    time.sleep(0.05)  # past the filesystem's timestamp granularity
    pq.write_table(pa.table({"event_id": [1], "a": [7]}), part)
    assert os.stat(d).st_mtime_ns == dir_mtime  # the dir did not move
    df = load_table(spark, sf, "events")
    assert dict(df.dtypes)["a"] == "bigint"
    assert [tuple(r) for r in df.collect()] == [(1, 7)]
