"""Shared fixtures: one SparkSession per test run, DuckDB oracle
connections per scale factor, and the driver-style compare helper
(row count + column names + order-insensitive values)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from football_lakehouse_spark.catalog import TABLES
from football_lakehouse_spark.session import get_spark

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")


def _half_host_memory() -> str:
    """Half of MemTotal, in whole GB, for the test JVM's heap. Under the
    engine's 90g default G1 grows the heap instead of collecting, and
    one full suite run on a 4-core, 15 GB host had its JVM OOM-killed
    at 14.9 GB resident (another run of the same tree peaked at 9.6 GB)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return f"{max(2, kb // (2 << 20))}g"


os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _half_host_memory())


@pytest.fixture(scope="session")
def spark():
    s = get_spark("fls-tests", cpus=int(os.environ.get("SPARK_GRAFT_TEST_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def duck():
    def make(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
            )
        return con

    cons = {d: make(d) for d in {SF_SMOKE, SF_ORACLE}}
    yield cons
    for c in cons.values():
        c.close()


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # FULL precision: the driver hashes raw values, so tests must be
        # bit-strict too. Queries are responsible for cross-engine
        # determinism (decimal sums for money, rounding of derived cols).
        return f"{v:.17g}"
    if isinstance(v, bool):
        return str(bool(v)).lower()
    return str(v)


def normalize(columns, rows):
    """Sort columns by name (driver behaviour), then rows — returns a
    canonical list of tuples for order-insensitive comparison."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return cols, out


def compare_with_oracle(spark_df, oracle_sql: str, con) -> None:
    """Assert the Spark result and the DuckDB oracle agree on column
    names, row count, and (order-insensitive) values — the same contract
    the driver's CORRECTNESS check applies."""
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    res = con.execute(oracle_sql)
    d_cols = [c[0] for c in res.description]
    d_rows = [tuple(r) for r in res.fetchall()]

    assert sorted(s_cols) == sorted(d_cols), (
        f"column mismatch: spark={sorted(s_cols)} duckdb={sorted(d_cols)}"
    )
    assert len(s_rows) == len(d_rows), (
        f"row-count mismatch: spark={len(s_rows)} duckdb={len(d_rows)}"
    )
    _, s_norm = normalize(s_cols, s_rows)
    _, d_norm = normalize(d_cols, d_rows)
    mismatches = [
        (a, b) for a, b in zip(s_norm, d_norm) if a != b
    ]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[0]}"
