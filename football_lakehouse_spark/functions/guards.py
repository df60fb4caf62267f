"""Runtime enforcement of the audited driver-materialisation bounds.

The static collect-lint (scripts/plan_lint.py COLLECT_ALLOW) names a
size bound for every allowed driver materialisation in the package —
but a static audit can't stop a CALLER from drifting (a "centroid
table, n_cells rows" collect silently materialising a million rows
after a refactor). :func:`bounded_collect` turns each named bound into
an actual runtime assertion: it fetches ``max_rows + 1`` through a
``limit`` (so the driver never holds more than one row past the audit
claim, even when the input would be huge) and fails LOUDLY when the
claim is exceeded.

Every COLLECT_ALLOW entry either collects through this helper (or its
Arrow twin :func:`bounded_arrow`) or is the helper itself; the lint
treats direct ``bounded_collect(...)``/``bounded_arrow(...)`` call
sites exactly like raw ``.collect()`` sites, so the allowlist stays a
faithful audit of who materialises what.

Size-driven plan choices read the optimizer's estimate through
:func:`plan_bytes`, and parquet reads take their schema from
:func:`parquet_schema`: both are driver-side metadata and start no job.
Only a partitioned dir is read by inference, which also discovers its
partition columns (:func:`parquet_schema` reads top-level files).

The opposite direction — driver rows back into a DataFrame — goes
through :func:`local_frame`, the package's only ``createDataFrame``
site (the static lint enforces it).
"""

from __future__ import annotations

from collections.abc import Iterable, Sequence
from datetime import datetime, timezone
from functools import partial
from typing import TYPE_CHECKING

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType, TimestampType, _parse_datatype_json_string

if TYPE_CHECKING:
    import pyarrow as pa


class CollectBoundExceeded(RuntimeError):
    """A driver materialisation exceeded its audited size bound."""


#: backstop for control-plane tables (centroid/hot-cell lists): 2^20
#: rows ≈ a few tens of MB on the driver — far above any configured
#: n_cells × dim, far below an accidental data-plane materialisation.
CONTROL_PLANE_BOUND = 1 << 20

#: partition dirs one write may touch (rewrite "removed" lists): a
#: single batch touching more partitions than this is a partitioning
#: bug, not a workload.
PER_WRITE_PARTITION_BOUND = 100_000


def bounded_collect(df: DataFrame, max_rows: int, site: str) -> list[Row]:
    """``df.collect()`` with the audited bound enforced at runtime.

    ``max_rows`` is the site's audited bound (COLLECT_ALLOW names it);
    ``site`` is a short label for the error message. Fetches at most
    ``max_rows + 1`` rows — a violating caller costs one extra row on
    the driver, not an OOM — and raises :class:`CollectBoundExceeded`
    instead of silently materialising more than the audit claims.
    """
    if max_rows < 0:
        raise ValueError(f"{site}: max_rows must be >= 0, got {max_rows}")
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise CollectBoundExceeded(
            f"{site}: driver materialisation returned more than its "
            f"audited bound of {max_rows} rows — the caller drifted from "
            "its COLLECT_ALLOW claim (scripts/plan_lint.py); restore the "
            "bound or re-audit the site"
        )
    return rows


def bounded_arrow(df: DataFrame, max_rows: int, site: str) -> pa.Table:
    """The Arrow twin of :func:`bounded_collect`: ``df`` as one
    ``pyarrow.Table`` fetched through ``limit(max_rows + 1).toArrow()``,
    raising :class:`CollectBoundExceeded` past ``max_rows``. For
    driver-tier loops that want columns (numpy arrays, list offsets)
    rather than ``Row`` objects; callers that can run distributed catch
    the error and fall back."""
    if max_rows < 0:
        raise ValueError(f"{site}: max_rows must be >= 0, got {max_rows}")
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        raise CollectBoundExceeded(
            f"{site}: driver materialisation returned more than its "
            f"audited bound of {max_rows} rows"
        )
    return table


def plan_bytes(df: DataFrame) -> int | None:
    """The optimizer's ``sizeInBytes`` estimate of ``df``'s plan: no job
    runs. ``None`` when the plan cannot be estimated — including a
    Python-RDD or checkpointed source, which Spark sizes at
    ``spark.sql.defaultSizeInBytes``. Without CBO statistics a filter
    keeps its child's size, so the estimate errs large there; a parquet
    scan reports on-disk (compressed) bytes, so it errs small against
    the decoded rows."""
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        unknown = df.sparkSession._jsparkSession.sessionState().conf().defaultSizeInBytes()
    except Exception:
        return None
    return None if est >= unknown else est


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, from one footer
    read on the driver with no job: a dir's first data file in sorted
    order, skipping ``_``/``.`` names as Spark's listing does. Spark's
    converter applies the session conf (``nanosAsLong``,
    ``inferTimestampNTZ``, ``binaryAsString``) as inference does.
    ``FileNotFoundError`` names a missing path or a dir with no data file."""
    state = spark._jsparkSession.sessionState()
    # classes by full name: a JVMView attribute chain costs one py4j
    # round trip per package segment
    jclass = partial(JavaClass, gateway_client=spark._jvm._gateway_client)
    hadoop_path = jclass("org.apache.hadoop.fs.Path")
    conf, file = state.newHadoopConf(), hadoop_path(path)
    fs = file.getFileSystem(conf)
    if not fs.exists(file):
        raise FileNotFoundError(f"parquet_schema: no such path: {path}")
    if fs.getFileStatus(file).isDirectory():
        names = (s.getPath().getName() for s in fs.listStatus(file) if s.isFile())
        data = sorted(n for n in names if not n.startswith(("_", ".")))
        if not data:
            raise FileNotFoundError(f"parquet_schema: no data file in {path}")
        file = hadoop_path(file, data[0])
    pq = "org.apache.parquet."
    # read options from the session's hadoop conf: the one-argument
    # open() builds a fresh Configuration, several ms per call
    reader = jclass(pq + "hadoop.ParquetFileReader").open(
        jclass(pq + "hadoop.util.HadoopInputFile").fromPath(file, conf),
        jclass(pq + "HadoopReadOptions").builder(conf, file).build(),
    )
    try:
        footer = jclass(pq + "hadoop.Footer")(file, reader.getFooter())
    finally:
        reader.close()
    fmt = "org.apache.spark.sql.execution.datasources.parquet."
    converter = jclass(fmt + "ParquetToSparkSchemaConverter")(state.conf())
    schema = jclass(fmt + "ParquetFileFormat").readSchemaFromFooter(footer, converter)
    return _parse_datatype_json_string(schema.asNullable().json())


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], ddl: str | StructType
) -> DataFrame:
    """Driver-held control-plane rows as a DataFrame whose schema is
    exactly ``ddl``. The rows reach the JVM as one Arrow table, so the
    plan is a ``LocalTableScan``: collecting it runs no job, and no read
    starts a Python worker — unlike ``createDataFrame(list, ddl)``'s
    Python RDD (SCALING.md, per-job floor table). Naive datetimes keep
    ``createDataFrame``'s meaning (process-local time)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = StructType.fromDDL(ddl) if isinstance(ddl, str) else ddl
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    width = len(schema.fields)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(
            f"local_frame: row {bad!r} has {len(bad)} fields, schema has {width}"
        )
    cols = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for field, col, atype in zip(schema.fields, cols, arrow_schema.types):
        if isinstance(field.dataType, TimestampType):
            col = [
                v.astimezone(timezone.utc) if isinstance(v, datetime) else v
                for v in col
            ]
        arrays.append(pa.array(col, type=atype))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
