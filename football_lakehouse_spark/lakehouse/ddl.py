"""DDL / catalog operators — reference SURVEY.md §2.12: idempotent
schema/table/view DDL, catalog listings, USE-scoping
(``notebooks/00_admin/00_create_uc_objects.py``,
``01_environment_smoke_test.py``, ``02_uc_smoke_and_grants.py``).

All native ``spark.sql``. Three-level Unity-Catalog-style names
(``catalog.schema.table`` — reference ``resources/uc/objects.sql:5-9``)
are supported via :func:`resolve_name`: the built-in ``spark_catalog``
passes through natively (Spark resolves it 3-level itself); any OTHER
logical catalog is multiplexed onto the session catalog as a
``<catalog>__<schema>`` database — open-source Spark has exactly one
writable session catalog without a connector-catalog plugin, so the
mapping is the honest local mirror of UC's namespace tree (and is
bijective, so listings can be projected back). Grants are governance
metadata with no local analogue — documented, not implemented
(SURVEY.md §2.12)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from football_lakehouse_spark.functions.guards import local_frame

#: separator for multiplexing logical catalogs onto the session catalog
_CAT_SEP = "__"


def resolve_name(name: str) -> str:
    """Resolve a 1/2/3-level object name to a session-catalog name.

    ``table`` and ``schema.table`` pass through; for
    ``catalog.schema.table``, ``spark_catalog`` stays native 3-level
    and any other catalog maps to the ``catalog__schema`` database."""
    parts = name.split(".")
    if len(parts) != 3:
        return name
    cat, sch, tbl = parts
    if cat == "spark_catalog":
        return name
    return f"{cat}{_CAT_SEP}{sch}.{tbl}"


def resolve_schema(name: str) -> str:
    """Resolve a 1/2-level SCHEMA name (``schema`` or ``catalog.schema``)."""
    parts = name.split(".")
    if len(parts) != 2:
        return name
    cat, sch = parts
    if cat == "spark_catalog":
        return name
    return f"{cat}{_CAT_SEP}{sch}"


def create_schema(spark: SparkSession, name: str) -> None:
    """Idempotent CREATE SCHEMA; accepts ``schema`` or ``catalog.schema``.

    A PLAIN schema name may not contain the reserved ``__`` separator:
    it would be indistinguishable from a multiplexed ``catalog__schema``
    database, silently vanish from the default :func:`list_schemas`
    listing, and be mis-projected into another catalog's listing. Fail
    closed rather than corrupt the namespace mapping."""
    if any(_CAT_SEP in part for part in name.split(".")):
        raise ValueError(
            f"schema name {name!r} contains the reserved separator "
            f"{_CAT_SEP!r}; use catalog.schema form for namespaced schemas"
        )
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {resolve_schema(name)}")


def list_schemas(spark: SparkSession, catalog: str | None = None) -> DataFrame:
    """SHOW SCHEMAS [IN catalog]: projects the multiplexed
    ``catalog__schema`` databases back to plain schema names."""
    from pyspark.sql import functions as F

    dbs = spark.sql("SHOW DATABASES")
    col = dbs.columns[0]
    if catalog is None or catalog == "spark_catalog":
        # same output schema as the catalog branch — a caller selecting
        # 'schema_name' must work identically against either listing
        return dbs.where(~F.col(col).contains(_CAT_SEP)).select(
            F.col(col).alias("schema_name")
        )
    prefix = f"{catalog}{_CAT_SEP}"
    return dbs.where(F.col(col).startswith(prefix)).select(
        F.expr(f"substring({col}, {len(prefix) + 1})").alias("schema_name")
    )


def create_table(spark: SparkSession, name: str, ddl_cols: str, using: str = "parquet",
                 partitioned_by: str | None = None, location: str | None = None) -> None:
    """Idempotent CREATE TABLE (reference S6); 1/2/3-level names. Adds
    the PARTITIONED BY clause the reference documents but never ships
    (SURVEY.md §1.4)."""
    parts = f" PARTITIONED BY ({partitioned_by})" if partitioned_by else ""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {resolve_name(name)} ({ddl_cols}) USING {using}{parts}{loc}"
    )


def create_or_replace_view(spark: SparkSession, name: str, select_sql: str) -> None:
    spark.sql(f"CREATE OR REPLACE VIEW {resolve_name(name)} AS {select_sql}")


def smoke_roundtrip(spark: SparkSession, schema: str, location: str) -> DataFrame:
    """The reference's environment smoke test (01_environment_smoke_test):
    create → insert → read → drop, returning the read-back rows."""
    create_schema(spark, schema)
    # resolve ONCE and use the resolved name in every statement:
    # create_table resolves internally, so a catalog-qualified schema
    # ('uc.bronze' → uc__bronze) would otherwise be created under the
    # resolved name while DROP/INSERT/SELECT addressed a nonexistent
    # 3-level name and threw
    t = resolve_name(f"{schema}.smoke_roundtrip")
    spark.sql(f"DROP TABLE IF EXISTS {t}")
    create_table(spark, t, "id INT, note STRING, created_ts TIMESTAMP",
                 location=f"{location}/smoke_roundtrip")
    # OVERWRITE, not append: the table is EXTERNAL (explicit LOCATION),
    # so the final DROP removes only metadata and a rerun over the same
    # location would otherwise read the prior run's file and report a
    # phantom second row — the smoke test must be idempotent.
    spark.sql(f"INSERT OVERWRITE {t} VALUES (1, 'hello', current_timestamp())")
    from football_lakehouse_spark.functions.guards import bounded_collect

    # bound 1: the overwrite writes exactly one row — a phantom second
    # row (append-instead-of-overwrite regression) now fails loudly
    out = bounded_collect(spark.sql(f"SELECT id, note FROM {t}"), 1,
                          "ddl.smoke_roundtrip")
    spark.sql(f"DROP TABLE {t}")
    return local_frame(spark, out, "id int, note string")


def catalog_report(spark: SparkSession, schema: str) -> DataFrame:
    """SHOW-style catalog listing (reference 02_uc_smoke_and_grants);
    accepts ``schema`` or ``catalog.schema``."""
    return spark.sql(f"SHOW TABLES IN {resolve_schema(schema)}")
