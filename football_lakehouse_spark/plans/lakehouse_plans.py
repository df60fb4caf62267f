"""Lakehouse-pattern queries: MERGE upsert (JN4), time travel (§2.13),
content-hash idempotent ingest (D2/S4). q30/q31 exercise the REAL
versioned-table layer end to end (write → commit → read back) inside a
temp directory, and still oracle-check because every input is a
deterministic transform of the fixture tables.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import local_frame
from football_lakehouse_spark.functions.scalars import (
    _sum_micros_exact,
    _trunc_div,
    money_sum,
)

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.operators.merge import merge_upsert
from football_lakehouse_spark.operators.zorder import sql_z_value
from football_lakehouse_spark.plans.registry import query
from football_lakehouse_spark.scratch import scratch_dir

# Deterministic base/updates split of `events` shared by q29/q30 and the
# DuckDB oracles: base = 90% of events; updates touch every 3rd event
# (some match base rows → UPDATE, some don't → INSERT).
_BASE_SQL = "SELECT event_id, event_type, value FROM events WHERE event_id % 10 <> 0"
_UPD_SQL = (
    "SELECT event_id, 'updated' AS event_type, round(value * 2, 2) AS value "
    "FROM events WHERE event_id % 3 = 0"
)


def _base_updates(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    ev = load_table(spark, sf_dir, "events")
    base = ev.where(F.col("event_id") % 10 != 0).select("event_id", "event_type", "value")
    upd = ev.where(F.col("event_id") % 3 == 0).select(
        "event_id",
        F.lit("updated").alias("event_type"),
        F.round(F.col("value") * 2, 2).alias("value"),
    )
    return base, upd


@query(
    "q29_merge_upsert",
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL})
    SELECT * FROM upd
    UNION ALL
    SELECT b.* FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    """,
    doc="MERGE INTO … WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT as its "
    "relational decomposition (SURVEY §2 JN4; reference stub "
    "32_merge_silver_live_event.sql). Update keys broadcast; one base scan.",
    bench=True,
    tags=("lakehouse", "merge"),
)
def merge_upsert_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, upd = _base_updates(spark, sf_dir)
    return merge_upsert(base, upd, ["event_id"])


@query(
    "q30_time_travel",
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL}),
    merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    )
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS operation, count(*) AS n_rows,
           CAST(sum(CASE WHEN event_type = 'updated' THEN 1 ELSE 0 END) AS BIGINT) AS n_updated
    FROM base
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'merge', count(*),
           CAST(sum(CASE WHEN event_type = 'updated' THEN 1 ELSE 0 END) AS BIGINT)
    FROM merged
    """,
    doc="Time travel / DESCRIBE HISTORY (SURVEY §2.13, reference stub "
    "45_time_travel_debug.sql): writes v0, MERGEs to v1 on the versioned "
    "parquet table layer, then reads BOTH versions back and summarises — "
    "an end-to-end transaction-log check, oracle-verified.",
    tags=("lakehouse", "time-travel"),
)
def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, upd = _base_updates(spark, sf_dir)
    # persistent scratch (cleaned on next run): the per-version summaries
    # stay lazy reads over the committed table files, distributed end to end
    root = scratch_dir("q30_time_travel")
    t = LakehouseTable(spark, root, "silver", "event_tt")
    t.append(base)
    t.merge(upd, ["event_id"])
    hist = t.describe_history()
    outs = []
    for h in hist:
        df = t.read(version=h["version"])
        outs.append(
            df.agg(
                F.lit(h["version"]).cast("bigint").alias("version"),
                F.lit(h["operation"]).alias("operation"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("event_type") == "updated", 1).otherwise(0))
                .cast("bigint")
                .alias("n_updated"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


@query(
    "q72_delete_rows",
    oracle=f"""
    WITH base AS ({_BASE_SQL})
    SELECT event_id, event_type, value FROM base
    WHERE NOT (event_type = 'purchase' AND value < 50)
       OR event_type IS NULL OR value IS NULL
    """,
    doc="Delta-style DELETE (§2.13 / delta.io DELETE FROM): base events "
    "committed to the versioned table, then a predicate delete "
    "(copy-on-write, partition-scoped file rewrite) and a lazy read-back "
    "of the surviving rows; v0 still time-travels to the full set.",
    tags=("lakehouse",),
)
def delete_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _base_updates(spark, sf_dir)
    root = scratch_dir("q72_delete_rows")
    t = LakehouseTable(spark, root, "silver", "event_del")
    t.append(base)
    t.delete((F.col("event_type") == "purchase") & (F.col("value") < 50))
    return t.read().select("event_id", "event_type", "value")


@query(
    "q125_table_restore",
    oracle=f"""
    WITH base AS ({_BASE_SQL}),
    survived AS (
        SELECT * FROM base WHERE NOT (event_type = 'purchase' AND value < 50)
    )
    SELECT CAST(0 AS BIGINT) AS version, 'append' AS operation,
           count(*) AS n_rows, CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS sum_value
    FROM base
    UNION ALL
    SELECT CAST(1 AS BIGINT), 'delete', count(*), CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100
    FROM survived
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'restore', count(*), CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100
    FROM base
    """,
    doc="RESTORE TABLE … TO VERSION AS OF (delta.io RESTORE; §2.13 family "
    "with q30 time travel / q98 CDC; reference stub "
    "45_time_travel_debug.sql): v0 append, v1 accidental DELETE, then a "
    "metadata-only restore commits v2 whose live file set equals v0's — "
    "no data rewritten, O(log-tail) cost at any table size. The query "
    "reads all three versions back and summarises; the oracle proves v2 "
    "is byte-identical to v0 (row count AND value checksum) while v1 "
    "stays time-travellable.",
    tags=("lakehouse", "time-travel"),
)
def table_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _base_updates(spark, sf_dir)
    root = scratch_dir("q125_table_restore")
    t = LakehouseTable(spark, root, "silver", "event_restore")
    t.append(base)
    t.delete((F.col("event_type") == "purchase") & (F.col("value") < 50))
    t.restore(0)
    outs = []
    for h in t.describe_history():
        df = t.read(version=h["version"])
        outs.append(
            df.agg(
                F.lit(h["version"]).cast("bigint").alias("version"),
                F.lit(h["operation"]).alias("operation"),
                F.count(F.lit(1)).alias("n_rows"),
                money_sum(F.col("value"), 2).alias("sum_value"),
            )
        )
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result


@query(
    "q98_cdc_feed",
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL}),
    v1 AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    ),
    v2 AS (
        SELECT * FROM v1 WHERE NOT (event_type = 'updated' AND value < 50)
    ),
    c01 AS (
        SELECT 'insert' AS change_type, n.* FROM v1 n
        WHERE NOT EXISTS (SELECT 1 FROM base o WHERE o.event_id = n.event_id)
        UNION ALL
        SELECT 'delete', o.* FROM base o
        WHERE NOT EXISTS (SELECT 1 FROM v1 n WHERE n.event_id = o.event_id)
        UNION ALL
        SELECT 'update_preimage', o.* FROM base o JOIN v1 n USING (event_id)
        WHERE o.event_type IS DISTINCT FROM n.event_type
           OR o.value IS DISTINCT FROM n.value
        UNION ALL
        SELECT 'update_postimage', n.event_id, n.event_type, n.value
        FROM base o JOIN v1 n USING (event_id)
        WHERE o.event_type IS DISTINCT FROM n.event_type
           OR o.value IS DISTINCT FROM n.value
    ),
    c12 AS (
        SELECT 'insert' AS change_type, n.* FROM v2 n
        WHERE NOT EXISTS (SELECT 1 FROM v1 o WHERE o.event_id = n.event_id)
        UNION ALL
        SELECT 'delete', o.* FROM v1 o
        WHERE NOT EXISTS (SELECT 1 FROM v2 n WHERE n.event_id = o.event_id)
        UNION ALL
        SELECT 'update_preimage', o.* FROM v1 o JOIN v2 n USING (event_id)
        WHERE o.event_type IS DISTINCT FROM n.event_type
           OR o.value IS DISTINCT FROM n.value
        UNION ALL
        SELECT 'update_postimage', n.event_id, n.event_type, n.value
        FROM v1 o JOIN v2 n USING (event_id)
        WHERE o.event_type IS DISTINCT FROM n.event_type
           OR o.value IS DISTINCT FROM n.value
    )
    SELECT CAST(1 AS BIGINT) AS version, change_type, event_id, event_type, value
    FROM c01
    UNION ALL
    SELECT CAST(2 AS BIGINT), change_type, event_id, event_type, value FROM c12
    """,
    doc="Change data feed between table versions (Delta CDF / "
    "table_changes analogue): base appended as v0, MERGE to v1, "
    "predicate DELETE to v2, then the row-level delta for each "
    "transition — insert / delete / update_preimage / update_postimage "
    "with Delta CDF payload semantics — derived by diffing committed "
    "versions. One full-outer join per transition (single shuffle); each "
    "joined row emits its 0-2 change entries through one exploded array, "
    "so no per-change-type re-scan. Feeds incremental downstream "
    "consumers without requiring the writer to log changes at commit "
    "time.",
    tags=("lakehouse", "cdc"),
)
def cdc_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    base, upd = _base_updates(spark, sf_dir)
    root = scratch_dir("q98_cdc_feed")
    t = LakehouseTable(spark, root, "silver", "event_cdc")
    t.append(base)
    t.merge(upd, ["event_id"])
    t.delete((F.col("event_type") == "updated") & (F.col("value") < 50))
    return change_feed(
        [t.read(version=0), t.read(version=1), t.read(version=2)],
        ["event_id"],
    )


@query(
    "q55_rollup_cascade",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type,
               count(*) AS n,
               CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) AS BIGINT) AS v_micros
        FROM events GROUP BY 1, 2
    )
    SELECT strftime(date_trunc('day', h), '%Y-%m-%d') AS day, event_type,
           CAST(sum(n) AS BIGINT) AS n,
           CAST(sum(v_micros) // 10000 AS DOUBLE) / 100 AS total_value
    FROM hourly GROUP BY 1, 2
    """,
    doc="Hypertable-style rollup cascade: the DAILY aggregate is computed by "
    "re-aggregating the HOURLY aggregate (algebraic merge of partials) — "
    "the continuous-aggregate maintenance pattern; at scale each tier "
    "reads the tier below, never raw data twice.",
    tags=("lakehouse", "window"),
)
def rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    from football_lakehouse_spark.functions.scalars import micros

    # decimal(38,0) micros (the shared fixed-point rule): a bigint
    # micro-sum past 2^53 would promote the final divide to double and
    # floor one off the oracle's HUGEINT '//'
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        _sum_micros_exact(F.col("value")).alias("v_micros"),
    )
    return hourly.groupBy(
        F.date_format(F.date_trunc("day", "h"), "yyyy-MM-dd").alias("day"),
        "event_type",
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        # exact trunc-div on the pre-aggregated micros (shared
        # _trunc_div; the hand-rolled floor(sum/10000) was the
        # HALF_UP-before-floor + negative-floor class — r12)
        (
            _trunc_div(F.sum("v_micros"), F.lit(10000)).cast("double") / 100
        ).alias("total_value"),
    )


@query(
    "q60_continuous_rollup",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Continuous-aggregate maintenance end to end: events split into 3 "
    "batches, each incrementally ADDITIVE-merged into a versioned hourly "
    "rollup table (one commit per batch, no history rescans); the final "
    "maintained state is oracle-checked against a direct aggregate of all "
    "events (pipelines/continuous.py).",
    tags=("lakehouse", "streaming"),
)
def continuous_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.pipelines.continuous import (
        maintain_from_batches,
        rollup_view,
    )

    ev = load_table(spark, sf_dir, "events")
    batches = [ev.where(F.col("event_id") % 3 == i) for i in range(3)]
    root = scratch_dir("q60_continuous_rollup")
    t = maintain_from_batches(spark, batches, root)
    return rollup_view(t)


@query(
    "q54_format_roundtrip",
    oracle="""
    SELECT fmt, event_id, event_type, value FROM (
        SELECT 'csv' AS fmt, event_id, event_type, value FROM events
        UNION ALL SELECT 'json', event_id, event_type, value FROM events
        UNION ALL SELECT 'orc', event_id, event_type, value FROM events
    )
    """,
    doc="Source/sink format coverage (pyspark_guide 'Sources & sinks'): "
    "write the events table as CSV, JSON and ORC, read each back with "
    "explicit schemas (no inference on trusted paths, SURVEY §1.3), and "
    "prove lossless round-trips by matching the original values.",
    tags=("lakehouse", "io"),
)
def format_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    schema = "event_id BIGINT, event_type STRING, value DOUBLE"
    root = scratch_dir("q54_format_roundtrip")
    parts = []
    ev.write.mode("overwrite").option("header", True).csv(os.path.join(root, "csv"))
    parts.append(
        spark.read.schema(schema).option("header", True)
        .csv(os.path.join(root, "csv"))
        .select(F.lit("csv").alias("fmt"), "*")
    )
    ev.write.mode("overwrite").json(os.path.join(root, "json"))
    parts.append(
        spark.read.schema(schema).json(os.path.join(root, "json"))
        .select(F.lit("json").alias("fmt"), "*")
    )
    ev.write.mode("overwrite").orc(os.path.join(root, "orc"))
    parts.append(
        spark.read.schema(schema).orc(os.path.join(root, "orc"))
        .select(F.lit("orc").alias("fmt"), "*")
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q31_idempotent_ingest",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(1 AS BIGINT) AS n_versions,
           CAST(1 AS BIGINT) AS second_run_skipped
    FROM events
    """,
    doc="Content-hash idempotent append (SURVEY §2 D2/S4, reference "
    "11_ingest_fpl_bootstrap.py:138-151): ingesting the same payload batch "
    "twice commits exactly one version; the rerun is a verified no-op.",
    tags=("lakehouse", "ingest"),
)
def idempotent_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    payload = F.to_json(F.struct("event_id", "ts", "user_id", "event_type", "value", "props"))
    batch = ev.select(
        F.to_date("ts").alias("snapshot_date"),
        payload.alias("payload_json"),
        F.sha2(payload, 256).alias("payload_sha256"),
    )
    with tempfile.TemporaryDirectory(prefix="fls-ing-") as root:
        t = LakehouseTable(spark, root, "bronze", "events_raw")
        first = t.append_if_new(batch, "payload_sha256")
        second = t.append_if_new(batch, "payload_sha256")  # must skip
        n_rows = t.read().count()
        n_versions = len(t.describe_history())
        return local_frame(
            spark,
            [(n_rows, n_versions, 1 if (second is None and first is not None) else 0)],
            "n_rows bigint, n_versions bigint, second_run_skipped bigint",
        )


@query(
    "q121_partition_pruned_join",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS HUGEINT))
                // 10000 AS DOUBLE) / 100 AS total_price
    FROM orders
    WHERE year(o_orderdate) >= 2000
    GROUP BY 1
    """,
    doc="Dynamic partition pruning end-to-end: orders lands as a "
    "year-partitioned parquet table (the reference's documented "
    "'partition by snapshot_date' layout its DDL never actually "
    "applies — resources/uc/objects.sql:16-28 vs docs/architecture.md:"
    "56), then a year-dim filtered to the modern era joins on the "
    "partition column. Catalyst turns the dim's broadcast into a "
    "runtime IN-filter on the fact scan's PartitionFilters "
    "(dynamicpruningexpression), so only the matching year directories "
    "are read — at 100 TB that is the difference between scanning 2 "
    "years and scanning 30. The plan contract pins the pruning "
    "expression; the oracle computes the same result from the "
    "unpartitioned source.",
    tags=("lakehouse", "layout"),
)
def partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    root = scratch_dir("q121_partition_pruned_join")
    fact_path = f"{root}/orders_by_year"
    orders.withColumn("o_year", F.year("o_orderdate").cast("int")).write.mode(
        "overwrite"
    ).partitionBy("o_year").parquet(fact_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.range(1995, 2002).select(
        F.col("id").cast("int").alias("year"),
        F.when(F.col("id") >= 2000, "modern").otherwise("legacy").alias("era"),
    )
    micro = F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("decimal(38,0)")
    return (
        fact.join(
            F.broadcast(dim.where(F.col("era") == "modern")),
            fact.o_year == F.col("year"),
        )
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            # the shared money_sum (exact trunc-div) — this carried one
            # of the two hand-rolled floor(sum/10000) copies (r12)
            money_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@query(
    "q122_zorder_locality",
    oracle=f"""
    SELECT zb, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(max(px) - min(px) AS BIGINT) AS part_span,
           CAST(max(sx) - min(sx) AS BIGINT) AS supp_span
    FROM (
        SELECT ({{z}}) >> 16 AS zb, px, sx
        FROM (
            SELECT l_partkey & 65535 AS px, l_suppkey & 65535 AS sx
            FROM lineitem
        )
    )
    GROUP BY zb
    """.format(z=sql_z_value("px", "sx")),
    doc="Z-order locality profile: every lineitem row mapped to its "
    "32-bit Morton code over (l_partkey, l_suppkey), rolled up by "
    "curve bucket (z >> 16) with each bucket's span in BOTH "
    "dimensions — the property OPTIMIZE ZORDER buys (a single-column "
    "sort bounds one dimension and leaves the other full-range; the "
    "Morton curve bounds both, which is what makes 2-D predicate file "
    "skipping work — the companion layout test writes the files and "
    "measures real per-file min/max spans plus the skip ratio). The "
    "interleave is the branchless shift/mask spreading network — pure "
    "integer ops, bit-identical in DuckDB, so the whole transform is "
    "value-checked. Reference parity: delta.autoOptimize table "
    "properties (resources/uc/objects.sql:25-28) are the platform's "
    "half of this maintenance pair.",
    tags=("lakehouse", "layout"),
)
def zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.zorder import z_value

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").bitwiseAND(F.lit(65535)).alias("px"),
        F.col("l_suppkey").bitwiseAND(F.lit(65535)).alias("sx"),
    )
    return (
        li.withColumn("zb", F.shiftright(z_value(F.col("px"), F.col("sx")), 16))
        .groupBy("zb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            (F.max("px") - F.min("px")).cast("bigint").alias("part_span"),
            (F.max("sx") - F.min("sx")).cast("bigint").alias("supp_span"),
        )
    )


@query(
    "q134_check_constraint_gate",
    oracle="""
    -- abs(): the demo's premise (base data satisfies the CHECK) must
    -- hold on ANY input, not just fixtures with nonnegative values
    SELECT event_id, event_type, abs(value) AS value FROM events
    WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, abs(value) AS value FROM events
    WHERE event_id % 2 = 1 AND event_id % 7 = 0
    """,
    doc="Table-level CHECK constraint enforcement end to end (Delta "
    "ALTER TABLE ADD CONSTRAINT; §2.8/§2.13 bridge): append a base "
    "slice, declare CHECK (value >= 0) — validated against existing "
    "rows first — then attempt a violating append (rows with value "
    "-1), which must be REJECTED with no version committed and no "
    "staged files leaked, then land a conforming second slice. The "
    "oracle is exactly base ∪ second-slice: if enforcement ever "
    "leaked the bad write, its rows appear and the hash breaks. "
    "Enforcement scans the staged parquet (column-pruned, predicate "
    "pushed, limit-1 short-circuit) — never recomputes the input plan.",
    tags=("lakehouse", "quality"),
)
def check_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.tables import ConstraintViolationError

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = scratch_dir("q134_check_constraint_gate")
    t = LakehouseTable(spark, root, "silver", "event_checked")
    # abs(): the constraint demo must be DATA-INDEPENDENT — on raw
    # values a single negative event (r13 fuzz fixtures) makes
    # add_constraint correctly refuse the declaration and the whole
    # demo premise collapses; clamping keeps every step meaningful on
    # any input while the violating append below still exercises the
    # rejection path
    ev = ev.withColumn("value", F.abs(F.col("value")))
    t.append(ev.where(F.col("event_id") % 2 == 0))
    t.add_constraint("nonneg_value", "value >= 0")
    bad = (
        ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 5 == 0))
        .withColumn("value", F.lit(-1.0))
    )
    try:
        t.append(bad)
        raise AssertionError("violating append must be rejected")
    except ConstraintViolationError:
        pass
    t.append(ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 7 == 0)))
    return t.read().select("event_id", "event_type", "value")


@query(
    "q135_shallow_clone",
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL}),
    cloned AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    )
    SELECT 'source' AS side, count(*) AS n_rows,
           CAST(sum(CASE WHEN event_type = 'updated' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_updated,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS sum_value
    FROM base
    UNION ALL
    SELECT 'clone', count(*),
           CAST(sum(CASE WHEN event_type = 'updated' THEN 1 ELSE 0 END)
                AS BIGINT),
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100
    FROM cloned
    """,
    doc="SHALLOW CLONE (delta.io CREATE TABLE … SHALLOW CLONE): the dev "
    "table is created as a zero-copy reference to the source's live "
    "files — one JSON commit at ANY table size — then a MERGE lands on "
    "the CLONE only; the query reads both tables back and summarises. "
    "The oracle proves copy-on-write isolation: the source row set is "
    "bit-identical to its pre-clone state (count, update-count, value "
    "checksum) while the clone shows the merge. Completes the Delta "
    "maintenance family: restore q125, CDC q98, constraints q134, time "
    "travel q30, vacuum/compact/Z-order q72/q122.",
    tags=("lakehouse", "time-travel"),
)
def shallow_clone_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, upd = _base_updates(spark, sf_dir)
    root = scratch_dir("q135_shallow_clone")
    src = LakehouseTable(spark, root, "silver", "event_src")
    src.append(base)
    clone = src.shallow_clone(root, "silver", "event_dev")
    clone.merge(upd, ["event_id"])
    outs = []
    for side, t in (("source", src), ("clone", clone)):
        outs.append(
            t.read().agg(
                F.lit(side).alias("side"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(F.when(F.col("event_type") == "updated", 1).otherwise(0))
                .cast("bigint")
                .alias("n_updated"),
                money_sum(F.col("value"), 2).alias("sum_value"),
            )
        )
    return outs[0].unionByName(outs[1])


@query(
    "q137_table_schema_evolution",
    oracle="""
    SELECT event_id, event_type, value, CAST(NULL AS VARCHAR) AS source
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, value, 'backfill'
    FROM events WHERE event_id % 2 = 1
    """,
    doc="Batch-table schema evolution (Delta mergeSchema parity; the "
    "table-layer sibling of q70's streaming addNewColumns): v0 appends "
    "the 3-column slice, then an append carrying a NEW 'source' column "
    "lands with merge_schema=True — the LOG schema evolves, v0's files "
    "are untouched, and the read nulls the new column for old rows "
    "because the schema of record comes from the log, never from "
    "footer merging (which would scan every footer at 10⁶ files). A "
    "same-shape append WITHOUT merge_schema is first proven to reject. "
    "Time travel to v0 still reads the original 3 columns.",
    tags=("lakehouse", "schema"),
)
def table_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.tables import SchemaMismatchError

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = scratch_dir("q137_table_schema_evolution")
    t = LakehouseTable(spark, root, "silver", "event_evolved")
    t.append(ev.where(F.col("event_id") % 2 == 0))
    evolved = ev.where(F.col("event_id") % 2 == 1).withColumn(
        "source", F.lit("backfill")
    )
    try:
        t.append(evolved)
        raise AssertionError("un-merged schema append must be rejected")
    except SchemaMismatchError:
        pass
    t.append(evolved, merge_schema=True)
    if t.read(version=0).columns != ["event_id", "event_type", "value"]:
        # explicit raise, not bare assert: the version-0 schema check is
        # load-bearing and must survive python -O
        raise AssertionError("version-0 schema drifted")
    return t.read().select("event_id", "event_type", "value", "source")


@query(
    "q138_rename_column",
    oracle="""
    SELECT event_id, event_type, value AS points FROM events
    WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, round(value * 2, 2) FROM events
    WHERE event_id % 2 = 1 AND event_id % 3 = 0
    """,
    doc="ALTER TABLE RENAME COLUMN via column mapping (Delta "
    "columnMapping parity): v0 lands under the old name, the rename is "
    "a METADATA-ONLY commit (zero files rewritten at any table size — "
    "the physical parquet name is frozen at first write; reads alias "
    "physical→logical), and a post-rename append writes under the NEW "
    "logical name yet stays byte-compatible with the old files. The "
    "oracle reads the union through the renamed column; time travel to "
    "v0 still shows the old name (asserted inline).",
    tags=("lakehouse", "schema"),
)
def rename_column_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = scratch_dir("q138_rename_column")
    t = LakehouseTable(spark, root, "silver", "event_renamed")
    t.append(ev.where(F.col("event_id") % 2 == 0))
    t.rename_column("value", "points")
    if t.read(version=0).columns != ["event_id", "event_type", "value"]:
        # explicit raise, not bare assert: the version-0 schema check is
        # load-bearing and must survive python -O
        raise AssertionError("version-0 schema drifted")
    t.append(
        ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 3 == 0))
        .select(
            "event_id", "event_type",
            F.round(F.col("value") * 2, 2).alias("points"),
        )
    )
    return t.read().select("event_id", "event_type", "points")


@query(
    "q139_drop_column",
    oracle="""
    SELECT event_id, event_type, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_id % 2 = 0
    UNION ALL
    SELECT event_id, event_type, 123.0
    FROM events WHERE event_id % 2 = 1 AND event_id % 3 = 0
    """,
    doc="ALTER TABLE DROP COLUMN + same-name re-add (the hardest "
    "column-mapping case): v0 lands with 'value', the drop is a "
    "metadata-only commit (old bytes stay in v0's files, invisible), "
    "then a mergeSchema append RE-ADDS a column named 'value' — which "
    "claims a FRESH physical identity, so v0's rows read NULL and the "
    "dropped column's stale bytes can never resurrect (the oracle "
    "pins exactly that: NULL for every old row, 123.0 for the new "
    "slice). Completes ADD/RENAME/DROP, all O(1) metadata at any "
    "table size.",
    tags=("lakehouse", "schema"),
)
def drop_column_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = scratch_dir("q139_drop_column")
    t = LakehouseTable(spark, root, "silver", "event_dropped")
    t.append(ev.where(F.col("event_id") % 2 == 0))
    t.drop_column("value")
    t.append(
        ev.where((F.col("event_id") % 2 == 1) & (F.col("event_id") % 3 == 0))
        .withColumn("value", F.lit(123.0)),
        merge_schema=True,
    )
    return t.read().select("event_id", "event_type", "value")


@query(
    "q140_deletion_vectors",
    oracle=f"""
    WITH base AS ({_BASE_SQL})
    SELECT event_id, event_type, value FROM base
    WHERE NOT (event_type = 'purchase' AND value < 50)
       OR event_type IS NULL OR value IS NULL
    """,
    doc="Merge-on-read DELETE via deletion vectors (Delta DVs; the "
    "modern sibling of q72's copy-on-write): the matching (file, "
    "row_index) pairs land in a parquet sidecar — O(matched rows), no "
    "file rewritten, the right trade for point-deletes inside 100 TB "
    "(GDPR erasure) — and every read anti-joins them away until "
    "OPTIMIZE materialises and purges. Same SQL DELETE three-valued "
    "semantics as q72 (NULL predicate rows retained), same oracle "
    "row set: two delete implementations, one answer. v0 still "
    "time-travels to the full data.",
    tags=("lakehouse",),
)
def deletion_vectors_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _base_updates(spark, sf_dir)
    root = scratch_dir("q140_deletion_vectors")
    t = LakehouseTable(spark, root, "silver", "event_dv")
    t.append(base)
    t.delete(
        (F.col("event_type") == "purchase") & (F.col("value") < 50),
        deletion_vectors=True,
    )
    return t.read().select("event_id", "event_type", "value")


@query(
    "q141_update_rows",
    oracle=f"""
    WITH base AS ({_BASE_SQL})
    SELECT event_id, event_type,
           CASE WHEN event_type = 'purchase' AND value < 50
                THEN round(value * 10, 2) ELSE value END AS value
    FROM base
    """,
    doc="Delta-style UPDATE … SET (completing the DML verbs beside "
    "MERGE q29, DELETE q72/q140): cheap purchases get their value "
    "multiplied in place via copy-on-write — assignments see the OLD "
    "row, non-matching and NULL-predicate rows pass through untouched, "
    "and on partitioned tables only partitions containing matches are "
    "rewritten (file-level pruning, the at-scale behaviour). The CASE "
    "oracle is the relational meaning of the statement.",
    tags=("lakehouse", "merge"),
)
def update_rows_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base, _ = _base_updates(spark, sf_dir)
    root = scratch_dir("q141_update_rows")
    t = LakehouseTable(spark, root, "silver", "event_upd")
    t.append(base)
    t.update(
        (F.col("event_type") == "purchase") & (F.col("value") < 50),
        {"value": F.round(F.col("value") * 10, 2)},
    )
    return t.read().select("event_id", "event_type", "value")


@query(
    "q142_scd2_history",
    oracle="""
    WITH c AS (
        SELECT user_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, value, es AS eff_from,
           lead(es) OVER (PARTITION BY user_id ORDER BY es) AS eff_to,
           (lead(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL)
               AS is_current
    FROM c
    """,
    doc="SCD Type 2 dimension maintenance (operators/scd.scd2_apply; "
    "DLT APPLY CHANGES … SCD TYPE 2 equivalent — the consumer side of "
    "q98's change feed): purchase events stream in as change records "
    "in TWO batches split mid-month; each apply closes the previously-"
    "current row and inserts the new one, touching only affected keys. "
    "The ORACLE is the batch recompute over the full change stream — "
    "hash equality proves incremental apply ≡ batch rebuild, the "
    "correctness contract of every CDC consumer. Epochs via the "
    "NTZ-safe helper.",
    tags=("lakehouse", "merge", "cdc"),
)
def scd2_history_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds
    from football_lakehouse_spark.operators.scd import scd2_apply

    ev = load_table(spark, sf_dir, "events")
    changes = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "value", epoch_seconds(F.col("ts")).alias("es")
    )
    cutoff = 1705276800  # 2024-01-15 00:00:00 UTC, mid-fixture-window
    root = scratch_dir("q142_scd2_history")
    t = LakehouseTable(spark, root, "silver", "user_value_scd2")
    scd2_apply(t, changes.where(F.col("es") < cutoff), "user_id", "es", ["value"])
    scd2_apply(t, changes.where(F.col("es") >= cutoff), "user_id", "es", ["value"])
    return t.read().select("user_id", "value", "eff_from", "eff_to", "is_current")


@query(
    "q144_expectations_quarantine",
    oracle=f"""
    WITH base AS ({_BASE_SQL}),
    mutated AS (
        SELECT event_id,
               CASE WHEN event_id % 7 = 0 THEN 'mystery' ELSE event_type END
                   AS event_type,
               CASE WHEN event_id % 11 = 0 THEN -value ELSE value END AS value
        FROM base
    ),
    checked AS (
        -- evaluate the expectations ON THE DATA (r13 fuzz: the old
        -- analytic form assumed raw values are nonnegative, so an
        -- organically-negative value — or a negated negative — broke
        -- the twin; "failed unless predicate is TRUE" matches the
        -- engine's null-safe rule)
        SELECT event_id, event_type, value,
               concat_ws(',',
                   CASE WHEN NOT COALESCE(event_type IN
                       ('click','error','purchase','signup','view','updated'),
                       FALSE) THEN 'known_type' END,
                   CASE WHEN NOT COALESCE(value >= 0, FALSE)
                        THEN 'nonneg_value' END) AS failed
        FROM mutated
    )
    SELECT event_id, event_type, value, 'valid' AS disposition,
           '' AS failed_expectations
    FROM checked WHERE failed = ''
    UNION ALL
    SELECT event_id, event_type, value, 'quarantined', failed
    FROM checked WHERE failed <> ''
    """,
    doc="DLT-style expectations with QUARANTINE (expect_or_quarantine; "
    "operators/quality.append_with_expectations): a batch with injected "
    "defects (unknown event types, negated values) splits row-wise — "
    "clean rows land in the target table, violating rows land in a "
    "quarantine table carrying the NAMES of every expectation they "
    "broke (the triage queue), vs the CHECK-constraint gate (q134) "
    "which rejects whole batches. The expectation array is a pure "
    "map-side expression. Oracle reproduces the split and the "
    "failure-name lists exactly.",
    tags=("lakehouse", "quality"),
)
def expectations_quarantine_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.quality import append_with_expectations

    base, _ = _base_updates(spark, sf_dir)
    mutated = base.select(
        "event_id",
        F.when(F.col("event_id") % 7 == 0, F.lit("mystery"))
        .otherwise(F.col("event_type"))
        .alias("event_type"),
        F.when(F.col("event_id") % 11 == 0, -F.col("value"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    root = scratch_dir("q144_expectations_quarantine")
    t = LakehouseTable(spark, root, "silver", "event_clean")
    q = LakehouseTable(spark, root, "silver", "event_quarantine")
    append_with_expectations(
        t, q, mutated,
        {
            "known_type": "event_type IN ('click','error','purchase','signup','view','updated')",
            "nonneg_value": "value >= 0",
        },
    )
    valid = t.read().select(
        "event_id", "event_type", "value",
        F.lit("valid").alias("disposition"),
        F.lit("").alias("failed_expectations"),
    )
    quar = q.read().select(
        "event_id", "event_type", "value",
        F.lit("quarantined").alias("disposition"),
        "failed_expectations",
    )
    return valid.unionByName(quar)


@query(
    "q171_data_skipping",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_micro
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      AND o_orderdate <= TIMESTAMP '1999-06-30'
    GROUP BY o_orderpriority
    """,
    doc="FILE-LEVEL DATA SKIPPING (Delta min/max stats parity): orders "
    "are written range-clustered on o_orderdate into a stats-indexed "
    "table (per-file [min,max] harvested from the parquet FOOTERS at "
    "stage time and recorded in the commit log); a six-month window "
    "query then opens only the files whose logged range intersects — "
    "measured 2 of 8 files at fixture scale, and at 100 TB the "
    "difference between listing a handful of objects and listing the "
    "table. Skipping is an optimisation, never a filter: the real "
    "predicate still applies on the scan, files without stats are "
    "conservatively kept, and stats replay add/remove like the live "
    "set so DELETE/OPTIMIZE stay consistent (contract-tested). The "
    "oracle is the plain filtered aggregate — values must be identical "
    "with pruning on.",
    tags=("lakehouse",),
)
def data_skipping_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime

    orders = load_table(spark, sf_dir, "orders")
    t = LakehouseTable(
        spark, scratch_dir("q171"), "silver", "orders_clustered",
        stats_columns=["o_orderdate"],
    )
    t.append(orders.repartitionByRange(8, "o_orderdate"))
    lo = datetime.datetime(1999, 1, 1)
    hi = datetime.datetime(1999, 6, 30)
    pruned = t.read(skipping={"o_orderdate": (lo, hi)})
    return (
        pruned.where(
            (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit("1999-06-30").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("revenue_micro"),
        )
    )


@query(
    "q186_table_diff_merkle",
    oracle="""
    WITH a AS (
        SELECT event_id, user_id, event_type,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vmicro
        FROM events
    ),
    b AS (
        SELECT event_id, user_id, event_type,
               CASE WHEN event_id % 997 = 0 THEN vmicro + 1 ELSE vmicro END
                   AS vmicro
        FROM a
        WHERE event_id % 1009 <> 0
    ),
    ah AS (
        SELECT *,
               CAST(('0x' || substr(sha256(
                   CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
                   || '|' || event_type || '|' || CAST(vmicro AS VARCHAR)
               ), 1, 8)) AS BIGINT) AS rh,
               CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 256 AS bucket
        FROM a
    ),
    bh AS (
        SELECT *,
               CAST(('0x' || substr(sha256(
                   CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
                   || '|' || event_type || '|' || CAST(vmicro AS VARCHAR)
               ), 1, 8)) AS BIGINT) AS rh,
               CAST(('0x' || substr(sha256(CAST(event_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 256 AS bucket
        FROM b
    ),
    acs AS (SELECT bucket, sum(CAST(rh AS HUGEINT)) AS cs, count(*) AS n
            FROM ah GROUP BY bucket),
    bcs AS (SELECT bucket, sum(CAST(rh AS HUGEINT)) AS cs, count(*) AS n
            FROM bh GROUP BY bucket),
    bad AS (
        SELECT coalesce(acs.bucket, bcs.bucket) AS bucket
        FROM acs FULL OUTER JOIN bcs ON acs.bucket = bcs.bucket
        WHERE acs.cs IS DISTINCT FROM bcs.cs OR acs.n IS DISTINCT FROM bcs.n
    )
    SELECT ah.event_id, 'only_or_changed_in_a' AS side
    FROM ah JOIN bad USING (bucket)
    WHERE NOT EXISTS (SELECT 1 FROM bh WHERE bh.event_id = ah.event_id
                      AND bh.rh = ah.rh)
    UNION ALL
    SELECT bh.event_id, 'only_or_changed_in_b' AS side
    FROM bh JOIN bad USING (bucket)
    WHERE NOT EXISTS (SELECT 1 FROM ah WHERE ah.event_id = bh.event_id
                      AND ah.rh = bh.rh)
    """,
    doc="MERKLE-STYLE TABLE DIFF (anti-entropy reconciliation between "
    "replicas — how you compare two 100 TB copies without shipping "
    "either): each side aggregates an ORDER-INDEPENDENT per-bucket "
    "checksum (sum of sha-derived row hashes over 256 hash buckets; "
    "integer sums, so partitioning cannot change them), the two "
    "256-row summaries compare for pennies, and row-level anti-joins "
    "run ONLY inside mismatched buckets — cost proportional to the "
    "DIVERGENCE, not the table. The fixture's replica B drops every "
    "1009th row and perturbs every 997th value; the diff reports "
    "exactly those. At real scale the bucket count scales with the "
    "expected divergence (65k buckets → row scans touch ~1/65k of "
    "the table per corrupt bucket) and levels stack into a proper "
    "Merkle tree; one level is the engine-shaped core of it.",
    tags=("lakehouse", "quality", "dedup"),
)
def table_diff_merkle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.text import portable_hash

    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        "event_id", "user_id", "event_type",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("vmicro"),
    )
    b = a.where(F.col("event_id") % 1009 != 0).withColumn(
        "vmicro",
        F.when(F.col("event_id") % 997 == 0, F.col("vmicro") + 1)
        .otherwise(F.col("vmicro")),
    )

    def hashed(df):
        row_str = F.concat_ws(
            "|",
            F.col("event_id").cast("string"), F.col("user_id").cast("string"),
            F.col("event_type"), F.col("vmicro").cast("string"),
        )
        return df.withColumn("rh", portable_hash(row_str)).withColumn(
            "bucket", portable_hash(F.col("event_id").cast("string")) % 256
        )

    ah, bh = hashed(a), hashed(b)
    dec = "decimal(38,0)"

    def summary(df):
        return df.groupBy("bucket").agg(
            F.sum(F.col("rh").cast(dec)).alias("cs"),
            F.count(F.lit(1)).alias("n"),
        )

    acs = summary(ah).select("bucket", F.col("cs").alias("a_cs"), F.col("n").alias("a_n"))
    bcs = summary(bh).select("bucket", F.col("cs").alias("b_cs"), F.col("n").alias("b_n"))
    bad = (
        acs.join(bcs, "bucket", "full_outer")
        .where(
            ~F.col("a_cs").eqNullSafe(F.col("b_cs"))
            | ~F.col("a_n").eqNullSafe(F.col("b_n"))
        )
        .select("bucket")
    )
    a_bad = ah.join(F.broadcast(bad), "bucket")
    b_bad = bh.join(F.broadcast(bad), "bucket")
    only_a = a_bad.join(
        b_bad.select("event_id", "rh"), ["event_id", "rh"], "left_anti"
    ).select("event_id", F.lit("only_or_changed_in_a").alias("side"))
    only_b = b_bad.join(
        a_bad.select("event_id", "rh"), ["event_id", "rh"], "left_anti"
    ).select("event_id", F.lit("only_or_changed_in_b").alias("side"))
    return only_a.unionByName(only_b)


@query(
    "q236_python_datasource_roundtrip",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS BIGINT) AS n_with_lineage,
           CAST(0 AS BIGINT) AS n_rescued
    FROM events WHERE user_id <= 50
    GROUP BY event_type
    """,
    doc="CUSTOM PYTHON DATA SOURCE roundtrip (Spark 4 DataSource V2 "
    "Python API — sources/pyds.py): events land as day-partitioned "
    "JSON (the S7 writer), then come back through the REGISTERED "
    "format('landing_events') whose contract bakes in per-file "
    "lineage, partition-date recovery, and a corrupt-line rescue "
    "column; the report proves lossless typed recovery (counts match "
    "the direct table read, every row carries lineage, zero rescues "
    "on clean data). The reader hands Spark one InputPartition per "
    "landing file, so the parse distributes exactly like the native "
    "JSON source — no driver-side data path. The format is batch-only: "
    "the landing zone's incremental reader is the native file-source "
    "stream (streaming/ingest.py read_landing_stream).",
    tags=("lakehouse", "io"),
)
def python_datasource_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from football_lakehouse_spark.sources.pyds import register_landing_source
    from football_lakehouse_spark.streaming.ingest import land_json_files

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 50)
    root = scratch_dir("q236_pyds_landing")
    landing = os.path.join(root, "landing")
    land_json_files(ev, landing)
    register_landing_source(spark)
    back = (
        spark.read.format("landing_events").option("path", landing).load()
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("source_file").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_with_lineage"),
        F.sum(F.when(F.col("_rescue").isNotNull(), 1).otherwise(0))
        .cast("bigint").alias("n_rescued"),
    )


@query(
    "q247_anti_entropy_repair",
    oracle="""
    SELECT CAST(event_id AS BIGINT) AS event_id, 'insert' AS action
    FROM events WHERE event_id % 101 = 0
    UNION ALL
    SELECT CAST(event_id + 1000000000 AS BIGINT), 'delete'
    FROM events WHERE event_id % 103 = 0
    UNION ALL
    SELECT CAST(event_id AS BIGINT), 'update'
    FROM events WHERE user_id % 97 = 0 AND event_id % 101 <> 0
    """,
    doc="ANTI-ENTROPY REPAIR SET — the actionable follow-up to q186's "
    "Merkle divergence report: given a primary and a diverged "
    "replica (deterministically mutated here: values bumped for "
    "user_id%97 rows, event_id%101 rows dropped, event_id%103 rows "
    "ghost-inserted under shifted ids), a full-outer key join with "
    "row-payload sha2 comparison emits exactly the (key, action) "
    "set — insert / delete / update — that makes the replica equal "
    "the primary. The oracle derives the SAME set from the mutation "
    "rules independently, so the join+hash machinery is what's "
    "being verified. At scale this runs per divergent Merkle "
    "bucket (q186 narrows, this repairs) — never a full-table diff "
    "when checksums already localise the damage.",
    tags=("lakehouse", "quality"),
)
def anti_entropy_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.select("event_id", "user_id", "event_type", "value")
    # the diverged replica, built deterministically from the primary
    b = (
        a.where(F.col("event_id") % 101 != 0)
        .withColumn(
            "value",
            F.when(F.col("user_id") % 97 == 0, F.col("value") + 1.0)
            .otherwise(F.col("value")),
        )
        .unionByName(
            a.where(F.col("event_id") % 103 == 0).withColumn(
                "event_id", F.col("event_id") + 1000000000
            )
        )
    )

    def payload(df):
        return F.sha2(
            F.concat_ws(
                "§",
                F.col("user_id").cast("string"),
                F.col("event_type"),
                F.format_number(F.col("value"), 6),
            ),
            256,
        )

    pa = a.select("event_id", payload(a).alias("ha"))
    pb = b.select("event_id", payload(b).alias("hb"))
    j = pa.join(pb, "event_id", "full_outer")
    action = (
        F.when(F.col("hb").isNull(), "insert")
        .when(F.col("ha").isNull(), "delete")
        .when(F.col("ha") != F.col("hb"), "update")
    )
    return (
        j.withColumn("action", action)
        .where(F.col("action").isNotNull())
        .select(F.col("event_id").cast("bigint").alias("event_id"), "action")
    )


@query(
    "q248_subject_erasure",
    oracle="""
    WITH victims AS (
        SELECT DISTINCT user_id FROM events WHERE user_id % 37 = 0
    )
    SELECT 'events_copy' AS table_name,
           CAST((SELECT count(*) FROM events
                 WHERE user_id % 37 = 0) AS BIGINT) AS n_erased,
           CAST((SELECT count(*) FROM events
                 WHERE user_id % 37 <> 0) AS BIGINT) AS n_remaining,
           CAST(0 AS BIGINT) AS n_still_present,
           CAST((SELECT count(*) FROM victims) AS BIGINT) AS n_subjects
    """,
    doc="SUBJECT ERASURE (GDPR right-to-be-forgotten, executed and "
    "CERTIFIED): the subject set (every user_id ≡ 0 mod 37) is "
    "deleted from a lakehouse copy of events via the predicate "
    "DELETE path, and the emitted certificate carries what an "
    "auditor needs — rows erased, rows remaining, a re-scan proving "
    "ZERO subject rows still present post-delete, and the subject "
    "count. The DELETE is copy-on-write (q72/q141's path), so the "
    "pre-erasure version remains time-travel-readable until VACUUM "
    "passes the retention window — the certificate is about the "
    "CURRENT version, and the RUNBOOK's vacuum step is what makes "
    "erasure physical; that two-step is exactly how Delta documents "
    "GDPR workflows. At scale the delete touches only files whose "
    "min/max stats admit subject rows (data skipping), not the "
    "whole table.",
    tags=("lakehouse", "quality"),
)
def subject_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q248_subject_erasure")
    table = LakehouseTable(spark, root, "gdpr", "events_copy")
    table.append(ev)
    victims = F.col("user_id") % 37 == 0
    n_victim_rows = table.read().where(victims).count()
    version = table.delete(victims)  # returns the commit version
    if version == -1:  # survives python -O, unlike a bare assert
        raise AssertionError("erasure matched no rows")
    post = table.read()
    cert = post.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_remaining"),
        F.sum(F.when(victims, 1).otherwise(0)).cast("bigint")
        .alias("n_still_present"),
    )
    subjects = ev.where(victims).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_subjects")
    )
    return (
        cert.crossJoin(F.broadcast(subjects))
        .select(
            F.lit("events_copy").alias("table_name"),
            F.lit(int(n_victim_rows)).cast("bigint").alias("n_erased"),
            "n_remaining",
            F.coalesce(F.col("n_still_present"), F.lit(0)).cast("bigint")
            .alias("n_still_present"),
            "n_subjects",
        )
    )


@query(
    "q249_consistent_snapshot_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                               * 1000000.0 + 0.5) AS HUGEINT))
                AS BIGINT) AS rev_micro
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    doc="SNAPSHOT-CONSISTENT MULTI-TABLE JOIN — the cross-table read "
    "problem single-table time travel doesn't solve: orders and "
    "lineitem copies are each committed at v1, then BOTH receive a "
    "later divergent append (phantom orders under priority "
    "'9-PHANTOM' with shifted keys + their lines), and the report "
    "joins the two tables PINNED AT v1. Correctness is visible in "
    "the output itself: the phantom priority group appears iff "
    "either side leaks the newer version — the oracle (the join on "
    "the untouched fixtures ≡ the v1 state) has no such group. This "
    "is the lakehouse idiom for cross-table consistency: pin "
    "explicit versions captured together (a poor man's transaction "
    "snapshot), exactly what Delta multi-table reads require you to "
    "do by hand.",
    tags=("lakehouse", "join"),
)
def consistent_snapshot_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    root = scratch_dir("q249_snapshot_join")
    t_o = LakehouseTable(spark, root, "snap", "orders_copy")
    t_l = LakehouseTable(spark, root, "snap", "lineitem_copy")
    v_o = t_o.append(orders)
    v_l = t_l.append(li)
    # later divergent appends on BOTH tables — the trap the pin avoids
    phantom = F.col("o_orderkey") % 7 == 0
    t_o.append(
        orders.where(phantom)
        .withColumn("o_orderkey", F.col("o_orderkey") + 1000000000)
        .withColumn("o_orderpriority", F.lit("9-PHANTOM"))
    )
    t_l.append(
        li.where(F.col("l_orderkey") % 7 == 0).withColumn(
            "l_orderkey", F.col("l_orderkey") + 1000000000
        )
    )
    o1 = t_o.read(version=v_o)
    l1 = t_l.read(version=v_l)
    return (
        o1.join(l1, o1.o_orderkey == l1.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 1000000.0 + 0.5
                ).cast("decimal(38,0)")
            ).cast("bigint").alias("rev_micro"),
        )
    )


@query(
    "q250_incremental_view_maintenance",
    bench=True,
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL}),
    v1 AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    ),
    v2 AS (
        SELECT * FROM v1 WHERE NOT (event_type = 'updated' AND value < 50)
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) AS BIGINT)
               AS value_micros
    FROM v2 GROUP BY 1
    """,
    doc="INCREMENTAL MATERIALIZED-VIEW MAINTENANCE (Delta Live Tables / "
    "materialized-view refresh analogue; the algebraic-merge cousin of "
    "q55's rollup cascade): a grouped count/sum view is materialised at "
    "table version 0, then brought to version 2 WITHOUT re-reading the "
    "table — only the q98 change feed is consumed. Each CDC row carries "
    "a sign (+1 insert/update_postimage, -1 delete/update_preimage); "
    "the signed per-group partial composes across commits (v0→v1 and "
    "v1→v2 feeds concatenate) and merges into the stored view with one "
    "group-cardinality full-outer join; groups whose count nets to zero "
    "are dropped. Group-migrating updates are exact: the pre-image "
    "subtracts from the old group and the post-image adds to the new. "
    "The ORACLE recomputes the view from the final state from scratch — "
    "the cross-engine match IS the maintenance-identity proof. Scale: "
    "the merge into the stored view is group-cardinality-sized and the "
    "signed partial is O(feed rows); with a writer-logged CDF that makes "
    "refresh O(changed rows) end-to-end — which q257 now does via "
    "enable_change_feed()/table_changes(); THIS query keeps the "
    "derive-by-diff path (q98) to certify the maintenance algebra "
    "independently of the logging machinery. "
    "Sums are exact integer micros so increment order cannot drift the "
    "result (floats would).",
    tags=("lakehouse", "cdc"),
)
def incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.cdc import (
        change_feed,
        maintain_count_sum,
    )

    base, upd = _base_updates(spark, sf_dir)
    root = scratch_dir("q250_incremental_view_maintenance")
    t = LakehouseTable(spark, root, "silver", "event_ivm")
    t.append(base)
    t.merge(upd, ["event_id"])
    t.delete((F.col("event_type") == "updated") & (F.col("value") < 50))
    v0 = t.read(version=0)
    feed = change_feed(
        [v0, t.read(version=1), t.read(version=2)], ["event_id"]
    )
    return maintain_count_sum(v0, feed, F.col("event_type"), "value")


@query(
    "q252_compaction_plan",
    oracle="""
    WITH f AS (
        SELECT source, doc_id, CAST(strlen(text) AS BIGINT) AS bytes
        FROM documents
    ),
    placed AS (
        SELECT source, bytes,
               COALESCE(sum(bytes) OVER (
                   PARTITION BY source
                   ORDER BY bytes DESC, doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) // 32768 AS bin_id
        FROM f
    )
    SELECT source, CAST(bin_id AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes
    FROM placed GROUP BY 1, 2
    """,
    doc="COMPACTION PLANNER as a declarative query (a size-targeted "
    "OPTIMIZE's planning step, emitted as data instead of executed — "
    "the same 'planning as data' stance as q227's "
    "pre-flight skew audit): small objects are binned toward a target "
    "output size by CUMULATIVE FILL — within each table partition "
    "(source), order size-descending (first-fit-decreasing's sort) "
    "with id tie-break, and assign bin = cumulative-bytes-before // "
    "target. Fully deterministic, one partitioned window — no global "
    "sort, no sequential packing loop; each partition's plan is "
    "independent so a 1000-executor run plans every partition "
    "concurrently. Output is file-manifest-sized, aggregated to "
    "bin-sized before leaving the cluster. Bins overshoot the target "
    "by at most one object (next-fit guarantee) — the standard "
    "OPTIMIZE trade against re-shuffling for perfect packing.",
    tags=("lakehouse", "maintenance"),
)
def compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    f = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", F.octet_length("text").cast("bigint").alias("bytes")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("bytes").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = f.select(
        "source",
        "bytes",
        F.floor(F.coalesce(F.sum("bytes").over(w), F.lit(0)) / 32768)
        .cast("bigint")
        .alias("bin_id"),
    )
    return placed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum("bytes").cast("bigint").alias("bin_bytes"),
    )


@query(
    "q257_logged_cdf_ivm",
    bench=True,
    oracle=f"""
    WITH base AS ({_BASE_SQL}), upd AS ({_UPD_SQL}),
    v1 AS (
        SELECT * FROM upd
        UNION ALL
        SELECT b.* FROM base b
        WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.event_id = b.event_id)
    ),
    v2 AS (
        SELECT * FROM v1 WHERE NOT (event_type = 'updated' AND value < 50)
    )
    SELECT CAST(floor(value / 10) AS BIGINT) AS band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) AS BIGINT)
               AS value_micros
    FROM v2 GROUP BY 1
    """,
    doc="INCREMENTAL VIEW MAINTENANCE over the WRITER-LOGGED change "
    "feed (q250's missing half, closed: q250 derives its feed by "
    "diffing versions — O(both versions); here enable_change_feed() "
    "makes merge/delete commits write O(touched-rows) sidecars at "
    "write time — Delta enableChangeDataFeed parity, C18 in the "
    "contract suite — and table_changes() serves them WITHOUT reading "
    "any table version, so refresh is O(changed rows) END-TO-END). "
    "The maintained view (count + exact-micros sum per value band) is "
    "materialised once at version 0, then brought to the head purely "
    "from the feed: signed partials (+1 insert/postimage, -1 "
    "delete/preimage) composed across commits, one group-sized "
    "full-outer merge, zero-count groups dropped. The oracle "
    "recomputes from the final state from scratch — the match is the "
    "maintenance-identity proof over the logged path. Count/sum are "
    "the self-maintainable aggregates; min/max are NOT under deletes "
    "(they need the base) — that boundary is the documented contract.",
    tags=("lakehouse", "cdc"),
)
def logged_cdf_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.cdc import maintain_count_sum

    base, upd = _base_updates(spark, sf_dir)
    root = scratch_dir("q257_logged_cdf_ivm")
    t = LakehouseTable(spark, root, "silver", "event_cdf_ivm")
    t.enable_change_feed()
    t.append(base)
    t.merge(upd, ["event_id"])
    t.delete((F.col("event_type") == "updated") & (F.col("value") < 50))
    # refresh input: ONLY the logged feed — no table version is read
    band = F.floor(F.col("value") / 10).cast("bigint").alias("band")
    return maintain_count_sum(
        t.read(version=0), t.table_changes(0), band, "value"
    )


@query(
    "q260_zonemap_skip_audit",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_shipdate,
               CASE WHEN l_shipdate >= TIMESTAMP '2000-06-01' THEN 1
                    ELSE 0 END AS hit
        FROM lineitem
    ),
    nat AS (
        SELECT l_orderkey // 1024 AS rg, count(*) AS n,
               max(l_shipdate) AS mx, sum(hit) AS nhit
        FROM li GROUP BY 1
    ),
    clu AS (
        SELECT date_diff('day', DATE '1970-01-01', l_shipdate) // 28 AS rg,
               count(*) AS n, max(l_shipdate) AS mx, sum(hit) AS nhit
        FROM li GROUP BY 1
    ),
    s AS (
        SELECT 'natural' AS layout, * FROM nat
        UNION ALL
        SELECT 'shipdate_clustered', * FROM clu
    )
    SELECT layout,
           CAST(count(*) AS BIGINT) AS n_ranges,
           CAST(sum(CASE WHEN mx < TIMESTAMP '2000-06-01' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_skippable,
           CAST(sum(n) AS BIGINT) AS rows_total,
           CAST(sum(CASE WHEN mx < TIMESTAMP '2000-06-01' THEN n ELSE 0 END)
               AS BIGINT) AS rows_skippable,
           CAST(sum(nhit) AS BIGINT) AS rows_matching
    FROM s GROUP BY layout
    """,
    doc="ZONE-MAP DATA-SKIPPING AUDIT — quantifies, as a query, how "
    "much IO a min/max-pruning reader saves under a given layout (the "
    "decision input for OPTIMIZE/ZORDER spend, complementing q122's "
    "Morton-span profile and q252's size binning): lineitem rows are "
    "assigned to row-ranges under TWO candidate layouts — 'natural' "
    "(orderkey ranges: insertion order, the un-optimized table) and "
    "'shipdate_clustered' (28-day shipdate ranges: the layout a "
    "date-partitioned or shipdate-sorted OPTIMIZE produces) — and each "
    "range's zone map (max shipdate) is tested against the pinned "
    "predicate shipdate >= 2000-06-01. Natural layout: every range "
    "spans the full date domain, so n_skippable = 0 — clustering is "
    "what MAKES zone maps useful, and the audit proves it with "
    "numbers (rows_skippable = the IO the clustered layout prunes). "
    "One column-pruned scan per layout, partial-aggregated to "
    "n_ranges rows then to 2 summary rows; no window, no join.",
    tags=("lakehouse", "layout"),
)
def zonemap_skip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit("2000-06-01").cast("timestamp")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_shipdate",
        F.when(F.col("l_shipdate") >= cutoff, 1).otherwise(0).alias("hit"),
    )

    def audit(rg: F.Column, layout: str) -> DataFrame:
        per_range = li.groupBy(rg.alias("rg")).agg(
            F.count(F.lit(1)).alias("n"),
            F.max("l_shipdate").alias("mx"),
            F.sum("hit").alias("nhit"),
        )
        return per_range.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ranges"),
            F.sum(F.when(F.col("mx") < cutoff, 1).otherwise(0))
            .cast("bigint")
            .alias("n_skippable"),
            F.sum("n").cast("bigint").alias("rows_total"),
            F.sum(F.when(F.col("mx") < cutoff, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("rows_skippable"),
            F.sum("nhit").cast("bigint").alias("rows_matching"),
        ).select(F.lit(layout).alias("layout"), "*")

    nat = audit(F.expr("l_orderkey div 1024"), "natural")
    clu = audit(
        F.expr("datediff(l_shipdate, DATE '1970-01-01') div 28"),
        "shipdate_clustered",
    )
    return nat.unionByName(clu)


@query(
    "q275_shuffle_sizing_advisor",
    oracle="""
    WITH r AS (
        SELECT CAST(('0x' || substr(sha256('shuffle' || '§'
                   || CAST(l_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 32
                   AS reducer,
               72 + strlen(l_returnflag) + strlen(l_linestatus) AS row_bytes
        FROM lineitem
    ),
    per AS (
        SELECT reducer, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(row_bytes) AS BIGINT) AS est_bytes
        FROM r GROUP BY reducer
    ),
    tot AS (SELECT sum(n_rows) AS n, count(*) AS k FROM per)
    SELECT per.reducer, per.n_rows, per.est_bytes,
           CAST(per.n_rows * tot.k * 1000000 // tot.n AS BIGINT)
               AS load_ppm_of_even
    FROM per, tot
    """,
    doc="SHUFFLE SIZING ADVISOR — spark.sql.shuffle.partitions as a "
    "measured decision instead of a guess (the spill-awareness "
    "knob: a reducer partition must fit its share in executor "
    "memory): lineitem keyed by the portable hash of the q17 join "
    "key modulo the session's 32 reducers, per-reducer row count and "
    "estimated in-flight bytes (fixed-width columns 72 B + measured "
    "string lengths — the unserialized row-size model), plus each "
    "reducer's load as floor-ppm of the perfectly-even share "
    "(1 000 000 = exactly even; the max row is the straggler/spill "
    "predictor — hash keys keep it within a few % here, and a skewed "
    "key would show as one row at N× even, which is precisely when "
    "q79's salting or AQE skew-split pays). One scan, 32-row output "
    "at any data size; re-run with a different modulus to cost a "
    "partition-count change BEFORE rerunning the job.",
    tags=("lakehouse", "ops"),
)
def shuffle_sizing_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.text import portable_hash

    li = load_table(spark, sf_dir, "lineitem").select(
        (
            portable_hash(F.col("l_orderkey").cast("string"), seed="shuffle")
            % 32
        ).alias("reducer"),
        (
            # octet_length (BYTES, matching the oracle's strlen) — the
            # chars-vs-bytes class q263 already documents (r12)
            F.lit(72)
            + F.octet_length("l_returnflag")
            + F.octet_length("l_linestatus")
        ).alias("row_bytes"),
    )
    per = li.groupBy("reducer").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("row_bytes").cast("bigint").alias("est_bytes"),
    )
    tot = per.agg(
        F.sum("n_rows").alias("n"), F.count(F.lit(1)).alias("k")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "reducer",
        "n_rows",
        "est_bytes",
        F.expr("n_rows * k * 1000000 div n").cast("bigint").alias(
            "load_ppm_of_even"
        ),
    )


@query(
    "q276_broadcast_advisor",
    oracle="""
    WITH s AS (
        SELECT 'region' AS tbl, count(*) AS n_rows,
               CAST(sum(12 + strlen(r_name)) AS BIGINT) AS est_bytes
        FROM region
        UNION ALL
        SELECT 'nation', count(*),
               CAST(sum(16 + strlen(n_name)) AS BIGINT) FROM nation
        UNION ALL
        SELECT 'supplier', count(*),
               CAST(sum(24 + strlen(s_name)) AS BIGINT) FROM supplier
        UNION ALL
        SELECT 'customer', count(*),
               CAST(sum(24 + strlen(c_name) + strlen(c_mktsegment))
                   AS BIGINT) FROM customer
        UNION ALL
        SELECT 'part', count(*),
               CAST(sum(24 + strlen(p_name) + strlen(p_brand)
                    + strlen(p_type)) AS BIGINT) FROM part
    )
    SELECT tbl, CAST(n_rows AS BIGINT) AS n_rows, est_bytes,
           est_bytes < 10485760 AS broadcastable
    FROM s
    """,
    doc="BROADCAST PLANNING ADVISOR — which join sides fit under the "
    "10 MiB autoBroadcastJoinThreshold, measured from the data rather "
    "than assumed (the q275 shuffle advisor's companion; together "
    "they answer 'broadcast or shuffle, and at how many partitions'): "
    "per dimension table, exact row count and estimated in-memory "
    "bytes (fixed-width columns + measured string lengths — the same "
    "row model q275 uses), with the broadcastable verdict against the "
    "default threshold. The fixture dims all pass — and the table "
    "shows the MARGIN, which is what you watch as dims grow (q268's "
    "AQE mis-broadcast caveat is exactly what happens when the "
    "estimate and reality diverge: parquet size stats undercount "
    "in-memory arrays). Five tiny column-pruned scans, 5-row output.",
    tags=("lakehouse", "ops"),
)
def broadcast_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    def est(tbl: str, fixed: int, *strcols: str) -> DataFrame:
        df = load_table(spark, sf_dir, tbl)
        width = F.lit(fixed)
        for c in strcols:
            # bytes, not chars — matches the oracle's strlen (r12)
            width = width + F.octet_length(c)
        return df.select(width.alias("w")).agg(
            F.lit(tbl).alias("tbl"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("w").cast("bigint").alias("est_bytes"),
        )

    out = (
        est("region", 12, "r_name")
        .unionByName(est("nation", 16, "n_name"))
        .unionByName(est("supplier", 24, "s_name"))
        .unionByName(est("customer", 24, "c_name", "c_mktsegment"))
        .unionByName(est("part", 24, "p_name", "p_brand", "p_type"))
    )
    return out.withColumn(
        "broadcastable", F.col("est_bytes") < F.lit(10485760)
    )
