"""Relational core — one verified query per operator family from
SURVEY.md §2 (projections/filters P*, aggregations A*, joins JN*,
set ops U*/D*, semi-structured J*, sorts/limits O*).

Every query is DataFrame-API (Catalyst-optimised, whole-stage codegen)
with an exactly-aliased DuckDB oracle twin. Cross-engine stability
rules: every computed integer is cast to bigint on both sides, every
aggregated double is rounded, timestamps leave the plan as formatted
strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.functions.guards import local_frame
from football_lakehouse_spark.functions.text import WS_CLASS
from football_lakehouse_spark.functions.scalars import (
    money_avg,
    money_sum,
    sql_money_avg,
    sql_money_sum,
    to_double_or_null,
)
from football_lakehouse_spark.plans.registry import query


# --------------------------------------------------------------------------
# A2 — conditional aggregate (reference 11_ingest_fpl_bootstrap.py:164-172)
# --------------------------------------------------------------------------
@query(
    "q04_conditional_agg",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS ok_rows,
           count(*) AS n_rows,
           strftime(max(o_orderdate), '%Y-%m-%d') AS max_order_date
    FROM orders
    GROUP BY 1
    """,
    doc="Per-period ingest-health report: sum(CASE WHEN ...) + count + max "
    "(SURVEY §2 A2/A5/P11).",
    bench=True,
    tags=("relational",),
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
        .cast("bigint")
        .alias("ok_rows"),
        F.count(F.lit(1)).alias("n_rows"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("max_order_date"),
    )


# --------------------------------------------------------------------------
# A1 — grouped multi-aggregate over a bounded range (42_build_fixture_horizons.py:52-67)
# --------------------------------------------------------------------------
@query(
    "q05_bounded_multi_agg",
    oracle=f"""
    SELECT l_suppkey,
           {sql_money_avg('l_discount')} AS avg_discount,
           {sql_money_avg('l_extendedprice')} AS avg_price,
           {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_items,
           strftime(max(l_shipdate), '%Y-%m-%d') AS last_ship
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-07-01'
    GROUP BY l_suppkey
    """,
    doc="Bounded-range grouped avg/count/max (SURVEY §2 A1 + P5 range predicate).",
    bench=True,
    tags=("relational",),
)
def bounded_multi_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(
            # money_avg, not round(avg(double), 4): the class-2
            # tie-repr hazard (see functions/scalars) — avg of 0.01-
            # step discounts can land exactly on a 4th-decimal tie.
            # String inputs → one-parse construction (r14, same tree).
            money_avg("l_discount", 4).alias("avg_discount"),
            money_avg("l_extendedprice", 4).alias("avg_price"),
            money_sum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
            F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        )
    )


# --------------------------------------------------------------------------
# A4/Q2 — duplicate-key detection (31_build_silver_dims.py:287-294)
# --------------------------------------------------------------------------
@query(
    "q06_duplicate_key_detection",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) > 1
    """,
    doc="groupBy(key).count().where(count > 1) — the reference's duplicate-PK "
    "gate as a query (SURVEY §2 A4/Q2).",
    tags=("relational", "quality"),
)
def duplicate_key_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") > 1)
    )


# --------------------------------------------------------------------------
# O3 — top-k by metric (42_build_fixture_horizons.py:136-139)
# --------------------------------------------------------------------------
@query(
    "q07_topk_customers",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer
    ORDER BY c_acctbal DESC, c_custkey ASC
    LIMIT 20
    """,
    doc="ORDER BY metric LIMIT k with deterministic tie-break (SURVEY §2 O2/O3).",
    tags=("relational",),
)
def topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


# --------------------------------------------------------------------------
# U2 — UNION ALL validation report (31_build_silver_dims.py:346-358)
# --------------------------------------------------------------------------
@query(
    "q08_union_all_counts",
    oracle="""
    SELECT 'orders' AS table_name, count(*) AS n_rows FROM orders
    UNION ALL SELECT 'lineitem', count(*) FROM lineitem
    UNION ALL SELECT 'customer', count(*) FROM customer
    UNION ALL SELECT 'supplier', count(*) FROM supplier
    UNION ALL SELECT 'part', count(*) FROM part
    """,
    doc="Multi-table row-count validation report via UNION ALL (SURVEY §2 U2/A6).",
    tags=("relational", "quality"),
)
def union_all_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = None
    for t in ("orders", "lineitem", "customer", "supplier", "part"):
        df = load_table(spark, sf_dir, t).agg(F.count(F.lit(1)).alias("n_rows"))
        df = df.select(F.lit(t).alias("table_name"), "n_rows")
        out = df if out is None else out.unionByName(df)
    return out


# --------------------------------------------------------------------------
# P8 — null-safe string→double cast (31_build_silver_dims.py:156-158)
# --------------------------------------------------------------------------
@query(
    "q09_null_safe_cast",
    oracle="""
    WITH dirty AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN ''
                    WHEN doc_id % 7 = 1 THEN 'null'
                    WHEN doc_id % 7 = 2 THEN ' None '
                    ELSE CAST(n_chars AS VARCHAR) END AS raw_value
        FROM documents
    )
    SELECT doc_id, raw_value,
           CASE WHEN trim(raw_value) IN ('', 'null', 'None') THEN NULL
                ELSE CAST(raw_value AS DOUBLE) END AS parsed
    FROM dirty
    """,
    doc="to_double_or_null: when/otherwise + trim + isin + cast — the "
    "reference's FPL string-decimal normaliser (SURVEY §2 P8/J7).",
    tags=("relational", "functions"),
)
def null_safe_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    dirty = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.lit(""))
        .when(F.col("doc_id") % 7 == 1, F.lit("null"))
        .when(F.col("doc_id") % 7 == 2, F.lit(" None "))
        .otherwise(F.col("n_chars").cast("string"))
        .alias("raw_value"),
    )
    return dirty.select(
        "doc_id", "raw_value", to_double_or_null(F.col("raw_value")).alias("parsed")
    )


# --------------------------------------------------------------------------
# J1/J2/J4 — from_json to typed struct + parse guard (31_build_silver_dims.py:117-128)
# --------------------------------------------------------------------------
@query(
    "q10_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
    """,
    doc="from_json(payload, schema) → nested field access + predicate on the "
    "extracted field (SURVEY §2 J1/J4; parse guard J2 = isNotNull filter).",
    tags=("relational", "json"),
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("j", F.from_json("props", "k BIGINT"))
    return (
        parsed.where(F.col("j").isNotNull())  # parse-failure guard (J2)
        .select("event_id", "event_type", F.col("j.k").alias("k"))
        .where(F.col("k") >= 50)
    )


# --------------------------------------------------------------------------
# J3 — explode / unnest (31_build_silver_dims.py:137)
# --------------------------------------------------------------------------
@query(
    "q11_explode_tokens",
    oracle="""
    SELECT token, count(*) AS n
    FROM (SELECT unnest(regexp_split_to_array(text, '[ \t\n\r\f]+')) AS token FROM documents)
    WHERE token <> ''
    GROUP BY token
    """,
    doc="explode(split(text)) → grouped counts: the unnest pattern the "
    "reference applies to JSON arrays (SURVEY §2 J3).",
    bench=True,
    tags=("relational", "json", "text"),
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", WS_CLASS)).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# J5/J6/J7 — string scalars (41_publish_gold_dims.py:45; 11_ingest:156)
# --------------------------------------------------------------------------
@query(
    "q12_string_funcs",
    oracle="""
    SELECT c_custkey,
           concat_ws(' ', c_name, c_mktsegment) AS label,
           CAST(length(c_name) AS BIGINT) AS name_len,
           upper(c_mktsegment) AS segment_uc,
           trim(concat(' ', c_name, ' ')) AS trimmed
    FROM customer
    """,
    doc="concat_ws / length / upper / trim scalar pipeline (SURVEY §2 J5-J7).",
    tags=("relational", "functions"),
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.concat_ws(" ", "c_name", "c_mktsegment").alias("label"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.upper("c_mktsegment").alias("segment_uc"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
    )


# --------------------------------------------------------------------------
# J8 — timestamp parse / date arithmetic (31_build_silver_dims.py:185,203)
# --------------------------------------------------------------------------
@query(
    "q13_date_funcs",
    oracle="""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           count(*) AS n_orders,
           CAST(min(datediff('day', DATE '1995-01-01', o_orderdate)) AS BIGINT) AS min_day_offset,
           strftime(min(date_trunc('month', o_orderdate)), '%Y-%m-%d') AS first_month
    FROM orders
    GROUP BY 1
    """,
    doc="year/datediff/date_trunc date pipeline (SURVEY §2 J8/P9).",
    tags=("relational", "functions"),
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("order_year")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")))
        .cast("bigint")
        .alias("min_day_offset"),
        F.date_format(F.min(F.date_trunc("month", "o_orderdate")), "yyyy-MM-dd").alias(
            "first_month"
        ),
    )


# --------------------------------------------------------------------------
# J10/D2 — distributed content hash + duplicate groups (11_ingest:68-72,138-151)
# --------------------------------------------------------------------------
@query(
    "q14_content_hash_groups",
    oracle="""
    SELECT sha256(array_to_string(regexp_split_to_array(text, '[ \t\n\r\f]+')[1:8], ' ')) AS prefix_sha,
           count(*) AS n_copies,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM documents
    GROUP BY 1
    HAVING count(*) > 1
    """,
    doc="sha2(canonical-prefix, 256) content hashing + duplicate-group "
    "detection — the reference's idempotent-ingest dedup probe, distributed "
    "(SURVEY §2 J10/D2). Hashes the 8-token prefix because the fixture corpus "
    "has prefix-level (not full-text) duplicates.",
    bench=True,
    tags=("relational", "dedup"),
)
def content_hash_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.array_join(F.slice(F.split("text", WS_CLASS), 1, 8), " ")
    return (
        docs.select(F.sha2(prefix, 256).alias("prefix_sha"), "doc_id")
        .groupBy("prefix_sha")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
        .where(F.col("n_copies") > 1)
    )


# --------------------------------------------------------------------------
# D1 — deterministic dropDuplicates (31_build_silver_dims.py:272)
# --------------------------------------------------------------------------
@query(
    "q15_dedup_keep_first",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) = 1
    """,
    doc="Deterministic dropDuplicates(subset): keep lowest-key row per group "
    "via window row_number — the engine's order-stable form of the "
    "reference's dropDuplicates (SURVEY §2 D1/O1).",
    tags=("relational", "dedup"),
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.col("doc_id").asc())
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source")
    )


# --------------------------------------------------------------------------
# O5/P6 — limited existence probe (41_publish_gold_dims.py:153-156)
# --------------------------------------------------------------------------
@query(
    "q16_exists_probe",
    oracle="""
    SELECT count(*) > 0 AS exists_high_value,
           count(*) AS n_high_value
    FROM orders
    WHERE o_totalprice > 400000
    """,
    doc="Cheap EXISTS: filtered probe reported as a scalar row (SURVEY §2 O5/P6; "
    "engine-internal form uses limit(1).isEmpty()).",
    tags=("relational",),
)
def exists_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(F.col("o_totalprice") > 400000).agg(
        (F.count(F.lit(1)) > 0).alias("exists_high_value"),
        F.count(F.lit(1)).alias("n_high_value"),
    )


# --------------------------------------------------------------------------
# JN1/JN2 — multi-way dimension join (42:71-73; vw_player_fixture_horizon)
# --------------------------------------------------------------------------
@query(
    "q17_multiway_join",
    oracle=f"""
    SELECT r.r_name, n.n_name,
           count(*) AS n_customers,
           {sql_money_sum('c.c_acctbal')} AS total_acctbal,
           {sql_money_avg('c.c_acctbal')} AS avg_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    doc="customer ⟖ nation ⟖ region snowflake join with broadcast dims "
    "(SURVEY §2 JN1/JN2); at 100 TB both dims broadcast, zero shuffle joins.",
    bench=True,
    tags=("relational", "join"),
)
def multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            money_sum(F.col("c_acctbal")).alias("total_acctbal"),
            money_avg(F.col("c_acctbal"), 4).alias("avg_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# Semi/anti joins — engine additions (reference has none; SURVEY §2.5 note)
# --------------------------------------------------------------------------
@query(
    "q18_anti_semi_join",
    oracle="""
    SELECT 'no_orders' AS bucket, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'with_orders', count(*) FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left_anti / left_semi joins (engine addition beyond reference surface; "
    "SURVEY §2.5 'no semi/anti in the reference').",
    tags=("relational", "join"),
)
def anti_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    anti = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    )
    semi = cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    )
    return anti.select(F.lit("no_orders").alias("bucket"), "n").unionByName(
        semi.select(F.lit("with_orders").alias("bucket"), "n")
    )


# --------------------------------------------------------------------------
# O4 — anchor selection with fallback (42_build_fixture_horizons.py:13-21)
# --------------------------------------------------------------------------
@query(
    "q19_anchor_fallback",
    oracle="""
    SELECT coalesce(
        max(CASE WHEN o_orderstatus = 'P' THEN strftime(o_orderdate, '%Y-%m') END),
        max(CASE WHEN o_orderstatus = 'O' THEN strftime(o_orderdate, '%Y-%m') END)
    ) AS anchor_month
    FROM orders
    """,
    doc="Anchor selection with fallback (is_next else is_current) as a single "
    "coalesce over conditional aggregates — no driver collect (SURVEY §2 O4).",
    tags=("relational",),
)
def anchor_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    return orders.agg(
        F.coalesce(
            F.max(F.when(F.col("o_orderstatus") == "P", month)),
            F.max(F.when(F.col("o_orderstatus") == "O", month)),
        ).alias("anchor_month")
    )


# --------------------------------------------------------------------------
# U1 — unpivot via stack (42_build_fixture_horizons.py:29-47)
# --------------------------------------------------------------------------
@query(
    "q20_unpivot_metrics",
    oracle=f"""
    SELECT metric, {sql_money_avg('val')} AS avg_val, count(*) AS n
    FROM (
        SELECT 'totalprice' AS metric, o_totalprice AS val FROM orders
        UNION ALL
        SELECT 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val FROM orders
    )
    GROUP BY metric
    """,
    doc="True unpivot via stack() — single-scan alternative to the reference's "
    "unionByName melt (SURVEY §2 U1).",
    tags=("relational",),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.selectExpr(
            "stack(2, 'totalprice', o_totalprice, 'custkey', cast(o_custkey as double)) "
            "as (metric, val)"
        )
        .groupBy("metric")
        .agg(money_avg(F.col("val"), 4).alias("avg_val"), F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# Rollup / pivot — engine additions (SURVEY §2.4 note: expose cheaply)
# --------------------------------------------------------------------------
@query(
    "q21_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_money_sum('l_quantity')} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets (engine addition; SURVEY §2.4 notes the reference "
    "has none but the engine should expose built-ins).",
    tags=("relational",),
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q22_pivot",
    oracle=f"""
    SELECT l_returnflag,
           {sql_money_sum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
           {sql_money_sum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Pivot on linestatus (engine addition: groupBy().pivot() built-in).",
    tags=("relational",),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(money_sum(F.col("l_quantity")))
    )
    return out


# --------------------------------------------------------------------------
# TPC-H Q1 shape — the canonical OLAP aggregate, as the wide-agg benchmark
# --------------------------------------------------------------------------
@query(
    "q23_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_money_sum('l_quantity')} AS sum_qty,
           {sql_money_sum('l_extendedprice')} AS sum_base_price,
           {sql_money_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_money_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {sql_money_avg('l_quantity')} AS avg_qty,
           {sql_money_avg('l_extendedprice')} AS avg_price,
           {sql_money_avg('l_discount')}  AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: the canonical wide grouped aggregate "
    "(map-side partial agg + tiny shuffle — the 100 TB-safe agg shape).",
    bench=True,
    tags=("relational", "bench"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = "l_extendedprice * (1 - l_discount)"
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # string inputs → one-parse construction per aggregate
            # (r14, same tree; see functions/scalars.money_sum)
            money_sum("l_quantity").alias("sum_qty"),
            money_sum("l_extendedprice").alias("sum_base_price"),
            money_sum(disc_price).alias("sum_disc_price"),
            money_sum(f"({disc_price}) * (1 + l_tax)").alias("sum_charge"),
            money_avg("l_quantity", 4).alias("avg_qty"),
            money_avg("l_extendedprice", 4).alias("avg_price"),
            # money_avg, not round(avg(double), 4) — class 2 (r12)
            money_avg("l_discount", 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Fact-dimension join at scale — broadcast + partial agg (JN3 shape)
# --------------------------------------------------------------------------
@query(
    "q24_revenue_by_nation",
    oracle=f"""
    SELECT n.n_name,
           {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    doc="Fact-to-fact join (lineitem ⋈ orders) + broadcast dims + grouped "
    "revenue — the feature-assembly join shape (SURVEY §2 JN3). The "
    "orders filter prunes before the join; AQE handles skew at scale.",
    bench=True,
    tags=("relational", "join", "bench"),
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        # customer is NOT hinted: dimension-sized here but fact-sized at
        # 100 TB — let Catalyst/AQE pick broadcast vs shuffle by stats.
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            money_sum("l_extendedprice * (1 - l_discount)").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q63_cube",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           {sql_money_sum('l_quantity')} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE grouping sets with GROUPING() flags to disambiguate NULL "
    "group keys from subtotal rows (engine addition; SURVEY §2.4 notes "
    "the reference has none but the engine should expose the built-ins). "
    "Catalyst expands the cube map-side; the shuffle carries one partial "
    "per (row, grouping set) — still a tiny-cardinality agg at any scale.",
    tags=("relational",),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        money_sum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "q68_set_ops",
    oracle="""
    WITH y96 AS (SELECT DISTINCT o_custkey FROM orders
                 WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                   AND o_orderdate <  TIMESTAMP '1997-01-01'),
    y97 AS (SELECT DISTINCT o_custkey FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT o_custkey, 'both' AS cohort FROM (SELECT * FROM y96 INTERSECT SELECT * FROM y97)
    UNION ALL
    SELECT o_custkey, 'churned' AS cohort FROM (SELECT * FROM y96 EXCEPT SELECT * FROM y97)
    UNION ALL
    SELECT o_custkey, 'new' AS cohort FROM (SELECT * FROM y97 EXCEPT SELECT * FROM y96)
    """,
    doc="INTERSECT / EXCEPT set operations as a customer-cohort query "
    "(retained / churned / acquired between two order years). SURVEY "
    "§2.7 notes the reference has neither; the engine exposes the "
    "built-ins (Catalyst plans both as aggregates/anti-joins on distinct "
    "keys — one shuffle per side, no row-pair comparisons).",
    tags=("relational", "setop"),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def year_keys(y: int) -> DataFrame:
        return (
            orders.where(
                (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
                & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
            )
            .select("o_custkey")
            .distinct()
        )

    y96, y97 = year_keys(1996), year_keys(1997)
    return (
        y96.intersect(y97).select("o_custkey", F.lit("both").alias("cohort"))
        .unionByName(
            y96.exceptAll(y97).select("o_custkey", F.lit("churned").alias("cohort"))
        )
        .unionByName(
            y97.exceptAll(y96).select("o_custkey", F.lit("new").alias("cohort"))
        )
    )


# --------------------------------------------------------------------------
# TPC-H-shaped composites (round 4): the classic decision-support shapes
# the fixture tables support — correlated-subquery decorrelation,
# argmin-per-group enrichment, outer-join histograms, global-threshold
# anti-joins, max-of-aggregate selection. These widen the RELATIONAL
# surface beyond the reference's own query list (SURVEY.md §2 P/A/JN/O
# families) with the plan shapes any 100 TB warehouse workload hits.
# --------------------------------------------------------------------------
_SQL_MONEY_SUM_SPARK = (
    "CAST(floor(sum(CAST(floor({expr} * 1000000.0 + 0.5) AS DECIMAL(38,0)))"
    " / 10000) AS DOUBLE) / 100"
)


@query(
    "q116_small_qty_revenue",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
           {sql_money_sum('l_extendedprice')} AS small_qty_revenue
    FROM lineitem l
    WHERE l.l_quantity < (
        SELECT 0.5 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
    )
    """,
    doc="TPC-H Q17 shape: revenue from below-half-average-quantity "
    "lines, written as a CORRELATED scalar subquery and submitted "
    "through the SQL front-end so Catalyst's DecorrelateInnerQuery "
    "rewrites it into the aggregate+join — the plan a hand decorrelation "
    "would produce, with zero per-row subquery execution (the contract "
    "test pins the decorrelated shape). Numeric exactness: quantities "
    "are integral doubles (exact under any summation order), so the "
    "correlated AVG is bit-stable cross-engine; revenue uses the "
    "micro-unit exact-sum idiom (reference parity: horizon filters in "
    "notebooks/04_features/41_build_fixture_horizons.py compute "
    "per-group means the same declarative way).",
    tags=("relational",),
)
def small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefixed view: a bare "lineitem" would silently rebind the
    # session-global name other SQL in the same session reads
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("q116_lineitem")
    rev = _SQL_MONEY_SUM_SPARK.format(expr="l_extendedprice")
    return spark.sql(f"""
        SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
               {rev} AS small_qty_revenue
        FROM q116_lineitem l
        WHERE l.l_quantity < (
            SELECT 0.5 * avg(l2.l_quantity) FROM q116_lineitem l2
            WHERE l2.l_partkey = l.l_partkey
        )
    """)


@query(
    "q117_cheapest_supplier_per_part",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               CAST(min(CAST(floor(l_extendedprice / l_quantity * 1000000.0
                                   + 0.5) AS BIGINT)) AS BIGINT) AS cost_micro
        FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
        SELECT l_partkey, l_suppkey, cost_micro,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY cost_micro, l_suppkey) AS rn
        FROM cost
    )
    SELECT r.l_partkey AS p_partkey, r.l_suppkey AS s_suppkey, s.s_name,
           CAST(r.cost_micro AS DOUBLE) / 1000000 AS unit_cost
    FROM ranked r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rn = 1
    """,
    doc="TPC-H Q2 shape (no partsupp table in the fixtures, so unit "
    "cost derives from lineitem): per (part, supplier) minimum unit "
    "price, then the argmin supplier per part (ties to the lowest "
    "suppkey) enriched with the supplier dim via broadcast. Unit cost "
    "is one IEEE division micro-quantised BEFORE the min, so min/argmin "
    "run on exact integers cross-engine. Plan: one (part,supp) "
    "aggregation shuffle, WindowGroupLimit-eligible rank, broadcast "
    "dim join — no correlated re-scan per part.",
    tags=("relational",),
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    cost_micro = F.floor(
        F.col("l_extendedprice") / F.col("l_quantity") * 1000000.0 + 0.5
    ).cast("bigint")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(cost_micro).cast("bigint").alias("cost_micro")
    )
    w = Window.partitionBy("l_partkey").orderBy("cost_micro", "l_suppkey")
    return (
        cost.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            (F.col("cost_micro").cast("double") / 1000000).alias("unit_cost"),
        )
    )


@query(
    "q118_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY 1
    )
    GROUP BY 1
    """,
    doc="TPC-H Q13: the customer order-count histogram — LEFT OUTER "
    "join so order-less customers land in the zero bucket (COUNT of a "
    "nullable join-side column, not COUNT(*)), then a second tiny "
    "aggregation over the counts. Plan: one shuffle join on custkey + "
    "one per-customer aggregate that reuses its partitioning; the "
    "histogram agg is distribution-sized.",
    tags=("relational",),
)
def order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


@query(
    "q119_idle_rich_customers",
    oracle="""
    WITH thr AS (
        SELECT CAST(sum(CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(floor(c_acctbal * 1000000.0 + 0.5) AS HUGEINT))
                // 10000 AS DOUBLE) / 100 AS total_bal
    FROM customer c CROSS JOIN thr
    WHERE CAST(floor(c_acctbal * 1000000.0 + 0.5) AS BIGINT) * thr.n > thr.s
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2001-01-01'
      )
    GROUP BY c_mktsegment
    """,
    doc="TPC-H Q22 shape: customers with above-average positive balance "
    "and NO RECENT orders (none since 2001-01-01 — every fixture "
    "customer has some order, so recency is what makes them idle), "
    "rolled up by market segment. The global-average "
    "threshold compares by exact-integer cross-multiplication "
    "(micro(bal)·N > Σmicro — no division anywhere), the no-orders "
    "probe is a LEFT ANTI join (never a per-row EXISTS), and the "
    "one-row threshold table broadcasts. Plan: anti-join shuffle on "
    "custkey + segment-sized aggregate.",
    tags=("relational",),
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    micro = F.floor(F.col("c_acctbal") * 1000000.0 + 0.5).cast("bigint")
    thr = cust.where(F.col("c_acctbal") > 0.0).agg(
        F.sum(micro).cast("bigint").alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        cust.crossJoin(F.broadcast(thr))
        .where(micro * F.col("n") > F.col("s"))
        .join(
            orders.where(
                F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp")
            ).select(F.col("o_custkey")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cust"),
            money_sum(F.col("c_acctbal")).alias("total_bal"),
        )
    )


@query(
    "q120_top_revenue_suppliers",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000.0 + 0.5) AS HUGEINT))
                    AS HUGEINT) AS rev_micro
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1
    )
    SELECT r.l_suppkey AS s_suppkey, s.s_name,
           CAST(floor(r.rev_micro // 10000) AS DOUBLE) / 100 AS total_revenue
    FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
    WHERE r.rev_micro = (SELECT max(rev_micro) FROM rev)
    """,
    doc="TPC-H Q15: the top-revenue supplier(s) for 1996Q1 — revenue "
    "per supplier as an exact micro-unit integer, the maximum folded "
    "to one row and broadcast back (never a single-partition window "
    "over all suppliers), equality keeps ALL tied suppliers (exact "
    "integers make the tie well-defined cross-engine), supplier dim "
    "broadcast-joined for names. Plan: one filtered+pruned scan, one "
    "supplier-key shuffle, two broadcasts.",
    tags=("relational",),
)
def top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    micro = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("decimal(38,0)")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(micro).alias("rev_micro"))
    )
    mx = rev.agg(F.max("rev_micro").alias("mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("rev_micro") == F.col("mx"))
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            (F.floor(F.col("rev_micro") / 10000).cast("double") / 100).alias(
                "total_revenue"
            ),
        )
    )


@query(
    "q136_referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS relationship,
           (SELECT count(*) FROM lineitem) AS n_child,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'nation->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))
    """,
    doc="Referential-integrity audit across the star schema: for each "
    "FK relationship, the child row count and the orphan count "
    "(children whose parent key has no match — NOT EXISTS semantics, "
    "so NULL FKs count as orphans like a strict FK would reject). The "
    "fixture star is consistent, so every orphan count is pinned 0 — "
    "any generator or ingest regression breaks the hash. Scale: each "
    "probe is a LEFT ANTI join; parent key sides are dims (broadcast) "
    "except orders, which AQE plans; counts partial-aggregate "
    "map-side. The standard nightly FK-contract report of a warehouse "
    "without enforced foreign keys.",
    tags=("relational", "quality"),
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    rels = [
        ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    outs = []
    for name, child, ck, parent, pk in rels:
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias(ck)).distinct()
        orphans = c.select(ck).join(p, ck, "left_anti")
        outs.append(
            c.agg(F.count(F.lit(1)).alias("n_child")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(
                F.lit(name).alias("relationship"), "n_child", "n_orphans"
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


@query(
    "q145_rank_family",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(ntile(10) OVER w AS INT) AS decile,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prank,
           cume_dist() OVER w AS cdist
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY c_acctbal DESC, c_custkey ASC)
    """,
    doc="The complete ranking-window family in one pass — ntile "
    "(deciles), rank, dense_rank, percent_rank, cume_dist — per market "
    "segment over account balance (completing O1-O3/q117's "
    "row_number-only coverage). percent_rank/cume_dist are exact "
    "rationals of integer ranks (single correctly-rounded division — "
    "bit-identical cross-engine); all five share ONE window spec, so "
    "the plan is one shuffle + one in-partition sort for the whole "
    "family.",
    tags=("relational", "window"),
)
def rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return cust.select(
        "c_custkey",
        "c_acctbal",
        F.ntile(10).over(w).alias("decile"),
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.percent_rank().over(w).alias("prank"),
        F.cume_dist().over(w).alias("cdist"),
    )


@query(
    "q146_relational_division",
    oracle="""
    WITH pr AS (SELECT DISTINCT o_orderpriority FROM orders),
    per_cust AS (
        SELECT o_custkey, count(DISTINCT o_orderpriority) AS n_pr
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name, CAST(p.n_pr AS BIGINT) AS n_priorities
    FROM customer c
    JOIN per_cust p ON p.o_custkey = c.c_custkey
    WHERE p.n_pr = (SELECT count(*) FROM pr)
    """,
    doc="RELATIONAL DIVISION — 'customers whose orders span EVERY "
    "order priority' (the for-all quantifier SQL lacks natively; the "
    "classic suppliers-who-supply-all-parts shape). Implemented as the "
    "count-distinct-equals-universe decomposition: one grouped "
    "distinct-count per customer against the broadcast 1-row universe "
    "count — no double-anti-join, no per-customer set ops; the "
    "distinct-agg is two-phase partial-aggregated.",
    tags=("relational", "join"),
)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    universe = orders.agg(
        F.countDistinct("o_orderpriority").alias("n_all")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_priorities")
    )
    return (
        per_cust.crossJoin(F.broadcast(universe))
        .where(F.col("n_priorities") == F.col("n_all"))
        .join(cust, per_cust.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", F.col("n_priorities").cast("bigint"))
    )


@query(
    "q147_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(grouping(o_orderstatus) AS INT) AS g_status,
           CAST(grouping(o_orderpriority) AS INT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
    doc="Explicit GROUPING SETS — the per-dimension marginals WITHOUT "
    "the cross-product cells (completing q21 ROLLUP / q63 CUBE: "
    "grouping sets is the construct the other two desugar to). "
    "grouping() flags disambiguate a NULL group value from a "
    "marginalised dimension. One expand + one shuffle; the expand "
    "multiplies rows by the number of SETS (3), not 2^dims.",
    tags=("relational", "agg"),
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("q147_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_priority
        FROM q147_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@query(
    "q155_mode_per_group",
    oracle="""
    SELECT user_id, event_type AS modal_type, CAST(cnt AS BIGINT) AS n
    FROM (
        SELECT user_id, event_type, count(*) AS cnt,
               row_number() OVER (
                   PARTITION BY user_id
                   ORDER BY count(*) DESC, event_type ASC
               ) AS rn
        FROM events GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    doc="MODE per group with a DETERMINISTIC tie-break (most frequent "
    "event type per user; ties to the lexically-first type) — the "
    "aggregate Spark's built-in mode() answers nondeterministically "
    "under ties, re-expressed as count + argmax-by-struct so the "
    "result is partition-invariant and cross-engine exact. Two-phase: "
    "per-(user, type) partial counts shuffle once; the argmax is "
    "min(struct(-cnt, type)) — no second exchange, no window over raw "
    "rows.",
    tags=("relational", "agg"),
)
def mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # argmax via min(struct(-cnt, type, cnt)): highest count, ties to the
    # lexically smallest type — one partial-aggregated pass, no window
    return (
        counts.groupBy("user_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("neg"),
                    F.col("event_type").alias("t"),
                    F.col("cnt").alias("c"),
                )
            ).alias("m")
        )
        .select(
            "user_id",
            F.col("m.t").alias("modal_type"),
            F.col("m.c").cast("bigint").alias("n"),
        )
    )


@query(
    "q156_value_histogram",
    oracle="""
    WITH b AS (
        SELECT least(CAST(floor(value / 25.0) AS BIGINT), 13) AS bin
        FROM events
    )
    SELECT bin,
           CAST(bin * 25.0 AS DOUBLE) AS bin_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM b GROUP BY bin
    """,
    doc="Equi-width HISTOGRAM of the value column (25-unit bins, last "
    "bin open-ended) — the profiling primitive behind every column "
    "drill-down UI. Binning is a pure map expression (floor of one "
    "correctly-rounded division — deterministic cross-engine); the agg "
    "ships one row per bin per partition. Fixed bin edges, NOT "
    "data-dependent quantile edges, so incremental snapshots are "
    "comparable bin-for-bin (the property a drift monitor like q154 "
    "needs).",
    tags=("relational", "agg", "quality"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    bin_ = F.least(F.floor(F.col("value") / 25.0).cast("bigint"), F.lit(13))
    return (
        ev.select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("bin", (F.col("bin") * 25.0).alias("bin_lo"), "n")
    )


@query(
    "q161_volume_shipping",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY n1.n_name, n2.n_name, CAST(year(l.l_shipdate) AS INT)
    """,
    doc="TPC-H Q7 shape (volume shipping): bilateral trade revenue "
    "between two nations per ship year. Plan: the two nation dims and "
    "supplier/customer broadcast; the only big-table shuffle is "
    "lineitem⋈orders on orderkey; the nation filter applies BEFORE the "
    "fact join via the broadcast hash lookups, so non-matching rows die "
    "at the scan side of the pipeline, and the final agg is "
    "(2 nations × years)-sized — KBs at any corpus scale.",
    tags=("relational", "join"),
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy("supp_nation", "cust_nation",
                 F.year("l_shipdate").cast("int").alias("l_year"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .alias("revenue")
        )
    )


@query(
    "q162_market_share",
    oracle="""
    WITH flat AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                          * 1000000.0 + 0.5) AS BIGINT) AS rev_micro,
               n1.n_name = 'NATION_5' AS is_target
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        JOIN region r ON n2.n_regionkey = r.r_regionkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN is_target THEN rev_micro ELSE 0 END)
                AS BIGINT) AS target_rev_micro,
           CAST(sum(rev_micro) AS BIGINT) AS total_rev_micro,
           -- // (trunc, = Spark div): floor(/) reads one ppm low when a
           -- month's total revenue goes negative (r13 fuzz class)
           CAST(sum(CASE WHEN is_target THEN rev_micro ELSE 0 END)
                * CAST(1000000 AS HUGEINT) // sum(rev_micro)
                AS BIGINT) AS share_ppm
    FROM flat GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): the share of one "
    "nation's suppliers in a region's customer revenue per order year. "
    "The share is exact cross-engine: numerator/denominator are "
    "integer micro-sums and the ratio is a floored parts-per-million "
    "over 128-bit intermediates (never a float division of floats). "
    "Plan: all five dims broadcast; one fact shuffle "
    "(lineitem⋈orders); conditional aggregation computes both sums in "
    "ONE pass (no second scan, no self-join) — the A2 conditional-agg "
    "pattern applied to the classic share query.",
    tags=("relational", "join", "agg"),
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev_micro = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("bigint")
    # decimal(38,0) ACCUMULATORS (not bigint): per-group micro revenue
    # overflows long at ~9e7 rows/group — ARITHMETIC_OVERFLOW under ANSI
    # — far below the scale the exactness contract covers (the oracle
    # sums HUGEINT). Output stays bigint like the oracle's final cast.
    dec = "decimal(38,0)"
    target_micro = F.sum(
        F.when(F.col("supp_nation") == "NATION_5", F.col("rev_micro"))
        .otherwise(F.lit(0))
        .cast(dec)
    )
    total_micro = F.sum(F.col("rev_micro").cast(dec))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region.where(F.col("r_name") == "ASIA")
                          .select("r_regionkey")),
              F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            rev_micro.alias("rev_micro"),
            "supp_nation",
        )
        .groupBy("o_year")
        .agg(
            target_micro.alias("__t"),
            total_micro.alias("__tot"),
        )
        .select(
            "o_year",
            F.col("__t").cast("bigint").alias("target_rev_micro"),
            F.col("__tot").cast("bigint").alias("total_rev_micro"),
            # exact `div`: decimal `/` rounds at scale before a floor
            F.expr("__t * 1000000 div __tot").cast("bigint").alias("share_ppm"),
        )
    )


@query(
    "q163_promo_revenue_share",
    oracle="""
    WITH flat AS (
        SELECT strftime(date_trunc('month', l.l_shipdate), '%Y-%m') AS ship_month,
               CAST(floor(l.l_extendedprice * (1 - l.l_discount)
                          * 1000000.0 + 0.5) AS BIGINT) AS rev_micro,
               p.p_type = 'PROMO' AS is_promo
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    )
    SELECT ship_month,
           CAST(sum(CASE WHEN is_promo THEN rev_micro ELSE 0 END)
                AS BIGINT) AS promo_rev_micro,
           CAST(sum(rev_micro) AS BIGINT) AS total_rev_micro,
           -- // (trunc, = Spark div): floor(/) reads one ppm low on a
           -- negative monthly total (r13 fuzz witness: 1995-01, 1998-03)
           CAST(sum(CASE WHEN is_promo THEN rev_micro ELSE 0 END)
                * CAST(1000000 AS HUGEINT) // sum(rev_micro)
                AS BIGINT) AS promo_ppm
    FROM flat GROUP BY ship_month
    """,
    doc="TPC-H Q14 shape (promotion effect): promo-type parts' share of "
    "monthly revenue. Part is the only dim and broadcasts; revenue and "
    "promo revenue come from one conditional aggregation pass; the "
    "share is the exact floored-ppm-over-128-bit pattern (q162). "
    "Months arrive as 'YYYY-MM' strings so the grouping key is "
    "engine-portable (no timestamp hashing).",
    tags=("relational", "agg"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev_micro = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000.0 + 0.5
    ).cast("bigint")
    # decimal accumulators + exact div — see q162's note
    dec = "decimal(38,0)"
    promo = F.sum(
        F.when(F.col("p_type") == "PROMO", F.col("rev_micro"))
        .otherwise(F.lit(0))
        .cast(dec)
    )
    total = F.sum(F.col("rev_micro").cast(dec))
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_type")),
                li.l_partkey == F.col("p_partkey"))
        .select(
            F.date_format(F.date_trunc("month", F.col("l_shipdate")), "yyyy-MM")
            .alias("ship_month"),
            rev_micro.alias("rev_micro"),
            "p_type",
        )
        .groupBy("ship_month")
        .agg(promo.alias("__p"), total.alias("__tot"))
        .select(
            "ship_month",
            F.col("__p").cast("bigint").alias("promo_rev_micro"),
            F.col("__tot").cast("bigint").alias("total_rev_micro"),
            F.expr("__p * 1000000 div __tot").cast("bigint").alias("promo_ppm"),
        )
    )


@query(
    "q164_sole_late_supplier",
    oracle="""
    WITH li AS (
        SELECT l.l_orderkey, l.l_suppkey,
               l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY AS is_late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_order AS (
        SELECT l_orderkey,
               count(DISTINCT l_suppkey) AS n_supp,
               count(DISTINCT CASE WHEN is_late THEN l_suppkey END) AS n_late,
               max(CASE WHEN is_late THEN l_suppkey END) AS late_supp
        FROM li GROUP BY l_orderkey
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM per_order p JOIN supplier s ON p.late_supp = s.s_suppkey
    WHERE p.n_supp >= 2 AND p.n_late = 1
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name ASC
    LIMIT 10
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting): in "
    "multi-supplier orders, the supplier who was the ONLY one to ship "
    "late (>60 days after the order date), counted per supplier, top "
    "10. The classic formulation is a doubly-correlated "
    "EXISTS/NOT-EXISTS; this plan DECORRELATES it into one grouped "
    "pass per order (distinct-supplier and distinct-late-supplier "
    "counts + max-late-supplier, which IS the sole late supplier "
    "whenever n_late=1) — one shuffle on orderkey instead of two "
    "correlated re-scans of lineitem. Supplier dim broadcasts; the "
    "top-10 is orderBy+limit (tree-reduce takeOrdered, no global "
    "sort).",
    tags=("relational", "join", "agg"),
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    flat = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            "l_orderkey", "l_suppkey",
            (F.col("l_shipdate")
             > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("is_late"),
        )
    )
    # two-phase instead of two COUNT DISTINCTs: Spark expands multiple
    # distinct aggregates via an Expand (2× the rows through the
    # shuffle); collapsing to (orderkey, suppkey) grain first makes the
    # second aggregate distinct-free — measured 8.1 s → 6.5 s at sf1
    # (scaling ratio 3.6× → 2.8×)
    per_supp = flat.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("is_late").alias("is_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.where((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supp.select("s_suppkey", "s_name")),
              F.col("late_supp") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


@query(
    "q165_priority_late_orders",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (order priority checking): orders from one year "
    "with at least one line shipped after the order date, counted per "
    "priority. The EXISTS probe is a LEFT SEMI join on orderkey with "
    "the shipdate predicate as a join condition — one shuffle, "
    "short-circuiting per key, never a per-row subquery; the year "
    "filter pushes to the orders scan (PushedFilters) so the semi "
    "join's build side is one year of orders, not all of them.",
    tags=("relational", "join"),
)
def priority_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    return (
        o.join(
            li.select("l_orderkey", "l_shipdate"),
            (o.o_orderkey == F.col("l_orderkey"))
            & (F.col("l_shipdate") > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )


@query(
    "q170_market_basket",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    item_cnt AS (
        SELECT l_partkey, count(*) AS cnt FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(*) AS pair_cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT p.part_a, p.part_b, CAST(p.pair_cnt AS BIGINT) AS pair_cnt,
           CAST(floor(p.pair_cnt * CAST(n.n_orders AS HUGEINT) * 1000000
                      / (ca.cnt * cb.cnt)) AS BIGINT) AS lift_ppm
    FROM pairs p
    JOIN item_cnt ca ON ca.l_partkey = p.part_a
    JOIN item_cnt cb ON cb.l_partkey = p.part_b
    CROSS JOIN n
    WHERE p.pair_cnt >= 2
    """,
    doc="MARKET-BASKET co-occurrence with lift: part pairs bought in the "
    "same order, with lift = P(a,b)/(P(a)·P(b)) as an exact floored ppm "
    "over 128-bit integer products (no float probability anywhere). "
    "Plan: pair generation is a self-join co-partitioned on orderkey — "
    "per-order cost is C(k,2) with k = basket size, so the shuffle "
    "carries the item list once and pairs never leave their reducer "
    "until aggregated. The scale hazard is a PATHOLOGICAL basket (one "
    "order with 10^5 items → 10^10 pairs on one key); the defence is "
    "the same hot-group cap as q93's near-dup star cap — truncate or "
    "sample baskets above a size bound before pairing (fixture baskets "
    "are ≤7 items, so the cap is not wired here; see SCALING.md). "
    "Support floor (pair_cnt ≥ 2) prunes the singleton tail early.",
    tags=("relational", "join", "agg"),
)
def market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_a"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    ca = item_cnt.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    cb = item_cnt.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a", "part_b", F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.floor(
                F.col("pair_cnt").cast("decimal(38,0)")
                * F.col("n_orders") * 1000000
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).cast("bigint").alias("lift_ppm"),
        )
    )


@query(
    "q180_frequent_triples",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    fp AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS c
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    cand AS (
        SELECT x.p1, x.p2, y.p2 AS p3
        FROM fp x JOIN fp y ON x.p1 = y.p1 AND x.p2 < y.p2
        WHERE EXISTS (SELECT 1 FROM fp z WHERE z.p1 = x.p2 AND z.p2 = y.p2)
    )
    SELECT c.p1, c.p2, c.p3, CAST(count(*) AS BIGINT) AS support
    FROM cand c
    JOIN items i1 ON i1.l_partkey = c.p1
    JOIN items i2 ON i2.l_orderkey = i1.l_orderkey AND i2.l_partkey = c.p2
    JOIN items i3 ON i3.l_orderkey = i1.l_orderkey AND i3.l_partkey = c.p3
    GROUP BY c.p1, c.p2, c.p3
    HAVING count(*) >= 2
    """,
    doc="A-PRIORI frequent-triple mining (Agrawal & Srikant level-wise "
    "pruning — the q170 pair analysis extended one level): candidate "
    "triples are generated ONLY from frequent pairs sharing a first "
    "item AND are kept only if their third face (p2,p3) is itself a "
    "frequent pair (the downward-closure prune), then counted against "
    "the baskets. The prune is the entire scale story: counting all "
    "C(parts,3) triples is hopeless, counting candidates whose every "
    "2-subset is frequent is tiny (fixture: 3,445 frequent pairs → 12 "
    "frequent triples). Plan: the pair table is the self-join scaffold "
    "(its own cost was paid in q170); candidates are a few thousand "
    "rows → broadcast into the basket probe; the probe joins stay on "
    "orderkey (uniform). Support floor 2 at fixture scale; production "
    "sets it as a fraction of basket count.",
    tags=("relational", "join", "agg"),
)
def frequent_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    fp = (
        a.join(b, "l_orderkey")
        .where(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("p1", "p2")
    )
    x = fp
    y = fp.select(F.col("p1").alias("p1"), F.col("p2").alias("p3"))
    face = fp.select(F.col("p1").alias("p2"), F.col("p2").alias("p3"))
    cand = (
        x.join(y, "p1")
        .where(F.col("p2") < F.col("p3"))
        .join(face, ["p2", "p3"], "left_semi")
    )
    i1 = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p1"))
    i2 = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p2"))
    i3 = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("p3"))
    return (
        i1.join(F.broadcast(cand), "p1")
        .join(i2, ["l_orderkey", "p2"])
        .join(i3, ["l_orderkey", "p3"])
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .where(F.col("support") >= 2)
    )


@query(
    "q185_gini_concentration",
    oracle="""
    WITH rev AS (
        SELECT c.c_nationkey, o.o_custkey,
               CAST(sum(CAST(floor(o.o_totalprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS r
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT c_nationkey, r,
               row_number() OVER (
                   PARTITION BY c_nationkey ORDER BY r ASC, o_custkey ASC
               ) AS i,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM rev
    )
    SELECT n2.n_name AS nation,
           CAST(any_value(n) AS BIGINT) AS n_customers,
           CAST(floor(
               (2 * sum(CAST(i AS HUGEINT) * r)
                - (any_value(n) + 1) * CAST(sum(CAST(r AS HUGEINT)) AS HUGEINT))
               * 1000000
               / (CAST(any_value(n) AS HUGEINT) * sum(CAST(r AS HUGEINT)))
           ) AS BIGINT) AS gini_ppm
    FROM ranked JOIN nation n2 ON ranked.c_nationkey = n2.n_nationkey
    GROUP BY n2.n_name
    """,
    doc="EXACT GINI concentration of customer revenue per nation (the "
    "'how dependent is this market on its top customers' BI metric): "
    "G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-ranked revenues "
    "— rank sums and revenue micro-sums accumulate as exact 128-bit "
    "integers and the ratio floors to ppm, so the cross-engine match "
    "is exact with no float summation anywhere (the same discipline "
    "as the q162 market-share ratios). Plan: one shuffle to the "
    "(nation, customer) revenue grain, one ranking sort per nation, "
    "one partial-aggregated reduction; the nation dim broadcasts.",
    tags=("relational", "agg", "window"),
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        orders.join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
                    orders.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("r")
        )
    )
    w_i = Window.partitionBy("c_nationkey").orderBy(
        F.col("r").asc(), F.col("o_custkey").asc()
    )
    w_n = Window.partitionBy("c_nationkey")
    ranked = rev.select(
        "c_nationkey", "r",
        F.row_number().over(w_i).alias("i"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    dec = "decimal(38,0)"
    s1 = F.sum(F.col("i").cast(dec) * F.col("r"))
    s0 = F.sum(F.col("r").cast(dec))
    n_ = F.first("n").cast(dec)
    return (
        ranked.join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("nation"),
            )),
            "c_nationkey",
        )
        .groupBy("nation")
        .agg(
            F.first("n").cast("bigint").alias("n_customers"),
            F.floor(
                (2 * s1 - (n_ + 1) * s0) * 1000000 / (n_ * s0)
            ).cast("bigint").alias("gini_ppm"),
        )
    )


@query(
    "q190_copurchase_recs",
    oracle="""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    item_cnt AS (
        SELECT l_partkey, count(*) AS cnt FROM items GROUP BY l_partkey
    ),
    pairs AS (
        SELECT a.l_partkey AS antecedent, b.l_partkey AS consequent,
               count(*) AS pair_cnt
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT antecedent, consequent,
           CAST(pair_cnt AS BIGINT) AS pair_cnt,
           CAST(floor(pair_cnt * CAST(1000000 AS HUGEINT) / ca.cnt) AS BIGINT)
               AS confidence_ppm
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY antecedent
            ORDER BY pair_cnt DESC, consequent ASC
        ) AS rk
        FROM pairs
    ) p
    JOIN item_cnt ca ON ca.l_partkey = p.antecedent
    WHERE rk <= 3
    """,
    doc="CO-PURCHASE RECOMMENDATIONS ('customers who bought X also "
    "bought Y'): DIRECTIONAL association rules from the q170 pair "
    "machinery — per antecedent part, the top-3 consequents by "
    "co-occurrence with exact floored-ppm CONFIDENCE "
    "P(consequent|antecedent) over 128-bit integer ratios. The top-3 "
    "cut is a per-antecedent window that WindowGroupLimit prunes "
    "map-side (asserted pattern, q03/q117), so the rec table ships "
    "3 rows per catalog item no matter how many pairs exist. Same "
    "orderkey-co-partitioned pairing and hot-basket-cap story as "
    "q170.",
    tags=("relational", "join", "agg"),
)
def copurchase_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("antecedent"))
    b = items.select(F.col("l_orderkey"), F.col("l_partkey").alias("consequent"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
        .where(F.col("pair_cnt") >= 2)
    )
    w = Window.partitionBy("antecedent").orderBy(
        F.col("pair_cnt").desc(), F.col("consequent").asc()
    )
    item_cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .join(
            F.broadcast(item_cnt.select(
                F.col("l_partkey").alias("antecedent"), "cnt"
            )),
            "antecedent",
        )
        .select(
            "antecedent", "consequent",
            F.col("pair_cnt").cast("bigint").alias("pair_cnt"),
            F.floor(
                F.col("pair_cnt").cast("decimal(38,0)") * 1000000 / F.col("cnt")
            ).cast("bigint").alias("confidence_ppm"),
        )
    )


@query(
    "q194_lorenz_curve",
    oracle="""
    WITH rev AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS r
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT r,
               row_number() OVER (ORDER BY r ASC, o_custkey ASC) AS i,
               count(*) OVER () AS n,
               sum(CAST(r AS HUGEINT)) OVER () AS total,
               sum(CAST(r AS HUGEINT)) OVER (
                   ORDER BY r ASC, o_custkey ASC ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM rev
    )
    SELECT CAST(ceil(i * 10.0 / n) AS BIGINT) AS decile,
           CAST(max(i) AS BIGINT) AS n_customers_cum,
           -- // (trunc, = Spark div): cum revenue prefixes go negative
           -- when low-spend customers have negative totals (r13 fuzz);
           -- max_by(cum, i): the curve point is cum AT the last-ranked
           -- row — max(cum) diverges once the running sum is
           -- non-monotone (negative totals)
           CAST(max_by(cum, i) * CAST(1000000 AS HUGEINT) // max(total)
                AS BIGINT) AS cum_revenue_ppm
    FROM ranked GROUP BY 1
    """,
    doc="LORENZ CURVE of customer revenue (the chartable companion of "
    "q185's Gini scalar — 'the bottom 50% of customers hold X% of "
    "revenue'): customers ranked ascending by revenue, cumulative "
    "revenue share at each population decile as exact floored ppm "
    "over 128-bit running sums. Scale design: NO unpartitioned window "
    "— rank and running revenue come from operators/selection."
    "bucketed_prefix (revenue-range buckets ~1e9 micro wide → "
    "per-bucket windows + a broadcast bucket-prefix), and n/total are "
    "a 1-row broadcast aggregate, so one curve over billions of "
    "customers still never funnels through a single task; a "
    "per-nation partitioned variant additionally parallelises like "
    "q185.",
    tags=("relational", "agg", "window"),
)
def lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
        ).cast("bigint").alias("r")
    )
    dec = "decimal(38,0)"
    base = rev.withColumn(
        "bucket", F.floor(F.col("r") / F.lit(1000000000)).cast("bigint")
    )
    ranked = bucketed_prefix(
        base,
        "bucket",
        [F.col("r").asc(), F.col("o_custkey").asc()],
        sums={"cum": F.col("r").cast(dec)},
        rank="i",
    )
    tot = rev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r").cast(dec)).alias("total"),
    )
    return (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            F.ceil(F.col("i") * 10.0 / F.col("n")).cast("bigint").alias("decile")
        )
        .agg(
            F.max("i").cast("bigint").alias("n_customers_cum"),
            # cum AT the decile's last-ranked row, not max(cum): with
            # negative revenue totals (supported input class since the
            # r13 fuzz work) the ascending running sum is non-monotone
            # and max(cum) is not a point on the Lorenz curve
            F.max_by("cum", "i").alias("__cum"),
            F.max("total").alias("__tot"),
        )
        # div (trunc), not floor(/): a negative cum prefix (customers
        # with negative revenue totals, r13 fuzz witness) floored one
        # ppm below the DuckDB // twin — and decimal / also HALF_UP-
        # rounds before floor (the q199/q55 class)
        .select(
            "decile",
            "n_customers_cum",
            F.expr("__cum * 1000000 div __tot")
            .cast("bigint").alias("cum_revenue_ppm"),
        )
    )


@query(
    "q195_skyline",
    oracle="""
    WITH p AS (
        SELECT p_partkey,
               CAST(floor(p_retailprice * 1000000.0 + 0.5) AS BIGINT)
                   AS price_micro,
               p_size
        FROM part
    ),
    m AS (
        SELECT *,
               max(p_size) OVER (
                   ORDER BY price_micro
                   RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS max_cheaper,
               max(p_size) OVER (PARTITION BY price_micro) AS max_same
        FROM p
    )
    SELECT p_partkey, price_micro, CAST(p_size AS BIGINT) AS p_size
    FROM m
    WHERE (max_cheaper IS NULL OR p_size > max_cheaper)
      AND p_size = max_same
    """,
    doc="SKYLINE (Pareto front) of parts on (cheaper price, larger "
    "size) — the multi-criteria 'no other part is at least as cheap "
    "AND at least as big, better in one' query. The naive form is an "
    "O(n²) dominance self-join; in 2-D it REWRITES to a sorted scan: "
    "a part is on the skyline iff its size beats the running maximum "
    "over all STRICTLY cheaper parts (exclusive prefix-max on integer "
    "micro-price, so price ties stay out of their own maximum) and "
    "ties the maximum within its own price point (equal-price-larger-"
    "size dominates; identical pairs co-exist). The exclusive prefix "
    "max is fully DISTRIBUTED — collapse to the per-price-point grain "
    "first (one groupBy; distinct prices, each row a distinct price), "
    "then the two-phase decomposition over price-domain buckets "
    "(broadcast better-bucket maxima + per-bucket exclusive window; "
    "bucket count is fixed by the retail-price DOMAIN, never the part "
    "count), so no unpartitioned window survives anywhere even when "
    "the skyline spans billions of rows. Higher dimensions need the "
    "block-nested-loop or divide-and-conquer forms — documented, not "
    "wired.",
    tags=("relational", "window"),
)
def skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    part = load_table(spark, sf_dir, "part")
    p = part.select(
        "p_partkey",
        F.floor(F.col("p_retailprice") * 1000000.0 + 0.5).cast("bigint")
        .alias("price_micro"),
        "p_size",
    )
    # per-price-point grain: one row per distinct price (strict-cheaper
    # semantics become a plain EXCLUSIVE row frame at this grain)
    pv = p.groupBy("price_micro").agg(F.max("p_size").alias("max_same"))
    pv = pv.withColumn("bucket", F.expr("price_micro div 16777216"))
    bucket_max = pv.groupBy("bucket").agg(F.max("max_same").alias("bmax"))
    other = bucket_max.select(
        F.col("bucket").alias("ob"), F.col("bmax").alias("omax")
    )
    prefix = (
        bucket_max.join(F.broadcast(other), F.col("ob") < F.col("bucket"), "left")
        .groupBy("bucket")
        .agg(F.max("omax").alias("pmax"))
    )
    w_in_ex = (
        Window.partitionBy("bucket")
        .orderBy(F.col("price_micro").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cheaper = (
        pv.join(F.broadcast(prefix), "bucket")
        .withColumn("in_ex", F.max("max_same").over(w_in_ex))
        # greatest() skips NULLs: NULL only for the globally cheapest price
        .select(
            "price_micro",
            "max_same",
            F.greatest("pmax", "in_ex").alias("max_cheaper"),
        )
    )
    return (
        p.join(cheaper, "price_micro")
        .where(
            (F.col("max_cheaper").isNull()
             | (F.col("p_size") > F.col("max_cheaper")))
            & (F.col("p_size") == F.col("max_same"))
        )
        .select("p_partkey", "price_micro", F.col("p_size").cast("bigint").alias("p_size"))
    )


@query(
    "q201_hierarchy_rollup",
    oracle="""
    WITH RECURSIVE parts AS (
        SELECT p_partkey AS id,
               CASE WHEN p_partkey = 0 THEN NULL
                    ELSE p_partkey // 10 END AS parent,
               CAST(floor(p_retailprice * 1000000.0 + 0.5) AS BIGINT)
                   AS vmicro
        FROM part
    ),
    closure AS (
        SELECT id AS anc, id AS node FROM parts
        UNION ALL
        SELECT c.anc, p.id AS node
        FROM closure c JOIN parts p ON p.parent = c.node
    )
    SELECT c.anc AS node_id,
           CAST(count(*) AS BIGINT) AS subtree_size,
           CAST(sum(p.vmicro) AS BIGINT) AS subtree_value_micro
    FROM closure c JOIN parts p ON p.id = c.node
    GROUP BY c.anc
    """,
    doc="RECURSIVE HIERARCHY ROLLUP (BOM costing / org-chart totals — "
    "the transitive aggregate GROUP BY cannot express): parts form a "
    "synthetic tree (parent = id // 10, so depth = digits of the key "
    "space) and every node reports its SUBTREE size and value. Spark "
    "has no recursive CTE; the engine computes it LEVEL-WISE BOTTOM-"
    "UP: each round folds the current accumulated totals one parent "
    "step up (children's totals join their parent and add), so rounds "
    "= tree DEPTH (log-bounded, ~4 here; an org chart is ≤ ~10) and "
    "each round is one uniform-key shuffle + a localCheckpoint for "
    "lineage truncation — the q57/q124 iterative discipline. NOT the "
    "closure materialisation the oracle uses: closure rows = Σ node "
    "depths (quadratic on deep chains); the level-wise fold carries "
    "one row per node per round. Oracle: DuckDB recursive CTE over "
    "the identical tree, full value-level match.",
    tags=("relational", "agg", "graph"),
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    parts = part.select(
        F.col("p_partkey").alias("id"),
        F.when(F.col("p_partkey") == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("p_partkey") / 10).cast("long")).alias("parent"),
        F.floor(F.col("p_retailprice") * 1000000.0 + 0.5).cast("bigint")
        .alias("vmicro"),
    )
    edges = parts.select("id", "parent").where(F.col("parent").isNotNull())
    # acc: per node, totals accumulated from levels folded so far
    acc = parts.select(
        "id", F.lit(1).cast("bigint").alias("sz"), F.col("vmicro").alias("v")
    ).localCheckpoint(eager=True)
    # frontier: totals attributed to each node from its subtree at the
    # current fold depth; push one parent step per round until empty
    frontier = acc
    for _ in range(12):  # > max tree depth for any bigint key space
        pushed = (
            frontier.join(edges, "id")
            .groupBy(F.col("parent").alias("id"))
            .agg(F.sum("sz").alias("sz"), F.sum("v").alias("v"))
        )
        if pushed.limit(1).isEmpty():
            break
        acc = (
            acc.unionByName(pushed)
            .groupBy("id")
            .agg(F.sum("sz").alias("sz"), F.sum("v").alias("v"))
            .localCheckpoint(eager=True)
        )
        frontier = pushed.localCheckpoint(eager=True)
    return acc.select(
        F.col("id").alias("node_id"),
        F.col("sz").cast("bigint").alias("subtree_size"),
        F.col("v").cast("bigint").alias("subtree_value_micro"),
    )


@query(
    "q203_trending_parts",
    oracle="""
    WITH w AS (
        SELECT l_partkey,
               CASE WHEN l_shipdate >= TIMESTAMP '2001-01-01' THEN 1 ELSE 0
               END AS cur
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-02-01'
    ),
    c AS (
        SELECT l_partkey,
               sum(cur) AS cur_n,
               sum(1 - cur) AS prior_n
        FROM w GROUP BY l_partkey
        HAVING sum(cur) >= 5
    )
    SELECT l_partkey,
           CAST(cur_n AS BIGINT) AS cur_n,
           CAST(prior_n AS BIGINT) AS prior_n,
           CAST(floor(cur_n * CAST(1000000 AS HUGEINT) / (prior_n + 1))
                AS BIGINT) AS growth_ppm
    FROM c
    ORDER BY growth_ppm DESC, l_partkey ASC
    LIMIT 20
    """,
    doc="TRENDING ITEMS (growth ranking — 'what is taking off', not "
    "'what is big'): per part, shipment counts in the current window "
    "vs the PRIOR window of equal length (fixed calendar edges, so "
    "snapshots compare run-to-run), a minimum-support floor to keep "
    "noise items from topping the board on 0→1 jumps, and growth as "
    "exact floored ppm with Laplace +1 smoothing on the prior (new "
    "items rank by raw current volume instead of dividing by zero). "
    "ONE scan with a conditional aggregation covers both windows — "
    "never two scans joined — and the scan-level date filter prunes "
    "everything older than the prior window; top-20 is tree-reduce "
    "takeOrdered.",
    tags=("relational", "agg"),
)
def trending_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cur = F.when(
        F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"), 1
    ).otherwise(0)
    c = (
        li.where(F.col("l_shipdate") >= F.lit("2000-02-01").cast("timestamp"))
        .select("l_partkey", cur.alias("cur"))
        .groupBy("l_partkey")
        .agg(
            F.sum("cur").alias("cur_n"),
            F.sum(1 - F.col("cur")).alias("prior_n"),
        )
        .where(F.col("cur_n") >= 5)
    )
    return (
        c.select(
            "l_partkey",
            F.col("cur_n").cast("bigint").alias("cur_n"),
            F.col("prior_n").cast("bigint").alias("prior_n"),
            F.floor(
                F.col("cur_n").cast("decimal(38,0)") * 1000000
                / (F.col("prior_n") + 1)
            ).cast("bigint").alias("growth_ppm"),
        )
        .orderBy(F.col("growth_ppm").desc(), F.col("l_partkey").asc())
        .limit(20)
    )


@query(
    "q204_revenue_bridge",
    oracle="""
    WITH y AS (
        SELECT l_partkey,
               CASE WHEN l_shipdate >= TIMESTAMP '2000-01-01'
                         AND l_shipdate < TIMESTAMP '2001-01-01' THEN 0
                    WHEN l_shipdate >= TIMESTAMP '2001-01-01'
                         AND l_shipdate < TIMESTAMP '2002-01-01' THEN 1
               END AS yr,
               -- trunc(): DuckDB CAST(double AS BIGINT) rounds half-even
               -- while Spark's cast truncates (r13 fuzz: .5 quantities)
               CAST(trunc(l_quantity) AS BIGINT) AS l_quantity,
               CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)
                   AS ext_micro
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '2000-01-01'
          AND l_shipdate < TIMESTAMP '2002-01-01'
    ),
    per AS (
        SELECT l_partkey,
               sum(CASE WHEN yr = 0 THEN l_quantity ELSE 0 END) AS q0,
               sum(CASE WHEN yr = 1 THEN l_quantity ELSE 0 END) AS q1,
               sum(CASE WHEN yr = 0 THEN ext_micro ELSE 0 END) AS r0,
               sum(CASE WHEN yr = 1 THEN ext_micro ELSE 0 END) AS r1
        FROM y GROUP BY l_partkey
        HAVING sum(CASE WHEN yr = 0 THEN l_quantity ELSE 0 END) > 0
           AND sum(CASE WHEN yr = 1 THEN l_quantity ELSE 0 END) > 0
    )
    SELECT CAST(sum(r1 - r0) AS BIGINT) AS delta_rev_micro,
           CAST(sum((q1 - q0) * (r0 // q0)) AS BIGINT)
               AS volume_effect_micro,
           CAST(sum(q1 * (r1 // q1 - r0 // q0)) AS BIGINT)
               AS price_effect_micro,
           CAST(sum((r1 - r0) - (q1 - q0) * (r0 // q0)
                    - q1 * (r1 // q1 - r0 // q0)) AS BIGINT)
               AS residual_micro
    FROM per
    """,
    doc="REVENUE BRIDGE (Laspeyres price/volume decomposition — the "
    "'why did revenue move' waterfall every finance review wants): "
    "per part present in BOTH years, Δrev splits into a VOLUME effect "
    "((q1−q0) at the base-year unit price) and a PRICE effect (q1 "
    "times the unit-price change), plus the exactly-accounted "
    "RESIDUAL from floored integer unit prices — the books balance to "
    "the micro because every term is integer arithmetic (unit price = "
    "floored integer division of micro revenue by quantity; the "
    "rounding goes to the residual line instead of silently "
    "vanishing). ONE conditional-aggregation scan covers both years; "
    "the date filter prunes at the scan; output is a single audit "
    "row.",
    tags=("relational", "agg"),
)
def revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    yr = F.when(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp")), 0
    ).when(
        (F.col("l_shipdate") >= F.lit("2001-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("2002-01-01").cast("timestamp")), 1
    )
    ext = F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5).cast("bigint")
    per = (
        li.where(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("2002-01-01").cast("timestamp"))
        )
        .select(
            "l_partkey", yr.alias("yr"),
            F.col("l_quantity").cast("bigint").alias("l_quantity"),
            ext.alias("ext_micro"),
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("yr") == 0, F.col("l_quantity")).otherwise(0)).alias("q0"),
            F.sum(F.when(F.col("yr") == 1, F.col("l_quantity")).otherwise(0)).alias("q1"),
            F.sum(F.when(F.col("yr") == 0, F.col("ext_micro")).otherwise(0)).alias("r0"),
            F.sum(F.when(F.col("yr") == 1, F.col("ext_micro")).otherwise(0)).alias("r1"),
        )
        .where((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    # exact `div` on decimal casts — bigint / bigint promotes to double
    # past 2^53 micros (the q199/q55 class); q0/q1 are > 0 by the filter
    u0 = F.expr("cast(r0 as decimal(38,0)) div q0").cast("bigint")
    u1 = F.expr("cast(r1 as decimal(38,0)) div q1").cast("bigint")
    vol = (F.col("q1") - F.col("q0")) * u0
    prc = F.col("q1") * (u1 - u0)
    return per.agg(
        F.sum(F.col("r1") - F.col("r0")).cast("bigint").alias("delta_rev_micro"),
        F.sum(vol).cast("bigint").alias("volume_effect_micro"),
        F.sum(prc).cast("bigint").alias("price_effect_micro"),
        F.sum((F.col("r1") - F.col("r0")) - vol - prc)
        .cast("bigint").alias("residual_micro"),
    )


@query(
    "q205_abc_classification",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS r
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT l_partkey, r,
               sum(CAST(r AS HUGEINT)) OVER (
                   ORDER BY r DESC, l_partkey ASC ROWS UNBOUNDED PRECEDING
               ) AS cum,
               sum(CAST(r AS HUGEINT)) OVER () AS total
        FROM rev
    ),
    classed AS (
        SELECT l_partkey, r,
               CASE WHEN (cum - r) * 100 < total * 80 THEN 'A'
                    WHEN (cum - r) * 100 < total * 95 THEN 'B'
                    ELSE 'C' END AS abc
        FROM ranked
    )
    SELECT abc,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CAST(r AS HUGEINT)) AS BIGINT) AS class_rev_micro
    FROM classed GROUP BY abc
    """,
    doc="ABC / PARETO CLASSIFICATION of parts by revenue (the inventory "
    "policy artefact: A = the head up to 80% of cumulative revenue, "
    "B = to 95%, C = the tail): descending running revenue share "
    "decides the class by INTEGER CROSS-MULTIPLICATION ((cum−r)·100 < "
    "total·80 — no percentage floats, exact boundaries, and the "
    "boundary item goes to the richer class because its PRE-cumulative "
    "share is what's tested). Part-grain input (already aggregated); "
    "the descending running sum is the q169 two-phase decomposition — "
    "revenue-range buckets sized from a control-plane min/max (≈512 "
    "at any corpus size, the q259 sizing rule), broadcast "
    "better-bucket prefix + per-bucket windows — and the grand total "
    "arrives as a broadcast 1-row aggregate, so NO unpartitioned "
    "window exists even when the ranking spans billions of grain "
    "rows. Class-sized output.",
    tags=("relational", "agg", "window"),
)
def abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5).cast("bigint")
        ).cast("bigint").alias("r")
    )
    dec = "decimal(38,0)"
    # materialise once: the min/max sizing probe, base, and tot would
    # otherwise each re-run the full lineitem groupBy (localCheckpoint
    # so the blocks are reclaimable, not CacheManager-pinned)
    rev = rev.localCheckpoint(eager=True)
    from football_lakehouse_spark.functions.guards import bounded_collect

    lo, hi = bounded_collect(
        rev.agg(F.min("r"), F.max("r")), 1, "abc_classification sizing probe"
    )[0]
    if hi is None:  # empty input: no buckets to size, result is empty
        lo, hi = 0, 0
    width = max((int(hi) - int(lo) + 1) // 512, 1)
    base = rev.withColumn("bucket", F.floor(F.col("r") / width).cast("bigint"))
    tot = rev.agg(F.sum(F.col("r").cast(dec)).alias("total"))
    ranked = bucketed_prefix(
        base,
        "bucket",
        [F.col("r").desc(), F.col("l_partkey").asc()],
        sums={"cum": F.col("r").cast(dec)},
        descending=True,
    ).crossJoin(F.broadcast(tot))
    pre = (F.col("cum") - F.col("r")) * 100
    abc = (
        F.when(pre < F.col("total") * 80, "A")
        .when(pre < F.col("total") * 95, "B")
        .otherwise("C")
    )
    return (
        ranked.select("r", abc.alias("abc"))
        .groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            F.sum(F.col("r").cast(dec)).cast("bigint").alias("class_rev_micro"),
        )
    )


@query(
    "q206_simpson_diversity",
    oracle="""
    WITH c AS (
        SELECT c.c_nationkey, p.p_type, count(*) AS n
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT c_nationkey,
               CAST(sum(n) AS HUGEINT) AS total,
               CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS sq
        FROM c GROUP BY c_nationkey
    )
    SELECT n2.n_name AS nation,
           CAST(s.total AS BIGINT) AS n_lineitems,
           CAST(floor((s.total * s.total - s.sq) * 1000000
                      / (s.total * s.total)) AS BIGINT) AS simpson_ppm
    FROM s JOIN nation n2 ON s.c_nationkey = n2.n_nationkey
    """,
    doc="SIMPSON DIVERSITY of purchased part types per nation (the "
    "assortment-breadth metric: 1 − Σpᵢ² — the probability two random "
    "purchases are of DIFFERENT types; entropy's sibling that needs "
    "no logarithm, so it stays exact): computed as "
    "(N² − Σnᵢ²)·10⁶ / N² over 128-bit integer counts — no "
    "probability floats anywhere. One fact shuffle with the three "
    "dims broadcast, then two tiny aggregations.",
    tags=("relational", "agg"),
)
def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    dec = "decimal(38,0)"
    c = (
        li.join(orders.select("o_orderkey", "o_custkey"),
                li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")),
              F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              li.l_partkey == F.col("p_partkey"))
        .groupBy("c_nationkey", "p_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    s = c.groupBy("c_nationkey").agg(
        F.sum(F.col("n").cast(dec)).alias("total"),
        F.sum(F.col("n").cast(dec) * F.col("n")).alias("sq"),
    )
    return (
        s.join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("nation"),
            )),
            "c_nationkey",
        )
        .select(
            "nation",
            F.col("total").cast("bigint").alias("n_lineitems"),
            F.floor(
                (F.col("total") * F.col("total") - F.col("sq")) * 1000000
                / (F.col("total") * F.col("total"))
            ).cast("bigint").alias("simpson_ppm"),
        )
    )


@query(
    "q208_ship_latency_sla",
    oracle="""
    WITH lag AS (
        SELECT o.o_orderpriority,
               CAST(floor((epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate))
                    / 86400000000) AS BIGINT) AS lag_days
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    v AS (
        SELECT o_orderpriority, lag_days,
               row_number() OVER (
                   PARTITION BY o_orderpriority ORDER BY lag_days ASC
               ) - 1 AS rn,
               count(*) OVER (PARTITION BY o_orderpriority) AS n
        FROM lag
    )
    SELECT o_orderpriority,
           CAST(max(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rn = (n - 1) // 2 THEN lag_days END)
                AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = (n - 1) * 95 // 100 THEN lag_days END)
                AS BIGINT) AS p95_days,
           CAST(sum(CASE WHEN lag_days > 90 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_breaches_90d
    FROM v GROUP BY o_orderpriority
    """,
    doc="SHIPMENT-LATENCY SLA report per order priority (does '1-URGENT' "
    "actually ship faster, and how many lines breach the 90-day SLA): "
    "integer lag days from order to ship, exact p50/p95 as LOWER order "
    "statistics (rank = floor((n−1)·q) — no interpolation needed for "
    "integer-day SLAs, and the rank-equality pick ships one row per "
    "mark like q175), plus the breach count. Ties inside a lag value "
    "don't matter for the picked value (any row at the mark rank "
    "carries the same lag_days after ordering by it). One fact "
    "shuffle + one ranking sort per priority.",
    tags=("relational", "window", "agg"),
)
def ship_latency_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_micros

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lag = (
        li.join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            "o_orderpriority",
            F.floor(
                (epoch_micros(F.col("l_shipdate"))
                 - epoch_micros(F.col("o_orderdate"))) / 86400000000
            ).cast("bigint").alias("lag_days"),
        )
    )
    w_rn = Window.partitionBy("o_orderpriority").orderBy(F.col("lag_days").asc())
    w_n = Window.partitionBy("o_orderpriority")
    v = lag.select(
        "o_orderpriority", "lag_days",
        (F.row_number().over(w_rn) - 1).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    p50_rn = F.floor((F.col("n") - 1) / 2).cast("bigint")
    p95_rn = F.floor((F.col("n") - 1) * 95 / 100).cast("bigint")
    return v.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n_lines"),
        F.max(F.when(F.col("rn") == p50_rn, F.col("lag_days")))
        .cast("bigint").alias("p50_days"),
        F.max(F.when(F.col("rn") == p95_rn, F.col("lag_days")))
        .cast("bigint").alias("p95_days"),
        F.sum(F.when(F.col("lag_days") > 90, 1).otherwise(0))
        .cast("bigint").alias("n_breaches_90d"),
    )


@query(
    "q215_equidepth_histogram",
    oracle="""
    WITH p AS (
        SELECT CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)
                   AS price_micro,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT price_micro,
               row_number() OVER (
                   ORDER BY price_micro ASC, l_orderkey ASC, l_linenumber ASC
               ) AS i,
               count(*) OVER () AS n
        FROM p
    )
    SELECT CAST(ceil(i * 20.0 / n) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(price_micro) AS BIGINT) AS lo_micro,
           CAST(max(price_micro) AS BIGINT) AS hi_micro,
           CAST(sum(CAST(price_micro AS HUGEINT)) // count(*) AS BIGINT)
               AS avg_micro
    FROM r GROUP BY 1
    """,
    doc="EXACT EQUI-DEPTH HISTOGRAM of line-item prices (20 bins, each "
    "holding an equal share of rows — the optimizer-statistics / "
    "data-profiling primitive equi-WIDTH histograms (q156) cannot "
    "give on skewed distributions): the global rank comes from "
    "operators/selection.bucketed_prefix (price-range buckets → "
    "per-bucket windows + windowless broadcast bucket-prefix), the "
    "bin from ceil(i·B/n), then one per-bin aggregation for "
    "occupancy, exact bounds, and the floored integer mean. No "
    "unpartitioned window anywhere — a 100-billion-row fact table "
    "histograms with no single-task sort. Ties are total-ordered by "
    "(price, orderkey, linenumber) identically on both engines.",
    bench=True,
    tags=("relational", "agg", "window"),
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5)
        .cast("bigint").alias("price_micro"),
        "l_orderkey",
        "l_linenumber",
    ).withColumn(
        "bucket", F.floor(F.col("price_micro") / F.lit(1000000000)).cast("bigint")
    )
    # total served from bucketed_prefix's checkpointed bucket table —
    # the separate p.agg(count) paid one more full lineitem scan (r14)
    ranked = bucketed_prefix(
        p,
        "bucket",
        [
            F.col("price_micro").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        ],
        rank="i",
        total="n",
    )
    dec = "decimal(38,0)"
    return (
        ranked
        .groupBy(
            F.ceil(F.col("i") * 20.0 / F.col("n")).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("price_micro").cast("bigint").alias("lo_micro"),
            F.max("price_micro").cast("bigint").alias("hi_micro"),
            F.sum(F.col("price_micro").cast(dec)).alias("__s"),
        )
        # div (trunc, = DuckDB //), not floor(/): a bin whose price sum
        # is negative floored one micro low (r13 fuzz witness), and
        # decimal / HALF_UP-rounds before floor (q199/q55 class)
        .select(
            "bin", "n_rows", "lo_micro", "hi_micro",
            F.expr("__s div n_rows").cast("bigint").alias("avg_micro"),
        )
    )


@query(
    "q217_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey,
               date_diff('day', max(o_orderdate),
                         (SELECT max(o_orderdate) FROM orders))
                   AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               CAST(sum(CAST(floor(o_totalprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS monetary_micro
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT o_custkey,
               6 - ntile(5) OVER (ORDER BY recency_days ASC, o_custkey ASC)
                   AS r_score,
               ntile(5) OVER (ORDER BY frequency ASC, o_custkey ASC)
                   AS f_score,
               ntile(5) OVER (ORDER BY monetary_micro ASC, o_custkey ASC)
                   AS m_score
        FROM rfm
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                    THEN 'champion'
                WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
                WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
                ELSE 'regular' END AS segment,
           CAST(count(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY 1, 2, 3, 4
    """,
    doc="RFM SEGMENTATION (recency / frequency / monetary quintile "
    "scores — the standard customer-base health cube): one grain "
    "aggregation of orders, then THREE independent exact quintile "
    "cuts, each a bucketed_prefix global rank (value-range buckets, "
    "windowless bucket-prefix) + the arithmetic ntile_expr — zero "
    "unpartitioned windows for a segmentation that is classically "
    "written as three global ntile sorts. Segment labels are a "
    "deterministic CASE over the scores (champion / at_risk / new / "
    "regular); output is the (r,f,m,segment) occupancy cube. Recency "
    "score is inverted (6−ntile) so 5 always means best.",
    tags=("relational", "agg", "window"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import (
        bucketed_prefix,
        ntile_expr,
    )

    orders = load_table(spark, sf_dir, "orders")
    maxd = orders.agg(F.max("o_orderdate").alias("maxd"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("monetary_micro"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            "o_custkey",
            F.datediff(F.col("maxd"), F.col("last_order"))
            .cast("bigint").alias("recency_days"),
            "frequency",
            "monetary_micro",
        )
    )
    tot = rfm.agg(F.count(F.lit(1)).alias("n"))

    def quintile(df, metric, bucket_expr, out):
        ranked = bucketed_prefix(
            df.withColumn("bucket", bucket_expr.cast("bigint")),
            "bucket",
            [F.col(metric).asc(), F.col("o_custkey").asc()],
            rank="__i",
        )
        return (
            ranked.crossJoin(F.broadcast(tot))
            .withColumn(out, ntile_expr(F.col("__i"), F.col("n"), 5))
            .drop("__i", "bucket", "n")
        )

    scored = quintile(
        rfm, "recency_days", F.floor(F.col("recency_days") / 16), "__rt"
    )
    scored = quintile(scored, "frequency", F.col("frequency"), "f_score")
    scored = quintile(
        scored,
        "monetary_micro",
        F.floor(F.col("monetary_micro") / F.lit(1000000000)),
        "m_score",
    )
    scored = scored.withColumn("r_score", (6 - F.col("__rt")).cast("int"))
    segment = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 4), "at_risk")
        .when((F.col("r_score") >= 4) & (F.col("f_score") <= 2), "new")
        .otherwise("regular")
    )
    return (
        scored.withColumn("segment", segment)
        .groupBy("r_score", "f_score", "m_score", "segment")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_customers"))
    )


@query(
    "q224_revenue_concentrated_parts",
    oracle="""
    WITH rev AS (
        SELECT l_partkey,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000.0 + 0.5) AS HUGEINT))
                    AS HUGEINT) AS rev_micro
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT sum(rev_micro) AS total, count(*) AS np FROM rev)
    SELECT l_partkey,
           CAST(rev_micro AS BIGINT) AS rev_micro,
           CAST(rev_micro * 1000000 // tot.total AS BIGINT) AS share_ppm
    FROM rev CROSS JOIN tot
    WHERE rev_micro * np * 3 > 4 * tot.total
    """,
    doc="REVENUE-CONCENTRATED PARTS — the TPC-H Q11 'important stock' "
    "shape (group-level sum filtered against a FRACTION OF THE GLOBAL "
    "sum) over the lineitem star: parts whose discounted revenue "
    "exceeds 4/3 of the MEAN part revenue, with their exact "
    "floored-ppm share — the threshold is mean-relative (Q11's own "
    "0.0001/SF constant is scale-adjusted for the same reason), so "
    "the selection stays meaningful at any part cardinality. "
    "The textbook formulation is a correlated HAVING against a scalar "
    "subquery; the Spark plan decorrelates it the way AQE wishes you "
    "would — the global total is a 1-row aggregate of the SAME "
    "per-part table (exchange reuse, corpus scanned once) broadcast "
    "into a map-side filter. All integer micro arithmetic over "
    "128-bit intermediates; no second scan, no join shuffle.",
    tags=("relational", "agg"),
)
def revenue_concentrated_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 1000000.0 + 0.5
            ).cast(dec)
        ).alias("rev_micro")
    )
    tot = rev.agg(
        F.sum("rev_micro").alias("total"),
        F.count(F.lit(1)).alias("np"),
    )
    return (
        rev.crossJoin(F.broadcast(tot))
        .where(F.col("rev_micro") * F.col("np") * 3 > 4 * F.col("total"))
        .select(
            "l_partkey",
            F.col("rev_micro").cast("bigint").alias("rev_micro"),
            F.floor(F.col("rev_micro") * 1000000 / F.col("total"))
            .cast("bigint").alias("share_ppm"),
        )
    )


@query(
    "q226_winsorized_stats",
    oracle="""
    WITH p AS (
        SELECT o_orderkey, o_orderpriority,
               CAST(floor(o_totalprice * 1000000.0 + 0.5) AS BIGINT)
                   AS price_micro
        FROM orders
    ),
    r AS (
        SELECT price_micro,
               row_number() OVER (
                   ORDER BY price_micro ASC, o_orderkey ASC
               ) AS i,
               count(*) OVER () AS n
        FROM p
    ),
    edges AS (
        SELECT min(CASE WHEN i = (n - 1) // 100 + 1
                        THEN price_micro END) AS lo,
               min(CASE WHEN i = ((n - 1) * 99) // 100 + 1
                        THEN price_micro END) AS hi
        FROM r
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(price_micro AS HUGEINT)) // count(*) AS BIGINT)
               AS raw_mean_micro,
           CAST(sum(CAST(least(greatest(price_micro, e.lo), e.hi)
                         AS HUGEINT)) // count(*) AS BIGINT)
               AS winsor_mean_micro,
           CAST(sum(CASE WHEN price_micro < e.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN price_micro > e.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high
    FROM p CROSS JOIN edges e
    GROUP BY 1
    """,
    doc="WINSORIZED STATISTICS (robust feature aggregation — clamp the "
    "tails at the exact p1/p99 order statistics before averaging, so "
    "one fat-finger order cannot move a group mean): the p1/p99 "
    "edges come from the exact global rank (bucketed_prefix — "
    "price-range buckets, windowless bucket-prefix; the q175 "
    "order-statistics convention rank = (n−1)·p//100 + 1), collapse "
    "to a 1-row broadcast, and winsorization is a map-side "
    "least/greatest clamp — the data is scanned once for the rank "
    "and once for the grouped report, with no per-row join. Exact "
    "integer micro means via 128-bit floored division; clipped-row "
    "counts make the clamping auditable.",
    tags=("relational", "agg", "window"),
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    orders = load_table(spark, sf_dir, "orders")
    p = orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 1000000.0 + 0.5)
        .cast("bigint").alias("price_micro"),
    )
    ranked = bucketed_prefix(
        p.withColumn(
            "bucket",
            F.floor(F.col("price_micro") / F.lit(1000000000)).cast("bigint"),
        ),
        "bucket",
        [F.col("price_micro").asc(), F.col("o_orderkey").asc()],
        rank="i",
    )
    tot = p.agg(F.count(F.lit(1)).alias("n"))
    lo_rank = F.floor((F.col("n") - 1) / 100) + 1
    hi_rank = F.floor((F.col("n") - 1) * 99 / 100) + 1
    edges = (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            F.min(F.when(F.col("i") == lo_rank, F.col("price_micro")))
            .alias("lo"),
            F.min(F.when(F.col("i") == hi_rank, F.col("price_micro")))
            .alias("hi"),
        )
    )
    dec = "decimal(38,0)"
    clamped = F.least(F.greatest(F.col("price_micro"), F.col("lo")), F.col("hi"))
    return (
        p.crossJoin(F.broadcast(edges))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.floor(F.sum(F.col("price_micro").cast(dec)) / F.count(F.lit(1)))
            .cast("bigint").alias("raw_mean_micro"),
            F.floor(F.sum(clamped.cast(dec)) / F.count(F.lit(1)))
            .cast("bigint").alias("winsor_mean_micro"),
            F.sum(F.when(F.col("price_micro") < F.col("lo"), 1).otherwise(0))
            .cast("bigint").alias("n_clipped_low"),
            F.sum(F.when(F.col("price_micro") > F.col("hi"), 1).otherwise(0))
            .cast("bigint").alias("n_clipped_high"),
        )
    )


@query(
    "q234_histogram_2d",
    oracle="""
    -- trunc(): DuckDB double→int cast rounds, Spark truncates
    SELECT CAST(least(4, CAST(trunc(l_quantity) AS BIGINT) // 10) AS BIGINT)
               AS qty_bin,
           -- floor-division (not //-trunc): bins over NEGATIVE prices
           -- must floor like the engine's floor(x / 10000) (r13 fuzz)
           CAST(least(9, CAST(floor(floor(l_extendedprice) / 10000.0)
               AS BIGINT)) AS BIGINT) AS price_bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 1000000.0 + 0.5) AS HUGEINT))
                AS BIGINT) AS rev_micro
    FROM lineitem
    GROUP BY 1, 2
    """,
    doc="2-D EQUI-WIDTH HISTOGRAM over (quantity, price) — the "
    "heatmap/joint-distribution feed (q156's 1-D histogram lifted to "
    "two dimensions; the density grid behind 'do big orders get big "
    "discounts?'): fixed 5×10 bin grid with top bins clamped, per-cell "
    "occupancy and exact discounted-revenue micro sums. Pure "
    "map-side bin expressions + ONE partial-aggregated groupBy; the "
    "output is grid-bounded (≤50 rows) at any fact volume — the "
    "definition of a scale-free report.",
    tags=("relational", "agg"),
)
def histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    return (
        li.groupBy(
            F.least(F.lit(4), F.floor(F.col("l_quantity").cast("bigint") / 10))
            .cast("bigint").alias("qty_bin"),
            F.least(
                F.lit(9),
                F.floor(F.floor(F.col("l_extendedprice")).cast("bigint") / 10000),
            ).cast("bigint").alias("price_bin"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 1000000.0 + 0.5
                ).cast(dec)
            ).cast("bigint").alias("rev_micro"),
        )
    )


@query(
    "q235_ordered_listagg",
    oracle="""
    WITH spend AS (
        SELECT o.o_orderpriority, c.c_name,
               CAST(sum(CAST(floor(o.o_totalprice * 1000000.0 + 0.5)
                        AS BIGINT)) AS BIGINT) AS s
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY o_orderpriority ORDER BY s DESC, c_name ASC
        ) AS rk
        FROM spend
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_listed,
           string_agg(c_name, ',' ORDER BY rk ASC) AS top_customers
    FROM ranked WHERE rk <= 5
    GROUP BY o_orderpriority
    """,
    doc="ORDERED LISTAGG / string_agg parity — the 'top-5 names, "
    "comma-joined, in rank order' report cell every BI export wants, "
    "and an ordered-aggregation semantic engines implement "
    "differently: Spark's collect_list has NO deterministic order "
    "across partitions, so the plan collects (rank, name) structs, "
    "array_sorts by rank, projects the name, and array_joins — "
    "deterministic by construction; DuckDB writes it natively as "
    "string_agg(... ORDER BY). Rank is a per-priority "
    "WindowGroupLimit (pushed into the shuffle); the listagg "
    "operates on ≤5 rows per group.",
    tags=("relational", "agg", "window"),
)
def ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_name")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .groupBy("o_orderpriority", "c_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("s")
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("s").desc(), F.col("c_name").asc()
    )
    return (
        spend.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_listed"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("rk", "c_name"))
                    ),
                    lambda x: x["c_name"],
                ),
                ",",
            ).alias("top_customers"),
        )
    )


@query(
    "q237_variant_props",
    oracle="""
    SELECT event_type,
           CAST(count(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT))
                AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
    doc="VARIANT semi-structured path (Spark 4's open-variant type — "
    "the successor to schema-on-read JSON strings): props parses ONCE "
    "into a VARIANT column (binary-encoded, no per-access re-parse), "
    "typed fields come out via try_variant_get with path expressions "
    "(NULL on missing/mistyped — the safe extraction q09 does for "
    "scalars), and the aggregate runs on the extracted bigints. "
    "Versus q90's from_json map: VARIANT needs no declared schema, "
    "tolerates heterogeneous shapes per row, and keeps extraction "
    "JVM-side. DuckDB twin reads the same payloads with "
    "json_extract. At 100 TB the parse cost is paid once at ingest "
    "(store the VARIANT column), not per query.",
    tags=("relational", "json"),
)
def variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").cast("bigint").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


@query(
    "q239_weighted_median",
    oracle="""
    WITH p AS (
        SELECT l_returnflag,
               CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS BIGINT)
                   AS price_micro,
               -- trunc(): DuckDB double→int cast rounds, Spark truncates
               CAST(trunc(l_quantity) AS BIGINT) AS w,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    r AS (
        SELECT l_returnflag, price_micro, w,
               sum(w) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY price_micro ASC, l_orderkey ASC, l_linenumber ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS cw,
               sum(w) OVER (PARTITION BY l_returnflag) AS tw
        FROM p
    )
    SELECT l_returnflag,
           CAST(min(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= tw THEN price_micro END) AS BIGINT)
               AS weighted_median_micro
    FROM r GROUP BY l_returnflag
    """,
    doc="EXACT WEIGHTED MEDIAN per group (quantity-weighted price — "
    "'the price at which half the VOLUME trades', which the "
    "row-median q175 cannot give): the first value whose running "
    "weight reaches half the group's total weight, computed from a "
    "group-partitioned running sum — and for a SINGLE giant group "
    "the same statistic routes through bucketed_prefix (q215's "
    "rank machinery with sums= instead of rank=), so the operator "
    "has no single-task regime at any grain. Integer micro prices, "
    "integer weights, 2·cw ≥ tw avoids division entirely.",
    tags=("relational", "agg", "window"),
)
def weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 1000000.0 + 0.5)
        .cast("bigint").alias("price_micro"),
        F.col("l_quantity").cast("bigint").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("l_returnflag")
        .orderBy(
            F.col("price_micro").asc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("l_returnflag")
    r = p.select(
        "l_returnflag",
        "price_micro",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_tot).alias("tw"),
    )
    return r.groupBy("l_returnflag").agg(
        F.min("tw").cast("bigint").alias("total_weight"),
        F.min(
            F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_micro"))
        ).cast("bigint").alias("weighted_median_micro"),
    )


@query(
    "q240_benford_audit",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM obs),
    benford(digit, exp_ppm) AS (
        VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
               (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757)
    )
    SELECT b.digit,
           COALESCE(o.n, 0) AS n,
           CAST(COALESCE(o.n, 0) * 1000000 // tot.t AS BIGINT) AS obs_ppm,
           CAST(b.exp_ppm AS BIGINT) AS benford_ppm,
           CAST(abs(COALESCE(o.n, 0) * 1000000 // tot.t - b.exp_ppm)
                AS BIGINT) AS dev_ppm
    FROM benford b LEFT JOIN obs o USING (digit) CROSS JOIN tot
    """,
    doc="BENFORD FIRST-DIGIT AUDIT of order totals — the classic "
    "fabricated-numbers screen (organic monetary amounts follow "
    "P(d)=log10(1+1/d); invented ones cluster on 1–5 or go uniform): "
    "observed leading-digit frequencies in exact floored ppm against "
    "the pinned Benford constants (log10 values quantised once to "
    "ppm — the only irrationals, frozen as literals on BOTH engines "
    "so no transcendental evaluation happens anywhere), with "
    "per-digit absolute deviation. One digit-extraction groupBy (9 "
    "groups), a 1-row total, a 9-row broadcast constant table — "
    "scale-free by construction. (Synthetic uniform prices WILL "
    "deviate — the audit reporting that honestly is the point.)",
    tags=("relational", "agg", "quality"),
)
def benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1.0).select(
        F.substring(
            F.floor(F.col("o_totalprice")).cast("bigint").cast("string"), 1, 1
        ).cast("bigint").alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("t"))
    benford = local_frame(
        orders.sparkSession,
        [(1, 301030), (2, 176091), (3, 124939), (4, 96910), (5, 79181),
         (6, 66947), (7, 57992), (8, 51153), (9, 45757)],
        "digit bigint, benford_ppm bigint",
    )
    obs_ppm = F.floor(F.col("n") * 1000000 / F.col("t")).cast("bigint")
    return (
        benford.join(obs, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.coalesce(obs_ppm, F.lit(0)).cast("bigint").alias("obs_ppm"),
            F.col("benford_ppm").cast("bigint").alias("benford_ppm"),
            F.abs(
                F.coalesce(obs_ppm, F.lit(0)) - F.col("benford_ppm")
            ).cast("bigint").alias("dev_ppm"),
        )
    )


@query(
    "q243_basket_size_value_curve",
    oracle="""
    WITH b AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                   * 1000000.0 + 0.5) AS HUGEINT))
                    AS HUGEINT) AS rev
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_items,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(rev) // count(*) AS BIGINT) AS avg_order_micro,
           CAST(sum(rev) // sum(n_items) AS BIGINT) AS avg_item_micro
    FROM b GROUP BY n_items
    """,
    doc="BASKET-SIZE VALUE CURVE — how order value and per-item value "
    "move with basket size (the merchandising curve behind bundle "
    "and free-shipping thresholds; also the quantitative answer to "
    "'do bigger baskets buy cheaper items?'): orders collapse to "
    "(n_items, revenue) at the order grain, then one n_items-keyed "
    "aggregation gives exact floored-micro averages per basket "
    "size. Two partial-aggregated shuffles; output bounded by max "
    "basket size (≤7 in TPC-H shape) at any volume.",
    tags=("relational", "agg"),
)
def basket_size_value_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    b = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
                * 1000000.0 + 0.5
            ).cast(dec)
        ).alias("rev"),
    )
    return b.groupBy("n_items").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.floor(F.sum("rev") / F.count(F.lit(1))).cast("bigint")
        .alias("avg_order_micro"),
        F.floor(F.sum("rev") / F.sum("n_items")).cast("bigint")
        .alias("avg_item_micro"),
    )


@query(
    "q244_discount_band_effectiveness",
    oracle="""
    SELECT CAST(floor(l_discount * 100.0 + 0.5) AS BIGINT) AS discount_pct,
           CAST(count(*) AS BIGINT) AS n_lines,
           -- trunc(): DuckDB double→int cast rounds, Spark truncates
           CAST(sum(CAST(trunc(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty,
           CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                               * 1000000.0 + 0.5) AS HUGEINT))
                // count(*) AS BIGINT) AS avg_net_micro,
           CAST(sum(CAST(floor(l_extendedprice * l_discount
                               * 1000000.0 + 0.5) AS HUGEINT))
                AS BIGINT) AS discount_cost_micro
    FROM lineitem
    GROUP BY 1
    """,
    doc="DISCOUNT-BAND EFFECTIVENESS — per discount percentage: line "
    "volume, quantity moved, average net line value, and the exact "
    "cost of the discount (the margin-giveaway number TPC-H Q19's "
    "predicate hints at but never reports): one map-side band "
    "expression + one partial-aggregated groupBy, output bounded by "
    "the 11 discount levels. Every money figure is floored-micro "
    "exact over 128-bit sums — a finance-auditable report, not a "
    "float approximation.",
    tags=("relational", "agg"),
)
def discount_band_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,0)"
    return li.groupBy(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint")
        .alias("discount_pct")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum(F.col("l_quantity").cast("bigint")).cast("bigint")
        .alias("total_qty"),
        F.floor(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 1000000.0 + 0.5
                ).cast(dec)
            )
            / F.count(F.lit(1))
        ).cast("bigint").alias("avg_net_micro"),
        F.sum(
            F.floor(
                F.col("l_extendedprice") * F.col("l_discount")
                * 1000000.0 + 0.5
            ).cast(dec)
        ).cast("bigint").alias("discount_cost_micro"),
    )


@query(
    "q269_recursive_purchase_chains",
    oracle="""
    WITH RECURSIVE ord AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS nd,
               lead(o_orderkey) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS nk,
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS pd
        FROM orders
    ),
    e AS (
        SELECT o_orderkey AS k, nk
        FROM ord
        WHERE nd IS NOT NULL AND date_diff('day', o_orderdate, nd) <= 30
    ),
    starts AS (
        SELECT o_orderkey AS k FROM ord
        WHERE pd IS NULL OR date_diff('day', pd, o_orderdate) > 30
    ),
    walk(start_k, k, len) AS (
        SELECT k, k, 1 FROM starts
        UNION ALL
        SELECT w.start_k, e.nk, w.len + 1
        FROM walk w JOIN e ON e.k = w.k
    ),
    chains AS (
        SELECT start_k, max(len) AS chain_len FROM walk GROUP BY start_k
    )
    SELECT CAST(chain_len AS BIGINT) AS chain_len,
           CAST(count(*) AS BIGINT) AS n_chains
    FROM chains GROUP BY chain_len
    """,
    doc="PURCHASE-STREAK CHAINS via Spark-NATIVE RECURSIVE CTE (Spark "
    "4's WITH RECURSIVE — the declarative sibling of the engine's "
    "driver-looped iterations: q255 BFS, q57 star rounds, q124 "
    "pagerank all drive the loop from Python; here Catalyst itself "
    "executes the fixpoint): a streak is a maximal run of a "
    "customer's orders where each next order lands within 30 days; "
    "the successor relation comes from a per-customer lead() window "
    "(PARTITIONED), chain starts are orders with no within-30d "
    "predecessor, and the recursion walks the successor edge. The "
    "recursion is LINEAR BY CONSTRUCTION — every order has at most "
    "one successor edge, so UNION ALL (Spark's only supported "
    "recursive combinator today) cannot blow up by path "
    "multiplicity, and depth is bounded by the longest streak "
    "(recursion limit 100 ≫ any real streak; the driver-looped "
    "forms remain the right tool for cyclic graphs, where dedup "
    "between rounds — UNION/localCheckpoint — is what bounds "
    "state). Scale knob, measured: Spark guards recursions with "
    "spark.sql.cteRecursionRowLimit (default 1e6 TOTAL emitted "
    "rows), which a linear recursion legitimately exceeds at "
    "Σ chain-lengths ≈ |orders| — the sf1 soak tripped it — so the "
    "builder sizes the rail to O(orders) instead of disabling it. "
    "Output: streak-length histogram.",
    tags=("relational", "window", "graph"),
)
def recursive_purchase_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Size the recursion rail to the DATA, not max-int: the limit is
    # enforced at EXECUTION time (verified: tightening it after building
    # the plan fails the collect), so a builder-scoped set/restore would
    # break the query at scale — but a permanent max-int would disable
    # the runaway-recursion guard for every later query in the shared
    # session. The walk emits at most |orders| + |chains| rows; 8×
    # orders (floored at the 1e6 default) keeps the rail meaningful
    # while never rejecting a legitimate run.
    orders = load_table(spark, sf_dir, "orders")
    rail = max(1_000_000, orders.count() * 8)
    spark.conf.set("spark.sql.cteRecursionRowLimit", str(rail))
    orders.createOrReplaceTempView("q269_orders")
    return spark.sql("""
    WITH RECURSIVE ord AS (
        SELECT o_custkey, o_orderkey, o_orderdate,
               lead(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS nd,
               lead(o_orderkey) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS nk,
               lag(o_orderdate) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
               ) AS pd
        FROM q269_orders
    ),
    e AS (
        SELECT o_orderkey AS k, nk
        FROM ord
        WHERE nd IS NOT NULL AND datediff(nd, o_orderdate) <= 30
    ),
    starts AS (
        SELECT o_orderkey AS k FROM ord
        WHERE pd IS NULL OR datediff(o_orderdate, pd) > 30
    ),
    walk(start_k, k, len) AS (
        SELECT k, k, 1 FROM starts
        UNION ALL
        SELECT w.start_k, e.nk, w.len + 1
        FROM walk w JOIN e ON e.k = w.k
    ),
    chains AS (
        SELECT start_k, max(len) AS chain_len FROM walk GROUP BY start_k
    )
    SELECT CAST(chain_len AS BIGINT) AS chain_len,
           CAST(count(*) AS BIGINT) AS n_chains
    FROM chains GROUP BY chain_len
    """)
