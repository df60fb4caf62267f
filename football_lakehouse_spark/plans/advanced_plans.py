"""Advanced relational operators beyond the reference surface: as-of
join (temporal), approximate aggregates, bucketed co-located joins.
These are the idiomatic-Spark additions SURVEY.md §2.4/§2.5 flags as
cheap built-ins the engine should expose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.functions.guards import local_frame
from football_lakehouse_spark.operators.asof import asof_join
from football_lakehouse_spark.plans.registry import query


@query(
    "q49_asof_join",
    oracle="""
    SELECT a.event_id, a.user_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           a.event_type,
           b.event_id AS asof_event_id,
           b.value AS asof_value
    FROM events a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND a.ts > b.ts
    """,
    doc="As-of (temporal) join: each event annotated with the latest "
    "STRICTLY-prior purchase of the same user. Implemented as the "
    "union+window forward-fill (one shuffle + one sort — no range "
    "explosion, no Python); oracle is DuckDB's native ASOF JOIN, so two "
    "completely different algorithms must agree.",
    bench=True,
    tags=("advanced", "join"),
)
def asof_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = asof_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["event_id", "value"],
        strictly_before=True,
        right_tiebreak=["event_id"],  # deterministic under ts ties
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        F.col("asof_event_id"),
        F.col("asof_value"),
    )


@query(
    "q133_asof_tolerance",
    oracle="""
    SELECT a.event_id, a.user_id,
           CASE WHEN epoch(a.ts) - epoch(b.ts) <= 3600
                THEN b.event_id END AS asof_event_id,
           CASE WHEN epoch(a.ts) - epoch(b.ts) <= 3600
                THEN b.value END AS asof_value
    FROM events a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND a.ts > b.ts
    """,
    doc="As-of join with a TOLERANCE bound (pandas merge_asof tolerance "
    "parity; q49's operator with staleness gating): each event gets the "
    "latest strictly-prior purchase of the same user ONLY if it is at "
    "most 1 hour old — the 'join the latest quote unless it has gone "
    "stale' semantics of market-data and feature-freshness pipelines. "
    "The matched timestamp forward-fills alongside the payload and the "
    "gate rides the same single-shuffle window pass (zero extra "
    "exchanges vs q49). Oracle: DuckDB native ASOF JOIN + the identical "
    "staleness CASE — two different algorithms, one result.",
    tags=("advanced", "join"),
)
def asof_tolerance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    joined = asof_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["event_id", "value"],
        strictly_before=True,
        tolerance=3600,
        right_tiebreak=["event_id"],  # deterministic under ts ties
    )
    return joined.select(
        "event_id", "user_id", F.col("asof_event_id"), F.col("asof_value")
    )


@query(
    "q50_approx_stats",
    # Sketch VALUES are engine-specific (Spark HLL++ / QuantileSummaries
    # vs DuckDB's HLL / t-digest) and percentile_approx is not even
    # partition-stable (verified: three different medians at 32/7/200
    # shuffle partitions), so the gate checks the sketches by their
    # CONTRACT instead: HLL within its rsd bound of the exact distinct
    # count, and the approx median's RANK within the eps*N guarantee of
    # the true median rank. Both booleans are deterministic for any
    # valid sketch output, making the oracle exact at EVERY scale — a
    # strictly stronger check than pinning one run's values.
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           true AS hll_in_bounds,
           true AS median_in_bounds
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Approximate aggregates (SURVEY §2.4 note: built-ins worth exposing): "
    "approx_count_distinct (HLL) + percentile_approx (KLL-style) per "
    "return flag over lineitem, verified against their accuracy "
    "contracts (HLL estimate within 3×rsd of the exact distinct count; "
    "approx-median rank within eps*N + duplicate slack of N/2).",
    tags=("advanced",),
)
def approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rsd = 0.05  # Spark default for approx_count_distinct
    accuracy = 10000  # Spark default for percentile_approx → eps = 1/accuracy
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd).alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5, accuracy).alias("approx_median"),
    )
    stats = (
        li.join(F.broadcast(approx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.first("approx_parts").alias("approx_parts"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("approx_median"), 1)
                .otherwise(0)
            ).alias("rank_le"),
        )
    )
    eps_slack = F.ceil(F.col("n") / accuracy) + 2  # eps*N + duplicate slack
    target = F.col("n") / 2
    return stats.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.col("exact_parts").cast("bigint").alias("exact_parts"),
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 3 * rsd * F.col("exact_parts")
        ).alias("hll_in_bounds"),
        (
            (F.col("rank_le") >= target - eps_slack)
            & (F.col("rank_le") <= target + eps_slack)
        ).alias("median_in_bounds"),
    )


@query(
    "q64_range_join",
    oracle="""
    SELECT p.event_id, p.user_id,
           count(e.event_id) AS n_prior,
           CAST(sum(CAST(floor(e.value * 1000000.0 + 0.5) AS HUGEINT)) // 10000
                AS DOUBLE) / 100 AS sum_prior_value
    FROM events p LEFT JOIN events e
      ON e.user_id = p.user_id
     AND e.ts >= p.ts - INTERVAL 1 HOUR
     AND e.ts < p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
    doc="Interval/range join: each purchase annotated with the count and "
    "value-sum of the same user's events in the preceding hour (the "
    "attribution-window shape). Implemented as the BANDED equi-join "
    "(operators/range_join.py) — time buckets of exactly the window span "
    "become a second join key, so the plan is a plain equi-shuffle, never "
    "a per-key cross product; the oracle is DuckDB's native range join, "
    "so two different algorithms must agree.",
    tags=("advanced", "join"),
)
def range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import money_sum
    from football_lakehouse_spark.operators.range_join import banded_prior_window_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase")
    cand = banded_prior_window_join(
        purchases,
        ev,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        window_micros=3_600_000_000,
        payload=["value"],
    )
    agg = cand.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("__n"),
        money_sum(F.col("__p_value")).alias("sum_prior_value"),
    )
    return (
        purchases.select("event_id", "user_id")
        .join(agg, "event_id", "left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_prior"),
            F.col("sum_prior_value"),
        )
    )


@query(
    "q79_salted_hot_key_agg",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS HUGEINT))
                // 10000 AS DOUBLE) / 100 AS sum_l_extendedprice
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Hot-key aggregation via explicit salting (operators/bucketing."
    "salted_aggregate): l_returnflag has only 3 values, so a naive "
    "groupBy lands the whole table on 3 reducers — the canonical skew "
    "case AQE does NOT rebalance (it splits skewed JOIN partitions, "
    "not agg groups). The salted form spreads each hot key over 16 "
    "(key, salt) partials, then merges 3x16 tiny partials; the sums "
    "are micro-unit-quantised integers so the two-phase result is "
    "bit-identical to the single-phase oracle. At 100 TB this is the "
    "difference between 3 straggler reducers and even utilisation.",
    tags=("advanced", "skew"),
)
def salted_hot_key_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.bucketing import salted_aggregate

    li = load_table(spark, sf_dir, "lineitem")
    return salted_aggregate(
        li.select("l_returnflag", "l_extendedprice"),
        key="l_returnflag",
        n_salt=16,
        sums=["l_extendedprice"],
    )


@query(
    "q80_bucketed_join",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l_extendedprice * 1000000.0 + 0.5) AS HUGEINT))
                // 10000 AS DOUBLE) / 100 AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
    doc="Co-located fact-fact join via bucketing (operators/bucketing."
    "write_bucketed): both sides are persisted bucketed+sorted on the "
    "order key, so the join reads co-located buckets with ZERO "
    "exchange on either side — the layout investment that amortises "
    "repeated 100 TB fact-fact joins (vs paying a full shuffle per "
    "query). The only exchange left in the plan is the tiny post-join "
    "status rollup. Uses persistent scratch + lazy readers (no "
    "driver-side materialisation).",
    tags=("advanced", "layout"),
)
def bucketed_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from football_lakehouse_spark.functions.scalars import money_sum
    from football_lakehouse_spark.operators.bucketing import (
        read_bucketed_join,
        write_bucketed,
    )
    from football_lakehouse_spark.scratch import scratch_dir

    root = scratch_dir("q80_bucketed_join")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o_orderkey"), "l_extendedprice")
    )
    for name in ("q80_orders", "q80_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    write_bucketed(orders, "q80_orders", os.path.join(root, "orders"), "o_orderkey")
    write_bucketed(items, "q80_lineitem", os.path.join(root, "lineitem"), "o_orderkey")
    joined = read_bucketed_join(spark, "q80_orders", "q80_lineitem", "o_orderkey")
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        money_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


@query(
    "q130_salted_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice,
           o_orderstatus, o_totalprice
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    """,
    doc="Hot-key JOIN via explicit salting (operators/bucketing."
    "salted_join), completing the skew toolbox beside q79 (salted agg) "
    "and q80 (bucketed layout): the dim side replicates n_salt=8 times, "
    "fact rows spread by a content-derived salt, so the worst join key "
    "occupies 8 reducers instead of 1 — the fallback when AQE skew "
    "split can't engage (same-key downstream partials, AQE off, or one "
    "key larger than a feasible task). Result set is identical to the "
    "plain inner join (the oracle) — salting is pure physical "
    "rebalancing. Plan contract: merge join on (key, salt), no "
    "broadcast, salt in the exchange partitioning.",
    tags=("advanced", "skew"),
)
def salted_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.bucketing import salted_join

    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    dim = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus", "o_totalprice"
    )
    return salted_join(fact, dim, key="l_orderkey", n_salt=8)


@query(
    "q86_table_profile",
    oracle="""
    WITH a AS (
        SELECT count(*) AS n_rows,
               sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS ok_nulls,
               count(DISTINCT l_orderkey) AS ok_dist,
               CAST(min(l_orderkey) AS VARCHAR) AS ok_min,
               CAST(max(l_orderkey) AS VARCHAR) AS ok_max,
               sum(CASE WHEN l_suppkey IS NULL THEN 1 ELSE 0 END) AS sk_nulls,
               count(DISTINCT l_suppkey) AS sk_dist,
               CAST(min(l_suppkey) AS VARCHAR) AS sk_min,
               CAST(max(l_suppkey) AS VARCHAR) AS sk_max,
               sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS rf_nulls,
               count(DISTINCT l_returnflag) AS rf_dist,
               min(l_returnflag) AS rf_min,
               max(l_returnflag) AS rf_max,
               sum(CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS ls_nulls,
               count(DISTINCT l_linestatus) AS ls_dist,
               min(l_linestatus) AS ls_min,
               max(l_linestatus) AS ls_max,
               sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS ep_nulls,
               count(DISTINCT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS ep_dist,
               CAST(min(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS ep_min,
               CAST(max(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS VARCHAR) AS ep_max,
               sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS sd_nulls,
               count(DISTINCT l_shipdate) AS sd_dist,
               strftime(min(l_shipdate), '%Y-%m-%d') AS sd_min,
               strftime(max(l_shipdate), '%Y-%m-%d') AS sd_max
        FROM lineitem
    )
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
           CAST(n_nulls AS BIGINT) AS n_nulls,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
    FROM (
        SELECT 'l_orderkey' AS col_name, n_rows, ok_nulls AS n_nulls, ok_dist AS n_distinct, ok_min AS min_val, ok_max AS max_val FROM a
        UNION ALL SELECT 'l_suppkey', n_rows, sk_nulls, sk_dist, sk_min, sk_max FROM a
        UNION ALL SELECT 'l_returnflag', n_rows, rf_nulls, rf_dist, rf_min, rf_max FROM a
        UNION ALL SELECT 'l_linestatus', n_rows, ls_nulls, ls_dist, ls_min, ls_max FROM a
        UNION ALL SELECT 'l_extendedprice_cents', n_rows, ep_nulls, ep_dist, ep_min, ep_max FROM a
        UNION ALL SELECT 'l_shipdate', n_rows, sd_nulls, sd_dist, sd_min, sd_max FROM a
    )
    """,
    doc="Table profiling (the DQ reconnaissance pass a lakehouse runs "
    "before trusting a feed): per-column null count, exact distinct "
    "count, min/max — one corpus scan producing a 6-row report. "
    "Doubles are profiled in cent-quantised integer space and "
    "timestamps as formatted dates so the report is cross-engine "
    "stable. NOTE for 100 TB: the multiple exact COUNT(DISTINCT) "
    "force Catalyst's Expand (one input replica per distinct agg) — "
    "at scale swap to approx_count_distinct (HLL, one pass, no "
    "expand); exact kept here because the oracle gate demands exact "
    "values.",
    tags=("advanced", "quality"),
)
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
    nulls = lambda c: F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("bigint")  # noqa: E731
    a = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        nulls("l_orderkey").alias("ok_nulls"),
        F.countDistinct("l_orderkey").cast("bigint").alias("ok_dist"),
        F.min("l_orderkey").cast("string").alias("ok_min"),
        F.max("l_orderkey").cast("string").alias("ok_max"),
        nulls("l_suppkey").alias("sk_nulls"),
        F.countDistinct("l_suppkey").cast("bigint").alias("sk_dist"),
        F.min("l_suppkey").cast("string").alias("sk_min"),
        F.max("l_suppkey").cast("string").alias("sk_max"),
        nulls("l_returnflag").alias("rf_nulls"),
        F.countDistinct("l_returnflag").cast("bigint").alias("rf_dist"),
        F.min("l_returnflag").alias("rf_min"),
        F.max("l_returnflag").alias("rf_max"),
        nulls("l_linestatus").alias("ls_nulls"),
        F.countDistinct("l_linestatus").cast("bigint").alias("ls_dist"),
        F.min("l_linestatus").alias("ls_min"),
        F.max("l_linestatus").alias("ls_max"),
        nulls("l_extendedprice").alias("ep_nulls"),
        F.countDistinct(cents).cast("bigint").alias("ep_dist"),
        F.min(cents).cast("string").alias("ep_min"),
        F.max(cents).cast("string").alias("ep_max"),
        nulls("l_shipdate").alias("sd_nulls"),
        F.countDistinct("l_shipdate").cast("bigint").alias("sd_dist"),
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("sd_min"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("sd_max"),
    )
    rows = [
        ("l_orderkey", "ok"), ("l_suppkey", "sk"), ("l_returnflag", "rf"),
        ("l_linestatus", "ls"), ("l_extendedprice_cents", "ep"), ("l_shipdate", "sd"),
    ]
    parts = [
        a.select(
            F.lit(name).alias("col_name"),
            F.col("n_rows"),
            F.col(f"{p}_nulls").alias("n_nulls"),
            F.col(f"{p}_dist").alias("n_distinct"),
            F.col(f"{p}_min").alias("min_val"),
            F.col(f"{p}_max").alias("max_val"),
        )
        for name, p in rows
    ]
    out = parts[0]
    for x in parts[1:]:
        out = out.unionByName(x)
    return out


@query(
    "q89_full_outer_reconcile",
    oracle="""
    WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey % 7 <> 0),
    o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
          WHERE o_totalprice > 400000 GROUP BY o_custkey)
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_name,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
           CASE WHEN c.c_custkey IS NULL THEN 'order_only'
                WHEN o.o_custkey IS NULL THEN 'customer_only'
                ELSE 'matched' END AS status
    FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
    """,
    doc="Full outer reconciliation (completes the join-type matrix: "
    "inner/left/semi/anti/cross-bounded exist elsewhere): a stale dim "
    "snapshot (custkey % 7 dropped) against a filtered fact rollup "
    "(orders > 400k), keeping unmatched rows from BOTH sides with a "
    "status verdict — the referential-integrity audit between feeds "
    "that disagree. One shuffle for the rollup, one "
    "sort-merge full join; neither side can broadcast (full outer "
    "needs both sides complete), which is exactly why Catalyst picks "
    "SMJ here at any scale.",
    tags=("advanced", "joins"),
)
def full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 7 != 0)
        .select("c_custkey", "c_name")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    j = cust.join(o, cust.c_custkey == o.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_name",
        F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
        F.when(F.col("c_custkey").isNull(), "order_only")
        .when(F.col("o_custkey").isNull(), "customer_only")
        .otherwise("matched")
        .alias("status"),
    )


@query(
    "q90_props_map",
    oracle="""
    WITH kv AS (
        SELECT event_id, event_type,
               unnest(json_keys(props)) AS map_key, props
        FROM events
    )
    SELECT event_type, map_key,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.' || map_key) AS BIGINT)) AS BIGINT)
               AS sum_val,
           CAST(min(CAST(json_extract_string(props, '$.' || map_key) AS BIGINT)) AS BIGINT)
               AS min_val,
           CAST(max(CAST(json_extract_string(props, '$.' || map_key) AS BIGINT)) AS BIGINT)
               AS max_val
    FROM kv
    GROUP BY event_type, map_key
    """,
    doc="MapType coverage (completes the semi-structured family beyond "
    "typed-struct from_json): the props JSON parses as "
    "map<string,bigint>, explodes to (key, value) pairs, and "
    "aggregates per (event_type, key) — the schema-on-read path for "
    "property bags whose keys are NOT known at pipeline-author time "
    "(typed structs require a declared schema; maps do not). "
    "One explode + one low-cardinality shuffle; parsing is JVM-side "
    "from_json, zero Python.",
    tags=("advanced", "json"),
)
def props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        "event_type",
        F.explode(F.from_json("props", "map<string,bigint>")).alias("map_key", "val"),
    )
    return kv.groupBy("event_type", "map_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("val").cast("bigint").alias("sum_val"),
        F.min("val").cast("bigint").alias("min_val"),
        F.max("val").cast("bigint").alias("max_val"),
    )


@query(
    "q153_pit_join",
    oracle="""
    WITH dim AS (
        -- one version per (user, eff_from): second-truncation can tie
        -- two purchases, and DuckDB ASOF picks an UNSPECIFIED row
        -- among equal eff_from — dedupe max(value) on BOTH engines so
        -- ties cannot exist to disagree on (r12)
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS eff_from,
               max(value) AS value
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    v AS (
        SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es
        FROM events WHERE event_type = 'view'
    )
    SELECT v.event_id, v.user_id, v.es,
           b.value AS value_asof, b.eff_from
    FROM v
    ASOF LEFT JOIN dim b
      ON v.user_id = b.user_id AND v.es >= b.eff_from
    """,
    doc="POINT-IN-TIME join to dimension history (the read side of "
    "q142's SCD2: 'which version of the user's value was in effect "
    "when this view happened' — the temporal-correctness join every "
    "feature-store and reporting stack needs to avoid leakage from "
    "future dimension versions). Composition of existing primitives: "
    "the SCD2 change stream is exactly an as-of join's right side "
    "keyed on eff_from, so the single-shuffle union+window asof "
    "operator (q49) answers it with no interval explosion; the oracle "
    "is DuckDB's native ASOF with the inclusive bound. Facts before "
    "any version keep NULLs (honest nulls, not a default row).",
    tags=("advanced", "join", "cdc"),
)
def pit_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    # one version per (user, eff_from) — mirrors the oracle's dedupe:
    # DuckDB ASOF tie-breaks among equal eff_from rows unspecified (r12)
    dim = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", epoch_seconds(F.col("ts")).alias("eff_from"))
        .agg(F.max("value").alias("value"))
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", epoch_seconds(F.col("ts")).alias("es")
    )
    joined = asof_join(
        views,
        dim,
        key="user_id",
        left_ts="es",
        right_ts="eff_from",
        payload=["value", "eff_from"],
        strictly_before=False,
        right_tiebreak=["value"],  # deterministic under eff_from ties
    )
    return joined.select(
        "event_id", "user_id", "es",
        F.col("asof_value").alias("value_asof"),
        F.col("asof_eff_from").alias("eff_from"),
    )


@query(
    "q167_distinct_sketch",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 1024 AS bucket,
               user_id
        FROM events
    )
    SELECT event_type,
           CAST(1024 AS BIGINT) AS n_buckets,
           CAST(count(DISTINCT bucket) AS BIGINT) AS n_occupied,
           CAST(floor(count(DISTINCT bucket) * 1000000.0 / 1024) AS BIGINT)
               AS occupancy_ppm,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
    FROM b GROUP BY event_type
    """,
    doc="Mergeable DISTINCT-COUNT SKETCH (linear counting / Whang et "
    "al.): per group, the occupied-bucket count of a 1024-bucket hash "
    "bitmap over user_id — sha256-bucketed so the sketch is "
    "bit-identical in any engine. The at-scale point is the aggregation "
    "STATE BOUND: exact count-distinct state grows O(distinct values) "
    "per group, the sketch's is ≤ m buckets per group no matter how "
    "many distinct users exist — per-partition partial bitmaps merge "
    "by set union (associative+commutative, verified by the merge "
    "invariant test), the same contract HLL sketches ship under. The "
    "cardinality estimate m·ln(m/(m−z)) is a driver-side scalar "
    "post-step (ln is not bit-portable across libm builds, so it "
    "stays OUT of the cross-engine-checked columns; z and the exact "
    "count are emitted for direct comparison).",
    tags=("relational", "agg", "approx"),
)
def distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.text import portable_hash

    ev = load_table(spark, sf_dir, "events")
    m = 1024
    bucket = portable_hash(F.col("user_id").cast("string")) % m
    return (
        ev.select("event_type", bucket.alias("bucket"), "user_id")
        .groupBy("event_type")
        .agg(
            F.lit(m).cast("bigint").alias("n_buckets"),
            F.countDistinct("bucket").alias("n_occupied"),
            F.floor(F.countDistinct("bucket") * 1000000.0 / m)
            .cast("bigint").alias("occupancy_ppm"),
            F.countDistinct("user_id").alias("n_exact"),
        )
    )


@query(
    "q169_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT event_type, event_id,
               epoch(ts) AS t0, epoch(ts) + 300 AS t1
        FROM events
    ),
    deltas AS (
        SELECT event_type, t0 AS t, 1 AS delta, event_id FROM iv
        UNION ALL
        SELECT event_type, t1 AS t, -1 AS delta, event_id FROM iv
    ),
    swept AS (
        SELECT event_type,
               sum(delta) OVER (
                   PARTITION BY event_type
                   ORDER BY t ASC, delta ASC, event_id ASC
                   ROWS UNBOUNDED PRECEDING
               ) AS open_now
        FROM deltas
    )
    SELECT event_type, CAST(max(open_now) AS BIGINT) AS max_concurrent
    FROM swept GROUP BY event_type
    """,
    doc="SWEEP-LINE maximum interval concurrency: each event opens a "
    "300 s interval; the peak number of simultaneously-open intervals "
    "per event type is the classic capacity/peak-load question "
    "(concurrent sessions, GPU-slot demand, connection peaks). The "
    "naive forms die at scale — a self-join on overlap is O(n²), a "
    "per-second dense explode is O(n·duration); the sweep is "
    "O(n log n): explode each interval to a +1/−1 delta (2n rows), a "
    "running sum, and a max. Closed-open semantics: an interval ending "
    "exactly when another starts does NOT overlap it (delta −1 sorts "
    "before +1 at equal t; event_id completes the total order so the "
    "running sum is identical in any engine). SCALE FORM (measured: "
    "the naive single-window-per-group sweep went 31× slower at 10× "
    "data because a low-cardinality group key serialises the whole "
    "timeline into one task's sort): TWO-PHASE DISTRIBUTED PREFIX SUM "
    "— deltas bucket by fixed time width, each (group, bucket) runs "
    "its local running sum independently in parallel, bucket TOTALS "
    "(a groups×buckets-sized table) prefix-sum in a tiny window and "
    "broadcast back as offsets; open_now = local running + offset of "
    "all preceding buckets. Exact by the prefix-sum decomposition; "
    "the per-task sort is now bounded by bucket width, not timeline "
    "length. Measured sf1 (2M deltas): 13.6 s → 1.1 s, and the "
    "sf0.1→sf1 ratio drops from 31× to 1.2×.",
    tags=("relational", "window"),
)
def max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    iv = ev.select(
        "event_type", "event_id",
        epoch_seconds(F.col("ts")).alias("t0"),
        (epoch_seconds(F.col("ts")) + 300).alias("t1"),
    )
    deltas = iv.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).alias("delta"), "event_id"
    ).unionByName(
        iv.select(
            "event_type", F.col("t1").alias("t"), F.lit(-1).alias("delta"),
            "event_id",
        )
    ).withColumn("bucket", F.floor(F.col("t") / 86400))
    w_local = (
        Window.partitionBy("event_type", "bucket")
        .orderBy(F.col("t").asc(), F.col("delta").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = deltas.withColumn("local_run", F.sum("delta").over(w_local))
    w_off = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bucket").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        deltas.groupBy("event_type", "bucket")
        .agg(F.sum("delta").alias("btot"))
        .withColumn("offset", F.coalesce(F.sum("btot").over(w_off), F.lit(0)))
        .select("event_type", "bucket", "offset")
    )
    return (
        local.join(F.broadcast(offsets), ["event_type", "bucket"])
        .select(
            "event_type",
            (F.col("local_run") + F.col("offset")).alias("open_now"),
        )
        .groupBy("event_type")
        .agg(F.max("open_now").cast("bigint").alias("max_concurrent"))
    )


@query(
    "q178_countmin_heavy_hitters",
    oracle="""
    WITH seeds AS (SELECT unnest([0, 1, 2]) AS r),
    hashed AS (
        SELECT s.r, e.user_id,
               CAST(('0x' || substr(sha256(CAST(s.r AS VARCHAR) || '§'
                     || CAST(e.user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 64
                   AS bucket
        FROM events e CROSS JOIN seeds s
    ),
    sketch AS (
        SELECT r, bucket, count(*) AS cell FROM hashed GROUP BY r, bucket
    ),
    truth AS (
        SELECT user_id, count(*) AS true_cnt FROM events GROUP BY user_id
        ORDER BY true_cnt DESC, user_id ASC LIMIT 10
    )
    SELECT t.user_id, CAST(t.true_cnt AS BIGINT) AS true_cnt,
           CAST(min(s.cell) AS BIGINT) AS est_cnt
    FROM truth t
    JOIN hashed h ON h.user_id = t.user_id
    JOIN sketch s ON s.r = h.r AND s.bucket = h.bucket
    GROUP BY t.user_id, t.true_cnt
    """,
    doc="COUNT-MIN SKETCH heavy-hitter estimation (Cormode & "
    "Muthukrishnan), the frequency sibling of q167's cardinality "
    "sketch: a 3×64 counter matrix over sha-bucketed user ids — "
    "BOUNDED aggregation state (d·w cells, merge = cell-wise ADD, the "
    "associative contract streaming/windowed frequency tracking "
    "needs) — then est(x) = min over rows of x's cell, always ≥ the "
    "true count (one-sided error, pure integers, so the cross-engine "
    "match is exact — no float estimate anywhere). The query reports "
    "the true top-10 users' exact counts beside their sketch "
    "estimates; the overestimate gap IS the collision noise at 64 "
    "buckets, visible and checkable. Plan: one 3×-explode pass builds "
    "the sketch (192-row table, broadcast back), truth is a "
    "WindowGroupLimit-free orderBy+limit top-k.",
    tags=("relational", "agg", "approx"),
)
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.text import portable_hash

    ev = load_table(spark, sf_dir, "events")
    seeds = F.broadcast(
        local_frame(ev.sparkSession, [(0,), (1,), (2,)], "r int")
    )
    hashed = ev.select("user_id").crossJoin(seeds).select(
        "r",
        "user_id",
        (
            portable_hash(
                F.concat(
                    F.col("r").cast("string"), F.lit("§"),
                    F.col("user_id").cast("string"),
                )
            ) % 64
        ).alias("bucket"),
    )
    sketch = hashed.groupBy("r", "bucket").agg(F.count(F.lit(1)).alias("cell"))
    truth = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.col("true_cnt").desc(), F.col("user_id").asc())
        .limit(10)
    )
    probe = hashed.select("r", "user_id", "bucket").distinct()
    return (
        truth.join(probe, "user_id")
        .join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("user_id", "true_cnt")
        .agg(F.min("cell").cast("bigint").alias("est_cnt"))
        .select("user_id", F.col("true_cnt").cast("bigint").alias("true_cnt"), "est_cnt")
    )


@query(
    "q182_group_trend",
    oracle="""
    WITH base AS (
        SELECT event_type,
               epoch_us(ts) // 1000000
                   - min(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY event_type) AS x,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vmicro
        FROM events
    ),
    sums AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
               CAST(sum(CAST(vmicro AS HUGEINT)) AS HUGEINT) AS sy,
               CAST(sum(CAST(x AS HUGEINT) * vmicro) AS HUGEINT) AS sxy,
               CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        FROM base GROUP BY event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           CAST(floor(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
               * 86400 * 1000000
           ) AS BIGINT) AS slope_micro_per_day,
           CAST(floor(
               (CAST(sy AS DOUBLE)
                - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                   - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                  * CAST(sx AS DOUBLE))
               / CAST(n AS DOUBLE)
           ) AS BIGINT) AS intercept_micro
    FROM sums
    """,
    doc="GROUPWISE OLS TREND (per-entity linear regression without "
    "MLlib): value ~ a + b·t fitted per event type from the "
    "closed-form normal equations — n, Σx, Σy, Σxy, Σx² accumulated as "
    "EXACT 128-bit integers (x = seconds since the group's first "
    "event, y = micro-quantised value; float sums would be "
    "order-dependent and partition-unstable), then slope/intercept "
    "evaluated once per group as the identical IEEE expression on both "
    "engines, floor-quantised out. This is THE at-scale regression "
    "shape: one map-side-partial aggregation pass, group-count output "
    "rows, no iteration, no driver round-trips — trend monitoring "
    "over a million entities costs the same shuffle as a count. "
    "Plan: window for the per-group epoch offset shares the exchange "
    "with the aggregation.",
    tags=("advanced", "agg", "ml"),
)
def group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    # per-group min via groupBy + broadcast join, NOT a window
    # partitioned by the 5-value enum (single-task sort of corpus/5
    # rows — r12; the aggregation itself needs no ordering at all)
    mins = ev.groupBy("event_type").agg(
        F.min(epoch_seconds(F.col("ts"))).alias("__x0")
    )
    base = ev.join(F.broadcast(mins), "event_type").select(
        "event_type",
        (epoch_seconds(F.col("ts")) - F.col("__x0")).alias("x"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("vmicro"),
    )
    dec = "decimal(38,0)"
    sums = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("vmicro").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("vmicro")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d = F.col("sxx").cast("double")
    slope = (n_d * sxy_d - sx_d * sy_d) / (n_d * sxx_d - sx_d * sx_d)
    intercept = (sy_d - slope * sx_d) / n_d
    return sums.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.floor(slope * 86400 * 1000000).cast("bigint")
        .alias("slope_micro_per_day"),
        F.floor(intercept).cast("bigint").alias("intercept_micro"),
    )


@query(
    "q183_ks_statistic",
    oracle="""
    WITH pooled AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a
        FROM events WHERE event_type IN ('click', 'view')
    ),
    tot AS (
        SELECT sum(is_a) AS n1, sum(1 - is_a) AS n2 FROM pooled
    ),
    cum AS (
        SELECT value,
               max(c1) AS c1, max(c2) AS c2
        FROM (
            SELECT value,
                   sum(is_a) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS c1,
                   sum(1 - is_a) OVER (ORDER BY value
                       ROWS UNBOUNDED PRECEDING) AS c2
            FROM pooled
        )
        GROUP BY value
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(max(abs(c.c1 * t.n2 - c.c2 * t.n1)) AS BIGINT)
               AS ks_numerator
    FROM cum c CROSS JOIN tot t
    GROUP BY t.n1, t.n2
    """,
    doc="EXACT two-sample KOLMOGOROV-SMIRNOV statistic between the "
    "click and view value distributions — the distribution-drift test "
    "q154's PSI binning approximates, computed without bins, floats, "
    "or sampling: D = max|F1(v) − F2(v)| over the pooled values "
    "equals max|c1(v)·n2 − c2(v)·n1| / (n1·n2), and the NUMERATOR is "
    "an exact integer (the caller divides by n1·n2 for D and applies "
    "the (n1+n2)/(n1·n2) asymptotic threshold — one scalar post-step, "
    "so the cross-engine check is exact). Ties are handled the "
    "standard way: the ECDF gap is evaluated AFTER all rows of each "
    "distinct value (max cumulative per value). Scale design: NO "
    "unpartitioned window anywhere — raw rows first collapse to "
    "per-distinct-value counts (a value-keyed shuffle), then the "
    "cumulative runs through operators/selection.bucketed_prefix "
    "(floor(value) range buckets → per-bucket windows + a broadcast "
    "bucket-prefix), so the exact global ECDF survives a comparison "
    "carrying billions of rows; per-GROUP drift monitoring (the "
    "common case) is additionally partition-parallel.",
    tags=("advanced", "agg", "quality"),
)
def ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    ev = load_table(spark, sf_dir, "events")
    pooled = ev.where(F.col("event_type").isin("click", "view")).select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
    )
    # collapse to distinct-value grain FIRST (distributed, value-keyed)
    # — the ECDF is a step function of distinct values, so the prefix
    # never has to run over raw rows
    vals = pooled.groupBy("value").agg(
        F.sum("is_a").alias("a"), F.sum(1 - F.col("is_a")).alias("b")
    ).withColumn("bucket", F.floor(F.col("value")).cast("bigint"))
    cum = bucketed_prefix(
        vals,
        "bucket",
        [F.col("value").asc()],
        sums={"c1": F.col("a"), "c2": F.col("b")},
    ).select("value", "c1", "c2")
    tot = pooled.agg(
        F.sum("is_a").alias("n1"), F.sum(1 - F.col("is_a")).alias("n2")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            F.max(F.abs(F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")))
            .cast("bigint").alias("ks_numerator")
        )
        .select(
            F.col("n1").cast("bigint").alias("n1"),
            F.col("n2").cast("bigint").alias("n2"),
            "ks_numerator",
        )
    )


@query(
    "q191_linear_attribution",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vmicro
        FROM events WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT p.event_id AS purchase_id, p.vmicro,
               e.event_type AS channel
        FROM p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts - INTERVAL 1 HOUR AND e.ts < p.ts
    ),
    sized AS (
        SELECT *, count(*) OVER (PARTITION BY purchase_id) AS n_touch
        FROM touch
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(vmicro // n_touch) AS BIGINT) AS credit_micro
    FROM sized GROUP BY channel
    """,
    doc="LINEAR MULTI-TOUCH ATTRIBUTION (the marketing-analytics "
    "counterpart of q94's last-touch stream join): every purchase's "
    "value splits EQUALLY across the user's touches in the preceding "
    "hour, credited to each touch's channel. Credit per touch is the "
    "floored integer division value_micro // n_touch — exact "
    "cross-engine, and deliberately conservative (the remainder "
    "cents stay unattributed rather than being assigned by an "
    "arbitrary tie-break). Plan: the purchase×touch pairing is the "
    "q64 BANDED range join (time buckets of the window span as a "
    "second equi-key — plain equi-shuffle, never per-key cross "
    "products); the per-purchase touch count is one window over the "
    "pair table; the final channel rollup is a handful of groups.",
    tags=("advanced", "join", "window"),
)
def linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.operators.range_join import (
        banded_prior_window_join,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("vmicro"),
    )
    paired = banded_prior_window_join(
        purchases,
        ev.select("user_id", "ts", "event_type"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        window_micros=3600 * 1000000,
        payload=["event_type"],
    ).select(
        F.col("event_id").alias("purchase_id"),
        "vmicro",
        F.col("__p_event_type").alias("channel"),
    )
    w = Window.partitionBy("purchase_id")
    return (
        paired.withColumn("n_touch", F.count(F.lit(1)).over(w))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_touches"),
            # exact integer div, not floor(bigint/bigint): the double
            # division loses exactness past 2^53 and can floor one off
            # the oracle's truncating // (the q199/q55 class — r12)
            F.sum(F.expr("vmicro div n_touch"))
            .cast("bigint").alias("credit_micro"),
        )
    )


@query(
    "q193_multi_window_touches",
    oracle="""
    WITH p AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    pair AS (
        SELECT e.event_type AS channel,
               epoch_us(p.ts) - epoch_us(e.ts) AS gap_us
        FROM p JOIN events e
          ON e.user_id = p.user_id
         AND e.ts >= p.ts - INTERVAL 6 HOUR AND e.ts < p.ts
    )
    SELECT channel,
           CAST(sum(CASE WHEN gap_us <= 600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS touches_10m,
           CAST(sum(CASE WHEN gap_us <= 3600000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS touches_1h,
           CAST(count(*) AS BIGINT) AS touches_6h
    FROM pair GROUP BY channel
    """,
    doc="MULTI-WINDOW attribution touch counts (10 min / 1 h / 6 h) in "
    "ONE banded join pass: the band spans the WIDEST window, so every "
    "narrower window's pairs are a subset of the candidates already in "
    "hand, and the per-window counts fall out of conditional sums on "
    "the exact microsecond gap — one shuffle where the naive form "
    "joins once per window (3× the shuffle for 3 windows, k× for the "
    "window sweeps attribution analyses actually run). Same banded "
    "equi-join scale contract as q64/q191.",
    tags=("advanced", "join", "agg"),
)
def multi_window_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.range_join import (
        banded_prior_window_join,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    paired = banded_prior_window_join(
        purchases,
        ev.select("user_id", "ts", "event_type"),
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        window_micros=6 * 3600 * 1000000,
        payload=["event_type", "ts"],
    )
    from football_lakehouse_spark.functions.scalars import epoch_micros

    gap = epoch_micros(F.col("ts")) - epoch_micros(F.col("__p_ts"))
    return (
        paired.select(
            F.col("__p_event_type").alias("channel"), gap.alias("gap_us")
        )
        .groupBy("channel")
        .agg(
            F.sum(F.when(F.col("gap_us") <= 600000000, 1).otherwise(0))
            .cast("bigint").alias("touches_10m"),
            F.sum(F.when(F.col("gap_us") <= 3600000000, 1).otherwise(0))
            .cast("bigint").alias("touches_1h"),
            F.count(F.lit(1)).cast("bigint").alias("touches_6h"),
        )
    )


@query(
    "q196_spearman",
    oracle="""
    WITH base AS (
        SELECT event_type,
               epoch_us(ts) // 1000000 AS x,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y
        FROM events
    ),
    rk AS (
        SELECT event_type,
               2 * rank() OVER (PARTITION BY event_type ORDER BY x)
                   + count(*) OVER (PARTITION BY event_type, x) - 1 AS rx,
               2 * rank() OVER (PARTITION BY event_type ORDER BY y)
                   + count(*) OVER (PARTITION BY event_type, y) - 1 AS ry
        FROM base
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               sum(CAST(rx AS HUGEINT)) AS sx,
               sum(CAST(ry AS HUGEINT)) AS sy,
               sum(CAST(rx AS HUGEINT) * ry) AS sxy,
               sum(CAST(rx AS HUGEINT) * rx) AS sxx,
               sum(CAST(ry AS HUGEINT) * ry) AS syy
        FROM rk GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           CAST(floor(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
               * 1000000
           ) AS BIGINT) AS spearman_ppm
    FROM s
    """,
    doc="EXACT Spearman rank correlation between event time and value "
    "per group ('is this metric drifting with time' — the monotone-"
    "association test Pearson misses): both variables rank-transform "
    "with MIDRANK tie handling kept integer by doubling (2·midrank = "
    "min_rank + max_rank = 2·rank() + tiecount − 1), the five "
    "correlation sums accumulate as exact 128-bit integers, and ρ "
    "evaluates once per group as the identical IEEE expression "
    "(sqrt of exact integers), floored to ppm. Plan: two ranking "
    "windows per group + one aggregation — the same "
    "one-sort-per-variable cost as any rank statistic; no sampling, "
    "no approximation.",
    tags=("advanced", "agg", "quality"),
)
def spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds
    from football_lakehouse_spark.plans.windows import _grouped_value_rank

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        "event_id",
        epoch_seconds(F.col("ts")).alias("x"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("y"),
    )

    # doubled midranks WITHOUT a per-event_type ranking window (the
    # few-valued-key single-task-sort cliff, r12): unique grouped ranks
    # via the bucketed decomposition, then per-(group, value) min-rank
    # + tie-count — 2·midrank = 2·(min_rn + 1) + tiecount − 1. Buckets:
    # days for epoch seconds, whole units for micro ints (both
    # domain-bounded and monotone in the key).
    def doubled_midrank(col, bucket, alias):
        rn = _grouped_value_rank(base, "event_type", col, "event_id",
                                 bucket=bucket)
        return rn.groupBy("event_type", col).agg(
            (2 * (F.min("rn") + 1) + F.count(F.lit(1)) - 1).alias(alias)
        )

    rx_tab = doubled_midrank(
        "x", F.expr("x div 86400").cast("bigint"), "rx"
    )
    ry_tab = doubled_midrank(
        "y", F.floor(F.col("y") / 1000000).cast("bigint"), "ry"
    )
    rk = (
        base.join(rx_tab, ["event_type", "x"])
        .join(ry_tab, ["event_type", "y"])
        .select("event_type", "rx", "ry")
    )
    dec = "decimal(38,0)"
    s = rk.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("rx").cast(dec)).alias("sx"),
        F.sum(F.col("ry").cast(dec)).alias("sy"),
        F.sum(F.col("rx").cast(dec) * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx").cast(dec) * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry").cast(dec) * F.col("ry")).alias("syy"),
    )
    n_d = F.col("n").cast("double")
    sx_d, sy_d = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    sxx_d, syy_d = F.col("sxx").cast("double"), F.col("syy").cast("double")
    rho = (n_d * sxy_d - sx_d * sy_d) / F.sqrt(
        (n_d * sxx_d - sx_d * sx_d) * (n_d * syy_d - sy_d * sy_d)
    )
    return s.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.floor(rho * 1000000).cast("bigint").alias("spearman_ppm"),
    )


@query(
    "q200_asof_nearest",
    oracle="""
    WITH p AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS t, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    a AS (
        SELECT event_id, user_id, epoch_us(ts) // 1000000 AS t FROM events
    )
    SELECT a.event_id, a.user_id,
           CASE WHEN nx.event_id IS NULL THEN pv.event_id
                WHEN pv.event_id IS NULL THEN nx.event_id
                WHEN a.t - pv.t <= nx.t - a.t THEN pv.event_id
                ELSE nx.event_id END AS nearest_purchase_id,
           CASE WHEN nx.event_id IS NULL THEN a.t - pv.t
                WHEN pv.event_id IS NULL THEN nx.t - a.t
                WHEN a.t - pv.t <= nx.t - a.t THEN a.t - pv.t
                ELSE nx.t - a.t END AS gap_s
    FROM a
    ASOF LEFT JOIN p pv ON a.user_id = pv.user_id AND a.t > pv.t
    ASOF LEFT JOIN p nx ON a.user_id = nx.user_id AND a.t < nx.t
    """,
    doc="NEAREST-NEIGHBOR as-of join (pandas merge_asof "
    "direction='nearest' parity — completing the as-of family after "
    "q49 backward and q133 tolerance): each event matches the CLOSEST "
    "purchase of the same user in either time direction, ties to the "
    "earlier one, strict inequality both ways so a purchase never "
    "matches itself. Implemented as TWO single-shuffle as-of passes "
    "sharing the operator — the forward pass as-is, the backward pass "
    "on NEGATED epoch seconds (prev-of-negated-time IS "
    "next-of-time — the operator is direction-agnostic because it "
    "only ever sorts) — then a per-row choose; nearest costs exactly "
    "2× the one-sided as-of, never a range explosion. Oracle: "
    "DuckDB's native ASOF in both directions + the identical choose.",
    tags=("advanced", "join"),
)
def asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    a = ev.select("event_id", "user_id", epoch_seconds(F.col("ts")).alias("t"))
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        epoch_seconds(F.col("ts")).alias("t"),
        F.col("event_id").alias("p_id"),
        epoch_seconds(F.col("ts")).alias("p_t"),
    )
    prev = asof_join(
        a, p, key="user_id", left_ts="t", right_ts="t",
        payload=["p_id", "p_t"], strictly_before=True,
        right_tiebreak=["p_id"],  # deterministic under ts ties
    ).select(
        "event_id",
        F.col("asof_p_id").alias("pv_id"),
        F.col("asof_p_t").alias("pv_t"),
    )
    a_neg = a.withColumn("tn", -F.col("t"))
    p_neg = p.withColumn("tn", -F.col("t"))
    nxt = asof_join(
        a_neg, p_neg, key="user_id", left_ts="tn", right_ts="tn",
        payload=["p_id", "p_t"], strictly_before=True,
        right_tiebreak=["p_id"],  # deterministic under ts ties
    ).select(
        "event_id",
        F.col("asof_p_id").alias("nx_id"),
        F.col("asof_p_t").alias("nx_t"),
    )
    j = a.join(prev, "event_id").join(nxt, "event_id")
    prev_wins = (
        F.col("nx_id").isNull()
        | (F.col("pv_id").isNotNull()
           & ((F.col("t") - F.col("pv_t")) <= (F.col("nx_t") - F.col("t"))))
    )
    return j.select(
        "event_id", "user_id",
        F.when(prev_wins, F.col("pv_id")).otherwise(F.col("nx_id"))
        .alias("nearest_purchase_id"),
        F.when(prev_wins, F.col("t") - F.col("pv_t"))
        .otherwise(F.col("nx_t") - F.col("t")).alias("gap_s"),
    )


@query(
    "q220_seasonal_anomaly",
    oracle="""
    WITH daily AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(dayofweek(date_trunc('day', ts)) AS BIGINT) AS dow,
               CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_micro
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1, 2
    ),
    seasonal AS (
        SELECT dow,
               CAST(sum(CAST(rev_micro AS HUGEINT)) // count(*) AS BIGINT)
                   AS expected_micro
        FROM daily GROUP BY 1
    )
    SELECT d.day, d.dow, d.rev_micro, s.expected_micro,
           CAST(abs(d.rev_micro - s.expected_micro) * CAST(1000000 AS HUGEINT)
                // s.expected_micro AS BIGINT) AS dev_ppm
    FROM daily d JOIN seasonal s USING (dow)
    WHERE abs(d.rev_micro - s.expected_micro) * CAST(1000000 AS HUGEINT)
          // s.expected_micro > 100000
    """,
    doc="WEEKDAY-SEASONAL REVENUE ANOMALY detection (the ops-dashboard "
    "alarm that does not page every Saturday: raw daily-revenue "
    "thresholds fire on normal weekly rhythm, so the expectation is "
    "conditioned on day-of-week): daily purchase revenue → per-dow "
    "expected value (floored integer mean over a 7-row broadcast "
    "table) → days deviating >10 % from THEIR weekday's expectation "
    "(daily sums concentrate as volume grows, so the gate is tight "
    "by design), "
    "with the exact floored-ppm deviation. All integer arithmetic "
    "over 128-bit intermediates — no floats, no ln, bit-identical "
    "cross-engine. Scale: the day grain is calendar-bounded; raw "
    "events collapse in ONE partial-aggregated groupBy; everything "
    "after is dimension-table-sized. Spark dayofweek is 1-based "
    "(Sunday=1), DuckDB 0-based — aligned by subtracting 1 on the "
    "Spark side.",
    tags=("advanced", "agg", "quality"),
)
def seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd")
            .alias("day"),
            (F.dayofweek(F.date_trunc("day", F.col("ts"))) - 1)
            .cast("bigint").alias("dow"),
        )
        .agg(
            F.sum(
                F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
            ).cast("bigint").alias("rev_micro")
        )
    )
    dec = "decimal(38,0)"
    # `div`, not floor(decimal /): Spark's decimal division rounds
    # HALF_UP at result scale BEFORE the floor, which can land one off
    # the oracle's truncating `//` when the true quotient sits within
    # rounding distance of an integer
    seasonal = (
        daily.groupBy("dow")
        .agg(
            F.sum(F.col("rev_micro").cast(dec)).alias("__rsum"),
            F.count(F.lit(1)).alias("__rn"),
        )
        .select(
            "dow",
            F.expr("__rsum div __rn").cast("bigint").alias("expected_micro"),
        )
    )
    dev = F.expr(
        "cast(abs(rev_micro - expected_micro) as decimal(38,0)) * 1000000 "
        "div expected_micro"
    ).cast("bigint")
    return (
        daily.join(F.broadcast(seasonal), "dow")
        .withColumn("dev_ppm", dev)
        .where(F.col("dev_ppm") > 100000)
        .select("day", "dow", "rev_micro", "expected_micro", "dev_ppm")
    )


@query(
    "q222_debounce_events",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN gap_us IS NULL OR gap_us > 5000000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN gap_us IS NOT NULL AND gap_us <= 5000000
                         THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
               AS drop_ppm
    FROM g GROUP BY 1
    """,
    doc="EVENT DEBOUNCE audit (telemetry dedup — double-clicks, retry "
    "storms, SDK re-sends): within each (user, event_type) timeline, "
    "an event arriving ≤5 s after its predecessor is a bounce; the "
    "report gives per-type keep/drop counts and the exact floored-ppm "
    "drop rate — the number that decides whether the ingest pipeline "
    "needs a debounce stage at all. Gap semantics are "
    "previous-RAW-event (lag), the associative form every engine "
    "computes in one partitioned window; the stricter "
    "previous-ACCEPTED-event recurrence is non-associative and lives "
    "in the streaming path (q106 / applyInPandasWithState) where "
    "state is explicit. Timestamps compare as exact epoch "
    "microseconds; windows are (user,type)-partitioned — distributed "
    "at any fan-out, no global sort.",
    tags=("advanced", "window", "quality"),
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    g = ev.select(
        "event_type",
        (
            epoch_micros(F.col("ts"))
            - F.lag(epoch_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    )
    bounced = F.col("gap_us").isNotNull() & (F.col("gap_us") <= 5000000)
    return (
        g.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_total"),
            F.sum(F.when(~bounced, 1).otherwise(0)).cast("bigint").alias("n_kept"),
            F.sum(F.when(bounced, 1).otherwise(0)).cast("bigint").alias("__nb"),
        )
        .select(
            "event_type",
            "n_total",
            "n_kept",
            # exact integral div: bigint·1e6 promotes to double past 2^53
            # (and can overflow under ANSI) — the q199/q55 bug class
            F.expr("cast(__nb as decimal(38,0)) * 1000000 div n_total")
            .cast("bigint")
            .alias("drop_ppm"),
        )
    )


@query(
    "q230_sequence_transition_audit",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type,
           CAST(count(*) AS BIGINT) AS n,
           (prev_type || '->' || event_type) IN
               ('signup->view', 'view->view', 'view->click',
                'click->view', 'click->purchase', 'purchase->view',
                'error->view', 'view->error', 'click->error')
               AS is_allowed
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    doc="EVENT-SEQUENCE TRANSITION AUDIT — validate per-user event "
    "streams against an allowed state machine (signup precedes "
    "browsing, purchases come from clicks, errors bound to views/"
    "clicks): every adjacent transition is counted and flagged "
    "against the whitelist, so instrumentation bugs (purchase with "
    "no preceding click, activity before signup) surface as "
    "is_allowed=false rows WITH their frequencies — the "
    "sequence-level data-quality check q136's referential audit "
    "cannot express (complements q213's descriptive transition "
    "matrix with a normative one). Lag windows are user-partitioned "
    "(distributed); the transition cube is |types|²-bounded.",
    tags=("advanced", "window", "quality"),
)
def sequence_transition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).where(F.col("prev_type").isNotNull())
    allowed = [
        "signup->view", "view->view", "view->click",
        "click->view", "click->purchase", "purchase->view",
        "error->view", "view->error", "click->error",
    ]
    return (
        s.groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .withColumn(
            "is_allowed",
            F.concat_ws("->", F.col("prev_type"), F.col("event_type"))
            .isin(allowed),
        )
    )


@query(
    "q231_repeat_purchase_curve",
    oracle="""
    WITH p AS (
        SELECT user_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS nth
        FROM events WHERE event_type = 'purchase'
    ),
    per_n AS (
        SELECT nth, CAST(count(*) AS BIGINT) AS n_users
        FROM p GROUP BY 1
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS u FROM p)
    SELECT nth AS purchase_n,
           n_users,
           CAST(n_users * 1000000 // tot.u AS BIGINT) AS survival_ppm
    FROM per_n CROSS JOIN tot
    WHERE nth <= 10
    """,
    doc="REPEAT-PURCHASE SURVIVAL CURVE — how many buyers reach their "
    "n-th purchase (the engagement-depth number behind LTV models "
    "and the discrete companion of q198's gap-hazard): each user's "
    "purchases are ranked in their own timeline, n_users(nth) counts "
    "survivors at depth n (monotone non-increasing by construction), "
    "and survival_ppm normalises by the buyer population in exact "
    "floored ppm. One user-partitioned rank window + an "
    "n-bounded aggregation; the curve table is depth-bounded "
    "(≤10 rows) at any event volume.",
    tags=("advanced", "window", "agg"),
)
def repeat_purchase_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.row_number().over(w).alias("nth")
    )
    per_n = p.groupBy("nth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    tot = p.agg(F.countDistinct("user_id").cast("bigint").alias("u"))
    return (
        per_n.crossJoin(F.broadcast(tot))
        .where(F.col("nth") <= 10)
        .select(
            F.col("nth").alias("purchase_n"),
            "n_users",
            # exact integral div — see q222's note (same ppm bug class)
            F.expr("cast(n_users as decimal(38,0)) * 1000000 div u")
            .cast("bigint").alias("survival_ppm"),
        )
    )


@query(
    "q241_interarrival_burstiness",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ) AS gap_us
        FROM events
    ),
    s AS (
        SELECT user_id,
               CAST(count(gap_us) AS BIGINT) AS n_gaps,
               CAST(sum(CAST(gap_us AS HUGEINT)) AS HUGEINT) AS sg,
               CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS HUGEINT) AS sg2
        FROM g WHERE gap_us IS NOT NULL
        GROUP BY user_id HAVING count(gap_us) >= 5
    )
    SELECT user_id, n_gaps,
           CAST(sg // n_gaps AS BIGINT) AS mean_gap_us,
           CAST((n_gaps * sg2 - sg * sg) * 1000000 // (sg * sg)
                AS BIGINT) AS cv2_ppm
    FROM s
    """,
    doc="INTER-ARRIVAL BURSTINESS per user — the squared coefficient "
    "of variation CV² = n·Σg²/(Σg)² − 1 of event gaps, the standard "
    "burstiness index (CV²≈1 Poisson/random, ≪1 metronomic bots, "
    "≫1 bursty humans — the behavioural-fingerprint feature bot "
    "detection and traffic modelling both want): computed ENTIRELY "
    "from three exact per-user sums (n, Σg, Σg²) over 128-bit "
    "intermediates — no stddev/sqrt, no floats, bit-identical "
    "cross-engine; ≥5 gaps so the ratio is meaningful. One "
    "user-partitioned lag window + one aggregation.",
    tags=("advanced", "window", "agg"),
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    g = ev.select(
        "user_id",
        (
            epoch_micros(F.col("ts"))
            - F.lag(epoch_micros(F.col("ts"))).over(w)
        ).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    dec = "decimal(38,0)"
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap_us").cast("bigint").alias("n_gaps"),
            F.sum(F.col("gap_us").cast(dec)).alias("sg"),
            F.sum(F.col("gap_us").cast(dec) * F.col("gap_us")).alias("sg2"),
        )
        .where(F.col("n_gaps") >= 5)
    )
    return s.select(
        "user_id",
        "n_gaps",
        # `div` not floor(decimal /) — decimal division rounds at scale
        # before the floor; the oracle truncates with `//` (q220 note)
        F.expr("sg div n_gaps").cast("bigint").alias("mean_gap_us"),
        F.expr(
            "(n_gaps * sg2 - sg * sg) * 1000000 div (sg * sg)"
        ).cast("bigint").alias("cv2_ppm"),
    )


@query(
    "q242_top_user_paths",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(count(*) AS BIGINT) AS n
    FROM s WHERE t3 IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, path ASC
    LIMIT 20
    """,
    doc="TOP 3-STEP USER PATHS — the clickstream trigram report (the "
    "sequence-level extension of q213's one-step transition matrix: "
    "'view>click>purchase vs view>view>view' is where UX funnels "
    "actually live): per-user sliding window of three consecutive "
    "events via two leads on ONE window spec (a single sort per "
    "user partition — never a self-join on adjacency), then a "
    "path-string count and TakeOrdered top-20. Path cardinality is "
    "|types|³-bounded, so the aggregation output stays tiny at any "
    "event volume.",
    tags=("advanced", "window", "agg"),
)
def top_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    s = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        s.groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("path")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(20)
    )


@query(
    "q253_k_anonymity",
    oracle="""
    WITH cls AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 100) AS BIGINT) AS band,
               count(*) AS n, count(DISTINCT c_name) AS l
        FROM customer GROUP BY 1, 2, 3
    )
    SELECT CAST(n AS BIGINT) AS class_size,
           CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(n) AS BIGINT) AS n_rows,
           CAST(min(l) AS BIGINT) AS min_l
    FROM cls WHERE n < 5 GROUP BY 1
    """,
    doc="K-ANONYMITY RISK REPORT (governance, the re-identification "
    "complement of q248's GDPR erasure): rows are grouped into "
    "equivalence classes over the quasi-identifiers (nation, market "
    "segment, account-balance band); any class smaller than k=5 is a "
    "linkage-attack risk. The report is the scale-correct shape — a "
    "k-BOUNDED histogram (class_size 1..4 -> class count, exposed "
    "rows, and worst-case l-diversity of the sensitive column within "
    "that size) rather than an unbounded list of risky classes: at "
    "100 TB the histogram is 4 rows while the class list is "
    "data-sized; the l column doubles as the l-diversity gate "
    "(min_l = 1 means some class is fully homogeneous in the "
    "sensitive attribute - suppression or generalisation required "
    "before publication). One groupBy shuffle on the QI key plus one "
    "on the 4-value size key; count(DISTINCT) partial-aggregates "
    "map-side.",
    tags=("governance", "quality"),
)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    cls = cust.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100).cast("bigint").alias("band"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_name").alias("l"),
    )
    return (
        cls.where(F.col("n") < 5)
        .groupBy(F.col("n").cast("bigint").alias("class_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.min("l").cast("bigint").alias("min_l"),
        )
    )


@query(
    "q254_bloom_pruned_join",
    oracle="""
    WITH bld AS (
        SELECT DISTINCT o_orderkey FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000
    ),
    mm AS (
        SELECT CAST(63 * ((count(*) * 16 + 62) // 63) AS BIGINT) AS m
        FROM bld
    ),
    pos AS (
        SELECT CAST(('0x' || substr(sha256(CAST(o_orderkey AS VARCHAR)),
                   1 + 8 * r.r, 8)) AS BIGINT) % mm.m AS p
        FROM bld, (SELECT unnest([0, 1, 2]) AS r) r, mm
    ),
    bloom AS MATERIALIZED (
        SELECT p // 63 AS widx,
               bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS word
        FROM pos GROUP BY 1
    ),
    pk AS (SELECT DISTINCT l_orderkey FROM lineitem),
    pp AS (
        SELECT l_orderkey,
               CAST(('0x' || substr(sha256(CAST(l_orderkey AS VARCHAR)),
                   1 + 8 * r.r, 8)) AS BIGINT) % mm.m AS p
        FROM pk, (SELECT unnest([0, 1, 2]) AS r) r, mm
    ),
    kept AS MATERIALIZED (
        SELECT pp.l_orderkey
        FROM pp JOIN bloom b
          ON b.widx = pp.p // 63
         AND ((b.word >> CAST(pp.p % 63 AS INT)) & 1) = 1
        GROUP BY 1 HAVING count(*) = 3
    ),
    keptrows AS MATERIALIZED (
        SELECT l.* FROM lineitem l JOIN kept k ON l.l_orderkey = k.l_orderkey
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS probe_total FROM lineitem),
    kc AS (SELECT CAST(count(*) AS BIGINT) AS probe_kept FROM keptrows)
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount)
               * 1000000.0 + 0.5) AS HUGEINT)) AS BIGINT) AS rev_micro,
           kc.probe_kept, tot.probe_total
    FROM keptrows l
    JOIN (SELECT o_orderkey, o_orderstatus FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 200000) o
      ON l.l_orderkey = o.o_orderkey, tot, kc
    GROUP BY 1, 4, 5
    """,
    doc="BLOOM-PRUNED JOIN (semi-join reduction — the 100 TB technique "
    "Spark's own runtime row-group filters apply implicitly, here as an "
    "explicit operator consuming a q197-style exportable filter): the "
    "build side (filtered urgent high-value orders) is folded into a "
    "k=3 bloom SIZED FROM THE BUILD CARDINALITY (~16 bits/key, so the "
    "false-positive rate stays ~0.5% at EVERY scale — the first cut "
    "pinned m=16380 and the sf0.1 soak measured it saturating to 99% "
    "kept / ~80% fp overhead, a real scale bug the adaptive sizing "
    "removes; ledger in SCALING.md). The probe (lineitem) tests its "
    "three sha-derived bit positions via three BROADCAST hash joins "
    "against the (widx, word) bloom table — word count is "
    "build_keys/4, broadcastable far past 1e8 build keys, and unlike a "
    "plan-literal array it neither bloats codegen nor re-ships with "
    "every task binary. All tests run MAP-SIDE BEFORE any exchange; "
    "the exact equi-join afterwards eliminates false positives, so the "
    "aggregate is exact while probe_kept/probe_total audit the pruning "
    "ratio. Both engines build bit-identical blooms, so even the "
    "fp-dependent audit column matches exactly. Use when BOTH sides "
    "are too big to broadcast raw but the build side is selective: "
    "ship words, not keys.",
    tags=("join", "approx", "perf"),
)
def bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    bld = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 200000)
    ).select("o_orderkey", "o_orderstatus")

    # localCheckpoint, not persist: checkpointed RDD blocks are
    # reclaimed by the ContextCleaner once unreferenced, while a
    # DataFrame persist stays in the CacheManager until the session
    # ends — a bench/notebook loop re-running this query would
    # accumulate cached copies forever
    keys = bld.select("o_orderkey").distinct().localCheckpoint(eager=True)
    n_keys = keys.count()  # control-plane scalar; also sizes the filter
    # floor at one key: an EMPTY build side would size m=0 and the
    # probe's `% m` raises DIVIDE_BY_ZERO under ANSI — with m=63 the
    # bloom table is empty, every probe row left-joins to NULL words
    # and is filtered, and the result is the empty set the oracle pins
    m = 63 * ((max(n_keys, 1) * 16 + 62) // 63)

    # ONE sha256 per key; the three bit positions are disjoint 8-hex-char
    # windows of the same digest (3x fewer hash evaluations than
    # seed-per-position, same independence for bloom purposes)
    seeds = F.broadcast(
        local_frame(spark, [(0,), (1,), (2,)], "r int")
    )
    digest = F.sha2(F.col("o_orderkey").cast("string"), 256)
    pos = keys.withColumn("dg", digest).crossJoin(seeds).select(
        (
            F.conv(
                F.expr("substring(dg, 1 + 8 * r, 8)"), 16, 10
            ).cast("bigint") % m
        ).alias("p")
    )
    # the bloom table is build_keys/4 rows — checkpoint it once so the
    # three probe-side broadcasts ship the materialised words instead of
    # re-running the distinct+hash+bit_or lineage per broadcast
    bloom = (
        pos.groupBy(F.floor(F.col("p") / 63).cast("bigint").alias("widx"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(cast(1 as bigint), cast(p % 63 as int))")
            ).alias("word")
        )
        .coalesce(1)
        .localCheckpoint(eager=True)
    )

    probe = li.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"
    ).withColumn("dg", F.sha2(F.col("l_orderkey").cast("string"), 256))
    for r in range(3):
        p = (
            F.conv(
                F.substring(F.col("dg"), 1 + 8 * r, 8), 16, 10
            ).cast("bigint") % m
        )
        b = F.broadcast(
            bloom.select(
                F.col("widx").alias(f"widx{r}"), F.col("word").alias(f"word{r}")
            )
        )
        probe = (
            probe.withColumn(f"pp{r}", p)
            .join(b, F.floor(F.col(f"pp{r}") / 63) == F.col(f"widx{r}"), "left")
            .where(
                F.expr(
                    f"((word{r} >> cast(pp{r} % 63 as int)) & 1) = 1"
                )
            )
        )
    # no persist and no localCheckpoint (r12): checkpointing would
    # truncate the probe lineage and hide the broadcast bit-test joins
    # from the executed plan (the q254 plan-shape test pins them), and
    # a persist() on a lazily-returned DataFrame can never be
    # unpersisted — CacheManager holds it until session end, so
    # re-running the builder accumulated one cached filtered-lineitem
    # copy per run. The kept-count branch below recomputes the probe
    # (one extra lineitem scan) — the standard leak-free trade.
    kept = probe

    totals = F.broadcast(
        li.agg(F.count(F.lit(1)).cast("bigint").alias("probe_total"))
    )
    kept_n = F.broadcast(
        kept.agg(F.count(F.lit(1)).cast("bigint").alias("probe_kept"))
    )
    rev = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            * 1000000.0 + 0.5
        ).cast("decimal(38,0)")
    ).cast("bigint")
    return (
        kept.join(bld, kept.l_orderkey == bld.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"),
             rev.alias("rev_micro"))
        .crossJoin(kept_n)
        .crossJoin(totals)
    )


@query(
    "q256_chi_square_ab",
    oracle="""
    WITH u AS (
        SELECT user_id, user_id % 2 AS variant,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        FROM events GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(p) AS HUGEINT) AS tp,
               CAST(count(*) AS HUGEINT) AS nu
        FROM u
    ),
    flagged AS (
        SELECT variant,
               CASE WHEN CAST(p AS HUGEINT) * tot.nu > tot.tp
                    THEN 1 ELSE 0 END AS conv
        FROM u, tot
    ),
    cells AS (
        SELECT
            CAST(sum(CASE WHEN variant = 0 AND conv = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS a,
            CAST(sum(CASE WHEN variant = 0 AND conv = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS b,
            CAST(sum(CASE WHEN variant = 1 AND conv = 1 THEN 1 ELSE 0 END) AS HUGEINT) AS c,
            CAST(sum(CASE WHEN variant = 1 AND conv = 0 THEN 1 ELSE 0 END) AS HUGEINT) AS d
        FROM flagged
    )
    SELECT CAST(a + b AS BIGINT) AS n_ctrl, CAST(c + d AS BIGINT) AS n_treat,
           CAST(a AS BIGINT) AS conv_ctrl, CAST(c AS BIGINT) AS conv_treat,
           CAST(((a + b + c + d) * (a * d - b * c) * (a * d - b * c) * 1000000)
                // greatest((a + b) * (c + d) * (a + c) * (b + d), 1)
               AS BIGINT) AS chisq_ppm,
           (((a + b + c + d) * (a * d - b * c) * (a * d - b * c) * 1000000)
                // greatest((a + b) * (c + d) * (a + c) * (b + d), 1)
               >= 3841459) AS significant
    FROM cells
    """,
    doc="EXPERIMENT READOUT: Pearson chi-square test of independence "
    "for a 2x2 conversion table — the A/B-test significance gate as an "
    "in-engine query. Variant = deterministic user-id parity; "
    "conversion = purchase count above the population mean, tested "
    "DIVISION-FREE (p * n_users > total_purchases) so the split is "
    "scale-free and integer-exact at every SF. The statistic is the "
    "closed 2x2 form N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) floored to "
    "ppm and compared against the pinned 95% critical value 3.841459 "
    "ppm-scaled (the q240 pinned-constant discipline); degenerate "
    "marginals are guarded (numerator is provably 0 there, so "
    "greatest(den,1) yields chisq=0 in both engines rather than a "
    "divide-by-zero). The heavy work — the user-grain conversion "
    "aggregate — partial-aggregates map-side and collapses to FOUR "
    "cells; the final 128-bit exact division runs on the driver over "
    "that collected 4-cell control-plane row (Python arbitrary "
    "precision mirrors DuckDB's truncating HUGEINT //), because a "
    "1e31-magnitude quotient is beyond exact decimal(38) division "
    "semantics in-plan. Output is ONE row at any corpus size.",
    tags=("ml", "eval"),
)
def chi_square_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("p")
    ).withColumn("variant", F.col("user_id") % 2)
    dec = "decimal(38,0)"
    tot = u.agg(
        F.sum("p").cast(dec).alias("tp"),
        F.count(F.lit(1)).cast(dec).alias("nu"),
    )
    flagged = u.crossJoin(F.broadcast(tot)).select(
        "variant",
        F.when(
            F.col("p").cast(dec) * F.col("nu") > F.col("tp"), 1
        ).otherwise(0).alias("conv"),
    )

    def cell(v: int, c: int):
        return F.sum(
            F.when((F.col("variant") == v) & (F.col("conv") == c), 1).otherwise(0)
        ).cast("bigint")

    from football_lakehouse_spark.functions.guards import bounded_collect

    row = bounded_collect(
        flagged.agg(
            cell(0, 1).alias("a"), cell(0, 0).alias("b"),
            cell(1, 1).alias("c"), cell(1, 0).alias("d"),
        ),
        1,
        "chi_square_ab contingency",
    )[0]
    a, b, c, d = (int(row[k]) for k in ("a", "b", "c", "d"))
    num = (a + b + c + d) * (a * d - b * c) ** 2 * 1000000
    den = max((a + b) * (c + d) * (a + c) * (b + d), 1)
    chisq = num // den  # non-negative num: // == DuckDB truncating //
    return local_frame(
        spark,
        [(a + b, c + d, a, c, chisq, chisq >= 3841459)],
        "n_ctrl bigint, n_treat bigint, conv_ctrl bigint, "
        "conv_treat bigint, chisq_ppm bigint, significant boolean",
    )


@query(
    "q263_encoding_advisor",
    oracle="""
    WITH stacked AS (
        SELECT 'event_type' AS col_name, event_type AS v FROM events
        UNION ALL
        SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
        UNION ALL
        SELECT 'props', props FROM events
    ),
    per_val AS (
        SELECT col_name, v, count(*) AS c, strlen(v) AS len
        FROM stacked GROUP BY 1, 2
    ),
    per_col AS (
        SELECT col_name,
               CAST(sum(c) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_distinct,
               CAST(sum(c * len) AS BIGINT) AS raw_bytes,
               CAST(sum(len) AS BIGINT) AS dict_bytes
        FROM per_val GROUP BY 1
    )
    SELECT col_name, n_rows, n_distinct, raw_bytes,
           CASE WHEN n_distinct * 20 <= n_rows
                    AND dict_bytes + n_rows * 2 < raw_bytes
                THEN 'dictionary' ELSE 'plain' END AS encoding,
           CAST(CASE WHEN n_distinct * 20 <= n_rows
                         AND dict_bytes + n_rows * 2 < raw_bytes
                     THEN raw_bytes - (dict_bytes + n_rows * 2)
                     ELSE 0 END AS BIGINT) AS est_savings_bytes
    FROM per_col
    """,
    doc="COLUMN ENCODING ADVISOR — physical-design recommendation as a "
    "query (the column-level sibling of q252's file binning and q260's "
    "layout audit): for each candidate column, exact value-frequency "
    "stats → dictionary-vs-plain recommendation with the estimated "
    "byte saving (dictionary pays len(value) once per DISTINCT value "
    "plus a 2-byte code per row; worth it when ndv·20 ≤ rows AND the "
    "dictionary actually undercuts raw bytes — both tests integer-"
    "exact). The distinct counting is deliberately TWO-PHASE "
    "(groupBy(col,value) → groupBy(col)) rather than "
    "count(DISTINCT) over the stacked union — the q164 lesson: "
    "COUNT DISTINCT's Expand doubles shuffle rows per aggregate, "
    "while the two-phase form partial-aggregates map-side at every "
    "step and also yields the per-value frequencies the dictionary "
    "cost model needs anyway. One scan of the source feeds the stack "
    "(column pruned to the three audited columns).",
    tags=("lakehouse", "layout"),
)
def encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    stacked = ev.select(
        F.expr(
            "stack(3, 'event_type', event_type, "
            "'user_id', CAST(user_id AS STRING), "
            "'props', props) AS (col_name, v)"
        )
    )
    per_val = (
        # octet_length (BYTES): the advisor estimates storage bytes and
        # the oracle's strlen() counts bytes — F.length counts CHARS,
        # which diverges on any multi-byte UTF-8 value
        stacked.withColumn("len", F.octet_length("v"))
        .groupBy("col_name", "v", "len")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_col = per_val.groupBy("col_name").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("c") * F.col("len")).cast("bigint").alias("raw_bytes"),
        F.sum("len").cast("bigint").alias("dict_bytes"),
    )
    worth = (F.col("n_distinct") * 20 <= F.col("n_rows")) & (
        F.col("dict_bytes") + F.col("n_rows") * 2 < F.col("raw_bytes")
    )
    return per_col.select(
        "col_name",
        "n_rows",
        "n_distinct",
        "raw_bytes",
        F.when(worth, "dictionary").otherwise("plain").alias("encoding"),
        F.when(
            worth,
            F.col("raw_bytes") - (F.col("dict_bytes") + F.col("n_rows") * 2),
        )
        .otherwise(0)
        .cast("bigint")
        .alias("est_savings_bytes"),
    )


@query(
    "q264_observed_metrics",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS sum_value_micro,
           CAST(min(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS min_value_micro,
           CAST(max(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
               AS BIGINT) AS max_value_micro
    FROM events WHERE event_type = 'purchase'
    """,
    doc="SINGLE-PASS PIPELINE METRICS via pyspark.sql.Observation — the "
    "DataFrame-native observability hook (named accumulator metrics "
    "collected DURING a query's one pass, the mechanism behind "
    "data-quality expectations that must not cost a second scan; the "
    "reference's platform runs its notebook `display`/count audits as "
    "separate actions, i.e. one extra full scan per audit — "
    "notebooks/04_gold/41_publish_gold_dims.py:152-161 re-counts the "
    "table it just wrote): the purchase slice is observed with "
    "count/sum/min/max over micro-quantised values, ONE action drives "
    "the pass, and the observed metrics ARE the query output. At "
    "100 TB this is the difference between auditing a write for free "
    "and paying a second read of the written data. All-integer "
    "metrics (floor-micro) so the cross-engine hash is exact; "
    "Observation metrics ride the existing partial-agg machinery — "
    "no extra shuffle, no extra scan (asserted by the companion plan "
    "test counting scans in the observed plan).",
    tags=("quality", "ops"),
)
def observed_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Observation

    micro = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint")
    obs = Observation("q264_purchase_audit")
    observed = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(micro.alias("vm"))
        .observe(
            obs,
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.sum("vm").cast("bigint").alias("sum_value_micro"),
            F.min("vm").cast("bigint").alias("min_value_micro"),
            F.max("vm").cast("bigint").alias("max_value_micro"),
        )
    )
    observed.write.format("noop").mode("overwrite").save()  # the ONE action
    m = obs.get
    return local_frame(
        spark,
        [
            (
                m["n_purchases"],
                m["sum_value_micro"],
                m["min_value_micro"],
                m["max_value_micro"],
            )
        ],
        "n_purchases bigint, sum_value_micro bigint, "
        "min_value_micro bigint, max_value_micro bigint",
    )


@query(
    "q267_time_weighted_value",
    oracle="""
    WITH e AS (
        SELECT user_id,
               date_diff('second', TIMESTAMP '1970-01-01', ts) AS t,
               CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS vm,
               event_id
        FROM events
    ),
    l AS (
        SELECT user_id, vm,
               lead(t) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
               ) - t AS dt
        FROM e
    ),
    agg AS (
        SELECT user_id,
               CAST(sum(CAST(vm AS HUGEINT) * dt) AS HUGEINT) AS wsum,
               CAST(sum(dt) AS BIGINT) AS span_sec
        FROM l WHERE dt IS NOT NULL GROUP BY user_id
    )
    SELECT user_id,
           CAST(wsum // span_sec AS BIGINT) AS twap_micro,
           span_sec
    FROM agg WHERE span_sec > 0
    """,
    doc="TIME-WEIGHTED AVERAGE VALUE per user (TWAP — the correct mean "
    "over an IRREGULAR event stream, where the plain AVG over-weights "
    "bursts: each observation holds until the next one, so its weight "
    "is its holding duration): lead(ts) over the per-user window "
    "(PARTITIONED — per-entity ordering is the distributed-safe "
    "window shape, lint-enforced) gives holding intervals, the "
    "weighted sum runs in exact integers (micro-value × seconds, "
    "HUGEINT/decimal accumulation), and twap = floor(Σ v·dt / Σ dt) "
    "by truncating division in both engines. The last observation of "
    "each user carries no forward interval (standard right-open "
    "convention); zero-span users (a single event, or all events on "
    "one timestamp) are excluded rather than divided by zero. One "
    "shuffle (user partition), output one row per ≥2-event user.",
    tags=("relational", "window", "ops"),
)
def time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        epoch_seconds(F.col("ts")).alias("t"),
        F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("bigint").alias("vm"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    dec = "decimal(38,0)"
    l = e.withColumn("dt", F.lead("t").over(w) - F.col("t"))
    return (
        l.where(F.col("dt").isNotNull())
        .groupBy("user_id")
        .agg(
            F.sum(F.col("vm").cast(dec) * F.col("dt").cast(dec)).alias("wsum"),
            F.sum("dt").cast("bigint").alias("span_sec"),
        )
        .where(F.col("span_sec") > 0)
        .select(
            "user_id",
            F.expr("wsum div span_sec").cast("bigint").alias("twap_micro"),
            "span_sec",
        )
    )
