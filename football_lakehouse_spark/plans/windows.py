"""Window-function queries: latest-snapshot/as-of (O1), rolling form
features (A7), price deltas (A8), stateful timeline end-state (ST5),
sessionization (engine addition). Each is one exchange on the entity
key + in-partition sort — the scale-safe timeline shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import local_frame
from football_lakehouse_spark.functions.scalars import money_sum

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.operators.rolling import (
    lag_delta,
    latest_per_key,
    sessionize,
)
from football_lakehouse_spark.plans.registry import query


# --------------------------------------------------------------------------
# O1 — latest-snapshot / as-of top-1 per group (31_build_silver_dims.py:16-22)
# --------------------------------------------------------------------------
@query(
    "q03_latest_snapshot_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS latest_order_date,
           o_totalprice AS latest_totalprice
    FROM orders
    QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC
    ) = 1
    """,
    doc="Latest good snapshot per entity — the reference's as-of primitive "
    "(SURVEY §2 O1), distributed via window row_number instead of the "
    "reference's driver-side orderBy().limit(1).collect().",
    bench=True,
    tags=("window",),
)
def latest_snapshot_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return latest_per_key(orders, "o_custkey", ["o_orderdate", "o_orderkey"]).select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("latest_order_date"),
        F.col("o_totalprice").alias("latest_totalprice"),
    )


# --------------------------------------------------------------------------
# A7 — rolling form features (stub 44_build_fact_live_form.py, backlog:79-81)
# --------------------------------------------------------------------------
@query(
    "q25_rolling_form",
    # micros-quantised mean, NOT round(avg(double), 4): Spark and DuckDB
    # round() disagree on tie-repr doubles (class 2); // truncates like
    # the engine's _trunc_div for both signs
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) OVER w
                // (count(*) OVER w * 100) AS DOUBLE) / 10000 AS form_score,
           CAST(count(*) OVER w AS BIGINT) AS form_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    doc="Rolling 5-event mean per user ordered by event time — the declared "
    "fact_live_form 'rolling features' operator (SURVEY §2 A7).",
    bench=True,
    tags=("window",),
)
def rolling_form(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.operators.rolling import rolling_form_features

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        *rolling_form_features(ev, "user_id", ["ts", "event_id"], "value"),
    )


# --------------------------------------------------------------------------
# A8 — price-delta derivation (stub 43_build_fact_price_snapshot.py)
# --------------------------------------------------------------------------
@query(
    "q26_value_delta",
    # micros difference truncated at 1e-4 (not round(a-b, 4) — class 2;
    # DuckDB // truncates toward zero, matching _trunc_div on signed
    # deltas)
    oracle="""
    SELECT event_id, user_id,
           CAST((CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)
                 - CAST(floor(lag(value, 1) OVER w * 1000000.0 + 0.5)
                        AS HUGEINT)) // 100 AS DOUBLE) / 10000
               AS value_delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Per-entity lag delta — the declared fact_price_snapshot price-delta "
    "operator (SURVEY §2 A8: lag(now_cost) over player timeline).",
    tags=("window",),
)
def value_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return lag_delta(ev, "user_id", ["ts", "event_id"], "value", "value_delta").select(
        "event_id", "user_id", "value_delta"
    )


# --------------------------------------------------------------------------
# ST5 — stateful timeline end-state (stub 33_build_silver_live_fixture_state.py)
# --------------------------------------------------------------------------
@query(
    "q27_live_state",
    oracle="""
    WITH agg AS (
        SELECT user_id, CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS total_value, count(*) AS n_events,
               strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen
        FROM events GROUP BY user_id
    ),
    last AS (
        SELECT user_id, event_type AS last_event_type
        FROM events
        QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) = 1
    )
    SELECT agg.user_id, last.last_event_type, agg.total_value, agg.n_events, agg.last_seen
    FROM agg JOIN last USING (user_id)
    """,
    doc="Batch derivation of the live-state table: last status + running "
    "totals per entity (SURVEY §2 ST5 silver.live_fixture_state; "
    "max_by = argmax on the ordered timeline).",
    tags=("window", "streaming"),
)
def live_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", F.struct(F.col("ts"), F.col("event_id"))).alias(
            "last_event_type"
        ),
        money_sum(F.col("value"), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
    )


# --------------------------------------------------------------------------
# Sessionization — engine addition (idiomatic Spark timeline op)
# --------------------------------------------------------------------------
@query(
    "q28_sessionize",
    oracle="""
    WITH flagged AS (
        -- epoch_us, not epoch(): the fixture timestamps carry
        -- microseconds, and epoch() doubles vs whole-second engine
        -- truncation diverged on gaps straddling the boundary (r12)
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > CAST(3600 AS BIGINT) * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id, count(*) AS n_events
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc="Gap-based sessionization (1 h inactivity): lag + conditional cumsum "
    "(engine addition; pyspark_guide 'Common OLAP patterns').",
    tags=("window",),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, "user_id", "ts", ["ts", "event_id"], F.lit(3600))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def _hourly_grid_cells(spark: SparkSession, sf_dir: str):
    """Shared q97/q173 resample scaffolding — (ev, cells, grid): the
    user_id<=30 slice truncated to hours, the per-(user, hour)
    latest-value cells (ts desc, event_id desc tie-break), and the
    dense per-user hourly grid spanning min..max hour. ONE definition
    for both resample queries (they carried ~20-line verbatim copies
    before r12 — the drift hazard rolling_form_features' docstring
    records from r11)."""
    from pyspark.sql import Window

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") <= 30)
        .withColumn("h", F.date_trunc("hour", F.col("ts")))
    )
    rn = Window.partitionBy("user_id", "h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cells = (
        ev.withColumn("rn", F.row_number().over(rn))
        .where(F.col("rn") == 1)
        .select("user_id", "h", "value")
    )
    bounds = ev.groupBy("user_id").agg(
        F.min("h").alias("mn"), F.max("h").alias("mx")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    return ev, cells, grid



@query(
    "q97_resample_ffill",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value, event_id, date_trunc('hour', ts) AS h
        FROM events WHERE user_id <= 30
    ),
    cells AS (
        SELECT user_id, h, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC
            ) AS rn FROM e
        ) WHERE rn = 1
    ),
    counts AS (SELECT user_id, h, count(*) AS n FROM e GROUP BY 1, 2),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM e GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_s,
           last_value(c.value IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_ffill,
           COALESCE(n.n, 0) AS n_events
    FROM grid g
    LEFT JOIN cells c ON c.user_id = g.user_id AND c.h = g.h
    LEFT JOIN counts n ON n.user_id = g.user_id AND n.h = g.h
    """,
    doc="Time-series resample to a regular hourly grid with forward fill "
    "(engine addition; the gap-fill/LOCF primitive of timeseries stores). "
    "Per user: hourly cells from first to last event, each cell carrying "
    "the latest event value of that hour (ties broken by event_id) "
    "forward-filled across empty cells via last(ignorenulls) — plus the "
    "per-cell event count. Plan: grid generation is a narrow per-user "
    "sequence() explode (no shuffle), then ONE exchange on user_id for "
    "the fill window. Known cliff (same as sessionize): one entity "
    "spanning years of hours serialises into one task's sort — "
    "range-bucket the grid per (user, month) before the window if that "
    "ever bites. user_id <= 30 keeps the driver-collected result "
    "bounded; the operator itself has no such limit.",
    tags=("window",),
)
def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev, cells, grid = _hourly_grid_cells(spark, sf_dir)
    counts = ev.groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("n"))
    fill = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grid.join(cells, ["user_id", "h"], "left")
        .join(counts, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            F.last("value", ignorenulls=True).over(fill).alias("value_ffill"),
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_events"),
        )
    )


@query(
    "q132_funnel_conversion",
    oracle="""
    WITH su AS (
        SELECT user_id, CAST(floor(min(epoch(ts))) AS BIGINT) AS signup_s
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    pu AS (
        SELECT e.user_id, CAST(floor(min(epoch(e.ts))) AS BIGINT) AS purchase_s
        FROM events e JOIN su USING (user_id)
        WHERE e.event_type = 'purchase' AND floor(epoch(e.ts)) >= su.signup_s
        GROUP BY e.user_id
    )
    SELECT su.user_id, su.signup_s, pu.purchase_s,
           COALESCE(pu.purchase_s - su.signup_s <= 7 * 86400, FALSE)
               AS converted,
           CASE WHEN pu.purchase_s - su.signup_s <= 7 * 86400
                THEN (pu.purchase_s - su.signup_s) // 3600 END AS hours_to_convert
    FROM su LEFT JOIN pu USING (user_id)
    """,
    doc="Funnel / conversion analysis (the complex-event companion to "
    "q28 sessionize and q94 attribution): per user, the FIRST signup, "
    "the first purchase AT OR AFTER that signup, and whether conversion "
    "happened within the 7-day window — the signup→purchase funnel cut "
    "every product-analytics stack runs. Two conditional-min aggs keyed "
    "on user_id plus one co-partitioned join (the signup agg's "
    "partitioning is reused — no extra exchange); epochs via the "
    "NTZ-safe helper. Nulls/FALSE for users who never purchase "
    "post-signup keep the funnel denominators honest.",
    tags=("window", "events"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    su = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(epoch_seconds(F.col("ts"))).alias("signup_s"))
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", epoch_seconds(F.col("ts")).alias("es"))
        .join(su, "user_id")
        .where(F.col("es") >= F.col("signup_s"))
        .groupBy("user_id")
        .agg(F.min("es").alias("purchase_s"))
    )
    delta = F.col("purchase_s") - F.col("signup_s")
    return (
        su.join(pu, "user_id", "left")
        .select(
            "user_id",
            "signup_s",
            "purchase_s",
            F.coalesce(delta <= 7 * 86400, F.lit(False)).alias("converted"),
            F.when(delta <= 7 * 86400, F.floor(delta / 3600).cast("bigint")).alias(
                "hours_to_convert"
            ),
        )
    )


@query(
    "q149_activity_gaps",
    oracle="""
    SELECT user_id,
           CAST(min(h) AS BIGINT) AS first_h,
           CAST(max(h) AS BIGINT) AS last_h,
           CAST(count(DISTINCT h) AS BIGINT) AS active_hours,
           CAST(max(h) - min(h) + 1 - count(DISTINCT h) AS BIGINT)
               AS gap_hours
    FROM (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h
        FROM events
    )
    GROUP BY user_id
    """,
    doc="Activity-GAP detection per user: bucket events into hours, "
    "then dead hours inside the activity span = span − distinct active "
    "hours — the missing-data / sensor-outage report of any telemetry "
    "pipeline, computed WITHOUT generating the dense hour range (a "
    "sequence-explode would materialise span×users rows; the "
    "count-distinct identity needs only the events that exist). One "
    "grouped distinct-agg, partial-aggregated; all-integer outputs via "
    "the NTZ-safe epoch helper.",
    tags=("window", "events"),
)
def activity_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    h = F.floor(epoch_seconds(F.col("ts")) / 3600).cast("bigint")
    return (
        ev.select("user_id", h.alias("h"))
        .groupBy("user_id")
        .agg(
            F.min("h").cast("bigint").alias("first_h"),
            F.max("h").cast("bigint").alias("last_h"),
            F.countDistinct("h").cast("bigint").alias("active_hours"),
            (F.max("h") - F.min("h") + 1 - F.countDistinct("h"))
            .cast("bigint")
            .alias("gap_hours"),
        )
    )


@query(
    "q150_ewma",
    oracle="""
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n,
           list_reduce(vals, (acc, x) -> x * 0.5 + acc * 0.5) AS ewma
    FROM (
        SELECT user_id,
               list(value ORDER BY floor(epoch(ts)), event_id) AS vals
        FROM events GROUP BY user_id
    )
    """,
    doc="Exponentially-weighted moving average per user (α=0.5): the "
    "recursive s_i = α·x_i + (1−α)·s_{i−1} that no window frame can "
    "express — computed as a codegen FOLD over the event-time-ordered "
    "value array (collect, sort, aggregate — one shuffle; the "
    "recurrence itself never leaves the JVM). α is exactly "
    "representable in binary and both engines evaluate the identical "
    "IEEE operation sequence in the identical order, so the doubles "
    "match BITWISE — the strongest form of cross-engine agreement for "
    "an inherently sequential float recurrence. At scale per-user "
    "series fit in an executor (bounded-array caveat as q78 packing); "
    "unbounded series would move to applyInPandasWithState.",
    tags=("window", "events"),
)
def ewma_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    vals = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    epoch_seconds(F.col("ts")).alias("es"),
                    F.col("event_id").alias("eid"),
                    F.col("value").alias("v"),
                )
            )
        ),
        lambda s: s["v"],
    )
    ewma = F.aggregate(
        F.slice(F.col("vals"), 2, F.greatest(F.lit(0), F.size("vals") - 1)),
        F.element_at(F.col("vals"), 1),
        lambda acc, x: x * F.lit(0.5) + acc * F.lit(0.5),
    )
    return (
        ev.groupBy("user_id")
        .agg(vals.alias("vals"))
        .select(
            "user_id",
            F.size("vals").cast("bigint").alias("n"),
            ewma.alias("ewma"),
        )
    )


@query(
    "q152_cohort_retention",
    oracle="""
    WITH w AS (
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk
        FROM events
    ),
    firstw AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY user_id),
    act AS (
        SELECT DISTINCT f.cw, w.wk - f.cw AS off, w.user_id
        FROM w JOIN firstw f USING (user_id)
    ),
    ret AS (SELECT cw, off, count(*) AS n_active FROM act GROUP BY cw, off),
    csize AS (SELECT cw, count(*) AS n_cohort FROM firstw GROUP BY cw)
    SELECT r.cw AS cohort_week, r.off AS week_offset,
           CAST(r.n_active AS BIGINT) AS n_active,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           CAST(floor(r.n_active * 1000000.0 / s.n_cohort) AS BIGINT)
               AS retention_pm
    FROM ret r JOIN csize s USING (cw)
    """,
    doc="COHORT RETENTION matrix (the other canonical product-analytics "
    "cut beside q132's funnel): users cohorted by first-activity week "
    "(epoch-week buckets — no calendar/locale ambiguity cross-engine); "
    "each (cohort, week-offset) cell counts distinct still-active "
    "users, with cohort size and a floor-quantised retention rate per "
    "million. Two grouped aggs + one join on the user's cohort key "
    "(reusing the user_id partitioning from the first-week agg — AQE "
    "elides the re-exchange); the distinct is per-(user, week) partial "
    "rows, never raw events, and the final matrix is weeks×offsets "
    "tiny. All-integer, exact.",
    tags=("window", "events"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        "user_id",
        F.floor(epoch_seconds(F.col("ts")) / 604800).cast("bigint").alias("wk"),
    )
    firstw = w.groupBy("user_id").agg(F.min("wk").alias("cw"))
    act = (
        w.join(firstw, "user_id")
        .select("cw", (F.col("wk") - F.col("cw")).alias("off"), "user_id")
        .distinct()
    )
    ret = act.groupBy("cw", "off").agg(F.count(F.lit(1)).alias("n_active"))
    csize = firstw.groupBy("cw").agg(F.count(F.lit(1)).alias("n_cohort"))
    return (
        ret.join(csize, "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("off").alias("week_offset"),
            F.col("n_active").cast("bigint"),
            F.col("n_cohort").cast("bigint"),
            F.floor(F.col("n_active") * 1000000.0 / F.col("n_cohort"))
            .cast("bigint")
            .alias("retention_pm"),
        )
    )


@query(
    "q154_distribution_drift",
    oracle="""
    WITH halves AS (
        SELECT event_type,
               CASE WHEN floor(epoch(ts)) < 1705276800 THEN 0 ELSE 1 END AS half
        FROM events
    ),
    c AS (
        SELECT event_type,
               sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n2
        FROM halves GROUP BY event_type
    ),
    tot AS (SELECT sum(n1) AS t1, sum(n2) AS t2 FROM c)
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           (CAST(n1 AS DOUBLE) / t1) - (CAST(n2 AS DOUBLE) / t2) AS share_delta,
           ((CAST(n1 AS DOUBLE) / t1) - (CAST(n2 AS DOUBLE) / t2))
             * ((CAST(n1 AS DOUBLE) / t1) - (CAST(n2 AS DOUBLE) / t2))
             / ((CAST(n1 AS DOUBLE) / t1) + (CAST(n2 AS DOUBLE) / t2))
               AS drift_contrib
    FROM c CROSS JOIN tot
    """,
    doc="DISTRIBUTION DRIFT monitor between two corpus snapshots (the "
    "data-quality sibling of PSI/chi-square, here between the first and "
    "second half of the event window): per category, counts in each "
    "half, the share delta, and the symmetric drift contribution "
    "(Δshare²/(s1+s2) — summing the column gives the triangular-"
    "discrimination statistic; a pure function of the same IEEE "
    "operation sequence on both engines, so doubles match bitwise). "
    "Two passes collapse to ONE conditional agg per category + a "
    "broadcast totals row — the shape that monitors a 100 TB daily "
    "snapshot against yesterday's at the cost of one scan "
    "(north star: corpus monitoring).",
    tags=("window", "events", "quality"),
)
def distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    cutoff = 1705276800  # mid-window
    c = ev.groupBy("event_type").agg(
        F.sum(F.when(epoch_seconds(F.col("ts")) < cutoff, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(epoch_seconds(F.col("ts")) >= cutoff, 1).otherwise(0)).alias("n2"),
    )
    tot = c.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    s1 = F.col("n1").cast("double") / F.col("t1")
    s2 = F.col("n2").cast("double") / F.col("t2")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n1").cast("bigint"),
            F.col("n2").cast("bigint"),
            (s1 - s2).alias("share_delta"),
            ((s1 - s2) * (s1 - s2) / (s1 + s2)).alias("drift_contrib"),
        )
    )


@query(
    "q157_cumulative_distinct",
    oracle="""
    WITH firstday AS (
        SELECT user_id,
               min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d0
        FROM events GROUP BY user_id
    ),
    perday AS (SELECT d0 AS d, count(*) AS new_users FROM firstday GROUP BY d0),
    days AS (
        SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        FROM events
    )
    SELECT days.d AS day,
           CAST(COALESCE(p.new_users, 0) AS BIGINT) AS new_users,
           CAST(sum(COALESCE(p.new_users, 0)) OVER (
               ORDER BY days.d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM days LEFT JOIN perday p ON p.d = days.d
    """,
    doc="CUMULATIVE DISTINCT users per day — the growth curve every "
    "product dashboard opens with, and a window shape Spark cannot "
    "express directly (COUNT(DISTINCT) over a running frame is "
    "unsupported): rewritten as first-seen-day per user → daily "
    "new-user counts → running SUM, which is exactly equivalent and "
    "touches one row per user instead of re-scanning every prefix. "
    "The final window runs over the ~n_days aggregate, never the "
    "corpus (the global-window trap q103's docstring warns about is "
    "bounded here by the day count).",
    tags=("window", "events"),
)
def cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(epoch_seconds(F.col("ts")) / 86400).cast("bigint")
    firstday = ev.select("user_id", day.alias("d")).groupBy("user_id").agg(
        F.min("d").alias("d0")
    )
    perday = firstday.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    days = ev.select(day.alias("day")).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(perday, "day", "left")
        .select("day", F.coalesce(F.col("new_users"), F.lit(0)).alias("new_users"))
        .select(
            "day",
            F.col("new_users").cast("bigint"),
            F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
        )
    )


@query(
    "q158_rolling_distinct",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
        FROM events
    ),
    days AS (SELECT DISTINCT d FROM active),
    contrib AS (
        SELECT a.user_id, a.d + i AS d
        FROM active a, range(7) r(i)
    )
    SELECT days.d AS day,
           CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau7
    FROM days JOIN contrib c ON c.d = days.d
    GROUP BY days.d
    """,
    doc="ROLLING 7-day distinct users (WAU) per day — rolling "
    "COUNT(DISTINCT) is inexpressible as a window in either engine; "
    "the exact scalable rewrite EXPLODES each (user, active-day) row "
    "into the ≤7 future days it keeps the user 'active' for, then "
    "counts distinct per day: shipped rows = active-days × window/day "
    "(bounded, uniform), versus the self-join-per-day form whose skew "
    "follows the busiest week. Count-distinct is two-phase "
    "partial-aggregated; days outside the corpus clip naturally via "
    "the inner join.",
    tags=("window", "events"),
)
def rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    day = F.floor(epoch_seconds(F.col("ts")) / 86400).cast("bigint")
    active = ev.select("user_id", day.alias("d")).distinct()
    days = active.select("d").distinct().withColumnRenamed("d", "day")
    contrib = active.select(
        "user_id",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("day"),
    )
    return (
        days.join(contrib, "day")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau7"))
    )


@query(
    "q173_resample_interp",
    oracle="""
    WITH e AS (
        SELECT user_id, ts, value, event_id, date_trunc('hour', ts) AS h
        FROM events WHERE user_id <= 30
    ),
    cells AS (
        SELECT user_id, h, value FROM (
            SELECT *, row_number() OVER (
                PARTITION BY user_id, h ORDER BY ts DESC, event_id DESC
            ) AS rn FROM e
        ) WHERE rn = 1
    ),
    bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM e GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds
    ),
    j AS (
        SELECT g.user_id, g.h, c.value,
               epoch(g.h) AS t,
               last_value(c.value IGNORE NULLS) OVER w_prev AS v0,
               last_value(CASE WHEN c.value IS NOT NULL
                          THEN epoch(g.h) END IGNORE NULLS) OVER w_prev AS t0,
               first_value(c.value IGNORE NULLS) OVER w_next AS v1,
               first_value(CASE WHEN c.value IS NOT NULL
                           THEN epoch(g.h) END IGNORE NULLS) OVER w_next AS t1
        FROM grid g LEFT JOIN cells c ON c.user_id = g.user_id AND c.h = g.h
        WINDOW w_prev AS (
            PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
        ),
        w_next AS (
            PARTITION BY g.user_id ORDER BY g.h
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
        )
    )
    SELECT user_id, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_s,
           CAST(floor((CASE
               WHEN value IS NOT NULL THEN value
               WHEN t0 IS NULL THEN v1
               WHEN t1 IS NULL THEN v0
               ELSE v0 + (v1 - v0) * ((t - t0) / (t1 - t0))
           END) * 1000000) AS BIGINT) AS value_interp_micro
    FROM j
    """,
    doc="Time-series resample with LINEAR INTERPOLATION (the gap-fill "
    "sibling of q97's forward fill — what sensor/finance pipelines use "
    "when LOCF would bias a downstream integral): per user, hourly "
    "cells from first to last event; a cell with an observation keeps "
    "it, an interior gap takes v0 + (v1−v0)·(t−t0)/(t1−t0) between the "
    "surrounding observations, and the edges hold the nearest value. "
    "Both engines evaluate the IDENTICAL IEEE expression shape on "
    "identical doubles, so the floor-quantised micro output matches "
    "bitwise (same contract as q150's EWMA fold). Plan: narrow grid "
    "explode + ONE exchange on user_id shared by both fill windows "
    "(prev/next are frame variants of the same window spec).",
    tags=("window",),
)
def resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    _ev, cells, grid = _hourly_grid_cells(spark, sf_dir)
    w_prev = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_next = Window.partitionBy("user_id").orderBy("h").rowsBetween(
        0, Window.unboundedFollowing
    )
    t = epoch_seconds(F.col("h")).cast("double")
    known_t = F.when(F.col("value").isNotNull(), t)
    j = (
        grid.join(cells, ["user_id", "h"], "left")
        .withColumn("t", t)
        .withColumn("v0", F.last("value", ignorenulls=True).over(w_prev))
        .withColumn("t0", F.last(known_t, ignorenulls=True).over(w_prev))
        .withColumn("v1", F.first("value", ignorenulls=True).over(w_next))
        .withColumn("t1", F.first(known_t, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("value").isNotNull(), F.col("value"))
        .when(F.col("t0").isNull(), F.col("v1"))
        .when(F.col("t1").isNull(), F.col("v0"))
        .otherwise(
            F.col("v0")
            + (F.col("v1") - F.col("v0"))
            * ((F.col("t") - F.col("t0")) / (F.col("t1") - F.col("t0")))
        )
    )
    return j.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        F.floor(interp * 1000000).cast("bigint").alias("value_interp_micro"),
    )


@query(
    "q174_range_frame_sum",
    oracle="""
    -- ORDER BY the FLOORED epoch, matching the engine's whole-second
    -- epoch_seconds key exactly: bare epoch(ts) is a fractional DOUBLE
    -- here, so sub-second siblings stopped being RANGE peers and a gap
    -- straddling the 604800 s boundary within one second flipped frame
    -- membership (the q28 class, r12)
    SELECT event_id, user_id,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS w7d_value_micro,
           CAST(count(*) OVER (
               PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
               RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS w7d_events
    FROM events
    """,
    doc="TIME-RANGE window frames (RANGE BETWEEN INTERVAL, not ROWS): "
    "per user, the trailing-7-day value sum and event count AT EVERY "
    "event — the rolling-window feature ROWS frames cannot express "
    "when events are irregularly spaced (a ROWS frame counts rows, "
    "not time; q25's rolling form is the ROWS sibling). Values "
    "micro-quantised so the sliding sum is exact integer arithmetic — "
    "RANGE frames make float sums order-sensitive within the frame "
    "boundary, which integers are immune to. Plan: one exchange on "
    "user_id; the range frame is evaluated by the same sorted pass as "
    "a ROWS frame (Spark WindowExec handles range bounds on the sort "
    "key) — no self-join, no explode. Scale cliff and cure are q169's: "
    "a single user with years of events serialises; two-phase "
    "prefix-sum decomposition applies identically if it bites.",
    tags=("window",),
)
def range_frame_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_seconds(F.col("ts")))
        .rangeBetween(-604800, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(micro).over(w).cast("bigint").alias("w7d_value_micro"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("w7d_events"),
    )


def _grouped_value_rank(df, group: str, col: str, tiebreak: str, bucket=None):
    """(group, col, rn, n): 0-based per-group rank by (col, tiebreak)
    plus the group size — via the GROUPED bucketed_prefix decomposition
    (r12): a ranking window partitioned by a few-valued enum serialises
    corpus/|enum| rows through one task's sort, the same cliff as an
    unpartitioned window. The bucket must be MONOTONE in ``col`` and
    DOMAIN-bounded (~10²–10³ distinct values — the bucket table
    broadcasts); default floor(col) fits money-magnitude doubles, and
    callers with wide-domain keys (epoch seconds, micro ints) pass a
    coarser ``bucket`` expression (e.g. ``col div 86400``)."""
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    if bucket is None:
        bucket = F.floor(F.col(col)).cast("bigint")
    base = df.select(group, col, tiebreak).withColumn("__vb", bucket)
    ranked = bucketed_prefix(
        base,
        "__vb",
        [F.col(col).asc(), F.col(tiebreak).asc()],
        rank="__grn",
        group=[group],
    )
    n_tot = df.groupBy(group).agg(F.count(F.lit(1)).alias("n"))
    return (
        ranked.select(group, col, (F.col("__grn") - 1).alias("rn"))
        .join(F.broadcast(n_tot), group)
    )



@query(
    "q175_exact_percentiles",
    oracle="""
    WITH v AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value ASC, event_id ASC
               ) - 1 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    marks AS (
        SELECT event_type, n, p, (n - 1) * p / 100 AS pos
        FROM (SELECT DISTINCT event_type, n FROM v), (VALUES (50), (90), (99)) q(p)
    ),
    picked AS (
        SELECT m.event_type, m.p,
               max(CASE WHEN v.rn = CAST(floor(m.pos) AS BIGINT)
                   THEN v.value END) AS lo,
               max(CASE WHEN v.rn = least(CAST(floor(m.pos) AS BIGINT) + 1,
                                          m.n - 1)
                   THEN v.value END) AS hi,
               any_value(m.pos - floor(m.pos)) AS frac
        FROM marks m JOIN v ON v.event_type = m.event_type
        AND v.rn IN (CAST(floor(m.pos) AS BIGINT),
                     least(CAST(floor(m.pos) AS BIGINT) + 1, m.n - 1))
        GROUP BY m.event_type, m.p
    )
    SELECT event_type, CAST(p AS BIGINT) AS pct,
           CAST(floor((lo + (hi - lo) * frac) * 1000000) AS BIGINT)
               AS value_micro
    FROM picked
    """,
    doc="EXACT distributed percentiles (p50/p90/p99 per group) via "
    "ORDER STATISTICS, not a sketch and not an engine-builtin "
    "percentile UDAF (whose interpolation internals differ between "
    "engines): rank every value once, compute the fractional position "
    "(n−1)·p for each mark, pick the two bracketing order statistics "
    "by rank equality, and interpolate with the IDENTICAL IEEE "
    "expression on both engines (floor-micro output, the q150/q173 "
    "contract). Plan: ONE sort per group for the ranking window, then "
    "the mark join touches exactly 2 rows per (group, percentile) — "
    "the rank-equality filter prunes before the join ships anything. "
    "The SQL-standard tie-break (value, event_id) makes the ranking a "
    "total order, so the picked brackets are deterministic under any "
    "partitioning.",
    tags=("window", "agg"),
)
def exact_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # grouped bucketed rank — see _grouped_value_rank (r12 scale fix:
    # a PARTITION BY event_type ranking window serialised corpus/5
    # rows through one task's sort)
    v0 = _grouped_value_rank(ev, "event_type", "value", "event_id")
    v = v0.select("event_type", "value", "rn")
    marks = (
        v0.select("event_type", "n").distinct()
        .crossJoin(
            F.broadcast(
                local_frame(ev.sparkSession, [(50,), (90,), (99,)], "p int")
            )
        )
        .withColumn("pos", (F.col("n") - 1) * F.col("p") / 100)
        .withColumn("lo_rn", F.floor("pos").cast("bigint"))
        .withColumn(
            "hi_rn", F.least(F.col("lo_rn") + 1, F.col("n") - 1).cast("bigint")
        )
    )
    picked = (
        marks.join(
            v.select("event_type", "value", "rn"),
            (marks.event_type == v.event_type)
            & ((F.col("rn") == F.col("lo_rn")) | (F.col("rn") == F.col("hi_rn"))),
        )
        .groupBy(marks.event_type, "p")
        .agg(
            F.max(F.when(F.col("rn") == F.col("lo_rn"), F.col("value"))).alias("lo"),
            F.max(F.when(F.col("rn") == F.col("hi_rn"), F.col("value"))).alias("hi"),
            F.first(F.col("pos") - F.floor("pos")).alias("frac"),
        )
    )
    return picked.select(
        "event_type",
        F.col("p").cast("bigint").alias("pct"),
        F.floor(
            (F.col("lo") + (F.col("hi") - F.col("lo")) * F.col("frac")) * 1000000
        ).cast("bigint").alias("value_micro"),
    )


@query(
    "q181_mad_outliers",
    oracle="""
    WITH v AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value ASC, event_id ASC
               ) - 1 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    med AS (
        SELECT event_type,
               avg(value) AS median
        FROM v
        WHERE rn IN (CAST(floor((n - 1) / 2.0) AS BIGINT),
                     CAST(ceil((n - 1) / 2.0) AS BIGINT))
        GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, abs(e.value - m.median) AS d, e.event_id,
               m.median
        FROM events e JOIN med m USING (event_type)
    ),
    dv AS (
        SELECT event_type, d, median,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY d ASC, event_id ASC
               ) - 1 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev
    ),
    mad AS (
        SELECT event_type, any_value(median) AS median, avg(d) AS mad
        FROM dv
        WHERE rn IN (CAST(floor((n - 1) / 2.0) AS BIGINT),
                     CAST(ceil((n - 1) / 2.0) AS BIGINT))
        GROUP BY event_type
    )
    SELECT e.event_type,
           CAST(floor(any_value(m.median) * 1000000) AS BIGINT) AS median_micro,
           CAST(floor(any_value(m.mad) * 1000000) AS BIGINT) AS mad_micro,
           CAST(sum(CASE WHEN abs(e.value - m.median) > 5 * m.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN mad m USING (event_type)
    GROUP BY e.event_type
    """,
    doc="ROBUST outlier detection via MEDIAN ABSOLUTE DEVIATION (the "
    "profiling statistic mean/stddev z-scores cannot provide — one "
    "wild value corrupts a stddev threshold, while MAD has a 50% "
    "breakdown point): per group, the exact median (q175's "
    "order-statistics machinery — the two middle ranks averaged), the "
    "exact median of absolute deviations from it (a SECOND "
    "order-statistics pass — composition of the same operator), and "
    "the count of values beyond 5·MAD. All interpolation is the "
    "averaged-bracket IEEE expression both engines evaluate "
    "identically; floor-micro outputs. Plan: two rank sorts per group "
    "(value, then deviation) + two broadcast joins of the "
    "groups-sized statistics — never a per-row subquery.",
    tags=("window", "agg", "quality"),
)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def exact_median(df, col, order_tiebreak):
        ranked = _grouped_value_rank(df, "event_type", col, order_tiebreak)
        mid_lo = F.floor((F.col("n") - 1) / 2.0).cast("bigint")
        mid_hi = F.ceil((F.col("n") - 1) / 2.0).cast("bigint")
        return (
            ranked.where((F.col("rn") == mid_lo) | (F.col("rn") == mid_hi))
            .groupBy("event_type")
            .agg(F.avg(col).alias(f"median_{col}"))
        )

    med = exact_median(ev.select("event_type", "value", "event_id"), "value", "event_id")
    dev = (
        ev.join(F.broadcast(med), "event_type")
        .select(
            "event_type", "event_id", "value",
            F.col("median_value").alias("median"),
            F.abs(F.col("value") - F.col("median_value")).alias("d"),
        )
    )
    mad = (
        exact_median(dev.select("event_type", "d", "event_id"), "d", "event_id")
        .withColumnRenamed("median_d", "mad")
    )
    stats = med.join(mad, "event_type").select(
        "event_type", F.col("median_value").alias("median"), "mad"
    )
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.floor(F.first("median") * 1000000).cast("bigint").alias("median_micro"),
            F.floor(F.first("mad") * 1000000).cast("bigint").alias("mad_micro"),
            F.sum(
                F.when(F.abs(F.col("value") - F.col("median")) > 5 * F.col("mad"), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_outliers"),
        )
    )


@query(
    "q184_percentile_normalize",
    oracle="""
    WITH v AS (
        SELECT event_type, value,
               row_number() OVER (
                   PARTITION BY event_type ORDER BY value ASC, event_id ASC
               ) - 1 AS rn,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM events
    ),
    marks AS (
        SELECT DISTINCT g.event_type,
               CAST(floor((g.n - 1) * r.p / 100.0) AS BIGINT) AS rn
        FROM (SELECT DISTINCT event_type, n FROM v) g,
             (SELECT unnest(range(1, 100)) AS p) r
    ),
    edges AS (
        SELECT v.event_type, list_sort(list(v.value)) AS es
        FROM v JOIN marks m ON v.event_type = m.event_type AND v.rn = m.rn
        GROUP BY v.event_type
    )
    SELECT e.event_type,
           CAST(len(list_filter(d.es, x -> x < e.value)) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events e JOIN edges d USING (event_type)
    GROUP BY 1, 2
    """,
    doc="PERCENTILE-RANK NORMALISATION (equi-depth score bucketing — "
    "the 'learn the stats once, broadcast, normalise every row' "
    "pattern of feature pipelines, and the equi-depth sibling of "
    "q156's equi-width histogram): per group, the 99 exact percentile "
    "edges come from one ranking pass (q175's order-statistics "
    "machinery), collect into a sorted array (99 values per group — "
    "broadcast-sized at ANY corpus scale), and every row's bucket is "
    "the count of edges strictly below its value — a pure array "
    "expression, no per-row join, no second shuffle of the data. "
    "Ties-below semantics make the bucket deterministic; output is "
    "the per-(group, bucket) occupancy, which equi-depth guarantees "
    "is near-uniform — the verification the bucketing is actually "
    "balanced. Duplicate marks (small groups where several "
    "percentiles share a rank) deduplicate, so edge arrays can be "
    "shorter than 99 — bucket ids stay dense either way.",
    tags=("window", "agg"),
)
def percentile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # grouped bucketed rank — see _grouped_value_rank (r12 scale fix)
    ranked = _grouped_value_rank(ev, "event_type", "value", "event_id")
    marks = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.lit(99)),
            lambda p: F.floor((F.col("n") - 1) * p / 100.0).cast("bigint"),
        )
    )
    edges = (
        ranked.where(F.array_contains(marks, F.col("rn")))
        .groupBy("event_type")
        .agg(F.array_sort(F.collect_list("value")).alias("es"))
    )
    bucket = F.size(F.filter(F.col("es"), lambda x: x < F.col("value")))
    return (
        ev.join(F.broadcast(edges), "event_type")
        .select("event_type", bucket.cast("bigint").alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
    )


@query(
    "q187_rolling_regression",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000
                   - min(epoch_us(ts) // 1000000) OVER (PARTITION BY user_id)
                   AS x,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y
        FROM events WHERE user_id <= 30
    ),
    s AS (
        SELECT user_id, event_id,
               count(*) OVER w AS n,
               sum(CAST(x AS HUGEINT)) OVER w AS sx,
               sum(CAST(y AS HUGEINT)) OVER w AS sy,
               sum(CAST(x AS HUGEINT) * y) OVER w AS sxy,
               sum(CAST(x AS HUGEINT) * x) OVER w AS sxx
        FROM base
        WINDOW w AS (
            PARTITION BY user_id ORDER BY x ASC, event_id ASC
            ROWS BETWEEN 9 PRECEDING AND CURRENT ROW
        )
    )
    SELECT user_id, event_id, CAST(n AS BIGINT) AS n_window,
           CAST(floor(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / nullif(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE), 0.0)
               * 86400
           ) AS BIGINT) AS slope_micro_per_day
    FROM s
    """,
    doc="ROLLING REGRESSION slope per entity (the windowed form of "
    "q182's groupwise OLS — 'is this user's value trending up over "
    "their last 10 events', the rolling-beta feature of financial and "
    "engagement pipelines): the five normal-equation sums accumulate "
    "as exact 128-bit integers OVER A ROWS FRAME, so every window's "
    "sums are partition-invariant, and the slope evaluates per row "
    "with the identical IEEE expression both engines run "
    "(floor-quantised; NULL where the frame's x-variance is zero — "
    "same-timestamp bursts). One exchange on user_id; five window "
    "aggregates share one frame spec, hence one sorted pass.",
    tags=("window", "ml"),
)
def rolling_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 30)
    w_user = Window.partitionBy("user_id")
    base = ev.select(
        "user_id", "event_id",
        (epoch_seconds(F.col("ts"))
         - F.min(epoch_seconds(F.col("ts"))).over(w_user)).alias("x"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("y"),
    )
    dec = "decimal(38,0)"
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("x").asc(), F.col("event_id").asc())
        .rowsBetween(-9, 0)
    )
    s = base.select(
        "user_id", "event_id",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(F.col("x").cast(dec)).over(w).alias("sx"),
        F.sum(F.col("y").cast(dec)).over(w).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).over(w).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    denom = F.nullif(
        n_d * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double"),
        F.lit(0.0),
    )
    slope = (
        n_d * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy").cast("double")
    ) / denom
    return s.select(
        "user_id", "event_id",
        F.col("n").cast("bigint").alias("n_window"),
        F.floor(slope * 86400).cast("bigint").alias("slope_micro_per_day"),
    )


@query(
    "q188_capped_balance",
    oracle="""
    SELECT user_id, CAST(len(ds) AS BIGINT) AS n,
           CAST(list_reduce(
               list_prepend(CAST(0 AS BIGINT), ds),
               (acc, d) -> greatest(CAST(0 AS BIGINT), acc + d)
           ) AS BIGINT) AS final_balance_micro
    FROM (
        SELECT user_id,
               list(CASE WHEN event_type = 'purchase'
                         THEN -CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                         ELSE CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
                    END ORDER BY floor(epoch(ts)), event_id) AS ds
        FROM events GROUP BY user_id
    )
    """,
    doc="CAPPED RUNNING BALANCE per user (credits minus purchase "
    "debits, floored at zero — inventory with no backorders, prepaid "
    "wallets, rate-limiter tokens): balanceᵢ = max(0, balanceᵢ₋₁ + Δᵢ) "
    "is NON-ASSOCIATIVE, so no window frame and no partial aggregation "
    "can express it — the q150 EWMA treatment applies: collect each "
    "user's event-time-ordered deltas (exact integer micros) and FOLD "
    "the clamp recurrence inside codegen; one shuffle, the sequential "
    "scan never leaves the JVM, and the integers make the cross-engine "
    "match exact. Same bounded-series caveat as q150: per-user "
    "timelines fit an executor; unbounded ones move to "
    "applyInPandasWithState (streaming/stateful.py).",
    tags=("window", "events"),
)
def capped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    micro = F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
    delta = F.when(F.col("event_type") == "purchase", -micro).otherwise(micro)
    ds = F.transform(
        F.array_sort(
            F.collect_list(
                F.struct(
                    epoch_seconds(F.col("ts")).alias("es"),
                    F.col("event_id").alias("eid"),
                    delta.alias("d"),
                )
            )
        ),
        lambda s: s["d"],
    )
    fold = F.aggregate(
        F.col("ds"),
        F.lit(0).cast("bigint"),
        lambda acc, d: F.greatest(F.lit(0).cast("bigint"), acc + d),
    )
    return (
        ev.groupBy("user_id")
        .agg(ds.alias("ds"))
        .select(
            "user_id",
            F.size("ds").cast("bigint").alias("n"),
            fold.cast("bigint").alias("final_balance_micro"),
        )
    )


@query(
    "q198_purchase_gap_hazard",
    oracle="""
    WITH p AS (
        SELECT user_id, epoch_us(ts) // 1000000 AS t, event_id
        FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
        SELECT t - lag(t) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
               ) AS gap_s
        FROM p
    )
    SELECT CAST(least(gap_s // 86400, 14) AS BIGINT) AS gap_days,
           CAST(count(*) AS BIGINT) AS n_gaps
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY 1
    """,
    doc="REPURCHASE-GAP hazard histogram (the 'how long until a "
    "customer buys again' curve that drives churn-risk windows and "
    "win-back timing): per user, the gaps between consecutive "
    "purchases (one lag window over the purchase timeline) bucketed "
    "into days with a 14-day open tail — fixed integer bin edges, so "
    "snapshots compare bin-for-bin like q156. Everything is integer "
    "seconds and floored division; one exchange on user_id, then a "
    "bins-sized aggregate. The empirical hazard h(d) = n_gaps(d) / "
    "Σ_{d'≥d} n_gaps(d') is a driver-side post-step over the 15-row "
    "result.",
    tags=("window", "agg"),
)
def purchase_gap_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", epoch_seconds(F.col("ts")).alias("t"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    gaps = p.select((F.col("t") - F.lag("t").over(w)).alias("gap_s")).where(
        F.col("gap_s").isNotNull()
    )
    return (
        gaps.groupBy(
            F.least(F.floor(F.col("gap_s") / 86400), F.lit(14))
            .cast("bigint").alias("gap_days")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_gaps"))
    )


@query(
    "q199_cohort_ltv_curve",
    oracle="""
    WITH w AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS vmicro
        FROM events
    ),
    firstw AS (SELECT user_id, min(wk) AS cw FROM w GROUP BY user_id),
    csize AS (SELECT cw, count(*) AS n_cohort FROM firstw GROUP BY cw),
    spend AS (
        SELECT f.cw, w.wk - f.cw AS age, w.user_id,
               sum(w.vmicro) AS v
        FROM w JOIN firstw f USING (user_id)
        GROUP BY 1, 2, 3
    ),
    weekly AS (
        SELECT cw, age, sum(v) AS wv FROM spend GROUP BY cw, age
    )
    SELECT cw AS cohort_week, age AS week_age,
           CAST(s.n_cohort AS BIGINT) AS n_cohort,
           CAST(sum(wv) OVER (
               PARTITION BY cw ORDER BY age ROWS UNBOUNDED PRECEDING
           ) // s.n_cohort AS BIGINT) AS cum_ltv_micro_per_user
    FROM weekly JOIN csize s USING (cw)
    """,
    doc="COHORT LTV CURVES (cumulative value per user by cohort age — "
    "the growth-analytics artefact next to q152's retention matrix: "
    "'how much has the average week-N user spent by week-offset K'): "
    "users cohort by first-activity epoch-week, weekly cohort value "
    "sums accumulate through a running window, and the per-user "
    "normalisation is floored integer division by cohort size — all "
    "integer micros, exact cross-engine. Plan: two grouped aggs on "
    "user_id then (cohort, age), a cohort-count broadcast, and a "
    "running sum over the tiny (cohort × age) matrix — the raw fact "
    "table is touched exactly once.",
    tags=("window", "agg"),
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events")
    w = ev.select(
        "user_id",
        F.floor(epoch_seconds(F.col("ts")) / 604800).cast("bigint").alias("wk"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("vmicro"),
    )
    firstw = w.groupBy("user_id").agg(F.min("wk").alias("cw"))
    csize = firstw.groupBy("cw").agg(F.count(F.lit(1)).alias("n_cohort"))
    weekly = (
        w.join(firstw, "user_id")
        .groupBy("cw", (F.col("wk") - F.col("cw")).alias("age"))
        .agg(F.sum("vmicro").alias("wv"))
    )
    run = Window.partitionBy("cw").orderBy("age").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        weekly.join(F.broadcast(csize), "cw")
        # materialise the running sum, then EXACT integer division via
        # `div` on decimal(38,0): floor(bigint / n) promotes to double
        # true-division past 2^53 micros and lands one off the oracle's
        # HUGEINT '//'; decimal `/` would round at scale before the
        # floor. `div` has neither failure mode (q213/q121 rule).
        .withColumn("__run_wv", F.sum("wv").over(run))
        .select(
            F.col("cw").alias("cohort_week"),
            F.col("age").alias("week_age"),
            F.col("n_cohort").cast("bigint").alias("n_cohort"),
            F.expr("cast(__run_wv as decimal(38,0)) div n_cohort")
            .cast("bigint").alias("cum_ltv_micro_per_user"),
        )
    )


@query(
    "q209_cusum_changepoint",
    oracle="""
    WITH base AS (
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000 AS t,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS y
        FROM events WHERE user_id <= 30
    ),
    s AS (
        SELECT user_id, event_id, t, y,
               count(*) OVER (PARTITION BY user_id) AS n,
               sum(CAST(y AS HUGEINT)) OVER (PARTITION BY user_id) AS tot,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY t, event_id
               ) AS i,
               sum(CAST(y AS HUGEINT)) OVER (
                   PARTITION BY user_id ORDER BY t, event_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM base
    ),
    c AS (
        SELECT user_id, i,
               abs(cum * n - CAST(i AS HUGEINT) * tot) AS excursion
        FROM s
    )
    SELECT user_id,
           CAST(max(excursion) AS BIGINT) AS max_excursion_scaled,
           CAST(min(CASE WHEN excursion = m THEN i END) AS BIGINT)
               AS changepoint_pos
    FROM (SELECT *, max(excursion) OVER (PARTITION BY user_id) AS m FROM c)
    GROUP BY user_id
    """,
    doc="CUSUM CHANGE-POINT detection per entity (where did this "
    "user's value level SHIFT — the monitoring primitive behind "
    "'something changed on day X' alerts): the classic statistic "
    "max_i |Σ_{j≤i}(y_j − ȳ)| rescaled by n to stay in EXACT integers "
    "— |cum_i·n − i·total| needs no mean, no division, no floats — "
    "and the argmax position (earliest on ties) marks the most likely "
    "change point. One exchange on user_id; the running sum, total, "
    "and argmax are frame variants over the same sort. Alarm "
    "thresholding (compare the excursion against a noise estimate, "
    "e.g. q181's MAD) is a composition step.",
    tags=("window", "quality"),
)
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_seconds

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 30)
    dec = "decimal(38,0)"
    base = ev.select(
        "user_id", "event_id",
        epoch_seconds(F.col("ts")).alias("t"),
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint").alias("y"),
    )
    w_all = Window.partitionBy("user_id")
    w_ord = Window.partitionBy("user_id").orderBy(F.col("t").asc(), F.col("event_id").asc())
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    s = base.select(
        "user_id",
        F.count(F.lit(1)).over(w_all).cast(dec).alias("n"),
        F.sum(F.col("y").cast(dec)).over(w_all).alias("tot"),
        F.row_number().over(w_ord).cast(dec).alias("i"),
        F.sum(F.col("y").cast(dec)).over(w_cum).alias("cum"),
    )
    exc = F.abs(F.col("cum") * F.col("n") - F.col("i") * F.col("tot"))
    c = s.select("user_id", F.col("i"), exc.alias("excursion"))
    m = c.withColumn(
        "m", F.max("excursion").over(Window.partitionBy("user_id"))
    )
    return m.groupBy("user_id").agg(
        F.max("excursion").cast("bigint").alias("max_excursion_scaled"),
        F.min(F.when(F.col("excursion") == F.col("m"), F.col("i")))
        .cast("bigint").alias("changepoint_pos"),
    )


@query(
    "q213_journey_transitions",
    oracle="""
    WITH o AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id
               ) AS next_type
        FROM events
    ),
    t AS (
        SELECT event_type AS from_type,
               coalesce(next_type, '__exit__') AS to_type,
               count(*) AS n
        FROM o GROUP BY 1, 2
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(floor(n * CAST(1000000 AS HUGEINT)
                      / sum(n) OVER (PARTITION BY from_type)) AS BIGINT)
               AS prob_ppm
    FROM t
    """,
    doc="USER-JOURNEY TRANSITION MATRIX with an explicit EXIT state "
    "(the product-analytics Markov map: 'after a view, what happens "
    "next — and how often is the answer nothing'): each user's "
    "event-time-ordered timeline yields (state → next-state) pairs "
    "via one lead() window, a user's final event transitions to "
    "__exit__ (absorbing state — without it the matrix rows don't "
    "sum to 1 and exit-prone states look healthy), and transition "
    "probabilities are exact floored ppm over the from-state "
    "marginals. One exchange on user_id + a states²-sized aggregate; "
    "the q114 token-bigram machinery applied to behavioural "
    "sequences.",
    tags=("window", "agg"),
)
def journey_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from football_lakehouse_spark.functions.scalars import epoch_micros

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_micros(F.col("ts")).asc(), F.col("event_id").asc()
    )
    o = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    t = o.groupBy(
        F.col("event_type").alias("from_type"),
        F.coalesce(F.col("next_type"), F.lit("__exit__")).alias("to_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w_from = Window.partitionBy("from_type")
    return t.select(
        "from_type", "to_type",
        F.col("n").cast("bigint").alias("n"),
        # `div`, never floor(decimal /): Spark's decimal division
        # rounds HALF_UP at result scale BEFORE the floor, so a
        # fractional part >= .9999995 crossed the integer boundary and
        # disagreed with the oracle's exact integer `//` by one ppm
        F.expr(
            "cast(n as decimal(38,0)) * 1000000 div sum(n) over "
            "(partition by from_type)"
        ).cast("bigint").alias("prob_ppm"),
    )


@query(
    "q232_value_window_family",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts,
               CASE WHEN value < 1.0 THEN NULL
                    ELSE CAST(floor(value * 1000000.0 + 0.5) AS BIGINT)
               END AS val_micro
        FROM events
    ),
    w AS (
        SELECT user_id,
               row_number() OVER ord AS rn,
               count(*) OVER (PARTITION BY user_id) AS n,
               first_value(val_micro) OVER frame AS first_micro,
               last_value(val_micro IGNORE NULLS) OVER frame
                   AS last_nonnull_micro,
               nth_value(val_micro, 2) OVER frame AS second_micro,
               lag(val_micro, 1, CAST(-1 AS BIGINT)) OVER ord
                   AS prev_or_neg1
        FROM v
        WINDOW ord AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
               frame AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           first_micro, last_nonnull_micro, second_micro, prev_or_neg1
    FROM w WHERE rn = n AND user_id <= 50
    """,
    doc="VALUE-WINDOW FUNCTION FAMILY parity check (the q145 "
    "rank-family sibling for value functions): first_value, "
    "last_value IGNORE NULLS (Spark spells it last(col, "
    "ignorenulls=True) — the semantic corner engines disagree on "
    "most), nth_value, and lag with an explicit default, all under "
    "an explicit ROWS UNBOUNDED PRECEDING..CURRENT ROW frame "
    "(default frames differ cross-engine — RANGE vs ROWS matters "
    "with ties — so the frame is pinned). Values below 1.0 become "
    "NULL to make the ignore-nulls path load-bearing. Evaluated at "
    "each user's final row; user-partitioned windows, distributed.",
    tags=("window",),
)
def value_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    val = F.when(
        F.col("value") < 1.0, F.lit(None).cast("bigint")
    ).otherwise(F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint"))
    v = ev.select(
        "user_id", "event_id", "ts", val.alias("val_micro")
    )
    ord_ = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    frame = ord_.rowsBetween(Window.unboundedPreceding, 0)
    w = v.select(
        "user_id",
        F.row_number().over(ord_).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n"),
        F.first("val_micro").over(frame).alias("first_micro"),
        F.last("val_micro", ignorenulls=True).over(frame)
        .alias("last_nonnull_micro"),
        F.nth_value("val_micro", 2).over(frame).alias("second_micro"),
        F.lag("val_micro", 1, -1).over(ord_).cast("bigint")
        .alias("prev_or_neg1"),
    )
    return (
        w.where((F.col("rn") == F.col("n")) & (F.col("user_id") <= 50))
        .select(
            "user_id",
            F.col("n").cast("bigint").alias("n_events"),
            "first_micro",
            "last_nonnull_micro",
            "second_micro",
            "prev_or_neg1",
        )
    )


@query(
    "q233_max_drawdown",
    oracle="""
    WITH v AS (
        SELECT user_id, event_id, ts,
               CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS val_micro
        FROM events WHERE event_type = 'purchase'
    ),
    r AS (
        SELECT user_id, val_micro,
               max(val_micro) OVER (
                   PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS peak_micro
        FROM v
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(max(peak_micro) AS BIGINT) AS peak_max_micro,
           CAST(max(peak_micro - val_micro) AS BIGINT)
               AS max_drawdown_micro
    FROM r GROUP BY user_id
    HAVING count(*) >= 5
    """,
    doc="MAXIMUM DRAWDOWN per user timeline (the largest "
    "peak-to-trough drop of the purchase-value series — the "
    "risk/volatility statistic that needs a RUNNING max, not a "
    "global one): running peak via a user-partitioned cumulative "
    "max window, drawdown = peak − current, then one aggregation "
    "for the max. The recurrence LOOKS non-associative but the "
    "cummax decomposition makes it a plain window + agg — the same "
    "trick q195's skyline uses; only genuinely state-carrying "
    "recurrences (q188's clamp) need the fold. ≥5-point timelines "
    "only, so the statistic is non-degenerate. All exact integer "
    "micro.",
    tags=("window", "agg"),
)
def max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        "ts",
        F.floor(F.col("value") * 1000000.0 + 0.5).cast("bigint")
        .alias("val_micro"),
    )
    frame = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    r = v.select(
        "user_id",
        "val_micro",
        F.max("val_micro").over(frame).alias("peak_micro"),
    )
    return (
        r.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.max("peak_micro").cast("bigint").alias("peak_max_micro"),
            F.max(F.col("peak_micro") - F.col("val_micro"))
            .cast("bigint").alias("max_drawdown_micro"),
        )
        .where(F.col("n_points") >= 5)
    )
