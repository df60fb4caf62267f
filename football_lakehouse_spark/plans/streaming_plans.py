"""Streaming queries — real Structured Streaming runs (availableNow,
checkpointed) wrapped as registry entries with DuckDB oracles. The
stream output is deterministic because the file set is fixed and every
run drains it completely (SURVEY.md §7 Phase 3 'deterministic streaming
tests').
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import local_frame, parquet_schema
from football_lakehouse_spark.functions.scalars import money_sum

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.plans.registry import query
from football_lakehouse_spark.scratch import scratch_dir
from football_lakehouse_spark.streaming.ingest import (
    ingest_available_now,
    land_json_files,
)
from football_lakehouse_spark.streaming.state import attribution_stream_join


@query(
    "q32_streaming_ingest",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
    doc="End-to-end streaming Bronze ingest (SURVEY §2 S7/S8/ST1-ST3): land "
    "day-partitioned JSON → availableNow file-source stream with checkpoint "
    "→ parquet Bronze → RERUN the stream (verified no-op: exactly-once) → "
    "read Bronze back. Oracle = the original events table, proving no loss "
    "and no duplication through the landing+stream+rerun cycle.",
    tags=("streaming",),
)
def streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # persistent scratch (cleaned on next run) so the result stays a LAZY
    # parquet reader — no driver-side materialisation of the Bronze table
    root = scratch_dir("q32_streaming_ingest")
    landing = os.path.join(root, "landing")
    bronze = os.path.join(root, "bronze")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(ev, landing)
    ingest_available_now(spark, landing, bronze, ckpt)
    ingest_available_now(spark, landing, bronze, ckpt)  # exactly-once rerun
    return spark.read.parquet(bronze).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@query(
    "q70_schema_evolution",
    oracle="""
    SELECT event_id, event_type, value,
           CASE WHEN event_id % 2 = 1
                THEN 'dev-' || CAST(event_id % 3 AS VARCHAR) END AS device
    FROM events
    """,
    doc="ST3 complete — addNewColumns schema evolution across stream "
    "restarts (reference docs/backlog.md:52-54): half the events land "
    "WITHOUT a device column and are ingested; the other half lands WITH "
    "it; the restarted stream (same checkpoint) adopts the column via the "
    "schema log, old rows read back NULL, nothing is rescued. Oracle "
    "derives the same device value directly from the events table.",
    tags=("streaming",),
)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q70_schema_evolution")
    landing = os.path.join(root, "landing")
    bronze = os.path.join(root, "bronze")
    ckpt = os.path.join(root, "ckpt")
    # epoch 1: producer does not emit `device` yet
    land_json_files(ev.where(F.col("event_id") % 2 == 0), landing)
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)
    # epoch 2: producer adds `device`; stream restarts on the same
    # checkpoint and must adopt the new column additively
    evolved = ev.where(F.col("event_id") % 2 == 1).withColumn(
        "device", F.concat(F.lit("dev-"), (F.col("event_id") % 3).cast("string"))
    )
    land_json_files(evolved, landing)
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(bronze)
        .select("event_id", "event_type", "value", "device")
    )


@query(
    "q33_windowed_counts",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Tumbling-window aggregation (engine addition per SURVEY §2.9: the "
    "reference avoids stream windows; the engine exposes them). Batch form "
    "of streaming/state.windowed_event_counts — identical window() "
    "expression; the watermarked streaming execution is covered by "
    "tests/test_streaming.py.",
    tags=("streaming", "window"),
)
def windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


@query(
    "q66_sliding_window",
    oracle="""
    WITH e AS (SELECT event_type, epoch_us(ts) AS us FROM events),
    x AS (
        SELECT event_type, (us // 7200000000 - t.i) * 7200000000 AS ws_us
        FROM e CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) t
    )
    SELECT strftime(make_timestamp(CAST(ws_us AS BIGINT)), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n
    FROM x
    GROUP BY 1, 2
    """,
    doc="Sliding-window aggregation: 6-hour windows sliding every 2 hours "
    "(engine addition per SURVEY §2.9). Spark's window() emits each row "
    "into width/slide = 3 windows map-side before the partial agg — the "
    "oracle reconstructs the same 3-way expansion explicitly, so the "
    "window-assignment arithmetic itself is cross-checked. The shuffle "
    "carries only (window, type) partials: sliding windows cost one "
    "expansion factor, never a second shuffle.",
    tags=("streaming", "window"),
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "6 hours", "2 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


@query(
    "q67_session_window",
    oracle="""
    WITH o AS (SELECT user_id, epoch_us(ts) AS us FROM events),
    m AS (
        SELECT user_id, us,
               CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                         >= 1800000000
                      OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM o
    ),
    s AS (
        SELECT user_id, us,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id,
           strftime(make_timestamp(CAST(min(us) AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(make_timestamp(CAST(max(us) + 1800000000 AS BIGINT)),
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           count(*) AS n_events
    FROM s
    GROUP BY user_id, sid
    """,
    doc="Session-window aggregation (30-min inactivity gap) via Spark's "
    "native session_window() — the streaming-capable form of q28's "
    "batch sessionize. The oracle reconstructs sessions with the "
    "lag/cumsum idiom, so the gap-merge semantics (half-open window, "
    "end = last event + gap) are cross-checked between two different "
    "algorithms. One shuffle on the session key; Spark merges windows "
    "in the aggregate, never materialising per-pair comparisons.",
    tags=("streaming", "window"),
)
def session_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
    )


@query(
    "q94_stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_s
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    doc="Watermarked stream-stream interval self-join (engine addition per "
    "SURVEY §2.9 — the reference has no stream joins): land events as JSON "
    "→ one file-source stream split into a purchases side and a clicks "
    "side, both watermarked 1 hour → inner join on user within "
    "[p.ts - 30 min, p.ts] → append sink, availableNow drain → pairs read "
    "back lazily. Join state is bounded by the watermark+range condition "
    "(clicks evict once older than watermark - 30 min), i.e. O(events in "
    "the horizon), not O(stream). The oracle is the equivalent batch "
    "interval join, so the streaming machinery must reproduce the exact "
    "batch pair set. The drain is a single micro-batch here because "
    "landing mtimes within one write job carry no chronological order — "
    "a tight watermark over multi-batch unordered files would drop rows "
    "nondeterministically; the multi-batch cross-chunk state path is "
    "exercised in tests/test_streaming.py with chronologically landed "
    "chunks.",
    tags=("streaming",),
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q94_stream_stream_join")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(ev, landing)
    joined = attribution_stream_join(spark, landing)
    (
        joined.writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    )
    return (
        spark.read.schema(parquet_schema(spark, out))
        .parquet(out)
        .select("purchase_id", "click_id", "gap_s")
    )


@query(
    "q91_stateful_state",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT))
                // 10000 AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="Custom stateful streaming operator END-TO-END (SURVEY §2 ST5 "
    "streaming variant): land events as JSON → availableNow stream → "
    "applyInPandasWithState keeps a per-user accumulator (event count "
    "+ micro-unit value total) across micro-batches, emitting updated "
    "state per batch → final state per user read back lazily. The "
    "accumulator is an INTEGER micro-unit sum (same quantisation as "
    "money_sum) so the drained-stream state matches the batch oracle "
    "exactly regardless of batch boundaries or row order. State is "
    "O(users), not O(events); the closure is self-contained "
    "(pandas/numpy only) so it serialises to workers that cannot "
    "import the engine package.",
    tags=("streaming",),
)
def stateful_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.window import Window

    from football_lakehouse_spark.streaming.ingest import read_landing_stream

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q91_stateful_state")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(ev, landing)
    stream = read_landing_stream(spark, landing)

    def upd(key, pdfs, state):
        # self-contained: pandas/numpy only (workers cannot import the
        # engine package — see the driver contract)
        import numpy as np
        import pandas as pd

        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            micros += int(
                np.floor(pdf["value"].to_numpy(dtype="float64") * 1000000.0 + 0.5)
                .astype("int64")
                .sum()
            )
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_micros": [micros]}
        )

    updates = (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            upd,
            outputStructType="user_id bigint, n_events bigint, total_micros bigint",
            stateStructType="n bigint, micros bigint",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )

    def _append(batch: DataFrame, _epoch: int) -> None:
        batch.write.mode("append").parquet(out)

    (
        updates.writeStream.trigger(availableNow=True)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch(_append)
        .start()
        .awaitTermination()
    )
    # final state per user = the row with the highest running count
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        spark.read.schema(parquet_schema(spark, out))
        .parquet(out)
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(
            "user_id",
            "n_events",
            # exact `div`, never floor(bigint / int): the `/` promotes
            # to double and loses exactness past 2^53 micros (class-1)
            (F.expr("cast(total_micros as decimal(38,0)) div 10000")
             .cast("double") / 100).alias("total_value"),
        )
    )


@query(
    "q106_streaming_dedup",
    oracle="""
    SELECT event_id, user_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
    doc="Streaming exact deduplication (engine addition — the reference "
    "dedups only in batch MERGE): the landed corpus carries injected "
    "duplicates (every event_id % 10 == 0 row landed twice) → "
    "availableNow file stream → dropDuplicatesWithinWatermark on "
    "event_id drops the replays in-flight → append sink. Oracle = the "
    "ORIGINAL events table: the stream must emit each event exactly "
    "once despite the duplicated landing. Dedup state is keyed by "
    "event_id and EVICTED once the watermark passes the key's event "
    "time + delay — O(keys in the horizon), never O(stream history), "
    "which unkeyed dropDuplicates cannot guarantee on an unbounded "
    "stream. Cross-micro-batch dedup state is exercised in "
    "tests/test_streaming.py with chronologically landed chunks.",
    tags=("streaming", "dedup"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.streaming.ingest import read_landing_stream

    ev = load_table(spark, sf_dir, "events")
    corpus = ev.unionByName(ev.where(F.col("event_id") % 10 == 0))
    root = scratch_dir("q106_streaming_dedup")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(corpus, landing)
    deduped = (
        read_landing_stream(spark, landing)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "ts")
    )
    (
        deduped.writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    )
    return spark.read.schema(parquet_schema(spark, out)).parquet(out).select(
        "event_id",
        "user_id",
        "event_type",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@query(
    "q143_exactly_once_capture",
    oracle="""
    SELECT event_id, user_id, event_type, value,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM events
    """,
    doc="Exactly-once RAW CAPTURE into the versioned table via txn "
    "markers (Delta txnAppId/txnVersion; streaming/ingest."
    "append_stream_exactly_once): foreachBatch is at-least-once, so "
    "the sink records (app_id, epoch) in each commit and a replayed "
    "batch is skipped TABLE-side — the non-keyed sibling of ST4's "
    "MERGE dedupe, for rows with no business key. The query lands "
    "events as JSON, streams them in, FORCE-REPLAYS the committed "
    "epoch (must be a no-op), reruns the whole stream (checkpoint "
    "no-op), and reads the table back: the oracle proves zero loss "
    "and zero duplication through capture + two replay paths.",
    tags=("streaming", "lakehouse"),
)
def exactly_once_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import (
        append_stream_exactly_once,
        read_landing_stream,
    )

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q143_exactly_once_capture")
    landing = os.path.join(root, "landing")
    ckpt = os.path.join(root, "ckpt")
    t = LakehouseTable(spark, root, "bronze", "event_capture")
    land_json_files(ev, landing)
    stream = read_landing_stream(spark, landing).drop("ingest_ts")
    append_stream_exactly_once(stream, t, ckpt, app_id="q143")
    # forced replay of the last committed epoch: table-side skip
    if t.append_txn(t.read(), "q143", t.last_txn_version("q143")) is not None:
        # explicit raise (survives python -O): the forced replay MUST be
        # skipped table-side or exactly-once is broken
        raise AssertionError("replayed txn was not skipped")
    # full stream rerun: checkpoint-side no-op
    append_stream_exactly_once(
        read_landing_stream(spark, landing).drop("ingest_ts"), t, ckpt, "q143"
    )
    return t.read().select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )


@query(
    "q172_stream_static_enrich",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    v0 AS (
        SELECT user_id,
               CASE WHEN user_id % 5 = 0 THEN 'gold' ELSE 'bronze' END AS tier
        FROM users
    ),
    v1 AS (
        SELECT user_id,
               CASE WHEN user_id % 3 = 0 THEN 'silver' ELSE tier END AS tier
        FROM v0
    )
    SELECT e.event_id, e.user_id, v0.tier
    FROM events e JOIN v0 ON e.user_id = v0.user_id
    WHERE e.event_id % 2 = 0
    UNION ALL
    SELECT e.event_id, e.user_id, v1.tier
    FROM events e JOIN v1 ON e.user_id = v1.user_id
    WHERE e.event_id % 2 = 1
    """,
    doc="STREAM-STATIC ENRICHMENT against an EVOLVING dimension (the "
    "foreachBatch pattern every CDC-fed gold pipeline uses): events "
    "stream in through a checkpointed availableNow file source and "
    "each micro-batch joins the CURRENT version of a versioned "
    "dimension table — re-resolved at batch time, exactly like Spark's "
    "stream-static join re-lists the static side per batch. Between "
    "the two landed chunks the dimension is UPDATED (tier promotion), "
    "so chunk-1 events carry the v0 tier and chunk-2 events the v1 "
    "tier; the checkpoint proves chunk 1 is not reprocessed under the "
    "new dim (no retro-enrichment — that would need an SCD2 "
    "point-in-time join, q153). Dim broadcast per batch; stream side "
    "never shuffles.",
    tags=("streaming", "lakehouse", "join"),
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import read_landing_stream

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q172_stream_static_enrich")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")

    dim = LakehouseTable(spark, root, "silver", "user_tier")
    dim.overwrite(
        ev.select("user_id").distinct().select(
            "user_id",
            F.when(F.col("user_id") % 5 == 0, "gold")
            .otherwise("bronze").alias("tier"),
        )
    )

    def _enrich(batch: DataFrame, _epoch: int) -> None:
        (
            batch.join(F.broadcast(dim.read()), "user_id", "left")
            .select("event_id", "user_id", "tier")
            .write.mode("append").parquet(out)
        )

    def _drain() -> None:
        (
            read_landing_stream(spark, landing)
            .writeStream.trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(_enrich)
            .start()
            .awaitTermination()
        )

    land_json_files(ev.where(F.col("event_id") % 2 == 0), landing)
    _drain()
    dim.update(F.col("user_id") % 3 == 0, {"tier": F.lit("silver")})
    land_json_files(ev.where(F.col("event_id") % 2 == 1), landing)
    _drain()
    return spark.read.schema(parquet_schema(spark, out)).parquet(out)


@query(
    "q179_streaming_windowed_agg",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S')
               AS window_start,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 1000000.0 + 0.5) AS HUGEINT)) // 10000 AS DOUBLE) / 100 AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="END-TO-END STREAMING watermarked window aggregation (the "
    "streaming execution of q33's batch form, registered so the driver "
    "attests the streaming run itself, not just the window() "
    "expression): land events as day-partitioned JSON → availableNow "
    "file stream → withWatermark('1 day') + 6-hour tumbling windows + "
    "APPEND mode (only watermark-closed windows emit — the "
    "bounded-state contract an unbounded stream needs) → parquet sink. "
    "A watermark-advancing flush SENTINEL is landed with the final "
    "batch so every real window finalises in the finite run; its own "
    "aggregate rows carry a marker and are stripped on the BATCH read "
    "(stripping in-stream is unsafe: the group-key filter pushes below "
    "the EventTimeWatermark node and cancels the flush — observed, "
    "documented in streaming/state.py). Oracle = the plain batch "
    "tumbling aggregate: the stream must reproduce it exactly.",
    tags=("streaming", "window"),
)
def streaming_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.streaming.state import (
        read_windowed_counts,
        run_windowed_counts_available_now,
    )

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q179_streaming_windowed_agg")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(ev, landing)
    run_windowed_counts_available_now(spark, landing, ckpt, out, flush_all=True)
    return read_windowed_counts(spark, out)


@query(
    "q246_rate_limited_drain",
    oracle="""
    SELECT CAST(ceil(count(DISTINCT date_trunc('day', ts)) / 3.0) AS BIGINT)
               AS n_batches,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    """,
    doc="RATE-LIMITED BACKFILL drain (ST1's ops knob: "
    "maxFilesPerTrigger=3 under Trigger.availableNow splits a large "
    "landing backlog into bounded micro-batches instead of one "
    "monster batch — THE control that keeps a month-long backfill "
    "from OOMing executors or blowing state-store memory): events "
    "land one file per day, the drain runs with the cap, and the "
    "report proves both the batch arithmetic (n_batches = "
    "⌈days/3⌉ — the cap was honoured) and losslessness (row count "
    "equals the source). Batch count comes from the checkpoint's "
    "committed-offset log, not a counter in user code — the same "
    "place an SRE would look.",
    tags=("streaming",),
)
def rate_limited_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.streaming.ingest import read_landing_stream

    ev = load_table(spark, sf_dir, "events")
    root = scratch_dir("q246_rate_limited_drain")
    landing = os.path.join(root, "landing")
    out = os.path.join(root, "out")
    ckpt = os.path.join(root, "ckpt")
    land_json_files(ev, landing, files_per_day=1)
    stream = read_landing_stream(
        spark, landing, max_files_per_trigger=3
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # committed batches per the checkpoint's offset log — ground truth
    commits = [
        f
        for f in os.listdir(os.path.join(ckpt, "commits"))
        if not f.startswith(".")
    ]
    n_rows = spark.read.schema(parquet_schema(spark, out)).parquet(out).count()
    return local_frame(
        spark, [(len(commits), n_rows)], "n_batches bigint, n_rows bigint"
    )


@query(
    "q262_disorder_lateness_audit",
    oracle="""
    WITH e AS (
        SELECT event_id,
               date_diff('second', TIMESTAMP '1970-01-01', ts) AS t,
               CAST(('0x' || substr(sha256('replay' || '§'
                    || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
        FROM events
    ),
    r AS (
        SELECT t, max(t) OVER (ORDER BY h, event_id) AS rm FROM e
    ),
    tot AS (SELECT count(*) AS n FROM e)
    SELECT band, CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) * 1000000 // any_value(tot.n) AS BIGINT)
               AS share_ppm
    FROM (
        SELECT CASE
            WHEN rm - t = 0 THEN '0_in_order'
            WHEN rm - t <= 60 THEN '1_under_1m'
            WHEN rm - t <= 600 THEN '2_under_10m'
            WHEN rm - t <= 3600 THEN '3_under_1h'
            WHEN rm - t <= 86400 THEN '4_under_1d'
            ELSE '5_over_1d' END AS band
        FROM r
    ), tot
    GROUP BY band
    """,
    doc="WATERMARK TUNING INPUT — the event-time DISORDER profile of an "
    "arrival stream: for every event, lateness = (max event time seen "
    "at its arrival) − (its own event time), banded into the delays an "
    "operator would actually configure (1m/10m/1h/1d); each band's row "
    "count is exactly the data a `withWatermark(delay)` of that bound "
    "would NOT drop, so the table reads directly as the "
    "completeness-vs-latency trade-off (the q70/q94 watermark choices "
    "become measured, not guessed). Arrival order is the portable-hash "
    "replay permutation — the fixture's log is perfectly time-ordered "
    "(the audit on it is all-zeros), so the audit runs the adversarial "
    "interleave a hash-partitioned backfill replay produces; on a real "
    "ingest you'd order by the commit/offset column instead. The "
    "global running max is the bucketed_prefix MAX decomposition "
    "(per-bucket windows + broadcast better-bucket maxes — max is "
    "associative+idempotent so prefix-max splits exactly); buckets "
    "divide the 32-bit hash DOMAIN, so the bucket table is ~512 rows "
    "at any corpus size and no unpartitioned window exists anywhere.",
    tags=("streaming", "ops"),
)
def disorder_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from football_lakehouse_spark.functions.scalars import epoch_seconds
    from football_lakehouse_spark.functions.text import portable_hash
    from football_lakehouse_spark.operators.selection import bucketed_prefix

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        epoch_seconds(F.col("ts")).alias("t"),
        portable_hash(F.col("event_id").cast("string"), seed="replay").alias(
            "h"
        ),
    ).withColumn("bucket", F.expr("h div 8388608"))  # 2^32 / 512 buckets
    r = bucketed_prefix(
        ev,
        "bucket",
        [F.col("h").asc(), F.col("event_id").asc()],
        maxs={"rm": F.col("t")},
    )
    late = r.select((F.col("rm") - F.col("t")).alias("late"))
    band = (
        F.when(F.col("late") == 0, "0_in_order")
        .when(F.col("late") <= 60, "1_under_1m")
        .when(F.col("late") <= 600, "2_under_10m")
        .when(F.col("late") <= 3600, "3_under_1h")
        .when(F.col("late") <= 86400, "4_under_1d")
        .otherwise("5_over_1d")
    )
    tot = late.agg(F.count(F.lit(1)).alias("n"))
    return (
        late.select(band.alias("band"))
        .groupBy("band")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .crossJoin(F.broadcast(tot))
        .select(
            "band",
            "n_events",
            F.expr("n_events * 1000000 div n").cast("bigint").alias("share_ppm"),
        )
    )
