"""Streaming state & windows — the idiomatic-Spark bonus surface the
reference deliberately avoids (SURVEY.md §2.9: "no watermarks, no
tumbling/sliding/session windows are referenced anywhere"), plus the
watermark+dropDuplicates alternative to MERGE-based dedup (ST4 note).

Everything here runs as finite ``availableNow`` jobs so tests are
deterministic and replayable over a fixed file set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import parquet_schema
from football_lakehouse_spark.functions.scalars import money_sum

from football_lakehouse_spark.streaming.ingest import (
    land_json_files,
    read_landing_stream,
)

#: marker value written into the discriminator column of flush-sentinel
#: rows so they are mechanically strippable downstream
FLUSH_MARKER = "__flush_sentinel__"


def windowed_event_counts(stream: DataFrame, window: str = "6 hours",
                          watermark: str = "1 day") -> DataFrame:
    """Watermarked tumbling-window aggregate: counts + value sums per
    (window, event_type). Late rows beyond the watermark are dropped;
    state is bounded — the 100 TB-stream-safe aggregation shape."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value"), 2).alias("total_value"),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def flush_sentinel(
    batch: DataFrame,
    ts_col: str = "ts",
    marker_col: str = "event_type",
    advance: str = "30 DAYS",
) -> DataFrame:
    """End-of-stream flush sentinel: a 1-row DataFrame shaped like
    ``batch`` whose event time sits ``advance`` past the batch maximum
    and whose ``marker_col`` is :data:`FLUSH_MARKER`.

    Append-mode watermarked aggregation only emits a window once the
    watermark passes its end — so a finite ``availableNow`` run leaves
    every window within ``watermark`` of max event time stuck in state.
    Landing this sentinel with (or after) the final batch pushes the
    watermark past ALL real windows, flushing them; the sentinel's own
    output rows carry the marker and are stripped with
    :func:`strip_flush_rows` (or filtered pre-sink, see
    :func:`run_windowed_counts_available_now`).

    The bump is computed from ``max(ts)`` (exact — not "some row + 30
    days", which under-shoots when the data spans longer than
    ``advance``), without a driver-side action: a 1×1 crossJoin of a
    template row against the aggregated max. An empty ``batch`` yields
    an empty sentinel, which is the right degenerate behaviour.

    Every column other than ``ts_col`` and ``marker_col`` is NULL:
    copying a real row's values (the pre-r12 behaviour) leaked a REAL
    event_id into the sentinel, so any keyed consumer of the shared
    landing zone (merge_stream_into_table's latest-wins dedup) elected
    the sentinel — max ts — and overwrote the real event with marker
    data. The sentinel's only job is to carry an event time and be
    mechanically strippable; it must never collide with a real key.
    """
    bumped = batch.agg(
        (F.max(ts_col) + F.expr(f"INTERVAL {advance}")).alias(ts_col)
    ).where(F.col(ts_col).isNotNull())
    template = batch.limit(1).select(
        *[
            F.lit(None).cast(f.dataType).alias(f.name)
            for f in batch.schema.fields
            if f.name != ts_col
        ]
    )
    return (
        template.crossJoin(bumped)
        .withColumn(marker_col, F.lit(FLUSH_MARKER))
        .select(*batch.columns)
    )


def strip_flush_rows(df: DataFrame, marker_col: str = "event_type") -> DataFrame:
    """Drop sentinel-derived rows from a flushed result.

    Apply this to BATCH reads of the sink, never inside the streaming
    plan: in-stream, a marker predicate is pushed below the
    ``EventTimeWatermark`` node (it's a deterministic group-key filter),
    which starves the watermark operator of the sentinel and cancels
    the flush."""
    # null-safe: a plain != is NULL (dropped) for rows whose marker
    # column is NULL — e.g. a rescued event that parsed without an
    # event_type still produced a real counted group and must survive
    return df.where(~F.col(marker_col).eqNullSafe(F.lit(FLUSH_MARKER)))


def read_windowed_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Batch-read a windowed-counts sink, stripping flush-sentinel
    rows — the companion reader for
    :func:`run_windowed_counts_available_now` with ``flush_all=True``."""
    return strip_flush_rows(
        spark.read.schema(parquet_schema(spark, out_dir)).parquet(out_dir)
    )


def land_flush_sentinel(
    spark: SparkSession,
    landing_dir: str,
    ts_col: str = "ts",
    marker_col: str = "event_type",
    advance: str = "30 DAYS",
) -> None:
    """Land a flush sentinel for everything currently in ``landing_dir``
    (batch read of the same files the stream consumes). Each call lands
    one new sentinel file — rerun-safe for correctness (sentinel rows
    are always stripped) at the cost of one extra 1-row file per call."""
    from football_lakehouse_spark.streaming.ingest import EVENT_SCHEMA

    batch = (
        spark.read.schema(EVENT_SCHEMA)
        .option("basePath", landing_dir)
        .json(landing_dir)
    )
    sentinel = flush_sentinel(batch, ts_col, marker_col, advance)
    if not sentinel.isEmpty():
        land_json_files(sentinel, landing_dir)


def attribution_stream_join(
    spark: SparkSession,
    landing_dir: str,
    watermark: str = "1 hour",
    lookback: str = "30 minutes",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Watermarked stream-stream interval self-join: each ``purchase``
    event matched to the same user's ``click`` events within
    ``[purchase.ts - lookback, purchase.ts]`` — the classic attribution
    join, and a shape the reference engine cannot express at all
    (SURVEY.md §2.9).

    One file-source stream is split into two sides (Spark plans a true
    stream-stream join over the shared source), both watermarked. The
    range condition plus the watermark bound the join state: a buffered
    click evicts once the purchase-side watermark passes
    ``click.ts + lookback``, so state is O(events inside the horizon),
    never O(stream history). Returns (purchase_id, click_id, gap_s);
    gap_s is an exact integer so results hash identically cross-engine.

    ``max_files_per_trigger`` splits the drain into multiple
    micro-batches; file-source ordering is by modification time, so only
    use it when landing mtimes are chronological (the cross-batch test
    lands chunks sequentially for exactly this reason)."""
    stream = read_landing_stream(
        spark, landing_dir, max_files_per_trigger=max_files_per_trigger
    )
    clicks = (
        stream.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND c_ts >= p_ts - INTERVAL {lookback} AND c_ts <= p_ts"
        ),
    )
    from football_lakehouse_spark.functions.scalars import epoch_micros

    return joined.select(
        "purchase_id",
        "click_id",
        F.floor(
            (epoch_micros(F.col("p_ts")) - epoch_micros(F.col("c_ts")))
            / F.lit(1000000)
        ).alias("gap_s"),
    )


def streaming_dedup(stream: DataFrame, watermark: str = "1 day") -> DataFrame:
    """Watermark + dropDuplicatesWithinWatermark on the deterministic
    event key — the Spark-native late/duplicate handling (engine offers
    both this and the MERGE pattern, per SURVEY.md §2 ST4).

    WithinWatermark, not plain dropDuplicates: with the key subset not
    containing the event-time column, plain dropDuplicates keeps every
    key in the state store FOREVER (no watermark eviction) — unbounded
    state on an unbounded stream. WithinWatermark evicts keys once the
    watermark passes them, bounding state to the horizon (the q106 /
    cross-batch-test pattern this helper had drifted from)."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def run_windowed_counts_available_now(
    spark: SparkSession,
    landing_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    flush_all: bool = False,
) -> None:
    """Finite windowed-aggregation job: landing files → watermarked
    tumbling windows → parquet.

    Append mode emits only windows the watermark has CLOSED: windows
    within ``watermark`` of the max event time stay in state at
    end-of-input and appear on the next run once later data lands.
    That is the correct bounded-state contract. ``flush_all=True`` opts
    into flush-all semantics: a watermark-advancing sentinel is landed
    first (:func:`land_flush_sentinel`) so every real window finalises
    in this run. The sentinel's own aggregate rows DO land in the sink
    (carrying :data:`FLUSH_MARKER`) and are stripped on read via
    :func:`read_windowed_counts` — filtering them pre-sink is unsafe:
    the marker predicate is a group-key filter, so Catalyst pushes it
    below the ``EventTimeWatermark`` node, the sentinel rows never
    reach the watermark operator, and the flush silently un-happens
    (observed, not hypothetical)."""
    if flush_all:
        land_flush_sentinel(spark, landing_dir)
    stream = read_landing_stream(spark, landing_dir)
    agg = windowed_event_counts(stream)
    q = (
        agg.writeStream.trigger(availableNow=True)
        .outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.awaitTermination()
