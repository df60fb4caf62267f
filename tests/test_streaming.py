"""Streaming slice: exactly-once availableNow reruns, late/duplicate
MERGE via foreachBatch, watermarked windowed aggregation, rescue
column on corrupt records."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.functions.scalars import epoch_micros
from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.streaming.ingest import (
    ingest_available_now,
    land_json_files,
    merge_stream_into_table,
)
from football_lakehouse_spark.streaming.state import (
    FLUSH_MARKER,
    attribution_stream_join,
    flush_sentinel,
    read_windowed_counts,
    run_windowed_counts_available_now,
    strip_flush_rows,
)
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_available_now_exactly_once(spark, events, tmp_path):
    landing, bronze, ckpt = (str(tmp_path / d) for d in ("landing", "bronze", "ckpt"))
    land_json_files(events.limit(200), landing)
    ingest_available_now(spark, landing, bronze, ckpt)
    n1 = spark.read.parquet(bronze).count()
    assert n1 == 200
    # rerun with same checkpoint: no new files → no new rows
    ingest_available_now(spark, landing, bronze, ckpt)
    assert spark.read.parquet(bronze).count() == 200
    # new files land → only the increment is processed
    land_json_files(events.where(F.col("event_id").between(200, 299)), landing)
    ingest_available_now(spark, landing, bronze, ckpt)
    assert spark.read.parquet(bronze).count() == 300
    # lineage column present
    assert "source_file" in spark.read.parquet(bronze).columns
    # late arrival: a file landing in the earliest already-consumed
    # partition dir, under a name that sorts below every landed file,
    # is read exactly once
    first_dir = min(d for d in os.listdir(landing) if d.startswith("snapshot_date="))
    day = first_dir.split("=", 1)[1]
    with open(os.path.join(landing, first_dir, "a_late.json"), "w") as fh:
        fh.write(json.dumps({
            "event_id": 10**12, "ts": f"{day}T00:00:00", "user_id": 1,
            "event_type": "click", "value": 1.0, "props": None,
        }) + "\n")
    assert all(
        "a_late.json" < f
        for _r, _d, fs in os.walk(landing)
        for f in fs
        if f.endswith(".json") and f != "a_late.json"
    )
    ingest_available_now(spark, landing, bronze, ckpt)
    got = spark.read.parquet(bronze)
    assert got.count() == 301
    late = got.where(F.col("event_id") == 10**12).collect()
    assert len(late) == 1 and late[0].source_file.endswith("a_late.json")
    assert str(late[0].snapshot_date) == day
    ingest_available_now(spark, landing, bronze, ckpt)
    assert spark.read.parquet(bronze).count() == 301


def test_foreach_batch_merge_late_duplicates(spark, events, tmp_path):
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    table = LakehouseTable(spark, str(tmp_path), "silver", "live_event")

    def to_silver(batch):
        return batch.select("event_id", "ts", "user_id", "event_type", "value")

    base = events.limit(100)
    land_json_files(base, landing)
    merge_stream_into_table(spark, landing, ckpt, table, transform=to_silver)
    assert table.read().count() == 100

    # late batch: 20 duplicates with LATER ts + bumped value, plus 10 new events
    dup = (
        base.limit(20)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.lit(9999.0))
    )
    new = events.where(F.col("event_id").between(900, 909))
    land_json_files(dup.unionByName(new), landing)
    merge_stream_into_table(spark, landing, ckpt, table, transform=to_silver)

    got = table.read()
    assert got.count() == 110  # upserted, not appended
    assert got.where(F.col("value") == 9999.0).count() == 20  # latest won
    # rerun-safe: draining again changes nothing
    merge_stream_into_table(spark, landing, ckpt, table, transform=to_silver)
    assert table.read().count() == 110


def test_merge_stream_quarantine_crash_between_sinks(spark, events, tmp_path):
    """The ST4 two-sink epoch (quarantine append_txn, then MERGE) killed
    between its commits and restarted on the same checkpoint: the
    replayed epoch must skip the quarantine table-side (txn marker) and
    run the merge — no duplicate quarantined rows, no lost upserts.
    Same class as the span-stream crash test; MERGE needs no txn marker
    because upsert-by-key is naturally replay-idempotent."""
    landing, ckpt = str(tmp_path / "landing"), str(tmp_path / "ckpt")
    table = LakehouseTable(spark, str(tmp_path), "silver", "live_event")
    quar = LakehouseTable(spark, str(tmp_path), "silver", "quarantine")

    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    base = events.limit(30).select(*cols)
    bad = base.limit(5).withColumn("event_id", F.lit(None).cast("long"))
    land_json_files(base.unionByName(bad), landing)

    def to_silver(batch):
        return batch.select(*cols)

    crashes = {"n": 0}

    def crashing_merge(batch, keys):
        crashes["n"] += 1
        raise RuntimeError("injected crash between quarantine commit and merge")

    table.merge = crashing_merge  # instance attribute shadows the method
    with pytest.raises(Exception, match="injected crash"):
        merge_stream_into_table(
            spark, landing, ckpt, table,
            transform=to_silver, quarantine_table=quar,
        )
    del table.merge  # restore the real bound method
    # half-committed epoch: quarantine landed, merge never ran
    assert crashes["n"] >= 1
    assert quar.read().count() == 5
    assert not table.exists()

    # restart on the SAME checkpoint: quarantine skips, merge runs
    merge_stream_into_table(
        spark, landing, ckpt, table,
        transform=to_silver, quarantine_table=quar,
    )
    assert table.read().count() == 30
    assert table.read().where(F.col("event_id").isNull()).count() == 0
    assert quar.read().count() == 5  # not re-appended on the replay


def test_windowed_counts_stream_matches_batch(spark, events, tmp_path):
    """Flush-all via the public operator: land batch, run with
    flush_all=True — every window finalises and no sentinel rows leak
    into the sink."""
    landing, ckpt, out = (str(tmp_path / d) for d in ("landing", "ckpt", "out"))
    sample = events.limit(500)
    land_json_files(sample, landing)
    run_windowed_counts_available_now(spark, landing, ckpt, out, flush_all=True)
    streamed = read_windowed_counts(spark, out)
    assert streamed.where(F.col("event_type") == FLUSH_MARKER).count() == 0
    batch = (
        sample.groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n", "total_value",
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_stream_join_cross_batch(spark, events, tmp_path):
    """The watermarked stream-stream interval join must find pairs that
    SPAN micro-batch boundaries (purchase arrives batches after its
    click was buffered). Six 5-day chunks land sequentially so file
    mtimes are chronological across chunks; maxFilesPerTrigger=5 makes
    each chunk ≈ one micro-batch; the 6-day watermark exceeds any
    within-chunk mtime disorder so nothing is dropped. Expected = the
    equivalent batch interval join."""
    landing, ckpt, out = (str(tmp_path / d) for d in ("landing", "ckpt", "out"))
    for lo, hi in ((1, 5), (6, 10), (11, 15), (16, 20), (21, 25), (26, 31)):
        land_json_files(events.where(F.dayofmonth("ts").between(lo, hi)), landing)

    joined = attribution_stream_join(
        spark, landing, watermark="6 days", lookback="12 hours",
        max_files_per_trigger=5,
    )
    (
        joined.writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    )
    got = sorted(map(tuple, spark.read.parquet(out).collect()))

    p = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    expected_df = p.join(
        c,
        F.expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 12 hours AND c_ts <= p_ts"),
    ).select(
        "purchase_id",
        "click_id",
        F.floor(
            (epoch_micros(F.col("p_ts")) - epoch_micros(F.col("c_ts")))
            / F.lit(1000000)
        ).alias("gap_s"),
    )
    expected = sorted(map(tuple, expected_df.collect()))
    assert len(expected) > 0
    assert got == expected
    # at least one pair genuinely crosses a chunk/batch boundary
    days = {
        r.purchase_id: r.p_day
        for r in events.select(
            F.col("event_id").alias("purchase_id"), F.dayofmonth("ts").alias("p_day")
        ).collect()
    }
    cross = [
        (pid, cid)
        for pid, cid, _ in expected
        if (days[pid] - 1) // 5 != (days[cid] - 1) // 5
    ]
    assert cross, "fixture produced no cross-chunk pair; widen lookback"


def test_flush_sentinel_exact_max(spark, events):
    """The sentinel bump is computed from max(ts) — exact even when the
    data spans longer than the advance interval (a limit(1)-row bump
    would under-shoot there)."""
    sample = events.limit(300)
    sent = flush_sentinel(sample, advance="30 DAYS")
    assert sent.count() == 1
    row = sent.collect()[0]
    assert row["event_type"] == FLUSH_MARKER
    max_ts = sample.agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta

    assert row["ts"] == max_ts + timedelta(days=30)
    # same columns, same order — unionByName/landing-compatible
    assert sent.columns == sample.columns
    # strip removes exactly the sentinel rows
    both = sample.unionByName(sent)
    assert strip_flush_rows(both).count() == 300


def test_flush_sentinel_empty_batch(spark, events):
    assert flush_sentinel(events.limit(0)).count() == 0


def test_schema_evolution_new_column(spark, events, tmp_path):
    """ST3 schema drift: files landed BEFORE a column existed read as
    NULL for it; files landed after populate it — the engine's
    addNewColumns evolution (evolve_schema=True): the restarted stream
    adopts the column from the schema log automatically; checkpoint
    offsets carry over (no reprocessing)."""
    landing, bronze, ckpt = (str(tmp_path / d) for d in ("landing", "bronze", "ckpt"))
    land_json_files(events.limit(50), landing)
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)

    evolved = (
        events.where(F.col("event_id").between(100, 149))
        .withColumn("device", F.concat(F.lit("dev-"), (F.col("event_id") % 3).cast("string")))
    )
    land_json_files(evolved, landing)
    # restart: same checkpoint; the engine must adopt `device` on its own
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)

    got = spark.read.option("mergeSchema", "true").parquet(bronze)
    # offsets honoured: 50 old + 50 new rows, no reprocessing
    assert got.count() == 100
    assert "device" in got.columns
    # old rows read as NULL for the evolved column; new rows populate it
    assert got.where(F.col("device").isNull()).count() == 50
    assert got.where(F.col("device").isNotNull()).count() == 50
    # nothing rescued: well-formed drift is adopted, not quarantined
    assert got.where(F.col("_rescue").isNotNull()).count() == 0


def test_schema_evolution_keeps_rescue_and_old_columns(spark, events, tmp_path):
    """Evolution survives the column ageing OUT of the landing zone
    (schema log remembers it) and corrupt lines still land in _rescue."""
    import shutil

    landing, bronze, ckpt = (str(tmp_path / d) for d in ("landing", "bronze", "ckpt"))
    evolved = events.limit(20).withColumn("extra_col", F.lit("x"))
    land_json_files(evolved, landing)
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)

    # producer reverts (new landing files WITHOUT extra_col) + a corrupt line
    shutil.rmtree(landing)
    land_json_files(events.where(F.col("event_id").between(500, 519)), landing)
    day = tmp_path / "landing" / "snapshot_date=2024-01-01"
    day.mkdir(parents=True, exist_ok=True)
    with open(day / "corrupt.json", "w") as f:
        f.write('{"event_id": not-json\n')
    ingest_available_now(spark, landing, bronze, ckpt, evolve_schema=True)

    got = spark.read.option("mergeSchema", "true").parquet(bronze)
    assert "extra_col" in got.columns  # remembered from the schema log
    assert got.where(F.col("_rescue").isNotNull()).count() == 1
    assert got.where(F.col("extra_col").isNotNull()).count() == 20


def test_schema_evolution_ignores_corrupt_record_column(spark, events, tmp_path):
    """PERMISSIVE JSON inference appends the engine's corrupt-record
    column (spark.sql.columnNameOfCorruptRecord) to the inferred schema
    exactly when the landing dir holds a malformed line — the scenario
    _rescue exists for. That engine-internal column must NOT be adopted
    as a producer column: the schema log is additive-only, so one
    malformed file would otherwise pin it in the contract forever."""
    from football_lakehouse_spark.streaming.ingest import evolve_landing_schema

    landing = tmp_path / "landing" / "snapshot_date=2024-01-01"
    landing.mkdir(parents=True)
    good = {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 7,
            "event_type": "click", "value": 1.5, "props": "{}", "device": "dev-1"}
    with open(landing / "batch.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write('{"event_id": not-json\n')

    corrupt_col = spark.conf.get(
        "spark.sql.columnNameOfCorruptRecord", "_corrupt_record"
    )
    # premise: inference over this dir really does surface the column
    inferred = spark.read.option("basePath", str(tmp_path / "landing")).json(
        str(tmp_path / "landing")
    )
    assert corrupt_col in inferred.columns

    ckpt = str(tmp_path / "ckpt")
    ddl = evolve_landing_schema(spark, str(tmp_path / "landing"), ckpt)
    assert corrupt_col not in ddl
    assert "device" in ddl  # the legal drift column IS adopted
    with open(os.path.join(ckpt, "_schema_log.json")) as f:
        logged = json.load(f)
    assert corrupt_col not in {fld["name"] for fld in logged["fields"]}


def test_rescue_column_on_corrupt_records(spark, events, tmp_path):
    landing = tmp_path / "landing" / "snapshot_date=2024-01-01"
    landing.mkdir(parents=True)
    good = {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 7,
            "event_type": "click", "value": 1.5, "props": "{}"}
    with open(landing / "batch.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write('{"event_id": oops-not-json\n')
    bronze, ckpt = str(tmp_path / "bronze"), str(tmp_path / "ckpt")
    ingest_available_now(spark, str(tmp_path / "landing"), bronze, ckpt)
    got = spark.read.parquet(bronze)
    assert got.count() == 2
    rescued = got.where(F.col("_rescue").isNotNull())
    assert rescued.count() == 1  # corrupt line kept, not dropped (ST3)
    assert got.where(F.col("event_id") == 1).count() == 1


def test_land_json_files_per_day_fanout(spark, events, tmp_path):
    """files_per_day actually fans each day out into multiple files
    (salted shuffle), so one hot day cannot serialise into a single
    writer task (ADVICE round 1)."""
    import glob

    landing = str(tmp_path / "landing")
    sample = events.limit(2000)
    n_src = sample.count()
    land_json_files(sample, landing, files_per_day=4)
    day_dirs = glob.glob(landing + "/snapshot_date=*")
    assert day_dirs
    multi = [d for d in day_dirs if len(glob.glob(d + "/*.json")) > 1]
    # hash placement is approximate; most days must fan out
    assert len(multi) >= max(1, len(day_dirs) // 2)
    assert spark.read.json(landing).count() == n_src


def test_merge_stream_quarantines_rescued_rows(spark, events, tmp_path):
    """Rescued/corrupt rows (null merge key) are routed to quarantine,
    not merged — otherwise one null-key row accumulates per micro-batch
    (ADVICE round 1)."""
    landing = tmp_path / "landing" / "snapshot_date=2024-01-01"
    landing.mkdir(parents=True)
    good = {"event_id": 1, "ts": "2024-01-01T00:00:00.000Z", "user_id": 7,
            "event_type": "click", "value": 1.5, "props": "{}"}
    with open(landing / "batch1.json", "w") as f:
        f.write(json.dumps(good) + "\n")
        f.write('{"event_id": oops-not-json\n')
    table = LakehouseTable(spark, str(tmp_path), "silver", "ev")
    quarantine = LakehouseTable(spark, str(tmp_path), "silver", "ev_quarantine")
    ckpt = str(tmp_path / "ckpt")
    merge_stream_into_table(
        spark, str(tmp_path / "landing"), ckpt, table,
        quarantine_table=quarantine,
    )
    assert table.read().count() == 1
    assert table.read().where(F.col("event_id").isNull()).count() == 0
    assert quarantine.read().count() == 1
    # second corrupt batch: still exactly zero null keys in the table
    with open(landing / "batch2.json", "w") as f:
        f.write('{"event_id": also-bad\n')
    merge_stream_into_table(
        spark, str(tmp_path / "landing"), ckpt, table,
        quarantine_table=quarantine,
    )
    assert table.read().where(F.col("event_id").isNull()).count() == 0
    assert quarantine.read().count() == 2


def test_stateful_state_query_rerun_deterministic(spark):
    """q91 end-to-end twice in one session: fresh scratch per run, same
    final state both times (land → stream → stateful fold is
    deterministic because the state is integer micro-units)."""
    from football_lakehouse_spark.plans import registry
    from tests.conftest import SF_SMOKE

    build = registry.REGISTRY["q91_stateful_state"].builder
    r1 = sorted(map(tuple, build(spark, SF_SMOKE).collect()))
    r2 = sorted(map(tuple, build(spark, SF_SMOKE).collect()))
    assert r1 == r2
    assert r1


def test_streaming_dedup_cross_batch(spark, events, tmp_path):
    """dropDuplicatesWithinWatermark must drop a replay that arrives
    micro-batches AFTER the original was emitted (dedup state survives
    batch boundaries), and must keep genuinely new events. Chunks land
    chronologically; the replays of chunk-1 events ride along in
    chunk 2."""
    from football_lakehouse_spark.streaming.ingest import (
        land_json_files,
        read_landing_stream,
    )

    landing, ckpt, out = (str(tmp_path / d) for d in ("landing", "ckpt", "out"))
    chunk1 = events.where(F.dayofmonth("ts").between(1, 10))
    chunk2 = events.where(F.dayofmonth("ts").between(11, 20))
    replays = chunk1.where(F.col("event_id") % 3 == 0)
    assert replays.count() > 0
    land_json_files(chunk1, landing)
    land_json_files(chunk2.unionByName(replays), landing)

    deduped = (
        read_landing_stream(spark, landing, max_files_per_trigger=5)
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    (
        deduped.writeStream.trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    )
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    want = sorted(
        r.event_id for r in chunk1.unionByName(chunk2).select("event_id").collect()
    )
    assert got == want


def test_exactly_once_append_survives_batch_replay(spark, tmp_path):
    """foreachBatch is at-least-once; the txn marker makes the sink
    exactly-once: a forced replay of an already-committed epoch
    changes nothing, and a second incremental run appends only the
    NEW files' rows."""
    from football_lakehouse_spark.catalog import load_table
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import (
        append_stream_exactly_once,
        land_json_files,
        read_landing_stream,
    )
    from tests.conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "event_type", "value", "ts"
    )
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    t = LakehouseTable(spark, str(tmp_path / "tbl"), "bronze", "ev_txn")

    first = events.where(F.col("event_id") % 2 == 0)
    land_json_files(first, landing)
    stream = read_landing_stream(spark, landing).drop("ingest_ts")
    append_stream_exactly_once(stream, t, ckpt, app_id="ev_capture")
    n1 = t.read().count()
    assert n1 == first.count()

    # forced replay of the committed epoch: skipped, no duplicates
    last_v = t.last_txn_version("ev_capture")
    replay = t.append_txn(
        t.read(), app_id="ev_capture", txn_version=last_v
    )
    assert replay is None
    assert t.read().count() == n1

    # incremental second run picks up only the newly landed files
    second = events.where(F.col("event_id") % 2 == 1)
    land_json_files(second, landing)
    stream2 = read_landing_stream(spark, landing).drop("ingest_ts")
    append_stream_exactly_once(stream2, t, ckpt, app_id="ev_capture")
    assert t.read().count() == events.count()


def test_span_dedup_stream_waves_and_rerun(spark, tmp_path):
    """q291 recipe contract: wave 2 is trimmed against passages first
    seen in waves 0/1 (the index folds each batch's keys in), a
    batch-unique passage survives untouched, and re-draining the same
    landing with the same checkpoint is a no-op (no duplicate trimmed
    rows, no index growth)."""
    import os

    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import span_dedup_stream

    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    trimmed = LakehouseTable(spark, str(tmp_path / "lake"), "silver", "trimmed")
    idx = LakehouseTable(spark, str(tmp_path / "lake"), "silver", "idx")

    boiler = "b1 b2 b3 b4 b5"
    waves = [
        # wave 0: introduces the boilerplate
        [(1, boiler + " u1 u2")],
        # wave 1: repeats it (trimmed against wave 0's keys) + unique doc
        [(2, "v1 " + boiler), (3, "w1 w2 w3 w4 w5 w6")],
        # wave 2: repeats it again -> trimmed against the GROWN index
        [(4, boiler + " x1")],
    ]
    for rows in waves:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(landing)
        span_dedup_stream(spark, landing, ckpt, trimmed, idx, n=5)

    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in trimmed.read().collect()}
    assert got == {
        1: (boiler + " u1 u2", 0),  # first occurrence: nothing to probe
        2: ("v1", 5),
        3: ("w1 w2 w3 w4 w5 w6", 0),
        4: ("x1", 5),
    }
    n_idx = idx.read().count()

    # rerun with nothing new landed: checkpoint makes it a no-op
    span_dedup_stream(spark, landing, ckpt, trimmed, idx, n=5)
    assert trimmed.read().count() == 4
    assert idx.read().count() == n_idx
    assert os.path.isdir(ckpt)


def test_span_dedup_stream_exactly_once_tables(spark, tmp_path):
    """The exactly-once form: trimmed corpus and index commit via
    append_txn, so a REPLAYED micro-batch (same epoch, fresh
    checkpoint over the same landing) is skipped table-side — no
    duplicate trimmed rows AND no duplicate index keys."""
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import span_dedup_stream

    root = str(tmp_path / "lake")
    landing = str(tmp_path / "landing")
    trimmed_t = LakehouseTable(spark, root, "silver", "trimmed_docs")
    index_t = LakehouseTable(spark, root, "silver", "span_keys")

    boiler = "b1 b2 b3 b4 b5"
    spark.createDataFrame(
        [(1, boiler + " u1"), (2, "v1 " + boiler)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(landing)
    span_dedup_stream(
        spark, landing, str(tmp_path / "ck1"), trimmed_t, index_t
    )
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in trimmed_t.read().collect()}
    # both docs share the boilerplate -> both occurrences trimmed
    assert got == {1: ("u1", 5), 2: ("v1", 5)}
    n_keys = index_t.read().count()
    assert n_keys > 0

    # simulate a replay: a FRESH checkpoint re-reads the same landing
    # and re-runs epoch 0 — append_txn must skip both sinks
    span_dedup_stream(
        spark, landing, str(tmp_path / "ck2"), trimmed_t, index_t
    )
    assert trimmed_t.read().count() == 2
    assert index_t.read().count() == n_keys


def test_span_dedup_stream_crash_between_sink_commits(spark, tmp_path):
    """r10 verdict watch item → evidence: kill the stream AFTER the
    trimmed-corpus append_txn commits but BEFORE the key-fold
    append_txn (the half-committed epoch), then restart on the SAME
    checkpoint. The replayed epoch must skip the trimmed sink
    table-side and commit the index — both sinks converge with no
    duplicate trimmed rows and no lost index keys (a later wave still
    probes the full key set)."""
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import span_dedup_stream

    root = str(tmp_path / "lake")
    landing = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    trimmed_t = LakehouseTable(spark, root, "silver", "trimmed_docs")
    index_t = LakehouseTable(spark, root, "silver", "span_keys")

    boiler = "b1 b2 b3 b4 b5"
    spark.createDataFrame(
        [(1, boiler + " u1"), (2, "v1 " + boiler)],
        "doc_id long, text string",
    ).coalesce(1).write.mode("append").parquet(landing)

    crashes = {"n": 0}

    def crashing_append_txn(df, app_id, txn_version, **kw):
        crashes["n"] += 1
        raise RuntimeError("injected crash between the two sink commits")

    index_t.append_txn = crashing_append_txn  # instance attribute shadows
    with pytest.raises(Exception, match="injected crash"):
        span_dedup_stream(
            spark, landing, ckpt, trimmed_t, index_t
        )
    del index_t.append_txn  # restore the real bound method
    # half-committed epoch: trimmed landed, index did not
    assert crashes["n"] >= 1
    assert {r.doc_id for r in trimmed_t.read().collect()} == {1, 2}
    assert not index_t.exists()

    # restart on the SAME checkpoint: the epoch replays — trimmed
    # skips (txn already committed), index commits
    span_dedup_stream(
        spark, landing, ckpt, trimmed_t, index_t
    )
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in trimmed_t.read().collect()}
    assert got == {1: ("u1", 5), 2: ("v1", 5)}  # no duplicates
    n_keys = index_t.read().count()
    assert n_keys > 0

    # no lost keys: a later wave repeating the boilerplate is trimmed
    spark.createDataFrame(
        [(3, boiler + " z1")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(landing)
    span_dedup_stream(
        spark, landing, ckpt, trimmed_t, index_t
    )
    got = {r.doc_id: (r.text, r.n_tokens_removed)
           for r in trimmed_t.read().collect()}
    assert got[3] == ("z1", 5)
    # doc 3 contributes exactly one NEW shingle key (b2..z1); the
    # boilerplate shingle is already indexed and must not re-append
    assert index_t.read().count() == n_keys + 1
    assert len(got) == 3


def test_span_dedup_stream_keep_canonical_boundary_invariant(spark, tmp_path):
    """r10 review: with keep_canonical=True the stored corpus is the
    SAME whether two sharing docs co-arrive in one micro-batch or one
    wave apart (ids arrival-ordered) — the within-batch election keeps
    the lowest (doc_id, span_start) occurrence, matching the
    cross-batch first-arrival-survives rule. The default remove-all
    form is batch-boundary DEPENDENT by design (documented)."""
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import span_dedup_stream

    boiler = "b1 b2 b3 b4 b5"
    rows = [(1, boiler + " u1"), (2, "v1 " + boiler)]

    def run(tag, waves):
        landing = str(tmp_path / f"landing_{tag}")
        lake = str(tmp_path / f"lake_{tag}")
        trimmed = LakehouseTable(spark, lake, "silver", "trimmed")
        idx = LakehouseTable(spark, lake, "silver", "idx")
        ckpt = str(tmp_path / f"ck_{tag}")
        for wave in waves:
            spark.createDataFrame(
                wave, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(landing)
            span_dedup_stream(
                spark, landing, ckpt, trimmed, idx, n=5,
                keep_canonical=True,
            )
        return {r.doc_id: (r.text, r.n_tokens_removed)
                for r in trimmed.read().collect()}

    together = run("one", [rows])
    split = run("two", [[rows[0]], [rows[1]]])
    expect = {1: (boiler + " u1", 0), 2: ("v1", 5)}
    assert together == expect
    assert split == expect


def test_span_dedup_stream_keep_canonical_adjacent_content(spark, tmp_path):
    """r10 review #2 failure scenario: boilerplate B already in the
    corpus, and a batch carrying A1='B N', A2='B N' where N is a NEW
    passage adjacent to B. Without provenance-split islands the merged
    span is marked in_corpus and N is deleted from BOTH docs (permanent
    loss — its keys still fold into the index). With the split, B trims
    everywhere, N keeps exactly one canonical — and the one-batch vs
    two-batch corpora are identical."""
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable
    from football_lakehouse_spark.streaming.ingest import span_dedup_stream

    b = "b1 b2 b3 b4 b5 b6"
    nw = "n1 n2 n3 n4 n5 n6"
    corpus_doc = [(100, b)]
    a1, a2 = (1, b + " " + nw), (2, b + " " + nw)

    def run(tag, waves):
        landing = str(tmp_path / f"landing_{tag}")
        lake = str(tmp_path / f"lake_{tag}")
        trimmed = LakehouseTable(spark, lake, "silver", "trimmed")
        idx = LakehouseTable(spark, lake, "silver", "idx")
        ckpt = str(tmp_path / f"ck_{tag}")
        for wave in waves:
            spark.createDataFrame(
                wave, "doc_id long, text string"
            ).coalesce(1).write.mode("append").parquet(landing)
            span_dedup_stream(
                spark, landing, ckpt, trimmed, idx, n=5,
                keep_canonical=True,
            )
        return {r.doc_id: (r.text, r.n_tokens_removed)
                for r in trimmed.read().collect()}

    expect = {
        100: (b, 0),     # the corpus doc itself arrives first, untouched
        1: (nw, 6),      # B trimmed (stored), N survives as canonical
        2: ("", 12),     # B stored + N's canonical lives in doc 1
    }
    together = run("one", [corpus_doc, [a1, a2]])
    split = run("two", [corpus_doc, [a1], [a2]])
    assert together == expect
    assert split == expect


def test_strip_flush_rows_keeps_null_marker_groups(spark):
    """A NULL group key (e.g. a rescued event that parsed without an
    event_type) is real counted data; a plain != dropped it with the
    sentinel. Only the exact FLUSH_MARKER rows may be stripped."""
    from football_lakehouse_spark.streaming.state import (
        FLUSH_MARKER,
        strip_flush_rows,
    )

    df = spark.createDataFrame(
        [("purchase", 3), (None, 2), (FLUSH_MARKER, 1)],
        "event_type string, n bigint",
    )
    got = {r.event_type: r.n for r in strip_flush_rows(df).collect()}
    assert got == {"purchase": 3, None: 2}


def test_flush_sentinel_custom_marker_col(spark, events):
    """ADVICE r12: a producer stamping sentinels into a NON-default
    marker column must have them recognised by the shared strip helper
    with the same marker_col — not silently quarantined as NULL-key
    rows (merge_stream_into_table now forwards marker_col to
    strip_flush_rows for exactly this reason)."""
    sample = events.limit(50).withColumn("etype", F.lit("real"))
    sent = flush_sentinel(sample, marker_col="etype", advance="1 DAY")
    assert sent.collect()[0]["etype"] == FLUSH_MARKER
    both = sample.unionByName(sent)
    # default marker_col does NOT strip it; matching marker_col does
    assert strip_flush_rows(both).count() == 51
    assert strip_flush_rows(both, marker_col="etype").count() == 50
