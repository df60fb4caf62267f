"""S1/S2/D2 snapshot-source slice: canonical JSON, hash stability,
single-row lift, idempotent append through the lakehouse layer."""

from __future__ import annotations

import os
from datetime import datetime, timezone

from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.sources.snapshot import (
    canonical_json,
    fetch_snapshot,
    snapshot_dataframe,
)

PAYLOAD = {"teams": [{"id": 2, "name": "B"}, {"id": 1, "name": "A"}], "z": 1, "a": 2}
NOW = datetime(2026, 8, 13, 6, 15, 0, tzinfo=timezone.utc)


def fake_fetcher():
    return 200, PAYLOAD


def test_canonical_json_is_sorted_and_compact():
    text = canonical_json(PAYLOAD)
    assert text.startswith('{"a":2,')
    assert " " not in text
    # key order of the INPUT dict must not matter
    assert text == canonical_json({"z": 1, "a": 2, "teams": PAYLOAD["teams"]})


def test_fetch_snapshot_row_and_hash_stability():
    r1 = fetch_snapshot(fake_fetcher, "fake://bootstrap", "run1", now=NOW)
    r2 = fetch_snapshot(fake_fetcher, "fake://bootstrap", "run2", now=NOW)
    assert r1["payload_sha256"] == r2["payload_sha256"]
    assert r1["http_status"] == 200
    assert r1["payload_size_bytes"] == len(r1["payload_json"].encode())
    assert r1["snapshot_date"] == NOW.date()


def test_snapshot_lift_and_idempotent_append(spark, tmp_path):
    row = fetch_snapshot(fake_fetcher, "fake://bootstrap", "run1", now=NOW)
    df = snapshot_dataframe(spark, row)
    assert df.count() == 1
    assert df.schema["payload_sha256"].dataType.simpleString() == "string"

    t = LakehouseTable(spark, str(tmp_path), "bronze", "bootstrap_raw")
    assert t.append_if_new(df, "payload_sha256") is not None
    # same content, new run → skipped (reference 11_ingest:138-151)
    row2 = fetch_snapshot(fake_fetcher, "fake://bootstrap", "run2", now=NOW)
    assert t.append_if_new(snapshot_dataframe(spark, row2), "payload_sha256") is None
    assert t.read().count() == 1


def test_landing_events_python_datasource_batch(spark, tmp_path):
    """The registered custom source must read the landing zone with the
    S7 contract (typed columns, partition-date recovery, per-file
    lineage) and quarantine corrupt lines into _rescue instead of
    failing the read."""
    from football_lakehouse_spark.sources.pyds import register_landing_source

    d = tmp_path / "landing" / "snapshot_date=2026-02-01"
    d.mkdir(parents=True)
    (d / "part-0.json").write_text(
        '{"event_id":1,"ts":"2026-02-01T10:00:00","user_id":7,'
        '"event_type":"click","value":1.5,"props":"{}"}\n'
        "THIS IS NOT JSON\n"
        '{"event_id":2,"ts":"2026-02-01T11:00:00","user_id":8,'
        '"event_type":"view","value":null,"props":null}\n'
    )
    register_landing_source(spark)
    df = (
        spark.read.format("landing_events")
        .option("path", str(tmp_path / "landing"))
        .load()
    )
    rows = {r.event_id: r for r in df.collect()}
    assert rows[1].event_type == "click" and rows[1].value == 1.5
    assert rows[1].snapshot_date.isoformat() == "2026-02-01"
    assert rows[1].source_file.endswith("part-0.json")
    assert rows[2].value is None
    bad = [r for r in rows.values() if r._rescue is not None]
    assert len(bad) == 1 and bad[0]._rescue == "THIS IS NOT JSON"
    assert df.count() == 3


def test_landing_batch_empty_dir_and_malformed_ts(spark, tmp_path):
    """(a) An EMPTY landing dir must read as an empty DataFrame —
    pyspark substitutes [None] for an empty partition list and still
    calls read(None). (b) A line with a MALFORMED timestamp is rescued
    whole (the same treatment a malformed value gets), never emitted as
    a silently-corrupted row with ts=NULL and _rescue=NULL."""
    from football_lakehouse_spark.sources.pyds import register_landing_source

    register_landing_source(spark)
    empty = tmp_path / "empty_landing"
    empty.mkdir()
    df = (
        spark.read.format("landing_events")
        .option("path", str(empty))
        .load()
    )
    assert df.count() == 0

    d = tmp_path / "landing2" / "snapshot_date=2026-02-01"
    d.mkdir(parents=True)
    (d / "part-0.json").write_text(
        '{"event_id":1,"ts":"not-a-date","user_id":7,'
        '"event_type":"click","value":1.5,"props":"{}"}\n'
        '{"event_id":2,"ts":null,"user_id":8,'
        '"event_type":"view","value":2.0,"props":null}\n'
    )
    rows = (
        spark.read.format("landing_events")
        .option("path", str(tmp_path / "landing2"))
        .load()
        .collect()
    )
    rescued = [r for r in rows if r._rescue is not None]
    assert len(rescued) == 1 and "not-a-date" in rescued[0]._rescue
    assert rescued[0].event_id is None  # whole line rescued, not half-parsed
    ok = [r for r in rows if r._rescue is None]
    assert len(ok) == 1 and ok[0].event_id == 2 and ok[0].ts is None  # missing ts stays a legal NULL


def test_landing_parse_contracts_r11(spark, tmp_path):
    """r11 sweep regression triple: (a) offset-bearing timestamps are
    CONVERTED to UTC before the tzinfo drops (stripping +05:00 in place
    silently shifted the instant by five hours with _rescue NULL);
    (b) a non-integral or boolean JSON id rescues the whole line (int()
    silently truncated 1.5 → 1 — id corruption and possible PK
    collision); (c) a well-formed integral id still parses."""
    from football_lakehouse_spark.sources.pyds import register_landing_source

    d = tmp_path / "landing" / "snapshot_date=2026-02-01"
    d.mkdir(parents=True)
    (d / "part-0.json").write_text(
        '{"event_id":1,"ts":"2026-02-01T12:00:00+05:00","user_id":7,'
        '"event_type":"click","value":1.0,"props":null}\n'
        '{"event_id":1.5,"ts":"2026-02-01T10:00:00","user_id":7,'
        '"event_type":"click","value":1.0,"props":null}\n'
        '{"event_id":2,"ts":"2026-02-01T10:00:00","user_id":true,'
        '"event_type":"view","value":1.0,"props":null}\n'
        '{"event_id":3,"ts":"2026-02-01T09:00:00Z","user_id":8,'
        '"event_type":"view","value":2.0,"props":null}\n'
    )
    register_landing_source(spark)
    df = (
        spark.read.format("landing_events")
        .option("path", str(tmp_path / "landing"))
        .load()
    )
    rows = df.collect()
    rescued = [r for r in rows if r._rescue is not None]
    assert len(rescued) == 2  # the 1.5 id and the boolean id
    assert all(r.event_id is None for r in rescued)
    good = {r.event_id: r for r in rows if r._rescue is None}
    # +05:00 converted: 12:00+05:00 == 07:00 UTC
    assert good[1].ts.isoformat() == "2026-02-01T07:00:00"
    # Z suffix unchanged behavior
    assert good[3].ts.isoformat() == "2026-02-01T09:00:00"


def test_fetch_snapshot_converts_aware_now_to_utc():
    """r11 sweep #4: a caller-supplied non-UTC `now` converts to UTC
    before the tzinfo drops — replace(tzinfo=None) alone shifted
    snapshot_ts by the offset and could flip snapshot_date, corrupting
    the (snapshot_date, sha256) idempotence key."""
    from datetime import datetime, timedelta, timezone as tz

    from football_lakehouse_spark.sources.snapshot import fetch_snapshot

    row = fetch_snapshot(
        lambda: (200, {"a": 1}), "http://example.test", "run-1",
        now=datetime(2026, 8, 16, 1, 30, tzinfo=tz(timedelta(hours=5))),
    )
    assert row["snapshot_ts"] == datetime(2026, 8, 15, 20, 30)
    assert row["snapshot_date"].isoformat() == "2026-08-15"


def test_land_json_files_arrival_stamped_names(spark, tmp_path):
    """The engine's own landing writer stamps every data file
    t<arrival-micros>-<seq>-<uuid>.json: a landed name is never reused,
    and a later landing into the SAME event-date dir sorts above
    earlier ones."""
    from pyspark.sql import functions as F

    from football_lakehouse_spark.streaming.ingest import land_json_files

    land = str(tmp_path / "landing")
    df1 = spark.createDataFrame(
        [(1, "2026-02-01 10:00:00", 1, "click", 1.0, None)],
        "event_id long, ts string, user_id long, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    land_json_files(df1, land)
    first = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(land)
        for f in fs
        if f.endswith(".json") and not f.startswith(("_", "."))
    )
    assert first and all(
        os.path.basename(f).startswith("t") for f in first
    ), first
    # a second landing into the same day dir sorts strictly above
    land_json_files(df1, land)
    second = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(land)
        for f in fs
        if f.endswith(".json") and not f.startswith(("_", "."))
    )
    new = sorted(set(second) - set(first))
    assert new and min(os.path.basename(f) for f in new) > max(
        os.path.basename(f) for f in first
    )
