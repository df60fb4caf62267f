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


def test_landing_events_python_datasource_stream(spark, tmp_path):
    """The stream reader's offsets are file-granular: a first availableNow
    drain reads the initial file; files landing afterwards are exactly
    the delta of the next drain (resume from checkpoint)."""
    from football_lakehouse_spark.sources.pyds import register_landing_source

    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.json").write_text(
        '{"event_id":1,"ts":"2026-02-01T10:00:00","user_id":7,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )
    register_landing_source(spark)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("landing_events")
            .option("path", str(land))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 1
    (land / "b.json").write_text(
        '{"event_id":2,"ts":"2026-02-01T11:00:00","user_id":8,'
        '"event_type":"view","value":2.0,"props":null}\n'
        '{"event_id":3,"ts":"2026-02-01T12:00:00","user_id":9,'
        '"event_type":"purchase","value":3.0,"props":null}\n'
    )
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 3
    assert {r.event_id for r in got.collect()} == {1, 2, 3}

    # Out-of-order arrival: "0_late.json" sorts BEFORE every consumed
    # file. Content-addressed offsets must read it exactly once (a
    # positional count offset would re-read a.json and skip it).
    (land / "0_late.json").write_text(
        '{"event_id":4,"ts":"2026-02-01T09:00:00","user_id":5,'
        '"event_type":"click","value":4.0,"props":null}\n'
    )
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 4
    assert {r.event_id for r in got.collect()} == {1, 2, 3, 4}


def test_landing_stream_offsets_replayable_and_capped(tmp_path):
    """Reader-level contract: offsets are content-addressed file sets, so
    (1) readBetweenOffsets replays the SAME rows after new arrivals,
    (2) late out-of-order files surface in the next batch, and
    (3) maxFilesPerBatch bounds driver prefetch per micro-batch."""
    from football_lakehouse_spark.sources.pyds import LandingStreamReader

    land = tmp_path / "landing"
    land.mkdir()

    def put(name, eid):
        (land / name).write_text(
            '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
            '"event_type":"click","value":1.0,"props":null}\n' % eid
        )

    put("b.json", 1)
    put("c.json", 2)
    rdr = LandingStreamReader({"path": str(land)})
    start = rdr.initialOffset()
    rows1, end1 = rdr.read(start)
    assert sorted(r[0] for r in rows1) == [1, 2]
    assert sorted(end1["consumed"]) == ["b.json", "c.json"]

    # a.json sorts before both consumed files — replay of (start, end1)
    # must NOT change, and the next batch must be exactly a.json.
    put("a.json", 3)
    replay = list(rdr.readBetweenOffsets(start, end1))
    assert sorted(r[0] for r in replay) == [1, 2]
    rows2, end2 = rdr.read(end1)
    assert [r[0] for r in rows2] == [3]
    assert sorted(end2["consumed"]) == ["a.json", "b.json", "c.json"]

    # maxFilesPerBatch=1: a 2-file backlog drains in two bounded slices.
    put("d.json", 4)
    put("e.json", 5)
    capped = LandingStreamReader({"path": str(land), "maxFilesPerBatch": "1"})
    r3, end3 = capped.read(end2)
    r4, end4 = capped.read(end3)
    assert [r[0] for r in r3] == [4] and [r[0] for r in r4] == [5]

    # Legacy positional offsets ({"files": n}) still resolve.
    legacy_rows = list(rdr.readBetweenOffsets({"files": 0}, {"files": 1}))
    assert [r[0] for r in legacy_rows] == [3]  # a.json is first in sort order


def test_landing_partition_stream_reader_contract(tmp_path):
    """Partition-planning reader (the default stream path): offsets are
    the same content-addressed file sets as the simple reader, planning
    is the pure set difference (stateless → replay-safe), one
    InputPartition per pending file (executor-side parses), and
    maxFilesPerBatch advances latestOffset by bounded slices once a
    baseline exists."""
    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()

    def put(name, eid):
        (land / name).write_text(
            '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
            '"event_type":"click","value":1.0,"props":null}\n' % eid
        )

    put("b.json", 1)
    put("c.json", 2)
    rdr = LandingPartitionStreamReader({"path": str(land)})
    start = rdr.initialOffset()
    end1 = rdr.latestOffset()
    assert sorted(end1["consumed"]) == ["b.json", "c.json"]
    parts1 = rdr.partitions(start, end1)
    assert len(parts1) == 2  # one partition per pending file
    rows1 = [r for p in parts1 for r in rdr.read(p)]
    assert sorted(r[0] for r in rows1) == [1, 2]

    # late out-of-order arrival: a.json sorts before both consumed
    # files; replay of (start, end1) is unchanged, next batch is
    # exactly a.json — even on a FRESH reader instance (restart).
    put("a.json", 3)
    replay = [
        r
        for p in LandingPartitionStreamReader({"path": str(land)}).partitions(
            start, end1
        )
        for r in rdr.read(p)
    ]
    assert sorted(r[0] for r in replay) == [1, 2]
    end2 = rdr.latestOffset()
    parts2 = rdr.partitions(end1, end2)
    assert [os.path.basename(p.fp) for p in parts2] == ["a.json"]
    assert [r[0] for p in parts2 for r in rdr.read(p)] == [3]

    # cap: a fresh reader's FIRST latestOffset is uncapped (no
    # baseline — documented); after commit() seeds the baseline, a
    # 2-file backlog advances in single-file slices.
    capped = LandingPartitionStreamReader(
        {"path": str(land), "maxFilesPerBatch": "1"}
    )
    assert sorted(capped.latestOffset()["consumed"]) == [
        "a.json", "b.json", "c.json",
    ]
    put("d.json", 4)
    put("e.json", 5)
    e3 = capped.latestOffset()
    assert len(e3["consumed"]) == 4  # advanced by exactly one file
    e4 = capped.latestOffset()
    assert len(e4["consumed"]) == 5
    batch = sorted(set(e4["consumed"]) - set(e3["consumed"]))
    assert batch == ["e.json"]

    # commit() seeding: a fresh capped reader told about the committed
    # offset advances from there, not from scratch.
    seeded = LandingPartitionStreamReader(
        {"path": str(land), "maxFilesPerBatch": "1"}
    )
    seeded.commit(end2)
    e5 = seeded.latestOffset()
    assert sorted(set(e5["consumed"]) - set(end2["consumed"])) == ["d.json"]

    # legacy positional offsets still resolve in planning
    legacy = rdr.partitions({"files": 0}, {"files": 1})
    assert [os.path.basename(p.fp) for p in legacy] == ["a.json"]

    # consumed-but-deleted files stay in the offset: no re-read if the
    # same name re-lands (matches the simple reader's semantics)
    (land / "a.json").unlink()
    e6 = rdr.latestOffset()
    assert "a.json" in e6["consumed"]

    # restart + deletion: a FRESH instance (driver restart) can only
    # derive its first offset from the listing, so the deleted a.json
    # drops out of the offset chain. The contract: (1) the drop plans
    # no phantom batch, (2) once dropped the name STAYS dropped —
    # resurrecting it would re-plan a batch for a missing file —
    # and (3) a SAME-NAME re-landing after the restart is read as new
    # data (the documented duplicate corner; RUNBOOK §7's no-name-reuse
    # landing contract makes it unreachable in practice).
    restarted = LandingPartitionStreamReader({"path": str(land)})
    fresh_end = restarted.latestOffset()
    assert "a.json" not in fresh_end["consumed"]
    assert restarted.partitions(e6, fresh_end) == []  # no phantom batch
    e7 = restarted.latestOffset()
    assert "a.json" not in e7["consumed"]  # dropped stays dropped
    assert restarted.partitions(fresh_end, e7) == []
    put("a.json", 99)  # same name re-lands post-restart
    e8 = restarted.latestOffset()
    parts = restarted.partitions(e7, e8)
    assert [os.path.basename(p.fp) for p in parts] == ["a.json"]


def test_landing_partition_stream_end_to_end(spark, tmp_path):
    """The engine stream path plans executor-side partitions and
    drains every landed file's rows."""
    from football_lakehouse_spark.sources.pyds import register_landing_source

    land = tmp_path / "landing"
    land.mkdir()
    for i in range(4):
        (land / f"f{i}.json").write_text(
            '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
            '"event_type":"click","value":1.0,"props":null}\n' % i
        )
    register_landing_source(spark)

    out, ckpt = str(tmp_path / "o1"), str(tmp_path / "c1")
    q = (
        spark.readStream.format("landing_events")
        .option("path", str(land))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert {r.event_id for r in spark.read.parquet(out).collect()} == {
        0, 1, 2, 3,
    }


def test_landing_offset_compaction_long_chain(tmp_path):
    """r8 offset compaction (r7 verdict #4): a 10⁴-file chain's latest
    offset stays O(tail margin), never O(all files ever); every file is
    planned exactly once across the chain; and replay of any logged
    (start, end) pair is deterministic and listing-independent — the
    batch comes from the end offset's explicit tail, so later arrivals
    and deletions cannot change it."""
    import json as _json

    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
        LandingStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    line = (
        '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )

    def put(name, eid):
        (land / name).write_text(line % eid)

    rdr = LandingPartitionStreamReader({"path": str(land)})
    n_batches, files_per_batch = 100, 100
    offsets = [rdr.initialOffset()]
    planned: list[list[str]] = []
    for b in range(n_batches):
        for i in range(files_per_batch):
            put(f"part-{b:04d}-{i:04d}.json", b * files_per_batch + i)
        end = rdr.latestOffset()
        batch = [
            os.path.basename(p.fp) for p in rdr.partitions(offsets[-1], end)
        ]
        rdr.commit(end)
        planned.append(batch)
        offsets.append(end)

    # exactly-once across the whole chain
    flat = [f for b in planned for f in b]
    assert len(flat) == n_batches * files_per_batch
    assert len(set(flat)) == len(flat)

    # the latest offset is compact: watermark form, tail bounded by
    # margin + one batch — vs ~10⁴ names for the full-list form
    latest = offsets[-1]
    assert "dirwm" in latest
    assert len(latest["tail"]) <= 64 + files_per_batch
    full_size = len(_json.dumps({"consumed": sorted(set(flat))}))
    assert len(_json.dumps(latest)) < full_size / 20

    # replay determinism: re-plan an early logged pair on a FRESH
    # reader with today's (much larger) listing — identical batch
    s, e = offsets[10], offsets[11]
    fresh = LandingPartitionStreamReader({"path": str(land)})
    assert sorted(
        os.path.basename(p.fp) for p in fresh.partitions(s, e)
    ) == sorted(planned[10])

    # interop: the simple reader resumes from the compact offset and
    # sees only genuinely new files
    put("part-9999-0000.json", 999_990_000)
    simple = LandingStreamReader({"path": str(land)})
    rows, end2 = simple.read(latest)
    assert [r[0] for r in rows] == [999_990_000]
    # and the partition reader accepts the simple reader's end offset
    assert fresh.partitions(latest, end2) != []


def test_landing_offset_late_arrival_margin(tmp_path):
    """The compaction trade, pinned: a late file sorting within the
    explicit tail margin is read exactly once; one sorting at or below
    the watermark is treated as consumed (documented skip — the
    landing contract's monotonic naming makes it out-of-contract)."""
    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    line = (
        '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )

    def put(name, eid):
        (land / name).write_text(line % eid)

    rdr = LandingPartitionStreamReader(
        {"path": str(land), "offsetTailKeep": "2"}
    )
    start = rdr.initialOffset()
    for i in range(10):
        put(f"f{i:02d}.json", i)
    e1 = rdr.latestOffset()
    rdr.partitions(start, e1)
    # second advance folds the stable prefix behind a 2-name margin
    put("f10.json", 10)
    e2 = rdr.latestOffset()
    assert e2["dirwm"] == {"": "f07.json"}
    assert sorted(e2["tail"]) == ["f08.json", "f09.json", "f10.json"]

    # late arrival ABOVE the watermark (inside the margin): read once
    put("f08a.json", 88)
    e3 = rdr.latestOffset()
    batch = [os.path.basename(p.fp) for p in rdr.partitions(e2, e3)]
    assert batch == ["f08a.json"]

    # late arrival AT/BELOW the watermark: treated as consumed
    put("f00a.json", 99)
    e4 = rdr.latestOffset()
    assert rdr.partitions(e3, e4) == []


def test_landing_legacy_count_offset_warns(tmp_path, caplog):
    """Pre-r7 {'files': n} offsets still resolve, and the best-effort
    migration now logs an audit warning (ADVICE r7)."""
    import logging

    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    (land / "a.json").write_text(
        '{"event_id":1,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )
    rdr = LandingPartitionStreamReader({"path": str(land)})
    with caplog.at_level(
        logging.WARNING, logger="football_lakehouse_spark.sources.pyds"
    ):
        parts = rdr.partitions({"files": 0}, {"files": 1})
    assert [os.path.basename(p.fp) for p in parts] == ["a.json"]
    assert any("legacy positional offset" in r.message for r in caplog.records)


def test_landing_late_arrival_below_watermark_warns(tmp_path, caplog):
    """r9 ADVICE: within one reader lifetime, a never-before-listed
    name at or below the watermark is a SKIPPED late arrival — both
    readers log it loudly instead of dropping it invisibly; a
    genuinely consumed file re-listed does NOT warn."""
    import logging

    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
        LandingStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    line = (
        '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )

    def put(name, eid):
        (land / name).write_text(line % eid)

    rdr = LandingPartitionStreamReader(
        {"path": str(land), "offsetTailKeep": "2"}
    )
    start = rdr.initialOffset()
    for i in range(10):
        put(f"f{i:02d}.json", i)
    e1 = rdr.latestOffset()
    rdr.partitions(start, e1)
    put("f10.json", 10)
    e2 = rdr.latestOffset()  # folds: dir watermark = f07.json
    assert e2["dirwm"] == {"": "f07.json"}
    logger = "football_lakehouse_spark.sources.pyds"
    # steady state, no new sub-watermark names: silent
    with caplog.at_level(logging.WARNING, logger=logger):
        rdr.latestOffset()
    assert not any("SKIPPED" in r.message for r in caplog.records)
    # a NEVER-listed name below the watermark: loud
    put("f00a.json", 99)
    with caplog.at_level(logging.WARNING, logger=logger):
        e3 = rdr.latestOffset()
    assert any(
        "SKIPPED" in r.message and "f00a.json" in r.message
        for r in caplog.records
    )
    assert rdr.partitions(e2, e3) == []  # the documented skip itself

    # simple reader: same observability through read(start). First read
    # cannot fold (no start members), the second folds to a watermark,
    # the third sees the sub-watermark late arrival.
    caplog.clear()
    simple = LandingStreamReader({"path": str(land), "offsetTailKeep": "2"})
    with caplog.at_level(logging.WARNING, logger=logger):
        _rows, send1 = simple.read(simple.initialOffset())
        _rows, send2 = simple.read(send1)
        assert "dirwm" in send2
        put("f00b.json", 100)
        simple.read(send2)  # f00b is below the watermark and never listed
    assert any(
        "SKIPPED" in r.message and "f00b.json" in r.message
        for r in caplog.records
    )


def test_landing_offset_tail_keep_validation(tmp_path):
    """r9 ADVICE: a negative offsetTailKeep silently inverted the fold
    margin (foldable[:-keep] keeps everything explicit forever) — both
    readers now reject it at construction."""
    import pytest

    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
        LandingStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    for cls in (LandingPartitionStreamReader, LandingStreamReader):
        with pytest.raises(ValueError, match="offsetTailKeep must be >= 0"):
            cls({"path": str(land), "offsetTailKeep": "-1"})
        # 0 is legal: fold everything, no margin
        cls({"path": str(land), "offsetTailKeep": "0"})


def test_landing_restart_offset_shape(tmp_path):
    """r9 ADVICE (documented behavior, pinned): a fresh partition
    reader's first latestOffset after a clean restart cannot fold (no
    baseline) → one full-list entry; the next advance re-compacts. A
    restart WITH an uncommitted batch seeds through partitions() and
    stays compact from its first latestOffset."""
    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
    )

    land = tmp_path / "landing"
    land.mkdir()
    line = (
        '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )
    for i in range(10):
        (land / f"f{i:02d}.json").write_text(line % i)

    rdr = LandingPartitionStreamReader({"path": str(land), "offsetTailKeep": "2"})
    start = rdr.initialOffset()
    e1 = rdr.latestOffset()
    rdr.partitions(start, e1)
    (land / "f10.json").write_text(line % 10)
    e2 = rdr.latestOffset()
    assert "dirwm" in e2  # compact in steady state

    # clean restart, no uncommitted batch: first entry is full-list...
    clean = LandingPartitionStreamReader({"path": str(land), "offsetTailKeep": "2"})
    r1 = clean.latestOffset()
    assert "consumed" in r1 and len(r1["consumed"]) == 11
    # ...and self-heals into the compact form on the next advance
    (land / "f11.json").write_text(line % 11)
    r2 = clean.latestOffset()
    assert "dirwm" in r2 and len(r2.get("tail", [])) <= 3

    # restart WITH an uncommitted batch: partitions(start, end) runs
    # first (Spark recovery), seeds the baseline, and the first
    # latestOffset is already compact
    warm = LandingPartitionStreamReader({"path": str(land), "offsetTailKeep": "2"})
    warm.partitions(e1, e2)
    (land / "f12.json").write_text(line % 12)
    w1 = warm.latestOffset()
    assert "dirwm" in w1


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


def test_landing_max_files_per_batch_validation(spark, tmp_path):
    """A negative maxFilesPerBatch would truncate pending[:cap] from the
    END of the list — the newest files deferred forever, an availableNow
    drain terminating with silent data loss — so BOTH readers reject it
    at construction."""
    import pytest

    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
        LandingStreamReader,
    )

    for cls in (LandingStreamReader, LandingPartitionStreamReader):
        with pytest.raises(ValueError, match="maxFilesPerBatch"):
            cls({"path": str(tmp_path), "maxFilesPerBatch": "-1"})
        r = cls({"path": str(tmp_path), "maxFilesPerBatch": "0"})
        assert r.max_files is None
        r2 = cls({"path": str(tmp_path), "maxFilesPerBatch": "3"})
        assert r2.max_files == 3


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


def test_landing_cross_dir_late_arrival_is_read(tmp_path):
    """r12 review fix: the offset fold is PER DIR. A late event for an
    OLD snapshot_date dir lands in a dir that sorts wholesale below the
    newest consumed names — under the old GLOBAL watermark its file was
    treated as consumed and silently skipped (permanent data loss);
    per-dir watermarks plan it exactly once."""
    from football_lakehouse_spark.sources.pyds import (
        LandingPartitionStreamReader,
    )

    land = tmp_path / "landing"
    line = (
        '{"event_id":%d,"ts":"2026-02-0%dT10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )

    def put(day, name, eid):
        d = land / f"snapshot_date=2026-02-0{day}"
        d.mkdir(parents=True, exist_ok=True)
        (d / name).write_text(line % (eid, day))

    rdr = LandingPartitionStreamReader(
        {"path": str(land), "offsetTailKeep": "2"}
    )
    start = rdr.initialOffset()
    for day in (1, 2, 3):
        for i in range(4):
            put(day, f"t{day}{i:03d}.json", day * 10 + i)
    e1 = rdr.latestOffset()
    rdr.partitions(start, e1)
    put(3, "t3999.json", 39)
    e2 = rdr.latestOffset()  # folds day-1/day-2 dirs behind the margin
    rdr.partitions(e1, e2)
    assert "dirwm" in e2 and "snapshot_date=2026-02-01" in e2["dirwm"]

    # the late arrival: an event-time-day-1 file landing NOW, with an
    # arrival-stamped name above its dir's watermark but far below
    # every day-2/day-3 name in global path order
    put(1, "t9999.json", 19)
    e3 = rdr.latestOffset()
    batch = [os.path.basename(p.fp) for p in rdr.partitions(e2, e3)]
    assert batch == ["t9999.json"]  # read exactly once, not skipped
    rdr.commit(e3)
    e4 = rdr.latestOffset()
    assert rdr.partitions(e3, e4) == []  # and never replanned


def test_landing_legacy_global_watermark_offset_honoured(tmp_path):
    """A pre-r12 {'watermark': W} checkpoint keeps its exact membership
    semantics (name <= W is consumed) while new folds go per-dir."""
    from football_lakehouse_spark.sources.pyds import LandingStreamReader

    land = tmp_path / "landing"
    land.mkdir()
    line = (
        '{"event_id":%d,"ts":"2026-02-01T10:00:00","user_id":1,'
        '"event_type":"click","value":1.0,"props":null}\n'
    )
    for i in range(6):
        (land / f"f{i:02d}.json").write_text(line % i)
    simple = LandingStreamReader({"path": str(land), "offsetTailKeep": "2"})
    legacy = {"watermark": "f03.json", "tail": ["f04.json"]}
    rows, end = simple.read(legacy)
    assert [r[0] for r in rows] == [5]  # f00..f03 <= W, f04 in tail
    assert end.get("watermark") == "f03.json"  # passthrough, never grown


def test_land_json_files_arrival_stamped_names(spark, tmp_path):
    """r12: the engine's own landing writer enforces the monotone
    naming contract the incremental readers rely on — every data file
    is renamed t<arrival-micros>-<seq>-<uuid>.json, so a later landing
    into the SAME event-date dir always sorts above earlier ones."""
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
