"""Versioned-table layer + medallion pipeline: commit semantics,
partition-scoped merge, time travel, vacuum, compaction, idempotent
rerun of the full bronze→silver→gold slice."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from football_lakehouse_spark.catalog import load_table
from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.pipelines.medallion import run_pipeline
from tests.conftest import SF_SMOKE


@pytest.fixture()
def events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_append_overwrite_time_travel(spark, events, tmp_path):
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev")
    t.append(events.limit(100))
    t.append(events.limit(100))  # plain append duplicates
    assert t.read().count() == 200
    t.overwrite(events.limit(50))
    assert t.read().count() == 50
    # time travel back
    assert t.read(version=0).count() == 100
    assert t.read(version=1).count() == 200
    hist = t.describe_history()
    assert [h["operation"] for h in hist] == ["append", "append", "overwrite"]


def test_partitioned_merge_rewrites_only_touched_partitions(spark, events, tmp_path):
    t = LakehouseTable(
        spark, str(tmp_path), "silver", "ev", partition_by=["snapshot_date"]
    )
    df = events.withColumn("snapshot_date", F.to_date("ts")).select(
        "event_id", "user_id", "value", "snapshot_date"
    )
    t.append(df)
    files_before = set(t.current_files())
    one_day = df.orderBy("snapshot_date").select("snapshot_date").first()[0]
    upd = df.where(F.col("snapshot_date") == F.lit(one_day)).withColumn(
        "value", F.col("value") * 0 + 1.0
    )
    t.merge(upd, ["event_id"])
    files_after = set(t.current_files())
    untouched = {f for f in files_before if not f.startswith(f"snapshot_date={one_day}/")}
    # untouched partitions keep their exact files (no rewrite)
    assert untouched <= files_after
    # row count preserved, updated day rewritten
    assert t.read().count() == df.count()
    got = t.read().where(F.col("snapshot_date") == F.lit(one_day)).agg(
        F.min("value"), F.max("value")
    ).first()
    assert got[0] == 1.0 and got[1] == 1.0


def test_merge_insert_and_update(spark, tmp_path):
    t = LakehouseTable(spark, str(tmp_path), "silver", "kv")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    t.append(base)
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    t.merge(upd, ["k"])
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_vacuum_and_compact(spark, events, tmp_path):
    # eight small appends MANUFACTURE an 8-small-file version to count
    # what vacuum unreferences (the optimized write stages each small
    # append as one file)
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev")
    for _ in range(8):
        t.append(events.limit(12))
    t.overwrite(events.limit(10))
    assert len(t.current_files()) >= 1
    deleted = t.vacuum(retain_last=1)
    assert deleted >= 8  # the 8 files of version 0 are unreachable
    assert t.read().count() == 10  # current version unharmed
    t.append(events.limit(10))
    t.compact(target_partitions=1)
    assert t.read().count() == 20
    assert len(t.current_files()) == 1


def test_medallion_pipeline_idempotent(spark, events, tmp_path):
    root = str(tmp_path / "lake")
    r1 = run_pipeline(spark, events, root)
    assert r1["bronze"] is not None  # first ingest committed
    silver = LakehouseTable(spark, root, "silver", "event", partition_by=["snapshot_date"])
    n1 = silver.read().count()
    assert n1 == events.count()

    # rerun: bronze skips (content hash), silver/gold republish same state
    r2 = run_pipeline(spark, events, root)
    assert r2["bronze"] is None
    assert silver.read().count() == n1

    gold = LakehouseTable(spark, root, "gold", "fact_live_state")
    state = gold.read()
    assert state.count() == events.select("user_id").distinct().count()
    # partition pruning survives the manifest read path
    plan = silver.read().where(F.col("snapshot_date") == "2024-01-05")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan or "snapshot_date" in plan


def test_publish_gold_dim_overwrite_and_gate(spark, tmp_path):
    from pyspark.sql import functions as F

    from football_lakehouse_spark.operators.quality import DataQualityError
    from football_lakehouse_spark.pipelines.medallion import publish_gold_dim

    cust = load_table(spark, SF_SMOKE, "customer")
    t = LakehouseTable(spark, str(tmp_path), "gold", "dim_customer")
    v = publish_gold_dim(
        cust, t,
        [F.col("c_custkey").alias("customer_id"), F.col("c_name").alias("customer_name")],
        pk="customer_id", name="gold.dim_customer",
    )
    assert v == 0 and t.read().count() == cust.count()
    # a source with duplicate PKs must abort BEFORE writing (write-after-validate)
    dup = cust.limit(5).unionByName(cust.limit(5))
    import pytest as _pytest

    with _pytest.raises(DataQualityError):
        publish_gold_dim(
            dup, t,
            [F.col("c_custkey").alias("customer_id")],
            pk="customer_id", name="gold.dim_customer",
        )
    assert t.current_version() == 0  # no new version committed


def test_continuous_aggregate_maintenance(spark, events, tmp_path):
    """Incrementally-maintained hourly rollup over 3 batches must equal
    the batch-computed truth over the full data — and each step touches
    only partials, never raw history."""
    from football_lakehouse_spark.pipelines.continuous import (
        batch_partials,
        maintain_from_batches,
        rollup_view,
    )

    b1 = events.where(F.col("event_id") % 3 == 0)
    b2 = events.where(F.col("event_id") % 3 == 1)
    b3 = events.where(F.col("event_id") % 3 == 2)
    t = maintain_from_batches(spark, [b1, b2, b3], str(tmp_path))
    got = sorted(map(tuple, rollup_view(t).collect()))

    truth_t = maintain_from_batches(spark, [events], str(tmp_path / "truth"))
    truth = sorted(map(tuple, rollup_view(truth_t).collect()))
    assert got == truth  # integer partials merge exactly, any batch split
    assert len(t.describe_history()) == 3  # one commit per batch
    # idempotence check of the partial computation itself
    p = sorted(map(tuple, batch_partials(b1).collect()))
    assert p == sorted(map(tuple, batch_partials(b1).collect()))


def test_silver_build_aborts_on_corrupt_bronze(spark, tmp_path):
    """J2 parse-failure guard: a bronze row whose payload cannot parse
    must abort the silver build BEFORE any write (write-after-validate,
    reference 31_build_silver_dims.py:126-128)."""
    from football_lakehouse_spark.pipelines.medallion import build_silver

    bronze = LakehouseTable(spark, str(tmp_path), "bronze", "events_raw",
                            partition_by=["snapshot_date"])
    from football_lakehouse_spark.operators.quality import DataQualityError

    # three corruption shapes, ALL caught by the J2 corrupt-record gate
    # (PERMISSIVE from_json never returns a NULL struct — it nulls the
    # fields — so the old j-IS-NULL guard actually relied on the PK gate;
    # worse, a record whose PK parses but whose fields are garbled used
    # to publish a silently half-nulled silver row):
    bad = spark.createDataFrame(
        [("2024-01-01", "not json at all", 200),
         ("2024-01-01", "{not json either", 200),
         ("2024-01-01", '{"event_id": 7, "value": "oops"}', 200)],
        "snapshot_date string, payload_json string, http_status int",
    ).withColumn("snapshot_date", F.to_date("snapshot_date"))
    bronze.append(bad)
    silver = LakehouseTable(spark, str(tmp_path), "silver", "event",
                            partition_by=["snapshot_date"])
    with pytest.raises(ValueError, match="unparseable bronze payloads"):
        build_silver(spark, bronze, silver)
    assert not silver.exists()  # nothing was written
    # the half-parse shape ALONE must also abort (it used to publish)
    bronze2 = LakehouseTable(spark, str(tmp_path / "b2"), "bronze", "events_raw",
                             partition_by=["snapshot_date"])
    bronze2.append(bad.where(F.col("payload_json").startswith('{"event_id"')))
    silver2 = LakehouseTable(spark, str(tmp_path / "b2"), "silver", "event",
                             partition_by=["snapshot_date"])
    with pytest.raises(ValueError, match="unparseable bronze payloads"):
        build_silver(spark, bronze2, silver2)
    assert not silver2.exists()
    assert DataQualityError is not None  # keep the import referenced


def test_change_feed_classifies_all_transitions(spark):
    """insert/delete/update pre+post in one diff, with NULL-safe value
    comparison: NULL -> NULL is NOT a change; NULL -> value and
    value -> NULL are."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", None)],
        "id bigint, t string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", None), (5, "e", 5.0), (4, "d", None)],
        "id bigint, t string, v double",
    )
    got = {(r.change_type, r.id): (r.t, r.v) for r in change_feed([old, new], ["id"]).collect()}
    assert got == {
        ("update_preimage", 2): ("b", None),
        ("update_postimage", 2): ("b", 2.0),
        ("update_preimage", 3): ("c", 3.0),
        ("update_postimage", 3): ("c", None),
        ("insert", 5): ("e", 5.0),
    }  # ids 1 (unchanged) and 4 (NULL==NULL) emit nothing


def test_change_feed_empty_and_identical(spark):
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    df = spark.createDataFrame([(1, "a")], "id bigint, t string")
    assert change_feed([df, df], ["id"]).count() == 0
    empty = df.where(F.lit(False))
    feed = change_feed([empty, df], ["id"]).collect()
    assert [(r.change_type, r.id) for r in feed] == [("insert", 1)]
    feed = change_feed([df, empty], ["id"]).collect()
    assert [(r.change_type, r.id) for r in feed] == [("delete", 1)]


def test_zorder_layout_skips_2d_predicates(spark, tmp_path):
    """zorder_write must produce files whose min/max bounds let a 2-D
    predicate skip most files, where a single-column sort cannot: under
    partkey-sort every file spans (almost) the full suppkey range, so a
    suppkey predicate can skip nothing; under z-order both spans are
    bounded, and the file-level skip ratio for a narrow 2-D box must
    beat the sorted layout."""
    from football_lakehouse_spark.catalog import load_table
    from football_lakehouse_spark.operators.zorder import zorder_write
    from tests.conftest import SF_SMOKE
    import pyspark.sql.functions as F

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zpath, spath = str(tmp_path / "zord"), str(tmp_path / "sorted")
    zorder_write(li, "l_partkey", "l_suppkey", zpath, bucket_shift=6)

    def file_bounds(path):
        return (
            spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("l_partkey").alias("p0"), F.max("l_partkey").alias("p1"),
                F.min("l_suppkey").alias("s0"), F.max("l_suppkey").alias("s1"),
            )
            .collect()
        )

    zb = file_bounds(zpath)
    assert len(zb) > 4, "need multiple z files for skipping to mean anything"
    # single-column-sorted comparison layout with the SAME file count
    (
        li.repartitionByRange(len(zb), "l_partkey")
        .sortWithinPartitions("l_partkey")
        .write.parquet(spath)
    )
    sb = file_bounds(spath)

    # 2-D box predicates: narrow part range x narrow supp range
    boxes = [(10, 40, 3, 6), (50, 150, 2, 3), (20, 60, 8, 9)]

    def rows_scanned(bounds, p_lo, p_hi, s_lo, s_hi):
        return sum(
            r["n"] for r in bounds
            if r["p1"] >= p_lo and r["p0"] <= p_hi
            and r["s1"] >= s_lo and r["s0"] <= s_hi
        )

    total = sum(r["n"] for r in zb)
    z_frac = sum(rows_scanned(zb, *b) for b in boxes) / (total * len(boxes))
    s_frac = sum(rows_scanned(sb, *b) for b in boxes) / (total * len(boxes))
    # sorted-by-partkey layout: suppkey bounds are useless -> every file
    # overlapping the part range is scanned in full; z-order must scan
    # strictly fewer rows across the predicate set
    assert z_frac < s_frac, (z_frac, s_frac)
    # and the z files must bound BOTH dimensions: average supp span well
    # under the full range
    full_supp = li.agg(F.max("l_suppkey") - F.min("l_suppkey")).collect()[0][0]
    avg_supp_span = sum(r["s1"] - r["s0"] for r in zb) / len(zb)
    sorted_avg = sum(r["s1"] - r["s0"] for r in sb) / len(sb)
    assert avg_supp_span < 0.8 * full_supp
    assert avg_supp_span < sorted_avg


def test_restore_is_metadata_only_and_preserves_history(spark, events, tmp_path):
    """RESTORE commits a new version pointing at the OLD files — no data
    file is written, the bad version stays time-travellable, and a
    restore of a restore works (it is just another commit)."""
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_restore")
    t.append(events.limit(100))
    t.overwrite(events.limit(50))

    def data_files():
        return sorted(
            os.path.join(dp, fn)
            for dp, _d, fns in os.walk(t.data_root)
            for fn in fns
        )

    before = data_files()
    v = t.restore(0)
    assert v == 2
    assert data_files() == before, "restore must not write any data file"
    assert t.read().count() == 100  # v0 content is current again
    assert t.read(version=1).count() == 50  # the bad version still travels
    assert [h["operation"] for h in t.describe_history()] == [
        "append", "overwrite", "restore",
    ]
    # restore forward to the overwrite: also metadata-only
    t.restore(1)
    assert t.read().count() == 50
    assert data_files() == before


def test_restore_noop_when_already_at_version(spark, events, tmp_path):
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_restore2")
    t.append(events.limit(10))
    t.restore(0)
    c = t._read_commit(1)
    assert c["add"] == [] and c["remove"] == []
    assert t.read().count() == 10


def test_timestamp_as_of_time_travel(spark, events, tmp_path):
    """TIMESTAMP AS OF resolves to the newest version committed at or
    before the given time; predating timestamps raise (Delta parity)."""
    import time as _time

    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_ts")
    t.append(events.limit(10))
    between = _time.time()
    _time.sleep(0.01)
    t.append(events.limit(10))
    hist = t.describe_history()
    assert t.version_at_timestamp(between) == 0
    assert t.read(timestamp=between).count() == 10
    assert t.read(timestamp=hist[-1]["ts"]).count() == 20
    with pytest.raises(ValueError):
        t.read(timestamp=hist[0]["ts"] - 10)
    with pytest.raises(ValueError):
        t.read(version=0, timestamp=between)


def test_check_constraints_enforced_on_every_write(spark, events, tmp_path):
    """Delta ADD CONSTRAINT parity: existing-data validation, write-time
    enforcement across append/merge/overwrite, NULL-violates semantics,
    and the failed write leaves NO new version and NO stray files."""
    from football_lakehouse_spark.lakehouse.tables import ConstraintViolationError

    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_check")
    base = events.select("event_id", "event_type", "value")
    t.append(base.where(F.col("value") >= 0))
    t.add_constraint("nonneg_value", "value >= 0")
    with pytest.raises(ValueError):
        t.add_constraint("nonneg_value", "value >= 0")  # duplicate name
    # adding a constraint the current data violates must fail
    with pytest.raises(ConstraintViolationError):
        t.add_constraint("impossible", "value > 1e12")
    assert set(t.constraints()) == {"nonneg_value"}

    v_before = t.current_version()
    files_before = set(t.current_files())
    bad = base.limit(5).withColumn("value", F.lit(-1.0))
    with pytest.raises(ConstraintViolationError):
        t.append(bad)
    with pytest.raises(ConstraintViolationError):
        t.merge(bad, ["event_id"])
    with pytest.raises(ConstraintViolationError):
        t.overwrite(bad)
    # NULL violates unless the predicate says otherwise (Delta semantics)
    with pytest.raises(ConstraintViolationError):
        t.append(base.limit(3).withColumn("value", F.lit(None).cast("double")))
    assert t.current_version() == v_before
    assert set(t.current_files()) == files_before
    on_disk = {
        os.path.relpath(os.path.join(dp, fn), t.data_root)
        for dp, _d, fns in os.walk(t.data_root) for fn in fns
    }
    assert on_disk == files_before, "failed writes must not leak staged files"

    # a conforming write still goes through; drop lifts enforcement
    t.append(base.where(F.col("value") >= 0).limit(10))
    t.drop_constraint("nonneg_value")
    t.append(bad)  # now allowed


def test_shallow_clone_zero_copy_and_divergence(spark, events, tmp_path):
    """SHALLOW CLONE: metadata-only (no file under the clone's data
    root), reads equal the source, writes diverge copy-on-write in both
    directions, clone vacuum never touches source files, and declared
    constraints carry over."""
    from football_lakehouse_spark.lakehouse.tables import ConstraintViolationError

    src = LakehouseTable(spark, str(tmp_path / "src"), "silver", "ev")
    base = events.select("event_id", "event_type", "value")
    src.append(base.limit(200))
    src.add_constraint("nonneg_value", "value >= 0")

    clone = src.shallow_clone(str(tmp_path / "dev"), "silver", "ev_dev")
    assert clone.read().count() == 200
    assert not any(
        fns for _dp, _d, fns in os.walk(clone.data_root)
    ), "clone must copy no data file"
    assert clone.constraints() == {"nonneg_value": "value >= 0"}

    # divergence: clone merge doesn't touch source; source append doesn't
    # appear in the clone
    upd = base.limit(10).withColumn("event_type", F.lit("updated"))
    clone.merge(upd, ["event_id"])
    assert clone.read().where(F.col("event_type") == "updated").count() == 10
    assert src.read().where(F.col("event_type") == "updated").count() == 0
    src.append(base.limit(50))
    assert src.read().count() == 250
    assert clone.read().count() == 200

    # constraints enforce on the clone too
    with pytest.raises(ConstraintViolationError):
        clone.append(base.limit(3).withColumn("value", F.lit(-5.0)))

    # clone vacuum walks only the clone's root — source files survive
    clone.vacuum(retain_last=1)
    assert src.read().count() == 250

    # partitioned sources refuse (documented basePath limitation)
    part = LakehouseTable(
        spark, str(tmp_path / "p"), "silver", "evp", partition_by=["event_type"]
    )
    part.append(base.limit(20))
    with pytest.raises(ValueError):
        part.shallow_clone(str(tmp_path / "pc"), "silver", "evp_c")


def test_schema_enforcement_and_evolution(spark, events, tmp_path):
    """Delta schema parity on the table layer: type changes always
    reject; extra columns reject unless merge_schema=True (which
    evolves the LOG schema — old rows read NULL for the new column);
    missing columns null-fill; time travel reads each version under
    ITS schema; overwrite replaces the schema."""
    from football_lakehouse_spark.lakehouse.tables import SchemaMismatchError

    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_schema")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(50))
    assert [f.name for f in t.schema().fields] == ["event_id", "event_type", "value"]

    # type change rejects
    with pytest.raises(SchemaMismatchError):
        t.append(base.limit(5).withColumn("value", F.col("value").cast("string")))
    # extra column rejects without merge_schema
    extra = base.limit(5).withColumn("source", F.lit("api"))
    with pytest.raises(SchemaMismatchError):
        t.append(extra)
    # ...and evolves with it
    t.append(extra, merge_schema=True)
    cur = t.read()
    assert cur.columns == ["event_id", "event_type", "value", "source"]
    assert cur.where(F.col("source").isNull()).count() == 50
    assert cur.where(F.col("source") == "api").count() == 5

    # missing column null-fills under the evolved schema
    t.append(base.limit(3))
    assert t.read().where(F.col("source").isNull()).count() == 53

    # time travel: v0 still reads under the ORIGINAL 3-column schema
    assert t.read(version=0).columns == ["event_id", "event_type", "value"]

    # overwrite replaces the schema outright
    t.overwrite(events.select("event_id", "user_id"))
    assert t.read().columns == ["event_id", "user_id"]
    with pytest.raises(SchemaMismatchError):
        t.append(base.limit(2))  # event_type/value are now extra columns


def test_rename_column_is_metadata_only(spark, events, tmp_path):
    """Delta column-mapping parity: RENAME COLUMN rewrites nothing,
    later writes and constraint checks use the new name, old files read
    under the frozen physical name, and time travel shows each
    version's own logical schema."""
    from football_lakehouse_spark.lakehouse.tables import ConstraintViolationError

    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_ren")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(50))

    def data_files():
        return sorted(
            os.path.join(dp, fn) for dp, _d, fns in os.walk(t.data_root) for fn in fns
        )

    before = data_files()
    with pytest.raises(ValueError):
        t.rename_column("nope", "x")
    with pytest.raises(ValueError):
        t.rename_column("value", "event_id")  # collision
    t.rename_column("value", "points")
    assert data_files() == before, "rename must not touch data files"
    assert t.read().columns == ["event_id", "event_type", "points"]
    assert t.read(version=0).columns == ["event_id", "event_type", "value"]
    assert t.read().agg(F.sum("points")).collect()[0][0] is not None

    # writes after the rename use the new logical name; mixed files agree
    t.append(base.limit(20).withColumnRenamed("value", "points"))
    assert t.read().count() == 70
    assert t.read().where(F.col("points").isNull()).count() == 0

    # constraints work against the new name, and a constraint on a
    # name about to be renamed blocks the rename
    t.add_constraint("nonneg_points", "points >= 0")
    with pytest.raises(ConstraintViolationError):
        t.append(
            base.limit(2).withColumnRenamed("value", "points")
            .withColumn("points", F.lit(-1.0))
        )
    with pytest.raises(ValueError):
        t.rename_column("points", "score")

    # a second rename of a never-renamed column composes
    t.drop_constraint("nonneg_points")
    t.rename_column("points", "score")
    assert t.read().columns == ["event_id", "event_type", "score"]
    assert t.read().where(F.col("score").isNull()).count() == 0


def test_drop_column_tombstones_physical_identity(spark, events, tmp_path):
    """DROP COLUMN is metadata-only, time travel still shows it, and a
    later re-add of the same name claims a FRESH physical identity —
    old rows read NULL, never the dropped column's stale bytes."""
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_drop")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(40))

    def data_files():
        return sorted(
            os.path.join(dp, fn) for dp, _d, fns in os.walk(t.data_root) for fn in fns
        )

    before = data_files()
    t.drop_column("value")
    assert data_files() == before
    assert t.read().columns == ["event_id", "event_type"]
    assert t.read(version=0).columns == ["event_id", "event_type", "value"]

    # re-add 'value' via evolution: old rows MUST be NULL (stale bytes
    # from the dropped column still sit in v0's files under 'value')
    readd = base.limit(10).withColumn("value", F.lit(123.0))
    t.append(readd, merge_schema=True)
    cur = t.read()
    assert cur.columns == ["event_id", "event_type", "value"]
    assert cur.where(F.col("value") == 123.0).count() == 10
    assert cur.where(F.col("value").isNull()).count() == 40, (
        "dropped column's old bytes resurrected"
    )

    # rename-then-drop-then-travel: every version under its own binding
    t.rename_column("value", "points")
    assert t.read().where(F.col("points") == 123.0).count() == 10
    t.drop_column("points")
    assert t.read().columns == ["event_id", "event_type"]
    # the version just before the drop still reads the renamed column
    v = t.current_version() - 1
    assert t.read(version=v).where(F.col("points") == 123.0).count() == 10

    with pytest.raises(ValueError):
        t.drop_column("missing_col")
    t.drop_column("event_type")
    with pytest.raises(ValueError):
        t.drop_column("event_id")  # cannot drop the only column


def test_deletion_vectors_merge_on_read(spark, events, tmp_path):
    """DV delete is metadata+sidecar only: no data file changes, reads
    hide the rows, time travel before the delete shows them, DVs
    compose across deletes, and compact() materialises + purges them."""
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_dv")
    base = events.select("event_id", "event_type", "value")
    t.append(base)
    n0 = t.read().count()
    n_purch = t.read().where(F.col("event_type") == "purchase").count()
    assert n_purch > 0

    def data_files():
        return sorted(
            os.path.join(dp, fn) for dp, _d, fns in os.walk(t.data_root) for fn in fns
        )

    before = data_files()
    v = t.delete(F.col("event_type") == "purchase", deletion_vectors=True)
    assert v == 1
    assert data_files() == before, "DV delete must rewrite no data file"
    assert t.read().count() == n0 - n_purch
    assert t.read().where(F.col("event_type") == "purchase").count() == 0
    assert t.read(version=0).count() == n0, "pre-DV version sees all rows"

    # second DV composes with the first
    n_click = t.read().where(F.col("event_type") == "click").count()
    t.delete(F.col("event_type") == "click", deletion_vectors=True)
    assert t.read().count() == n0 - n_purch - n_click
    # no-match DV commits nothing
    assert t.delete(F.col("event_type") == "nope", deletion_vectors=True) == -1

    # compact materialises the filtered state and purges the vectors
    expect = t.read().count()
    t.compact(target_partitions=1)
    assert not t._snapshot(t.current_version()).dv
    assert t.read().count() == expect
    assert t.read().where(F.col("event_type") == "purchase").count() == 0

    # a DV-bearing version remains time-travellable AFTER the purge
    assert t.read(version=2).count() == n0 - n_purch - n_click


def test_update_rows_copy_on_write(spark, events, tmp_path):
    """UPDATE … SET: only predicate-TRUE rows change; expressions see
    the old row; partitioned tables rewrite only touched partitions;
    constraints gate the rewritten data."""
    from football_lakehouse_spark.lakehouse.tables import ConstraintViolationError

    t = LakehouseTable(
        spark, str(tmp_path), "silver", "ev_upd", partition_by=["event_type"]
    )
    base = events.select("event_id", "event_type", "value")
    t.append(base)
    n0 = t.read().count()
    old_sum = t.read().where(F.col("event_type") == "view").agg(
        F.sum("value")
    ).collect()[0][0]

    files_before = set(t.current_files())
    v = t.update(
        F.col("event_type") == "purchase",
        {"value": F.col("value") * 2},
    )
    assert v == 1
    assert t.read().count() == n0
    # untouched partitions keep their files
    kept = set(t.current_files()) & files_before
    assert any(f.startswith("event_type=view/") for f in kept)
    assert not any(f.startswith("event_type=purchase/") for f in files_before
                   if f in set(t.current_files()))
    new_sum = t.read().where(F.col("event_type") == "view").agg(
        F.sum("value")
    ).collect()[0][0]
    assert new_sum == old_sum, "non-matching rows must be untouched"
    # doubled values equal 2x the v0 purchase sum
    v0p = t.read(version=0).where(F.col("event_type") == "purchase").agg(
        F.sum(F.col("value") * 2)
    ).collect()[0][0]
    v1p = t.read().where(F.col("event_type") == "purchase").agg(
        F.sum("value")
    ).collect()[0][0]
    assert abs(v0p - v1p) < 1e-6

    assert t.update(F.col("event_type") == "nope", {"value": F.lit(0.0)}) == -1
    with pytest.raises(ValueError):
        t.update(F.lit(True), {"missing": F.lit(1)})

    t.add_constraint("nonneg_value", "value >= 0")
    with pytest.raises(ConstraintViolationError):
        t.update(F.col("event_type") == "click", {"value": F.lit(-1.0)})


def test_scd2_apply_incremental_equals_batch_and_idempotent(spark, events, tmp_path):
    """Applying the change stream in 3 arbitrary batches equals one
    batch apply; re-applying the last batch is a no-op (CDC consumer
    rerun-safety); exactly one current row per key."""
    from football_lakehouse_spark.functions.scalars import epoch_seconds
    from football_lakehouse_spark.operators.scd import scd2_apply

    changes = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", "value", epoch_seconds(F.col("ts")).alias("es"))
    )
    inc = LakehouseTable(spark, str(tmp_path / "i"), "silver", "scd_i")
    one = LakehouseTable(spark, str(tmp_path / "b"), "silver", "scd_b")
    for m in range(3):
        scd2_apply(inc, changes.where(F.col("user_id") % 3 == m), "user_id", "es", ["value"])
    scd2_apply(one, changes, "user_id", "es", ["value"])

    def rows(t):
        return sorted(map(tuple, t.read().collect()))

    assert rows(inc) == rows(one)
    # rerun the last batch: no logical change
    before = rows(inc)
    scd2_apply(inc, changes.where(F.col("user_id") % 3 == 2), "user_id", "es", ["value"])
    assert rows(inc) == before
    cur = inc.read().where(F.col("is_current"))
    assert cur.count() == inc.read().select("user_id").distinct().count()


def test_scd2_same_timestamp_correction_incoming_wins(spark, tmp_path):
    """An incoming change carrying the same (key, ts) as an existing row
    but different attribute values is a correction: it must replace the
    existing row deterministically, not lose a coin-flip dedup."""
    from football_lakehouse_spark.operators.scd import scd2_apply

    t = LakehouseTable(spark, str(tmp_path), "silver", "scd_corr")
    first = spark.createDataFrame(
        [(1, 10.0, 100), (1, 20.0, 200)], "user_id int, value double, es long"
    )
    scd2_apply(t, first, "user_id", "es", ["value"])
    # correction: same key and ts=200, new value
    fix = spark.createDataFrame([(1, 99.0, 200)], "user_id int, value double, es long")
    scd2_apply(t, fix, "user_id", "es", ["value"])
    got = sorted(
        (r.eff_from, r.value, r.is_current) for r in t.read().collect()
    )
    assert got == [(100, 10.0, False), (200, 99.0, True)]
    # re-applying the correction is still a no-op
    scd2_apply(t, fix, "user_id", "es", ["value"])
    got2 = sorted((r.eff_from, r.value, r.is_current) for r in t.read().collect())
    assert got2 == [(100, 10.0, False), (200, 99.0, True)]


def test_update_type_change_rejected(spark, events, tmp_path):
    """ADVICE r4: an UPDATE whose assignment resolves to a different type
    than the logged schema must raise before staging — on a partitioned
    table a silent coercion would rewrite only touched partitions and
    desync the physical schema."""
    from football_lakehouse_spark.lakehouse.tables import SchemaMismatchError

    t = LakehouseTable(
        spark, str(tmp_path), "silver", "upd_types", partition_by=["grp"]
    )
    t.append(
        spark.createDataFrame(
            [("a", 1, 10), ("b", 2, 20)], "grp string, n int, m int"
        )
    )
    # double assigned to an int column: when/otherwise coerces the whole
    # branch to double — exactly the silent widening the guard must stop
    with pytest.raises(SchemaMismatchError):
        t.update(F.col("grp") == "a", {"n": F.col("n") * 0.5})
    # bigint assigned to an int column widens too
    with pytest.raises(SchemaMismatchError):
        t.update(F.col("grp") == "a", {"n": F.col("m").cast("bigint")})
    # the table is untouched and a correctly-typed update still works
    assert t.read().schema["n"].dataType.simpleString() == "int"
    assert t.update(F.col("grp") == "a", {"n": F.col("n") + 1}) >= 0
    assert sorted((r.grp, r.n) for r in t.read().collect()) == [("a", 2), ("b", 2)]


def test_append_with_expectations_stats_and_split(spark, events, tmp_path):
    from football_lakehouse_spark.operators.quality import append_with_expectations

    base = events.select("event_id", "event_type", "value").limit(100)
    t = LakehouseTable(spark, str(tmp_path), "silver", "clean")
    q = LakehouseTable(spark, str(tmp_path), "silver", "quar")
    stats = append_with_expectations(
        t, q,
        base.withColumn(
            "value", F.when(F.col("event_id") % 4 == 0, -1.0).otherwise(F.col("value"))
        ),
        {"nonneg_value": "value >= 0"},
    )
    assert stats["valid"] + stats["quarantined"] == 100
    assert stats["quarantined"] == t.spark.createDataFrame([], "x int") .count() + base.where(F.col("event_id") % 4 == 0).count()
    assert t.read().where(F.col("value") < 0).count() == 0
    assert q.read().where(F.col("failed_expectations") != "nonneg_value").count() == 0
    # an all-clean batch touches only the target table
    v_before = q.current_version()
    stats2 = append_with_expectations(
        t, q, base.withColumn("value", F.abs("value")), {"nonneg_value": "value >= 0"}
    )
    assert stats2["quarantined"] == 0
    assert q.current_version() == v_before


def test_append_with_expectations_txn_crash_between_sinks(spark, events, tmp_path):
    """Crash injection for the two-sink form (r10 verdict watch item →
    evidence): with ``txn=(app_id, version)`` a crash AFTER the
    valid-sink commit but BEFORE the quarantine commit converges under
    a full retry of the call — the valid sink skips the replayed
    version table-side (no double-append), the quarantine sink commits
    what the crash lost."""
    from football_lakehouse_spark.operators.quality import append_with_expectations

    base = events.select("event_id", "event_type", "value").limit(100)
    batch = base.withColumn(
        "value", F.when(F.col("event_id") % 4 == 0, -1.0).otherwise(F.col("value"))
    )
    exp = {"nonneg_value": "value >= 0"}
    t = LakehouseTable(spark, str(tmp_path), "silver", "clean")
    q = LakehouseTable(spark, str(tmp_path), "silver", "quar")

    crashes = {"n": 0}

    def crashing(df, app_id, txn_version, **kw):
        crashes["n"] += 1
        raise RuntimeError("injected crash between the two sink commits")

    q.append_txn = crashing  # instance attribute shadows the method
    with pytest.raises(RuntimeError, match="injected crash"):
        append_with_expectations(t, q, batch, exp, txn=("exp-app", 7))
    del q.append_txn  # restore the real bound method
    # the crash landed exactly between the commits
    assert crashes["n"] == 1
    n_valid = t.read().count()
    assert n_valid > 0 and not q.exists()

    # full retry of the same (app_id, version): converges
    stats = append_with_expectations(t, q, batch, exp, txn=("exp-app", 7))
    assert stats["valid"] == n_valid
    assert t.read().count() == n_valid  # txn skip — not doubled
    assert q.read().count() == stats["quarantined"] > 0
    # the next version appends normally
    stats2 = append_with_expectations(
        t, q, base.withColumn("value", F.abs("value")), exp, txn=("exp-app", 8)
    )
    assert stats2["valid"] > 0
    assert t.read().count() == n_valid + stats2["valid"]


def test_restore_reconciles_deletion_vectors(spark, events, tmp_path):
    """RESTORE past a DV delete resurrects the rows; restoring forward
    to the DV-bearing version re-applies the vectors."""
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_dv_restore")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(200))
    n0 = 200
    t.delete(F.col("event_type") == "purchase", deletion_vectors=True)
    n1 = t.read().count()
    assert n1 < n0
    t.restore(0)
    assert t.read().count() == n0, "restore must undo the DV delete"
    t.restore(1)
    assert t.read().count() == n1, "restore must re-apply the DV"


def test_describe_detail(spark, events, tmp_path):
    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_detail")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(100))
    t.add_constraint("nonneg_value", "value >= 0")
    t.delete(F.col("event_type") == "purchase", deletion_vectors=True)
    d = t.describe_detail()
    assert d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["min_file_bytes"] <= d["max_file_bytes"]
    assert d["num_deletion_vectors"] == 1
    assert d["num_constraints"] == 1
    assert d["num_columns"] == 3
    t.compact(target_partitions=1)
    d2 = t.describe_detail()
    assert d2["num_files"] == 1 and d2["num_deletion_vectors"] == 0


def test_concurrent_commit_detected_not_clobbered(spark, events, tmp_path):
    """Optimistic concurrency: a writer acting on a STALE view of the
    log (the race window between listing and committing) must get
    ConcurrentWriteError, and the winner's commit survives
    byte-for-byte — os.replace would have silently clobbered it."""
    import json as _json

    from football_lakehouse_spark.lakehouse.tables import ConcurrentWriteError

    t = LakehouseTable(spark, str(tmp_path), "silver", "ev_cas")
    base = events.select("event_id", "event_type", "value")
    t.append(base.limit(10))
    # the racing writer lands version 1 first...
    winner = {"version": 1, "operation": "append", "ts": 0.0,
              "rows": None, "add": [], "remove": []}
    with open(t._commit_path(1), "w") as f:
        _json.dump(winner, f)
    # ...while OUR writer still holds the pre-race log listing
    stale = t._log_entries()  # includes v1 — so fake the stale view:
    t._log_entries = lambda: ([0], [])  # type: ignore[method-assign]
    try:
        with pytest.raises(ConcurrentWriteError):
            t._commit("append", [], [], rows=None)
    finally:
        del t.__dict__["_log_entries"]
    with open(t._commit_path(1)) as f:
        assert _json.load(f) == winner, "winner's commit must survive"
    # a fresh read of the log resolves the conflict: retry lands as v2
    assert t.append(base.limit(5)) == 2


def test_data_skipping_stats_lifecycle(spark, tmp_path):
    """Data-skipping contract: stats recorded at stage time prune reads
    correctly, survive the add/remove replay through DELETE and
    OPTIMIZE, stay conservative for stat-less files, and an all-pruned
    read returns an empty frame with the logged schema."""
    import datetime

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    t = LakehouseTable(
        spark, str(tmp_path), "s", "skip", stats_columns=["o_orderdate"]
    )
    t.append(orders.repartitionByRange(8, "o_orderdate"))
    n_files = len(t.current_files())
    lo, hi = datetime.datetime(1999, 1, 1), datetime.datetime(1999, 6, 30)
    pf = t.pruned_files({"o_orderdate": (lo, hi)})
    assert 0 < len(pf) < n_files, "range query must prune some files"
    # pruned read + real predicate == plain read + real predicate
    pred = (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")) & (
        F.col("o_orderdate") <= F.lit("1999-06-30").cast("timestamp")
    )
    assert (
        t.read(skipping={"o_orderdate": (lo, hi)}).where(pred).count()
        == t.read().where(pred).count()
    )
    # DELETE rewrites files; replay must drop the removed files' stats
    t.delete(F.col("o_orderkey") % 7 == 0)
    live = t._snapshot(t.current_version()).live
    stats = {f: st for f, st in live.items() if st}
    assert set(stats) <= set(t.current_files())
    # rewritten files carry fresh stats, so pruning still works
    pf2 = t.pruned_files({"o_orderdate": (lo, hi)})
    assert 0 < len(pf2) < len(t.current_files())
    assert (
        t.read(skipping={"o_orderdate": (lo, hi)}).where(pred).count()
        == t.read().where(pred).count()
    )
    # compaction merges everything into one file with full-range stats
    t.compact()
    assert len(t.pruned_files({"o_orderdate": (lo, hi)})) == 1
    # an impossible range prunes everything: empty frame, logged schema
    far = (datetime.datetime(2100, 1, 1), datetime.datetime(2100, 2, 1))
    empty = t.read(skipping={"o_orderdate": far})
    assert empty.count() == 0
    assert empty.columns == t.read().columns
    # a column with NO recorded stats never prunes (conservative)
    assert len(t.pruned_files({"o_totalprice": (0.0, 1.0)})) == len(
        t.current_files()
    )


def _fold_table(spark, root, name, **kw):
    return LakehouseTable(spark, root, "s", name, **kw)


def _no_checkpoints(t):
    """Hide every checkpoint from ``t``: its folds start at version 0."""
    real = t._log_entries
    t._log_entries = lambda: (real()[0], [])  # type: ignore[method-assign]
    return t


def test_snapshot_fold_equals_checkpointless_replay(spark, tmp_path):
    """More than 2×CHECKPOINT_EVERY commits mixing partitioned merges
    (one moving a key across partitions), a DV delete, stats columns,
    merge_schema evolution, rename/drop column, constraints, the change
    feed and append_txn: every version read by a fresh instance (fold
    from the newest checkpoint) equals the same version read with every
    checkpoint hidden (fold from version 0) — rows, active DVs, per-file
    stats, constraints(version=), txn versions and history."""
    import glob
    import json

    from football_lakehouse_spark.lakehouse.tables import CHECKPOINT_EVERY

    root = str(tmp_path)
    kw = {"partition_by": ["p"], "stats_columns": ["k"]}
    t = _fold_table(spark, root, "fold", **kw)

    def frame(rows, ddl="k int, v string, p string"):
        return spark.createDataFrame(rows, ddl)

    t.append(frame([(i, f"v{i}", "ab"[i % 2]) for i in range(8)]))
    t.enable_change_feed()
    t.add_constraint("k_nonneg", "k >= 0")
    t.merge(frame([(1, "m1", "b"), (10, "m10", "c")]), ["k"])
    t.append_txn(frame([(20, "t20", "a")]), "s1", 1)
    t.append_txn(frame([(21, "t21", "b")]), "s2", 5)
    t.delete(F.col("k") == 2, deletion_vectors=True)
    t.append(
        frame([(30, "e30", "a", 7)], "k int, v string, p string, w int"),
        merge_schema=True,
    )
    t.rename_column("v", "val")
    # key 3 moves from partition b to c
    t.merge(frame([(3, "moved", "c", None)], "k int, val string, p string, w int"),
            ["k"])
    t.update(F.col("k") == 4, {"val": F.lit("upd")})
    t.drop_column("w")
    t.delete(F.col("k") == 5)
    t.drop_constraint("k_nonneg")
    t.append_txn(frame([(40, "t40", "c")], "k int, val string, p string"), "s1", 3)
    for i in range(7):
        t.merge(frame([(50 + i, f"r{i}", "abc"[i % 3]), (0, f"z{i}", "a")],
                      "k int, val string, p string"), ["k"])
    head = t.current_version()
    assert head > 2 * CHECKPOINT_EVERY
    cps = sorted(glob.glob(os.path.join(t.log_root, "*.checkpoint.json")))
    assert len(cps) == head // CHECKPOINT_EVERY
    with open(cps[-1]) as f:
        assert {"live", "stats", "dv", "schema", "props", "txn", "history"} <= set(
            json.load(f)
        )

    def state(tt, v):
        s = tt._snapshot(v)
        return (
            _rows_of(tt.read(version=v)),
            sorted(s.dv),
            s.live,
            tt.constraints(version=v),
            s.txn,
            s.history,
        )

    for v in range(head + 1):
        got = state(_fold_table(spark, root, "fold", **kw), v)
        want = state(_no_checkpoints(_fold_table(spark, root, "fold", **kw)), v)
        assert got == want, f"version {v} diverged"
    fresh = _fold_table(spark, root, "fold", **kw)
    replay = _no_checkpoints(_fold_table(spark, root, "fold", **kw))
    assert fresh.describe_history() == replay.describe_history()
    assert [h["version"] for h in fresh.describe_history()] == list(range(head + 1))
    assert fresh.last_txn_version("s1") == replay.last_txn_version("s1") == 3
    assert fresh.last_txn_version("s2") == 5
    assert fresh.last_txn_version("nope") is None
    assert fresh.constraints(version=2) == {"k_nonneg": "k >= 0"}
    assert fresh.constraints(version=1) == {} == fresh.constraints()
    assert fresh._snapshot(6).dv and not fresh._snapshot(5).dv
    assert any(fresh._snapshot().live.values()), "stats survive the fold"


def _rows_of(df):
    return sorted(tuple(r) for r in df.collect())


def _metadata_log(spark, root, name, n_commits):
    """A table of one real data file and ``n_commits`` commits made with
    ``_commit`` directly (no Spark job per commit)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = _fold_table(spark, root, name)
    pq.write_table(pa.table({"k": [1, 2, 3]}), os.path.join(t.data_root, "f0.parquet"))
    schema = spark.createDataFrame([], "k bigint").schema.json()
    t._commit("append", ["f0.parquet"], [], rows=None, schema_json=schema,
              props={"constraints": {"pos": "k > 0"}})
    for i in range(1, n_commits):
        t._commit("append", [], [], rows=None,
                  txn={"app_id": "app", "version": i} if i % 7 == 0 else None)
    return t


def test_fresh_read_opens_tail_not_log(spark, tmp_path, monkeypatch):
    """On a 200-commit log a fresh instance's read path — and its
    properties, txn and history reads — open at most one checkpoint
    plus the commit tail (CHECKPOINT_EVERY + 1 log files), never the
    whole log."""
    import builtins

    from football_lakehouse_spark.lakehouse import tables
    from football_lakehouse_spark.lakehouse.tables import CHECKPOINT_EVERY

    t = _metadata_log(spark, str(tmp_path), "long", 200)
    opened: list[str] = []

    def counting_open(path, *a, **k):
        if str(path).startswith(t.log_root):
            opened.append(str(path))
        return builtins.open(path, *a, **k)

    monkeypatch.setattr(tables, "open", counting_open, raising=False)
    probes = {
        "read": lambda x: _rows_of(x.read()),
        "props": lambda x: x.constraints(),
        "txn": lambda x: x.last_txn_version("app"),
        "history": lambda x: len(x.describe_history()),
        "pruned_files": lambda x: x.pruned_files({"k": (0, 9)}),
    }
    want = {"read": [(1,), (2,), (3,)], "props": {"pos": "k > 0"},
            "txn": 196, "history": 200, "pruned_files": ["f0.parquet"]}
    for name, probe in probes.items():
        opened.clear()
        assert probe(_fold_table(spark, str(tmp_path), "long")) == want[name]
        assert len(opened) <= CHECKPOINT_EVERY + 1, (name, len(opened))


def test_legacy_checkpoint_is_skipped(spark, tmp_path):
    """A checkpoint holding only ``live`` and ``history`` (the format
    before checkpoints carried the whole snapshot) is skipped, not
    merged in: schema, properties, txn versions and DVs still come out
    exact from the commit replay."""
    import json

    t = _metadata_log(spark, str(tmp_path), "oldcp", 13)
    cp_path = t._checkpoint_path(10)
    with open(cp_path) as f:
        full = json.load(f)
    with open(cp_path, "w") as f:
        json.dump({k: full[k] for k in ("version", "live", "history")}, f)
    fresh = _fold_table(spark, str(tmp_path), "oldcp")
    assert _rows_of(fresh.read()) == [(1,), (2,), (3,)]
    assert fresh.schema() is not None and fresh.schema().names == ["k"]
    assert fresh.constraints() == {"pos": "k > 0"}
    assert fresh.last_txn_version("app") == 7
    assert [h["version"] for h in fresh.describe_history()] == list(range(13))
    assert fresh._snapshot(11) == _no_checkpoints(
        _fold_table(spark, str(tmp_path), "oldcp")
    )._snapshot(11)


def test_scd2_apply_rejects_conflicting_same_key_ts_rows(spark, tmp_path):
    """Two DIFFERENT attr sets for one (key, ts) in a single batch have
    no deterministic winner — scd2_apply fails closed with the shared
    MergeSourceDuplicateError instead of picking an arbitrary side.
    Identical full-row replays still collapse silently (harmless)."""
    import pytest as _pytest

    from football_lakehouse_spark.lakehouse.tables import (
        LakehouseTable,
        MergeSourceDuplicateError,
    )
    from football_lakehouse_spark.operators.scd import scd2_apply

    dim = LakehouseTable(spark, str(tmp_path / "c"), "silver", "dim_conflict")
    ok = spark.createDataFrame(
        [(1, "a", 100), (1, "a", 100)], "user_id bigint, value string, es bigint"
    )
    scd2_apply(dim, ok, "user_id", "es", ["value"])  # identical dup: fine
    assert dim.read().count() == 1
    bad = spark.createDataFrame(
        [(2, "a", 100), (2, "b", 100)], "user_id bigint, value string, es bigint"
    )
    with _pytest.raises(MergeSourceDuplicateError):
        scd2_apply(dim, bad, "user_id", "es", ["value"])


def test_change_feed_key_only_table(spark):
    """A table whose keys cover every column (e.g. span_key_index) has
    no value columns: change_feed must still emit insert/delete rows
    (reduce() over the empty changed-predicate list used to raise)."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    old = spark.createDataFrame([(1,), (2,)], "k bigint")
    new = spark.createDataFrame([(2,), (3,)], "k bigint")
    got = {(r.change_type, r.k) for r in change_feed([old, new], ["k"]).collect()}
    assert got == {("delete", 1), ("insert", 3)}


def test_change_feed_null_key_rows(spark):
    """r11 sweep: the key join is NULL-SAFE — an untouched NULL-key row
    emits NOTHING (a plain equi-join fabricated delete+insert for it on
    every diff), and an actually-updated NULL-key row emits an update
    pre/post pair, not a delete+insert."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    old = spark.createDataFrame(
        [(None, "keep", 1.0), (2, "x", 2.0)], "id bigint, t string, v double"
    )
    # NULL-key row unchanged; key=2 updated
    new = spark.createDataFrame(
        [(None, "keep", 1.0), (2, "x", 99.0)], "id bigint, t string, v double"
    )
    got = [(r.change_type, r.id) for r in change_feed([old, new], ["id"]).collect()]
    assert sorted(got) == [("update_postimage", 2), ("update_preimage", 2)]

    # NULL-key row updated: pre/post pair, key preserved as NULL
    new2 = spark.createDataFrame(
        [(None, "keep", 7.0), (2, "x", 2.0)], "id bigint, t string, v double"
    )
    got2 = {(r.change_type, r.id): r.v for r in change_feed([old, new2], ["id"]).collect()}
    assert got2 == {
        ("update_preimage", None): 1.0,
        ("update_postimage", None): 7.0,
    }


def test_change_feed_rejects_duplicate_keys(spark):
    """r11 sweep: duplicate key tuples on either side would multiply
    through the full-outer join into duplicated/mispaired change
    entries — fail closed like the merge path. Since r14 both sides
    are priced in ONE side-tagged aggregation (half the plan-build
    actions, one combined scan); the error's key sample names the
    offending side."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed
    from football_lakehouse_spark.lakehouse.tables import MergeSourceDuplicateError

    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id bigint, t string")
    ok = spark.createDataFrame([(1, "a")], "id bigint, t string")
    with pytest.raises(MergeSourceDuplicateError, match=r"change_feed\(old\)"):
        change_feed([dup, ok], ["id"]).collect()
    with pytest.raises(MergeSourceDuplicateError, match=r"change_feed\(new\)"):
        change_feed([ok, dup], ["id"]).collect()


def test_scd2_apply_null_business_key(spark, tmp_path):
    """r11 sweep: a NULL business key is ONE key value end-to-end — the
    affected-key probe is null-safe, so the second batch closes the
    NULL key's prior current row instead of leaving two is_current
    rows (incremental == batch recompute, the function's contract)."""
    from football_lakehouse_spark.operators.scd import scd2_apply

    t = LakehouseTable(spark, str(tmp_path), "silver", "dim_null_key")
    scd2_apply(
        t,
        spark.createDataFrame([(None, "v1", 100)], "k string, attr string, ts long"),
        "k", "ts", ["attr"],
    )
    scd2_apply(
        t,
        spark.createDataFrame([(None, "v2", 200)], "k string, attr string, ts long"),
        "k", "ts", ["attr"],
    )
    rows = sorted(
        (r.attr, r.eff_from, r.eff_to, r.is_current) for r in t.read().collect()
    )
    assert rows == [("v1", 100, 200, False), ("v2", 200, None, True)]


def test_partitioned_writes_boolean_and_empty_partition_values(spark, tmp_path):
    """r11 sweep #3: the rewrite 'removed' list renders partition dirs
    the way SPARK names them — booleans lowercase (b=true, not
    str(True)='True') and empty strings as the default partition name.
    A mismatch leaves the partition's old files live: deleted rows
    resurface and kept rows duplicate."""
    t = LakehouseTable(spark, str(tmp_path), "s", "flags", partition_by=["active"])
    df = spark.createDataFrame(
        [(1, True, 10.0), (2, True, 3.0), (3, False, 5.0)],
        "id bigint, active boolean, v double",
    )
    t.append(df)
    t.delete(F.col("v") > 5)  # row 1 lives in active=true
    got = sorted((r.id, r.active) for r in t.read().collect())
    assert got == [(2, True), (3, False)]  # row 1 gone, NOT resurfaced
    assert t.read().count() == 2  # and row 2 not duplicated

    # the empty-string key: Spark STORES '' partition values in the
    # default partition and reads them back as NULL — '' and NULL are
    # ONE on-disk key. A merge shipping a ''-valued partition row must
    # therefore rewrite the NULL partition (probe and rendering agree
    # via value canonicalisation); before the fix it REMOVED the NULL
    # partition's files without rewriting their rows (confirmed loss)
    t2 = LakehouseTable(spark, str(tmp_path), "s", "empties", partition_by=["src"])
    t2.append(spark.createDataFrame(
        [(1, None, 10.0), (2, None, 3.0)], "id bigint, src string, v double",
    ))
    t2.merge(spark.createDataFrame(
        [(9, "", 7.0)], "id bigint, src string, v double",
    ), ["id"])
    got2 = sorted((r.id, r.src) for r in t2.read().collect())
    assert got2 == [(1, None), (2, None), (9, None)]  # nothing lost
    # and delete over the merged state still removes exactly one row
    t2.delete(F.col("v") > 5)
    assert sorted(r.id for r in t2.read().collect()) == [2]


def test_partitioned_merge_moves_null_key_row(spark, tmp_path):
    """r11 sweep #3: merge_upsert matches NULL keys null-safely, so the
    partition a NULL-key row currently lives in must join the rewrite
    set — with a plain equi probe the stale copy survived as a
    duplicate when the partition value moved."""
    t = LakehouseTable(spark, str(tmp_path), "s", "mv", partition_by=["d"])
    t.append(spark.createDataFrame(
        [(None, "2024-01-01", 1.0), (7, "2024-01-01", 2.0)],
        "k bigint, d string, v double",
    ))
    t.merge(spark.createDataFrame(
        [(None, "2024-01-02", 9.0)], "k bigint, d string, v double",
    ), ["k"])
    # exactly ONE NULL-key row, in its NEW partition
    nulls = [(r.d, r.v) for r in t.read().collect() if r.k is None]
    assert nulls == [("2024-01-02", 9.0)]
    assert t.read().count() == 2


def test_append_if_new_null_hash_rows(spark, tmp_path):
    """r11 sweep #3: a NULL content hash is ONE content value — the
    first NULL-hash batch appends, a replay skips table-side; the old
    equi chain silently DROPPED every NULL-hash row once the table
    existed (and committed an empty version for an all-NULL batch)."""
    t = LakehouseTable(spark, str(tmp_path), "s", "cas")
    first = spark.createDataFrame([("a", 1), (None, 2)], "h string, x int")
    assert t.append_if_new(first, "h") is not None
    assert t.read().count() == 2
    # replay of the same content (both hashes present) → skip
    assert t.append_if_new(first, "h") is None
    # a batch with ONLY the already-present NULL hash → skip, not an
    # empty commit and not a silent drop
    only_null = spark.createDataFrame([(None, 3)], "h string, x int")
    assert t.append_if_new(only_null, "h") is None
    assert t.read().count() == 2
    # novel real hash still appends alongside a replayed NULL
    mixed = spark.createDataFrame([(None, 4), ("b", 5)], "h string, x int")
    assert t.append_if_new(mixed, "h") is not None
    got = sorted(((r.h, r.x) for r in t.read().collect()), key=str)
    assert t.read().count() == 3 and ("b", 5) in got


def test_stat_value_normalizes_tz_aware(spark):
    """r11 sweep #3: tz-aware stats (isAdjustedToUTC parquet) normalise
    to naive UTC isoformat — mixed aware/naive strings do not compare
    chronologically at equal instants, which would turn data skipping
    into a filter at the range boundary."""
    import datetime as dt

    aware = dt.datetime(2024, 3, 1, 5, 0, 0, tzinfo=dt.timezone(dt.timedelta(hours=5)))
    naive = dt.datetime(2024, 3, 1, 0, 0, 0)
    sa = LakehouseTable._stat_value(aware)
    sn = LakehouseTable._stat_value(naive)
    assert sa == sn == "2024-03-01T00:00:00"  # same instant, same key


def test_partition_type_fail_closed_and_stat_key_norm(spark, tmp_path):
    """r11 sweep #3 follow-up: float/timestamp partition columns are
    rejected at stage time — their Python rendering cannot match
    Spark's on-disk dir names (Java '1.0E-7' vs Python '1e-07'), which
    made rewrites resurrect deleted rows (confirmed repro). Stored stat
    keys need no load-time normalisation: ``_stat_value`` (tested
    above) is the only writer and stores naive-UTC ISO strings."""
    t = LakehouseTable(spark, str(tmp_path), "s", "floaty", partition_by=["r"])
    df = spark.createDataFrame([(1, 1e-7, 10.0)], "id bigint, r double, v double")
    with pytest.raises(ValueError, match="partition column 'r' has type double"):
        t.append(df)
    t2 = LakehouseTable(spark, str(tmp_path), "s", "tsy", partition_by=["ts"])
    df2 = spark.createDataFrame([(1,)], "id bigint").select(
        "id", F.lit("2024-03-01 00:00:00.123").cast("timestamp").alias("ts")
    )
    with pytest.raises(ValueError, match="has type timestamp"):
        t2.append(df2)


def test_continuous_rollup_touches_only_batch_partitions(spark, events, tmp_path):
    """r11 sweep #4: merge_additive is now genuinely incremental — the
    rollup table is date-partitioned and a new batch's merge rewrites
    ONLY its dates' partitions (the old path re-aggregated and
    overwrote the WHOLE table per batch), and partials sum in
    DECIMAL(38,0) via the shared quantiser."""
    from football_lakehouse_spark.pipelines.continuous import (
        batch_partials,
        merge_additive,
    )

    t = LakehouseTable(
        spark, str(tmp_path), "gold", "rollup_hourly", partition_by=["d"]
    )
    days = sorted(r[0] for r in events.select(F.to_date("ts")).distinct().collect())
    d1, d2 = days[0], days[1]
    b1 = events.where(F.to_date("ts") == d1)
    b2 = events.where(F.to_date("ts") == d2)
    merge_additive(t, batch_partials(b1))
    files_after_b1 = set(t.current_files())
    merge_additive(t, batch_partials(b2))
    files_after_b2 = set(t.current_files())
    # day-1 partition files survive the day-2 merge untouched
    d1_files = {f for f in files_after_b1 if f.startswith(f"d={d1}/")}
    assert d1_files and d1_files <= files_after_b2
    # exactness: totals equal a one-shot recompute
    both = batch_partials(b1.unionByName(b2))
    got = {(r.h, r.event_type): (r.n, r.v_micros) for r in t.read()
           .select("h", "event_type", "n", "v_micros").collect()}
    want = {(r.h, r.event_type): (r.n, r.v_micros) for r in both.collect()}
    assert got == want
    # the stored partial is decimal, not bigint (overflow headroom)
    assert dict(t.read().dtypes)["v_micros"].startswith("decimal")


def test_optimized_write_staged_size_gate(spark, tmp_path):
    """r15: the optimized write's REBALANCE is gated on the staged
    plan's size estimate — a commit under one advisory partition skips
    the exchange and coalesces to one file (no shuffle), a commit
    estimated above it rebalances into advisory-sized output."""
    t = LakehouseTable(spark, str(tmp_path), "silver", "gate")
    df = spark.range(0, 1000, 1, 8).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    # tiny staged frame: estimate (KBs) << advisory (64m) -> gate off
    assert not t._rebalance_worthwhile(df)
    t.append(df)
    files_v0 = [f for f in t.current_files()]
    assert len(files_v0) == 1  # coalesced: one file, no exchange
    # same frame with the advisory forced below the estimate -> gate on
    old = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    try:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1k")
        assert t._rebalance_worthwhile(df)
        t2 = LakehouseTable(spark, str(tmp_path), "silver", "gate_on")
        t2.append(df)
        # the rebalance exchange re-splits the 8 upstream tasks to the
        # (tiny) advisory size: file count is set by AQE, not by the
        # upstream task count
        assert len(t2.current_files()) != 8
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", old)


def test_change_feed_chain_additive_schema_evolution(spark):
    """r15 (ADVICE r14): a multi-version feed whose later versions
    gained a column must union its pair feeds with NULLs for the missing
    payload column (the same value a pair diff emits for a side lacking
    it), not raise AnalysisException."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    v0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    v1 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20)], "k int, v string, extra int"
    )
    v2 = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 21), (3, "c", 30)],
        "k int, v string, extra int",
    )
    feed = change_feed([v0, v1, v2], ["k"]).collect()
    got = {(r.change_type, r.k, r.v, r.extra) for r in feed}
    assert got == {
        # v0 -> v1: row 2 updated; row 1's extra went NULL -> 10 (update)
        ("update_preimage", 1, "a", None),
        ("update_postimage", 1, "a", 10),
        ("update_preimage", 2, "b", None),
        ("update_postimage", 2, "B", 20),
        # v1 -> v2: row 2 extra bumped, row 3 inserted
        ("update_preimage", 2, "B", 20),
        ("update_postimage", 2, "B", 21),
        ("insert", 3, "c", 30),
    }


def test_change_feed_shape_matches_table_changes(spark, tmp_path):
    """The derived feed has table_changes' shape (version, change_type,
    <table columns>); over versions 0..k the list position IS the table
    version, so diffing and the writer-logged feed agree row for row."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed
    from football_lakehouse_spark.lakehouse.tables import LakehouseTable

    schema = "k bigint, g string, v double"
    t = LakehouseTable(spark, str(tmp_path / "cf"), "silver", "cf_shape")
    t.enable_change_feed()
    t.append(spark.createDataFrame([(i, "a", float(i)) for i in range(6)], schema))
    t.merge(spark.createDataFrame([(2, "b", 22.0), (9, "a", 9.0)], schema), ["k"])
    t.delete(F.col("k") < 2)
    derived = change_feed([t.read(version=v) for v in range(3)], ["k"])
    logged = t.table_changes(0)
    assert derived.dtypes == logged.dtypes
    assert sorted(map(tuple, derived.collect())) == sorted(
        map(tuple, logged.collect())
    )


def test_cdf_merge_rejects_duplicate_target_key(spark, tmp_path):
    """With the change feed on, merge checks the source and the touched
    target slice in one aggregation: a key duplicated in the target (two
    appends) that the merge touches still raises before anything is
    staged or committed."""
    from football_lakehouse_spark.lakehouse.tables import MergeSourceDuplicateError

    schema = "k bigint, v double"
    t = LakehouseTable(spark, str(tmp_path), "silver", "cdf_dup")
    t.enable_change_feed()
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], schema))
    t.append(spark.createDataFrame([(1, 1.5)], schema))
    head = t.current_version()
    data_files = sorted(os.listdir(t.data_root))
    with pytest.raises(MergeSourceDuplicateError, match=r"'target', \(1,\)"):
        t.merge(spark.createDataFrame([(1, 9.0), (3, 3.0)], schema), ["k"])
    assert t.current_version() == head
    assert sorted(os.listdir(t.data_root)) == data_files
    assert not os.path.exists(os.path.join(t.base, "_changes"))


def test_change_feed_prices_every_version_once(spark):
    """k versions are key-validated in ONE eager aggregation: building
    a 4-version feed starts as many jobs as a 2-version one (a pairwise
    loop would validate each interior version twice, in 3 actions), and
    a duplicate is reported with its list position."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed
    from football_lakehouse_spark.lakehouse.tables import MergeSourceDuplicateError

    ok = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, t string")
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id bigint, t string")
    with pytest.raises(MergeSourceDuplicateError, match=r"version#1"):
        change_feed([ok, dup, ok], ["id"])
    sc = spark.sparkContext
    jobs = {}
    for n in (2, 4):
        group = f"change-feed-build-{n}"
        try:
            sc.setJobGroup(group, group)
            change_feed([ok] * n, ["id"])
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs[2] >= 1 and jobs[4] == jobs[2], jobs


def test_maintain_count_sum_equals_recompute(spark):
    """The one view fold: v0's count + exact-micros view brought forward
    by the feed equals a recompute from the final version — with a key
    migrating between groups, a group emptying (dropped) and a group
    appearing — for a named column and for an aliased expression."""
    from football_lakehouse_spark.lakehouse.cdc import (
        change_feed,
        maintain_count_sum,
    )

    schema = "k bigint, g string, value double"
    v0 = spark.createDataFrame([(1, "a", 1.5), (2, "a", 2.25), (3, "b", 0.1)], schema)
    v1 = spark.createDataFrame([(1, "a", 1.5), (2, "c", 2.25), (3, "b", 0.2)], schema)
    v2 = spark.createDataFrame([(1, "a", 1.5), (2, "c", 2.25), (4, "d", 7.0)], schema)
    feed = change_feed([v0, v1, v2], ["k"])
    by_g = maintain_count_sum(v0, feed, F.col("g"), "value")
    assert by_g.columns == ["g", "n", "value_micros"]
    assert sorted(map(tuple, by_g.collect())) == [
        ("a", 1, 1_500_000), ("c", 1, 2_250_000), ("d", 1, 7_000_000),
    ]
    parity = (F.col("k") % 2).alias("parity")
    by_p = maintain_count_sum(v0, feed, parity, "value")
    assert by_p.columns == ["parity", "n", "value_micros"]
    assert sorted(map(tuple, by_p.collect())) == [
        (0, 2, 9_250_000), (1, 1, 1_500_000),
    ]


def test_lakehouse_writes_evaluate_their_input_once(spark, events, tmp_path):
    """Job-group pins on the Bronze → Silver write path: a 300-row
    partitioned merge reads the touched partitions' files once (one
    partition collect, no second probe inside the staged write) and a
    novel ``append_if_new`` stages without a separate novelty probe."""
    from football_lakehouse_spark.pipelines.medallion import ingest_bronze

    sc = spark.sparkContext

    def jobs(group, fn):
        try:
            sc.setJobGroup(group, group)
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    bronze = LakehouseTable(spark, str(tmp_path), "bronze", "ev",
                            partition_by=["snapshot_date"])
    assert ingest_bronze(spark, events.where("event_id % 2 = 0"), bronze) == 0
    v, n = jobs("pin-ingest", lambda: ingest_bronze(spark, events, bronze))
    assert v == 1 and n <= 5, n

    typed = events.select(
        "event_id", "user_id", "value", F.to_date("ts").alias("snapshot_date")
    )
    silver = LakehouseTable(spark, str(tmp_path), "silver", "ev",
                            partition_by=["snapshot_date"])
    silver.append(typed.where("event_id < 700"))
    batch = typed.where("event_id >= 600 AND event_id < 900").withColumn(
        "value", F.col("value") + 1.0
    )
    assert batch.count() == 300
    v, n = jobs("pin-merge", lambda: silver.merge(batch, ["event_id"]))
    assert v == 1 and n <= 12, n
    assert silver.read().count() == 900
