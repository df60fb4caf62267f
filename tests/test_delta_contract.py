"""The lakehouse contract: Delta table semantics, asserted on LakehouseTable.

The reference declares every table ``USING DELTA``; this engine
implements that protocol once, as parquet data files plus a manifest
log (``lakehouse.tables.LakehouseTable``). Each clause below encodes an
externally documented Delta behaviour (delta.io protocol docs) and
asserts it on that one implementation, including its log layout,
sidecar directories and the staging / log-listing / enforcement hooks
the concurrency clauses inject races through.

Contract clauses covered:
  C1  versions number monotonically from 0, one per commit
  C2  DESCRIBE HISTORY exposes version/operation/timestamp per commit
  C3  VERSION AS OF returns exactly the state after that commit,
      for every version, after any mix of append/merge/overwrite
  C4  MERGE: matched keys update, unmatched insert, key-uniqueness
      preserved, and a key whose partition value changes MOVES
  C5  MERGE rerun with the same batch is state-idempotent (new version,
      same data)
  C6  overwrite replaces current data completely; prior versions remain
      readable (time travel)
  C7  VACUUM retention: current reads unaffected; time travel beyond
      the horizon fails loudly, never silently returns partial data
  C8  OPTIMIZE (compaction) rewrites files without changing rows, as
      its own commit
  C9  DELETE rewrites only the partitions its predicate touches
  C10 reads resolve from a checkpoint plus the commit tail
  C11 OPTIMIZE with a sort key clusters rows within each file
  C12 DELETE keeps rows whose predicate evaluates NULL
  C13 escaped and NULL partition values round-trip through MERGE/DELETE
  C14 constraint add/drop are versioned commits; RESTORE restores
      constraint state; constraints(version=) sees history
  C15 VACUUM reclaims deletion-vector sidecars (incl. lost-CAS orphans)
  C16 concurrent blind appends both commit (loser rebases onto the new
      head — Delta logical conflict resolution)
  C17 the append rebase is refused when table properties changed
      concurrently (staged files were never checked against the new
      constraints)
  C18 the change data feed is logged per commit once enabled, and a
      version it cannot serve (pre-enablement, RESTORE) raises
  C19 read-modify-write operations (merge/delete/update/overwrite/
      restore/compact/properties) pin their snapshot head and CONFLICT
      when any commit lands mid-flight — a stale rewrite must never
      silently link the next free version (Delta optimistic
      concurrency; the lost-update class scripts/soak_multiwriter.py
      caught in r12)
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from football_lakehouse_spark.lakehouse.tables import LakehouseTable


@pytest.fixture(params=["parquet"])
def make_table(spark, tmp_path):
    """Factory for the LakehouseTable handles a clause opens: tables
    made in one test share one warehouse root, so a second call with
    the same name is a second writer on the same table. The one
    ``parquet`` id keeps the clause test ids stable."""

    def make(name: str, partition_by=()):
        return LakehouseTable(spark, str(tmp_path), "contract", name,
                              partition_by=partition_by)

    return make


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _df(spark, data):
    return spark.createDataFrame(data, "k int, v string")


def test_parquet_merge_rejects_duplicate_source_keys(spark, tmp_path):
    """MERGE refuses duplicate source keys: before r10 it silently
    INSERTED both duplicate rows (violating key uniqueness); now a
    named error fires, with sample keys in the message."""
    from football_lakehouse_spark.lakehouse.tables import (
        MergeSourceDuplicateError,
    )

    t = LakehouseTable(spark, str(tmp_path), "contract", "pmrg")
    t.append(_df(spark, [(1, "a")]))
    with pytest.raises(MergeSourceDuplicateError, match=r"\(1,\)"):
        t.merge(_df(spark, [(1, "x"), (1, "y")]), ["k"])
    # unique batch still merges fine after the rejected attempt
    t.merge(_df(spark, [(1, "x"), (2, "z")]), ["k"])
    assert _rows(t.read()) == [(1, "x"), (2, "z")]


def test_c1_c2_history_shape(spark, make_table):
    t = make_table("hist")
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.merge(_df(spark, [(2, "b2"), (3, "c")]), ["k"])
    t.compact()
    hist = t.describe_history()
    assert [h["version"] for h in hist] == [0, 1, 2, 3]
    assert [h["operation"] for h in hist] == [
        "append", "overwrite", "merge", "optimize"
    ]
    assert all(isinstance(h["ts"], float) for h in hist)
    # the commit log is incremental: every commit records add/remove
    # actions (never the full table file list — Delta's log shape)
    assert all(t._read_commit(v)["add"] for v in range(4))
    assert t._read_commit(1)["remove"]  # overwrite removes v0's files
    assert t.current_version() == 3


def test_c3_version_as_of_every_state(spark, make_table):
    """Replay a mixed commit sequence and check EVERY historical version
    reads back as exactly the post-commit state of that step."""
    t = make_table("asof")
    states = []

    def expect_after(op):
        op()
        states.append(_rows(t.read()))

    expect_after(lambda: t.append(_df(spark, [(1, "a"), (2, "b")])))
    expect_after(lambda: t.append(_df(spark, [(3, "c")])))
    expect_after(lambda: t.merge(_df(spark, [(2, "B"), (4, "d")]), ["k"]))
    expect_after(lambda: t.overwrite(_df(spark, [(9, "z")])))
    expect_after(lambda: t.merge(_df(spark, [(9, "Z"), (10, "y")]), ["k"]))

    for v, want in enumerate(states):
        assert _rows(t.read(version=v)) == want, f"version {v} diverged"
    # spot-check semantic content, not just self-consistency
    assert _rows(t.read(version=2)) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    assert _rows(t.read(version=3)) == [(9, "z")]


def test_c4_merge_upsert_and_partition_move(spark, make_table):
    t = make_table("mv", partition_by=["p"])
    base = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")], "k int, p string, v string"
    )
    t.merge(base, ["k"])
    upd = spark.createDataFrame(
        [(1, "2024-01-03", "A"), (3, "2024-01-01", "c")], "k int, p string, v string"
    )
    t.merge(upd, ["k"])
    got = t.read().select("k", F.col("p").cast("string"), "v")
    rows = {r["k"]: (r["p"], r["v"]) for r in got.collect()}
    assert len(rows) == 3  # key-unique
    assert rows[1] == ("2024-01-03", "A")  # moved AND updated
    assert rows[2] == ("2024-01-02", "b")
    assert rows[3] == ("2024-01-01", "c")  # inserted


def test_c5_merge_rerun_idempotent(spark, make_table):
    t = make_table("rerun")
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    batch = _df(spark, [(2, "B"), (3, "c")])
    t.merge(batch, ["k"])
    state = _rows(t.read())
    v = t.current_version()
    t.merge(batch, ["k"])  # replay the same batch (late/duplicate delivery)
    assert _rows(t.read()) == state
    assert t.current_version() == v + 1  # the replay is still a commit


def test_c6_overwrite_keeps_history(spark, make_table):
    t = make_table("ow")
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    assert _rows(t.read()) == [(2, "b")]
    assert _rows(t.read(version=0)) == [(1, "a")]


def test_c7_vacuum_retention(spark, make_table):
    t = make_table("vac")
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    t.merge(_df(spark, [(2, "B")]), ["k"])
    deleted = t.vacuum(retain_last=1)
    assert deleted > 0
    assert _rows(t.read()) == [(2, "B")]  # current unaffected
    with pytest.raises(Exception):
        t.read(version=0).collect()  # beyond horizon: loud failure


def test_c7_vacuum_refuses_nonpositive_retention(spark, make_table):
    """retain_last < 1 is refused loudly by every binding before any
    file is touched: on the parquet branch ``commits[-0:]`` is the whole
    log, so retain_last=0 silently kept every version (and a negative
    value kept all but v0)."""
    t = make_table("vac0")
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(2, "b")]))
    for bad in (0, -1):
        with pytest.raises(ValueError, match="retain_last"):
            t.vacuum(retain_last=bad)
    assert _rows(t.read(version=0)) == [(1, "a")]  # nothing was reclaimed


def test_c8_optimize_preserves_rows(spark, make_table):
    t = make_table("opt")
    for i in range(4):  # many small commits → many small files
        t.append(_df(spark, [(i, f"v{i}")]))
    before = _rows(t.read())
    n_files_before = len(t.current_files())
    t.compact(target_partitions=1)
    assert _rows(t.read()) == before
    assert len(t.current_files()) < n_files_before
    assert t.describe_history()[-1]["operation"] == "optimize"


def test_c9_delete_predicate_scoped(spark, make_table):
    t = make_table("del", partition_by=["p"])
    base = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "y"), (3, "b", "z")], "k int, p string, v string"
    )
    t.append(base)
    files_before = set(t.current_files())
    v = t.delete(F.col("k") == 1)
    assert v == t.current_version()
    got = _rows(t.read().select("k", F.col("p").cast("string"), "v"))
    assert got == [(2, "a", "y"), (3, "b", "z")]
    # untouched partition p=b keeps its exact files (copy-on-write is
    # partition-scoped, not table-wide)
    b_files = {f for f in files_before if f.startswith("p=b/")}
    assert b_files <= set(t.current_files())
    # no-match delete commits nothing
    v2 = t.current_version()
    assert t.delete(F.col("k") == 999) == -1
    assert t.current_version() == v2
    # time travel still shows the deleted row
    assert (1, "a", "x") in _rows(
        t.read(version=0).select("k", F.col("p").cast("string"), "v")
    )


def test_c12_delete_null_predicate_retains(spark, make_table):
    """SQL/Delta DELETE removes only rows where the predicate is TRUE;
    rows where it evaluates NULL (NULL in the predicate column) are
    retained. A naive where(~pred) rewrite silently drops them
    (NOT NULL is NULL under three-valued logic) — data loss."""
    data = [(1, "a", "del"), (2, None, "keep-null"), (3, "b", "keep")]
    schema = "k int, tag string, v string"

    t = make_table("delnull")
    t.append(spark.createDataFrame(data, schema))
    t.delete(F.col("tag") == "a")
    assert _rows(t.read()) == [(2, None, "keep-null"), (3, "b", "keep")]

    # partitioned branch takes a different kept-rows path — same contract
    tp = make_table("delnull_part", partition_by=["v"])
    tp.append(spark.createDataFrame(data, schema))
    tp.delete(F.col("tag") == "a")
    got = _rows(tp.read().select("k", "tag", F.col("v").cast("string")))
    assert got == [(2, None, "keep-null"), (3, "b", "keep")]


def test_c13_exotic_partition_values(spark, make_table):
    """Partition values Spark escapes on disk (':' -> %3A) and NULL
    (-> __HIVE_DEFAULT_PARTITION__) must round-trip through merge and
    delete: the removal path string-matches partition dirs, so a naive
    f\"{c}={value}\" build misses the escaped dir name and leaves the
    old copy alive as a duplicate; a plain equi semi-join drops the
    NULL partition from the rewrite set and loses its rows."""
    data = [(1, "a:1", "x"), (2, "a:1", "y"), (3, None, "z"), (4, "plain", "w")]
    schema = "k int, p string, v string"

    t = make_table("exotic", partition_by=["p"])
    t.append(spark.createDataFrame(data, schema))
    # merge updates a key in the escaped partition and one in the NULL
    # partition — no duplicates may survive in either
    t.merge(
        spark.createDataFrame([(1, "a:1", "x2"), (3, None, "z2")], schema), ["k"]
    )
    got = _rows(t.read().select("k", F.col("p").cast("string"), "v"))
    assert got == [(1, "a:1", "x2"), (2, "a:1", "y"), (3, None, "z2"), (4, "plain", "w")]

    # delete from the escaped partition, then from the NULL partition
    t.delete(F.col("k") == 2)
    t.delete(F.col("p").isNull())
    got = _rows(t.read().select("k", F.col("p").cast("string"), "v"))
    assert got == [(1, "a:1", "x2"), (4, "plain", "w")]


def test_c10_checkpointed_log_replay(spark, make_table):
    """≥ CHECKPOINT_EVERY commits → a checkpoint file exists and reads
    resolve from checkpoint + commit tail; every historical version
    still reads exactly."""
    import glob
    import os

    t = make_table("ckpt")
    states = []
    for i in range(13):
        t.append(_df(spark, [(i, f"v{i}")]))
        states.append(_rows(t.read()))
    cps = glob.glob(os.path.join(t.log_root, "*.checkpoint.json"))
    assert cps, "no checkpoint written after 13 commits"
    hist = t.describe_history()
    assert [h["version"] for h in hist] == list(range(13))
    for v in (0, 5, 9, 10, 11, 12):
        assert _rows(t.read(version=v)) == states[v], f"v{v} diverged"


def test_c11_optimize_sort_clusters_rows(spark, make_table):
    """compact(sort_by=...) rewrites with rows clustered — parquet
    row-group stats become selective for the sort key."""
    t = make_table("zorder")
    import random

    rng = random.Random(7)
    ks = list(range(1000))
    rng.shuffle(ks)
    t.append(spark.createDataFrame([(k, f"v{k}") for k in ks], "k int, v string"))
    t.compact(target_partitions=2, sort_by=["k"])
    assert t.describe_history()[-1]["operation"] == "optimize"
    # same rows, now sorted within each output file
    assert t.read().count() == 1000
    import pyarrow.parquet as pq

    for f in t.current_files():
        col = pq.read_table(f"{t.data_root}/{f}", columns=["k"])["k"].to_pylist()
        assert col == sorted(col)


def test_c14_constraints_versioned_and_restored(spark, make_table):
    """ADVICE r4: constraint add/drop on an existing table are CAS'd
    metadata commits — RESTORE restores constraint state, and
    constraints(version=...) sees history."""
    from football_lakehouse_spark.lakehouse.tables import (
        ConstraintViolationError,
    )

    t = make_table("cons_hist")
    t.append(_df(spark, [(1, "a")]))           # v0
    v_clean = t.current_version()
    t.add_constraint("pos_k", "k > 0")         # v1 (set_properties commit)
    assert t.describe_history()[-1]["operation"] == "set_properties"
    v_with = t.current_version()
    assert t.constraints(version=v_clean) == {}
    assert t.constraints(version=v_with) == {"pos_k": "k > 0"}
    # enforcement active now
    with pytest.raises(ConstraintViolationError):
        t.append(_df(spark, [(-5, "bad")]))
    # restore to the pre-constraint version: data AND constraint state
    t.restore(v_clean)
    assert t.constraints() == {}
    t.append(_df(spark, [(-5, "ok now")]))     # constraint gone → accepted
    # roll forward again to the constrained version's props
    t.restore(v_with)
    assert t.constraints() == {"pos_k": "k > 0"}


def test_c15_vacuum_reclaims_deletion_vector_sidecars(spark, make_table):
    """ADVICE r4: DV sidecar dirs purged by compact (and orphans) are
    reclaimed by vacuum; a still-referenced DV survives."""
    import os

    t = make_table("dv_vac")
    t.append(_df(spark, [(i, f"v{i}") for i in range(10)]))
    t.delete(F.col("k") < 3, deletion_vectors=True)
    dv_root = os.path.join(t.base, "_dv")
    assert len(os.listdir(dv_root)) == 1
    # live DV referenced by the current version: retained
    t.vacuum(retain_last=1)
    assert len(os.listdir(dv_root)) == 1
    assert t.read().count() == 7
    # compact purges the DV from the log; an orphan dir (lost-CAS
    # leftovers) appears alongside
    t.compact()
    os.makedirs(os.path.join(dv_root, "deadbeef0000"))
    t.vacuum(retain_last=1)
    assert os.listdir(dv_root) == []
    assert t.read().count() == 7


def test_c16_concurrent_appends_both_commit(spark, make_table):
    """Delta conflict-resolution parity: blind appends never logically
    conflict — a writer that loses the version CAS (the true race:
    both writers read the same head and link the same commit number)
    rebases its already-staged files onto the new head instead of
    failing. The race is reproduced deterministically by serving writer
    A ONE stale log listing: its first commit attempt targets a version
    writer B already took, the put-if-absent link refuses, and the
    public append() retry loop must absorb it."""
    t = make_table("conc_app")
    t.append(_df(spark, [(1, "base")]))

    real = t._log_entries
    stale_tail = real()            # the head writer A believes in
    t.append(_df(spark, [(3, "from_b")]))   # writer B takes version 1

    # writer A sees the stale head for its WHOLE first attempt (schema
    # reads and the commit's own version computation), so its commit
    # targets the version B already took and the put-if-absent link
    # refuses; the healing is keyed to the rebase hook so the test
    # fails if the conflict path never ran
    state = {"stale": True, "rebased": 0}
    orig_rebase = t._rebase_append_schema

    def racing_log_entries():
        return stale_tail if state["stale"] else real()

    def rebase_and_heal(*a, **k):
        state["stale"] = False
        state["rebased"] += 1
        return orig_rebase(*a, **k)

    t._log_entries = racing_log_entries
    t._rebase_append_schema = rebase_and_heal
    try:
        t.append(_df(spark, [(2, "from_a")]))   # loses CAS once, rebases
    finally:
        t._log_entries = real
        t._rebase_append_schema = orig_rebase
    assert state["rebased"] == 1, "the CAS conflict must have been hit exactly once"
    assert _rows(t.read()) == [(1, "base"), (2, "from_a"), (3, "from_b")]
    assert [h["version"] for h in t.describe_history()] == [0, 1, 2]


def test_c19_concurrent_merge_conflict_detected(spark, make_table):
    """C19 (r12, found by scripts/soak_multiwriter.py): a read-modify-
    write operation whose snapshot went stale mid-flight must raise
    ConcurrentWriteError — NEVER silently commit a rewrite computed
    from a head it didn't read. Before r12 the version was computed at
    link time, so a racing merge with a fresh log listing linked the
    next free version and the earlier writer's updates were silently
    lost (dense history, no error — the worst failure shape). The race
    is reproduced deterministically by injecting the second writer's
    commit inside the first writer's staging step."""
    from football_lakehouse_spark.lakehouse.tables import ConcurrentWriteError

    t1 = make_table("conc_mrg")
    t1.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t2 = make_table("conc_mrg")  # second handle = second writer

    raced = {"done": False}
    orig_stage = t2._stage

    def racing_stage(df):
        files = orig_stage(df)
        if not raced["done"]:
            raced["done"] = True
            t1.merge(_df(spark, [(1, "A1")]), ["k"])  # t1 wins mid-flight
        return files

    t2._stage = racing_stage
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced from version"):
            t2.merge(_df(spark, [(2, "B2")]), ["k"])
        # the retry (RUNBOOK §3) re-reads and preserves BOTH writers' rows
        t2.merge(_df(spark, [(2, "B2")]), ["k"])
    finally:
        t2._stage = orig_stage
    assert _rows(t2.read()) == [(1, "A1"), (2, "B2"), (3, "c")]
    assert [h["operation"] for h in t2.describe_history()] == [
        "append", "merge", "merge"
    ]


def test_c19_concurrent_delete_conflict_detected(spark, make_table):
    """C19 sibling: DELETE's kept-rows rewrite computed from a stale
    snapshot would resurrect rows a racing merge changed — it must
    conflict instead."""
    from football_lakehouse_spark.lakehouse.tables import ConcurrentWriteError
    from pyspark.sql import functions as F

    t1 = make_table("conc_del")
    t1.append(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t2 = make_table("conc_del")
    raced = {"done": False}
    orig_stage = t2._stage

    def racing_stage(df):
        files = orig_stage(df)
        if not raced["done"]:
            raced["done"] = True
            t1.merge(_df(spark, [(2, "B-new")]), ["k"])
        return files

    t2._stage = racing_stage
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced from version"):
            t2.delete(F.col("k") == 3)
        t2.delete(F.col("k") == 3)  # retry on fresh state
    finally:
        t2._stage = orig_stage
    assert _rows(t2.read()) == [(1, "a"), (2, "B-new")]


def test_c19_concurrent_append_if_new_skips_duplicate(spark, make_table):
    """C19 sibling: append_if_new's novelty decision is read-modify-
    write — two concurrent replays of the SAME payload must not both
    land (pre-r12 they did: both probed the same snapshot, neither saw
    the other, and the blind-append path rebased both in). The loser
    now conflicts, re-probes the new head, sees the hash, and skips."""
    t1 = make_table("conc_ain")
    t1.append(
        spark.createDataFrame([(1, "seed", "h0")], "k int, v string, h string")
    )
    t2 = make_table("conc_ain")
    payload = spark.createDataFrame(
        [(2, "same-batch", "h1")], "k int, v string, h string"
    )
    raced = {"done": False}
    orig_stage = t2._stage

    def racing_stage(df):
        files = orig_stage(df)
        if not raced["done"]:
            raced["done"] = True
            assert t1.append_if_new(payload, "h") is not None  # t1 wins
        return files

    t2._stage = racing_stage
    try:
        assert t2.append_if_new(payload, "h") is None  # conflicted → re-probed → skip
    finally:
        t2._stage = orig_stage
    assert _rows(t2.read().select("k")) == [(1,), (2,)]  # exactly once


def test_c19_concurrent_constraint_add_not_lost(spark, make_table):
    """C19 property sibling: two concurrent ADD CONSTRAINTs both read
    props, both merge their own entry — the loser must conflict (then
    succeed on retry with both constraints present), never silently
    overwrite the winner's property commit."""
    from football_lakehouse_spark.lakehouse.tables import ConcurrentWriteError

    t1 = make_table("conc_prop")
    t1.append(_df(spark, [(1, "a")]))
    t2 = make_table("conc_prop")
    raced = {"done": False}
    orig_enforce = t2._enforce

    def racing_enforce(*a, **k):
        if not raced["done"]:
            raced["done"] = True
            t1.add_constraint("pos_k", "k > 0")  # t1 wins mid-flight
        return orig_enforce(*a, **k)

    t2._enforce = racing_enforce
    try:
        with pytest.raises(ConcurrentWriteError, match="advanced from version"):
            t2.add_constraint("short_v", "length(v) < 10")
        t2.add_constraint("short_v", "length(v) < 10")  # retry
    finally:
        t2._enforce = orig_enforce
    assert t2.constraints() == {"pos_k": "k > 0", "short_v": "length(v) < 10"}


def test_c17_concurrent_append_conflicts_on_property_change(spark, make_table):
    """The rebase is refused when table properties changed concurrently
    (a new CHECK constraint was never enforced on the staged files)."""
    from football_lakehouse_spark.lakehouse.tables import ConcurrentWriteError

    t = make_table("conc_cons")
    t.append(_df(spark, [(1, "a")]))
    props_before = t._props()
    a_df = t._align_schema(_df(spark, [(-2, "bad")]), False)
    t._stage(a_df)
    a_schema = t._staged_schema
    t.add_constraint("pos_k", "k > 0")  # property change wins the race
    with pytest.raises(ConcurrentWriteError):
        t._rebase_append_schema(a_schema, props_before)


def test_c18_change_feed_logged_and_served(spark, make_table):
    """C18 (delta.enableChangeDataFeed parity): once enabled, every
    mutating commit serves row-level changes from LOGGED sidecars —
    appends via their own add-files (never written twice), merge /
    delete / update via O(touched-rows) sidecars — and the logged feed
    for every transition equals the derive-by-diff oracle
    (cdc.change_feed over the two versions)."""
    from football_lakehouse_spark.lakehouse.cdc import change_feed

    t = make_table("cdf")
    t.enable_change_feed()
    base = spark.createDataFrame(
        [(i, "a", float(i)) for i in range(10)], "k bigint, g string, v double"
    )
    t.append(base)
    t.merge(
        spark.createDataFrame(
            [(3, "b", 33.0), (99, "a", 9.9)], "k bigint, g string, v double"
        ),
        ["k"],
    )
    t.delete(F.col("v") < 2)
    t.update(F.col("k") == 5, {"v": F.lit(55.0)})
    for v in range(0, t.current_version()):
        derived = {
            tuple(map(str, r))
            for r in change_feed(
                [t.read(version=v), t.read(version=v + 1)], ["k"]
            )
            .drop("version")
            .collect()
        }
        logged = {
            tuple(map(str, r))
            for r in t.table_changes(v, v + 1)
            .select("change_type", "k", "g", "v")
            .collect()
        }
        assert logged == derived, f"v{v}->v{v+1}"
    # the full-range read unions all versions with a version column
    tc = t.table_changes(-1)
    assert tc.columns[:2] == ["version", "change_type"]
    assert tc.where(F.col("version") == 0).count() == 10  # the append's inserts


def test_c18_change_feed_hole_raises(spark, make_table):
    """C18: a mutating version committed BEFORE enablement has no
    sidecar; serving it must raise, never silently skip — a hole in
    the feed corrupts every downstream incremental consumer."""
    t = make_table("cdf_hole")
    base = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double")
    t.append(base)
    t.delete(F.col("k") == 1)  # v1, no CDF yet
    t.enable_change_feed()
    t.update(F.col("k") == 2, {"v": F.lit(9.0)})
    with pytest.raises(ValueError, match="no logged change data"):
        t.table_changes(-1).collect()
    # the enabled span serves fine
    post = t.table_changes(t.current_version() - 1)
    assert {r["change_type"] for r in post.collect()} == {
        "update_preimage", "update_postimage"
    }


def test_c18_restore_hole_raises(spark, make_table):
    """C18: RESTORE re-adds/removes data files with no CDF sidecar;
    serving the range across it must raise, never silently skip —
    an incremental consumer would net out a delete and never see the
    restore re-add the rows. A no-op restore (target == current live
    set) stays skippable metadata."""
    t = make_table("cdf_restore")
    t.enable_change_feed()
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k bigint, v double"))
    t.delete(F.col("k") == 1)  # v1, CDF logged
    t.restore(0)  # v2: re-adds v0's file, no CDF possible
    with pytest.raises(ValueError, match="RESTORE cannot be served"):
        t.table_changes(-1).collect()
    # a range that stops before the restore still serves
    assert t.table_changes(0, 1).count() > 0
    # no-op restore (already at the target live set) is metadata-only
    t2 = make_table("cdf_restore_noop")
    t2.enable_change_feed()
    t2.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    t2.restore(0)
    assert t2.table_changes(-1).count() > 0  # skipped, not raised


def test_c18_overwrite_hole_raises(spark, make_table):
    """C18: an OVERWRITE committed before enablement removed files whose
    delete half was never logged — serving it as inserts-only is the
    same silent hole as merge/delete/update; it must raise. An
    overwrite of an EMPTY table (nothing removed) is a pure insert and
    serves fine without a sidecar."""
    t = make_table("cdf_ow_hole")
    t.overwrite(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))  # v0: empty→rows
    t.overwrite(spark.createDataFrame([(2, 2.0)], "k bigint, v double"))  # v1: removes, no CDF
    t.enable_change_feed()
    t.update(F.col("k") == 2, {"v": F.lit(9.0)})
    with pytest.raises(ValueError, match="overwrite.*no logged change data"):
        t.table_changes(-1).collect()
    # v0 alone (no files removed) is a clean insert batch
    assert {r["change_type"] for r in t.table_changes(-1, 0).collect()} == {
        "insert"
    }
    # post-enablement overwrite logs its delete half and serves
    t.overwrite(spark.createDataFrame([(3, 3.0)], "k bigint, v double"))
    assert {r["change_type"] for r in
            t.table_changes(t.current_version() - 1).collect()} == {
        "delete", "insert"
    }


def test_c18_vacuum_reclaims_change_sidecars(spark, make_table):
    """C18+C7: change sidecars follow data-file retention — vacuum
    drops the feed of non-retained versions (reading it then raises)
    while the retained tail stays served."""
    import os

    t = make_table("cdf_vacuum")
    t.enable_change_feed()
    t.append(spark.createDataFrame([(1, 1.0)], "k bigint, v double"))
    t.delete(F.col("k") == 1)                       # sidecar v1
    t.append(spark.createDataFrame([(2, 2.0)], "k bigint, v double"))
    t.update(F.col("k") == 2, {"v": F.lit(4.0)})    # sidecar v3
    n_before = len(os.listdir(os.path.join(t.base, "_changes")))
    assert n_before == 2
    t.vacuum(retain_last=1)
    n_after = len(os.listdir(os.path.join(t.base, "_changes")))
    assert n_after == 1  # only the last version's sidecar survives
    assert {r["change_type"] for r in
            t.table_changes(t.current_version() - 1).collect()} == {
        "update_preimage", "update_postimage"
    }
