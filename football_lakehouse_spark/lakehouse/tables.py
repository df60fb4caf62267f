"""Versioned lakehouse tables on plain parquet.

The reference stores everything in Delta tables and leans on Delta for
append/overwrite sinks, MERGE, DELETE, time travel, OPTIMIZE/VACUUM and
small-file controls (SURVEY.md §2.1 S4-S6, §2.13). delta-spark is not
in this image, so this module provides the same contract on parquet +
a Delta-shaped transaction log:

    <root>/<schema>/<table>/
        _log/<20-digit version>.json         # ONE commit = ONE file:
                                             #   {version, operation, ts,
                                             #    add: [files], remove: [files]}
        _log/<version>.checkpoint.json       # every CHECKPOINT_EVERY commits,
                                             #   the WHOLE snapshot at that
                                             #   version: {version, live:
                                             #   [files], stats, dv, schema,
                                             #   props, txn, history}
        data/<partition dirs>/<txid>-<n>.parquet

Commits are copy-on-write at file granularity and INCREMENTAL: a commit
records only the files it adds/removes (Delta's add/remove actions), so
commit cost is O(changed files), not O(table files × versions) — the
round-1 design rewrote the full manifest (every version's full file
list) per commit, a documented cliff at ~10⁵ files. Every piece of
state at a version — live files with their data-skipping stats, active
deletion vectors, logged schema, properties, per-app txn versions and
history — comes from ONE fold (:meth:`LakehouseTable._snapshot`): the
newest full checkpoint ≤ the version plus the commit tail, exactly like
Delta's checkpoint + _delta_log replay, so any read costs O(tail)
commits, never the full log. A checkpoint lacking any snapshot key
(written before checkpoints held the whole snapshot) is skipped; commit
files are never deleted, so folding from an older checkpoint or from
version 0 is exact.

Semantics matched to the reference:
- ``append``      → S4 Delta append sink (with optional content-hash
                    idempotence — D2's (snapshot_date, sha256) skip)
- ``overwrite``   → S5 overwrite-publish (overwriteSchema semantics:
                    the written schema wins)
- ``merge``       → JN4 Delta MERGE (upsert by key, rerun-safe);
                    partition-scoped rewrite when the table is
                    partitioned — including partitions a matched key
                    is MOVING OUT of
- ``delete``      → Delta DELETE (predicate-scoped copy-on-write, or
                    merge-on-read via ``deletion_vectors=True``)
- ``update``      → Delta UPDATE … SET (copy-on-write, partition-scoped)
- ``time_travel`` → VERSION AS OF / TIMESTAMP AS OF / DESCRIBE HISTORY
- ``restore``     → RESTORE TABLE … TO VERSION AS OF (metadata-only)
- ``shallow_clone`` → CREATE TABLE … SHALLOW CLONE (zero-copy)
- ``vacuum``      → VACUUM (delete files unreachable from retained versions)
- ``compact``     → OPTIMIZE / autoCompact (rewrite current version into
                    right-sized files; optional sort_by ≈ ZORDER
                    clustering for scan locality; purges deletion vectors)
- ``add_constraint`` → ALTER TABLE ADD CONSTRAINT CHECK (write-enforced)
- schema tracking → schema lives in the log (enforced appends,
                    ``merge_schema`` evolution, per-version reads)
- ``rename_column`` / ``drop_column`` → metadata-only ALTER TABLE via
                    column mapping (physical names bound per version in
                    schema-field metadata; dropped identities tombstoned)

Single-writer by design — the reference runs every pipeline with
``max_concurrent_runs: 1`` (slice_v1_fpl_bootstrap.yml:5) — but commit
publication is nevertheless a true put-if-absent CAS (os.link fails on
an existing version → ConcurrentWriteError), so an accidental second
writer is DETECTED, never silently clobbered.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Mapping, Sequence
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from football_lakehouse_spark.functions.guards import (
    PER_WRITE_PARTITION_BOUND,
    bounded_collect,
    local_frame,
    parquet_schema,
    plan_bytes,
)
from football_lakehouse_spark.operators.merge import merge_upsert

LOG_DIR = "_log"
CHECKPOINT_EVERY = 10
#: how many times a losing append re-attempts its commit at the new log
#: head before surfacing ConcurrentWriteError (Delta parity: blind
#: appends never logically conflict, so the loser rebases)
APPEND_REBASE_RETRIES = 5
_V_WIDTH = 20


class ConstraintViolationError(ValueError):
    """A write (or ADD CONSTRAINT over existing data) violated a
    declared CHECK constraint; nothing was committed."""


class SchemaMismatchError(ValueError):
    """An append's schema conflicts with the table schema (extra column
    without mergeSchema, or a column type change); nothing was
    committed. Delta schema-enforcement parity."""


class ConcurrentWriteError(RuntimeError):
    """Another writer committed the same version first (optimistic
    concurrency, Delta ConcurrentModificationException parity): nothing
    was committed; re-read and retry."""


class MergeSourceDuplicateError(ValueError):
    """The MERGE source batch carries duplicate key tuples — Delta
    parity with DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW_IN_MERGE.
    Deduplicating silently would pick a nondeterministic winner;
    pre-dedupe upstream with an explicit ordering (``dedupe_updates``)."""


def require_unique_keys(
    frames: Mapping[str, DataFrame], keys: Sequence[str], where: str
) -> None:
    """Raise :class:`MergeSourceDuplicateError` if any key tuple occurs
    more than once within any of the labelled ``frames`` — the one
    key-uniqueness check of MERGE sources and change-feed versions.
    One map-side-combined aggregation prices every frame (several are
    unioned under a label column first), so k versions cost one eager
    job, not k; the sample keys in the message, label-tagged when there
    are several frames, make the upstream bug findable. The count is
    aliased (never bare ``.count()``) so a key literally named
    ``count`` cannot collide with the aggregate."""
    tagged = len(frames) > 1
    if tagged:
        df = reduce(
            lambda a, b: a.unionByName(b),
            [f.select(*keys, F.lit(label).alias("__label"))
             for label, f in frames.items()],
        )
    else:
        (df,) = frames.values()
    dups = bounded_collect(
        df.groupBy(*(["__label"] if tagged else []), *keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > 1)
        .limit(3),
        3,
        "require_unique_keys",
    )
    if dups:
        sample = [tuple(r[k] for k in keys) for r in dups]
        if tagged:
            sample = [(r["__label"], k) for r, k in zip(dups, sample)]
        raise MergeSourceDuplicateError(
            f"{where}: duplicate source key(s) for {list(keys)} — e.g. "
            f"{sample}; MERGE sources and change-feed versions must be "
            "key-unique (a duplicate picks a nondeterministic MERGE "
            "winner, or multiplies through the diff's key join). "
            "Pre-dedupe with an explicit ordering, e.g. "
            "dedupe_updates(batch, keys, order_desc)."
        )

#: Spark/Hive's on-disk name for a NULL partition value
_DEFAULT_PARTITION_NAME = "__HIVE_DEFAULT_PARTITION__"
#: chars Spark escapes in partition dir names (ExternalCatalogUtils:
#: ASCII 0x01-0x1F plus the path/URI-unsafe set), each written as %XX
_ESCAPED_CHARS = set('"#%\'*/:=?\\\x7f{[]^')


def _escape_partition_value(v: object) -> str:
    """Render a partition value exactly the way Spark names the dir on
    disk: NULL -> __HIVE_DEFAULT_PARTITION__; unsafe chars -> %XX
    (upper-case hex), mirroring ExternalCatalogUtils.escapePathName.
    Keeps string-matched removal paths (merge/delete) in agreement with
    the files Spark actually wrote for exotic partition values."""
    if v is None:
        return _DEFAULT_PARTITION_NAME
    # Spark renders booleans lowercase (b=true, not Python's str(True)
    # = 'True') and an EMPTY-STRING value as the default partition name
    # — a str(v) mismatch here means merge/delete/update's
    # startswith-matched "removed" list misses the partition's live
    # files: deleted rows resurface and kept rows duplicate
    if isinstance(v, bool):
        s = "true" if v else "false"
    else:
        s = str(v)
    if s == "":
        return _DEFAULT_PARTITION_NAME
    return "".join(
        f"%{ord(ch):02X}" if (0 < ord(ch) < 32 or ch in _ESCAPED_CHARS) else ch
        for ch in s
    )


def _null_safe_semi(base: DataFrame, keys: DataFrame, cols: Sequence[str]) -> DataFrame:
    """left_semi join on key tuples that also matches NULL values (a
    plain equi-join drops NULL keys, so a NULL-key row would escape the
    match)."""
    cond = None
    for c in cols:
        clause = base[c].eqNullSafe(keys[c])
        cond = clause if cond is None else cond & clause
    return base.join(F.broadcast(keys), cond, "left_semi")


@dataclass
class Version:
    version: int
    operation: str
    ts: float
    rows: int | None = None


#: what a full checkpoint holds besides its version (see _snapshot)
_SNAPSHOT_KEYS = ("live", "stats", "dv", "schema", "props", "txn", "history")


@dataclass(frozen=True)
class _Snapshot:
    """Table state AT one version — what :meth:`LakehouseTable._snapshot`
    folds from the log. Shared with the instance cache: read, never
    mutate."""

    version: int
    live: dict[str, dict]  # live file -> its logged min/max stats ({} = none)
    dv: frozenset[str]  # active deletion-vector sidecar names
    schema: str | None  # logged schema JSON (None: never logged)
    props: dict | None  # newest committed properties (None: none yet)
    txn: dict[str, int]  # highest txn version per app id
    history: tuple[Version, ...]


_EMPTY = _Snapshot(-1, {}, frozenset(), None, None, {}, ())


class LakehouseTable:
    def __init__(self, spark: SparkSession, root: str, schema: str, name: str,
                 partition_by: Sequence[str] = (),
                 stats_columns: Sequence[str] = ()):
        self.spark = spark
        self.base = os.path.join(root, schema, name)
        self.data_root = os.path.join(self.base, "data")
        self.log_root = os.path.join(self.base, LOG_DIR)
        self.partition_by = list(partition_by)
        #: columns whose per-file min/max are recorded in each commit
        #: for data skipping (Delta `dataSkippingNumIndexedCols`
        #: analogue). Numeric / string / timestamp columns only.
        #: Setting them also keeps the CALLER's file layout on write
        #: (see _stage): skipping relies on caller-arranged clustering
        #: (e.g. a repartitionByRange before append), which a rebalance
        #: or coalesce would merge back together.
        self.stats_columns = list(stats_columns)
        #: the last snapshot folded (commits are immutable, so it stays
        #: valid; the next fold at or past it starts from it)
        self._snap: _Snapshot | None = None
        os.makedirs(self.data_root, exist_ok=True)
        os.makedirs(self.log_root, exist_ok=True)

    # ---------------------------------------------------------------- log I/O
    def _commit_path(self, v: int) -> str:
        return os.path.join(self.log_root, f"{v:0{_V_WIDTH}d}.json")

    def _checkpoint_path(self, v: int) -> str:
        return os.path.join(self.log_root, f"{v:0{_V_WIDTH}d}.checkpoint.json")

    def _log_entries(self) -> tuple[list[int], list[int]]:
        """(sorted commit versions, sorted checkpoint versions)."""
        commits, checkpoints = [], []
        for fn in os.listdir(self.log_root):
            if fn.startswith("_"):  # _properties.json and friends
                continue
            if fn.endswith(".checkpoint.json"):
                checkpoints.append(int(fn[:_V_WIDTH]))
            elif fn.endswith(".json"):
                commits.append(int(fn[:_V_WIDTH]))
        return sorted(commits), sorted(checkpoints)

    def _read_commit(self, v: int) -> dict:
        with open(self._commit_path(v)) as f:
            return json.load(f)

    def _snapshot(self, v: int | None = None) -> _Snapshot:
        """THE fold: table state at version ``v`` (default: the head).
        Starts from the newest base ≤ v — the instance's last folded
        snapshot or a full checkpoint, whichever is newer — and folds
        the commit tail (add/remove with stats, dv_add/dv_remove,
        schema, props, txn, history), so a fresh instance opens at most
        one checkpoint plus CHECKPOINT_EVERY - 1 commits. Every reader
        of log state goes through here."""
        commits, checkpoints = self._log_entries()
        if v is None:
            v = commits[-1] if commits else -1
        base = self._snap
        if base is None or base.version > v:
            base = _EMPTY
        for cv in reversed(checkpoints):
            if cv <= base.version:
                break
            if cv > v:
                continue
            with open(self._checkpoint_path(cv)) as f:
                cp = json.load(f)
            if all(k in cp for k in _SNAPSHOT_KEYS):
                base = _Snapshot(
                    cv, {f: cp["stats"].get(f, {}) for f in cp["live"]},
                    frozenset(cp["dv"]), cp["schema"], cp["props"],
                    dict(cp["txn"]), tuple(Version(**h) for h in cp["history"]),
                )
                break
        if base.version < v:
            live, dv, txn = dict(base.live), set(base.dv), dict(base.txn)
            schema, props, history = base.schema, base.props, list(base.history)
            for cv in range(base.version + 1, v + 1):
                c = self._read_commit(cv)
                for f in c["remove"]:
                    live.pop(f, None)
                stats = c.get("stats", {})
                live.update((f, stats.get(f, {})) for f in c["add"])
                dv = (dv - set(c.get("dv_remove", ()))) | set(c.get("dv_add", ()))
                schema = c.get("schema", schema)
                props = c.get("props", props)
                if c.get("txn"):
                    # MAX, not last: txn versions need not be commit-order
                    # monotone
                    app, tv = c["txn"]["app_id"], int(c["txn"]["version"])
                    txn[app] = max(tv, txn.get(app, tv))
                history.append(
                    Version(c["version"], c["operation"], c["ts"], c.get("rows"))
                )
            base = _Snapshot(
                v, live, frozenset(dv), schema, props, txn, tuple(history)
            )
        self._snap = base
        return base

    def _head(self) -> int:
        """Current head version, -1 for a table with no commits — the
        snapshot pin every read-modify-write operation captures at
        entry and hands back to :meth:`_commit` as ``expect_head``."""
        commits, _ = self._log_entries()
        return commits[-1] if commits else -1

    def _commit(self, operation: str, add: list[str], remove: list[str],
                rows: int | None, schema_json: str | None = None,
                dv_add: list[str] | None = None,
                dv_remove: list[str] | None = None,
                txn: dict | None = None,
                props: dict | None = None,
                cdf: str | None = None,
                expect_head: int | None = None) -> int:
        commits, _ = self._log_entries()
        v = (commits[-1] + 1) if commits else 0
        # optimistic-concurrency check for read-modify-write operations
        # (merge/delete/update/overwrite/restore/compact/properties):
        # their add/remove sets were computed from the snapshot at
        # ``expect_head``, so ANY commit that landed since invalidates
        # them. Without this, a racing writer whose log listing is
        # fresh by commit time links the NEXT free version and silently
        # rebases a stale rewrite onto a head it never read — the
        # multi-writer soak caught exactly that as lost merge updates
        # (the same-number os.link CAS below only catches the two
        # writers who compute the SAME target version). Blind appends
        # intentionally pass expect_head=None: they commute and rebase.
        if expect_head is not None and v != expect_head + 1:
            raise ConcurrentWriteError(
                f"{self.base}: table advanced from version {expect_head} "
                f"to {v - 1} while this {operation} was reading/staging; "
                "its result may depend on state another writer changed — "
                "re-read the table and retry the operation"
            )
        entry = {
            "version": v, "operation": operation, "ts": time.time(),
            "rows": rows, "add": sorted(add), "remove": sorted(remove),
        }
        if schema_json is not None:
            entry["schema"] = schema_json
        if dv_add:
            entry["dv_add"] = sorted(dv_add)
        if dv_remove:
            entry["dv_remove"] = sorted(dv_remove)
        if txn:
            entry["txn"] = txn
        if props is not None:
            entry["props"] = props
        if cdf is not None:
            entry["cdf"] = cdf
        # data-skipping stats ride the commit that references the files;
        # _stage populated them for exactly this add set (rebase retries
        # reuse them — the files are the same)
        staged_stats = getattr(self, "_staged_stats", None)
        if add and staged_stats:
            entry["stats"] = {f: staged_stats[f] for f in add if f in staged_stats}
        tmp = self._commit_path(v) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(entry, f)
        # TRUE compare-and-swap: os.link fails with EEXIST if another
        # writer already committed this version (os.replace would
        # silently clobber their commit — lost update). This is the
        # put-if-absent every log-structured table format needs; on
        # object stores it maps to conditional PUT.
        try:
            os.link(tmp, self._commit_path(v))
        except FileExistsError:
            os.unlink(tmp)
            raise ConcurrentWriteError(
                f"{self.base}: version {v} was committed by another writer; "
                f"re-read the table and retry the operation"
            ) from None
        os.unlink(tmp)
        if v % CHECKPOINT_EVERY == 0 and v > 0:
            s = self._snapshot(v)
            cp = {
                "version": v,
                "live": sorted(s.live),
                "stats": {f: st for f, st in s.live.items() if st},
                "dv": sorted(s.dv),
                "schema": s.schema,
                "props": s.props,
                "txn": s.txn,
                "history": [vars(h) for h in s.history],
            }
            tmp = self._checkpoint_path(v) + f".tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                json.dump(cp, f)
            os.replace(tmp, self._checkpoint_path(v))
        return v

    # ----------------------------------------------------------------- schema
    def schema(self) -> "StructType | None":
        """Current logged table schema (Delta: schema lives in the log,
        not in data-file footers). Tables written before schema tracking
        return None and fall back to footer inference."""
        from pyspark.sql.types import StructType

        sj = self._snapshot().schema
        return StructType.fromJson(json.loads(sj)) if sj else None

    def _align_schema(self, df: DataFrame, merge_schema: bool) -> DataFrame:
        """Delta schema enforcement for appends: a column TYPE change
        always rejects; an EXTRA column rejects unless ``merge_schema``
        (which appends it to the table schema — existing rows read NULL
        for it); a MISSING column is allowed and null-filled. Returns
        df aligned to the final column order."""
        cur = self.schema()
        if cur is None:
            return df
        cur_types = {f.name: f.dataType for f in cur.fields}
        in_types = {f.name: f.dataType for f in df.schema.fields}
        for name, dt in in_types.items():
            if name in cur_types and cur_types[name].simpleString() != dt.simpleString():
                raise SchemaMismatchError(
                    f"{self.base}: column {name!r} is "
                    f"{cur_types[name].simpleString()} but incoming data has "
                    f"{dt.simpleString()}"
                )
        extra = [n for n in in_types if n not in cur_types]
        if extra and not merge_schema:
            raise SchemaMismatchError(
                f"{self.base}: incoming columns {extra} not in table schema; "
                f"pass merge_schema=True to evolve"
            )
        ordered = [f.name for f in cur.fields] + extra
        return df.select(
            *[
                F.col(n) if n in in_types
                else F.lit(None).cast(cur_types[n]).alias(n)
                for n in ordered
            ]
        )

    # ------------------------------------------------------------- properties
    def _properties_path(self) -> str:
        return os.path.join(self.log_root, "_properties.json")

    def _file_props(self) -> dict:
        try:
            with open(self._properties_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def _props(self, v: int | None = None) -> dict:
        """Table properties AS OF version ``v`` (default: current) —
        LOG-authoritative (r12): the newest props-bearing commit ≤ v
        wins, and versions before the first one resolve to ``{}``.
        ``_properties.json`` is only the fallback for tables whose
        properties were never committed (pre-first-commit bootstrap, or
        pre-versioning logs); it is a write-behind cache kept by
        :meth:`_set_props`, so a writer crashing between its commit and
        the file write cannot leave readers enforcing stale constraints."""
        props = self._snapshot(v).props
        if props is None:
            props = {} if self._snapshot().props is not None else self._file_props()
        # DEEP copy: callers mutate the returned dict (nested
        # constraint/tombstone edits); the snapshot is shared
        return json.loads(json.dumps(props))

    def _write_props(self, props: dict) -> None:
        tmp = self._properties_path() + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(props, f)
        os.replace(tmp, self._properties_path())

    def _set_props(self, props: dict, expect_head: int | None = None) -> None:
        """Durably update table properties. On an existing table this is
        a metadata COMMIT (CAS-protected — concurrent add/drop raise
        ``ConcurrentWriteError`` instead of losing an update, and the
        change is versioned so RESTORE / time travel can see historical
        constraint state); the ``_properties.json`` file is kept in sync
        as the fast current-state read path. Before the first commit
        (constraints declared on a not-yet-written table) only the file
        is written — the first data commit has nothing to race with.
        ``expect_head`` pins the snapshot the caller READ the current
        properties at: props are read-modify-write, so a commit that
        landed since (r12) conflicts instead of being silently merged
        over."""
        if self.exists():
            self._commit("set_properties", [], [], rows=None, props=props,
                         expect_head=expect_head)
        self._write_props(props)

    # --------------------------------------------------------- column mapping
    # Physical (on-disk parquet) column names are bound PER VERSION, in
    # each logged StructField's metadata {"physical": ...} — absent
    # means physical == logical (every column's initial state). This is
    # Delta's columnMapping design: renames/drops are metadata edits,
    # time travel reads every version under ITS binding, and a
    # re-added column can never alias a dropped column's stale bytes
    # because its physical identity is freshly claimed.

    @staticmethod
    def _phys(field) -> str:
        return field.metadata.get("physical", field.name)

    def _committed_schema_json(self, df: DataFrame) -> str:
        """Schema JSON to log for a write of ``df``: existing columns
        carry their current physical binding forward; columns new to
        the table claim physical == logical unless that identity is
        taken (tombstoned by a drop, or bound to another column), in
        which case a fresh suffixed physical name is claimed."""
        from pyspark.sql.types import StructField, StructType

        cur = self.schema()
        cur_meta = {f.name: dict(f.metadata) for f in cur.fields} if cur else {}
        taken = set(self._props().get("dropped_physical", []))
        if cur:
            taken |= {self._phys(f) for f in cur.fields}
        fields = []
        for f in df.schema.fields:
            if f.name in cur_meta:
                md = cur_meta[f.name]
            else:
                md = {}
                if f.name in taken:
                    md["physical"] = f"{f.name}_{uuid.uuid4().hex[:8]}"
                taken.add(md.get("physical", f.name))
            fields.append(StructField(f.name, f.dataType, True, md))
        return StructType(fields).json()

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE … RENAME COLUMN old TO new`` without rewriting
        a single data file (Delta column-mapping parity): the logical
        name changes in the log; the field keeps its physical binding,
        so reads alias physical→logical and every existing file stays
        valid. Metadata-only — O(1) at any table size. Time travel
        still reads pre-rename versions under their own names. CHECK
        constraints referencing the old name must be dropped first."""
        head = self._head()  # snapshot pin: schema is read-modify-write
        cur = self.schema()
        if cur is None:
            raise ValueError(f"{self.base}: no schema logged yet")
        names = [f.name for f in cur.fields]
        if old not in names:
            raise ValueError(f"{self.base}: no column {old!r}")
        if new in names:
            raise ValueError(f"{self.base}: column {new!r} already exists")
        if old in self.partition_by:
            raise ValueError("renaming a partition column is not supported")
        import re as _re

        for cname, pred in self.constraints().items():
            if _re.search(rf"\b{_re.escape(old)}\b", pred):
                raise ValueError(
                    f"constraint {cname!r} references {old!r}; drop it first"
                )
        from pyspark.sql.types import StructField, StructType

        fields = []
        for f in cur.fields:
            if f.name == old:
                md = dict(f.metadata)
                md["physical"] = self._phys(f)  # freeze the on-disk name
                fields.append(StructField(new, f.dataType, True, md))
            else:
                fields.append(f)
        return self._commit(
            "rename_column", [], [], rows=None,
            schema_json=StructType(fields).json(),
            expect_head=head,
        )

    def drop_column(self, name: str) -> int:
        """``ALTER TABLE … DROP COLUMN`` without rewriting data (Delta
        column-mapping parity): metadata-only — the column leaves the
        logical schema; its bytes stay in old files, invisible, and are
        reclaimed file-by-file as rewrites happen. The physical
        identity is TOMBSTONED so a later re-add of the same name
        claims a fresh physical name and can never resurrect stale
        values. Time travel before the drop still shows the column."""
        head = self._head()  # snapshot pin: schema+props read-modify-write
        cur = self.schema()
        if cur is None:
            raise ValueError(f"{self.base}: no schema logged yet")
        if name not in [f.name for f in cur.fields]:
            raise ValueError(f"{self.base}: no column {name!r}")
        if len(cur.fields) == 1:
            raise ValueError("cannot drop the only column")
        if name in self.partition_by:
            raise ValueError("dropping a partition column is not supported")
        import re as _re

        for cname, pred in self.constraints().items():
            if _re.search(rf"\b{_re.escape(name)}\b", pred):
                raise ValueError(
                    f"constraint {cname!r} references {name!r}; drop it first"
                )
        from pyspark.sql.types import StructType

        dropped = next(f for f in cur.fields if f.name == name)
        props = self._props()
        props.setdefault("dropped_physical", []).append(self._phys(dropped))
        new_schema = StructType([f for f in cur.fields if f.name != name])
        # tombstone rides the drop commit itself (atomic with the schema
        # change, CAS-protected); the file is synced after for fast reads
        v = self._commit(
            "drop_column", [], [], rows=None, schema_json=new_schema.json(),
            props=props,
            expect_head=head,
        )
        self._write_props(props)
        return v

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """Declared CHECK constraints: name → SQL predicate. Pass
        ``version`` to see the constraint set AS OF that version
        (changes made through add/drop_constraint on an existing table
        are versioned in the commit log)."""
        return self._props(version).get("constraints", {})

    def _write_constraints(
        self, cons: dict[str, str], expect_head: int | None = None
    ) -> None:
        props = self._props()
        props["constraints"] = cons
        self._set_props(props, expect_head=expect_head)

    def add_constraint(self, name: str, predicate_sql: str) -> None:
        """``ALTER TABLE … ADD CONSTRAINT name CHECK (predicate)``
        (Delta parity): existing rows are validated first — adding a
        constraint the current data violates fails, like Delta — and
        every subsequent write (append/overwrite/merge/delete rewrite)
        enforces it. Delta's NULL semantics: a row violates unless the
        predicate evaluates to TRUE (NULL violates; add an explicit
        ``OR col IS NULL`` to relax). The existing-data scan pushes the
        negated predicate down to parquet and short-circuits limit-1."""
        head = self._head()  # snapshot pin: constraints are read-modify-write
        if name in self.constraints():
            raise ValueError(f"constraint {name!r} already exists")
        if self.exists():
            self._enforce({name: predicate_sql}, self.read(version=head),
                          context="existing data")
        cons = dict(self.constraints())
        cons[name] = predicate_sql
        self._write_constraints(cons, expect_head=head if head >= 0 else None)

    def drop_constraint(self, name: str) -> None:
        head = self._head()
        cons = dict(self.constraints())
        cons.pop(name, None)
        self._write_constraints(cons, expect_head=head if head >= 0 else None)

    def _enforce(self, cons: dict[str, str], df: DataFrame, context: str) -> None:
        for cname, pred in cons.items():
            bad = df.where(~F.expr(pred).eqNullSafe(F.lit(True))).limit(1)
            rows = bounded_collect(bad, 1, f"constraint {cname} witness")
            if rows:
                raise ConstraintViolationError(
                    f"{self.base}: CHECK constraint {cname!r} ({pred}) "
                    f"violated by {context}; first bad row: {rows[0]}"
                )

    def _rebalance_worthwhile(self, df: DataFrame) -> bool:
        """Staged-size gate on the optimized write's REBALANCE (r15;
        VERDICT r14 #2): the exchange only pays for itself when the
        staged data spans MORE than one advisory-sized output partition
        — below that, every upstream task's file already totals under
        one advisory partition and the rebalance is a pure extra
        shuffle per commit (the r14 q257 regression: a 3-commit
        lifecycle of tiny event batches paid one no-op exchange per
        commit). The bound is the optimizer's plan-stat size estimate
        vs ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` — a
        PLAN-LEVEL decision valid at any scale, not a local-mode
        constant: plan estimates err large (in-memory row width ≥
        parquet bytes; filters without CBO stats keep full size), so
        the failure direction is keeping the rebalance, i.e. the
        correct 100 TB behaviour. Estimation is driver-side metadata
        only — no job runs."""
        est = plan_bytes(df)
        if est is None:
            return True  # cannot estimate -> keep the at-scale default
        try:
            advisory = int(
                self.spark._jvm.org.apache.spark.network.util.JavaUtils
                .byteStringAsBytes(
                    self.spark.conf.get(
                        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
                        "64m",
                    )
                )
            )
        except Exception:
            return True  # unreadable advisory size -> same default
        return est > advisory

    # ------------------------------------------------------------------ write
    def _stage(self, df: DataFrame, preserve_layout: bool = False) -> list[str]:
        """Write df to a staging dir, move files under data/ with
        version-unique names, return relative paths; CHECK constraints
        are enforced on the STAGED files (a column-pruned, predicate-
        pushed scan of what was just written — no recompute of the
        input plan, and nothing is visible to readers until the commit
        that follows). On violation the staged files are removed and no
        commit happens — the Delta failed-write contract.

        Files are written under PHYSICAL column names (column mapping):
        a renamed column keeps its original on-disk name forever, so
        old and new files stay schema-compatible without rewrites. The
        staged-file constraint scan aliases back to logical names first
        so predicates keep working after renames."""
        # FAIL CLOSED on partition types whose Python rendering cannot
        # match Spark's on-disk dir names exactly: Java's
        # Double.toString ('1.0E-7') vs Python's str ('1e-07') and
        # fractional-second timestamps ('.123' vs '.123000') diverge,
        # so the string-matched "removed" list would miss the
        # partition's files — deleted rows resurface, kept rows
        # duplicate (confirmed by repro on a double partition). These
        # are partitioning antipatterns regardless (unbounded
        # cardinality); strings/integrals/dates/booleans are exact.
        banned = {"double", "float", "timestamp", "timestamp_ntz"}
        for c, t in df.select(
            *[p for p in self.partition_by if p in df.columns]
        ).dtypes:
            if t in banned:
                raise ValueError(
                    f"{self.base}: partition column {c!r} has type {t} — "
                    "float/timestamp partition values cannot be rendered "
                    "to their exact on-disk dir names for the rewrite "
                    "paths; partition by a string/integral/date/boolean "
                    "derivation instead (e.g. to_date(ts))"
                )
        self._staged_schema = self._committed_schema_json(df)
        from pyspark.sql.types import StructType

        sch = StructType.fromJson(json.loads(self._staged_schema))
        phys = {f.name: self._phys(f) for f in sch.fields}
        if any(phys[c] != c for c in df.columns):
            df = df.select(*[F.col(c).alias(phys[c]) for c in df.columns])
        txid = uuid.uuid4().hex[:12]
        staging = os.path.join(self.base, f"_staging-{txid}")
        if not preserve_layout and not self.stats_columns:
            # OPTIMIZED WRITE (Delta optimizedWrite / Iceberg
            # write.distribution-mode analogue): never commit one file
            # per upstream task — every later read of the version pays
            # per-file open + listing (the small-files tax). Above one
            # advisory partition, one AQE-coalescible REBALANCE exchange
            # (hash-distributed by the partition columns, so each dir's
            # rows land together) sizes the files; below it the
            # exchange would buy nothing, so coalesce(1) — no shuffle —
            # writes one file per partition dir. ``preserve_layout``
            # (compact/ZORDER) and ``stats_columns`` tables keep the
            # layout they were handed: it IS the product being committed.
            if self._rebalance_worthwhile(df):
                df = df.hint("rebalance", *self.partition_by)
            else:
                df = df.coalesce(1)
        writer = df.write.mode("overwrite")
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(staging)

        moved: list[str] = []
        for dirpath, _dirs, files in os.walk(staging):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, staging)
                rel_dir = "" if rel_dir == "." else rel_dir
                target_dir = os.path.join(self.data_root, rel_dir)
                os.makedirs(target_dir, exist_ok=True)
                new_name = f"{txid}-{fn}"
                shutil.move(os.path.join(dirpath, fn), os.path.join(target_dir, new_name))
                moved.append(os.path.join(rel_dir, new_name) if rel_dir else new_name)
        shutil.rmtree(staging, ignore_errors=True)
        moved = sorted(moved)
        self._staged_stats = (
            self._collect_stats(moved, phys) if self.stats_columns else None
        )
        cons = self.constraints()
        if cons and moved:
            staged = self.spark.read.option("basePath", self.data_root).parquet(
                *[os.path.join(self.data_root, f) for f in moved]
            )
            try:
                inv = {p: l for l, p in phys.items()}
                logical_staged = staged.select(
                    *[F.col(c).alias(inv.get(c, c)) for c in staged.columns]
                )
                self._enforce(cons, logical_staged, context="write")
            except ConstraintViolationError:
                self._unstage(moved)
                raise
        return moved

    def _unstage(self, files: list[str]) -> None:
        """Delete staged data files that will never be committed."""
        for f in files:
            try:
                os.remove(os.path.join(self.data_root, f))
            except FileNotFoundError:
                pass

    def _removed_in_partitions(self, parts: DataFrame, head: int) -> list[str]:
        """Live files under the partition dirs named by ``parts`` —
        the rewrite "removed" list of :meth:`_rewrite`, and also the
        files its touched slice is READ from, so ``parts`` is
        evaluated exactly once per write (one bounded collect). A
        partition value renders to its on-disk dir name, so '' and
        NULL both name ``__HIVE_DEFAULT_PARTITION__``. ``head`` pins
        the file listing to the snapshot the caller read (a fresh
        listing here could include files a racing writer just
        committed — removing files the rewrite never read)."""
        touched_dirs = [
            "/".join(
                f"{c}={_escape_partition_value(r[c])}" for c in self.partition_by
            )
            for r in bounded_collect(
                parts, PER_WRITE_PARTITION_BOUND, "_removed_in_partitions"
            )
        ]
        return [
            f for f in sorted(self._snapshot(head).live)
            if any(f.startswith(d + "/") for d in touched_dirs)
        ]

    def _staged_rows(self, files: list[str]) -> int:
        """Rows in just-staged files, summed from their parquet footers
        — driver-side metadata like :meth:`_collect_stats`, no job."""
        import pyarrow.parquet as pq

        return sum(
            pq.read_metadata(os.path.join(self.data_root, f)).num_rows
            for f in files
        )

    @staticmethod
    def _stat_value(v):
        """JSON-portable stat encoding: datetimes → ISO strings (which
        compare chronologically), numerics/strings pass through, other
        types → None (no stats, conservative keep)."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            # normalise tz-aware stats (isAdjustedToUTC parquet files
            # give pyarrow aware datetimes) to naive UTC: a mixed
            # aware/naive isoformat pair does NOT compare
            # chronologically at equal instants, which would turn
            # skipping into a filter at the boundary
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        if isinstance(v, (int, float, str)):
            return v
        return None

    def _collect_stats(self, moved: list[str], phys: dict) -> dict:
        """Per-file min/max for ``stats_columns`` from the parquet
        FOOTERS of the just-staged files — no data re-read; the footer
        already carries row-group statistics. Driver-side O(staged
        files) metadata reads, mirroring where Delta's write tasks
        surface their collected stats into the commit. Columns are
        looked up under their PHYSICAL names (column mapping) but
        recorded under logical names, so stats survive renames."""
        import pyarrow.parquet as pq

        out: dict[str, dict] = {}
        want = {phys.get(c, c): c for c in self.stats_columns}
        for rel in moved:
            md = pq.ParquetFile(os.path.join(self.data_root, rel)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            fstats: dict[str, list] = {}
            for pname, lname in want.items():
                if pname not in idx:
                    continue
                lo = hi = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx[pname]).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn, mx = self._stat_value(st.min), self._stat_value(st.max)
                    if mn is None or mx is None:
                        ok = False
                        break
                    lo = mn if lo is None or mn < lo else lo
                    hi = mx if hi is None or mx > hi else hi
                if ok and lo is not None:
                    fstats[lname] = [lo, hi]
            if fstats:
                out[rel] = fstats
        return out

    def pruned_files(
        self, skipping: dict, version: int | None = None
    ) -> list[str]:
        """DATA SKIPPING: the subset of version-``v`` live files whose
        recorded [min, max] can intersect ``skipping`` = {col: (lo,
        hi)} (None bound = open). Files without stats for a queried
        column are KEPT — skipping is an optimisation, never a filter;
        correctness always comes from the real predicate on the scan.
        O(files) driver-side metadata, zero data I/O — the point at
        100 TB: a time-range query over a date-clustered table opens
        only the handful of files whose footer range overlaps."""
        live = self._snapshot(version).live
        keep = []
        for f in sorted(live):
            fstats = live[f]
            drop = False
            for col, (lo, hi) in skipping.items():
                rng = fstats.get(col)
                if rng is None:
                    continue
                slo, shi = rng
                c_lo = self._stat_value(lo) if lo is not None else None
                c_hi = self._stat_value(hi) if hi is not None else None
                if (c_hi is not None and slo > c_hi) or (
                    c_lo is not None and shi < c_lo
                ):
                    drop = True
                    break
            if not drop:
                keep.append(f)
        return keep

    def _rebase_append_schema(self, staged_schema_json: str, props_before: dict) -> str:
        """After losing a commit CAS, decide whether the staged append
        can REBASE onto the new log head (Delta conflict resolution:
        blind appends never logically conflict) and return the schema
        to commit. Safe iff (a) table properties are unchanged — a
        concurrent constraint add would bypass enforcement on our
        staged files, a concurrent drop_column tombstone would
        invalidate our physical-name claims — and (b) every column the
        winner's schema shares with ours kept its type. The committed
        schema becomes head ∪ our-new-columns so a winner's evolved
        column is never erased from the log (lost schema update)."""
        from pyspark.sql.types import StructType

        if self._props() != props_before:
            raise ConcurrentWriteError(
                f"{self.base}: table properties changed concurrently "
                f"(constraints / column mapping); cannot rebase the append — "
                f"re-run it against the new table state"
            )
        head = self.schema()
        if head is None:
            return staged_schema_json
        ours = StructType.fromJson(json.loads(staged_schema_json))
        head_types = {f.name: f.dataType.simpleString() for f in head.fields}
        for f in ours.fields:
            if f.name in head_types and head_types[f.name] != f.dataType.simpleString():
                raise SchemaMismatchError(
                    f"{self.base}: column {f.name!r} became "
                    f"{head_types[f.name]} in a concurrent commit but staged "
                    f"data has {f.dataType.simpleString()}"
                )
        extra = [f for f in ours.fields if f.name not in head_types]
        return StructType(list(head.fields) + extra).json()

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        """Append with Delta-parity conflict resolution: the data is
        staged ONCE; if another writer wins the version CAS, the append
        rebases — re-commits the same staged files at the new head —
        because blind appends commute with any committed operation.
        Operations that READ the table (overwrite/delete/update/merge)
        still surface ConcurrentWriteError immediately: their result
        may depend on state the winner changed."""
        return self._append(df, merge_schema)

    def _append(
        self, df: DataFrame, merge_schema: bool, txn: dict | None = None
    ) -> int | None:
        """The staged-once rebase loop of :meth:`append` and
        :meth:`append_txn`. With a ``txn``, a lost CAS first re-probes
        whether a concurrent REPLICA committed this very txn: if so the
        staged files are dropped (the duplicate data can never be
        referenced) and None is returned."""
        df = self._align_schema(df, merge_schema)
        props_before = self._props()
        files = self._stage(df)
        schema_json = self._staged_schema
        for attempt in range(APPEND_REBASE_RETRIES + 1):
            try:
                return self._commit(
                    "append", files, [], rows=None, schema_json=schema_json,
                    txn=txn,
                )
            except ConcurrentWriteError:
                if txn is not None and self._txn_committed(txn):
                    self._unstage(files)
                    return None
                if attempt == APPEND_REBASE_RETRIES:
                    raise
                schema_json = self._rebase_append_schema(schema_json, props_before)

    def last_txn_version(self, app_id: str) -> int | None:
        """Highest transaction version committed for ``app_id`` (Delta
        ``txnAppId``/``txnVersion`` parity; MAX, since txn versions need
        not be commit-order monotone) — read from the snapshot, so a
        per-micro-batch probe costs O(new commits), not a log re-read."""
        return self._snapshot().txn.get(app_id)

    def _txn_committed(self, txn: dict) -> bool:
        last = self.last_txn_version(txn["app_id"])
        return last is not None and txn["version"] <= last

    def append_txn(
        self, df: DataFrame, app_id: str, txn_version: int,
        merge_schema: bool = False,
    ) -> int | None:
        """Transactionally-idempotent append (Delta's
        ``option("txnAppId", …).option("txnVersion", …)``): the commit
        records (app_id, txn_version); a replay of an
        already-committed version is SKIPPED and returns None. This is
        the exactly-once primitive for Structured Streaming
        ``foreachBatch`` sinks — pass the epoch id as ``txn_version``
        and a failed-then-replayed micro-batch can never double-append,
        even though the data write itself is not atomic with the
        checkpoint."""
        txn = {"app_id": app_id, "version": int(txn_version)}
        if self._txn_committed(txn):
            return None
        return self._append(df, merge_schema, txn)

    def append_if_new(self, df: DataFrame, hash_col: str) -> int | None:
        """Content-hash idempotent append (reference D2: skip the write
        when the payload hash already exists). Returns the committed
        version, or None when no row of ``df`` was new.

        The batch is filtered to its novel rows and STAGED directly:
        there is no separate novelty probe, so the input plan runs
        once, inside the staged write. Whether anything was new is read
        from the staged files' parquet footers afterwards (no job); a
        replay stages zero rows — one empty file, or none at all for a
        partitioned table — which is unstaged, and nothing commits.

        The novelty filter is a DOUBLE join rather than the natural
        ``batch ANTI existing``: Spark only broadcasts the RIGHT side
        of a semi/anti join, so the natural form sort-merge-shuffles
        the whole table's hash column on every append. Matching
        ``existing ⋉ batch hashes`` first (table hashes scanned
        map-side, column-pruned, never shuffled) and anti-joining the
        batch against that small, broadcast matched set is equivalent:
        batch − existing = batch − (existing ∩ batch). Same rewrite,
        with the same measurement, as the incremental span probe
        (SCALING round 9)."""
        for attempt in range(APPEND_REBASE_RETRIES + 1):
            head = self._head()  # RMW pin (r12): the novelty decision
            filtered = df       # depends on the snapshot's hashes
            if head >= 0:
                # NULL-SAFE throughout: sha2(NULL payload) is NULL, and
                # the plain equi chain kept a NULL hash in `novel`
                # (anti-join never matches NULL) but then DROPPED every
                # NULL-hash row at the final semi-join — rows vanished
                # from the append with no error. NULL is one content
                # value like any other: the first NULL-hash batch
                # appends, replays skip.
                existing = self.read(version=head).select(
                    F.col(hash_col).alias("__h_ex")
                )
                incoming = df.select(F.col(hash_col).alias("__h_in")).distinct()
                matched = (
                    existing.join(
                        incoming, F.col("__h_ex").eqNullSafe(F.col("__h_in")),
                        "left_semi",
                    )
                    .distinct()
                )
                filtered = df.join(
                    F.broadcast(matched),
                    F.col(hash_col).eqNullSafe(F.col("__h_ex")),
                    "left_anti",
                )
            # commit pinned to the PROBED snapshot — a blind append here
            # (the pre-r12 behaviour) let two concurrent replays of the
            # same payload both pass the novelty check and both land,
            # breaking the skip-if-present contract. On conflict:
            # unstage, re-probe against the new head, retry.
            aligned = self._align_schema(filtered, False)
            files = self._stage(aligned)
            if head >= 0 and not self._staged_rows(files):
                self._unstage(files)
                return None
            try:
                return self._commit(
                    "append", files, [], rows=None,
                    schema_json=self._staged_schema, expect_head=head,
                )
            except ConcurrentWriteError:
                self._unstage(files)
                if attempt == APPEND_REBASE_RETRIES:
                    raise

    def overwrite(self, df: DataFrame) -> int:
        head = self._head()  # snapshot pin: the whole op reads AT head
        snap = self._snapshot(head)
        live = sorted(snap.live)
        cdf = None
        if live and self.change_feed_enabled():
            old_rows = self.read(version=head)
            cdf = self._cdf_write(
                old_rows.select(F.lit("delete").alias("change_type"), "*"),
                old_rows.columns,
            )
        return self._commit(
            "overwrite", self._stage(df), live, rows=None,
            schema_json=self._staged_schema,
            dv_remove=sorted(snap.dv) if live else None,
            cdf=cdf,
            expect_head=head,
        )

    def _rewrite(
        self, operation: str, head: int, base: DataFrame,
        removed: list[str] | None,
        rewrite: Callable[[DataFrame], DataFrame],
        feed: Callable[[DataFrame, DataFrame], DataFrame],
    ) -> int:
        """The one copy-on-write tail of merge/delete/update.
        ``removed`` is the list of live files at ``head`` that the
        commit replaces — those under the touched partition dirs, from
        the caller's one :meth:`_removed_in_partitions` collect — or
        None for every live file (unpartitioned; the slice is then the
        whole ``base``). The touched slice is READ from exactly those
        files (``_read`` applies the version's schema, column mapping
        and deletion vectors), so the rows rewritten are by
        construction the rows of the files removed, and the staged
        write scans only them: the partition probe is not re-run and
        no other live file is joined. It is restaged as
        ``rewrite(touched)`` — with ``feed(touched, rewritten)`` logged
        as change data when the feed is on, the rewrite persisted for
        the two writes — and committed at ``head``."""
        if removed is None:
            touched, removed = base, sorted(self._snapshot(head).live)
        elif removed:
            touched = self._read(head, files=removed)
        else:
            touched = base.limit(0)
        rewritten = rewrite(touched)
        cdf = None
        if not self.change_feed_enabled():
            new_files = self._stage(rewritten)
        else:
            rewritten = rewritten.persist()
            try:
                cdf = self._cdf_write(feed(touched, rewritten), base.columns)
                new_files = self._stage(rewritten)
            finally:
                rewritten.unpersist()
        return self._commit(operation, new_files, removed, rows=None,
                            schema_json=self._staged_schema, cdf=cdf,
                            expect_head=head)

    def merge(self, updates: DataFrame, keys: Sequence[str]) -> int:
        """Delta-style MERGE: upsert by key, copy-on-write.

        When the table is partitioned, only the partitions that the
        merge can change are rewritten — untouched partitions keep
        their existing files (the at-scale behaviour; a full rewrite of
        100 TB per merge would be unusable). "Can change" means the
        union of (a) partitions named by the update rows and (b)
        partitions where a matched key CURRENTLY lives — (b) covers the
        Delta-semantics case where an update moves a key to a different
        partition value (e.g. a corrected snapshot_date): the old copy
        must be deleted from the partition it lives in, not retained.

        A partitioned table requires the update batch to carry every
        partition column (the merged rows are rewritten partition-wise
        and Spark needs the values to route them); a batch missing them
        raises a clear error instead of an opaque AnalysisException.

        Duplicate SOURCE keys are rejected loudly (r10; the same
        contract as Delta's multiple-source-rows-matched runtime error,
        and what this branch previously only documented): silently
        keeping an arbitrary duplicate would make the merged value
        nondeterministic across runs, and silently inserting both (the
        old parquet-branch behaviour) violates key uniqueness.
        Pre-dedupe deterministically upstream — streaming callers use
        ``dedupe_updates`` (latest wins by explicit order columns).

        EAGER actions before anything is staged: one batch-sized
        aggregation prices the key check (with the change feed on, the
        same aggregation also checks the touched target slice the feed
        diffs), and on a partitioned table one bounded collect names
        the touched partitions — the files under them are both what
        the commit removes and all the staged write reads of the
        target. The update batch is PERSISTED for the duration of the
        merge: its lineage can be arbitrarily expensive
        (scd_apply_type2 feeds a multi-window plan), and the key check,
        the partition collect and the staged write each read it.
        """
        from pyspark import StorageLevel

        updates = updates.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            return self._merge_impl(updates, keys)
        finally:
            updates.unpersist()

    def _merge_impl(self, updates: DataFrame, keys: Sequence[str]) -> int:
        where = f"merge into {self.base}"
        if not self.exists():
            require_unique_keys({"source": updates}, keys, where)
            return self.append(updates)
        head = self._head()  # snapshot pin: read, rewrite, and removal
        base = self.read(version=head)  # sets all derive from ONE version
        # with the feed on, the source is checked together with the
        # touched slice the feed diffs (below); a flip of the property
        # after ``head`` fails the commit, so one of the two checks runs
        if not self.change_feed_enabled():
            require_unique_keys({"source": updates}, keys, where)
        removed = None
        if self.partition_by:
            missing = set(self.partition_by) - set(updates.columns)
            if missing:
                raise ValueError(
                    f"merge into partitioned table {self.base} requires partition "
                    f"column(s) {sorted(missing)} in the update batch (got "
                    f"{updates.columns}); merged rows cannot be routed to "
                    f"partitions without them"
                )
            # (a) partitions the update rows land in
            parts_new = updates.select(*self.partition_by).distinct()
            # (b) partitions where a matched key currently lives — a key
            # whose partition value changed must be rewritten out of its
            # old partition, or the stale copy survives as a duplicate.
            upd_keys = updates.select(*keys).distinct()
            # NULL-SAFE key probe: merge_upsert matches NULL keys
            # null-safely, so the partition a NULL-key row currently
            # lives in must join the rewrite set too — a plain equi
            # semi-join left its stale copy alive when the partition
            # value moved
            parts_old = (
                _null_safe_semi(base, upd_keys, keys)
                .select(*self.partition_by).distinct()
            )
            removed = self._removed_in_partitions(
                parts_new.unionByName(parts_old).distinct(), head
            )
        from football_lakehouse_spark.lakehouse.cdc import _diff

        def feed(touched: DataFrame, merged: DataFrame) -> DataFrame:
            # merged = updates ∪ (touched anti-join updates) is key-unique
            # whenever both inputs are, so it is not checked again
            require_unique_keys(
                {"source": updates, "target": touched}, keys, where
            )
            return _diff(touched, merged, keys, 1)

        return self._rewrite(
            "merge", head, base, removed,
            lambda touched: merge_upsert(touched, updates, keys),
            feed,
        )

    def _matched_files(self, matches: DataFrame, head: int) -> list[str] | None:
        """The ``removed`` list a delete/update of ``matches`` hands
        :meth:`_rewrite`: on a partitioned table the live files under
        the partitions holding a match, from the same one collect that
        decides the no-op; None (the whole table) on an unpartitioned
        one, after a limit-1 probe. ``[]`` means nothing matched."""
        if self.partition_by:
            return self._removed_in_partitions(
                matches.select(*self.partition_by).distinct(), head
            )
        return [] if matches.limit(1).isEmpty() else None

    def delete(self, predicate: Column, deletion_vectors: bool = False) -> int:
        """Delta-style DELETE: copy-on-write removal of rows matching
        ``predicate``. Only partitions that CONTAIN matches are
        rewritten (file-level pruning via the partition dirs); a delete
        that matches nothing commits no version and returns -1.

        ``deletion_vectors=True`` switches to MERGE-ON-READ (Delta
        deletion vectors): instead of rewriting files, the matching
        (file, row_index) pairs are written as a tiny parquet sidecar
        and every read anti-joins them away — delete cost is O(matched
        rows), not O(files containing them), the right trade when a few
        rows die inside 100 TB of files (GDPR point-deletes). Readers
        pay the anti-join until ``compact()`` or ``overwrite`` rewrites
        the data and purges the vectors. Time travel before the delete
        sees the rows; after, it doesn't — the DV is itself versioned.

        SQL DELETE semantics: only rows where the predicate evaluates
        TRUE are removed — rows where it evaluates NULL (e.g. a NULL in
        the predicate column) are RETAINED, which plain ``where(~pred)``
        would silently drop (three-valued logic: NOT NULL is NULL).
        The kept-rows filter is therefore ``NOT (pred <=> TRUE)``.
        """
        head = self._head()  # snapshot pin (see _commit expect_head)
        if deletion_vectors:
            lineage = self._read(head, with_lineage=True)
            matches = lineage.where(predicate).select(
                F.col("__file").alias("file"), F.col("__ri").alias("row_index")
            )
            if matches.limit(1).isEmpty():
                return -1
            dvname = uuid.uuid4().hex[:12]
            matches.write.mode("overwrite").parquet(
                os.path.join(self.base, "_dv", dvname)
            )
            cdf = None
            if self.change_feed_enabled():
                cols = [c for c in lineage.columns if c not in ("__file", "__ri")]
                cdf = self._cdf_write(
                    lineage.where(predicate).select(
                        F.lit("delete").alias("change_type"), *cols
                    ),
                    cols,
                )
            return self._commit("delete_dv", [], [], rows=None, dv_add=[dvname],
                                cdf=cdf, expect_head=head)
        base = self.read(version=head)
        matches = base.where(predicate)
        removed = self._matched_files(matches, head)
        if removed == []:
            return -1
        return self._rewrite(
            "delete", head, base, removed,
            lambda touched: touched.where(~predicate.eqNullSafe(F.lit(True))),
            lambda _t, _r: matches.select(
                F.lit("delete").alias("change_type"), "*"
            ),
        )

    def update(self, predicate: Column, assignments: dict[str, Column]) -> int:
        """Delta-style ``UPDATE … SET`` : copy-on-write rewrite of rows
        matching ``predicate`` with ``assignments`` (column → new-value
        expression; expressions may reference the old row). Partitioned
        tables rewrite only partitions CONTAINING matches — including,
        when an assignment moves a row's partition value, the partition
        it lands in staying correct because the whole touched set is
        restaged. A no-match update commits nothing and returns -1.

        Three-valued semantics match SQL UPDATE: only predicate-TRUE
        rows change; NULL-predicate rows pass through untouched. CHECK
        constraints and the logged schema apply to the rewritten data
        like any write. An update cannot change a column's type: each
        assignment's RESOLVED type (after the when/otherwise coercion)
        is validated against the logged schema and a mismatch raises
        ``SchemaMismatchError`` before anything is staged — otherwise a
        partitioned table would rewrite only touched partitions with
        the coerced type while untouched partitions' files keep the old
        physical type, corrupting the table."""
        head = self._head()  # snapshot pin (see _commit expect_head)
        base = self.read(version=head)
        matches = base.where(predicate)
        removed = self._matched_files(matches, head)
        if removed == []:
            return -1
        hit = predicate.eqNullSafe(F.lit(True))
        for col in assignments:
            if col not in base.columns:
                raise ValueError(f"{self.base}: no column {col!r}")

        def set_col(c: str) -> Column:
            if c not in assignments:
                return F.col(c)
            return F.when(hit, assignments[c]).otherwise(F.col(c)).alias(c)

        logged = self.schema()
        if logged is not None:
            logged_types = {f.name: f.dataType for f in logged.fields}
            probe = base.select(*[set_col(c) for c in assignments])
            for f in probe.schema.fields:
                want = logged_types.get(f.name)
                if want is not None and want.simpleString() != f.dataType.simpleString():
                    raise SchemaMismatchError(
                        f"{self.base}: UPDATE assignment to {f.name!r} resolves "
                        f"to {f.dataType.simpleString()} but the table schema "
                        f"has {want.simpleString()}; cast the expression "
                        f"explicitly"
                    )

        def feed(_touched: DataFrame, _updated: DataFrame) -> DataFrame:
            post = matches.select(
                *[
                    assignments[c].alias(c) if c in assignments else F.col(c)
                    for c in base.columns
                ]
            )
            return matches.select(
                F.lit("update_preimage").alias("change_type"), "*"
            ).unionByName(
                post.select(F.lit("update_postimage").alias("change_type"), "*")
            )

        return self._rewrite(
            "update", head, base, removed,
            lambda touched: touched.select(*[set_col(c) for c in base.columns]),
            feed,
        )

    # ------------------------------------------------------ change data feed
    def enable_change_feed(self) -> None:
        """Delta ``delta.enableChangeDataFeed`` parity: from the NEXT
        commit on, every mutating operation writes its row-level
        changes as a parquet sidecar under ``base/_changes`` at commit
        time, and :meth:`table_changes` serves them without diffing
        versions. Appends write NO sidecar — their added data files ARE
        the insert entries (Delta's optimization; a 100 TB append must
        not be written twice). The property is versioned like
        constraints, so the enablement point is visible in history."""
        head = self._head()
        props = self._props()
        props["changeDataFeed"] = "true"
        self._set_props(props, expect_head=head if head >= 0 else None)

    def change_feed_enabled(self) -> bool:
        return self._props().get("changeDataFeed") == "true"

    def _cdf_write(self, feed: DataFrame, columns: Sequence[str]) -> str:
        """Stage a change sidecar (change_type + payload in logged
        column order); returns its name for the commit entry."""
        name = uuid.uuid4().hex[:12]
        feed.select("change_type", *columns).write.mode("overwrite").parquet(
            os.path.join(self.base, "_changes", name)
        )
        return name

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Delta ``table_changes(...)`` parity over LOGGED change data:
        the row-level feed for every version in ``(v_from, v_to]``,
        columns ``(version, change_type, <table columns>)``.

        insert / delete / update_preimage / update_postimage semantics
        match :func:`lakehouse.cdc.change_feed`, but nothing is diffed:
        merge/delete/update/overwrite read their commit's sidecar
        (written from data the operation already had in hand — the
        touched slice — so logging cost is O(touched rows)); appends
        serve their added files directly as inserts. Cost is therefore
        O(changed rows) end-to-end, which is what makes incremental
        view maintenance (q257) actually incremental, unlike the
        derive-by-diff feed (q98/q250) that re-reads both versions.

        Raises if a mutating version in range carries no sidecar (the
        table was written before :meth:`enable_change_feed`) — a silent
        hole would corrupt every downstream incremental consumer.
        """
        commits, _ = self._log_entries()
        v_to = commits[-1] if v_to is None else v_to
        out: DataFrame | None = None
        for v in (c for c in commits if v_from < c <= v_to):
            c = self._read_commit(v)
            op = c.get("operation")
            if op == "overwrite" and c.get("remove") and "cdf" not in c:
                # the delete half of this overwrite was never logged
                # (committed before enable_change_feed); serving the add
                # files as inserts-only would be exactly the silent hole
                # the docstring warns about
                raise ValueError(
                    f"{self.base}: version {v} (overwrite) removed files "
                    f"but has no logged change data — enable_change_feed() "
                    f"must precede the operation for table_changes to "
                    f"serve it"
                )
            parts: list[DataFrame] = []
            if "cdf" in c:
                sidecar = os.path.join(self.base, "_changes", c["cdf"])
                schema = parquet_schema(self.spark, sidecar)
                parts.append(self.spark.read.schema(schema).parquet(sidecar))
            if op in ("append", "overwrite") and c.get("add"):
                # the version's deletion vectors still apply, though
                # none can name a file this commit just added
                parts.append(
                    self._read(v, files=c["add"]).select(
                        F.lit("insert").alias("change_type"), "*"
                    )
                )
            if not parts:
                if op in ("merge", "delete", "update", "delete_dv") or (
                    # a restore that actually changed the live file set
                    # re-adds/removes rows with no CDF sidecar; skipping
                    # it would be the silent hole this guard exists for
                    # (a q257-style incremental consumer would net out
                    # a delete and never see the restore re-add it).
                    # A no-op restore (target == current) stays skippable.
                    op == "restore" and (c.get("add") or c.get("remove"))
                ):
                    raise ValueError(
                        f"{self.base}: version {v} ({op}) has no logged "
                        f"change data — enable_change_feed() must precede "
                        f"the operation for table_changes to serve it"
                        + (
                            "; RESTORE cannot be served as change data — "
                            "consumers must rebuild from the restored "
                            "snapshot" if op == "restore" else ""
                        )
                    )
                continue  # metadata-only commits (properties, optimize…)
            vf = parts[0]
            for extra in parts[1:]:
                vf = vf.unionByName(extra, allowMissingColumns=True)
            vf = vf.select(F.lit(v).cast("bigint").alias("version"), "*")
            out = vf if out is None else out.unionByName(
                vf, allowMissingColumns=True
            )
        if out is None:
            raise ValueError(
                f"{self.base}: no change entries in ({v_from}, {v_to}]"
            )
        return out

    def shallow_clone(
        self, root: str, schema: str, name: str, version: int | None = None
    ) -> "LakehouseTable":
        """Delta ``CREATE TABLE … SHALLOW CLONE src [VERSION AS OF v]``:
        a NEW table whose first commit references the source's live data
        files by ABSOLUTE path — zero data copied, O(files) metadata, so
        cloning a 100 TB table costs one JSON commit (the dev/test-
        against-prod-data workflow).

        Copy-on-write divergence is automatic: writes to the clone stage
        files under the clone's own data_root (``read`` resolves
        absolute references as-is — ``os.path.join`` returns an absolute
        second argument unchanged — and relative ones against the
        clone); the source never sees them, and the clone's MERGE/DELETE
        rewrites simply drop the absolute references they supersede.
        ``vacuum`` on the clone walks only the clone's data_root, so it
        can never delete source files; conversely VACUUM on the SOURCE
        can invalidate a clone's references — exactly Delta's documented
        shallow-clone caveat, surfaced on read like any vacuumed
        time-travel. Declared CHECK constraints carry over."""
        if self.partition_by:
            # partitioned files carry their partition values only in the
            # directory name; reading them needs ONE basePath, and a
            # clone mixes two data roots — a per-group read+union is
            # possible but not worth it until a user needs it
            raise ValueError(
                "shallow_clone of a partitioned table is not supported; "
                "use compact() into an unpartitioned copy first"
            )
        snap = self._snapshot(version)
        if snap.dv:
            raise ValueError(
                "shallow_clone of a table with active deletion vectors is "
                "not supported (the sidecars live under the source); run "
                "compact() first to purge them"
            )
        clone = LakehouseTable(
            self.spark, root, schema, name, partition_by=self.partition_by
        )
        if clone.exists():
            raise ValueError(f"clone target {clone.base} already exists")
        files = [os.path.join(self.data_root, f) for f in sorted(snap.live)]
        clone._commit("clone", files, [], rows=None, schema_json=snap.schema)
        carried = {
            k: (dict(val) if isinstance(val, dict) else list(val))
            for k, val in self._props().items()
            if k in ("constraints", "dropped_physical") and val
        }
        if carried:
            clone._write_props(carried)
        return clone

    def restore(self, version: int) -> int:
        """Delta-style ``RESTORE TABLE … TO VERSION AS OF v`` (delta.io
        RESTORE; reference stub 45_time_travel_debug.sql): commit a NEW
        version whose live file set equals the live set at ``version``.

        Metadata-only — no data file is copied or rewritten, so the cost
        is O(log tail), independent of table size (the at-scale contract:
        restoring a 100 TB table is a single JSON commit). History is
        preserved: the bad versions stay time-travellable, exactly like
        Delta. Files already vacuumed away cannot be restored — the same
        retention trade-off as :meth:`read`, surfaced on the next read.
        """
        head = self._head()  # snapshot pin (see _commit expect_head)
        # deletion vectors are part of a version's logical content:
        # restoring past a DV delete must resurrect the rows (and
        # restoring TO a DV-bearing version must re-apply its vectors)
        old, cur = self._snapshot(version), self._snapshot(head)
        target, current = set(old.live), set(cur.live)
        # properties: constraints roll back WITH the data (Delta
        # semantics — RESTORE restores table metadata), but column-
        # mapping tombstones are monotone: a physical name claimed at
        # ANY point must stay claimed forever, or a post-restore re-add
        # could alias stale bytes in still-time-travellable files
        props = self._props(version)
        tombs = set(props.get("dropped_physical", [])) | set(
            self._props().get("dropped_physical", [])
        )
        if tombs:
            props["dropped_physical"] = sorted(tombs)
        v_new = self._commit(
            "restore", sorted(target - current), sorted(current - target),
            rows=None, schema_json=old.schema,
            dv_add=sorted(old.dv - cur.dv),
            dv_remove=sorted(cur.dv - old.dv),
            props=props,
            expect_head=head,
        )
        self._write_props(props)
        return v_new

    # ------------------------------------------------------------------- read
    def exists(self) -> bool:
        commits, _ = self._log_entries()
        return bool(commits)

    def current_version(self) -> int:
        commits, _ = self._log_entries()
        return commits[-1]

    def current_files(self) -> list[str]:
        return sorted(self._snapshot().live)

    def version_at_timestamp(self, ts: float) -> int:
        """``TIMESTAMP AS OF`` resolution (Delta semantics, reference
        stub 45_time_travel_debug.sql): the newest version whose commit
        time is ≤ ``ts``. Raises if ``ts`` predates the first commit —
        same as Delta's 'timestamp before earliest version' error."""
        candidates = [
            h.version for h in self.describe_history_versions() if h.ts <= ts
        ]
        if not candidates:
            raise ValueError(
                f"timestamp {ts} predates the earliest version of {self.base}"
            )
        return max(candidates)

    def read(
        self, version: int | None = None, timestamp: float | None = None,
        skipping: dict | None = None,
    ) -> DataFrame:
        """Read the table at the current (or a time-travelled) version —
        ``version`` is ``VERSION AS OF``, ``timestamp`` is ``TIMESTAMP
        AS OF`` (mutually exclusive). basePath keeps partition-column
        inference + pruning alive even though we hand Spark an explicit
        file list. ``skipping`` = {col: (lo, hi)} prunes files by their
        logged min/max stats BEFORE Spark ever lists them (see
        :meth:`pruned_files`) — the caller still applies the real
        predicate; skipping only narrows the scan."""
        if version is not None and timestamp is not None:
            raise ValueError("pass version OR timestamp, not both")
        if timestamp is not None:
            version = self.version_at_timestamp(timestamp)
        return self._read(version, skipping=skipping)

    def _read(self, version: int | None, with_lineage: bool = False,
              skipping: dict | None = None,
              files: list[str] | None = None) -> DataFrame:
        """The one read path. ``with_lineage`` keeps the per-row
        provenance columns ``__file``/``__ri`` (``_metadata.file_path``
        / ``row_index``) that deletion vectors key on. ``files``
        narrows the scan to a subset of files under version
        ``version``'s schema, column mapping and deletion vectors (the
        add-files of an append, served as change-feed inserts)."""
        snap = self._snapshot(version)
        if snap.version < 0:
            raise FileNotFoundError(f"table {self.base} has no committed version")
        v, sj = snap.version, snap.schema
        if files is None:
            files = sorted(snap.live)
        if skipping:
            allowed = set(self.pruned_files(skipping, v))
            files = [f for f in files if f in allowed]
            if not files and sj is not None:
                # every file pruned: an empty frame with the right schema
                from pyspark.sql.types import StructType

                return local_frame(
                    self.spark, [], StructType.fromJson(json.loads(sj))
                )
        paths = [os.path.join(self.data_root, f) for f in files]
        if not paths:
            raise FileNotFoundError(f"version {v} of {self.base} is empty")
        missing = [p for p in paths if not os.path.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"version {v} of {self.base} references vacuumed files "
                f"(e.g. {missing[0]}); time travel beyond the retention "
                f"horizon is not possible"
            )
        reader = self.spark.read
        logical = None
        if sj is not None:
            # Delta parity: the schema of record is the LOG's, not the
            # data-file footers — old files simply lack evolved columns
            # and read them as NULL; no footer merging at any file count.
            # Column mapping: scan under PHYSICAL names, alias back to
            # this version's logical names.
            from pyspark.sql.types import StructField, StructType

            logical = StructType.fromJson(json.loads(sj))
            physical = StructType(
                [
                    StructField(self._phys(f), f.dataType, True)
                    for f in logical.fields
                ]
            )
            reader = reader.schema(physical)
        if not any(os.path.isabs(f) for f in files):
            # basePath keeps dir-derived partition columns alive; a
            # shallow clone references ABSOLUTE paths outside this
            # table's root (unpartitioned by construction), where a
            # basePath would be wrong
            reader = reader.option("basePath", self.data_root)
        df = reader.parquet(*paths)
        dvs = [os.path.join(self.base, "_dv", n) for n in sorted(snap.dv)]
        need_lineage = with_lineage or bool(dvs)
        if need_lineage:
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias("__file"),
                F.col("_metadata.row_index").alias("__ri"),
            )
        if dvs:
            # merge-on-read: anti-join away soft-deleted (file, row)
            # pairs. The DV table is O(deleted rows); its partitioning
            # is left to AQE (broadcast when small, shuffle when not).
            # every DV sidecar shares one (file, row_index) schema
            dv_schema = parquet_schema(self.spark, dvs[0])
            dv = self.spark.read.schema(dv_schema).parquet(*dvs).select(
                F.col("file").alias("__file"), F.col("row_index").alias("__ri")
            )
            df = df.join(dv, ["__file", "__ri"], "left_anti")
        if logical is not None:
            keep = [F.col(self._phys(f)).alias(f.name) for f in logical.fields]
            if with_lineage:
                keep += [F.col("__file"), F.col("__ri")]
            df = df.select(*keep)
        elif need_lineage and not with_lineage:
            df = df.drop("__file", "__ri")
        return df

    def describe_history_versions(self) -> list[Version]:
        return list(self._snapshot().history)

    def describe_detail(self) -> dict:
        """``DESCRIBE DETAIL`` equivalent: current-version file count,
        total bytes, size distribution and maintenance signals (active
        deletion vectors, declared constraints, schema column count) —
        the numbers an OPTIMIZE/VACUUM policy decides on. Control-plane
        only: O(files) stat calls, no data read."""
        snap = self._snapshot()
        sizes = []
        for f in snap.live:
            p = f if os.path.isabs(f) else os.path.join(self.data_root, f)
            try:
                sizes.append(os.path.getsize(p))
            except OSError:
                sizes.append(0)
        sch = self.schema()
        return {
            "version": snap.version,
            "num_files": len(snap.live),
            "size_bytes": sum(sizes),
            "min_file_bytes": min(sizes) if sizes else 0,
            "max_file_bytes": max(sizes) if sizes else 0,
            "num_deletion_vectors": len(snap.dv),
            "num_constraints": len(self.constraints()),
            "num_columns": len(sch.fields) if sch else None,
            "partition_columns": list(self.partition_by),
        }

    def describe_history(self) -> list[dict]:
        """DESCRIBE HISTORY equivalent (compact entries; file lists live
        in the per-commit log, not the history)."""
        return [vars(v) for v in self.describe_history_versions()]

    # ------------------------------------------------------------ maintenance
    def vacuum(self, retain_last: int = 1) -> int:
        """Delete data files unreachable from the last ``retain_last``
        versions (VACUUM with retention awareness, docs/backlog.md:106).
        Returns number of files deleted. Time travel older than the
        retention horizon stops working — same trade-off as Delta.

        Deletion-vector sidecars under ``base/_dv`` are reclaimed by the
        same rule: a DV dir survives only if some retained version still
        references it. This also sweeps orphans whose commit lost the
        CAS race (the dir was written but the dv_add never landed).

        ``retain_last`` must be >= 1: the current version is always
        retained (``commits[-0:]`` would silently keep every version)."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        commits, _ = self._log_entries()
        keep: set[str] = set()
        keep_dv: set[str] = set()
        for v in commits[-retain_last:]:
            snap = self._snapshot(v)
            keep.update(snap.live)
            keep_dv.update(snap.dv)
        deleted = 0
        for dirpath, _dirs, files in os.walk(self.data_root):
            for fn in files:
                rel = os.path.relpath(os.path.join(dirpath, fn), self.data_root)
                if rel not in keep:
                    os.remove(os.path.join(dirpath, fn))
                    deleted += 1
        dv_root = os.path.join(self.base, "_dv")
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                if name not in keep_dv:
                    shutil.rmtree(os.path.join(dv_root, name), ignore_errors=True)
                    deleted += 1
        # change-feed sidecars follow the same retention rule as data
        # files: a sidecar survives only while its commit's version is
        # retained (Delta vacuums _change_data identically). Orphans
        # from lost CAS races are swept by the same pass.
        keep_cdf = {
            self._read_commit(v).get("cdf")
            for v in commits[-retain_last:]
        } - {None}
        cdf_root = os.path.join(self.base, "_changes")
        if os.path.isdir(cdf_root):
            for name in os.listdir(cdf_root):
                if name not in keep_cdf:
                    shutil.rmtree(os.path.join(cdf_root, name), ignore_errors=True)
                    deleted += 1
        return deleted

    def compact(self, target_partitions: int = 1,
                sort_by: Sequence[str] = ()) -> int:
        """OPTIMIZE-style small-file compaction: rewrite the current
        version's contents into ``target_partitions`` files (per
        partition dir when partitioned). ``sort_by`` clusters rows
        within the rewritten files (the ZORDER-analogue for single-key
        locality: parquet min/max row-group stats become selective, so
        point/range scans skip row groups)."""
        head = self._head()  # snapshot pin (see _commit expect_head)
        df = self.read(version=head)
        if sort_by:
            df = df.repartition(target_partitions).sortWithinPartitions(*sort_by)
        else:
            df = df.coalesce(target_partitions)
        # preserve_layout: the partition count / within-file sort IS the
        # compaction product — the optimized write must not re-split or
        # merge it (r14)
        new_files = self._stage(df, preserve_layout=True)
        snap = self._snapshot(head)
        return self._commit("optimize", new_files, sorted(snap.live), rows=None,
                            schema_json=self._staged_schema,
                            dv_remove=sorted(snap.dv),
                            expect_head=head)
