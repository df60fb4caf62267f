"""Table-format connectors (SURVEY.md §7 Phase 2 risk note;
pyspark_guide 'Sources & sinks': Delta/Iceberg/Hudi jars are not in
this image — gate behind import/classpath checks with the versioned
parquet layer as the functional fallback).

The engine's lakehouse semantics (append/overwrite/MERGE/time travel/
vacuum/compact) are format-agnostic: `LakehouseTable` implements them
on plain parquet + a manifest log; when a delta-spark runtime IS on the
classpath `open_table(prefer='delta')` returns `DeltaBackedTable`, a
thin adapter with the same call surface over the public
`delta.tables.DeltaTable` API (reference declares every table
`USING DELTA` — /root/reference/resources/uc/objects.sql), and
`open_table(prefer='iceberg')` likewise returns `IcebergBackedTable`
over the public Spark-Iceberg integration when its runtime is present.

The binding below is written ahead of the jar (RUNBOOK.md §8 records
the blocked install attempts): it uses only documented delta-spark
APIs, so the day a jar lands, `scripts/run_delta_branch.sh` runs the
contract suite against it with zero code edits here. Until then every
delta-branch contract param skips cleanly via `delta_available()`,
and a fake-module dry-run test (tests/test_delta_contract.py) asserts
this branch is actually exercised when `import delta` resolves.
"""

from __future__ import annotations

import hashlib
import os
import uuid
import warnings
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from football_lakehouse_spark.lakehouse.tables import (
    LakehouseTable,
    require_unique_keys,
)


def delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def iceberg_available(spark: SparkSession) -> bool:
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.catalog.Catalog")
        return True
    except Exception:
        return False


def _rel_data_path(path: str, base: str) -> str:
    """Render a snapshot data-file path relative to the table base —
    the LakehouseTable.current_files parity contract. Hadoop renders
    local URIs in several spellings ('file:/x', 'file:///x', bare
    '/x'); stripping literal prefixes left 'file:///...' paths
    absolute (the '//' survived and no longer matched the base), so
    normalise BOTH sides through the URI path component instead."""
    from urllib.parse import urlparse

    head = path.split("/", 1)[0]
    pu = urlparse(path) if ":" in head else None
    bhead = base.split("/", 1)[0]
    bu = urlparse(base) if ":" in bhead else None
    # different authority (bucket/host) ⇒ genuinely outside the table
    # base even when the PATH components coincide — keep the original
    # URI absolute rather than mis-relativising a foreign-bucket file.
    # Only an EXACT 'localhost' netloc normalises to the empty local
    # authority ('file' spellings carry empty or localhost): the old
    # substring .replace() made any host merely CONTAINING 'localhost'
    # (e.g. 'mylocalhostmirror') falsely compare equal (ADVICE r13).
    pn = "" if pu is None or pu.netloc == "localhost" else pu.netloc
    bn = "" if bu is None or bu.netloc == "localhost" else bu.netloc
    if pn != bn:
        return path
    p = pu.path if pu else path
    b = bu.path if bu else base
    return p.removeprefix(b.rstrip("/") + "/")


#: snapshot-summary key carrying the engine-vocabulary operation name
#: (stamped via Iceberg's documented `snapshot-property.*` write option)
_FLS_OP = "fls-op"

#: table property persisting how many snapshots vacuum() has expired —
#: keeps engine version numbers stable across snapshot expiry
_FLS_VERSION_OFFSET = "fls.version-offset"

#: table property anchoring a RETAINED snapshot id to its engine
#: version ("<snapshot_id>:<version>") — the offset is derived from the
#: anchor's OBSERVED position in the retained chain, so it stays exact
#: even when expire_snapshots removes fewer snapshots than predicted
#: (branch/tag refs, history.expire.min-snapshots-to-keep). Supersedes
#: _FLS_VERSION_OFFSET, which is kept as the pre-anchor fallback.
_FLS_VERSION_ANCHOR = "fls.version-anchor"


class DeltaBackedTable:
    """`LakehouseTable`-shaped adapter over a native Delta table.

    Maps the engine's table surface 1:1 onto the public delta-spark
    API (`delta.tables.DeltaTable` + the `format("delta")` reader/
    writer options documented at delta.io):

      append/overwrite      -> df.write.format("delta").mode(...)
      merge                 -> DeltaTable.merge().whenMatchedUpdateAll()
                                 .whenNotMatchedInsertAll()
      delete/update         -> DeltaTable.delete/update
      read(version=v)       -> reader option("versionAsOf", v)
      describe_history      -> DeltaTable.history()
      compact               -> DeltaTable.optimize().executeCompaction()
                                 / .executeZOrderBy(sort_by)
      vacuum                -> DeltaTable.vacuum(0h) with the documented
                                 retentionDurationCheck override
      restore               -> DeltaTable.restoreToVersion
      constraints           -> ALTER TABLE ... ADD/DROP CONSTRAINT
                                 (delta.constraints.* table properties)
      change feed           -> delta.enableChangeDataFeed property +
                                 reader option("readChangeFeed", true)

    Instantiating this class requires delta-spark on the classpath
    (`delta_available()`); `open_table` enforces that. Never validated
    against a real jar in this image (RUNBOOK §8: installs are
    DNS-blocked) — the contract suite in tests/test_delta_contract.py
    is the validation procedure, runnable unchanged the day a jar
    drops in via scripts/run_delta_branch.sh.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: str,
        name: str,
        partition_by: Sequence[str] = (),
    ) -> None:
        from delta.tables import DeltaTable  # hard requirement, by design

        self._DeltaTable = DeltaTable
        self.spark = spark
        self.base = os.path.join(root, schema, name)
        self.partition_by = tuple(partition_by)

    # -- plumbing ---------------------------------------------------------

    def exists(self) -> bool:
        return bool(self._DeltaTable.isDeltaTable(self.spark, self.base))

    def _dt(self):
        return self._DeltaTable.forPath(self.spark, self.base)

    def _sql_ref(self) -> str:
        # Path-addressed table for ALTER/SET TBLPROPERTIES statements.
        return f"delta.`{self.base}`"

    def _writer(self, df: DataFrame, mode: str):
        w = df.write.format("delta").mode(mode)
        # ALWAYS declare partitioning when configured: overwrite sets
        # overwriteSchema=true, which REPLACES the table's partitioning
        # with the writer's — the old exists() guard silently
        # unpartitioned the table on the first overwrite (append to an
        # existing table ignores a matching partitionBy, so declaring
        # it is safe there and required here)
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        return w

    # -- reads ------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        r = self.spark.read.format("delta")
        if version is not None:
            r = r.option("versionAsOf", int(version))
        return r.load(self.base)

    def current_version(self) -> int:
        row = self._dt().history(1).select("version").head()
        return int(row["version"])

    def current_files(self) -> list[str]:
        # Relative data-file paths of the live snapshot (parity with
        # LakehouseTable.current_files). inputFiles() is the documented
        # public surface for the snapshot's file set.
        return sorted(
            _rel_data_path(f, self.base) for f in self.read().inputFiles()
        )

    def describe_history(self) -> list[dict]:
        """LakehouseTable-shaped history: oldest first, operations
        normalised to the engine's lowercase vocabulary."""
        op_map = {
            "WRITE": "append",  # refined below from operationParameters.mode
            "MERGE": "merge",
            "DELETE": "delete",
            "UPDATE": "update",
            "OPTIMIZE": "optimize",
            "RESTORE": "restore",
            "VACUUM END": "vacuum",
            "SET TBLPROPERTIES": "set_properties",
            "ADD CONSTRAINT": "set_properties",
            "DROP CONSTRAINT": "set_properties",
            "CREATE TABLE AS SELECT": "overwrite",
            "CREATE OR REPLACE TABLE AS SELECT": "overwrite",
        }
        from football_lakehouse_spark.functions.guards import (
            OPS_METADATA_BOUND,
            bounded_collect,
        )

        rows = bounded_collect(
            self._dt()
            .history()
            .select("version", "operation", "operationParameters", "timestamp"),
            OPS_METADATA_BOUND,
            "DeltaBackedTable.describe_history",
        )
        hist = []
        for r in sorted(rows, key=lambda r: r["version"]):
            op = op_map.get(r["operation"], r["operation"].lower())
            params = r["operationParameters"] or {}
            if r["operation"] == "WRITE" and str(params.get("mode", "")).lower() in (
                "overwrite",
                "errorifexists-overwrite",
            ):
                op = "overwrite"
            hist.append(
                {
                    "version": int(r["version"]),
                    "operation": op,
                    "ts": r["timestamp"].timestamp(),
                }
            )
        return hist

    # -- writes -----------------------------------------------------------

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        w = self._writer(df, "append")
        if merge_schema:
            w = w.option("mergeSchema", "true")
        w.save(self.base)
        return self.current_version()

    def overwrite(self, df: DataFrame) -> int:
        w = self._writer(df, "overwrite").option("overwriteSchema", "true")
        w.save(self.base)
        return self.current_version()

    def merge(self, updates: DataFrame, keys: Sequence[str]) -> int:
        """Upsert by key — Delta MERGE with null-safe key equality
        (parity with LakehouseTable.merge, which matches NULL keys).
        Duplicate source keys are REJECTED before the MERGE with the
        shared :class:`MergeSourceDuplicateError` (ADVICE r9, sharpened
        r10: the first fix dropDuplicates'd them, but that keeps a
        nondeterministic arbitrary row — silently unstable upserts are
        worse than Delta's loud multiple-source-rows-matched error, so
        both bindings now validate identically and fail findably)."""
        require_unique_keys({"source": updates}, keys, f"delta merge into {self.base}")
        if not self.exists():
            # first batch bootstraps the table, as the parquet branch does
            return self.append(updates)
        cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
        (
            self._dt()
            .alias("t")
            .merge(updates.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return self.current_version()

    def delete(self, predicate: Column, deletion_vectors: bool = False) -> int:
        """Returns the new version, or -1 when no row matched (parity
        with LakehouseTable.delete's no-op contract). NOTE eager action:
        prices the predicate with a count() before mutating."""
        if self.read().where(predicate).limit(1).count() == 0:
            return -1
        if deletion_vectors:
            self.spark.sql(
                f"ALTER TABLE {self._sql_ref()} SET TBLPROPERTIES "
                "('delta.enableDeletionVectors' = 'true')"
            )
        self._dt().delete(predicate)
        return self.current_version()

    def update(self, predicate: Column, assignments: dict[str, Column]) -> int:
        self._dt().update(predicate, assignments)
        return self.current_version()

    # -- maintenance ------------------------------------------------------

    def compact(self, target_partitions: int = 1, sort_by: Sequence[str] | None = None) -> int:
        """Delta OPTIMIZE bin-packs to a target FILE SIZE, not a file
        count, so ``target_partitions`` is advisory here (ADVICE r9:
        never silently ignore it — compaction is non-destructive, so a
        layout hint that cannot be honoured warns instead of raising;
        contrast vacuum(), where the divergence would destroy data)."""
        if target_partitions != 1:
            warnings.warn(
                "DeltaBackedTable.compact: Delta OPTIMIZE bin-packs by file "
                f"size; target_partitions={target_partitions} is ignored "
                "(tune spark.databricks.delta.optimize.maxFileSize instead)",
                stacklevel=2,
            )
        opt = self._dt().optimize()
        if sort_by:
            opt.executeZOrderBy(*sort_by)
        else:
            opt.executeCompaction()
        return self.current_version()

    def vacuum(self, retain_last: int = 1) -> int:
        """Delta retention is time-based, not version-count-based; the
        engine's retain_last maps to an aggressive 0-hour vacuum (the
        documented retentionDurationCheck override), which keeps exactly
        the live snapshot — the retain_last=1 case every internal caller
        uses. Any OTHER retain_last is refused loudly (ADVICE r9):
        silently running vacuum(0h) for retain_last=5 would delete every
        non-live data file and destroy time travel the caller asked to
        keep — a destructive divergence from LakehouseTable.vacuum,
        which retains the last N versions' files. Returns the number of
        files reclaimed, counted by an on-disk listing diff (vacuum does
        not change the live snapshot, so inputFiles() cannot observe the
        reclaim)."""
        if retain_last != 1:
            raise ValueError(
                "DeltaBackedTable.vacuum: Delta retention is time-based; only "
                f"retain_last=1 maps faithfully (got {retain_last}). Running "
                "vacuum(0h) here would delete all non-live files and break "
                "time travel to every prior version — use "
                "deltaTable.vacuum(hours) with a retention horizon instead."
            )

        def _disk_files() -> set[str]:
            found = set()
            for dirpath, dirnames, filenames in os.walk(self.base):
                dirnames[:] = [d for d in dirnames if d != "_delta_log"]
                for fn in filenames:
                    found.add(os.path.join(dirpath, fn))
            return found

        before = _disk_files()
        conf = "spark.databricks.delta.retentionDurationCheck.enabled"
        prev = self.spark.conf.get(conf, "true")
        self.spark.conf.set(conf, "false")
        try:
            self._dt().vacuum(0)
        finally:
            self.spark.conf.set(conf, prev)
        return len(before - _disk_files())

    def restore(self, version: int) -> int:
        self._dt().restoreToVersion(int(version))
        return self.current_version()

    # -- constraints ------------------------------------------------------

    def add_constraint(self, name: str, predicate_sql: str) -> None:
        self.spark.sql(
            f"ALTER TABLE {self._sql_ref()} ADD CONSTRAINT {name} CHECK ({predicate_sql})"
        )

    def drop_constraint(self, name: str) -> None:
        self.spark.sql(f"ALTER TABLE {self._sql_ref()} DROP CONSTRAINT {name}")

    def constraints(self, version: int | None = None) -> dict[str, str]:
        """CHECK constraints from delta.constraints.* table properties.
        Version-addressed property history is not exposed through the
        public DeltaTable API, so ``version`` is FAIL-CLOSED rather
        than silently answered with current-version properties (a
        time-travel parity check would otherwise read wrong data and
        pass)."""
        if version is not None:
            raise NotImplementedError(
                "DeltaBackedTable.constraints(version=...) — the public "
                "Delta API does not expose versioned table properties; "
                "read current constraints (version=None) or use "
                "LakehouseTable for versioned constraint history"
            )
        props = self._dt().detail().select("properties").head()["properties"] or {}
        pre = "delta.constraints."
        return {k[len(pre):]: v for k, v in props.items() if k.startswith(pre)}

    # -- change feed ------------------------------------------------------

    def enable_change_feed(self) -> None:
        self.spark.sql(
            f"ALTER TABLE {self._sql_ref()} SET TBLPROPERTIES "
            "('delta.enableChangeDataFeed' = 'true')"
        )

    def change_feed_enabled(self) -> bool:
        props = self._dt().detail().select("properties").head()["properties"] or {}
        return str(props.get("delta.enableChangeDataFeed", "")).lower() == "true"

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """CDF read; column shape matched to LakehouseTable.table_changes
        (leading `version`, `change_type`, then data columns). Delta's
        startingVersion is inclusive-of-changes-AT-that-version while the
        engine's v_from means 'changes from v_from to v_to', so shift."""
        r = (
            self.spark.read.format("delta")
            .option("readChangeFeed", "true")
            .option("startingVersion", int(v_from) + 1)
        )
        if v_to is not None:
            r = r.option("endingVersion", int(v_to))
        df = r.load(self.base)
        data_cols = [
            c for c in df.columns
            if c not in ("_change_type", "_commit_version", "_commit_timestamp")
        ]
        return df.select(
            F.col("_commit_version").alias("version"),
            F.col("_change_type").alias("change_type"),
            *data_cols,
        )


class IcebergBackedTable:
    """`LakehouseTable`-shaped adapter over a native Apache Iceberg
    table, written against the documented Spark-Iceberg integration
    only (iceberg.apache.org/docs/latest/spark-*): a hadoop-type
    ``SparkCatalog`` whose warehouse is the engine's table ``root``, so
    ``(root, schema, name)`` maps 1:1 onto ``<catalog>.<schema>.<name>``
    at ``<root>/<schema>/<name>`` on disk. Closes the north star's
    "Delta/Iceberg" pair (reference declares its tables USING DELTA —
    /root/reference/resources/uc/objects.sql — Iceberg is the
    equivalent open-format binding).

    Verb mapping (all public API):

      append/overwrite      -> DataFrameWriterV2 ``writeTo(t).append()``
                               / ``.overwrite(lit(True))``; first write
                               ``.partitionedBy(...).create()``
      merge                 -> SQL ``MERGE INTO`` on the catalog table
                               (null-safe ``<=>`` key equality)
      delete(pred)          -> ``writeTo(t).overwrite(pred)`` with an
                               EMPTY source — rows matching pred are
                               replaced with nothing; pred-NULL rows
                               don't match, so they are retained (C12)
      update(pred, asg)     -> pinned-snapshot read of pred-TRUE rows,
                               assignments applied, ``overwrite(pred)``
      read(version=v)       -> reader ``option("snapshot-id", ...)``
                               (versions index the snapshot log,
                               ordered by committed_at)
      describe_history      -> the ``.snapshots`` metadata table; the
                               engine op is stamped into the snapshot
                               summary via the documented
                               ``snapshot-property.*`` write option
                               where the writeTo path allows
      compact               -> ``CALL <cat>.system.rewrite_data_files``
                               (binpack, or sort strategy for sort_by)
      vacuum(retain_last=k) -> ``CALL <cat>.system.expire_snapshots``
                               with its native ``retain_last`` — unlike
                               Delta's time-based retention this maps
                               FAITHFULLY, so any k ≥ 1 is accepted
      restore(v)            -> full-table ``overwrite(lit(True))`` from
                               the pinned old snapshot — a NEW commit
                               whose state equals version v (keeps the
                               engine's monotone version numbering;
                               ``rollback_to_snapshot`` would move the
                               current pointer without a new version)
      table_changes         -> ``CALL <cat>.system.create_changelog_view``
                               with start/end snapshot bounds

    Documented divergences (contract-suite guards key off the class
    attributes below):

    - Iceberg has no CHECK constraints → ``supports_constraints=False``
      and the constraint verbs raise ``NotImplementedError`` (use
      LakehouseTable, which enforces them engine-side).
    - SQL MERGE offers no snapshot-property hook, so its history row
      carries Iceberg's own 'overwrite' label →
      ``history_labels_exact=False``.
    - The changelog needs no enablement (every snapshot is replayable)
      → ``cdf_requires_enablement=False``; without identifier columns
      updates surface as delete+insert pairs → ``cdf_update_images=False``.

    Like ``DeltaBackedTable`` this binding is written ahead of the jar
    (no network in this image — RUNBOOK §8): `iceberg_available()`
    gates every contract param, and a dry-run test pins the
    construction/guard paths so a runtime jar drop-in runs the
    identical contract suite with zero code edits here.
    """

    supports_constraints = False
    history_labels_exact = False
    cdf_requires_enablement = False
    cdf_update_images = False

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: str,
        name: str,
        partition_by: Sequence[str] = (),
    ) -> None:
        self.spark = spark
        self.root = os.path.abspath(root)
        self.schema = schema
        self.name = name
        self.base = os.path.join(self.root, schema, name)
        self.partition_by = tuple(partition_by)
        # one hadoop catalog per warehouse root, deterministically named
        # so two tables under the same root share it (catalog confs are
        # resolved lazily at first reference, so runtime conf is enough)
        digest = hashlib.sha256(self.root.encode()).hexdigest()[:12]
        self.catalog = f"fls_ib_{digest}"
        cat_key = f"spark.sql.catalog.{self.catalog}"
        spark.conf.set(cat_key, "org.apache.iceberg.spark.SparkCatalog")
        spark.conf.set(f"{cat_key}.type", "hadoop")
        spark.conf.set(f"{cat_key}.warehouse", self.root)

    # -- plumbing ---------------------------------------------------------

    @property
    def ident(self) -> str:
        return f"{self.catalog}.`{self.schema}`.`{self.name}`"

    @property
    def data_root(self) -> str:
        # current_files() paths are relative to this (hadoop-table
        # layout keeps data under <base>/data/, which the relative
        # paths include)
        return self.base

    def _proc_table(self) -> str:
        # table argument for CALL <catalog>.system.* procedures
        return f"{self.schema}.{self.name}"

    def exists(self) -> bool:
        return self.spark.catalog.tableExists(self.ident)

    def _table_props(self) -> dict[str, str]:
        from football_lakehouse_spark.functions.guards import (
            OPS_METADATA_BOUND,
            bounded_collect,
        )

        rows = bounded_collect(
            self.spark.sql(f"SHOW TBLPROPERTIES {self.ident}"),
            OPS_METADATA_BOUND,
            "IcebergBackedTable._table_props",
        )
        return {r["key"]: r["value"] for r in rows}

    def _set_table_prop(self, key: str, value: str) -> None:
        self.spark.sql(
            f"ALTER TABLE {self.ident} SET TBLPROPERTIES ('{key}' = '{value}')"
        )

    def _version_offset(self, snaps: list[dict] | None = None) -> int:
        """Count of snapshots expired by vacuum() — engine version v
        lives at retained-log index ``v - offset``. Persisted so
        version addressing stays STABLE across expiry (Iceberg drops
        expired snapshots from the metadata log; without the offset,
        read(version=0) after a vacuum would silently answer with the
        oldest RETAINED snapshot).

        Derivation prefers the anchor property (snapshot_id:version of
        a retained snapshot, stamped by vacuum()): offset = anchored
        version - anchored snapshot's observed chain index. This is
        exact regardless of how many snapshots expire_snapshots
        ACTUALLY removed — predicting the count (the pre-r13 form)
        overcounts whenever Iceberg retains extras (branch/tag refs,
        history.expire.min-snapshots-to-keep), silently mis-indexing
        every subsequent read(version=...). An anchor pointing at a
        snapshot no longer in the chain (external expiry/rollback by
        another tool) fails LOUDLY rather than guessing."""
        props = self._table_props()
        anchor = props.get(_FLS_VERSION_ANCHOR)
        if anchor is None:
            return int(props.get(_FLS_VERSION_OFFSET, "0"))
        sid_s, ver_s = anchor.split(":")
        sid, ver = int(sid_s), int(ver_s)
        if snaps is None:
            snaps = self._snapshots()
        # anchor indices are positions in the LINEAR parent chain; when
        # the retained set is non-contiguous (a tag/branch kept an
        # orphan whose parent chain was expired around it), _snapshots
        # falls back to timestamp ordering, where an index is NOT a
        # version distance — deriving an offset from it would silently
        # mis-address versions (the exact bug class the anchor exists
        # to prevent). Detect and fail loudly instead.
        ids = {s["snapshot_id"] for s in snaps}
        linear = all(
            snaps[i + 1]["parent_id"] == snaps[i]["snapshot_id"]
            for i in range(len(snaps) - 1)
        ) and sum(
            1 for s in snaps
            if s["parent_id"] is None or s["parent_id"] not in ids
        ) <= 1
        if not linear:
            raise ValueError(
                f"{self.ident}: retained snapshots do not form a single "
                "parent chain (a tag/branch ref kept an orphan while its "
                "ancestors were expired, or another tool rewrote history)"
                " — anchor-derived version addressing would silently "
                "mis-index; resolve the extra refs (drop the tag/branch "
                "or expire the orphan) or reset the "
                f"'{_FLS_VERSION_ANCHOR}' property to a known "
                "snapshot_id:version pair"
            )
        for ix, s in enumerate(snaps):
            if s["snapshot_id"] == sid:
                return ver - ix
        raise ValueError(
            f"{self.ident}: version-anchor snapshot {sid} is no longer "
            "in the retained snapshot chain (expired or rolled back by "
            "another tool) — engine version addressing cannot be "
            "re-established automatically; if a trustworthy mapping is "
            f"known, manually reset the '{_FLS_VERSION_ANCHOR}' table "
            "property to a retained snapshot_id:version pair (vacuum() "
            "cannot repair this: it needs the mapping to stamp a new "
            "anchor)"
        )

    def _snapshots(self) -> list[dict]:
        """Snapshot log oldest-first — the engine's version axis.
        Ordered by the parent-id chain (exact commit order; this
        binding never moves the current pointer backwards, so the
        chain is linear — the oldest retained snapshot is the one
        whose parent is expired or absent). committed_at has only
        millisecond precision, so back-to-back small commits can tie
        on it; the chain can't. Falls back to (committed_at,
        snapshot_id) ordering only if the chain is broken (a table
        some other tool rolled back)."""
        from football_lakehouse_spark.functions.guards import (
            OPS_METADATA_BOUND,
            bounded_collect,
        )

        rows = bounded_collect(
            self.spark.table(f"{self.ident}.snapshots")
            .select("committed_at", "snapshot_id", "parent_id", "operation",
                    "summary"),
            OPS_METADATA_BOUND,
            "IcebergBackedTable._snapshots",
        )
        snaps = {
            int(r["snapshot_id"]): {
                "snapshot_id": int(r["snapshot_id"]),
                "parent_id": None if r["parent_id"] is None else int(r["parent_id"]),
                "ts": r["committed_at"].timestamp(),
                "operation": r["operation"],
                "summary": dict(r["summary"] or {}),
            }
            for r in rows
        }
        ids = set(snaps)
        roots = [s for s in snaps.values()
                 if s["parent_id"] is None or s["parent_id"] not in ids]
        by_parent: dict[int, list[dict]] = {}
        for s in snaps.values():
            if s["parent_id"] in ids:
                by_parent.setdefault(s["parent_id"], []).append(s)
        if len(roots) == 1 and all(len(v) == 1 for v in by_parent.values()):
            chain = [roots[0]]
            while chain[-1]["snapshot_id"] in by_parent:
                chain.append(by_parent[chain[-1]["snapshot_id"]][0])
            if len(chain) == len(snaps):
                return chain
        return sorted(snaps.values(), key=lambda s: (s["ts"], s["snapshot_id"]))

    def _snapshot_id_at(self, version: int) -> int:
        snaps = self._snapshots()
        off = self._version_offset(snaps)
        if version < off:
            raise ValueError(
                f"version {version} of {self.ident} is beyond the vacuum "
                f"retention horizon (oldest retained version is {off}) — "
                "its snapshot was expired"
            )
        ix = version - off
        if ix >= len(snaps):
            raise ValueError(
                f"version {version} out of range: {self.ident} has "
                f"versions {off}..{off + len(snaps) - 1}"
            )
        return snaps[ix]["snapshot_id"]

    def _writer(self, df: DataFrame, op: str):
        # engine-op stamped into the snapshot summary (documented
        # `snapshot-property.*` write option) so describe_history can
        # answer in the engine's vocabulary for every writeTo commit
        return df.writeTo(self.ident).option(f"snapshot-property.{_FLS_OP}", op)

    # -- reads ------------------------------------------------------------

    def read(self, version: int | None = None) -> DataFrame:
        if version is not None:
            sid = self._snapshot_id_at(int(version))
            return self.spark.read.option("snapshot-id", str(sid)).table(self.ident)
        return self.spark.table(self.ident)

    def _pinned(self) -> DataFrame:
        """Current snapshot pinned by id — decouples a self-referencing
        read from the overwrite that consumes it."""
        return self.read(version=self.current_version())

    def current_version(self) -> int:
        snaps = self._snapshots()
        if not snaps:
            raise ValueError(f"{self.ident} has no snapshots yet")
        return self._version_offset(snaps) + len(snaps) - 1

    def current_files(self) -> list[str]:
        from football_lakehouse_spark.functions.guards import (
            FILE_LISTING_BOUND,
            bounded_collect,
        )

        rows = bounded_collect(
            self.spark.table(f"{self.ident}.files").select("file_path"),
            FILE_LISTING_BOUND,
            "IcebergBackedTable.current_files",
        )
        return sorted(_rel_data_path(r["file_path"], self.base) for r in rows)

    def describe_history(self) -> list[dict]:
        """LakehouseTable-shaped history: version index, engine-vocab
        operation (from the stamped snapshot property when present,
        else Iceberg's own operation label), commit timestamp."""
        op_map = {"append": "append", "overwrite": "overwrite",
                  "delete": "delete", "replace": "optimize"}
        snaps = self._snapshots()
        off = self._version_offset(snaps)
        hist = []
        for ix, s in enumerate(snaps):
            op = s["summary"].get(_FLS_OP) or op_map.get(
                s["operation"], s["operation"]
            )
            hist.append({"version": off + ix, "operation": op, "ts": s["ts"]})
        return hist

    # -- writes -----------------------------------------------------------

    def _create(self, df: DataFrame, op: str) -> int:
        w = self._writer(df, op)
        if self.partition_by:
            w = w.partitionedBy(*[F.col(c) for c in self.partition_by])
        w.create()
        return self.current_version()

    def append(self, df: DataFrame, merge_schema: bool = False) -> int:
        if not self.exists():
            return self._create(df, "append")
        w = self._writer(df, "append")
        if merge_schema:
            # documented Iceberg write option; needs the table property
            # write.spark.accept-any-schema=true for arbitrary evolution
            w = w.option("merge-schema", "true")
        w.append()
        return self.current_version()

    def overwrite(self, df: DataFrame) -> int:
        if not self.exists():
            return self._create(df, "overwrite")
        self._writer(df, "overwrite").overwrite(F.lit(True))
        return self.current_version()

    def merge(self, updates: DataFrame, keys: Sequence[str]) -> int:
        """Upsert by key — native SQL MERGE INTO (copy-on-write rewrites
        only the files holding matched rows; scale parity with Delta's
        MERGE). Duplicate source keys rejected up front via the shared
        MergeSourceDuplicateError contract."""
        require_unique_keys(
            {"source": updates}, keys, f"iceberg merge into {self.ident}"
        )
        if not self.exists():
            return self.append(updates)
        # uuid, NOT a hash of (table, keys): two concurrent merges on
        # the same table+keys in one session would share a
        # deterministic name — one clobbers the other's source view
        # mid-MERGE, or the first finisher's drop kills the second's
        view = f"fls_merge_src_{uuid.uuid4().hex[:12]}"
        updates.createOrReplaceTempView(view)
        try:
            cond = " AND ".join(f"t.`{k}` <=> s.`{k}`" for k in keys)
            self.spark.sql(
                f"MERGE INTO {self.ident} t USING {view} s ON {cond} "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *"
            )
        finally:
            self.spark.catalog.dropTempView(view)
        return self.current_version()

    def delete(self, predicate: Column, deletion_vectors: bool = False) -> int:
        """Returns the new version, or -1 when no row matched (parity
        with LakehouseTable.delete). ``deletion_vectors`` is accepted
        for surface parity; Iceberg v2 position deletes are the
        engine-side analogue and rewrite_data_files purges them, so the
        hint needs no action here. Rows where the predicate is NULL are
        retained (C12): overwrite(pred) only replaces pred-TRUE rows."""
        if self.read().where(predicate).limit(1).count() == 0:
            return -1
        empty = self._pinned().where(F.lit(False))
        self._writer(empty, "delete").overwrite(predicate)
        return self.current_version()

    def update(self, predicate: Column, assignments: dict[str, Column]) -> int:
        """Parity with LakehouseTable.update: -1 on no match, unknown
        assignment columns rejected loudly, and all assignments applied
        SIMULTANEOUSLY in one select (chained withColumn would let
        {'a': col('b'), 'b': col('a')} read the already-rewritten 'a')."""
        pinned = self._pinned()
        for c in assignments:
            if c not in pinned.columns:
                raise ValueError(f"{self.ident}: no column {c!r}")
        matched = pinned.where(F.coalesce(predicate, F.lit(False)))
        if matched.limit(1).count() == 0:
            return -1
        src = matched.select(
            *[
                assignments[c].alias(c) if c in assignments else F.col(c)
                for c in pinned.columns
            ]
        )
        self._writer(src, "update").overwrite(predicate)
        return self.current_version()

    # -- maintenance ------------------------------------------------------

    def compact(self, target_partitions: int = 1, sort_by: Sequence[str] | None = None) -> int:
        """rewrite_data_files bin-packs to a target FILE SIZE (like
        Delta OPTIMIZE), so target_partitions is advisory — warn, never
        silently ignore (ADVICE r9 contract shared with the Delta
        binding)."""
        if target_partitions != 1:
            warnings.warn(
                "IcebergBackedTable.compact: rewrite_data_files bin-packs by "
                f"file size; target_partitions={target_partitions} is ignored "
                "(tune target-file-size-bytes instead)",
                stacklevel=2,
            )
        if sort_by:
            order = ", ".join(sort_by)
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self._proc_table()}', strategy => 'sort', "
                f"sort_order => '{order}', "
                "options => map('rewrite-all', 'true'))"
            )
        else:
            self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{self._proc_table()}', strategy => 'binpack', "
                "options => map('rewrite-all', 'true'))"
            )
        return self.current_version()

    def vacuum(self, retain_last: int = 1) -> int:
        """expire_snapshots with Iceberg's native retain_last — the
        engine's version-count retention maps faithfully (contrast
        DeltaBackedTable.vacuum, which must refuse retain_last != 1).
        Returns the number of data files reclaimed. The count of
        expired snapshots is added to the persisted version offset so
        historical version numbers stay stable and reads beyond the
        horizon fail LOUDLY (C7) instead of silently re-indexing."""
        if retain_last < 1:
            raise ValueError(f"retain_last must be >= 1, got {retain_last}")
        # anchor the CURRENT head (always retained: retain_last >= 1)
        # to its engine version BEFORE expiring. The offset is then
        # derived from the anchor's OBSERVED position after expiry, so
        # it is exact however many snapshots expire_snapshots actually
        # removed — a predicted max(0, n - retain_last) overcounts
        # whenever Iceberg keeps extras (branch/tag refs,
        # min-snapshots-to-keep) and read(version=v) would silently
        # return an OLDER snapshot. Crash between stamp and expiry is
        # harmless: nothing expired → the anchor's position, and hence
        # every version, is unchanged.
        snaps = self._snapshots()
        if not snaps:
            raise ValueError(f"{self.ident} has no snapshots to vacuum")
        head = snaps[-1]
        head_version = self._version_offset(snaps) + len(snaps) - 1
        self._set_table_prop(
            _FLS_VERSION_ANCHOR, f"{head['snapshot_id']}:{head_version}"
        )
        row = self.spark.sql(
            f"CALL {self.catalog}.system.expire_snapshots("
            f"table => '{self._proc_table()}', "
            "older_than => TIMESTAMP '2999-01-01 00:00:00', "
            f"retain_last => {int(retain_last)})"
        ).head()
        return int(row["deleted_data_files_count"])

    def restore(self, version: int) -> int:
        snap = self.read(version=int(version))
        self._writer(snap, "restore").overwrite(F.lit(True))
        return self.current_version()

    # -- constraints (unsupported format feature: fail closed) -------------

    _NO_CONSTRAINTS = (
        "Iceberg has no CHECK-constraint table feature; use "
        "LakehouseTable (engine-side enforcement) or the Delta binding"
    )

    def add_constraint(self, name: str, predicate_sql: str) -> None:
        raise NotImplementedError(self._NO_CONSTRAINTS)

    def drop_constraint(self, name: str) -> None:
        raise NotImplementedError(self._NO_CONSTRAINTS)

    def constraints(self, version: int | None = None) -> dict[str, str]:
        raise NotImplementedError(self._NO_CONSTRAINTS)

    # -- change feed --------------------------------------------------------

    def enable_change_feed(self) -> None:
        """No-op: every Iceberg snapshot is changelog-replayable — there
        is no enablement property and no pre-enablement hole."""

    def change_feed_enabled(self) -> bool:
        return True

    def table_changes(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Changelog between version bounds via the documented
        create_changelog_view procedure; column shape matched to
        LakehouseTable.table_changes (leading version/change_type).
        ``v_from`` means 'changes AFTER version v_from' — Iceberg's
        start-snapshot-id is likewise exclusive, so the bound maps
        directly (v_from=-1 → from the beginning)."""
        opts = []
        if v_from >= 0:
            opts.append(f"'start-snapshot-id', '{self._snapshot_id_at(v_from)}'")
        if v_to is not None:
            opts.append(f"'end-snapshot-id', '{self._snapshot_id_at(v_to)}'")
        view = f"fls_changes_{abs(hash((self.ident, v_from, v_to))) % 10**8}"
        options = f", options => map({', '.join(opts)})" if opts else ""
        self.spark.sql(
            f"CALL {self.catalog}.system.create_changelog_view("
            f"table => '{self._proc_table()}'{options}, "
            f"changelog_view => '{view}')"
        )
        df = self.spark.table(view)
        snaps = self._snapshots()
        off = self._version_offset(snaps)
        sid_to_v = {
            s["snapshot_id"]: off + ix for ix, s in enumerate(snaps)
        }
        v_map = F.create_map(
            *[F.lit(x) for kv in sid_to_v.items() for x in kv]
        )
        type_map = F.create_map(
            F.lit("INSERT"), F.lit("insert"),
            F.lit("DELETE"), F.lit("delete"),
            F.lit("UPDATE_BEFORE"), F.lit("update_preimage"),
            F.lit("UPDATE_AFTER"), F.lit("update_postimage"),
        )
        data_cols = [
            c for c in df.columns
            if c not in ("_change_type", "_change_ordinal", "_commit_snapshot_id")
        ]
        return df.select(
            v_map[F.col("_commit_snapshot_id")].alias("version"),
            type_map[F.col("_change_type")].alias("change_type"),
            *data_cols,
        )


def open_table(
    spark: SparkSession, root: str, schema: str, name: str, partition_by=(),
    prefer: str = "auto",
):
    """Open (or create-on-first-write) a lakehouse table with the best
    available format. ``prefer`` ∈ {auto, parquet, delta, iceberg}.

    - ``prefer='delta'`` + delta-spark on classpath → `DeltaBackedTable`
      (native binding over the public DeltaTable API). Without the jar
      it raises ModuleNotFoundError with the supported alternative.
    - ``prefer='iceberg'`` + an Iceberg Spark runtime on the classpath →
      `IcebergBackedTable` (hadoop-catalog binding over the public
      Spark-Iceberg API). Same loud refusal without the jar.
    - ``prefer='auto'`` and ``'parquet'`` → manifest-log versioned
      parquet (`lakehouse.tables.LakehouseTable`) with the same
      semantics. `auto` stays on the parquet branch even when a native
      format is importable, deliberately: a native binding graduates to
      the auto path only after the contract suite has passed against a
      real jar (scripts/run_delta_branch.sh is that validation run).
    """
    if prefer == "delta":
        if not delta_available():
            raise ModuleNotFoundError(
                "delta-spark is not installed in this environment; use "
                "prefer='parquet' (LakehouseTable provides append/overwrite/"
                "MERGE/time-travel/vacuum on parquet + manifest log)"
            )
        return DeltaBackedTable(spark, root, schema, name, partition_by=partition_by)
    if prefer == "iceberg":
        if not iceberg_available(spark):
            raise ModuleNotFoundError(
                "no Iceberg Spark runtime on the classpath; use "
                "prefer='parquet' (LakehouseTable provides append/overwrite/"
                "MERGE/time-travel/vacuum on parquet + manifest log)"
            )
        return IcebergBackedTable(spark, root, schema, name, partition_by=partition_by)
    if prefer not in ("auto", "parquet"):
        raise ValueError(f"unknown table format preference: {prefer!r}")
    return LakehouseTable(spark, root, schema, name, partition_by=partition_by)
