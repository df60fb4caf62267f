"""The benchmark's three workloads.

Each workload turns a seed into a fixed sequence of ops, runs one op at a
time (closed loop), and checks every output afterwards against an
independent DuckDB computation:

- ``heavy_build``: the six bench queries whose builders run many eager
  Spark jobs before they return a plan.
- ``scan_exec``: the other 22 bench queries, whose builders start almost
  no jobs; their time goes into scanning, shuffling and generated code.
- ``lakehouse_cycle``: a seeded daily-batch loop of Bronze ingest,
  correction-log append, partitioned Silver MERGE, additive rollup merge,
  current and time-travel reads, duplicate-day replays and periodic
  compaction + vacuum.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from football_lakehouse_spark import catalog
from football_lakehouse_spark.lakehouse.tables import LakehouseTable
from football_lakehouse_spark.pipelines import continuous, medallion
from football_lakehouse_spark.plans import registry

import fixtures
from layers import JobProbe, Tracer, plan_ms

HEAVY = (
    "q57_neardup_clusters",
    "q101_semantic_dedup",
    "q111_bpe_merges",
    "q250_incremental_view_maintenance",
    "q257_logged_cdf_ivm",
    "q294_ivf_index_serving",
)
CONTROL = "q04_conditional_agg"


@dataclass
class Ctx:
    spark: object
    sf_dir: str
    run_dir: str
    tracer: Tracer
    probe: JobProbe | None
    #: per-op layer records filled in traced runs
    layer: list[dict] = field(default_factory=list)


def _norm_cell(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.17g}"
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def canonical(columns, rows) -> tuple[list[str], list[tuple]]:
    """Column names sorted, cells stringified at full precision, rows
    sorted: an order-insensitive form two engines' results compare in."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return (
        [columns[i] for i in order],
        sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows),
    )


def duck_over(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def run_control(ctx: Ctx) -> None:
    """One noop-sink execution of the q04 control query."""
    spec = registry.REGISTRY[CONTROL]
    spec.builder(ctx.spark, ctx.sf_dir).write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------- queries
class QueryWorkload:
    """Round-robin over ``names``: each round runs every query once. An
    op builds the query's plan through its registry builder, then
    executes it and fetches the rows."""

    def __init__(self, names: tuple[str, ...], rounds: int):
        self.names = names
        self.rounds = rounds
        self.results: dict[int, tuple[str, list, list]] = {}

    def setup(self, ctx: Ctx) -> None:
        for t in catalog.TABLES:
            with ctx.tracer.span("catalog.load_table"):
                catalog.load_table(ctx.spark, ctx.sf_dir, t)

    def plan(self, rng: np.random.Generator) -> list[str]:
        """``rounds`` rounds in registry order. The order is fixed, not
        seeded: within a run's first round, whichever query first reaches
        a code path it shares with another pays that path's JIT warm-up,
        so a seeded order moves single ops by seconds between seeds."""
        return list(self.names) * self.rounds

    def run_op(self, ctx: Ctx, i: int, name: str) -> None:
        spec = registry.REGISTRY[name]
        probe, rec = ctx.probe, {"op": i, "name": name}
        if probe:
            probe.group(f"op{i}.build")
        with ctx.tracer.span("plans.build"):
            df = spec.builder(ctx.spark, ctx.sf_dir)
        if probe:
            probe.group(f"op{i}.exec")
            with ctx.tracer.span("plans.plan"):
                rec["plan_ms"] = plan_ms(df)
        with ctx.tracer.span("plans.exec"):
            rows = df.collect()
        if probe:
            probe.clear()
            rec["build_jobs"] = len(probe.jobs(f"op{i}.build"))
            exec_jobs = probe.jobs(f"op{i}.exec")
            rec["exec_jobs"] = len(exec_jobs)
            rec.update(probe.stage_totals(exec_jobs))
            ctx.layer.append(rec)
        self.results[i] = (name, list(df.columns), rows)

    def check(self, ctx: Ctx) -> set[int]:
        """Ops whose rows differ from the DuckDB oracle. Queries without
        an oracle valid on this fixture must return columns."""
        con = duck_over(ctx.sf_dir)
        expected: dict[str, tuple] = {}
        bad = set()
        for i, (name, cols, rows) in self.results.items():
            spec = registry.REGISTRY[name]
            if spec.oracle is None or spec.oracle_sf is not None:
                if not cols:
                    bad.add(i)
                continue
            if name not in expected:
                res = con.execute(spec.oracle)
                expected[name] = canonical(
                    [c[0] for c in res.description], res.fetchall()
                )
            if canonical(cols, rows) != expected[name]:
                bad.add(i)
        con.close()
        return bad

    def stored_bytes_per_input_byte(self, ctx: Ctx) -> float:
        """Fixture files plus every table the queries wrote, per byte of
        fixture rows in memory."""
        stored = dir_bytes(ctx.sf_dir) + dir_bytes(os.path.join(ctx.run_dir, "scratch"))
        rows = sum(
            pq.read_table(f"{ctx.sf_dir}/{t}.parquet").nbytes for t in catalog.TABLES
        )
        return stored / rows


# -------------------------------------------------------------- lakehouse
class LakehouseCycle:
    """Daily batches of seeded events through Bronze → Silver → rollup.

    Per day: ``ingest`` (Bronze append_if_new), ``append`` (the day's
    late corrections to a correction log, from the second day on),
    ``merge`` (new keys plus the corrections into the date-partitioned
    Silver table), ``rollup`` (additive hourly rollup merge), ``read``
    (current Silver) and, from the second day on, a ``time_travel`` read
    two versions back. Every third day adds a ``replay`` of an
    already-ingested day (which must commit nothing) and a ``compact``
    (compaction + vacuum keeping four versions)."""

    EVENTS_PER_DAY = 300
    CORRECTIONS_PER_DAY = 40

    def __init__(self, days: int, seed: int):
        self.days = days
        self.seed = seed
        self.bad: set[int] = set()  # ops whose own result was wrong

    # inputs -------------------------------------------------------------
    def setup(self, ctx: Ctx) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.EVENTS_PER_DAY * fixtures.EVENT_DAYS
        self.events_pa = fixtures.events_table(rng, n)
        input_dir = os.path.join(ctx.run_dir, "input")
        os.makedirs(input_dir)
        pq.write_table(self.events_pa, os.path.join(input_dir, "events.parquet"))
        with ctx.tracer.span("catalog.load_table"):
            self.events = catalog.load_table(ctx.spark, input_dir, "events")
        day_of = self.events_pa.column("ts").cast("int64").to_numpy() // 86_400_000_000
        self.day_ids = {d: np.flatnonzero(day_of == d) for d in np.unique(day_of)}

    def _day_frame(self, day: int):
        date = np.datetime64(int(day), "D").astype(str)
        return self.events.where(F.to_date("ts") == F.lit(date).cast("date"))

    @staticmethod
    def _typed(events):
        return events.select(
            "event_id", "ts", "user_id", "event_type", "value",
            F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
            F.to_date("ts").alias("snapshot_date"),
        )

    def plan(self, rng: np.random.Generator) -> list[tuple]:
        """The op list, with every input decided up front."""
        days = [int(d) for d in rng.permutation(sorted(self.day_ids))[: self.days]]
        ops: list[tuple] = []
        seen: list[int] = []
        for k, day in enumerate(days):
            corrections = []
            if seen:
                pool = np.concatenate([self.day_ids[d] for d in seen])
                ids = rng.choice(pool, min(self.CORRECTIONS_PER_DAY, len(pool)),
                                 replace=False)
                deltas = np.round(rng.uniform(-20.0, 20.0, len(ids)), 2)
                corrections = [(int(e), float(x)) for e, x in zip(ids, deltas)]
            ops.append(("ingest", day))
            if corrections:
                ops.append(("append", corrections))
            ops += [("merge", day, corrections), ("rollup", day), ("read",)]
            seen.append(day)
            if k >= 1:
                ops.append(("time_travel",))
            if k % 3 == 2:
                ops.append(("replay", seen[int(rng.integers(0, len(seen) - 1))]))
                ops.append(("compact",))
        self.ops = ops
        return ops

    def open_tables(self, ctx: Ctx, root: str) -> None:
        spark = ctx.spark
        self.bronze = LakehouseTable(spark, root, *medallion.BRONZE_EVENTS,
                                     partition_by=["snapshot_date"])
        self.silver = LakehouseTable(spark, root, *medallion.SILVER_EVENTS,
                                     partition_by=["snapshot_date"])
        self.corrections = LakehouseTable(spark, root, "silver", "event_corrections")
        self.rollup = LakehouseTable(spark, root, "gold", "rollup_hourly",
                                     partition_by=["d"])
        self.tables = (self.bronze, self.silver, self.corrections, self.rollup)
        self.silver_rows = 0
        self.expect_rows: dict[int, int] = {}  # silver version -> row count
        self.ingested: list[int] = []
        self.n_corrections = 0
        self.input_bytes = 0

    @staticmethod
    def _corrections_frame(ctx: Ctx, corrections):
        return ctx.spark.createDataFrame(corrections, "event_id bigint, delta double")

    def run_op(self, ctx: Ctx, i: int, op: tuple) -> None:
        kind, tr, spark = op[0], ctx.tracer, ctx.spark
        probe = ctx.probe
        if probe:
            probe.group(f"op{i}")
            before = self._files() if kind != "read" else None
        committed = 0
        if kind == "ingest":
            with tr.span("pipelines.ingest_bronze"):
                v = medallion.ingest_bronze(spark, self._day_frame(op[1]), self.bronze)
            if v is None:
                self.bad.add(i)
            committed = 1
            idx = self.day_ids[op[1]]
            self.ingested.append(op[1])
            self.input_bytes += self.events_pa.take(idx).nbytes
        elif kind == "replay":
            with tr.span("pipelines.ingest_bronze"):
                v = medallion.ingest_bronze(spark, self._day_frame(op[1]), self.bronze)
            if v is not None:  # a replayed day must commit nothing
                self.bad.add(i)
        elif kind == "append":
            with tr.span("lakehouse.append"):
                self.corrections.append(self._corrections_frame(ctx, op[1]))
            committed = 1
            self.n_corrections += len(op[1])
            self.input_bytes += 16 * len(op[1])
        elif kind == "merge":
            day, corrections = op[1], op[2]
            batch = self._typed(self._day_frame(day))
            if corrections:
                fix = self._corrections_frame(ctx, corrections)
                late = (
                    self._typed(self.events)
                    .join(F.broadcast(fix), "event_id")
                    .withColumn("value", F.round(F.col("value") + F.col("delta"), 2))
                    .drop("delta")
                )
                batch = batch.unionByName(late)
            with tr.span("lakehouse.merge"):
                v = self.silver.merge(batch, ["event_id"])
            committed = 1
            self.silver_rows += len(self.day_ids[day])
            self.expect_rows[v] = self.silver_rows
        elif kind == "rollup":
            with tr.span("pipelines.merge_additive"):
                continuous.merge_additive(
                    self.rollup, continuous.batch_partials(self._day_frame(op[1]))
                )
            committed = 1
        elif kind == "read":
            with tr.span("lakehouse.read"):
                n = self.silver.read().agg(F.count(F.lit(1))).collect()[0][0]
            if n != self.silver_rows:
                self.bad.add(i)
        elif kind == "time_travel":
            v = max(min(self.expect_rows), max(self.expect_rows) - 2)
            with tr.span("lakehouse.time_travel_read"):
                n = self.silver.read(version=v).agg(F.count(F.lit(1))).collect()[0][0]
            if n != self.expect_rows[v]:
                self.bad.add(i)
        elif kind == "compact":
            with tr.span("lakehouse.compact"):
                v = self.silver.compact(target_partitions=1)
                self.silver.vacuum(retain_last=4)
            self.expect_rows[v] = self.silver_rows
            committed = 1
        if probe:
            probe.clear()
            rec = {"op": i, "name": kind, "commits": committed,
                   "jobs": len(probe.jobs(f"op{i}"))}
            if before is not None:
                after = self._files()
                new = set(after) - set(before)
                rec["files_added"] = len(new)
                rec["bytes_added"] = sum(after[f] for f in new)
            ctx.layer.append(rec)

    def _files(self) -> dict[str, int]:
        out = {}
        for t in self.tables:
            for d, _, files in os.walk(t.data_root):
                for f in files:
                    p = os.path.join(d, f)
                    out[p] = os.path.getsize(p)
        return out

    def live_files(self) -> int:
        return sum(t.describe_detail()["num_files"] for t in self.tables if t.exists())

    def stored_bytes_per_input_byte(self, ctx: Ctx) -> float:
        live = sum(t.describe_detail()["size_bytes"] for t in self.tables if t.exists())
        return live / self.input_bytes

    def check(self, ctx: Ctx) -> set[int]:
        """Final Silver and rollup against a DuckDB replay of the same
        batches; Bronze and the correction log by row count. A mismatch
        fails every write op of the table it concerns."""
        con = duckdb.connect()
        con.register("ev", self.events_pa)
        days = ", ".join(str(d) for d in self.ingested)
        con.execute(
            "CREATE TABLE base AS SELECT event_id, ts, user_id, event_type, value, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k, "
            "CAST(ts AS DATE) AS snapshot_date FROM ev "
            f"WHERE CAST(epoch_us(ts) // 86400000000 AS BIGINT) IN ({days})"
        )
        con.execute("CREATE TABLE fixes (step INT, event_id BIGINT, delta DOUBLE)")
        step = 0
        for op in self.ops:
            if op[0] == "merge" and op[2]:
                con.executemany(
                    "INSERT INTO fixes VALUES (?, ?, ?)",
                    [(step, e, d) for e, d in op[2]],
                )
                step += 1
        silver_sql = (
            "SELECT b.event_id, b.ts, b.user_id, b.event_type, "
            "COALESCE(round(b.value + f.delta, 2), b.value) AS value, "
            "b.prop_k, b.snapshot_date FROM base b LEFT JOIN ("
            "  SELECT event_id, arg_max(delta, step) AS delta FROM fixes GROUP BY 1"
            ") f USING (event_id)"
        )
        rollup_sql = (
            "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, "
            "event_type, count(*) AS n, "
            "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_value "
            "FROM base GROUP BY 1, 2"
        )
        bad = set()
        write_ops = {k: [i for i, op in enumerate(self.ops) if op[0] == k]
                     for k in ("ingest", "append", "merge", "rollup")}
        for kind, table_df, sql in (
            ("merge", self.silver.read(), silver_sql),
            ("rollup", continuous.rollup_view(self.rollup), rollup_sql),
        ):
            cols = table_df.columns
            got = canonical(cols, table_df.collect())
            res = con.execute(f"SELECT {', '.join(cols)} FROM ({sql})")
            if got != canonical(cols, res.fetchall()):
                bad.update(write_ops[kind])
        n_base = con.execute("SELECT count(*) FROM base").fetchone()[0]
        if self.bronze.read().count() != n_base:
            bad.update(write_ops["ingest"])
        if self.n_corrections and self.corrections.read().count() != self.n_corrections:
            bad.update(write_ops["append"])
        con.close()
        return bad | self.bad
