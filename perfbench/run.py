"""Benchmark entry point.

    python3 perfbench/run.py --workload heavy_build --seed 1 --seconds 30 --trace 0

Run from the root of a checkout of the repository. One run:

1. builds the fixture set once per checkout (``.bench_build/perfbench``);
2. set-up (``setup_s``): starts the engine's session with its own defaults
   on ``local[nproc]`` and loads the input tables through
   ``catalog.load_table``;
3. replays the workload's op sequence from an empty table root, one op
   at a time, timing each op;
4. times the q04 control query, then checks every op's output against
   DuckDB, outside the timed window;
5. stops the session and waits for the JVM to exit.

It prints a context line (host, driver heap, control time, tail
percentile, per-op seconds) and, last, one JSON result line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics and writes
the spans to ``.bench_build/perfbench/traces/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")

#: the query fixture's generator seed; the run seed generates the
#: lakehouse batches
FIXTURE_SEED = 42
#: nominal seconds of one heavy_build round / scan_exec round / lakehouse
#: day on a 4-core host: ``--seconds`` becomes a fixed op count, so every
#: run with the same ``--seconds`` does identical work
ROUND_S = {"heavy_build": 40.0, "scan_exec": 40.0, "lakehouse_cycle": 10.0}
CONTROL_RUNS = 3
#: fewest ops the tail percentile leaves beyond it (fewer in short runs)
TAIL_BEYOND = 10


def host_fingerprint() -> dict:
    model, mem_kb = "unknown", 0
    try:
        with open("/proc/cpuinfo") as f:
            model = next(
                (ln.split(":", 1)[1].strip() for ln in f if ln.startswith("model name")),
                model,
            )
        with open("/proc/meminfo") as f:
            mem_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal"))
    except OSError:
        pass
    return {"cpu_model": model, "nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024}


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """Share of host CPU time the hypervisor gave to other guests between
    two ``cpu_times()`` readings: co-tenant load this run could not see."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / max(1, sum(d)) if len(d) > 7 else 0.0


def tail(lat: list[float]) -> tuple[float, float, int]:
    """The highest percentile with ``TAIL_BEYOND`` ops beyond it (a
    quarter of the ops in runs too short for that), its value and the
    number of ops beyond it."""
    n = len(lat)
    beyond = min(TAIL_BEYOND, max(1, n // 4))
    pct = 100.0 * (n - beyond) / n
    return pct, float(sorted(lat)[n - beyond - 1] if n > beyond else max(lat)), beyond


def stop_engine(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def per_layer(ctx, wl, lat: list[float], ops: list, gc_s: float, peak_rss: float,
              session_s: float, load_s: float) -> dict[str, tuple[float, str]]:
    from workloads import HEAVY, LakehouseCycle

    tr = ctx.tracer
    n = len(ops)
    window = set(range(n))
    recs = ctx.layer
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "catalog.load_table_s": (load_s, "s"),
        "jvm.gc_s": (gc_s, "s"),
        "jvm.peak_rss_mb": (peak_rss, "MB"),
        "trace.op_mean_s": (statistics.fmean(lat), "s"),
    }
    queries = [r for r in recs if "build_jobs" in r]
    build_s = tr.total_s("plans.build", window)
    build_jobs = sum(r["build_jobs"] for r in queries)
    exec_s = tr.total_s("plans.exec", window) + tr.total_s("plans.plan", window)
    m["plans.build_s"] = (build_s / n if queries else 0.0, "s")
    m["plans.build_jobs"] = (build_jobs / n if queries else 0.0, "count")
    m["plans.build_s_per_job"] = (build_s / build_jobs if build_jobs else 0.0, "s")
    m["plans.build_share"] = (build_s / sum(lat) if queries else 0.0, "ratio")
    for q in HEAVY:
        ids = {r["op"] for r in queries if r["name"] == q}
        jobs = sum(r["build_jobs"] for r in queries if r["name"] == q)
        s = tr.total_s("plans.build", ids) if ids else 0.0
        m[f"plans.build_s.{q}"] = (s / len(ids) if ids else 0.0, "s")
        m[f"plans.build_jobs.{q}"] = (jobs / len(ids) if ids else 0.0, "count")
        m[f"plans.build_s_per_job.{q}"] = (s / jobs if jobs else 0.0, "s")
    m["plans.exec_s"] = (exec_s / n if queries else 0.0, "s")
    m["plans.exec_jobs"] = (
        sum(r["exec_jobs"] for r in queries) / n if queries else 0.0, "count")
    m["plans.plan_ms"] = (
        sum(r["plan_ms"] for r in queries) / n if queries else 0.0, "ms")
    units = {"tasks": "count", "executor_run_s": "s", "shuffle_write_bytes": "bytes",
             "shuffle_read_bytes": "bytes", "spill_bytes": "bytes",
             "failed_tasks": "count"}
    for k, unit in units.items():
        m[f"exec.{k}"] = (
            sum(r.get(k, 0.0) for r in queries) / n if queries else 0.0, unit)

    lake = isinstance(wl, LakehouseCycle)

    def mean_span(name: str) -> float:
        k = sum(1 for s in tr.spans if s["name"] == name and s["op"] in window)
        return tr.total_s(name, window) / k if k else 0.0

    for name in ("append", "merge", "read", "time_travel_read", "compact"):
        m[f"lakehouse.{name}_s"] = (mean_span(f"lakehouse.{name}"), "s")
    for name in ("ingest_bronze", "merge_additive"):
        m[f"pipelines.{name}_s"] = (mean_span(f"pipelines.{name}"), "s")
    writes = [r for r in recs if r.get("commits")]
    commits = sum(r["commits"] for r in writes)
    m["lakehouse.jobs_per_commit"] = (
        sum(r["jobs"] for r in writes) / commits if commits else 0.0, "count")
    m["lakehouse.files_per_commit"] = (
        sum(r.get("files_added", 0) for r in writes) / commits if commits else 0.0,
        "count")
    m["lakehouse.live_files"] = (float(wl.live_files()) if lake else 0.0, "count")
    m["lakehouse.bytes_written_per_input_byte"] = (
        sum(r.get("bytes_added", 0) for r in writes) / wl.input_bytes if lake else 0.0,
        "ratio")
    lake_s = sum(
        s["end"] - s["start"] for s in tr.spans
        if s["parent"] is None and s["op"] in window
        and s["name"].split(".")[0] in ("lakehouse", "pipelines")
    )
    m["lakehouse.share"] = (lake_s / sum(lat) if lake else 0.0, "ratio")
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(ROUND_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="query fixture scale factor (0.001 for a smoke run)")
    args = ap.parse_args()

    sys.path[:0] = [HERE, ROOT]
    if not os.path.isdir(os.path.join(ROOT, "football_lakehouse_spark")):
        print(f"no engine package under {ROOT}: run from a checkout's root",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("scratch", "local", "tmp", "lake"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "FLS_SCRATCH_ROOT": os.path.join(run_dir, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
    })
    tempfile.tempdir = None

    import numpy as np

    import fixtures
    from football_lakehouse_spark.session import get_spark
    from layers import JobProbe, Tracer
    from workloads import HEAVY, Ctx, LakehouseCycle, QueryWorkload, run_control
    from football_lakehouse_spark.plans import registry

    sf_dir = fixtures.ensure(os.path.join(WORK, "fixtures"), args.sf, FIXTURE_SEED)
    scale = max(1, round(args.seconds / ROUND_S[args.workload]))
    if args.workload == "lakehouse_cycle":
        wl = LakehouseCycle(days=scale, seed=args.seed)
    else:
        scan = tuple(n for n in registry.bench_queries() if n not in HEAVY)
        wl = QueryWorkload(HEAVY if args.workload == "heavy_build" else scan, scale)
    tracer = Tracer(bool(args.trace))

    # ---- set-up: session and input tables
    t0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        })
    session_s = time.perf_counter() - t0
    ctx = Ctx(spark, sf_dir, run_dir, tracer, JobProbe(spark) if args.trace else None)
    t1 = time.perf_counter()
    wl.setup(ctx)
    load_s = time.perf_counter() - t1
    if isinstance(wl, LakehouseCycle):
        wl.open_tables(ctx, os.path.join(run_dir, "lake"))
    setup_s = time.perf_counter() - t0

    # ---- timed window: the seeded op sequence, closed loop
    ops = wl.plan(np.random.default_rng(args.seed))
    probe = ctx.probe
    gc0 = probe.gc_s() if probe else 0.0
    lat, failed = [], set()
    cpu0 = cpu_times()
    w0 = time.perf_counter()
    for i, op in enumerate(ops):
        tracer.op_id = i
        t = time.perf_counter()
        try:
            wl.run_op(ctx, i, op)
        except Exception as e:  # a failed op counts, the run goes on
            print(f"op {i} {op!r} failed: {e!r}"[:2000], file=sys.stderr)
            failed.add(i)
        lat.append(time.perf_counter() - t)
    window_s = time.perf_counter() - w0
    steal = steal_pct(cpu0, cpu_times())
    tracer.op_id = None
    gc_s = probe.gc_s() - gc0 if probe else 0.0
    control = []
    for _ in range(CONTROL_RUNS):
        t = time.perf_counter()
        run_control(ctx)
        control.append(time.perf_counter() - t)

    # ---- outside the window: output checks, layer reads, shutdown
    failed |= wl.check(ctx)
    stored = wl.stored_bytes_per_input_byte(ctx)
    peak_rss = JobProbe(spark).peak_rss_mb()
    driver_mem = spark.conf.get("spark.driver.memory", "unset")
    layer = (per_layer(ctx, wl, lat, ops, gc_s, peak_rss, session_s, load_s)
             if args.trace else None)
    stop_engine(spark)
    if args.trace:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(os.path.join(
            WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)

    pct, tail_s, beyond = tail(lat)
    if args.trace:
        metrics = layer
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "ops_per_s": (len(ops) / window_s, "1/s"),
            "op_p50_s": (statistics.median(lat), "s"),
            "op_tail_s": (tail_s, "s"),
            "stored_bytes_per_input_byte": (stored, "ratio"),
        }
    print(json.dumps({"context": {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace, "ops": len(ops), "window_s": window_s,
        "op_tail_percentile": round(pct, 2), "op_tail_ops_beyond": beyond,
        "host": host_fingerprint(), "spark.driver.memory": driver_mem,
        "spark.master": f"local[{cpus}]", "peak_rss_mb": peak_rss,
        "q04_control_s": statistics.median(control), "cpu_steal_pct": steal,
        "op_names": [str(o if isinstance(o, str) else o[0]) for o in ops],
        "op_s": [round(x, 4) for x in lat],
    }}))
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    print(json.dumps({
        "correct": not failed and not bad,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
