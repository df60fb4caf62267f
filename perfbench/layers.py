"""Spans and per-layer probes for the traced benchmark run.

The benchmark drives the engine only through public calls, so a layer is
observed from the outside:

- spans: wall time around each public call the benchmark makes, named
  after the engine module that owns it (``plans.build``,
  ``lakehouse.merge``, ``pipelines.ingest_bronze`` …);
- jobs: a job group per phase of an op, counted through
  ``statusTracker()``;
- stages: task counts, executor run time, shuffle and spill bytes of
  those jobs' stages, read from the driver's status store over py4j
  (it is populated with the UI disabled);
- JVM: GC time from the garbage-collector MXBeans, and peak RSS of the
  driver JVM plus this Python process.

With tracing off, ``Tracer.span`` is a no-op and no probe is read.
"""

from __future__ import annotations

import json
import resource
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder: (name, start, end, parent, op id) per
    span, written as JSON lines by :meth:`dump` at exit."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total_s(self, name: str, ops: set[int] | None = None) -> float:
        return sum(
            s["end"] - s["start"] for s in self.spans
            if s["name"] == name and (ops is None or s["op"] in ops)
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")


#: per-stage counters read from the status store, summed per op
STAGE_FIELDS = {
    "tasks": "numCompleteTasks",
    "executor_run_s": "executorRunTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "failed_tasks": "numFailedTasks",
}


class JobProbe:
    """Job-group bookkeeping and status-store reads for one SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.jvm = self.sc._jvm

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        seen: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Exception:  # skipped stage: never attempted
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                for key, attr in STAGE_FIELDS.items():
                    attrs = attr if isinstance(attr, tuple) else (attr,)
                    out[key] += sum(float(getattr(st, a)()) for a in attrs)
        out["executor_run_s"] /= 1000.0
        return dict(out)

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this process's max RSS."""
        pid = self.jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            jvm_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (jvm_kb + py_kb) / 1024.0


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning milliseconds of the
    DataFrame's query execution (forces physical planning first)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total = 0.0
    for phase in ("analysis", "optimization", "planning"):
        try:
            total += float(phases.apply(phase).durationMs())
        except Exception:  # phase not run for this plan
            pass
    return total
