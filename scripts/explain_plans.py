"""Dump ``explain("formatted")`` of registry queries on demand.

Usage: SPARK_GRAFT_SF_DIR=<fixture dir> \
           python scripts/explain_plans.py <out_dir> <tag> [query ...]
  out_dir  directory for the dumps (created if missing)
  tag      suffix for the output files (e.g. ``before`` / ``after``)
  query    registry names; default = every bench=True query

Writes <out_dir>/<query>_<tag>.txt, building each query over the
fixture at ``$SPARK_GRAFT_SF_DIR`` (as bench.py reads it). Builders that
do eager work (scratch tables, Lloyd rounds) run that work; the
captured plan is the plan of the RETURNED DataFrame — the same object
bench.py executes via the noop sink.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from football_lakehouse_spark.plans import registry  # noqa: E402
from football_lakehouse_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if len(sys.argv) < 3 or not sf_dir:
        sys.exit(__doc__)
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or sorted(registry.bench_queries())
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("fls-explain-plans")
    for name in names:
        spec = registry.REGISTRY[name]
        t0 = time.perf_counter()
        df = spec.builder(spark, sf_dir)
        build_s = time.perf_counter() - t0
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(f"-- {name} ({tag}); builder wall {build_s:.3f}s\n")
            f.write(plan)
        print(f"{name}: builder {build_s:.3f}s -> {path}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
