"""Registry-wide physical-plan lint — the scale disciplines as code.

Walks every registered query, builds its DataFrame at the smoke scale,
and greps the EXECUTED plan for the anti-patterns this engine bans:

- ``BatchEvalPython``  — row-at-a-time Python UDF. Banned everywhere
  (Arrow-batched ``ArrowEvalPython``/``MapInPandas`` are the only
  sanctioned Python surfaces).
- ``CartesianProduct`` — a non-broadcast cross join. Banned everywhere
  (intentional cross joins are 1-row/tiny broadcasts →
  ``BroadcastNestedLoopJoin``).
- unpartitioned ``Window`` — single-task global sort. Allowed ONLY for
  queries in WINDOW_ALLOW, each of which windows over a BOUNDED
  intermediate (a top-k limit, a bucket table, a day/band/decile
  aggregate — cardinality fixed by the value domain, not the data).
- ``Expand`` — the COUNT-DISTINCT/grouping-sets row multiplier.
  Allowed ONLY for EXPAND_ALLOW: genuine cube/rollup/grouping-sets
  semantics (where Expand IS the operator) — never as an accidental
  count-distinct plan (the q164 lesson: rewrite two-phase).
- ``.collect()``/``.toPandas()``/``.toArrow()`` in package source — a
  driver materialisation is a scale cliff unless its size is bounded by
  construction. Statically scanned (AST, whole package, Spark-free);
  every site must be an audited COLLECT_ALLOW entry naming its bound.
- ``createDataFrame(...)`` in package source outside
  ``functions/guards.local_frame`` — a list-backed frame is a Python
  RDD whose every read pays a job and Python-worker unpickling;
  ``local_frame`` ships the rows as one Arrow table (LocalTableScan).

Builders that themselves execute jobs (lakehouse writers, iterative
algorithms) run for real here, so the full sweep costs minutes — it is
a script + env-gated test, not a default-suite test. Exit code 1 on
any violation outside the pinned allowlists; the allowlists are part
of the contract and reviewed like code.

Usage: python scripts/plan_lint.py [--names q01_x,q02_y] [--json OUT.json]

``--json`` writes per-query verdicts ({name: {"ok": bool, "errs":
[...]}} plus a summary) so the full-registry result is a checkable
artefact (PLANLINT_r{N}.json), not a prose claim.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"

#: queries whose unpartitioned Window runs over a bounded intermediate
#: (each entry names the bound in a trailing comment — auditable)
WINDOW_ALLOW = {
    "q62_mixture_weights",       # per-SOURCE aggregate (≤ 20 sources)
    "q65_stratified_sample",     # per-SOURCE aggregate (≤ 20 strata)
    "q103_token_budget_select",  # window over the BUCKET table — step 3
                                 # of the bucketed_prefix decomposition
    "q157_cumulative_distinct",  # per-DAY aggregate (date domain)
    "q168_setsim_prefix_join",   # token-df table (vocabulary domain)
    "q261_hybrid_rrf_fusion",    # rank assigned inside 20-row limits
}

#: queries where Expand IS the semantics (cube/rollup/grouping sets)
EXPAND_ALLOW = {
    "q21_rollup",            # ROLLUP grouping sets
    "q63_cube",              # CUBE grouping sets
    "q66_sliding_window",    # sliding-window row expansion IS the operator
    "q147_grouping_sets",    # GROUPING SETS semantics
    "q167_distinct_sketch",  # exact-vs-sketch audit: the exact comparison
                             # column requires true COUNT DISTINCT; the
                             # sketch columns alone are Expand-free
}


#: audited driver-materialisation sites — every `.collect()`/`.toPandas()`/
#: `.toArrow()` AND every `bounded_collect(...)`/`bounded_arrow(...)` call
#: in the package must appear here
#: as (module-relative path, enclosing qualname) with its BOUND named;
#: anything else fails the static lint. The bound is what makes the site
#: scale-safe: each collects a scalar, a fixed-domain table, an
#: ops-surface metadata list, or a driver-tier working set under a
#: row/byte bound with a distributed fallback past it. Since r13 the bounds are also
#: ENFORCED AT RUNTIME: each site routes through
#: functions/guards.bounded_collect or its Arrow twin bounded_arrow
#: (limit(n+1) fetch + loud CollectBoundExceeded), so a drifting caller
#: cannot materialise more than its audit claims.
COLLECT_ALLOW: dict[tuple[str, str], str] = {
    ("functions/guards.py", "bounded_collect"):
        "the shared runtime-bound primitive every audited site routes "
        "through (fetches max_rows+1 via limit, fails loudly past the "
        "audited bound)",
    ("functions/guards.py", "bounded_arrow"):
        "bounded_collect's Arrow twin: the same limit(max_rows+1) fetch "
        "as one pyarrow Table",
    ("lakehouse/ddl.py", "smoke_roundtrip"):
        "DDL smoke probe: limit-bounded readback of the created table",
    ("lakehouse/tables.py", "LakehouseTable._enforce"):
        "limit(1) constraint-violation witness",
    ("lakehouse/tables.py", "LakehouseTable._removed_in_partitions"):
        "distinct partition values of the TOUCHED batch (per-write "
        "bound), collected once per write: they name both the files the "
        "commit removes and the files the rewrite reads",
    ("lakehouse/tables.py", "require_unique_keys"):
        "limit-bounded duplicate-key sample for the error message; every "
        "labelled frame (MERGE source, change-feed versions) priced in "
        "one aggregation",
    ("operators/blocking.py", "assert_candidate_volume"):
        "1-row candidate-count aggregate",
    ("operators/bpe.py", "bpe_rounds"):
        "(word, cnt) vocabulary for the driver-tier rounds "
        "(CONTROL_PLANE_BOUND words; past it, the Spark rounds)",
    ("operators/bpe.py", "_spark_rounds"):
        "1-row per-round merge winner (limit(1), n_merges-bounded)",
    ("operators/dedup.py", "neardup_clusters"):
        "verified pair-graph edge list for the driver union-find "
        "(CONTROL_PLANE_BOUND edges; past it, the star rounds)",
    ("operators/dedup.py", "_star_components"):
        "1-row per-round convergence fingerprint (count + hash sum)",
    ("operators/quality.py", "append_with_expectations"):
        "Observation metrics row (1 row per write)",
    ("operators/similarity.py", "assign_cells"):
        "centroid table for the one assignment kernel (n_cells×dim "
        "rows, config-bounded)",
    ("operators/similarity.py", "_lloyd_on_driver"):
        "quantised (id, qvec) training set for the driver-tier Lloyd "
        "rounds (_LLOYD_DRIVER_MAX_BYTES of int64 components, at most "
        "CONTROL_PLANE_BOUND rows; past it, the Spark rounds)",
    ("operators/similarity.py", "kmeans_cells"):
        "Spark rounds past the driver bound: n_cells seed vectors and "
        "each round's centroid table (n_cells×dim rows)",
    ("operators/similarity.py", "refine_hot_cells"):
        "per-cell counts + split centroids (bounded by n_cells)",
    ("operators/similarity.py", "semantic_dedup"):
        "1-row probe: biggest cell's rows and the centroid dim "
        "(oversized-cell byte guard)",
    ("pipelines/ml.py", "training_run_log"):
        "pinned run-log rows (fixed metric/param domain)",
    ("plans/advanced_plans.py", "chi_square_ab"):
        "contingency table (2×variant domain)",
    ("plans/llm_plans.py", "bfs_distance"):
        "1-row min-node seed scalar",
    ("plans/llm_plans.py", "pca_power_iteration"):
        "k-dim eigenvector per iteration (k ≤ 4)",
    ("plans/llm_plans.py", "systematic_weighted_sample"):
        "1-row total-weight scalar",
    ("plans/relational.py", "abc_classification"):
        "1-row min/max sizing probe",
}

#: driver-materialising DataFrame methods, and the guards helpers that
#: wrap them under a runtime bound
RAW_COLLECTS = ("collect", "toPandas", "toArrow")
BOUNDED_COLLECTS = ("bounded_collect", "bounded_arrow")

#: the one place the package may call ``createDataFrame``
LOCAL_FRAME_SITE = ("functions/guards.py", "local_frame")


def scan_collect_sites(pkg_root: str | None = None) -> list[str]:
    """Static source lint: every ``.collect()``/``.toPandas()``/
    ``.toArrow()`` call in the package must be an audited entry in
    COLLECT_ALLOW, and every
    ``createDataFrame`` call must be the one inside LOCAL_FRAME_SITE.
    Returns violation strings (empty = clean). Also flags STALE
    allowlist entries so a refactor can't leave a silent hole open.

    AST-based (not grep) so comments/strings can't false-positive and
    the enclosing function is named exactly; keyed on qualname, not
    line number, so routine edits don't churn the allowlist.
    """
    import ast

    if pkg_root is None:
        pkg_root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "football_lakehouse_spark",
        )
    errs: list[str] = []
    seen: set[tuple[str, str]] = set()
    for dirpath, dirnames, filenames in os.walk(pkg_root):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg_root)
            with open(path) as fh:
                tree = ast.parse(fh.read())

            def walk(node, stack):
                for child in ast.iter_child_nodes(node):
                    nstack = stack
                    if isinstance(
                        child,
                        (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
                    ):
                        nstack = stack + [child.name]
                    fn = child.func if isinstance(child, ast.Call) else None
                    called = getattr(fn, "attr", None) or getattr(fn, "id", None)
                    is_raw = (
                        isinstance(fn, ast.Attribute) and called in RAW_COLLECTS
                    )
                    # bounded_collect/bounded_arrow call sites are audited
                    # exactly like raw collects — the helper enforces the
                    # bound at runtime, the allowlist still names WHO
                    # collects
                    is_bounded = called in BOUNDED_COLLECTS
                    key = (rel, ".".join(stack) or "<module>")
                    if (
                        isinstance(fn, ast.Attribute)
                        and called == "createDataFrame"
                        and key != LOCAL_FRAME_SITE
                    ):
                        errs.append(
                            f"{rel}:{child.lineno} createDataFrame in "
                            f"{key[1]} — build driver rows through "
                            "functions/guards.local_frame (Arrow "
                            "LocalTableScan, no Python RDD)"
                        )
                    if is_raw or is_bounded:
                        kind = f".{called}()" if is_raw else f"{called}(...)"
                        seen.add(key)
                        if key not in COLLECT_ALLOW:
                            errs.append(
                                f"{rel}:{child.lineno} driver materialisation "
                                f"({kind}) in {key[1]} — not in "
                                "the audited COLLECT_ALLOW (name its bound "
                                "there, or keep the operator distributed)"
                            )
                    walk(child, nstack)

            walk(tree, [])
    for key in sorted(set(COLLECT_ALLOW) - seen):
        errs.append(
            f"stale COLLECT_ALLOW entry {key} — site no longer exists; "
            "remove it so the allowlist stays a faithful audit"
        )
    return errs


def _plan_nodes(plan_json) -> list[dict]:
    """Flatten the executedPlan().toJSON() tree into its operator dicts."""
    out: list[dict] = []
    stack = [plan_json]
    while stack:
        n = stack.pop()
        if isinstance(n, dict):
            if "class" in n:
                out.append(n)
            stack.extend(n.values())
        elif isinstance(n, list):
            stack.extend(n)
    return out


def lint(plan_json, name: str) -> list[str]:
    errs = []
    for n in _plan_nodes(plan_json):
        cls = n["class"].rsplit(".", 1)[-1]
        if cls == "BatchEvalPythonExec":
            errs.append("row-at-a-time Python UDF (BatchEvalPythonExec)")
        if cls == "BatchEvalPythonUDTFExec":
            errs.append("row-eval Python UDTF (use useArrow=True)")
        if cls == "CartesianProductExec":
            errs.append("non-broadcast cartesian product")
        if cls == "ExpandExec" and name not in EXPAND_ALLOW:
            errs.append("Expand outside cube/rollup allowlist")
        if (
            cls in ("WindowExec", "WindowInPandasExec")
            and not n.get("partitionSpec")
            and name not in WINDOW_ALLOW
        ):
            errs.append("unpartitioned Window outside allowlist")
    return sorted(set(errs))


def main() -> int:
    import argparse
    import json

    from pyspark.sql import SparkSession

    from football_lakehouse_spark.plans.registry import REGISTRY

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--names", help="comma-separated query names (default: all)")
    ap.add_argument("--json", dest="json_out", help="write per-query verdicts here")
    args = ap.parse_args()
    # static source lint first — cheap, Spark-free, whole-package
    static_errs = scan_collect_sites()
    for e in static_errs:
        print(f"collect-lint: {e}", flush=True)

    names = args.names.split(",") if args.names else None
    if names:
        unknown = sorted(set(names) - set(REGISTRY))
        if unknown:
            # a typo'd/renamed name silently matching nothing would print
            # "0 violations across 0 queries" and exit 0 — a false green
            # in exactly the targeted-recheck workflow --names exists for
            print(f"plan-lint: unknown query name(s): {unknown}")
            return 2
    # the engine's own session factory, NOT a bespoke builder: builders
    # execute real jobs, and a drifted config (no nanosAsLong, default
    # timezone/driver memory) can produce BUILD ERROR verdicts that do
    # not reproduce under the real session
    from football_lakehouse_spark.session import get_spark

    spark = get_spark(
        "plan-lint",
        cpus=8,
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    bad = 0
    verdicts: dict[str, dict] = {}
    for name, spec in REGISTRY.items():
        if names and name not in names:
            continue
        try:
            df = spec.builder(spark, SF_SMOKE)
            plan_json = json.loads(
                df._jdf.queryExecution().executedPlan().toJSON()
            )
        except Exception as ex:  # builder executing real jobs can fail loudly
            print(f"{name}: BUILD ERROR {ex!r}"[:200], flush=True)
            verdicts[name] = {"ok": False, "errs": [f"BUILD ERROR {ex!r}"[:200]]}
            bad += 1
            continue
        errs = lint(plan_json, name)
        for e in errs:
            print(f"{name}: {e}", flush=True)
        verdicts[name] = {"ok": not errs, "errs": errs}
        bad += len(errs)
    total = bad + len(static_errs)
    print(f"plan-lint: {total} total violation(s) — {bad} across "
          f"{len(verdicts)} queries, {len(static_errs)} static "
          "collect-lint", flush=True)
    if args.json_out:
        with open(args.json_out, "w") as fh:
            json.dump(
                {
                    "violations": total,
                    "query_violations": bad,
                    "static_violations": len(static_errs),
                    "queries_checked": len(verdicts),
                    "window_allow": sorted(WINDOW_ALLOW),
                    "expand_allow": sorted(EXPAND_ALLOW),
                    "collect_allow": sorted(
                        f"{p}:{q}" for p, q in COLLECT_ALLOW
                    ),
                    "collect_lint": static_errs,
                    "verdicts": verdicts,
                },
                fh,
                indent=1,
            )
    return 1 if total else 0


if __name__ == "__main__":
    raise SystemExit(main())
