"""Registry plan lint as a suite gate.

Default run lints the BENCH-flagged queries (the headline plans — fast,
no lakehouse writers); set SPARK_GRAFT_PLAN_LINT=1 to sweep the whole
registry (minutes — builders that write tables or iterate run for
real). The rules and pinned allowlists live in scripts/plan_lint.py;
see its module docstring for what each rule bans and why.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from football_lakehouse_spark.plans import registry

_spec = importlib.util.spec_from_file_location(
    "plan_lint",
    os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "plan_lint.py"),
)
plan_lint = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_lint)

if os.environ.get("SPARK_GRAFT_PLAN_LINT"):
    LINT_SPECS = list(registry.REGISTRY.values())
else:
    LINT_SPECS = [s for s in registry.REGISTRY.values() if s.bench]


@pytest.mark.parametrize("spec", LINT_SPECS, ids=lambda s: s.name)
def test_plan_lint(spark, spec):
    df = spec.builder(spark, plan_lint.SF_SMOKE)
    plan_json = json.loads(df._jdf.queryExecution().executedPlan().toJSON())
    assert plan_lint.lint(plan_json, spec.name) == []


def test_static_collect_lint_clean():
    """Every driver materialisation in the package is an audited
    COLLECT_ALLOW entry (bound named), and no allowlist entry is stale.
    Spark-free, whole-package, runs in the default suite — VERDICT r11
    item 7: keep the 'all collect sites are control-plane scalars'
    claim true by machine, not by per-round manual audit."""
    assert plan_lint.scan_collect_sites() == []


def test_static_collect_lint_flags_new_site(tmp_path):
    """A fresh .collect() outside the allowlist is caught, with the
    enclosing qualname in the message; a stale allowlist entry is also
    flagged."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def hot_path(df):\n"
        "    # comment mentioning collect() must not trip the AST scan\n"
        "    return [r for r in df.collect()]\n"
    )
    errs = plan_lint.scan_collect_sites(str(pkg))
    assert any("mod.py" in e and "hot_path" in e for e in errs)
    # every real allowlist entry is reported stale against the toy tree
    assert any("stale COLLECT_ALLOW" in e for e in errs)


def test_static_collect_lint_flags_arrow_sites(tmp_path):
    """A raw ``.toArrow()`` is a driver materialisation like
    ``.collect()``, and a ``bounded_arrow(...)`` call site is audited
    like a ``bounded_collect(...)`` one: outside the allowlist, each is
    flagged with its enclosing qualname."""
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "mod.py").write_text(
        "def arrow_path(df):\n"
        "    return df.toArrow()\n"
        "\n"
        "def bounded_path(df):\n"
        "    return bounded_arrow(df, 10, 'site')\n"
    )
    errs = [e for e in plan_lint.scan_collect_sites(str(pkg)) if "stale" not in e]
    assert len(errs) == 2, errs
    assert "mod.py:2" in errs[0] and "arrow_path" in errs[0]
    assert ".toArrow()" in errs[0]
    assert "mod.py:5" in errs[1] and "bounded_path" in errs[1]
    assert "bounded_arrow(...)" in errs[1]


def test_static_lint_flags_create_dataframe(tmp_path):
    """A list-backed ``createDataFrame`` anywhere but inside
    ``functions/guards.local_frame`` is an error, with the enclosing
    qualname in the message; the one sanctioned site is accepted."""
    pkg = tmp_path / "pkg"
    (pkg / "functions").mkdir(parents=True)
    (pkg / "mod.py").write_text(
        "class Seeds:\n"
        "    def frame(self, spark):\n"
        "        return spark.createDataFrame([(0,), (1,)], 'r int')\n"
    )
    (pkg / "functions" / "guards.py").write_text(
        "def local_frame(spark, rows, ddl):\n"
        "    return spark.createDataFrame(rows, ddl)\n"
    )
    errs = [e for e in plan_lint.scan_collect_sites(str(pkg)) if "stale" not in e]
    assert len(errs) == 1
    assert "mod.py:3" in errs[0] and "Seeds.frame" in errs[0]
    assert "local_frame" in errs[0]


def test_allowlists_reference_live_queries():
    """Allowlist hygiene: every pinned exception must still name a
    registered query — a renamed/deleted query must not leave a stale
    allowlist hole."""
    for s in (plan_lint.WINDOW_ALLOW, plan_lint.EXPAND_ALLOW):
        missing = [n for n in s if n not in registry.REGISTRY]
        assert missing == [], missing


def _lint_of(df, name="synthetic"):
    return plan_lint.lint(
        json.loads(df._jdf.queryExecution().executedPlan().toJSON()), name
    )


def test_lint_flags_unpartitioned_window(spark):
    from pyspark.sql import Window, functions as F

    df = spark.range(100).withColumn(
        "s",
        F.sum("id").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert "unpartitioned Window outside allowlist" in _lint_of(df)


def test_lint_accepts_partitioned_and_allowlisted(spark):
    from pyspark.sql import Window, functions as F

    part = spark.range(100).withColumn("g", F.col("id") % 3).withColumn(
        "s",
        F.sum("id").over(
            Window.partitionBy("g")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert _lint_of(part) == []
    glob = spark.range(10).withColumn(
        "s",
        F.sum("id").over(
            Window.orderBy("id").rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    assert _lint_of(glob, name=next(iter(plan_lint.WINDOW_ALLOW))) == []


def test_lint_flags_expand_and_allows_rollup_names(spark):
    from pyspark.sql import functions as F

    df = (
        spark.range(100)
        .withColumn("g", F.col("id") % 3)
        .rollup("g")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert "Expand outside cube/rollup allowlist" in _lint_of(df)
    assert _lint_of(df, name="q21_rollup") == []
