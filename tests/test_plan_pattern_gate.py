"""Drift-proof gate for the fleet-wide plan-pattern audit (modeled on
the COVERAGE gate in test_coverage_doc.py): every CartesianProduct /
BroadcastNestedLoopJoin / Python-UDF stage / Window -> Sort -> Exchange
SinglePartition chain found in any registered query's physical plan
must appear in the checked-in review ledger
``tools/plan_pattern_classification.json``. A new flag
can only ship after a human classifies it there with a reason — the
audit stops being a ritual someone remembers to run and becomes a test
that fails when skipped.

Builds all 504 rows (their staging jobs run) and physical plans (no
execution) at the smoke SF — the suite's one deliberately heavy
structural test (~3-5 min). The same pass checks the staging idiom:
every staged relation is checkpointed eagerly, so no row returns a
checkpoint that has not run yet; and staged relations are bound into
SQL as parameters, so after every row has been built the session's
temp views are the base tables and nothing else, each still the plain
scan.
"""

from __future__ import annotations

import os
import sys

from .conftest import SF_SMOKE_DIR

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)


def test_every_plan_pattern_flag_is_classified(spark):
    import audit_plan_patterns as app

    from emr_with_custom_metrics_spark.catalog import TABLES
    from emr_with_custom_metrics_spark.registry import all_specs

    fresh = spark.newSession()  # views earlier tests left do not count
    found = app.scan(fresh, SF_SMOKE_DIR, all_specs())
    assert found["errors"] == [], found["errors"]
    assert found["unrun_checkpoints"] == [], (
        "rows returning a lazy checkpoint (stage with a bare "
        f"localCheckpoint()): {found['unrun_checkpoints']}"
    )

    views = {t.name for t in fresh.catalog.listTables() if t.isTemporary}
    assert views <= set(TABLES), sorted(views - set(TABLES))
    fanned = [
        t for t in sorted(views)
        if "RoundRobinPartitioning" in fresh.table(t)._jdf.queryExecution()
        .executedPlan().toString()
    ]
    assert not fanned, f"base views re-pointed at a fanned frame: {fanned}"

    table = app.load_classification()
    diff = app.diff_vs_classification(found, table)

    unclassified = {
        k: d["unclassified"] for k, d in diff.items() if d["unclassified"]
    }
    assert not unclassified, (
        "physical-plan flags with no entry in tools/"
        f"plan_pattern_classification.json — review and classify: "
        f"{unclassified}"
    )
    # Stale entries rot the ledger the other way (renamed/removed query
    # or a plan that LOST the pattern, which is itself worth seeing).
    stale = {k: d["stale"] for k, d in diff.items() if d["stale"]}
    assert not stale, f"stale classification entries — prune: {stale}"

    # The contract counts: any growth is visible in this diff forever.
    assert len(table["python_udf"]) == 3, (
        "the Python-UDF contract is ONE demo UDF + two UDTF rows; a "
        "4th entry needs the same scrutiny python_udf_scalar got"
    )
