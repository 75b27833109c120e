"""Fleet-wide physical-plan anti-pattern audit — a mechanical GATE:
every flag must appear in the checked-in classification table
``tools/plan_pattern_classification.json``, and
``tests/test_plan_pattern_gate.py`` fails the suite on any unclassified
new entrant.

Scans every registered query's PHYSICAL plan for the four shapes the
scale review hunts by hand (and, beside them, lists any row that
returns a checkpoint that has not run yet: every staged relation is
checkpointed eagerly, see ``plans/stage_memo``):

  * CartesianProduct            — an unconditioned cross join of two
                                  data-sized sides (a broadcast cross
                                  join compiles to BroadcastNestedLoop,
                                  NOT CartesianProduct, so any hit here
                                  is both sides unpinned). Classified
                                  entries carry the reviewed BOUND of
                                  both sides.
  * BroadcastNestedLoopJoin     — fine when one side is a scalar/small
                                  relation (the repo broadcasts those
                                  deliberately); every instance must be
                                  a REVIEWED one (named in the table).
  * BatchEvalPython / ArrowEval — row-at-a-time or Arrow Python UDF
                                  stages; the repo's contract is ONE
                                  intentional demo row
                                  (python_udf_scalar) plus the two
                                  UDTF rows' BatchEvalPython.
  * single_partition_window     — a Window over a Sort over
                                  ``Exchange SinglePartition``: one
                                  task sorts the window's whole input.
                                  Fine when that relation is bounded
                                  (a value histogram, a calendar spine,
                                  a model-sized table); each entry
                                  names its bound class from SCALING.md
                                  (round-11 and round-12 tables). A
                                  data-sized relation needs the
                                  histogram-order-statistic rewrite:
                                  cumulative counts pick the value, a
                                  window partitioned BY VALUE picks the
                                  id offset.

A flag is not automatically a bug — the gate exists so a flag can only
ship after a human classified it with a reason, exactly like the
COVERAGE doc gate (tests/test_coverage_doc.py).

Usage: python tools/audit_plan_patterns.py [SF_DIR]
Exit: 0 when every flag is classified (stale table entries are
reported as warnings), 1 on unclassified entrants or an unrun
checkpoint.
"""

from __future__ import annotations

import json
import os
import sys

CLASSIFICATION_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)),
    "plan_pattern_classification.json",
)


KEYS = ("cartesian", "bnlj", "python_udf", "single_partition_window")


def _single_partition_window(plan: str) -> bool:
    """A Window within three lines above a Sort within two lines above
    an ``Exchange SinglePartition`` (a bare single-partition exchange
    under a scalar aggregate is a one-row reduction and does not
    count)."""
    lines = [ln.strip() for ln in plan.splitlines()]
    return any(
        "Exchange SinglePartition" in ln
        and "Sort [" in " ".join(lines[max(0, i - 2):i])
        and "Window [" in " ".join(lines[max(0, i - 3):i])
        for i, ln in enumerate(lines)
    )


def scan(spark, sf_dir: str, specs: dict, progress: bool = False) -> dict:
    """Build every registered query (which runs its staging jobs) and
    its physical plan (no execution) and return {key: [names...] for
    each of ``KEYS``, "unrun_checkpoints": [names...], "errors": [(name,
    exc), ...]} sorted by name."""
    found: dict[str, list] = {k: [] for k in (*KEYS, "unrun_checkpoints")}
    errs = []
    for i, (name, spec) in enumerate(specs.items()):
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            if not all(r.isCheckpointedAndMaterialized() for r in checkpoint_rdds(df)):
                found["unrun_checkpoints"].append(name)
        except Exception as exc:  # noqa: BLE001 — audit must survive
            errs.append((name, type(exc).__name__))
            continue
        hits = {
            "cartesian": "CartesianProduct" in plan,
            "bnlj": "BroadcastNestedLoopJoin" in plan,
            "python_udf": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
            "single_partition_window": _single_partition_window(plan),
        }
        for key, hit in hits.items():
            if hit:
                found[key].append(name)
        if progress and i % 100 == 0:
            print(f".. {i}/{len(specs)}", flush=True)
    return {**{k: sorted(v) for k, v in found.items()}, "errors": errs}


def load_classification() -> dict:
    with open(CLASSIFICATION_PATH) as fh:
        return json.load(fh)


def diff_vs_classification(found: dict, table: dict) -> dict:
    """Unclassified entrants (gate failures) and stale table entries
    (warnings — a query was renamed/removed or its plan lost the
    pattern; prune the table)."""
    out: dict[str, dict] = {}
    for key in KEYS:
        classified = set(table.get(key, {}))
        hits = set(found[key])
        out[key] = {
            "unclassified": sorted(hits - classified),
            "stale": sorted(classified - hits),
        }
    return out


def checkpoint_rdds(df) -> list:
    """The checkpointed RDDs behind ``df``: those of the ``LogicalRDD``
    leaves of its analyzed plan and of its subqueries that carry
    checkpoint data. One whose ``isCheckpointedAndMaterialized()`` is
    false is a lazy ``localCheckpoint`` the first action would run."""
    plan = df._jdf.queryExecution().analyzed()
    plans, subs = [plan], plan.subqueriesAll().iterator()
    while subs.hasNext():
        plans.append(subs.next())
    rdds = []
    for p in plans:
        leaves = p.collectLeaves().iterator()
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.nodeName() == "LogicalRDD" and leaf.rdd().checkpointData().isDefined():
                rdds.append(leaf.rdd())
    return rdds


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-pattern-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from emr_with_custom_metrics_spark.registry import all_specs

    found = scan(spark, sf_dir, all_specs(), progress=True)
    print(f"\nCartesianProduct ({len(found['cartesian'])}): {found['cartesian']}")
    print(f"BroadcastNestedLoopJoin ({len(found['bnlj'])}): {found['bnlj']}")
    print(f"Python-UDF stages ({len(found['python_udf'])}): {found['python_udf']}")
    spw = found["single_partition_window"]
    print(f"Window -> Sort -> Exchange SinglePartition ({len(spw)}): {spw}")
    print(f"errors ({len(found['errors'])}): {found['errors']}")

    rc = 0
    if found["unrun_checkpoints"]:
        print(f"UNRUN CHECKPOINTS: {found['unrun_checkpoints']}")
        rc = 1
    try:
        table = load_classification()
    except OSError:
        print(f"\nNO classification table at {CLASSIFICATION_PATH}")
        table = {}
        rc = 1
    diff = diff_vs_classification(found, table)
    for key, d in diff.items():
        if d["unclassified"]:
            print(f"UNCLASSIFIED {key}: {d['unclassified']}")
            rc = 1
        if d["stale"]:
            print(f"stale table entries ({key}): {d['stale']}")
    spark.stop()
    sys.exit(rc)


if __name__ == "__main__":
    main()
