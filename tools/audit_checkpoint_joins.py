#!/usr/bin/env python
"""Fleet-wide lost-statistics audit (r15 VERDICT item 1).

``localCheckpoint`` staging replaces a relation with a ``Scan
ExistingRDD`` that carries NO size statistics, so a downstream join that
would have broadcast the original (model-sized) relation silently
degrades to SortMergeJoin/ShuffledHashJoin — the hazard hit once in r15
(`basket_apriori_triples`, fixed with explicit BROADCAST hints,
`7259ced`) and caught only because a plan test watched that one row.

This tool makes the audit mechanical: for every registered query it
builds the row (which runs its staging jobs: every ``localCheckpoint``
is eager) and the INITIAL physical plan without executing it, and walks
the operator tree; every SortMergeJoin / ShuffledHashJoin whose subtree (on either
side) bottoms out in a ``Scan ExistingRDD`` is reported with the two
child summaries, so a reviewer can decide whether a side is model-sized
(→ add an explicit BROADCAST hint) or data-sized (→ SMJ is correct).

AQE can rewrite an SMJ to broadcast at runtime once real sizes are
known, but only after the map-side shuffle write is already paid — the
static hint removes the exchange outright, which is the guide §3.1 fix.

Usage: python tools/audit_checkpoint_joins.py [SF_DIR] [name ...]
Exit code is always 0 — output feeds human review + the checked-in
classification in tests/test_plan_properties.py.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _tree_lines(plan: str) -> list[str]:
    """The operator-tree section of a toString()ed physical plan (stop at
    the blank line before any '== ...' or detail section)."""
    out = []
    for ln in plan.splitlines():
        if ln.startswith("== "):
            continue
        out.append(ln)
    return out


_NODE_RE = re.compile(r"^(?P<indent>[\s:+\-*()0-9]*?)(?P<op>[A-Za-z][A-Za-z0-9]*)")


def _depth(line: str) -> int:
    """Tree depth of a plan line: each ancestor level contributes a 3-char
    prefix ("   ", ":  ", "+- ", ":- "), so depth = prefix_len // 3."""
    m = re.match(r"^[\s:+\-]*", line)
    prefix = m.group(0) if m else ""
    return len(prefix) // 3


def find_checkpoint_joins(plan: str) -> list[dict]:
    """Return [{join, left_head, right_head, left_has_rdd, right_has_rdd}]
    for every SMJ/SHJ node with a Scan ExistingRDD below either side."""
    lines = [
        ln
        for ln in plan.splitlines()
        if ln.strip() and not ln.startswith("== ")
    ]
    hits = []
    for i, ln in enumerate(lines):
        stripped = re.sub(r"^[\s:+\-*()0-9]*", "", ln)
        if not (
            stripped.startswith("SortMergeJoin")
            or stripped.startswith("ShuffledHashJoin")
        ):
            continue
        d = _depth(lines[i])
        # Children: contiguous following lines with depth > d until a line
        # with depth <= d; the two direct children are at depth d+1.
        children: list[tuple[int, str]] = []
        sub: list[str] = []
        for j in range(i + 1, len(lines)):
            dj = _depth(lines[j])
            if dj <= d:
                break
            if dj == d + 1:
                children.append((j, lines[j]))
            sub.append(lines[j])
        if len(children) < 2:
            continue
        (l_idx, l_line), (r_idx, r_line) = children[0], children[1]
        l_sub = "\n".join(
            lines[k]
            for k in range(l_idx, r_idx)
        )
        r_end = i + 1 + len(sub)
        r_sub = "\n".join(lines[k] for k in range(r_idx, r_end))
        l_rdd = "Scan ExistingRDD" in l_sub or "LogicalRDD" in l_sub
        r_rdd = "Scan ExistingRDD" in r_sub or "LogicalRDD" in r_sub
        if l_rdd or r_rdd:
            hits.append(
                {
                    "join": stripped.split("[")[0].strip()[:60],
                    "left": re.sub(r"^[\s:+\-*()0-9]*", "", l_line)[:90],
                    "right": re.sub(r"^[\s:+\-*()0-9]*", "", r_line)[:90],
                    "left_has_rdd": l_rdd,
                    "right_has_rdd": r_rdd,
                }
            )
    return hits


def main() -> None:
    from pyspark.sql import SparkSession

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("checkpoint-join-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from emr_with_custom_metrics_spark.registry import all_specs

    flagged: dict[str, list[dict]] = {}
    errors: list[tuple[str, str]] = []
    specs = all_specs()
    for i, (name, spec) in enumerate(specs.items()):
        if only and name not in only:
            continue
        try:
            plan = (
                spec.fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
        except Exception as exc:  # noqa: BLE001 — audit must survive
            errors.append((name, type(exc).__name__))
            continue
        hits = find_checkpoint_joins(plan)
        if hits:
            flagged[name] = hits
        if i % 100 == 0:
            print(f".. {i}/{len(specs)}", file=sys.stderr, flush=True)

    print(f"\nqueries with SMJ/SHJ over a checkpoint scan: {len(flagged)}")
    for name in sorted(flagged):
        print(f"\n== {name}")
        for h in flagged[name]:
            tag_l = " [RDD]" if h["left_has_rdd"] else ""
            tag_r = " [RDD]" if h["right_has_rdd"] else ""
            print(f"  {h['join']}")
            print(f"    L{tag_l}: {h['left']}")
            print(f"    R{tag_r}: {h['right']}")
    if errors:
        print(f"\nerrors ({len(errors)}): {errors}")
    spark.stop()


if __name__ == "__main__":
    main()
