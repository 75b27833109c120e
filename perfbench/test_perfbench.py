"""Self-test of the benchmark's own logic.

    python3 -m pytest perfbench/ -q

The smoke tests start Spark (about half a minute per workload).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from datagen import build_tables  # noqa: E402
from layers import parse_metric  # noqa: E402
from measure import RowOutcome, Span, covered, failure_counts, highest_tail, self_time, tail  # noqa: E402
from run import END_TO_END, PER_LAYER  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_tail_needs_ten_samples_beyond_it():
    samples = [float(i) for i in range(1, 101)]
    assert tail(samples, 0.9) == 90.0  # 91..100 lie beyond
    assert tail(samples[:99], 0.9) is None  # only 9 beyond
    assert tail(samples, 0.99) is None
    assert tail([], 0.5) is None


def test_tail_counts_only_samples_strictly_beyond():
    # ties at the percentile value are not "beyond" it
    assert tail([1.0] * 50 + [2.0] * 10, 0.5) == 1.0
    assert tail([1.0] * 50 + [2.0] * 9, 0.5) is None


def test_highest_tail_picks_the_highest_reportable_percentile():
    samples = [float(i) for i in range(1, 101)]
    assert highest_tail(samples) == (0.9, 90.0)
    assert highest_tail(samples[:40]) == (0.75, 30.0)
    assert highest_tail(samples[:12]) is None


def test_failure_counts_raised_and_mismatched_rows():
    outcomes = {
        "ok": RowOutcome(),
        "raised": RowOutcome(raised="construct"),
        "mismatched": RowOutcome(mismatched=True),
        # a row that raised in the oracle check after an earlier mismatch
        # still counts once
        "both": RowOutcome(raised="oracle", mismatched=True),
    }
    c = failure_counts(outcomes)
    assert (c["attempted"], c["failed"], c["raised"], c["mismatched"]) == (4, 3, 2, 1)
    assert c["failed_frac"] == 0.75
    assert failure_counts({})["failed_frac"] == 0.0


def test_self_time_subtracts_the_union_of_children():
    parent = Span("construct", 0.0, 10.0)
    children = [Span("job", 1.0, 3.0), Span("job", 2.0, 5.0), Span("job", 8.0, 12.0)]
    # children cover [1, 5] and [8, 10] inside the parent
    assert self_time(parent, children) == pytest.approx(4.0)
    assert self_time(parent, []) == 10.0
    assert covered([(11.0, 12.0)], 0.0, 10.0) == 0.0


def test_parse_metric_reads_the_total():
    assert parse_metric("total (min, med, max (stageId: taskId))\n1.9 s (415 ms, 478 ms)") == 1.9
    assert parse_metric("total (min, med, max)\n4.7 KiB (1208.0 B)") == pytest.approx(4812.8)
    assert parse_metric("0 ms") == 0.0
    assert parse_metric("1,234") == 1234.0
    assert parse_metric("250 ms") == pytest.approx(0.25)


def test_datagen_is_seeded_and_matches_the_fixture_schemas():
    a, b, c = build_tables(7, 0.001), build_tables(7, 0.001), build_tables(8, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["events"].schema.field("ts").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["lineitem"].num_rows == 6_000 and a["documents"].num_rows == 500


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_two_rows_per_workload(workload):
    root = os.path.dirname(HERE)
    out = _run(
        ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "1",
         "--scale", "0.001", "--rows", "2"],
        root,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    *_, record_line, result_line = out.stdout.strip().splitlines()
    result, record = json.loads(result_line), json.loads(record_line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert (result["correct"], result["attempted"], result["failed"]) == (True, 2, 0)
    assert set(result["metrics"]) == set(PER_LAYER)
    assert set(record["end_to_end"]) == set(END_TO_END)
    traced = {q["query"] for q in record["per_query"]}
    assert traced == set(record["order"])
    assert not os.path.exists(os.path.join(root, ".perfbench_tmp"))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "sql_short", "--seed", "1", "--seconds", "1"], str(tmp_path))
    assert out.returncode != 0
    assert out.stdout == ""
