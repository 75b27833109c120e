"""Round-13 bench-accounting pins (r12 VERDICT items 3 and 6).

* The pair-memo build is eager + self-timed: building a memo entry
  lands its wall-clock in stage_memo.BUILD_SECS, the source bench.py
  subtracts from the run it occurred in and reports as its own
  `pair_memo` record line.
* The idle gate refuses a leg (exit 3, before any Spark startup) when
  SPARK_GRAFT_REQUIRE_IDLE=1 and load1 exceeds the threshold, and the
  refusal line is parseable JSON naming the gate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_pair_memo_build_is_timed(spark):
    from emr_with_custom_metrics_spark.llm.dedup import shingle_jaccard_pairs_cached
    from emr_with_custom_metrics_spark.plans.stage_memo import BUILD_SECS

    # a threshold no registered query uses -> guaranteed fresh build
    thr = 0.731
    key = ("jaccard", thr)
    BUILD_SECS.pop(key, None)
    df = shingle_jaccard_pairs_cached(spark, "/root/testdata/sf0.001", thr)
    assert key in BUILD_SECS
    assert BUILD_SECS[key] > 0.0
    # eager build: consuming the frame must not re-enter the build path
    before = BUILD_SECS[key]
    df.count()
    assert BUILD_SECS[key] == before
    # second call is a cache hit — no additional build time
    shingle_jaccard_pairs_cached(spark, "/root/testdata/sf0.001", thr)
    assert BUILD_SECS[key] == before


def test_idle_gate_refuses_loaded_leg():
    """threshold 0.0 makes any live host non-idle; with REQUIRE_IDLE the
    leg must refuse with exit 3 and a JSON line, in well under Spark
    startup time (the gate runs before get_spark)."""
    env = dict(
        os.environ,
        SPARK_GRAFT_REQUIRE_IDLE="1",
        SPARK_GRAFT_IDLE_LOAD1="0.0",
        # wait budget 0: load1 < 0.0 can never be satisfied, so the
        # r15 wait-for-idle loop must time out instantly here
        SPARK_GRAFT_IDLE_WAIT_SECS="0",
    )
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 3, proc.stdout + proc.stderr
    line = proc.stdout.strip().splitlines()[-1]
    rec = json.loads(line)
    assert "idle gate refused" in rec["error"]
    assert rec["idle_gate"]["idle"] is False
    assert rec["idle_gate"]["wait_timed_out"] is True


def test_wait_for_idle_waits_until_load_drops():
    """The r15 mechanical wait (r14 VERDICT item 2): a leg fired at a
    busy moment polls until load1 drops under the threshold, then
    reports idle=true with the waited time recorded — no wall-clock
    sleeping in the test (injected clock/sleep)."""
    import bench

    t = [0.0]
    loads = iter([5.0, 3.0, 1.0])

    def fake_sleep(s):
        t[0] += s

    def fake_check():
        return {"contended": False, "load1": next(loads), "stray_jvms": []}

    contention, gate = bench._wait_for_idle(
        {"contended": False, "load1": 9.9, "stray_jvms": []},
        idle_thr=2.0,
        wait_budget=600.0,
        poll=15.0,
        sleep_fn=fake_sleep,
        clock=lambda: t[0],
        check_fn=fake_check,
    )
    assert gate["idle"] is True
    assert gate["wait_timed_out"] is False
    assert gate["waited_secs"] == 45.0
    assert contention["load1"] == 1.0


def test_wait_for_idle_timeout_keeps_honest_label():
    import bench

    t = [0.0]

    def fake_sleep(s):
        t[0] += s

    contention, gate = bench._wait_for_idle(
        {"contended": False, "load1": 9.9, "stray_jvms": []},
        idle_thr=2.0,
        wait_budget=60.0,
        poll=15.0,
        sleep_fn=fake_sleep,
        clock=lambda: t[0],
        check_fn=lambda: {"contended": False, "load1": 9.9, "stray_jvms": []},
    )
    assert gate["idle"] is False
    assert gate["wait_timed_out"] is True
    assert gate["waited_secs"] == 60.0


def test_wait_for_idle_skips_when_already_idle():
    import bench

    def boom(*a):  # must never be called
        raise AssertionError("waited despite idle start")

    contention, gate = bench._wait_for_idle(
        {"contended": False, "load1": 0.1, "stray_jvms": []},
        idle_thr=2.0,
        wait_budget=600.0,
        sleep_fn=boom,
        check_fn=boom,
    )
    assert gate["idle"] is True and gate["waited_secs"] == 0.0


def test_machine_day_marker_shape():
    import bench

    md = bench._machine_day()
    assert md["marker"] == f"{md['boot_id']}@{md['date']}"
    assert len(md["date"]) == 10 and md["date"][4] == "-"


def test_bench_regression_audit_machine_day_rule(tmp_path):
    """tools/audit_bench_regression.py: same-day legs compare (exit
    0/1); cross-day without an anchor refuses (exit 2); a same-day
    anchor re-enables the comparison against the anchor."""
    import subprocess
    import sys as _sys

    def rec(marker, q):
        return {"queries": q, "machine_day": {"marker": marker,
                "boot_id": marker.split("@")[0], "date": marker.split("@")[1]}}

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    anchor = tmp_path / "anchor.json"
    old.write_text(json.dumps(rec("b1@2026-08-15", {"q": 1.0, "r": 2.0})))
    new.write_text(json.dumps(rec("b1@2026-08-16", {"q": 1.5, "r": 2.0})))
    anchor.write_text(json.dumps(rec("b1@2026-08-16", {"q": 1.45, "r": 2.0})))
    tool = os.path.join(ROOT, "tools", "audit_bench_regression.py")

    p = subprocess.run([_sys.executable, tool, str(old), str(new)],
                       capture_output=True, text=True)
    assert p.returncode == 2, p.stdout + p.stderr
    assert json.loads(p.stdout.strip())["refused"] is True

    p = subprocess.run(
        [_sys.executable, tool, str(old), str(new), "--anchor", str(anchor)],
        capture_output=True, text=True)
    out = json.loads(p.stdout.strip())
    assert p.returncode == 0, p.stdout + p.stderr  # 3.4% vs anchor < band
    assert out["machine_day_ok"] is True and "anchor" in out["base"]

    # same-day legs: plain comparison, drifted row flagged (exit 1)
    new2 = tmp_path / "new2.json"
    new2.write_text(json.dumps(rec("b1@2026-08-15", {"q": 1.5, "r": 2.0})))
    p = subprocess.run([_sys.executable, tool, str(old), str(new2)],
                       capture_output=True, text=True)
    out = json.loads(p.stdout.strip())
    assert p.returncode == 1 and out["n_beyond_band"] == 1
