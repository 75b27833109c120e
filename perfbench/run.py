#!/usr/bin/env python3
"""The repository's benchmark: run one workload and print its metrics.

    python3 perfbench/run.py --workload sql_short --seed 1 --seconds 10 --trace 0

Run it from anywhere inside a checkout; it finds the package next to its
own directory. One run is one fresh process and one closed-loop client
(one query at a time) on ``local[$SPARK_GRAFT_CPUS]`` (default: every CPU
this process may use):

1. Inputs: ``datagen.py`` writes the tables for ``--seed`` into a per-run
   directory under ``.perfbench_tmp/`` in the checkout. ``TMPDIR``,
   Spark's local dirs and the JVM's temp dir point there too, and the
   whole directory is deleted when the run ends, so no run sees another
   run's files.
2. Set-up, three times: build the session (``session.get_spark``), load
   the registry (``registry.all_specs``) and run one warm-up query. The
   first set-up also starts the JVM and imports the package; the other two
   stop the session and build a new one in the same JVM. ``setup_s`` is
   the median.
3. Cold pass: every row once, in an order drawn from the seed. It pays
   for pair-memo builds, code generation and Python worker start-up.
4. Warm passes over the same rows: the workload's fixed count, and more
   if ``--seconds`` have not yet passed since the cold pass began. The
   end-to-end warm metrics come from the later half of them.
5. Oracle check, after timing so it warms nothing: each row's DataFrame
   from the last warm pass is collected and compared with its DuckDB
   oracle on the same files (``tests/compare.py``).

With ``--trace 1`` the cold pass and every second warm pass are traced:
each row's construction and sink action are bracketed, and Spark's
status stores are read for what ran inside each bracket (``layers.py``).
Untraced and traced warm passes alternate, so the run measures its own
tracing overhead.

Standard output: a JSON run record (seed, host, revision, passes, per-row
outcomes and, when traced, per-query layer records and spans), then, as
the last line, ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``). Units and meanings are in ``README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "emr_with_custom_metrics_spark"
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from measure import (  # noqa: E402
    PeakRss,
    RowOutcome,
    Span,
    covered,
    descendants,
    failure_counts,
    highest_tail,
    median,
    self_time,
    tail,
)
from workloads import CONVERT_AQE, CONVERT_ROWS, WORKLOADS  # noqa: E402

SCALE = 0.02
SETUPS = 3
WARMUP_ROW = "a1_group_count"
MAX_WARM_PASSES = 64

END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "query_p50_s": "s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.restart_s": "s",
    "registry.load_s": "s",
    "construct.s": "s",
    "construct.py4j_s": "s",
    "construct.failed": "count",
    "staging.jobs": "count",
    "staging.s": "s",
    "memo.builds": "count",
    "memo.build_s": "s",
    "memo.riders_per_build": "ratio",
    "catalog.relations_opened": "count",
    "scan.rows": "count",
    "scan.files": "count",
    "scan.bytes": "bytes",
    "execute.s": "s",
    "execute.sql_executions": "count",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "execute.task_run_s": "s",
    "execute.task_cpu_s": "s",
    "execute.gc_s": "s",
    "execute.shuffle_fetch_wait_s": "s",
    "execute.failed": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.write_records": "count",
    "shuffle.read_bytes": "bytes",
    "spill.bytes": "bytes",
    "python.total_s": "s",
    "python.rows": "count",
    "python.bytes_sent": "bytes",
    "python.boot_s": "s",
    "python.init_s": "s",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "sink.write_amp": "ratio",
    "sink.failed": "count",
    "oracle.failed": "count",
    "trace.overhead_s": "s",
    "trace.unaccounted_s": "s",
}
# Per-layer metrics whose work happens once per process: read from the
# cold pass. The others are medians over the traced passes among the
# later half of the warm passes.
COLD_LAYERS = (
    "memo.builds",
    "memo.build_s",
    "catalog.relations_opened",
    "python.boot_s",
    "python.init_s",
)
FAILED_LAYERS = ("construct", "execute", "sink", "oracle")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # For the self-test's smoke run: smaller inputs, fewer rows.
    ap.add_argument("--scale", type=float, default=SCALE, help=argparse.SUPPRESS)
    ap.add_argument("--rows", type=int, default=0, help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def _machine_day() -> str:
    try:
        with open("/proc/sys/kernel/random/boot_id") as fh:
            boot_id = fh.read().strip()
    except OSError:
        boot_id = "unknown"
    return f"{boot_id}@{time.strftime('%Y-%m-%d')}"


def _revision() -> dict:
    """The git revision when the checkout is a repository, and always a
    digest of the package and benchmark sources."""
    rev = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True
        )
        rev = out.stdout.strip() or None
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for f in sorted(filenames):
                if f.endswith(".py"):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return {"git": rev, "source_sha256": h.hexdigest()}


def _load1() -> float:
    return os.getloadavg()[0]


class Bench:
    """One run of one workload in this process."""

    def __init__(self, args: argparse.Namespace, run_dir: str, sf_dir: str) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        rows = list(self.workload.rows)
        if args.rows:
            rows = rows[: args.rows]
        random.Random(args.seed).shuffle(rows)
        self.order = rows
        self.sf_dir = sf_dir
        self.sink_dir = os.path.join(run_dir, "sink")
        self.outcomes = {r: RowOutcome() for r in rows}
        # each row's DataFrame from its latest call, for the oracle check
        self.last_df: dict = {}
        self.spans: list[Span] = []
        self.query_records: list[dict] = []
        self.spark = None
        self.specs = None
        self.stores = None

    # -- set-up -------------------------------------------------------
    def setup(self, conf: dict[str, str]) -> list[dict]:
        samples = []
        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            from emr_with_custom_metrics_spark import registry, session

            self.spark = session.get_spark(app_name="perfbench", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            self.specs = registry.all_specs()
            t2 = time.perf_counter()
            self.specs[WARMUP_ROW].fn(self.spark, self.sf_dir).count()
            t3 = time.perf_counter()
            samples.append(
                {"session_s": t1 - t0, "registry_s": t2 - t1, "warmup_s": t3 - t2, "total_s": t3 - t0}
            )
        return samples

    # -- one row ------------------------------------------------------
    def _construct(self, row: str):
        if row in CONVERT_ROWS:
            from emr_with_custom_metrics_spark.sources.reference_pipeline import convert

            return convert(
                self.spark,
                os.path.join(self.sf_dir, "lineitem.tsv"),
                os.path.join(self.sink_dir, row + "_out"),
                group_col="l_returnflag",
                use_aqe_file_sizing=row == CONVERT_AQE,
            )
        return self.specs[row].fn(self.spark, self.sf_dir)

    def _sink(self, row: str, df) -> None:
        if self.workload.sink == "parquet":
            df.write.mode("overwrite").parquet(os.path.join(self.sink_dir, row))
        else:
            df.write.format("noop").mode("overwrite").save()

    def _fail(self, row: str, layer: str) -> None:
        self.outcomes[row].raised = layer
        print(f"perfbench: {row} raised in {layer}:\n{traceback.format_exc()}", file=sys.stderr)

    def call(self, row: str, pass_no: int, traced: bool) -> float | None:
        """Build ``row`` and run its sink action; return the seconds spent,
        or None if it raised (the row is then marked failed)."""
        sink_layer = "sink" if self.workload.sink == "parquet" else "execute"
        if traced:
            from emr_with_custom_metrics_spark.plans import stage_memo

            memo0 = dict(stage_memo.BUILD_SECS)
            rel0 = len(getattr(self.spark, "_graft_table_plan_memo", {}))
            m0 = self.stores.mark()
        w0, t0 = time.time(), time.perf_counter()
        try:
            df = self._construct(row)
        except Exception:  # noqa: BLE001 - a failed row is counted, the run goes on
            self._fail(row, "construct")
            return None
        t1, w1 = time.perf_counter(), time.time()
        if traced:
            m1 = self.stores.mark()
        w1b, t1b = time.time(), time.perf_counter()
        try:
            self._sink(row, df)
        except Exception:  # noqa: BLE001
            self._fail(row, sink_layer)
            return None
        t2, w2 = time.perf_counter(), time.time()
        self.last_df[row] = df
        construct_s, execute_s = t1 - t0, t2 - t1b
        if traced:
            m2 = self.stores.mark()
            self._record(row, pass_no, (w0, w1, w1b, w2), construct_s, execute_s, (m0, m1, m2), memo0, rel0)
        return construct_s + execute_s

    def _record(self, row, pass_no, walls, construct_s, execute_s, marks, memo0, rel0) -> None:
        from emr_with_custom_metrics_spark.plans import stage_memo

        w0, w1, w1b, w2 = walls
        staged = self.stores.counters(marks[0], marks[1])
        ran = self.stores.counters(marks[1], marks[2])
        root = len(self.spans)
        self.spans.append(Span("query", w0, w2, None, row))
        construct = Span("construct", w0, w1, root, row)
        self.spans.append(construct)
        staging_jobs = [Span("job", a, b, root + 1, row) for a, b in staged.job_intervals]
        self.spans.extend(staging_jobs)
        execute_at = len(self.spans)
        self.spans.append(Span("execute", w1b, w2, root, row))
        self.spans.extend(Span("job", a, b, execute_at, row) for a, b in ran.job_intervals)

        builds = {k: v - memo0.get(k, 0.0) for k, v in stage_memo.BUILD_SECS.items() if v != memo0.get(k)}
        both = (staged, ran)
        scan_bytes = sum(c.scan_bytes for c in both)
        written = sum(c.written_bytes for c in both)
        rec = {
            "query": row,
            "pass": pass_no,
            "construct.s": construct_s,
            # the JVM stamps jobs in whole milliseconds; clip to the span
            "construct.py4j_s": max(0.0, self_time(construct, staging_jobs)),
            "staging.jobs": staged.jobs,
            "staging.s": covered(staged.job_intervals, w0, w1),
            "memo.builds": len(builds),
            "memo.build_s": sum(builds.values()),
            "memo.rider": int(row in stage_memo.RIDERS),
            "catalog.relations_opened": len(getattr(self.spark, "_graft_table_plan_memo", {})) - rel0,
            "scan.rows": sum(c.scan_rows for c in both),
            "scan.files": sum(c.scan_files for c in both),
            "scan.bytes": scan_bytes,
            "execute.s": execute_s,
            "execute.sql_executions": ran.sql_executions,
            "execute.jobs": ran.jobs,
            "execute.stages": ran.stages,
            "execute.tasks": ran.tasks,
            "execute.task_run_s": ran.task_run_s,
            "execute.task_cpu_s": ran.task_cpu_s,
            "execute.gc_s": ran.gc_s,
            "execute.shuffle_fetch_wait_s": ran.shuffle_fetch_wait_s,
            "shuffle.write_bytes": sum(c.shuffle_write_bytes for c in both),
            "shuffle.write_records": sum(c.shuffle_write_records for c in both),
            "shuffle.read_bytes": sum(c.shuffle_read_bytes for c in both),
            "spill.bytes": sum(c.spill_bytes for c in both),
            "python.rows": sum(c.python_rows for c in both),
            "sink.bytes_written": written,
            "sink.files_written": sum(c.written_files for c in both),
            "sink.write_amp": written / scan_bytes if scan_bytes else 0.0,
        }
        for key in ("python.total_s", "python.bytes_sent", "python.boot_s", "python.init_s"):
            rec[key] = sum(c.python.get(key, 0.0) for c in both)
        self.query_records.append(rec)

    # -- passes -------------------------------------------------------
    def run_pass(self, pass_no: int, traced: bool) -> dict:
        t0 = time.perf_counter()
        calls = {}
        for row in self.order:
            if self.outcomes[row].failed:
                continue
            secs = self.call(row, pass_no, traced)
            if secs is not None:
                calls[row] = secs
        return {"pass": pass_no, "traced": traced, "wall_s": time.perf_counter() - t0, "calls": calls}

    def run_passes(self) -> list[dict]:
        trace = bool(self.args.trace)
        if trace:
            from layers import SparkStores

            self.stores = SparkStores(self.spark)
        start = time.perf_counter()
        passes = [self.run_pass(0, trace)]
        p = 1
        while p <= MAX_WARM_PASSES and (
            p <= self.workload.warm_passes or time.perf_counter() - start < self.args.seconds
        ):
            # with tracing, untraced and traced warm passes alternate
            passes.append(self.run_pass(p, trace and p % 2 == 0))
            p += 1
        return passes

    # -- oracle -------------------------------------------------------
    def check(self) -> None:
        import duckdb
        from emr_with_custom_metrics_spark.catalog import TABLES
        from tests.compare import assert_frames_match

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for row in self.order:
                if self.outcomes[row].failed:
                    continue
                try:
                    got = self.last_df[row].toPandas()
                    if row in CONVERT_ROWS:
                        self._check_convert(con, row, got, assert_frames_match)
                    elif self.specs[row].oracle is not None:
                        assert_frames_match(got, con.sql(self.specs[row].oracle).df(), row)
                except AssertionError:
                    self.outcomes[row].mismatched = True
                    print(f"perfbench: {row} mismatched its oracle:\n{traceback.format_exc()}", file=sys.stderr)
                except Exception:  # noqa: BLE001
                    self._fail(row, "oracle")
        finally:
            con.close()

    def _check_convert(self, con, row, got, assert_frames_match) -> None:
        """Counts equal a DuckDB group-by over the TSV, and the written
        parquet holds every input row."""
        src = (
            f"read_csv('{self.sf_dir}/lineitem.tsv', delim='\t', header=true, all_varchar=true)"
        )
        want = con.sql(f"SELECT l_returnflag, COUNT(*) AS cnt FROM {src} GROUP BY 1").df()
        assert_frames_match(got, want, row)
        n_in = con.sql(f"SELECT COUNT(*) FROM {src}").fetchone()[0]
        out = os.path.join(self.sink_dir, row + "_out")
        n_out = con.sql(f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet')").fetchone()[0]
        if n_out != n_in:
            raise AssertionError(f"{row}: wrote {n_out} rows of {n_in}")

    # -- shutdown -----------------------------------------------------
    def stop(self) -> None:
        """Stop the session, then the JVM and its Python workers, and wait
        until every one of those processes has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        children = descendants(proc.pid) if proc is not None else []
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.time() + 30
        while children and time.time() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)


def settled(passes: list[dict]) -> list[dict]:
    """The later half of the warm passes (the cold pass is ``passes[0]``):
    the earlier ones still carry JIT warm-up."""
    warm = passes[1:]
    return warm[len(warm) // 2 :]


def _layer_metrics(bench: Bench, passes: list[dict], setups: list[dict]) -> dict[str, float]:
    by_pass: dict[int, list[dict]] = {}
    for rec in bench.query_records:
        by_pass.setdefault(rec["pass"], []).append(rec)

    def total(pass_no: int, key: str) -> float:
        return float(sum(r[key] for r in by_pass.get(pass_no, [])))

    traced = [p for p in settled(passes) if p["traced"]]
    untraced = [p for p in settled(passes) if not p["traced"]]
    per_query = set(bench.query_records[0]) if bench.query_records else set()
    out = dict.fromkeys(PER_LAYER, 0.0)
    for key in PER_LAYER:
        if key in COLD_LAYERS:
            out[key] = total(0, key)
        elif key in per_query:
            out[key] = median([total(p["pass"], key) for p in traced])
    # ratios of pass totals, not sums of per-query ratios
    scan = median([total(p["pass"], "scan.bytes") for p in traced])
    out["sink.write_amp"] = out["sink.bytes_written"] / scan if scan else 0.0
    builds = total(0, "memo.builds")
    out["memo.riders_per_build"] = total(0, "memo.rider") / builds if builds else 0.0
    for layer in FAILED_LAYERS:
        out[f"{layer}.failed"] = float(sum(1 for o in bench.outcomes.values() if o.raised == layer))
    out["oracle.failed"] += sum(1 for o in bench.outcomes.values() if o.mismatched)
    out["session.start_s"] = setups[0]["session_s"]
    out["session.restart_s"] = median([s["session_s"] for s in setups[1:]])
    out["registry.load_s"] = setups[0]["registry_s"]
    out["trace.overhead_s"] = median([p["wall_s"] for p in traced]) - median(
        [p["wall_s"] for p in untraced]
    )
    out["trace.unaccounted_s"] = median([p["wall_s"] - sum(p["calls"].values()) for p in traced])
    return out


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # Spark's Python workers import the package by module path, wherever
    # the benchmark was started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    nproc = len(os.sched_getaffinity(0))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    # Spark and Hive leave files in the working directory.
    os.chdir(run_dir)
    load_before = _load1()
    phases: dict[str, float] = {}
    t0 = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, os.path.join(HERE, "datagen.py"), os.path.join(run_dir, "data"),
         "--seed", str(args.seed), "--scale", str(args.scale)],
        check=True, capture_output=True, text=True,
    )
    sf_dir = gen.stdout.strip().splitlines()[-1]
    phases["datagen_s"] = time.perf_counter() - t0

    conf = {
        # the package asks for 8g; the generated inputs need far less, and
        # a smaller heap keeps the benchmark usable on shared machines
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    bench = Bench(args, run_dir, sf_dir)
    with PeakRss() as rss:
        try:
            t0 = time.perf_counter()
            setups = bench.setup(conf)
            rss.root_pid = int(bench.spark._jvm.java.lang.ProcessHandle.current().pid())
            rss.sample()
            t1 = time.perf_counter()
            passes = bench.run_passes()
            t2 = time.perf_counter()
            bench.check()
            rss.sample()
            t3 = time.perf_counter()
            phases.update(setup_s=t1 - t0, passes_s=t2 - t1, check_s=t3 - t2)
        finally:
            t0 = time.perf_counter()
            if bench.spark is not None:
                bench.stop()
            phases["stop_s"] = time.perf_counter() - t0

    counts = failure_counts(bench.outcomes)
    warm = [p for p in settled(passes) if not p["traced"]]
    latencies = [s for p in warm for s in p["calls"].values()]
    e2e = {
        "setup_s": median([s["total_s"] for s in setups]),
        "cold_s": passes[0]["wall_s"],
        "warm_s": median([p["wall_s"] for p in warm]),
        "query_p50_s": median(latencies),
        "peak_rss_mb": rss.peak_mb,
    }
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "order": bench.order,
        "host": {
            "nproc": nproc,
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "load1_before": load_before,
            "load1_after": _load1(),
            "machine_day": _machine_day(),
        },
        "revision": _revision(),
        "phases": phases,
        "setups": setups,
        "passes": passes,
        "latency": {
            "n_samples": len(latencies),
            "p50": median(latencies),
            "p90": tail(latencies, 0.9),
            "highest_tail": highest_tail(latencies),
        },
        "failures": {
            **counts,
            "rows": {r: vars(o) for r, o in bench.outcomes.items() if o.failed},
        },
        "end_to_end": e2e,
    }
    if args.trace:
        layer = _layer_metrics(bench, passes, setups)
        record["per_layer"] = layer
        record["per_query"] = bench.query_records
        record["spans"] = [vars(s) for s in bench.spans]
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    result = {
        "correct": counts["failed"] == 0,
        "attempted": counts["attempted"],
        "failed": counts["failed"],
        "metrics": metrics,
    }
    return record, result


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE} package next to {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    run_dir = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        record, result = run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run is still using it
            pass
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
