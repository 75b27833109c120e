"""The worker zip guard (emr_with_custom_metrics_spark/zip_guard.py):
``importlib.invalidate_caches()`` must stop re-reading an unchanged zip
archive, must still re-read one that changed, and a Spark Python worker
must carry the guard once it has run one package kernel."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_ZIP_SCRIPT = textwrap.dedent(
    """
    import importlib, json, sys, time, zipfile, zipimport
    sys.path.insert(0, sys.argv[2])
    from emr_with_custom_metrics_spark import zip_guard

    archive = sys.argv[1] + "/two.zip"

    def write(extra):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("pkg_a/__init__.py", "X = 1\\n")
            z.writestr("pkg_b/__init__.py", "Y = 2\\n")
            for name, body in extra.items():
                z.writestr(name, body)

    write({})
    zip_guard.install()
    reads = []
    inner = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return inner(path)

    zipimport._read_directory = counting
    sys.path.insert(0, archive)
    import pkg_a, pkg_b  # noqa: E401,F401
    first = len(reads)
    for _ in range(5):
        importlib.invalidate_caches()
    unchanged = len(reads) - first
    time.sleep(0.01)
    write({"pkg_a/fresh.py": "Z = 3\\n"})
    importlib.invalidate_caches()
    changed = len(reads) - first - unchanged
    import pkg_a.fresh
    print(json.dumps({"installed": zip_guard.installed(), "first": first,
                      "unchanged": unchanged, "changed": changed,
                      "fresh": pkg_a.fresh.Z}))
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; no guard")
def test_unchanged_archive_is_not_reread_and_changed_one_is(tmp_path):
    p = subprocess.run(
        [sys.executable, "-c", _ZIP_SCRIPT, str(tmp_path), ROOT],
        capture_output=True, text=True, timeout=120,
    )
    assert p.returncode == 0, p.stderr
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["installed"] is True
    assert out["first"] == 1  # the import itself reads the directory once
    assert out["unchanged"] == 0
    assert out["changed"] >= 1
    assert out["fresh"] == 3


def test_guard_stays_out_of_the_driver():
    from emr_with_custom_metrics_spark import zip_guard

    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ:
        assert not zip_guard.installed()


_WORKER_SCRIPT = textwrap.dedent(
    """
    import json, os, sys
    import pandas as pd
    sys.path.insert(0, os.getcwd())
    from emr_with_custom_metrics_spark.session import get_spark
    from emr_with_custom_metrics_spark.registry import all_specs

    def probe(batches):
        import os, zipimport
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [getattr(zipimport.zipimporter.invalidate_caches,
                              "_graft_guard", False)],
        })

    spark = get_spark(app_name="zip-guard-probe", master="local[1]")
    spark.sparkContext.setLogLevel("ERROR")
    one = spark.range(1).coalesce(1)
    schema = "pid long, guard boolean"
    before = one.mapInPandas(probe, schema).collect()[0]
    all_specs()["multimodal_decode_wav"].fn(spark, sys.argv[1]).count()
    after = one.mapInPandas(probe, schema).collect()[0]
    spark.stop()
    print(json.dumps({"before": bool(before.guard), "after": bool(after.guard),
                      "same_worker": before.pid == after.pid}))
    """
)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; no guard")
def test_worker_carries_guard_after_one_package_kernel():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    p = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT, "/root/testdata/sf0.001"],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["before"] is False  # the probe alone imports nothing of ours
    assert out["same_worker"], out
    assert out["after"] is True
