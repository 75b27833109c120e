"""Reference-parity: the S1→A1→X1→P1→S2 pipeline end-to-end on a
synthesized amazon-reviews-shaped TSV (FIXTURES.md §11), asserting the
behaviors the reference job exhibits (all-string schema, group counts,
exactly 10 output files)."""

from __future__ import annotations

import csv
import glob
import os
import tempfile
from urllib.parse import urlparse

import pytest

from emr_with_custom_metrics_spark.sources.reference_pipeline import (
    category_counts,
    convert,
    read_tsv,
)

CATEGORIES = ["Books", "Music", "Video_DVD", "Toys", "Wireless", "Home"]
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_reviews_tsv(d: str, blank_every: int = 0) -> None:
    """3000 reviews-shaped rows (seed-free: modular arithmetic); with
    ``blank_every`` > 0, every such row has an empty product_category."""
    cols = [
        "marketplace", "customer_id", "review_id", "product_id",
        "product_parent", "product_title", "product_category", "star_rating",
        "helpful_votes", "total_votes", "vine", "verified_purchase",
        "review_headline", "review_body", "review_date",
    ]
    with open(os.path.join(d, "part-0.tsv"), "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        w.writerow(cols)
        for i in range(3000):
            w.writerow(
                [
                    "US", str(10000 + i), f"R{i:07d}", f"B{i % 700:06d}",
                    str(i % 997), f"Product {i % 700}",
                    "" if blank_every and i % blank_every == 0 else CATEGORIES[i % len(CATEGORIES)],
                    str(i % 5 + 1),
                    str(i % 17), str(i % 23), "N", "Y" if i % 3 else "N",
                    f"headline {i}", f"body text with tabs escaped {i}",
                    f"2015-0{i % 9 + 1}-15",
                ]
            )


@pytest.fixture(scope="module")
def reviews_tsv_dir():
    d = tempfile.mkdtemp(prefix="reviews_tsv_")
    _write_reviews_tsv(d)
    return d


@pytest.fixture(scope="module")
def reviews_tsv_with_blanks_dir():
    d = tempfile.mkdtemp(prefix="reviews_tsv_blanks_")
    _write_reviews_tsv(d, blank_every=7)
    return d


def test_tsv_scan_is_all_string(spark, reviews_tsv_dir):
    df = read_tsv(spark, reviews_tsv_dir)
    assert all(dt == "string" for _, dt in df.dtypes), df.dtypes
    assert df.count() == 3000
    assert df.columns[6] == "product_category"


def test_group_counts_match_python_truth(spark, reviews_tsv_dir):
    got = {
        r["product_category"]: r["cnt"]
        for r in category_counts(read_tsv(spark, reviews_tsv_dir), "product_category").collect()
    }
    expect = {c: 3000 // len(CATEGORIES) for c in CATEGORIES}
    assert got == expect


def test_cli_entry_reference_invocation(reviews_tsv_dir):
    """The reference user's exact UX: `<script> <in> <out>` via
    `python -m emr_with_custom_metrics_spark` in a fresh process."""
    import subprocess
    import sys

    out = tempfile.mkdtemp(prefix="cli_out_") + "/pq"
    r = subprocess.run(
        [sys.executable, "-m", "emr_with_custom_metrics_spark", reviews_tsv_dir, out],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=REPO_ROOT,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    assert "Books" in r.stdout  # X1: counts shown on stdout
    assert len(glob.glob(f"{out}/part-*.parquet")) == 10  # P1 parity

    # usage error path: exit 2 + usage text
    r2 = subprocess.run(
        [sys.executable, "-m", "emr_with_custom_metrics_spark"],
        capture_output=True,
        text=True,
        timeout=60,
        cwd=REPO_ROOT,
    )
    assert r2.returncode == 2 and "usage:" in r2.stderr


def test_master_only_guard():
    from emr_with_custom_metrics_spark.sources.reference_pipeline import (
        should_run_on_master,
    )

    assert should_run_on_master({"isMaster": True})
    assert not should_run_on_master({"isMaster": False})
    assert not should_run_on_master({})  # absent key → not the master


def test_convert_writes_ten_parquet_files(spark, reviews_tsv_dir):
    out = tempfile.mkdtemp(prefix="reviews_out_") + "/parquet"
    counts = convert(spark, reviews_tsv_dir, out, "product_category", num_output_files=10)
    assert counts.count() == len(CATEGORIES)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == 10, files  # reference parity: repartition(10) → 10 files
    assert spark.read.parquet(out).count() == 3000


@pytest.mark.parametrize("use_aqe_file_sizing", [False, True])
def test_convert_counts_one_column_of_written_output(
    spark, reviews_tsv_with_blanks_dir, use_aqe_file_sizing
):
    """One TSV scan, nothing pinned: the counts are a lazy group-by over the
    group column of the written parquet, the null group included, and the
    session's cache is left as convert found it."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    cached_before = cache.numCachedEntries()
    out = tempfile.mkdtemp(prefix="reviews_out_") + "/parquet"
    counts = convert(
        spark, reviews_tsv_with_blanks_dir, out, "product_category",
        use_aqe_file_sizing=use_aqe_file_sizing,
    )
    assert cache.numCachedEntries() == cached_before

    plan = counts._jdf.queryExecution().toString()
    assert "FileScan parquet" in plan and "ReadSchema: struct<product_category:string>" in plan, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan
    files = [urlparse(f).path for f in counts.inputFiles()]
    assert files and all(
        os.path.dirname(f) == os.path.abspath(out) and f.endswith(".parquet") for f in files
    ), files

    def as_dict(df):
        return {r["product_category"]: r["cnt"] for r in df.collect()}

    got = as_dict(counts)
    want = as_dict(category_counts(read_tsv(spark, reviews_tsv_with_blanks_dir), "product_category"))
    assert got == want and want[None] == 3000 // 7 + 1, (got, want)
    assert cache.numCachedEntries() == cached_before


_SCRATCH_CHILD = """
import json, os, sys
from pyspark.sql import SparkSession
from emr_with_custom_metrics_spark.registry import all_specs
from emr_with_custom_metrics_spark.sources.reference_pipeline import scratch

spark = SparkSession.builder.master("local[1]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
for name in ("jdbc_roundtrip_derby", "jdbc_roundtrip_duckdb"):
    all_specs()[name].fn(spark, sys.argv[1]).collect()
root = os.path.dirname(scratch("probe"))
print(json.dumps({
    "pid": os.getpid(),
    "root": root,
    "names": sorted(os.listdir(root)),
    "duck": sorted(os.listdir(os.path.join(root, "duckjdbc"))),
}))
"""


def test_scratch_root_is_per_process_and_removed_at_exit(tmp_path):
    """Two processes building the same write rows never share a path:
    each writes under its own root in the temp dir, JDBC databases
    included, and the root is gone once its process exits."""
    import json
    import subprocess
    import sys

    from emr_with_custom_metrics_spark.sources.reference_pipeline import scratch

    from .conftest import SF_SMOKE_DIR

    sf = os.path.basename(SF_SMOKE_DIR)
    env = {**os.environ, "TMPDIR": str(tmp_path)}
    r = subprocess.run(
        [sys.executable, "-c", _SCRATCH_CHILD, SF_SMOKE_DIR],
        capture_output=True, text=True, timeout=300, cwd=REPO_ROOT, env=env,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    child = json.loads(r.stdout.strip().splitlines()[-1])
    root = child["root"]
    assert os.path.dirname(root) == str(tmp_path)
    assert os.path.basename(root).startswith(f"spark_graft_{child['pid']}_")
    assert root != os.path.dirname(scratch("probe"))
    assert child["names"] == [f"derby_{sf}", "duckjdbc", "probe"]
    assert child["duck"] and all(n.startswith(f"{sf}.db") for n in child["duck"])
    assert not os.path.exists(root)
