"""Where the engine fans a scan out with a round-robin repartition.

``catalog.load_fanned`` repartitions to ``defaultParallelism`` only when
the scan has fewer partitions than that; a scan already as wide as the
cluster comes back untouched. Rows whose per-row work is cheaper than a
shuffle (the WAV decode kernel) or whose first operator is an exchange
anyway (the cosine pair GEMM's block groupBy) read the plain scan.
"""

from __future__ import annotations

import re

import duckdb
import pytest

from emr_with_custom_metrics_spark import registry
from emr_with_custom_metrics_spark.catalog import load_fanned, load_table
from emr_with_custom_metrics_spark.plans.inspect import count_exchanges, formatted_plan
from tests.compare import assert_frames_match
from tests.conftest import SF_DIR, SF_SMOKE_DIR


@pytest.fixture(scope="module")
def wide_dir(spark, tmp_path_factory):
    """An sf_dir whose documents.parquet holds one file per core x 2, so
    its scan alone has at least defaultParallelism partitions."""
    d = tmp_path_factory.mktemp("wide_scan")
    n = spark.sparkContext.defaultParallelism
    load_table(spark, SF_SMOKE_DIR, "documents").repartition(2 * n).write.parquet(
        str(d / "documents.parquet")
    )
    return str(d)


def test_load_fanned_leaves_a_wide_scan_unshuffled(spark, wide_dir):
    n = spark.sparkContext.defaultParallelism
    assert load_table(spark, wide_dir, "documents").rdd.getNumPartitions() >= n
    df = load_fanned(spark, wide_dir, "documents")
    assert count_exchanges(df) == 0, formatted_plan(df)
    assert df.count() == load_table(spark, SF_SMOKE_DIR, "documents").count()


def test_load_fanned_fans_a_one_split_scan(spark):
    n = spark.sparkContext.defaultParallelism
    if n < 2:
        pytest.skip("one core: a one-split scan is already as wide as the cluster")
    assert load_table(spark, SF_SMOKE_DIR, "documents").rdd.getNumPartitions() == 1
    df = load_fanned(spark, SF_SMOKE_DIR, "documents")
    assert count_exchanges(df) == 1, formatted_plan(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"RoundRobinPartitioning\(\d+\)", plan) == [
        f"RoundRobinPartitioning({n})"
    ]


def test_decode_wav_plans_no_exchange(spark):
    df = registry.all_specs()["multimodal_decode_wav"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInPandas" in plan, plan
    assert count_exchanges(df) == 0, plan


def test_cosine_memo_build_has_no_round_robin(spark):
    from emr_with_custom_metrics_spark.llm.dedup import _cosine_pair_gemm

    plan = formatted_plan(_cosine_pair_gemm(spark, SF_DIR, 0.3))
    assert "MapInPandas" in plan, plan
    assert "RoundRobinPartitioning" not in plan, plan


@pytest.mark.parametrize("name", ["graph_triangle_count", "dedup_embedding_cosine"])
def test_cosine_memo_riders_match_oracle_at_smoke_sf(spark, name):
    spec = registry.all_specs()[name]
    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{SF_SMOKE_DIR}/embeddings.parquet')"
        )
        want = con.sql(spec.oracle).df()
    finally:
        con.close()
    assert_frames_match(spec.fn(spark, SF_SMOKE_DIR).toPandas(), want, name)
