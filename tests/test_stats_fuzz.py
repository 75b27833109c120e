"""Randomized differential fuzz for the round-8 shared stats templates.

The fixed sf0.01 corpus exercises one data shape; these tests run the SAME
template SQL on randomized synthetic events frames in BOTH engines and
require identical results — hunting dialect drift on value distributions
the corpus never produces (heavy ties, skew, tiny arms, extreme-but-legal
magnitudes). Degenerate inputs (a constant-valued arm) are excluded by
construction: zero-variance arms are garbage-in for a t statistic and the
engine's behavior there is not part of the contract.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tests.compare import assert_frames_match


def _events_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(200, 1200))
    n_users = int(rng.integers(8, 60))
    dist = rng.choice(["uniform", "lognormal", "discrete", "skew"])
    if dist == "uniform":
        vals = rng.uniform(0, 900, n)
    elif dist == "lognormal":
        vals = np.minimum(rng.lognormal(3, 1.2, n), 999.0)
    elif dist == "discrete":  # heavy ties for the Mann-Whitney correction
        vals = rng.choice([1.0, 2.5, 2.5, 7.75, 100.0], n)
    else:
        vals = np.where(rng.random(n) < 0.9, rng.uniform(0, 10, n),
                        rng.uniform(500, 999, n))
    ts0 = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts0
            + pd.to_timedelta(rng.integers(0, 30 * 86400, n), unit="s"),
            "user_id": rng.integers(0, n_users, n).astype("int64"),
            "event_type": rng.choice(
                ["view", "click", "purchase", "signup", "error"], n
            ),
            "value": vals,
        }
    )


def _both(spark, duck, pdf: pd.DataFrame, sql: str, name: str) -> None:
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    try:
        got_spark = spark.sql(sql).toPandas()
        duck.register("fuzz_events", pdf)
        duck.execute("CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM fuzz_events")
        got_duck = duck.sql(sql).df()
        assert_frames_match(got_spark, got_duck, name)
    finally:
        duck.execute("DROP VIEW IF EXISTS events")
        spark.catalog.dropTempView("events")


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_ttest_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.stats import _TTEST_SQL

    _both(spark, duck, _events_frame(seed), _TTEST_SQL, f"ttest[{seed}]")


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_mann_whitney_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.stats import _MWU_SQL

    _both(spark, duck, _events_frame(seed + 100), _MWU_SQL, f"mwu[{seed}]")


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_anova_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.stats import _ANOVA_SQL

    _both(spark, duck, _events_frame(seed + 200), _ANOVA_SQL, f"anova[{seed}]")


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_srm_and_paths_templates(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.analytics import _PATHS_SQL
    from emr_with_custom_metrics_spark.operators.stats import _SRM_SQL

    pdf = _events_frame(seed + 300)
    _both(spark, duck, pdf, _SRM_SQL, f"srm[{seed}]")
    _both(spark, duck, pdf, _PATHS_SQL, f"paths[{seed}]")


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_bootstrap_template(spark, duck, seed):
    """Dialect-split pair (conv vs '0x'::BIGINT) — the one stats query
    whose uniform-extraction TEXT differs per engine, so the fuzz is the
    proof the two spellings parse identical integers."""
    from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
    from emr_with_custom_metrics_spark.operators.stats import _boot_sql

    pdf = _events_frame(seed + 400)
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView("events")
    try:
        got_spark = spark.sql(_boot_sql(SPARK)).toPandas()
        duck.register("fuzz_events", pdf)
        duck.execute("CREATE OR REPLACE TEMP VIEW events AS SELECT * FROM fuzz_events")
        got_duck = duck.sql(_boot_sql(DUCK)).df()
        assert_frames_match(got_spark, got_duck, f"bootstrap[{seed}]")
    finally:
        duck.execute("DROP VIEW IF EXISTS events")
        spark.catalog.dropTempView("events")
