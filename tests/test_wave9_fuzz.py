"""Randomized differential fuzz for the round-9 ML-eval / drift /
mining templates — same discipline as test_stats_fuzz: run the SAME
template(s) on randomized synthetic frames in BOTH engines and require
identical results, hunting dialect drift on shapes the corpus never
produces (heavy ties, single-class labels, constant strata, tiny
windows). Unlike the r8 fuzz, degenerate inputs are IN scope here —
the round-9 guards define the behavior (zero rows / NULL / alloc 0),
so divergence on them is a real bug.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from tests.compare import assert_frames_match


def _events_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(150, 900))
    shape = rng.choice(["uniform", "ties", "single_class", "skew"])
    vals = {
        "uniform": lambda: rng.uniform(0, 900, n),
        "ties": lambda: rng.choice([1.0, 2.5, 2.5, 7.75, 100.0], n),
        "single_class": lambda: rng.uniform(0, 50, n),
        "skew": lambda: np.where(
            rng.random(n) < 0.9,
            rng.uniform(0, 10, n),
            rng.uniform(500, 999, n),
        ),
    }[shape]()
    if shape == "single_class":
        # no purchases at all: the AUC guard must emit zero rows on
        # BOTH engines rather than crash/diverge
        types = rng.choice(["view", "click", "signup", "error"], n)
    else:
        types = rng.choice(["view", "click", "purchase", "signup", "error"], n)
    ts0 = pd.Timestamp("2024-01-01")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype="int64"),
            "ts": ts0
            + pd.to_timedelta(rng.integers(0, 30 * 86400, n), unit="s"),
            "user_id": rng.integers(0, 40, n).astype("int64"),
            "event_type": types,
            "value": vals,
        }
    )


def _both2(spark, duck, pdf, spark_sql, duck_sql, name, view="events"):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sdf = spark.createDataFrame(pdf)
    sdf.createOrReplaceTempView(view)
    try:
        got_spark = spark.sql(spark_sql).toPandas()
        duck.register("fuzz_src", pdf)
        duck.execute(
            f"CREATE OR REPLACE TEMP VIEW {view} AS SELECT * FROM fuzz_src"
        )
        got_duck = duck.sql(duck_sql).df()
        assert_frames_match(got_spark, got_duck, name)
    finally:
        duck.execute(f"DROP VIEW IF EXISTS {view}")
        spark.catalog.dropTempView(view)


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_auc_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9e import _AUC_SQL

    _both2(spark, duck, _events_frame(seed), _AUC_SQL, _AUC_SQL, f"auc[{seed}]")


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_calibration_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9e import _CALIB_SQL

    _both2(
        spark, duck, _events_frame(seed + 50), _CALIB_SQL, _CALIB_SQL,
        f"calib[{seed}]",
    )


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_mutual_information_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9e import _MI_TMPL

    _both2(
        spark, duck, _events_frame(seed + 100),
        _MI_TMPL.format(d=SPARK), _MI_TMPL.format(d=DUCK),
        f"mi[{seed}]",
    )


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_psi_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9h import _psi_sql

    _both2(
        spark, duck, _events_frame(seed + 200), _psi_sql(SPARK), _psi_sql(DUCK),
        f"psi[{seed}]",
    )


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_sequence_patterns_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9f import (
        _SEQPAT_DUCK,
        _SEQPAT_SPARK,
    )

    _both2(
        spark, duck, _events_frame(seed + 300), _SEQPAT_SPARK, _SEQPAT_DUCK,
        f"seqpat[{seed}]",
    )


def _orders_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(100, 800))
    shape = rng.choice(["mixed", "all_low", "one_cat"])
    price = {
        "mixed": lambda: rng.uniform(1000, 400000, n),
        # all below the 150k label threshold: every stratum/category is
        # single-label — the LOO grid must still be consistent
        "all_low": lambda: rng.uniform(1000, 140000, n),
        "one_cat": lambda: rng.uniform(1000, 400000, n),
    }[shape]()
    cats = (
        np.repeat("1-URGENT", n)
        if shape == "one_cat"
        else rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"], n)
    )
    return pd.DataFrame(
        {
            "o_orderkey": np.arange(n, dtype="int64"),
            "o_custkey": rng.integers(0, 50, n).astype("int64"),
            "o_orderstatus": rng.choice(["O", "F", "P"], n),
            "o_totalprice": price,
            "o_orderdate": pd.Timestamp("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 300, n), unit="D"),
            "o_orderpriority": cats,
        }
    )


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_target_encoding_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9e import _TENC_SQL

    _both2(
        spark, duck, _orders_frame(seed), _TENC_SQL, _TENC_SQL,
        f"tenc[{seed}]", view="orders",
    )


def _lineitem_frame(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    n = int(rng.integers(200, 1500))
    return pd.DataFrame(
        {
            "l_orderkey": np.arange(n, dtype="int64"),
            "l_suppkey": rng.integers(0, 30, n).astype("int64"),
            "l_extendedprice": rng.uniform(100, 90000, n),
            "l_discount": rng.uniform(0, 0.1, n),
            "l_returnflag": rng.choice(["R", "N", "A"], n),
        }
    )


@pytest.mark.parametrize("seed", range(8))
def test_fuzz_skyline_template(spark, duck, seed):
    from emr_with_custom_metrics_spark.operators.wave9d import (
        _SKY_AGG,
        _SKY_TAIL,
    )

    shared = f"WITH m AS ({_SKY_AGG})" + _SKY_TAIL
    _both2(
        spark, duck, _lineitem_frame(seed), shared, shared,
        f"skyline[{seed}]", view="lineitem",
    )


# ---------------------------------------------------------------------------
# PLSA E-step zero-denominator guard (round-10 ADVICE fix)
# ---------------------------------------------------------------------------
# The degenerate the guard exists for — a vocab word whose p(w|z)
# quantizes to 0 in ALL k topics, making the E-step denominator 0 —
# needs a ~2e9-token corpus to arise organically, so fuzz the TEMPLATE
# directly: synthetic (wd, pwz, pzd) parameter tables with a randomly
# chosen subset of words starved to p_e9 = 0 in every topic. Pre-guard,
# ANSI Spark raised DIVIDE_BY_ZERO and DuckDB errored casting inf to
# BIGINT; post-guard both engines must return identical rc_e9 = 0 rows
# for starved words and identical responsibilities elsewhere.


@pytest.mark.parametrize("seed", range(6))
def test_fuzz_plsa_estep_zero_denominator(spark, duck, seed):
    from emr_with_custom_metrics_spark.llm.topics import _E_TMPL, _E9

    rng = np.random.default_rng(seed)
    n_words, n_docs = int(rng.integers(5, 20)), int(rng.integers(3, 10))
    words = [f"w{i}" for i in range(n_words)]
    starved = set(
        rng.choice(words, size=max(1, n_words // 4), replace=False)
    )
    wd = pd.DataFrame(
        [
            (f"d{d}", w, int(rng.integers(1, 9)))
            for d in range(n_docs)
            for w in words
            if rng.random() < 0.7
        ],
        columns=["doc_id", "w", "c"],
    )
    if wd.empty:
        wd = pd.DataFrame(
            [("d0", words[0], 1)], columns=["doc_id", "w", "c"]
        )
    pwz = pd.DataFrame(
        [
            (w, z, 0 if w in starved else int(rng.integers(1, _E9 // 3)))
            for w in words
            for z in range(3)
        ],
        columns=["w", "z", "p_e9"],
    )
    pzd = pd.DataFrame(
        [
            (f"d{d}", z, int(rng.integers(1, _E9 // 3)))
            for d in range(n_docs)
            for z in range(3)
        ],
        columns=["doc_id", "z", "p_e9"],
    )
    sql = _E_TMPL.format(wd="fz_wd", pwz="fz_pwz", pzd="fz_pzd", e9=_E9)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        for name, pdf in (("fz_wd", wd), ("fz_pwz", pwz), ("fz_pzd", pzd)):
            spark.createDataFrame(pdf).createOrReplaceTempView(name)
            duck.register(f"{name}_src", pdf)
            duck.execute(
                f"CREATE OR REPLACE TEMP VIEW {name} AS "
                f"SELECT * FROM {name}_src"
            )
        got_spark = spark.sql(sql).toPandas()
        got_duck = duck.sql(sql).df()
        assert_frames_match(got_spark, got_duck, f"plsa_e[{seed}]")
        merged = got_spark.merge(
            wd[["doc_id", "w"]].drop_duplicates(), on=["doc_id", "w"]
        )
        starved_rows = merged[merged["w"].isin(starved)]
        if not starved_rows.empty:
            assert (starved_rows["rc_e9"] == 0).all()
    finally:
        for name in ("fz_wd", "fz_pwz", "fz_pzd"):
            duck.execute(f"DROP VIEW IF EXISTS {name}")
            spark.catalog.dropTempView(name)
