"""Regression tests for the five round-12 ADVICE items (round 13).

Each test plants the fixture the advice described and pins the fixed
behavior on BOTH engines (Spark vs a DuckDB run of the same oracle
text on the fixture), plus structural pins where the hazard is a SQL
shape rather than a value.

Items:
1. (medium) timeseries_ar_order_fit's DuckDB order-pick fold captured
   TWO outer columns (f.st, f.nd) — the exact list_reduce shape the
   module documents as silently returning ANOTHER ROW's fold result.
   The pick is now a pre-bound scaled-PACF projection + max with every
   lambda single-capture; list_reduce is gone from the pick entirely.
2. (low) stats_ljung_box_resid silently dropped zero-residual-variance
   metrics (WHERE d.s2 > 0); now emits a degenerate-flagged row, the
   convention its sibling timeseries_durbin_watson follows.
3. (low) stats_cochran_q accumulated sum(C_j^2) AS BIGINT — overflows
   int64 past ~1.35e9 total successes; now accumulates in DOUBLE.
4. (low) events_interevent_burstiness's sqrt(n*S2 - S1^2) could go
   NaN when double rounding drives the discriminant slightly negative;
   now clamped with GREATEST(0.0, ...) so near-constant gap trains
   degrade to B = -1, cv = 0.
5. (low) wave13c's module docstring advertised a cut Markov-entropy
   operator (checked structurally here).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from emr_with_custom_metrics_spark.dialect import DUCK, SPARK


def _collect(spark, name, sf_dir):
    from emr_with_custom_metrics_spark.registry import all_specs

    return all_specs()[name].fn(spark, sf_dir).toPandas()


def _duck_oracle(name, sf_dir, tables=("events",)):
    import duckdb

    from emr_with_custom_metrics_spark.registry import all_specs

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    try:
        return con.execute(all_specs()[name].oracle).df()
    finally:
        con.close()


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> None:
    cols = sorted(a.columns)
    assert sorted(b.columns) == cols
    a = a[cols].sort_values(cols).reset_index(drop=True)
    b = b[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        assert len(av) == len(bv), c
        assert (av == bv).all(), (c, av, bv)


def _events(rows) -> pd.DataFrame:
    df = pd.DataFrame(
        rows,
        columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
    )
    df["event_id"] = df["event_id"].astype(np.int64)
    df["user_id"] = df["user_id"].astype(np.int64)
    df["value"] = df["value"].astype(np.float64)
    return df


# ---------------------------------------------------------------------------
# ADVICE 1 (medium): AR order pick — single-capture lambdas, and the
# pick still chooses per-row orders correctly with heterogeneous rows
# ---------------------------------------------------------------------------


def test_ar_order_pick_no_two_capture_fold():
    """Structural pin: the DuckDB text's only list_reduce calls are the
    two Durbin-Levinson folds (capturing rarr alone); the order pick is
    a projection (sigd) + list_max with no fold at all."""
    from emr_with_custom_metrics_spark.operators.wave13c import _arfit_sql

    duck = _arfit_sql(DUCK)
    assert duck.count("list_reduce") == 2
    assert "sigd" in duck
    # the old hazard shape — abs(f.st[...]) * sqrt(f.nd) inside a
    # list_reduce lambda — must not reappear
    for chunk in duck.split("list_reduce")[1:]:
        lam = chunk[:400]
        assert "f.nd" not in lam and "f.st" not in lam


def test_ar_order_pick_heterogeneous_orders(spark, tmp_path):
    """Two metrics with DIFFERENT true orders in one query: an
    alternating hourly count picks p* = 1 (PACF lag-1 ~ -1), a
    hash-noise metric picks p* = 0 or a small distinct order. The
    r12 hazard returned another row's fold state — cross-engine
    frame equality over heterogeneous rows pins per-row integrity."""
    rng = np.random.default_rng(1337)
    rows = []
    eid = 0
    t0 = pd.Timestamp("2024-01-01")
    for h in range(240):
        n_alt = 4 if h % 2 == 0 else 16
        n_noise = int(rng.integers(2, 20))
        for _ in range(n_alt):
            rows.append((eid, t0 + pd.Timedelta(hours=h, minutes=1),
                         eid % 11, "alt", 1.0, "{}"))
            eid += 1
        for _ in range(n_noise):
            rows.append((eid, t0 + pd.Timedelta(hours=h, minutes=2),
                         eid % 11, "noise", 1.0, "{}"))
            eid += 1
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "timeseries_ar_order_fit", str(tmp_path))
    assert set(out["event_type"]) == {"alt", "noise"}
    alt = out[out["event_type"] == "alt"].iloc[0]
    assert int(alt["chosen_p"]) >= 1
    assert int(alt["phi1_e9"]) < 0  # alternation -> negative phi1
    # the hard gate is per-row cross-engine equality on distinct rows
    _frames_equal(
        out, _duck_oracle("timeseries_ar_order_fit", tmp_path)
    )


# ---------------------------------------------------------------------------
# ADVICE 2 (low): Ljung-Box degenerate row for a perfect AR(2) fit
# ---------------------------------------------------------------------------


def test_ljung_box_degenerate_flagged_not_dropped(spark, tmp_path):
    """One metric's 5-min bucket means follow x_t = 10 + x_{t-1} -
    x_{t-2} EXACTLY (period-6 integer solution 14,12,8,6,8,12 — two
    complex unit roots, non-singular design), so the AR(2) residuals
    are exactly zero and s2 = 0: pre-fix the metric vanished; now it
    emits a degenerate-flagged row. A noisy metric rides along
    un-flagged, and both engines agree frame-for-frame."""
    cycle = [14, 12, 8, 6, 8, 12]
    rng = np.random.default_rng(7)
    rows = []
    eid = 0
    t0 = pd.Timestamp("2024-01-01")
    for b in range(60):
        ts = t0 + pd.Timedelta(minutes=5 * b, seconds=30)
        rows.append((eid, ts, eid % 5, "perfect",
                     float(cycle[b % 6]), "{}"))
        eid += 1
        rows.append((eid, ts, eid % 5, "noisy",
                     float(rng.integers(1, 100)), "{}"))
        eid += 1
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "stats_ljung_box_resid", str(tmp_path))
    assert set(out["event_type"]) == {"perfect", "noisy"}
    perf = out[out["event_type"] == "perfect"].iloc[0]
    assert bool(perf["degenerate"]) is True
    assert int(perf["lb_q_e6"]) == 0
    assert bool(perf["reject_whiteness"]) is False
    noisy = out[out["event_type"] == "noisy"].iloc[0]
    assert bool(noisy["degenerate"]) is False
    _frames_equal(out, _duck_oracle("stats_ljung_box_resid", tmp_path))
    # the sibling DW emits its own degenerate row on the same fixture
    dw = _collect(spark, "timeseries_durbin_watson", str(tmp_path))
    assert bool(
        dw[dw["event_type"] == "perfect"].iloc[0]["degenerate"]
    ) is True


# ---------------------------------------------------------------------------
# ADVICE 3 (low): Cochran sc2 accumulates in double
# ---------------------------------------------------------------------------


def test_cochran_sc2_double_accumulation(spark, tmp_path):
    """Structural pin (the 1e9-user overflow can't be planted at test
    scale): the oracle/Spark texts accumulate sum(C^2) as
    SUM(CAST(c AS DOUBLE) * c), not a BIGINT sum. Value pin: a small
    planted grid still matches the hand-computed Q exactly."""
    from emr_with_custom_metrics_spark.operators.wave13d import _COCHRAN_TMPL

    assert "SUM(CAST(c AS DOUBLE) * c)" in _COCHRAN_TMPL
    assert "CAST(SUM(c * c) AS BIGINT)" not in _COCHRAN_TMPL
    # planted 4-user x 3-metric grid: x = [[1,1,0],[1,0,0],[1,1,1],[0,1,0]]
    # C = [3,3,1], R = [2,1,3,1], N = 7, k = 3
    # Q = (k-1)(k*sumC2 - N^2)/(k*N - sumR2) = 2*(57-49)/(21-15) = 8/3
    grid = [(1, 1, 0), (1, 0, 0), (1, 1, 1), (0, 1, 0)]
    rows = []
    eid = 0
    t0 = pd.Timestamp("2024-01-01")
    for u, xs in enumerate(grid):
        for j, x in enumerate(xs):
            # every (user, metric) cell needs at least one event so the
            # indicator is defined; value >= 100 iff x = 1
            rows.append((eid, t0 + pd.Timedelta(seconds=eid), u,
                         f"m{j}", 150.0 if x else 5.0, "{}"))
            eid += 1
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "stats_cochran_q", str(tmp_path))
    assert len(out) == 3
    assert (out["q_e6"] == round(8 / 3 * 1e6)).all()
    assert not out["degenerate"].any()
    _frames_equal(out, _duck_oracle("stats_cochran_q", tmp_path))


# ---------------------------------------------------------------------------
# ADVICE 4 (low): burstiness discriminant clamped
# ---------------------------------------------------------------------------


def test_burstiness_constant_train_is_minus_one(spark, tmp_path):
    """A perfectly regular gap train has discriminant exactly 0 —
    B = -1e9 and cv = 0 through the clamp (the same values any
    slightly-negative rounded discriminant now degrades to), plus the
    structural pin that the clamp is present."""
    from emr_with_custom_metrics_spark.operators.wave13d import _BURSTY_TMPL

    assert _BURSTY_TMPL.count("GREATEST(0.0e0,") == 3
    rows = []
    t0 = pd.Timestamp("2024-01-01")
    for i in range(50):
        rows.append((i, t0 + pd.Timedelta(seconds=60 * i), i % 5,
                     "steady", 1.0, "{}"))
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "events_interevent_burstiness", str(tmp_path))
    row = out[out["event_type"] == "steady"].iloc[0]
    assert int(row["burstiness_e9"]) == -1_000_000_000
    assert int(row["cv_e9"]) == 0
    assert int(row["mean_gap_s"]) == 60
    _frames_equal(
        out, _duck_oracle("events_interevent_burstiness", tmp_path)
    )


# ---------------------------------------------------------------------------
# ADVICE 5 (low): wave13c docstring matches its registered operators
# ---------------------------------------------------------------------------


def test_wave13c_docstring_matches_registry():
    import emr_with_custom_metrics_spark.operators.wave13c as mod

    assert "Markov entropy" not in mod.__doc__
    assert "entropy rate" not in mod.__doc__
    for name in (
        "timeseries_ar_order_fit",
        "timeseries_holt_winters_seasonal",
        "text_simpson_diversity",
    ):
        assert name in mod.__doc__


# ---------------------------------------------------------------------------
# VERDICT item 4: staged Welch-pv relation equals the inline form
# ---------------------------------------------------------------------------


def test_welch_pv_staged_equals_inline(spark):
    """The five multiple-testing Spark runtimes now consume the memoized
    staged Welch-pv relation; each must produce exactly the rows of its
    original single-statement text (which the oracles still run)."""
    import importlib

    sf_dir = "/root/testdata/sf0.01"
    from emr_with_custom_metrics_spark.operators import (
        wave9c,
        wave11f,
        wave12a,
        wave13a,
    )
    from emr_with_custom_metrics_spark.registry import all_specs

    specs = all_specs()
    inline = {
        "stats_fdr_bh": wave9c._FDR_SQL,
        "stats_fisher_combined": wave11f._fisher_sql(SPARK),
        "stats_benjamini_yekutieli": wave11f._BY_SQL,
        "stats_holm_bonferroni": wave12a._HOLM_SQL,
        "stats_storey_qvalue": wave13a._STOREY_SQL,
    }
    from emr_with_custom_metrics_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    for name, sql in inline.items():
        staged = sorted(
            tuple(r) for r in specs[name].fn(spark, sf_dir).collect()
        )
        one = sorted(tuple(r) for r in spark.sql(sql).collect())
        assert staged == one, name
    importlib  # quiet linters


def test_welch_pv_stage_is_memoized_and_timed(spark):
    from emr_with_custom_metrics_spark.operators.wave9c import stage_welch_pv
    from emr_with_custom_metrics_spark.plans.stage_memo import BUILD_SECS

    fresh = spark.newSession()  # a new session starts with an empty memo
    sf = ("welch_pv", 0.001)
    before = BUILD_SECS.get(sf, 0.0)
    stage_welch_pv(fresh, "/root/testdata/sf0.001")
    assert BUILD_SECS.get(sf, 0.0) > before
    mid = BUILD_SECS[sf]
    stage_welch_pv(fresh, "/root/testdata/sf0.001")  # memo hit
    assert BUILD_SECS[sf] == mid
