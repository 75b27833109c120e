"""Regression tests for the five round-10 ADVICE items (round 11).

Each test builds the exact fixture the advice described as silently
wrong and pins the fixed behavior, Spark vs a DuckDB run of the same
oracle text on the fixture (so the fix is proven on BOTH engines, not
just on the real tables where the edge never fires).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest


def _collect(spark, name, sf_dir):
    from emr_with_custom_metrics_spark.registry import all_specs

    return (
        all_specs()[name]
        .fn(spark, sf_dir)
        .toPandas()
    )


def _duck_oracle(name, sf_dir, tables):
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


def _events_frame(event_ids, values, event_types=None, user_ids=None):
    n = len(event_ids)
    return pd.DataFrame(
        {
            "event_id": np.asarray(event_ids, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01"),
            "user_id": np.asarray(
                user_ids if user_ids is not None else event_ids,
                dtype=np.int64,
            ),
            "event_type": event_types if event_types is not None else "view",
            "value": np.asarray(values, dtype=np.float64),
            "props": "{}",
        }
    )


# ---------------------------------------------------------------------------
# ADVICE 3: TOST margin must survive a negative / zero pooled mean
# ---------------------------------------------------------------------------


def test_tost_negative_pooled_mean_margin_positive(spark, tmp_path):
    """All-negative metric: pre-fix the +2% margin was NEGATIVE, making
    `equivalent` structurally unreachable. With ABS the two identical
    arms are declared equivalent."""
    n = 4000
    ids = np.arange(n)
    vals = -5.0 + (ids % 7) * 1e-3
    _events_frame(ids, vals).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "stats_tost_equivalence", str(tmp_path))
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["margin_e6"]) > 0
    assert bool(r["margin_valid"])
    assert bool(r["equivalent"])
    _frames_equal(out, _duck_oracle("stats_tost_equivalence", tmp_path, ["events"]))


def test_tost_zero_pooled_mean_flagged_invalid(spark, tmp_path):
    """Pooled mean exactly zero: margin is 0, equivalence undecidable —
    margin_valid must say so instead of a silent FALSE."""
    n = 4000
    ids = np.arange(n)
    vals = np.where(ids % 2 == 0, 1.0, -1.0)
    _events_frame(ids, vals).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "stats_tost_equivalence", str(tmp_path))
    r = out.iloc[0]
    assert int(r["margin_e6"]) == 0
    assert not bool(r["margin_valid"])
    assert not bool(r["equivalent"])


# ---------------------------------------------------------------------------
# ADVICE 2: Brier decomposition must not drop test-only bins
# ---------------------------------------------------------------------------


def test_brier_test_only_bin_gets_default_forecast(spark, tmp_path):
    """A score bin populated only in the odd (test) half: pre-fix its
    rows vanished from REL/RES while tot.n still counted them. Now it
    gets the global calibration base rate and is counted + surfaced."""
    rows = []
    # even half (calibration): values spread over bins 0..8
    for i in range(0, 1800, 2):
        v = (i % 900) / 100.0  # 0 .. 8.99
        rows.append((i, v, "purchase" if i % 10 == 0 else "view"))
    # odd half (test): same low-bin spread PLUS a cluster at the max
    # value -> top bin exists ONLY in the test half
    for i in range(1, 1800, 2):
        v = (i % 900) / 100.0
        rows.append((i, v, "purchase" if i % 10 == 1 else "view"))
    for i in range(2001, 2041, 2):
        rows.append((i, 100.0, "purchase" if i % 4 == 1 else "view"))
    ids = [r[0] for r in rows]
    _events_frame(
        ids, [r[1] for r in rows], event_types=[r[2] for r in rows]
    ).to_parquet(tmp_path / "events.parquet", index=False)

    out = _collect(spark, "ml_brier_decomposition", str(tmp_path))
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["n_uncal_bins"]) >= 1
    # n_test counts EVERY odd-half row, including the uncalibrated bin's
    n_test_expected = sum(1 for i in ids if i % 2 == 1)
    assert int(r["n_test"]) == n_test_expected
    # emitted identity: brier = rel - res + unc at the quantized scale
    assert (
        abs(
            int(r["brier_e6"])
            - (
                int(r["reliability_e6"])
                - int(r["resolution_e6"])
                + int(r["uncertainty_e6"])
            )
        )
        <= 1
    )
    _frames_equal(out, _duck_oracle("ml_brier_decomposition", tmp_path, ["events"]))


def _brier_numpy_replay(ids, vals, types):
    def rha(x):
        x = np.asarray(x, dtype=np.float64)
        return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)

    v_e3 = rha(np.asarray(vals) * 1000)
    y = (np.asarray(types) == "purchase").astype(np.int64)
    half = np.asarray(ids) % 2
    lo, hi = v_e3.min(), v_e3.max()
    b = np.minimum(np.floor((v_e3 - lo) * 10.0 / (hi - lo + 1)).astype(np.int64), 9)
    p = {}
    for k in np.unique(b[half == 0]):
        m = (half == 0) & (b == k)
        p[int(k)] = int(rha(y[m].sum() / m.sum() * 1e9)[()])
    p0 = int(rha(y[half == 0].sum() / (half == 0).sum() * 1e9)[()])
    n = int((half == 1).sum())
    pos = int(y[half == 1].sum())
    rel = res = 0
    obar = pos / n
    for k in np.unique(b[half == 1]):
        m = (half == 1) & (b == k)
        nb, ob = int(m.sum()), y[m].sum() / m.sum()
        pk = p.get(int(k), p0) / 1e9
        rel += int(rha(nb * (pk - ob) ** 2 * 1e9)[()])
        res += int(rha(nb * (ob - obar) ** 2 * 1e9)[()])
    return (
        int(rha(rel / n / 1000)[()]),
        int(rha(res / n / 1000)[()]),
        int(rha(obar * (1 - obar) * 1e6)[()]),
    )


def test_brier_matches_numpy_replay_with_default_forecast(spark, tmp_path):
    rng = np.random.default_rng(7)
    n = 3000
    ids = np.arange(n)
    vals = np.round(rng.uniform(0, 10, n), 3)
    vals[(ids % 2 == 1) & (ids > 2900)] = 25.0  # odd-only top bin
    types = np.where(rng.uniform(size=n) < vals / 12.0, "purchase", "view")
    _events_frame(ids, vals, event_types=list(types)).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    out = _collect(spark, "ml_brier_decomposition", str(tmp_path)).iloc[0]
    rel, res, unc = _brier_numpy_replay(ids, vals, types)
    assert int(out["reliability_e6"]) == rel
    assert int(out["resolution_e6"]) == res
    assert int(out["uncertainty_e6"]) == unc


# ---------------------------------------------------------------------------
# ADVICE 1: MRR must survive (and surface) zero-norm embeddings
# ---------------------------------------------------------------------------


def test_mrr_zero_norm_query_dropped_and_counted(spark, tmp_path):
    rng = np.random.default_rng(11)
    n, d = 24, 8
    emb = rng.normal(size=(n, d))
    emb[3] = 0.0  # zero-norm QUERY (vec_id 3 <= 10)
    emb[15] = 0.0  # zero-norm DOC
    pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.astype(np.float32) for row in emb],
            "label": 0,
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    out = _collect(spark, "retrieval_mrr_eval", str(tmp_path))
    # raw query universe = vec_ids 0..10 = 11; one dropped for zero norm
    assert len(out) == 10
    assert (out["n_queries_eval"] == 10).all()
    assert (out["n_queries_dropped"] == 1).all()
    assert 3 not in set(out["qid"])
    assert 15 not in set(out["truth_id"])  # zero-norm doc never truth
    _frames_equal(out, _duck_oracle("retrieval_mrr_eval", tmp_path, ["embeddings"]))


# ---------------------------------------------------------------------------
# ADVICE 4: Gini/Lorenz decile rows must survive n < 10
# ---------------------------------------------------------------------------


def test_gini_lorenz_tiny_corpus_keeps_all_deciles(spark, tmp_path):
    pd.DataFrame({"c_custkey": np.arange(1, 6, dtype=np.int64)}).to_parquet(
        tmp_path / "customer.parquet", index=False
    )
    pd.DataFrame(
        {
            "o_custkey": np.array([1, 2, 3], dtype=np.int64),
            "o_totalprice": np.array([100.0, 200.0, 400.0]),
        }
    ).to_parquet(tmp_path / "orders.parquet", index=False)

    out = _collect(spark, "stats_gini_lorenz", str(tmp_path))
    assert len(out) == 10  # pre-fix: deciles 1 resolved to rank 0 -> dropped
    out = out.sort_values("decile").reset_index(drop=True)
    assert list(out["cum_customers"]) == [1, 1, 1, 2, 2, 3, 3, 4, 4, 5]
    # spend sorted asc: 0, 0, 100, 200, 400 (cents: 0,0,10000,20000,40000)
    # cum shares e6 over total 70000 at ranks above
    exp = [0, 0, 0, 0, 0, 142857, 142857, 428571, 428571, 1000000]
    assert list(out["cum_spend_share_e6"]) == exp
    _frames_equal(
        out, _duck_oracle("stats_gini_lorenz", tmp_path, ["customer", "orders"])
    )


# ---------------------------------------------------------------------------
# ADVICE 5: linkage answer-contract re-queue is registered
# ---------------------------------------------------------------------------


def test_linkage_requeued_for_fresh_driver_row():
    """Round 11 re-queued linkage for a fresh official row; the durable
    property is that its LATEST green row postdates the r10 band change —
    it must never again ride a pre-r11 green."""
    from emr_with_custom_metrics_spark import registry

    assert registry._VERIFIED_ROUND.get("linkage_fellegi_sunter", 0) >= 11
