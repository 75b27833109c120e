"""Planted-fixture tests for waves 14b/14c (closed-form answers by
hand + cross-engine frame equality on the fixture)."""

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
# Rich club
# ---------------------------------------------------------------------------


def test_rich_club_planted_clique(spark, tmp_path):
    """4 near-identical vectors form K4 (every degree 3); 3 mutually
    orthogonal vectors stay isolated (cosine 0 < candidate floor).
    phi(2) over the degree>=2 club = 2*6/(4*3) = 1 exactly; k >= 4
    has no qualifying nodes -> degenerate rows."""
    rng = np.random.default_rng(5)
    vecs = []
    base = np.zeros(8)
    base[0] = 1.0
    for i in range(4):
        v = base + 0.01 * rng.normal(size=8)
        vecs.append(v / np.linalg.norm(v))
    for i in range(3):
        v = np.zeros(8)
        v[i + 2] = 1.0
        vecs.append(v)
    pd.DataFrame(
        {
            "vec_id": np.arange(7, dtype=np.int64),
            "embedding": [v.astype(np.float32) for v in vecs],
            "label": np.zeros(7, dtype=np.int32),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)
    out = _collect(spark, "graph_rich_club", str(tmp_path))
    out = out.sort_values("k").reset_index(drop=True)
    assert list(out["k"]) == [2, 4, 6, 8, 10, 12, 14, 16]
    k2 = out[out["k"] == 2].iloc[0]
    assert int(k2["n_nodes"]) == 4
    assert int(k2["n_edges"]) == 6
    assert int(k2["phi_e9"]) == 1_000_000_000
    assert not bool(k2["degenerate"])
    k4 = out[out["k"] == 4].iloc[0]
    assert int(k4["n_nodes"]) == 0 and bool(k4["degenerate"])
    _frames_equal(
        out, _duck_oracle("graph_rich_club", tmp_path, ["embeddings"])
    )


# ---------------------------------------------------------------------------
# Cross coherence
# ---------------------------------------------------------------------------


def test_coherence_phase_locked_and_flat(spark, tmp_path):
    """Two metrics with IDENTICAL diurnal count profiles are perfectly
    coherent (1.0 up to e9 quantization); a constant metric has zero
    24h power (sum of cos over a full day is exactly 0) and its pairs
    flag degenerate."""
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    for d in range(6):
        for h in range(24):
            cnt = 5 + (3 if h in (10, 11, 12) else 0)
            for m in ("locka", "lockb"):
                for _ in range(cnt):
                    rows.append((eid, t0 + pd.Timedelta(days=d, hours=h,
                                                        minutes=1),
                                 eid % 5, m, 1.0, "{}"))
                    eid += 1
            for _ in range(4):
                rows.append((eid, t0 + pd.Timedelta(days=d, hours=h,
                                                    minutes=2),
                             eid % 5, "flat", 1.0, "{}"))
                eid += 1
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "timeseries_cross_coherence", str(tmp_path))
    assert len(out) == 3  # 3 metric pairs
    lock = out[(out["ma"] == "locka") & (out["mb"] == "lockb")].iloc[0]
    assert int(lock["coherence_e9"]) >= 999_000_000
    assert not bool(lock["degenerate"])
    for _, r in out.iterrows():
        if "flat" in (r["ma"], r["mb"]):
            assert bool(r["degenerate"])
            assert int(r["coherence_e9"]) == 0
    _frames_equal(
        out, _duck_oracle("timeseries_cross_coherence", tmp_path)
    )


# ---------------------------------------------------------------------------
# Kleinberg depth 5
# ---------------------------------------------------------------------------


def test_kleinberg_depth_profiles(spark, tmp_path):
    """A constant series never leaves level 0 (depth 0, zero episodes,
    all hours at level 0); a series with a sustained 16x burst climbs
    past level 2 — the readout the 3-state row cannot give. The hour
    ledger must account for every hour."""
    t0 = pd.Timestamp("2024-01-01")
    rows = []
    eid = 0
    n_hours = 120
    for h in range(n_hours):
        for _ in range(2):
            rows.append((eid, t0 + pd.Timedelta(hours=h, minutes=1),
                         eid % 5, "calm", 1.0, "{}"))
            eid += 1
        burst = 32 if 60 <= h < 80 else 2
        for _ in range(burst):
            rows.append((eid, t0 + pd.Timedelta(hours=h, minutes=2),
                         eid % 5, "spiky", 1.0, "{}"))
            eid += 1
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "timeseries_kleinberg_depth", str(tmp_path))
    calm = out[out["event_type"] == "calm"].iloc[0]
    assert int(calm["depth_used"]) == 0
    assert int(calm["burst_episodes"]) == 0
    assert int(calm["hours_l0"]) == n_hours
    spiky = out[out["event_type"] == "spiky"].iloc[0]
    assert int(spiky["depth_used"]) >= 2
    assert int(spiky["burst_episodes"]) >= 1
    hours = sum(int(spiky[f"hours_l{i}"]) for i in range(5))
    assert hours == n_hours
    assert int(spiky["gain_e3"]) > 0
    _frames_equal(
        out, _duck_oracle("timeseries_kleinberg_depth", tmp_path)
    )


# ---------------------------------------------------------------------------
# Markov spectral gap
# ---------------------------------------------------------------------------


def test_spectral_gap_two_state_exact(spark, tmp_path):
    """One user's path A,A,A,B,B,B,A,B,B gives transition counts
    A->A:2 A->B:2 B->A:1 B->B:3, so P = [[.5,.5],[.25,.75]] whose
    lambda_2 = trace - 1 = 0.25 EXACTLY; for a 2-state chain the
    centered iterate is the second eigenvector, so every round's norm
    ratio is exactly 0.25 and the estimate is exact to e9."""
    path = ["A", "A", "A", "B", "B", "B", "A", "B", "B"]
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        (i, t0 + pd.Timedelta(seconds=i), 1, s, 1.0, "{}")
        for i, s in enumerate(path)
    ]
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "events_markov_spectral_gap", str(tmp_path))
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["n_states"]) == 2
    assert not bool(r["degenerate"])
    assert int(r["lambda2_e9"]) == 250_000_000
    assert int(r["spectral_gap_e9"]) == 750_000_000
    _frames_equal(out, _duck_oracle("events_markov_spectral_gap", tmp_path))


def test_spectral_gap_rank_one_degenerate(spark, tmp_path):
    """A chain whose rows are identical (every state jumps to B) is
    rank-1: lambda_2 = 0, the centered iterate dies after one round,
    and the row must flag degenerate instead of emitting NaN."""
    path = ["A", "B", "B", "B"]
    t0 = pd.Timestamp("2024-01-01")
    rows = [
        (i, t0 + pd.Timedelta(seconds=i), 1, s, 1.0, "{}")
        for i, s in enumerate(path)
    ]
    _events(rows).to_parquet(tmp_path / "events.parquet", index=False)
    out = _collect(spark, "events_markov_spectral_gap", str(tmp_path))
    r = out.iloc[0]
    assert bool(r["degenerate"])
    assert int(r["lambda2_e9"]) == 0
    _frames_equal(out, _duck_oracle("events_markov_spectral_gap", tmp_path))


def test_coherence_amplitude_guard_fires(spark):
    """The e6 spectral quantization is exact per day only below 2.1e6
    counts of day amplitude (2 * (2.1e6)^2 * 1e6 = 8.82e18 < 2^63 —
    the r13-ADVICE tightening from 3e6, where the two-term product
    overflowed before the guard could fire); past the budget both
    engines must raise LOUDLY (the spine-budget idiom), never
    overflow silently."""
    import duckdb
    import pytest as _pytest

    from emr_with_custom_metrics_spark.operators.wave14b import (
        _coh_amp_guard,
    )

    over = ("SELECT {g} AS ok FROM (VALUES (2200000.0, 0.0)) "
            "a(xc, xs) JOIN (VALUES (0.0, 0.0)) b(xc, xs) ON 1=1")
    under = over.replace("2200000.0", "2099999.0")
    con = duckdb.connect()
    assert con.sql(under.format(g=_coh_amp_guard(DUCK))).fetchall() == [
        (True,)
    ]
    with _pytest.raises(Exception, match="quantization budget"):
        con.sql(over.format(g=_coh_amp_guard(DUCK))).fetchall()
    assert [r[0] for r in spark.sql(
        under.format(g=_coh_amp_guard(SPARK)).replace("ON 1=1", "ON true")
    ).collect()] == [True]
    with _pytest.raises(Exception, match="quantization budget"):
        spark.sql(
            over.format(g=_coh_amp_guard(SPARK)).replace("ON 1=1",
                                                           "ON true")
        ).collect()
