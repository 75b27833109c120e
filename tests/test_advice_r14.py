"""Regression tests for the five round-13 ADVICE items (round 14).

Each test plants the fixture the advice described and pins the fixed
behavior on BOTH engines (Spark vs a DuckDB run of the same oracle
text on the fixture), plus structural pins where the hazard is a SQL
shape rather than a value.

Items:
1. (low) timeseries_cross_coherence's amplitude guard allowed 3e6 but
   the 2-term product*1e6 overflows int64 at 2.15e6 — the failure
   surfaced as a cast overflow instead of the guard's loud message.
   Bound tightened to 2.1e6 (2 * (2.1e6)^2 * 1e6 = 8.82e18 < 2^63)
   and the day-sums now accumulate in DOUBLE.
2. (low) text_burrows_delta accumulated SUM(f_e9 * f_e9) AS BIGINT —
   ~10 sources concentrated on the same term overflow int64; now
   accumulates sff in DOUBLE (the Cochran/CCC convention).
3. (low) dq_t_closeness computed SUM(t_e9 * n_rows) in BIGINT — a
   1e10-row class overflows; the weighted average now accumulates
   per-term in DOUBLE.
4. (low) graph_modularity returned an EMPTY Spark frame on an
   edgeless graph while the oracle's GROUP-BY-less aggregate always
   emits one row (0, NULL, 0, NULL) — hash mismatch on a corpus with
   no mutual top-16 edges. The m=0 branch now emits the same row.
5. (low) jdbc_roundtrip_duckdb picked the driver jar with
   lexicographic sorted()[-1] (chooses 1.9 over 1.10); now newest by
   mtime. The local-session-only classloader injection is documented
   in the failure path.

Two further round-14 notes are pinned at the end: the dense-daily
family emits a degenerate-flagged row for a metric whose span is too
short to lag, and the IVF centroids keep their e9 quantization.
"""

from __future__ import annotations

import inspect

import numpy as np
import pandas as pd
import pytest

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
        mask_a, mask_b = pd.isna(av), pd.isna(bv)
        assert (mask_a == mask_b).all(), (c, av, bv)
        assert (av[~mask_a] == bv[~mask_b]).all(), (c, av, bv)


# ---------------------------------------------------------------------------
# ADVICE 1: cross-coherence — tightened budget + double day-sums
# ---------------------------------------------------------------------------


def test_coherence_double_sums_and_tight_bound():
    """Structural pin: both engine texts carry the 2.1e6 amplitude
    bound and accumulate the four spectral day-sums EXACTLY in
    DECIMAL(38,0) (the r15 upgrade of the r14 DOUBLE fix: DOUBLE
    killed the overflow but kept last-ulp summation-order
    sensitivity; DECIMAL sums are exact and order-free, converted to
    DOUBLE once after the sum)."""
    from emr_with_custom_metrics_spark.operators.wave14b import (
        _COH_AMP_COND,
        _COH_TMPL,
    )

    assert "2100000.0e0" in _COH_AMP_COND
    assert "3000000" not in _COH_AMP_COND
    for col in ("re_e6", "im_e6", "pa_e6", "pb_e6"):
        assert f"SUM(CAST({col} AS DECIMAL(38,0)))" in _COH_TMPL
        assert f"SUM(CAST({col} AS DOUBLE))" not in _COH_TMPL
        assert f"CAST(SUM({col}) AS BIGINT)" not in _COH_TMPL


# ---------------------------------------------------------------------------
# ADVICE 2: Burrows' Delta — sff in DOUBLE survives concentrated sources
# ---------------------------------------------------------------------------


def test_burrows_delta_concentrated_sources_no_overflow(spark, tmp_path):
    """Ten sources whose whole text is the SAME single term drive
    f_e9 = 1e9 each, so the old BIGINT SUM(f_e9^2) hits 1e19 > int64
    and both engines raised a cast/sum overflow. Post-fix the query
    runs clean and the engines agree exactly."""
    rows = []
    for s in range(10):
        rows.append((s, "conc conc conc", "en", f"src{s:02d}", 14))
    rows.append((10, "alpha beta", "en", "src10", 10))
    df = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    df["doc_id"] = df["doc_id"].astype(np.int64)
    df["n_chars"] = df["n_chars"].astype(np.int64)
    df.to_parquet(tmp_path / "documents.parquet", index=False)

    out = _collect(spark, "text_burrows_delta", str(tmp_path))
    # 11 sources -> 55 pairs, each over the 3-term vocab
    assert len(out) == 55
    assert (out["n_terms"].to_numpy() == 3).all()
    _frames_equal(
        out, _duck_oracle("text_burrows_delta", tmp_path, ["documents"])
    )


def test_burrows_delta_sff_double_structural():
    """r15 upgrade of the r14 fix: sff accumulates EXACTLY in
    DECIMAL(38,0) (DOUBLE killed the overflow but kept last-ulp
    order sensitivity)."""
    from emr_with_custom_metrics_spark.operators.wave14d import _BD_TMPL

    assert "SUM(CAST(f_e9 * f_e9 AS DECIMAL(38,0)))" in _BD_TMPL
    assert "SUM(CAST(f_e9 AS DOUBLE) * f_e9)" not in _BD_TMPL
    assert "CAST(SUM(f_e9 * f_e9) AS BIGINT)" not in _BD_TMPL


# ---------------------------------------------------------------------------
# ADVICE 3: t-closeness — weighted average accumulates in DOUBLE
# ---------------------------------------------------------------------------


def test_t_closeness_weighted_avg_double_structural():
    from emr_with_custom_metrics_spark.operators.wave14f import _tclose_sql

    # r15 upgrade of the r14 fix: the weighted average accumulates
    # EXACTLY (DECIMAL(19,0) * BIGINT widens to DECIMAL(38,0) in both
    # engines) instead of in DOUBLE
    for text in (_tclose_sql(DUCK), _tclose_sql(SPARK)):
        assert "SUM(CAST(t_e9 AS DECIMAL(19,0)) * n_rows)" in text
        assert "SUM(CAST(t_e9 AS DOUBLE) * n_rows)" not in text
        assert "CAST(SUM(t_e9 * n_rows) AS DOUBLE)" not in text


# ---------------------------------------------------------------------------
# ADVICE 4: modularity on an edgeless graph matches the oracle's
# always-one-row aggregate
# ---------------------------------------------------------------------------


def test_modularity_edgeless_graph_matches_oracle(spark, tmp_path):
    """A single embedding has no pairs, so the mutual top-16 graph is
    edgeless (m = 0). The oracle's GROUP-BY-less final aggregate still
    emits one row (0, NULL, 0, NULL); pre-fix Spark returned an empty
    frame and the driver hash-mismatched."""
    v = np.zeros(8, dtype=np.float32)
    v[0] = 1.0
    pd.DataFrame(
        {
            "vec_id": np.asarray([0], dtype=np.int64),
            "embedding": [v],
            "label": np.asarray([0], dtype=np.int32),
        }
    ).to_parquet(tmp_path / "embeddings.parquet", index=False)

    out = _collect(spark, "graph_modularity", str(tmp_path))
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["n_communities"]) == 0
    assert int(r["total_edges"]) == 0
    assert pd.isna(r["within_edges"]) and pd.isna(r["modularity_e9"])
    _frames_equal(
        out, _duck_oracle("graph_modularity", tmp_path, ["embeddings"])
    )


# ---------------------------------------------------------------------------
# ADVICE 5: jar discovery picks newest by mtime, not lexicographic
# ---------------------------------------------------------------------------


def test_duckdb_jar_pick_newest_by_mtime(tmp_path, monkeypatch):
    """duckdb_jdbc-1.10.jar (newer mtime) must win over 1.9 even
    though '1.9' sorts after '1.10' lexicographically."""
    import os

    cache = tmp_path / ".cache" / "coursier" / "v1"
    cache.mkdir(parents=True)
    old = cache / "duckdb_jdbc-1.9.0.jar"
    new = cache / "duckdb_jdbc-1.10.0.jar"
    old.write_bytes(b"old")
    new.write_bytes(b"new")
    os.utime(old, (1_000_000_000, 1_000_000_000))
    os.utime(new, (2_000_000_000, 2_000_000_000))

    monkeypatch.setenv("HOME", str(tmp_path))
    from emr_with_custom_metrics_spark.sources.jdbc import (
        _find_duckdb_jdbc_jar,
    )

    assert _find_duckdb_jdbc_jar() == str(new)
    # and the lexicographic order really would have picked the old one
    assert sorted([str(old), str(new)])[-1] == str(old)


def test_duckdb_attach_documents_local_only():
    """The local-session-only classloader assumption is stated at the
    injection site and in the missing-jar failure path."""
    import inspect

    from emr_with_custom_metrics_spark.sources import jdbc

    src = inspect.getsource(jdbc._attach_duckdb_jar)
    assert "LOCAL-SESSION-ONLY" in src
    assert "spark.jars" in src


# ---------------------------------------------------------------------------
# Dense-daily family: a single-day span still emits a degenerate row
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["timeseries_dickey_fuller", "timeseries_arch_lm", "stats_gumbel_block_maxima"],
)
def test_daily_dense_single_day_emits_degenerate_row(spark, tmp_path, name):
    """Every event falls on one day, so no metric has a lagged
    observation or a second block. Each metric must still emit one
    row, flagged degenerate, and both engines must agree."""
    t0 = pd.Timestamp("2024-03-05 08:00:00")
    rows = [
        (i, t0 + pd.Timedelta(minutes=7 * i), i % 5, et, 1.0, "{}")
        for i, et in enumerate(["view"] * 6 + ["click"] * 3 + ["purchase"])
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).astype({"event_id": np.int64, "user_id": np.int64}).to_parquet(
        tmp_path / "events.parquet", index=False
    )

    out = _collect(spark, name, str(tmp_path))
    assert sorted(out["event_type"]) == ["click", "purchase", "view"]
    assert out["degenerate"].astype(bool).all(), out
    _frames_equal(out, _duck_oracle(name, tmp_path))


# ---------------------------------------------------------------------------
# IVF centroids: e9 quantization in every engine text
# ---------------------------------------------------------------------------


def test_ivf_centroids_keep_e9_quantization():
    """Centroid averages are rounded to 1e-9 before any distance is
    formed, so the engines rank against identical centroids whatever
    their summation order."""
    from emr_with_custom_metrics_spark.llm import similarity

    def flat(text: str) -> str:
        return " ".join(text.split())

    assert "F.round(F.col(\"a\") * 1000000000) / 1000000000.0" in flat(
        inspect.getsource(similarity.label_centroids)
    )
    duck_avg = "ROUND(AVG(embedding[i]::DOUBLE) * 1000000000) / 1000000000.0e0 AS c"
    assert duck_avg in flat(similarity._SQL_IVF_TOPK)
    assert duck_avg in flat(similarity._ivfpq_head(4))
