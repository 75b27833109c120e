"""The ACF family's Spark kernel (``operators.stats.acf_kernel_spark``)
on planted edge cases, against the unchanged DuckDB join-form oracles.

The four rows that read the kernel — timeseries_autocorrelation,
stats_ljung_box, timeseries_pacf_durbin, timeseries_ar_order_fit —
fold one centered hourly array per series. The planted fixture covers
the cases where an array fold can drift from the (series, h + lag)
self-join: a series occupying a single hour, a global spine shorter
than the 24 lags, zero-filled gaps, and series whose first and last
hours differ from the global bounds. Also pinned here: the den = 0
behaviour of each row, and that no row depends on the ``st_hour_counts``
view the family used to stage.
"""

from __future__ import annotations

import sys
import types

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.errors import ArithmeticException

from tests.compare import assert_frames_match
from tests.conftest import SF_SMOKE_DIR

ACF_FAMILY = (
    "timeseries_autocorrelation",
    "stats_ljung_box",
    "timeseries_pacf_durbin",
    "timeseries_ar_order_fit",
)

_T0 = pd.Timestamp("2024-03-01")
_SPINE_HOURS = 18  # < 24: lags 18..24 have no pairs


def _write_events(d, hourly: dict[str, dict[int, int]]) -> str:
    """One parquet ``events`` table with ``hourly[series][hour]`` events
    at each (series, hour), spread over the hour's minutes."""
    rows = []
    for series, counts in hourly.items():
        for h, c in counts.items():
            for k in range(c):
                rows.append(
                    (len(rows), _T0 + pd.Timedelta(hours=h, minutes=k % 60),
                     k % 7, series, float(k), "{}")
                )
    df = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"]
    )
    df["event_id"] = df["event_id"].astype(np.int64)
    df["user_id"] = df["user_id"].astype(np.int64)
    df.to_parquet(d / "events.parquet", index=False)
    return str(d)


# Global spine = hours 0..17. No series spans it: "early" sets the
# minimum and ends at 12, "late" starts at 4 and sets the maximum, so a
# kernel that centered on per-series bounds would disagree everywhere.
_EDGE = {
    "single": {5: 3},
    "gappy": {2: 4, 3: 1, 7: 6, 8: 2, 12: 5, 15: 3},
    "early": {h: 1 + (h * 5) % 7 for h in range(0, 13)},
    "late": {h: 2 + (h * 3) % 5 for h in range(4, _SPINE_HOURS)},
}


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    return _write_events(tmp_path_factory.mktemp("acf_edge"), _EDGE)


def _oracle(name: str, d: str) -> pd.DataFrame:
    from emr_with_custom_metrics_spark.registry import all_specs

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{d}/events.parquet')"
        )
        return con.sql(all_specs()[name].oracle).df()
    finally:
        con.close()


def _run(spark, name: str, d: str) -> pd.DataFrame:
    from emr_with_custom_metrics_spark.registry import all_specs

    return all_specs()[name].fn(spark, d).toPandas()


@pytest.mark.parametrize("name", ACF_FAMILY)
def test_acf_family_matches_oracle_on_edge_spine(spark, edge_dir, name):
    got = _run(spark, name, edge_dir)
    assert set(got["event_type"]) == set(_EDGE), got
    assert_frames_match(got, _oracle(name, edge_dir), f"edge:{name}")


def test_acf_edge_spine_matches_closed_form(spark, edge_dir):
    """Independent of both engines: d = N*c - S over the global spine,
    acf = sum d_t d_{t+lag} / sum d_t^2, one row per lag < N."""
    got = _run(spark, "timeseries_autocorrelation", edge_dir)
    n = _SPINE_HOURS
    for series, counts in _EDGE.items():
        c = np.array([counts.get(h, 0) for h in range(n)], dtype=np.int64)
        d = n * c - int(c.sum())
        den = int((d * d).sum())
        sub = got[got["event_type"] == series].set_index("lag").sort_index()
        assert list(sub.index) == list(range(1, n)), series
        for lag in range(1, n):
            num = int((d[:-lag] * d[lag:]).sum())
            assert int(sub.loc[lag, "n_pairs"]) == n - lag, (series, lag)
            assert abs(int(sub.loc[lag, "acf_e6"]) - num / den * 1e6) <= 1, (
                series, lag
            )


# A series with the same count in every spine hour has centered
# variance 0. PACF and the AR fit drop it (WHERE den > 0); the ACF and
# Ljung-Box rows have no filter and divide by it.
_FLAT = {
    "flat": {h: 2 for h in range(_SPINE_HOURS)},
    "wave": {h: 1 + (h * 4) % 9 for h in range(_SPINE_HOURS)},
}


@pytest.fixture(scope="module")
def flat_dir(tmp_path_factory):
    return _write_events(tmp_path_factory.mktemp("acf_flat"), _FLAT)


@pytest.mark.parametrize(
    "name", ("timeseries_pacf_durbin", "timeseries_ar_order_fit")
)
def test_zero_variance_series_dropped_by_pacf_rows(spark, flat_dir, name):
    got = _run(spark, name, flat_dir)
    assert set(got["event_type"]) == {"wave"}, got
    assert_frames_match(got, _oracle(name, flat_dir), f"flat:{name}")


@pytest.mark.parametrize(
    "name", ("timeseries_autocorrelation", "stats_ljung_box")
)
def test_zero_variance_series_divides_by_zero_in_acf_rows(
    spark, flat_dir, name
):
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        _run(spark, name, flat_dir)


# ---------------------------------------------------------------------------
# Catalog hygiene: the family stages no st_hour_counts view, and no row
# relies on one it left behind
# ---------------------------------------------------------------------------

_PKG = "emr_with_custom_metrics_spark"


def _query_fn(spec) -> types.FunctionType:
    """The undecorated query function inside the registry's wrapper."""
    return next(
        c.cell_contents
        for c in spec.fn.__closure__
        if isinstance(c.cell_contents, types.FunctionType)
    )


def _package_names() -> dict[str, list]:
    """Every module-level name in the package, for names a function
    imports inside its body (they are not in its globals)."""
    index: dict[str, list] = {}
    for mname, mod in list(sys.modules.items()):
        if mname.startswith(_PKG) and mod is not None:
            for k, v in vars(mod).items():
                index.setdefault(k, []).append(v)
    return index


def _reachable_functions(fn: types.FunctionType, index: dict[str, list]):
    """Every package function a query function can reach: itself and
    the package functions it calls (imported at module or function
    level), through nested code too."""
    seen = set()
    stack = [(fn.__code__, fn.__globals__)]
    while stack:
        code, g = stack.pop()
        if code in seen:
            continue
        seen.add(code)
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                stack.append((c, g))
        for name in code.co_names:
            for v in [g[name]] if name in g else index.get(name, []):
                if isinstance(v, types.FunctionType) and (
                    v.__module__.startswith(_PKG)
                ):
                    yield v
                    stack.append((v.__code__, v.__globals__))


def _hour_count_readers() -> list[str]:
    """Rows that read the staged per-(series, hour) counts, i.e. reach
    ``operators.stats.hour_counts_sql``."""
    from emr_with_custom_metrics_spark.operators.stats import hour_counts_sql
    from emr_with_custom_metrics_spark.registry import all_specs

    specs = all_specs()
    index = _package_names()
    return sorted(
        name
        for name, spec in specs.items()
        if any(
            f is hour_counts_sql
            for f in _reachable_functions(_query_fn(spec), index)
        )
    )


@pytest.mark.parametrize("name", ACF_FAMILY)
def test_acf_family_leaves_no_hour_counts_view(spark, name):
    from emr_with_custom_metrics_spark.catalog import TABLES
    from emr_with_custom_metrics_spark.registry import all_specs

    spark.catalog.dropTempView("st_hour_counts")
    all_specs()[name].fn(spark, SF_SMOKE_DIR).collect()
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    assert "st_hour_counts" not in views
    assert views <= set(TABLES), sorted(views - set(TABLES))


def test_hour_count_readers_build_without_a_staged_view(spark):
    """Every row that reads the staged hour counts binds them itself
    (hour_counts_sql): each builds in a session holding no view but the
    base tables it registers, so none relied on the ACF family's old
    st_hour_counts side effect, and none leaves a view of its own."""
    from emr_with_custom_metrics_spark.catalog import TABLES
    from emr_with_custom_metrics_spark.registry import all_specs

    readers = _hour_count_readers()
    assert "timeseries_seasonal_decompose" in readers, readers
    assert not set(readers) & set(ACF_FAMILY), readers
    specs = all_specs()
    for name in readers:
        fresh = spark.newSession()
        specs[name].fn(fresh, SF_SMOKE_DIR)
        views = {t.name for t in fresh.catalog.listTables() if t.isTemporary}
        assert views <= set(TABLES), (name, sorted(views - set(TABLES)))
