"""The benchmark's workloads: which registered rows run, and where results go.

Each workload is a fixed list of registered query names. A run executes
them in an order drawn from the run's seed, one at a time (a closed loop
with a single client). ``sql_short`` stresses the per-query fixed cost and
bypasses staging, memos, Python kernels and file writes; ``llm_etl``
stresses exactly those. README.md lists which per-layer metric each
workload is meant to move.
"""

from __future__ import annotations

from dataclasses import dataclass

# Rows named here that are not registry rows: the reference ETL job
# (``sources.reference_pipeline.convert``) on its two write paths.
CONVERT_PARITY = "convert_parity"
CONVERT_AQE = "convert_aqe"
CONVERT_ROWS = (CONVERT_PARITY, CONVERT_AQE)


@dataclass(frozen=True)
class Workload:
    name: str
    rows: tuple[str, ...]
    sink: str  # "noop" or "parquet"
    # Warm passes per run. The JIT keeps warming for several passes, so a
    # fixed count (not a time budget) keeps runs comparable, and only the
    # later half of them is reported.
    warm_passes: int


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="sql_short",
            rows=(
                "q1_pricing_summary",
                "sql_q6_forecast_revenue",
                "sql_grouping_sets",
                "join_interval_time",
                "window_rank_battery",
                "json_extract_props",
                "session_windows",
            ),
            sink="noop",
            warm_passes=5,
        ),
        Workload(
            name="llm_etl",
            rows=(
                CONVERT_PARITY,
                "multimodal_decode_wav",
                "dedup_ngram_jaccard",
                "graph_triangle_count",
                "timeseries_autocorrelation",
                CONVERT_AQE,
            ),
            sink="parquet",
            warm_passes=3,
        ),
    )
}
