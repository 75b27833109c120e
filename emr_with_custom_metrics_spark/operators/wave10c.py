"""Round-10 wave 10c: Kleinberg 2-state burst detection.

Kleinberg's burst automaton (KDD 2002) over each metric's dense hourly
count series: two Poisson states — base rate mu and burst rate 3*mu —
with a transition penalty gamma for entering the burst state; the
minimum-cost state path is Viterbi over per-hour emission costs
rate - y*ln(rate) (the y!-term cancels across states at the same hour
and is dropped). This is the genuinely-sequential operator of the
round: the DP cannot be expressed as windows or joins, so the Spark
side runs it as an ``applyInPandas`` integer DP per series (bounded —
720 rows each, the calendar-bounded discipline), while the DuckDB
oracle replays the IDENTICAL integer DP as a 720-step recursive CTE
carrying (d0, d1, path0, path1).

Hash-exactness: per-hour costs quantize to e6 BIGINTs in ONE shared
SQL text (the documented ln hazard — quantize immediately after ln,
nothing downstream of the quantization is float); the DP itself is
pure int64 arithmetic with pinned tie-breaks (path0 prefers the
0-predecessor on ties, path1 prefers staying in 1), so both engines
walk bit-identical paths. Every output column is an integer.

Scale posture: the only data-sized stage is the staged (series, hour)
count reduction shared with the whole timeseries family. The DP input
is |series| x 720 rows; applyInPandas shuffles on the series key only.
At 100 TB: same plan — the automaton state never exceeds the calendar
bound, and longer horizons chunk by (series, month) with carried
boundary state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.registry import register

_GAMMA_E6 = 5_000_000  # burst-entry penalty: 5.0 nats, e6-quantized
_BURST_MULT = 3  # burst rate = 3 * base rate

# Shared cost-table core (after the engine-specific spine): per-hour
# e6-quantized emission costs for both states. ln() is evaluated on the
# same exact-rational mu in both engines and quantized IMMEDIATELY —
# the house ln discipline.
_COST_CORE = """
    , y AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h, COALESCE(c.cnt, 0) AS y
        FROM spine s
        LEFT JOIN counts c ON s.event_type = c.event_type AND s.h = c.h
    ), idx AS (
        SELECT event_type, h, y,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY h) - 1 AS BIGINT) AS i
        FROM y
    ), mu AS (
        SELECT event_type, CAST(SUM(y) AS DOUBLE) / COUNT(*) AS mu
        FROM y GROUP BY event_type
    )
    SELECT /*+ BROADCAST(m) */ i.event_type, i.i, i.y,
           CAST(ROUND((m.mu - i.y * ln(m.mu)) * 1000000) AS BIGINT)
               AS cost0,
           CAST(ROUND((3 * m.mu - i.y * ln(3 * m.mu)) * 1000000) AS BIGINT)
               AS cost1
    FROM idx i JOIN mu m ON i.event_type = m.event_type
    WHERE m.mu > 0
"""


# DuckDB oracle: the identical integer DP as a recursive CTE. State
# carries the two optimal costs and their full state-path strings;
# tie-breaks match the pandas DP exactly (path0 takes the 0-predecessor
# when d0 <= d1; path1 stays in 1 when d1 <= d0 + gamma).
_BURST_DUCK = f"""
    WITH RECURSIVE costs AS MATERIALIZED ({spine_from_counts(DUCK) + _COST_CORE}),
    dp AS (
        SELECT event_type, i, d0, d1, path0, path1
        FROM (SELECT event_type, i,
                     cost0 AS d0, cost1 + {_GAMMA_E6} AS d1,
                     '0' AS path0, '1' AS path1
              FROM costs WHERE i = 0)
        UNION ALL
        SELECT c.event_type, c.i,
               c.cost0 + LEAST(dp.d0, dp.d1) AS d0,
               c.cost1 + LEAST(dp.d0 + {_GAMMA_E6}, dp.d1) AS d1,
               (CASE WHEN dp.d0 <= dp.d1 THEN dp.path0 ELSE dp.path1 END)
                   || '0' AS path0,
               (CASE WHEN dp.d1 <= dp.d0 + {_GAMMA_E6} THEN dp.path1
                     ELSE dp.path0 END) || '1' AS path1
        FROM dp JOIN costs c
          ON c.event_type = dp.event_type AND c.i = dp.i + 1
    ), final AS (
        SELECT d.event_type,
               CASE WHEN d.d0 <= d.d1 THEN d.path0 ELSE d.path1 END AS path,
               LEAST(d.d0, d.d1) AS total_cost
        FROM dp d
        JOIN (SELECT event_type, MAX(i) AS mi FROM dp GROUP BY event_type) m
          ON d.event_type = m.event_type AND d.i = m.mi
    )
    SELECT event_type,
           CAST(LENGTH(path) AS BIGINT) AS n_hours,
           CAST(LENGTH(path) - LENGTH(REPLACE(path, '1', '')) AS BIGINT)
               AS burst_hours,
           CAST((LENGTH(path) - LENGTH(REPLACE(path, '01', ''))) / 2
                + CASE WHEN path LIKE '1%' THEN 1 ELSE 0 END AS BIGINT)
               AS n_bursts,
           CAST(COALESCE(list_aggregate(list_transform(
                    string_split(path, '0'), x -> LENGTH(x)), 'max'), 0)
                AS BIGINT) AS max_burst_len,
           CAST(INSTR(path, '1') - 1 AS BIGINT) AS first_burst_idx,
           total_cost
    FROM final
"""


def _viterbi(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact-integer 2-state Viterbi over one series' cost table —
    identical recurrence and tie-breaks to the recursive-CTE oracle."""
    pdf = pdf.sort_values("i")
    c0 = pdf["cost0"].to_numpy().tolist()  # python ints: no silent wrap
    c1 = pdf["cost1"].to_numpy().tolist()
    d0, d1 = c0[0], c1[0] + _GAMMA_E6
    p0, p1 = "0", "1"
    for t in range(1, len(c0)):
        nd0 = c0[t] + min(d0, d1)
        nd1 = c1[t] + min(d0 + _GAMMA_E6, d1)
        np0 = (p0 if d0 <= d1 else p1) + "0"
        np1 = (p1 if d1 <= d0 + _GAMMA_E6 else p0) + "1"
        d0, d1, p0, p1 = nd0, nd1, np0, np1
    path, total = (p0, d0) if d0 <= d1 else (p1, d1)
    runs = [len(r) for r in path.split("0") if r]
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "n_hours": [len(path)],
            "burst_hours": [path.count("1")],
            "n_bursts": [len(runs)],
            "max_burst_len": [max(runs) if runs else 0],
            "first_burst_idx": [path.find("1")],
            "total_cost": [total],
        }
    )


@register(
    "timeseries_burst_kleinberg",
    oracle=_BURST_DUCK,
    doc="Kleinberg 2-state burst detection (KDD 2002) per metric over "
    "the dense hourly spine: Poisson emission costs rate - y*ln(rate) "
    "for base rate mu and burst rate 3mu (the shared y! term cancels), "
    "e6-quantized in one shared SQL text immediately after ln (the "
    "house ln discipline), then an EXACT-INTEGER Viterbi with a 5-nat "
    "burst-entry penalty and pinned tie-breaks. The genuinely-"
    "sequential operator of the round: Spark runs the DP as "
    "applyInPandas per series (calendar-bounded 720 rows — the only "
    "shuffle is the series key), and the DuckDB oracle replays the "
    "identical DP as a 720-step recursive CTE carrying the state "
    "paths, so the full trajectory hash-matches. Reports burst-hour "
    "totals, run counts/lengths, first burst index, and the exact "
    "optimal path cost.",
)
def timeseries_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    costs = hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _COST_CORE)
    schema = (
        "event_type string, n_hours long, burst_hours long, n_bursts long, "
        "max_burst_len long, first_burst_idx long, total_cost long"
    )
    return costs.groupBy("event_type").applyInPandas(_viterbi, schema=schema)
