"""Round-14 wave 14f: the privacy triad's third leg.

* ``dq_t_closeness`` — t-closeness screen (Li, Li, Venkatasubramanian,
  ICDE 2007) over the SAME (day-of-week, value-band) quasi-identifier
  classes as ``dq_k_anonymity`` / ``dq_l_diversity`` (the QI SQL is
  SLICED from wave9g so the three screens can never drift apart — the
  shared-prefix sibling-interface pattern): l-diversity stops the
  homogeneous-class attack but not the SKEWNESS attack (a class can
  hold l distinct sensitive values whose distribution still differs
  wildly from the corpus); t-closeness bounds the distance between
  each class's sensitive distribution and the global one. For the
  nominal sensitive attribute the standard distance is variational:
  t = 0.5 * sum_v |p_class(v) - p_global(v)|, computed here on
  e9-quantized fractions so every cross-cell reduction is an exact
  integer sum (no count product ever nears int64 at any corpus size,
  unlike the naive |c*N - g*n| cross-multiplied form).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave9g import _LDIV_QI
from emr_with_custom_metrics_spark.registry import register

_TCLOSE_T_E9 = 200_000_000  # pinned threshold t = 0.2

_TCLOSE_CORE = f"""
    , cells AS (
        SELECT dow, value_band, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM qi GROUP BY dow, value_band, event_type
    ), classn AS (
        SELECT dow, value_band, CAST(SUM(c) AS BIGINT) AS n
        FROM cells GROUP BY dow, value_band
    ), gsens AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS g
        FROM cells GROUP BY event_type
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS nn FROM cells
    ), grid AS (
        -- full class x sensitive grid: a sensitive value ABSENT from a
        -- class contributes its full global share to the distance, so
        -- absent cells must be real zeros, not missing rows
        SELECT cl.dow, cl.value_band, cl.n, gl.event_type, gl.g,
               CAST(COALESCE(ce.c, 0) AS BIGINT) AS c
        FROM classn cl
        CROSS JOIN gsens gl
        LEFT JOIN cells ce
          ON ce.dow = cl.dow AND ce.value_band = cl.value_band
         AND ce.event_type = gl.event_type
    ), tdist AS (
        SELECT g.dow, g.value_band,
               CAST(MAX(g.n) AS BIGINT) AS n_rows,
               CAST(SUM(ABS(
                    CAST(ROUND(CAST(g.c AS DOUBLE) / g.n * 1000000000)
                         AS BIGINT)
                    - CAST(ROUND(CAST(g.g AS DOUBLE) / t.nn * 1000000000)
                           AS BIGINT))) AS BIGINT) AS sumdiff_e9
        FROM grid g CROSS JOIN tot t
        GROUP BY g.dow, g.value_band
    ), scored AS (
        SELECT dow, value_band, n_rows,
               CAST(ROUND(sumdiff_e9 / 2.0e0) AS BIGINT) AS t_e9
        FROM tdist
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MAX(t_e9) AS BIGINT) AS max_t_e9,
           -- weighted avg accumulates per-term in DECIMAL (r14
           -- ADVICE): t_e9 <= 1e9 times a class row count overflows
           -- an int64 product around 1e10-row classes, and a DOUBLE
           -- sum past 2^53 is summation-order-dependent. DECIMAL(19,0)
           -- * BIGINT widens to DECIMAL(38,0) in both engines — exact
           -- and order-free; ONE double conversion for the ratio.
           CAST(ROUND(CAST(SUM(CAST(t_e9 AS DECIMAL(19,0)) * n_rows)
                           AS DOUBLE) / SUM(n_rows))
                AS BIGINT) AS avg_t_e9,
           CAST(COUNT(CASE WHEN t_e9 > {_TCLOSE_T_E9} THEN 1 END)
                AS BIGINT) AS n_classes_above_t,
           CAST(COALESCE(SUM(CASE WHEN t_e9 > {_TCLOSE_T_E9}
                                  THEN n_rows END), 0) AS BIGINT)
               AS n_rows_at_risk
    FROM scored
"""


def _tclose_sql(d: Dialect) -> str:
    return _LDIV_QI.format(EPOCH_DAY=d.epoch_day) + _TCLOSE_CORE


@register(
    "dq_t_closeness",
    oracle=_tclose_sql(DUCK),
    doc="t-closeness screen (t = 0.2; Li-Li-Venkatasubramanian, ICDE "
    "2007) over the same (day-of-week, value-band) QI classes as "
    "dq_k_anonymity and dq_l_diversity (the QI SQL is sliced from the "
    "l-diversity text, so the privacy triad can never drift) — the "
    "SKEWNESS-attack complement: a class can pass l-diversity with l "
    "distinct sensitive values whose distribution still leaks (90% "
    "'error' where the corpus has 20%). Distance = the variational "
    "0.5 sum |p_class - p_global| per class on e9-quantized fractions "
    "(exact integer sums; the cross-multiplied |c*N - g*n| form would "
    "pass int64 at ~1e12 rows), over the FULL class x sensitive grid "
    "(absent values contribute their whole global share). Emits the "
    "class count, max/row-weighted-avg t, and classes/rows above the "
    "pinned threshold. One map-side contingency reduction; the class "
    "rollup is QI-cardinality-bounded.",
)
def dq_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_tclose_sql(SPARK))
