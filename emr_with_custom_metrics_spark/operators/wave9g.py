"""Round-9 wave 8g: privacy, profiling, sampling design, funnel timing.

* ``dq_l_diversity`` — l-diversity screen (Machanavajjhala et al., ICDE
  2006): the sensitive-attribute complement of dq_k_anonymity, with the
  entropy variant.
* ``dq_functional_dependencies`` — FD violation profiling (the TANE /
  Metanome candidate-check primitive) over a fixed candidate set on
  orders, exact integer counting.
* ``sample_neyman_allocation`` — Neyman (1934) optimal stratified-
  sampling allocation n_h ∝ N_h * sigma_h for a fixed budget: the
  DESIGN query behind sample_stratified.
* ``funnel_time_to_convert`` — first-view → first-purchase latency
  distribution in exact integer seconds with order-statistic quantiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# l-diversity
# ---------------------------------------------------------------------------
# Machanavajjhala et al. (ICDE 2006): k-anonymity does not stop an
# attacker when every row of an equivalence class shares the SAME
# sensitive value — each QI class must also carry >= l distinct
# sensitive values. QI = (day-of-week, value band) — the dq_k_anonymity
# tuple minus the sensitive attribute, which here is event_type. Both
# the distinct-l and ENTROPY l-diversity (entropy(class) >= ln(l))
# screens are reported. LN quantizes per cell immediately (house
# hazard rule) so every cross-cell reduction is an integer sum.

_LDIV_CORE = """
    , cells AS (
        SELECT dow, value_band, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM qi GROUP BY dow, value_band, event_type
    ), cells2 AS (
        SELECT dow, value_band, c,
               CAST(SUM(c) OVER (PARTITION BY dow, value_band) AS BIGINT)
                   AS n
        FROM cells
    ), classes AS (
        SELECT dow, value_band,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               CAST(MAX(n) AS BIGINT) AS n_rows,
               CAST(SUM(c * CAST(ROUND(LN(CAST(n AS DOUBLE) / c)
                                       * 1000000000) AS BIGINT))
                   AS BIGINT) AS ent_num
        FROM cells2 GROUP BY dow, value_band
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(l_distinct) AS BIGINT) AS min_l,
           CAST(COUNT(CASE WHEN l_distinct < 3 THEN 1 END) AS BIGINT)
               AS n_classes_below_l,
           CAST(COALESCE(SUM(CASE WHEN l_distinct < 3 THEN n_rows END), 0)
               AS BIGINT) AS n_rows_at_risk,
           CAST(MIN(CAST(ROUND(CAST(ent_num AS DOUBLE) / n_rows) AS BIGINT))
               AS BIGINT) AS min_entropy_e9
    FROM classes
"""

_LDIV_QI = """
    WITH qi AS (
        SELECT event_type,
               {EPOCH_DAY} % 7 AS dow,
               CAST(FLOOR(value / 25) AS BIGINT) AS value_band
        FROM events
    )
"""


@register(
    "dq_l_diversity",
    oracle=_LDIV_QI.format(EPOCH_DAY=DUCK.epoch_day) + _LDIV_CORE,
    doc="l-diversity screen (l=3; Machanavajjhala et al., ICDE 2006) "
    "over the (day-of-week, value-band) quasi-identifier classes with "
    "event_type as the sensitive attribute — the complement of "
    "dq_k_anonymity for the homogeneous-class attack, plus the entropy "
    "l-diversity minimum (per-cell LN quantized immediately, so every "
    "cross-cell reduction is an exact integer sum). One map-side-"
    "combinable count to the QI x sensitive contingency; the class "
    "rollup is QI-cardinality-bounded, not data-sized.",
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_LDIV_QI.format(EPOCH_DAY=SPARK.epoch_day) + _LDIV_CORE)


# ---------------------------------------------------------------------------
# Functional-dependency profiling
# ---------------------------------------------------------------------------
# The candidate-validation primitive of FD discovery (TANE, Huhtala et
# al. 1999): X -> Y holds iff no X-group carries two Y values. Each
# candidate is one COUNT(DISTINCT rhs) GROUP BY lhs reduction (map-side
# partial) followed by a 5-scalar rollup over the group table; the
# violation decision is pure integer. A fixed, schema-curated candidate
# set (the Metanome practice) keeps the operator deterministic; key
# candidates are expected to hold, the others measure how far the
# column pair is from functional.

_FD_CANDIDATES = (
    ("o_orderkey->o_custkey", "o_orderkey", "o_custkey"),
    ("o_orderkey->o_orderpriority", "o_orderkey", "o_orderpriority"),
    ("o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"),
    ("o_orderpriority->o_orderstatus", "o_orderpriority", "o_orderstatus"),
)


def _fd_block(label: str, lhs: str, rhs: str) -> str:
    return f"""
    SELECT '{label}' AS fd,
           CAST(COUNT(*) AS BIGINT) AS n_lhs,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
           CAST(SUM(nd) - COUNT(*) AS BIGINT) AS n_extra_pairs,
           CAST(ROUND(CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) * 1000000 / COUNT(*)) AS BIGINT)
               AS violation_rate_e6,
           SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {lhs} AS l, CAST(COUNT(DISTINCT {rhs}) AS BIGINT) AS nd
          FROM orders GROUP BY {lhs})
    """


_FD_SQL = " UNION ALL ".join(_fd_block(*c) for c in _FD_CANDIDATES)


@register(
    "dq_functional_dependencies",
    oracle=_FD_SQL,
    doc="Functional-dependency violation profiling (the TANE candidate "
    "check, Huhtala et al. 1999) over a fixed 4-candidate set on "
    "orders: per candidate X->Y, the X-group count, groups carrying >1 "
    "Y value, surplus (X,Y) pairs, violation rate, and an exact-integer "
    "holds flag. Each candidate is one map-side-combinable "
    "COUNT(DISTINCT) reduction + a scalar rollup over the group table; "
    "key-led candidates hold, the rest quantify non-functionality.",
)
def dq_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_FD_SQL)


# ---------------------------------------------------------------------------
# Neyman allocation
# ---------------------------------------------------------------------------
# Neyman (JRSS 1934): for a fixed total sample budget n, the variance-
# minimizing stratified allocation is n_h = n * N_h*s_h / SUM(N_h*s_h).
# This is the DESIGN query a platform runs before sample_stratified:
# strata = event_type, s_h from the same integer-moment template as the
# stats tier (exact e3 sums; sd is one fixed-order sqrt), each stratum
# weight N_h*s_h quantized e3 BEFORE the cross-stratum sum so the
# denominator is an exact integer. Allocations are rounded per stratum
# (documented: they may sum to budget +- strata/2; a largest-remainder
# pass is presentation, not statistics).

_NEYMAN_BUDGET = 1000

_NEYMAN_SQL = f"""
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), arms AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type
    ), sd AS (
        SELECT event_type, n,
               CASE WHEN n > 1 THEN
                   CAST(ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE)
                                    * s1 / n) / (n - 1)) * 1000) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS sd_e6
        FROM arms
    ), w AS (
        SELECT event_type, n, sd_e6,
               CAST(ROUND(CAST(n AS DOUBLE) * sd_e6 / 1000) AS BIGINT)
                   AS w_e3
        FROM sd
    ), tot AS (
        SELECT CAST(SUM(w_e3) AS BIGINT) AS tw FROM w
    )
    SELECT w.event_type, w.n AS n_rows, w.sd_e6, w.w_e3,
           CASE WHEN t.tw > 0 THEN
               CAST(ROUND({_NEYMAN_BUDGET}.0e0 * w.w_e3 / t.tw) AS BIGINT)
           ELSE CAST(0 AS BIGINT) END AS alloc
    FROM w CROSS JOIN tot t
"""


@register(
    "sample_neyman_allocation",
    oracle=_NEYMAN_SQL,
    doc="Neyman (1934) optimal stratified-sampling allocation for a "
    "1000-row budget over event_type strata: n_h = n*N_h*s_h / "
    "SUM(N_h*s_h) — the design query behind sample_stratified. Stratum "
    "sd from the stats tier's exact e3 integer moments (one fixed-order "
    "sqrt, quantized e6); each weight N_h*s_h quantizes e3 BEFORE the "
    "cross-stratum sum so the denominator is an exact integer. One "
    "map-side-combinable pass; everything after is strata-sized.",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_NEYMAN_SQL)


# ---------------------------------------------------------------------------
# Funnel time-to-convert
# ---------------------------------------------------------------------------
# The latency complement of funnel_view_click_purchase's conversion
# COUNTS: per user, seconds from first 'view' to the first 'purchase'
# at-or-after it, then the distribution (mean / median / p90) of those
# deltas. Timestamps floor to whole epoch seconds PER EVENT on both
# engines (unix_timestamp truncates; FLOOR(epoch()) matches — the
# hour-counts equivalence at 1 s grain), so deltas and order
# statistics are exact integers; median/p90 are lower order statistics
# with user_id tie-break; only the mean divides, quantized e3.

_TTC_CORE = """
    , per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN sec END) AS v0
        FROM ev GROUP BY user_id
    ), conv AS (
        SELECT e.user_id, CAST(MIN(e.sec) - u.v0 AS BIGINT) AS delta_s
        FROM ev e JOIN per_user u ON u.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND u.v0 IS NOT NULL
          AND e.sec >= u.v0
        GROUP BY e.user_id, u.v0
    ), dhist AS (
        -- order statistics read off the LATENCY HISTOGRAM (the r11
        -- histogram rule, executed r12): the emitted median/p90 are
        -- VALUES, so ties share them and the old global
        -- (delta_s, user_id) ROW_NUMBER — one task sorting every
        -- converted user — is unnecessary
        SELECT delta_s, CAST(COUNT(*) AS BIGINT) AS c
        FROM conv GROUP BY delta_s
    ), dcum AS (
        SELECT delta_s,
               CAST(SUM(c) OVER (ORDER BY delta_s
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n_conv,
               CAST(SUM(delta_s * c) OVER () AS BIGINT) AS sum_s
        FROM dhist
    ), stats AS (
        SELECT MAX(n_conv) AS n_conv, MAX(sum_s) AS sum_s,
               MIN(CASE WHEN cum >= CAST(FLOOR((n_conv + 1) / 2.0e0)
                                         AS BIGINT)
                        THEN delta_s END) AS med,
               MIN(CASE WHEN cum >= CAST(CEIL(n_conv * 0.9e0) AS BIGINT)
                        THEN delta_s END) AS p90
        FROM dcum
    ), viewers AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_viewers
        FROM per_user WHERE v0 IS NOT NULL
    )
    SELECT v.n_viewers,
           s.n_conv,
           CAST(ROUND(CAST(s.n_conv AS DOUBLE) * 1000000 / v.n_viewers)
               AS BIGINT) AS conversion_e6,
           CAST(ROUND(CAST(s.sum_s AS DOUBLE) * 1000 / s.n_conv) AS BIGINT)
               AS mean_delta_ms,
           s.med AS median_delta_s,
           s.p90 AS p90_delta_s
    FROM stats s CROSS JOIN viewers v
    WHERE s.n_conv IS NOT NULL
"""

_TTC_EV = """
    WITH ev AS (
        SELECT user_id, event_type, CAST({d.epoch_whole_s} AS BIGINT) AS sec
        FROM events
    )
"""


@register(
    "funnel_time_to_convert",
    oracle=_TTC_EV.format(d=DUCK) + _TTC_CORE,
    doc="First-view -> first-subsequent-purchase latency distribution: "
    "per-user delta in EXACT integer seconds (per-event floor to epoch "
    "seconds on both engines — unix_timestamp truncation == "
    "FLOOR(epoch)), conversion rate, mean (quantized e3), and lower-"
    "order-statistic median/p90 with user_id tie-break. The latency "
    "complement of funnel_view_click_purchase's counts. Two shuffles "
    "keyed by user (first-view, first-purchase), then order statistics "
    "over the converted-user-sized relation.",
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_TTC_EV.format(d=SPARK) + _TTC_CORE)
