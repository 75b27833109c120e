"""Round-10 wave 10a: causal-inference + distribution-test tier.

The A/B tier (t-test, CUPED, MWU, ANOVA, chi-square, SRM, power) covers
"did the mean move"; this wave adds what an experimentation platform
needs beyond mean shifts — distribution equality, equivalence (not just
difference), confounder-adjusted effects, and robust rank/trend
statistics:

* ``stats_ks_test`` — two-sample Kolmogorov-Smirnov D per metric (that
  metric's value distribution vs all others pooled), exact via
  cross-multiplied integer CDFs.
* ``stats_tost_equivalence`` — TOST equivalence testing (Schuirmann
  1987): the two one-sided Welch t-statistics against a +/-2%-of-mean
  margin; "no difference detected" upgraded to "equivalence shown".
* ``stats_cmh_stratified`` — Cochran-Mantel-Haenszel test of the
  arm x purchase 2x2 association stratified by day-of-week, the
  Simpson's-paradox-proof pooled test.
* ``events_did_estimator`` — difference-in-differences over the
  (treat x post) 2x2 cell means, the workhorse quasi-experimental
  estimator.
* ``stats_stratified_ate`` — hour-of-day-stratified average treatment
  effect (propensity stratification with a deterministic assignment:
  exact-weight IPW when propensity is stratum-constant), vs the naive
  unadjusted difference.
* ``stats_spearman_corr`` — Spearman rank correlation via the doubled
  tie-averaged-rank trick (rank moments stay exact integers).
* ``stats_mann_kendall_trend`` — the Mann-Kendall monotone-trend test
  with tie-corrected variance over per-metric daily counts.

House discipline throughout: ONE SQL text for both engines wherever
the dialects agree (engine splits only for epoch extraction), exact
integer reductions before any double, fixed-order double epilogues
quantized to BIGINT, and CASE guards on every data-derived denominator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import _ARM
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------
# D = max_x |F1(x) - F2(x)| over the pooled support. Both empirical
# CDFs are integer cumulative counts over the shared 1e-3 value
# histogram, so D's numerator is the exact integer
# max |cum1 * n2 - cum2 * n1| (cross-multiplied — no division until the
# single final epilogue). The asymptotic statistic lambda =
# D * sqrt(n1*n2/(n1+n2)) uses only correctly-rounded ops (divide,
# sqrt, multiply) over exact integers, so it is bit-identical across
# engines; significance is the integer compare lambda_e6 > 1358102
# (the alpha=0.05 critical value 1.3581015...).
#
# Scale: the only data-sized stage is the map-side-combinable
# (metric, value) histogram; the focal-metric cross join multiplies the
# BOUNDED histogram by the metric count, never the events. Overflow:
# cum*n <= n1*n2 — fine through ~3e9 rows; beyond that, promote the
# cross-product to DOUBLE (loses nothing: D only needs the argmax).

_KS_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), merged AS (
        SELECT f.event_type, h.v_e3,
               CAST(SUM(CASE WHEN h.event_type = f.event_type
                             THEN h.c ELSE 0 END) AS BIGINT) AS c1,
               CAST(SUM(CASE WHEN h.event_type <> f.event_type
                             THEN h.c ELSE 0 END) AS BIGINT) AS c2
        FROM hist h
        CROSS JOIN (SELECT DISTINCT event_type FROM hist) f
        GROUP BY f.event_type, h.v_e3
    ), cum AS (
        SELECT event_type, v_e3,
               CAST(SUM(c1) OVER (PARTITION BY event_type
                                  ORDER BY v_e3) AS BIGINT) AS f1,
               CAST(SUM(c2) OVER (PARTITION BY event_type
                                  ORDER BY v_e3) AS BIGINT) AS f2
        FROM merged
    ), tot AS (
        SELECT event_type,
               CAST(SUM(c1) AS BIGINT) AS n1,
               CAST(SUM(c2) AS BIGINT) AS n2
        FROM merged GROUP BY event_type
    ), d AS (
        SELECT c.event_type,
               CAST(MAX(ABS(c.f1 * t.n2 - c.f2 * t.n1)) AS BIGINT) AS d_num,
               CAST(MAX(t.n1) AS BIGINT) AS n1,
               CAST(MAX(t.n2) AS BIGINT) AS n2
        FROM cum c JOIN tot t ON c.event_type = t.event_type
        GROUP BY c.event_type
    ), stat AS (
        SELECT event_type, n1, n2,
               CAST(ROUND(CAST(d_num AS DOUBLE) / (CAST(n1 AS DOUBLE) * n2)
                          * 1000000000) AS BIGINT) AS d_e9,
               CASE WHEN n1 > 0 AND n2 > 0
                    THEN CAST(ROUND(CAST(d_num AS DOUBLE)
                               / (CAST(n1 AS DOUBLE) * n2)
                               * sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2))
                               * 1000000) AS BIGINT)
                    ELSE 0 END AS lambda_e6
        FROM d
        WHERE n1 > 0 AND n2 > 0
    )
    SELECT event_type, n1, n2, d_e9, lambda_e6,
           lambda_e6 > 1358102 AS reject_h0
    FROM stat
"""


@register(
    "stats_ks_test",
    oracle=_KS_SQL,
    doc="Two-sample Kolmogorov-Smirnov test per metric: the metric's "
    "value distribution vs all other metrics pooled. D's numerator is "
    "the exact integer max|cum1*n2 - cum2*n1| over the shared 1e-3 "
    "value histogram (cross-multiplied CDFs — no division inside the "
    "max); lambda = D*sqrt(n1*n2/(n1+n2)) is one fixed-order epilogue "
    "of correctly-rounded ops, and rejection is the integer compare "
    "against the quantized alpha=.05 critical value 1.3581. Only "
    "data-sized stage: the map-side-combinable value histogram; the "
    "focal cross join runs on the bounded histogram. Posture: cum*n "
    "stays in int64 through ~3e9 rows/metric; past that promote the "
    "cross-product to DOUBLE (argmax is unaffected).",
)
def stats_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_KS_SQL)


# ---------------------------------------------------------------------------
# TOST equivalence
# ---------------------------------------------------------------------------
# Schuirmann's two one-sided tests: H0 "the arms differ by more than
# the margin" is rejected (equivalence SHOWN) iff
# t_lower = (diff + delta)/se > z  AND  t_upper = (diff - delta)/se < -z
# at z = 1.645 (alpha=.05 one-sided; Welch df is huge here so the
# normal critical value is the house convention, as in the t-test's
# 1.96). Margin delta = 2% of the pooled mean — data-derived but an
# exact rational over integer sums. Same md5-nibble arms, same
# (type, arm) sufficient statistics as stats_ab_ttest: the map side
# emits ten (n, sum, sumsq) triples and nothing else.

_TOST_SQL = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), arms AS (
        SELECT event_type, arm,
               COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type, arm
    ), stats AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n
                   AS diff_e3,
               -- r10 ADVICE: ABS — a zero/negative pooled mean would give a
               -- non-positive margin, making `equivalent` structurally
               -- unreachable with no signal; margin_valid surfaces that case.
               ABS(CAST(a.s1 + b.s1 AS DOUBLE) / (a.n + b.n))
                   * CAST(0.02 AS DOUBLE) AS delta_e3,
               (a.s1 + b.s1) <> 0 AS margin_valid,
               ((CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   / (a.n - 1)) / a.n
             + ((CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n)
                   / (b.n - 1)) / b.n AS se2_e6
        FROM arms a JOIN arms b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n > 1 AND b.n > 1
    )
    SELECT event_type, n_a, n_b,
           CAST(ROUND(diff_e3 * 1000) AS BIGINT) AS diff_e6,
           CAST(ROUND(delta_e3 * 1000) AS BIGINT) AS margin_e6,
           margin_valid,
           CASE WHEN se2_e6 > 0
                THEN CAST(ROUND((diff_e3 + delta_e3) / sqrt(se2_e6) * 1000000)
                     AS BIGINT) ELSE 0 END AS t_lower_e6,
           CASE WHEN se2_e6 > 0
                THEN CAST(ROUND((diff_e3 - delta_e3) / sqrt(se2_e6) * 1000000)
                     AS BIGINT) ELSE 0 END AS t_upper_e6,
           CASE WHEN se2_e6 > 0
                THEN (diff_e3 + delta_e3) / sqrt(se2_e6) > CAST(1.645 AS DOUBLE)
                     AND (diff_e3 - delta_e3) / sqrt(se2_e6)
                         < CAST(-1.645 AS DOUBLE)
                ELSE FALSE END AS equivalent
    FROM stats
"""


@register(
    "stats_tost_equivalence",
    oracle=_TOST_SQL,
    doc="TOST equivalence test (Schuirmann 1987) per metric over the "
    "md5-nibble 50/50 arms: both one-sided Welch statistics against a "
    "+/-2%-of-pooled-mean margin; equivalence shown iff t_lower > "
    "1.645 AND t_upper < -1.645. Upgrades 'not significant' to "
    "'equivalent' — the missing half of the A/B readout. The margin "
    "takes ABS of the pooled mean and margin_valid flags a zero pooled "
    "mean, where equivalence is structurally undecidable (r10 ADVICE). "
    "Same "
    "(type, arm) sufficient-statistics shape as stats_ab_ttest: the "
    "shuffle carries ten (n, sum, sumsq) triples; margin and SE are "
    "fixed-order doubles over exact integer sums, quantized e6.",
)
def stats_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_TOST_SQL)


# ---------------------------------------------------------------------------
# Cochran-Mantel-Haenszel
# ---------------------------------------------------------------------------
# Pooled 2x2 association (arm x purchase) across K = 7 day-of-week
# strata: CMH = (|sum(a_k - E_k)| - 0.5)^2 / sum(V_k), E_k =
# n1k*m1k/Nk, V_k = n1k*n0k*m1k*m0k / (Nk^2 (Nk-1)). Counts are exact
# integers; E_k and V_k quantize to e6 PER STRATUM (V_k's numerator is
# ~N^4 — int64 overflows at N ~ 55k, so the product is formed in
# fixed-order double from exact ints), making the cross-stratum sums
# exact integer reductions; the final ratio is one guarded division
# compared against the quantized chi2(1) critical value 3.841459.
# Day-of-week comes from pure epoch arithmetic — the ONLY engine split
# (unix_timestamp vs epoch) — so no calendar/locale function can drift.

_CMH_CORE = """
    , cells AS (
        SELECT dow, arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s
        FROM base GROUP BY dow, arm
    ), strata AS (
        SELECT a.dow,
               a.s AS a_k,
               a.n AS n1k, b.n AS n0k,
               a.s + b.s AS m1k,
               a.n + b.n - a.s - b.s AS m0k,
               a.n + b.n AS nk
        FROM cells a JOIN cells b ON a.dow = b.dow
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n + b.n > 1
    ), terms AS (
        SELECT dow, a_k,
               -- single-arg ROUND only: the two-arg double form is the
               -- known cross-engine red-row class (round-7 lesson)
               CAST(ROUND((CAST(a_k AS DOUBLE)
                           - CAST(n1k AS DOUBLE) * m1k / nk) * 1000000)
                    AS BIGINT) AS dev_e6,
               CAST(ROUND((CAST(n1k AS DOUBLE) * n0k)
                          * (CAST(m1k AS DOUBLE) * m0k)
                          / ((CAST(nk AS DOUBLE) * nk) * (nk - 1)) * 1000000)
                    AS BIGINT) AS v_e6
        FROM strata
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(a_k) AS BIGINT) AS sum_a,
               CAST(SUM(dev_e6) AS BIGINT) AS dev_sum_e6,
               CAST(SUM(v_e6) AS BIGINT) AS v_sum_e6
        FROM terms
    )
    SELECT n_strata, sum_a, dev_sum_e6, v_sum_e6,
           CASE WHEN v_sum_e6 > 0
                THEN CAST(ROUND(
                    (ABS(CAST(dev_sum_e6 AS DOUBLE) / 1000000)
                        - CAST(0.5 AS DOUBLE))
                    * (ABS(CAST(dev_sum_e6 AS DOUBLE) / 1000000)
                        - CAST(0.5 AS DOUBLE))
                    / (CAST(v_sum_e6 AS DOUBLE) / 1000000) * 1000000)
                    AS BIGINT)
                ELSE 0 END AS cmh_e6,
           CASE WHEN v_sum_e6 > 0
                THEN (ABS(CAST(dev_sum_e6 AS DOUBLE) / 1000000)
                         - CAST(0.5 AS DOUBLE))
                     * (ABS(CAST(dev_sum_e6 AS DOUBLE) / 1000000)
                         - CAST(0.5 AS DOUBLE))
                     / (CAST(v_sum_e6 AS DOUBLE) / 1000000)
                     > CAST(3.841459 AS DOUBLE)
                ELSE FALSE END AS significant
    FROM agg
"""

_CMH_BASE = """
    WITH base AS (
        SELECT {d.epoch_day} % 7 AS dow,
               {arm} AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    )
"""


@register(
    "stats_cmh_stratified",
    oracle=_CMH_BASE.format(d=DUCK, arm=_ARM) + _CMH_CORE,
    doc="Cochran-Mantel-Haenszel test of the arm x purchase 2x2 "
    "association pooled over 7 day-of-week strata (epoch-arithmetic "
    "dow — the only engine split; no calendar function can drift). "
    "Per-stratum deviation a_k - E_k and hypergeometric variance V_k "
    "quantize e6 from fixed-order doubles over exact counts (V_k's "
    "~N^4 numerator would overflow int64 at N ~ 55k), so both "
    "cross-stratum sums are exact integer reductions; the continuity-"
    "corrected statistic is one guarded division vs chi2(1) = 3.8415. "
    "The map side emits 28 (dow, arm) cells — nothing data-sized "
    "survives the first aggregate.",
)
def stats_cmh_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CMH_BASE.format(d=SPARK, arm=_ARM) + _CMH_CORE)


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------
# The quasi-experimental workhorse: treat = md5-nibble arm, post =
# second half of the observation window (epoch midpoint — exact
# integer from MIN/MAX), outcome = mean metric value. DiD =
# (T,post - T,pre) - (C,post - C,pre), computed from four exact
# (sum, n) cells per metric; each cell mean is one division quantized
# e6 and DiD is exact integer arithmetic over the quantized means.

_DID_CORE = """
    , bounds AS (
        SELECT CAST(FLOOR((MIN(es) + MAX(es)) / 2.0) AS BIGINT) AS mid
        FROM base
    ), cells AS (
        SELECT b.event_type, b.treat,
               CASE WHEN b.es >= bo.mid THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(b.v_e3) AS BIGINT) AS s
        FROM base b CROSS JOIN bounds bo
        GROUP BY b.event_type, b.treat,
                 CASE WHEN b.es >= bo.mid THEN 1 ELSE 0 END
    ), means AS (
        SELECT event_type, treat, post, n,
               CAST(ROUND(CAST(s AS DOUBLE) / n * 1000) AS BIGINT) AS mean_e6
        FROM cells WHERE n > 0
    ), wide AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN treat = 1 AND post = 0 THEN mean_e6 END)
                    AS BIGINT) AS t_pre_e6,
               CAST(MAX(CASE WHEN treat = 1 AND post = 1 THEN mean_e6 END)
                    AS BIGINT) AS t_post_e6,
               CAST(MAX(CASE WHEN treat = 0 AND post = 0 THEN mean_e6 END)
                    AS BIGINT) AS c_pre_e6,
               CAST(MAX(CASE WHEN treat = 0 AND post = 1 THEN mean_e6 END)
                    AS BIGINT) AS c_post_e6,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM means GROUP BY event_type
    )
    SELECT event_type, n_total, t_pre_e6, t_post_e6, c_pre_e6, c_post_e6,
           (t_post_e6 - t_pre_e6) - (c_post_e6 - c_pre_e6) AS did_e6
    FROM wide
    WHERE t_pre_e6 IS NOT NULL AND t_post_e6 IS NOT NULL
      AND c_pre_e6 IS NOT NULL AND c_post_e6 IS NOT NULL
"""

_DID_BASE = """
    WITH base AS (
        SELECT event_type,
               CASE WHEN {arm} = 'A' THEN 1 ELSE 0 END AS treat,
               CAST(FLOOR({d.epoch_s}) AS BIGINT) AS es,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    )
"""


@register(
    "events_did_estimator",
    oracle=_DID_BASE.format(d=DUCK, arm=_ARM) + _DID_CORE,
    doc="Difference-in-differences per metric: treat = md5-nibble arm, "
    "post = second half of the observation window (integer epoch "
    "midpoint from MIN/MAX — engine split only on epoch extraction), "
    "DiD = (T_post - T_pre) - (C_post - C_pre) over e6-quantized cell "
    "means. Four exact (n, sum) cells per metric is all the shuffle "
    "carries; rows missing any cell are dropped rather than NULL-"
    "propagated. At 100 TB: one map-side-combinable aggregate to 20 "
    "cells, then arithmetic.",
)
def events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_DID_BASE.format(d=SPARK, arm=_ARM) + _DID_CORE)


# ---------------------------------------------------------------------------
# Stratified ATE
# ---------------------------------------------------------------------------
# Hour-of-day stratification: within stratum s the deterministic
# assignment makes propensity stratum-constant, so the exact-weight
# IPW estimator collapses to the stratified difference-in-means
# ATE = sum_s (n_s/N) * (mean_T,s - mean_C,s). Per-stratum diffs
# quantize e6; the n_s-weighted combination is then an exact integer
# sum with ONE final division. The naive (unstratified) difference is
# reported beside it — the adjustment delta is the confounding signal.

_ATE_CORE = """
    , cells AS (
        SELECT event_type, hod, treat,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s
        FROM base GROUP BY event_type, hod, treat
    ), strata AS (
        SELECT t.event_type, t.hod,
               t.n + c.n AS n_s,
               CAST(ROUND((CAST(t.s AS DOUBLE) / t.n
                           - CAST(c.s AS DOUBLE) / c.n) * 1000) AS BIGINT)
                   AS diff_e6
        FROM cells t JOIN cells c
          ON t.event_type = c.event_type AND t.hod = c.hod
        WHERE t.treat = 1 AND c.treat = 0 AND t.n > 0 AND c.n > 0
    ), ate AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM(n_s) AS BIGINT) AS n_used,
               CAST(SUM(n_s * diff_e6) AS BIGINT) AS w_sum
        FROM strata GROUP BY event_type
    ), naive AS (
        SELECT event_type,
               CAST(ROUND((CAST(SUM(CASE WHEN treat = 1 THEN v_e3 END)
                                AS DOUBLE)
                               / SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END)
                           - CAST(SUM(CASE WHEN treat = 0 THEN v_e3 END)
                                  AS DOUBLE)
                               / SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END))
                          * 1000) AS BIGINT) AS naive_diff_e6
        FROM base
        GROUP BY event_type
        HAVING SUM(CASE WHEN treat = 1 THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN treat = 0 THEN 1 ELSE 0 END) > 0
    )
    SELECT a.event_type, a.n_strata, a.n_used,
           CASE WHEN a.n_used > 0
                THEN CAST(ROUND(CAST(a.w_sum AS DOUBLE) / a.n_used) AS BIGINT)
                ELSE 0 END AS ate_e6,
           n.naive_diff_e6
    FROM ate a JOIN naive n ON a.event_type = n.event_type
"""

_ATE_BASE = """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR({d.epoch_s} / 3600) AS BIGINT) % 24 AS hod,
               CASE WHEN {arm} = 'A' THEN 1 ELSE 0 END AS treat,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    )
"""


@register(
    "stats_stratified_ate",
    oracle=_ATE_BASE.format(d=DUCK, arm=_ARM) + _ATE_CORE,
    doc="Hour-of-day-stratified average treatment effect per metric: "
    "with the deterministic md5 assignment the propensity is stratum-"
    "constant, so exact-weight IPW reduces to the stratified "
    "difference-in-means sum_s (n_s/N)(mean_T,s - mean_C,s); per-"
    "stratum diffs quantize e6, the weighted combination is an exact "
    "integer sum with one final division, and the naive unadjusted "
    "difference sits beside it as the confounding readout. Shuffle "
    "carries 48 (hour, arm) sufficient-statistic cells per metric.",
)
def stats_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ATE_BASE.format(d=SPARK, arm=_ARM) + _ATE_CORE)


# ---------------------------------------------------------------------------
# Spearman rank correlation
# ---------------------------------------------------------------------------
# rho = Pearson over tie-averaged ranks. Ranks are carried DOUBLED
# (2*avg_rank = 2*cum_before + c + 1 — the ml_eval_auc_pr identity) so
# every rank is an exact integer, then CENTERED by the exact doubled
# mean n+1 (sum of doubled avg-ranks is exactly n(n+1)), so the three
# moments sum |d| <= n values: sum d^2 <= n^3 stays in int64 through
# ~2e6 rows/group. The epilogue sxy/sqrt(sxx*syy) multiplies the two
# exact int64 moments in fixed-order double (product may exceed 2^63 —
# intentional: doubles lose no ordering for sqrt) and is quantized e9.
# Posture past 2e6 rows/group: halve the doubled ranks into even
# buckets (rank >> k) — rho is rank-scale-invariant.

_SPEARMAN_SQL = """
    WITH li AS (
        SELECT l_returnflag AS flag,
               CAST(l_quantity AS BIGINT) AS q,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS p
        FROM lineitem
    ), tot AS (
        SELECT flag, CAST(COUNT(*) AS BIGINT) AS n FROM li GROUP BY flag
    ), qr AS (
        SELECT flag, q,
               2 * CAST(COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY q
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) + c + 1 AS r2
        FROM (SELECT flag, q, CAST(COUNT(*) AS BIGINT) AS c
              FROM li GROUP BY flag, q)
    ), pr AS (
        SELECT flag, p,
               2 * CAST(COALESCE(SUM(c) OVER (PARTITION BY flag ORDER BY p
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) + c + 1 AS r2
        FROM (SELECT flag, p, CAST(COUNT(*) AS BIGINT) AS c
              FROM li GROUP BY flag, p)
    ), j AS (
        -- r16 BROADCAST (guide §3.1, lost-statistics audit): qr is the
        -- quantity rank map (domain-bounded, |flags| x 50 rows) and tot
        -- is one row per flag. pr (price histogram) is data-sized and
        -- keeps the sort-merge shuffle deliberately.
        SELECT /*+ BROADCAST(qr), BROADCAST(t) */ li.flag,
               qr.r2 - (t.n + 1) AS dx,
               pr.r2 - (t.n + 1) AS dy,
               t.n
        FROM li
        JOIN qr ON li.flag = qr.flag AND li.q = qr.q
        JOIN pr ON li.flag = pr.flag AND li.p = pr.p
        JOIN tot t ON li.flag = t.flag
    ), m AS (
        SELECT flag, CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx,
               CAST(SUM(dy * dy) AS BIGINT) AS syy
        FROM j GROUP BY flag
    )
    SELECT flag, n,
           CASE WHEN sxx > 0 AND syy > 0
                THEN CAST(ROUND(CAST(sxy AS DOUBLE)
                           / sqrt(CAST(sxx AS DOUBLE) * syy)
                           * 1000000000) AS BIGINT)
                ELSE 0 END AS spearman_e9
    FROM m
"""


@register(
    "stats_spearman_corr",
    oracle=_SPEARMAN_SQL,
    doc="Spearman rank correlation of lineitem quantity vs extended "
    "price per return flag: tie-averaged ranks carried DOUBLED (the "
    "AUC rank identity) and centered by the exact doubled mean n+1, so "
    "all three moments are exact int64 sums (|d| <= n keeps sum d^2 < "
    "2^63 through ~2e6 rows/group; past that, right-shift the doubled "
    "ranks — rho is rank-scale-invariant). Epilogue sxy/sqrt(sxx*syy) "
    "is one fixed-order double quantized e9. Two bounded rank maps "
    "join back to rows — one data-sized shuffle each, then a "
    "5-integer-per-group reduction.",
)
def stats_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    # Opt r15 (guide §2.4): the quantized li projection feeds FOUR
    # branches (tot, both rank maps, the join-back) and Spark's
    # WITH-inlining re-scanned lineitem per branch (4 scans in
    # plans/r15/stats_spearman_corr_before.txt).
    return stage_ctes(spark, _SPEARMAN_SQL, "li")


# ---------------------------------------------------------------------------
# Mann-Kendall trend test
# ---------------------------------------------------------------------------
# The standard nonparametric monotone-trend test over each metric's
# DAILY count series (~30 points — the pairwise double loop is
# calendar-bounded, the changepoint/matrix-profile precedent):
# S = sum_{i<j} sign(c_j - c_i), Var(S) = [n(n-1)(2n+5)
# - sum_t t(t-1)(2t+5)]/18 with tie groups t, z = (S -+ 1)/sqrt(Var).
# Everything before the single z division is exact integer arithmetic.

_MK_CORE = """
    , daily AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY event_type, d
    ), s AS (
        SELECT a.event_type,
               CAST(SUM(SIGN(b.cnt - a.cnt)) AS BIGINT) AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND b.d > a.d
        GROUP BY a.event_type
    ), nn AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM daily GROUP BY event_type
    ), ties AS (
        SELECT event_type,
               CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT event_type, cnt, CAST(COUNT(*) AS BIGINT) AS t
              FROM daily GROUP BY event_type, cnt)
        GROUP BY event_type
    ), var_s AS (
        SELECT n.event_type, n.n, s.s_stat,
               CAST(n.n * (n.n - 1) * (2 * n.n + 5) - t.tie_term AS BIGINT)
                   AS var18
        FROM nn n
        JOIN s ON n.event_type = s.event_type
        JOIN ties t ON n.event_type = t.event_type
    )
    SELECT event_type, n AS n_days, s_stat,
           CASE WHEN var18 > 0
                THEN CAST(ROUND(
                    (CASE WHEN s_stat > 0 THEN s_stat - 1
                          WHEN s_stat < 0 THEN s_stat + 1
                          ELSE 0 END)
                    / sqrt(CAST(var18 AS DOUBLE) / 18) * 1000000) AS BIGINT)
                ELSE 0 END AS z_e6,
           CASE WHEN s_stat > 0 THEN 'increasing'
                WHEN s_stat < 0 THEN 'decreasing'
                ELSE 'none' END AS direction
    FROM var_s
"""

_MK_BASE = """
    WITH base AS (
        SELECT event_type, {d.epoch_day} AS d
        FROM events
    )
"""


@register(
    "stats_mann_kendall_trend",
    oracle=_MK_BASE.format(d=DUCK) + _MK_CORE,
    doc="Mann-Kendall monotone-trend test per metric over the daily "
    "count series: S = sum of pairwise signs, tie-corrected variance "
    "[n(n-1)(2n+5) - sum t(t-1)(2t+5)]/18, continuity-corrected z — "
    "all exact integers until the one z division quantized e6. The "
    "pairwise join runs on the calendar-bounded ~30-row daily "
    "aggregate (the changepoint precedent); events reduce map-side to "
    "(metric, day) counts and are never re-scanned.",
)
def stats_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MK_BASE.format(d=SPARK) + _MK_CORE)
