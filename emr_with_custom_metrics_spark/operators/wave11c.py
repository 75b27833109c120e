"""Round-11 wave 11c: control-chart, drift, and exact-inference tier.

The monitoring family (z-score/MAD outliers, CUSUM with a fixed
reference, seasonal residuals) flags single points; this wave adds the
pattern-based and inference-grade detectors an SRE/experimentation
platform runs beside them:

* ``spc_western_electric`` — the four Western Electric zone rules over
  each metric's hourly series, with every sigma comparison reduced to
  EXACT integer arithmetic (no division, no sqrt inside a rule).
* ``timeseries_page_hinkley`` — the Page-Hinkley mean-shift detector
  (running-mean form; the sequential companion of events_cusum_drift's
  fixed-reference form).
* ``stats_cvm_twosample`` — two-sample Cramér-von Mises per metric vs
  the pooled rest: the whole-CDF integral the KS max-statistic ignores.
* ``stats_permutation_test`` — exact randomization inference for the
  A/B mean difference via 200 DETERMINISTIC md5 re-randomizations of
  users (cluster-respecting), no distributional assumption at all.
* ``events_sessionize_batch`` — batch gap sessionization (islands via
  LAG + cumulative breaks) with a bounded session-length histogram and
  exact doubled-median session duration.
* ``stats_quantile_ci`` — distribution-free order-statistic 95% CI for
  each metric's median (the binomial rank bracket).

House discipline: rule/comparison algebra cross-multiplied into exact
integers wherever a sigma or mean would otherwise divide; per-term
quantization before any cross-term sum; engine split only for epoch
extraction and sequence explode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    _DENSE_HOURLY_X_BODY,
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Western Electric zone rules
# ---------------------------------------------------------------------------
# Rules over the dense hourly count series, sigma from the series' own
# sample moments. The trick that keeps everything exact: with
# d_t = v_t*n - s1 and A = n*s2 - s1^2 (so sd^2 = A/(n(n-1))),
#   v_t > mean + k*sd  <=>  d_t > 0  AND  d_t^2 * (n-1) > k^2 * n * A.
# Every zone membership is therefore an integer predicate — no sqrt, no
# division, no float ever enters a rule decision. Window counts then
# evaluate: R1 = 1 beyond 3sigma; R2 = 2 of 3 beyond 2sigma same side;
# R3 = 4 of 5 beyond 1sigma same side; R4 = 8 in a row same side.
# Partial leading windows never flag (t >= k-1 guards), per SPC custom.
#
# Overflow posture: d_t^2*(n-1) and 9nA stay in int64 while
# (v*n)^2*n < 2^63 — fine through ~40k-point series at 1e5-count hours;
# past that, promote the two comparison sides to DOUBLE (both are exact
# integers < 2^53 far beyond any calendar series).

_WE_CORE = f"""
    , series AS (
        {_DENSE_HOURLY_X_BODY}
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               CAST(SUM(v * v) AS BIGINT) AS s2
        FROM series GROUP BY event_type
    ), zoned AS (
        SELECT /*+ BROADCAST(m) */ s.event_type, s.t,
               CASE WHEN s.v * m.n - m.s1 > 0 THEN 1 ELSE 0 END AS ab0,
               CASE WHEN s.v * m.n - m.s1 < 0 THEN 1 ELSE 0 END AS be0,
               CASE WHEN s.v * m.n - m.s1 > 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 1 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS ab1,
               CASE WHEN s.v * m.n - m.s1 < 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 1 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS be1,
               CASE WHEN s.v * m.n - m.s1 > 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 4 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS ab2,
               CASE WHEN s.v * m.n - m.s1 < 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 4 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS be2,
               CASE WHEN s.v * m.n - m.s1 > 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 9 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS ab3,
               CASE WHEN s.v * m.n - m.s1 < 0
                     AND (s.v * m.n - m.s1) * (s.v * m.n - m.s1) * (m.n - 1)
                         > 9 * m.n * (m.n * m.s2 - m.s1 * m.s1)
                    THEN 1 ELSE 0 END AS be3
        FROM series s JOIN mom m ON s.event_type = m.event_type
    ), flags AS (
        SELECT event_type, t,
               CASE WHEN ab3 = 1 OR be3 = 1 THEN 1 ELSE 0 END AS r1,
               CASE WHEN t >= 2 AND
                     (SUM(ab2) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2
                      OR SUM(be2) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) >= 2)
                    THEN 1 ELSE 0 END AS r2,
               CASE WHEN t >= 4 AND
                     (SUM(ab1) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4
                      OR SUM(be1) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) >= 4)
                    THEN 1 ELSE 0 END AS r3,
               CASE WHEN t >= 7 AND
                     (SUM(ab0) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8
                      OR SUM(be0) OVER (PARTITION BY event_type ORDER BY t
                        ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) = 8)
                    THEN 1 ELSE 0 END AS r4
        FROM zoned
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(r1) AS BIGINT) AS rule1_points,
           CAST(SUM(r2) AS BIGINT) AS rule2_points,
           CAST(SUM(r3) AS BIGINT) AS rule3_points,
           CAST(SUM(r4) AS BIGINT) AS rule4_points,
           CAST(SUM(CASE WHEN r1 + r2 + r3 + r4 > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS flagged_points
    FROM flags GROUP BY event_type
"""


@register(
    "spc_western_electric",
    oracle=spine_from_counts(DUCK) + _WE_CORE,
    doc="Western Electric zone rules 1-4 per metric over the dense "
    "hourly series: every sigma-zone membership is an exact integer "
    "predicate via d^2(n-1) vs k^2 n A with d = v*n - s1, "
    "A = n*s2 - s1^2 (no sqrt/division inside any rule decision); the "
    "2-of-3 / 4-of-5 / 8-in-a-row patterns are window counts with "
    "partial leading windows suppressed. The pattern-detection layer "
    "the single-point outlier family (zscore/MAD) cannot express. "
    "Rides the staged hour-counts scan.",
)
def spc_western_electric(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _WE_CORE)


# ---------------------------------------------------------------------------
# Page-Hinkley drift detector
# ---------------------------------------------------------------------------
# PH for a mean INCREASE with running mean: M_T = sum_t (x_t - xbar_t),
# PH_T = max_t (M_t - min_{s<=t} M_s); alarm when PH clears lambda =
# 5 sd of the series (data-derived but a deterministic epilogue over
# exact moments). Each term x_t - xbar_t is quantized e6 in one
# fixed-order double step (xbar_t = S_t/(t+1) an exact rational), so
# the cumulative sums and the running min/max stay exact integers.
# events_cusum_drift detects shifts against a FIXED reference window;
# Page-Hinkley self-references the running mean, catching slow drifts
# the fixed-reference form normalizes away.

_PH_CORE = f"""
    , series AS (
        {_DENSE_HOURLY_X_BODY}
    ), cumsums AS (
        SELECT event_type, t, v,
               CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS srun
        FROM series
    ), terms AS (
        SELECT event_type, t,
               CAST(ROUND((v - CAST(srun AS DOUBLE) / (t + 1)) * 1000000)
                    AS BIGINT) AS term_e6
        FROM cumsums
    ), walk AS (
        SELECT event_type, t,
               CAST(SUM(term_e6) OVER (PARTITION BY event_type ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS m_e6
        FROM terms
    ), ph AS (
        SELECT event_type, t, m_e6,
               CAST(m_e6 - MIN(m_e6) OVER (PARTITION BY event_type ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ph_e6
        FROM walk
    ), best AS (
        SELECT event_type, t AS t_alarm, ph_e6,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY ph_e6 DESC, t) AS BIGINT) AS rk
        FROM ph
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               CAST(SUM(v * v) AS BIGINT) AS s2
        FROM series GROUP BY event_type
    )
    SELECT /*+ BROADCAST(m) */ b.event_type, m.n AS n_points, b.t_alarm, b.ph_e6,
           CAST(ROUND(5 * sqrt((CAST(m.s2 AS DOUBLE)
                                - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                               / (m.n - 1)) * 1000000) AS BIGINT)
               AS lambda_e6,
           b.ph_e6 > CAST(ROUND(5 * sqrt((CAST(m.s2 AS DOUBLE)
                                - CAST(m.s1 AS DOUBLE) * m.s1 / m.n)
                               / (m.n - 1)) * 1000000) AS BIGINT)
               AS drift_detected
    FROM best b JOIN mom m ON b.event_type = m.event_type
    WHERE b.rk = 1 AND m.n > 1
"""


@register(
    "timeseries_page_hinkley",
    oracle=spine_from_counts(DUCK) + _PH_CORE,
    doc="Page-Hinkley mean-shift detector per metric (running-mean "
    "form): per-point term x_t - runningmean_t quantized e6 in one "
    "fixed-order double step, cumulative walk and running-min/max as "
    "exact integers, alarm against the 5-sd lambda (deterministic "
    "epilogue over exact moments). Complements events_cusum_drift's "
    "fixed-reference CUSUM: the self-referencing form catches slow "
    "drifts the fixed window normalizes away. Earliest argmax reported.",
)
def timeseries_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _PH_CORE)


# ---------------------------------------------------------------------------
# Two-sample Cramér-von Mises
# ---------------------------------------------------------------------------
# Per metric vs all others pooled (the stats_ks_test pairing). T =
# n*m/N^2 * sum over pooled obs of (F1 - F2)^2; with the cross-
# multiplied numerator num_j = M_j*N - B_j*n every per-value term is
# l_j * num_j^2 / (N^2 n m) — num_j is an exact int but its square can
# pass 2^63, so the square is formed in double (num < 2^53 so the
# product is one correctly-rounded op), the term quantized e9, and the
# cross-value reduction is an exact integer sum. Rejection: the
# asymptotic 5% critical value 0.461 of the limiting omega^2 law.

_CVM_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), vals AS (
        SELECT v_e3, CAST(SUM(c) AS BIGINT) AS l
        FROM hist GROUP BY v_e3
    ), pooled AS (
        SELECT v_e3, l,
               CAST(SUM(l) OVER (ORDER BY v_e3 ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS b_cum,
               CAST(SUM(l) OVER () AS BIGINT) AS n_tot
        FROM vals
    ), focal AS (
        SELECT t.event_type, p.v_e3, p.l, p.b_cum, p.n_tot,
               CAST(COALESCE(SUM(h.c) OVER (PARTITION BY t.event_type
                    ORDER BY p.v_e3 ROWS UNBOUNDED PRECEDING), 0) AS BIGINT)
                   AS m_cum
        FROM (SELECT DISTINCT event_type FROM hist) t
        CROSS JOIN pooled p
        LEFT JOIN hist h ON h.event_type = t.event_type AND h.v_e3 = p.v_e3
    ), counts AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n_focal
        FROM hist GROUP BY event_type
    ), terms AS (
        SELECT f.event_type, c.n_focal,
               f.n_tot - c.n_focal AS m_rest,
               CAST(ROUND(CAST(f.m_cum * f.n_tot - f.b_cum * c.n_focal
                               AS DOUBLE)
                          * (f.m_cum * f.n_tot - f.b_cum * c.n_focal)
                          * f.l
                          / (CAST(f.n_tot AS DOUBLE) * f.n_tot)
                          / c.n_focal / (f.n_tot - c.n_focal)
                          * 1000000000) AS BIGINT) AS term_e9
        FROM focal f JOIN counts c ON f.event_type = c.event_type
        WHERE c.n_focal > 0 AND f.n_tot > c.n_focal
    )
    SELECT event_type, n_focal, m_rest,
           CAST(SUM(term_e9) AS BIGINT) AS t_cvm_e9,
           CAST(SUM(term_e9) AS BIGINT) > 461000000 AS reject_h0
    FROM terms GROUP BY event_type, n_focal, m_rest
"""


@register(
    "stats_cvm_twosample",
    oracle=_CVM_SQL,
    doc="Two-sample Cramér-von Mises per metric vs the pooled rest: "
    "the whole-CDF integral statistic beside stats_ks_test's max "
    "statistic (CvM sees diffuse distributional drift KS's single "
    "supremum misses). Cross-multiplied numerator M*N - B*n exact; its "
    "square formed in double (one correctly-rounded op — the exact "
    "product can pass 2^63), per-value term quantized e9, exact integer "
    "cross-value sum; asymptotic 5% critical 0.461 pinned. Histogram-"
    "bounded like every member of the distribution-test family.",
)
def stats_cvm_twosample(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` feeds vals, the metric spine, the
    # focal left join and counts — four inlined references, each
    # re-running the events scan + histogram.
    return stage_ctes(spark, _CVM_SQL, "hist")


# ---------------------------------------------------------------------------
# Deterministic permutation test
# ---------------------------------------------------------------------------
# Exact randomization inference with NO distributional assumption: the
# observed |mean_A - mean_B| per metric is compared against 200
# deterministic md5 re-randomizations of USERS (the actual
# randomization unit — permuting events would break the cluster
# structure and understate p). Every re-randomized diff is an exact
# rational (sA*nB - sB*nA)/(nA*nB); the exceedance compare cross-
# multiplies in double (both sides exact ints < 2^53, one correctly-
# rounded multiply each — deterministic on both engines).
# p = (1 + #exceed)/(B+1), the add-one permutation convention.
#
# Scale: the replication explode is events x B before one
# map-side-combinable groupBy(type, b, arm) — the same replicate
# pattern as stats_bootstrap_ci, shuffling only the 2*B*k sufficient
# statistics, never raw rows.

_PERM_B = 200

_PERM_TMPL = f"""
    WITH ubase AS (
        -- per-(metric, user) sufficient stats FIRST: the replicate
        -- explode and every md5 then run on user rows, not event rows
        -- (~events/user cheaper), and exactly one hash per (user, b)
        SELECT event_type, user_id,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT)) AS BIGINT) AS s
        FROM events GROUP BY event_type, user_id
    ), obs AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN (instr('0123456789abcdef', substring(md5(
                        concat('ab|', CAST(user_id AS STRING))), 1, 1)) - 1)
                        < 8 THEN c ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN (instr('0123456789abcdef', substring(md5(
                        concat('ab|', CAST(user_id AS STRING))), 1, 1)) - 1)
                        < 8 THEN s ELSE 0 END) AS BIGINT) AS s_a,
               CAST(SUM(CASE WHEN (instr('0123456789abcdef', substring(md5(
                        concat('ab|', CAST(user_id AS STRING))), 1, 1)) - 1)
                        >= 8 THEN c ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN (instr('0123456789abcdef', substring(md5(
                        concat('ab|', CAST(user_id AS STRING))), 1, 1)) - 1)
                        >= 8 THEN s ELSE 0 END) AS BIGINT) AS s_b
        FROM ubase GROUP BY event_type
    ), hashed AS (
        SELECT u.event_type, r.b, u.c, u.s,
               (instr('0123456789abcdef', substring(md5(
                    concat('perm|', CAST(r.b AS STRING), '|',
                           CAST(u.user_id AS STRING))), 1, 1)) - 1) AS nib
        FROM ubase u CROSS JOIN ({{seq}}) r
    ), reps AS (
        SELECT event_type, b,
               CAST(SUM(CASE WHEN nib < 8 THEN c ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN nib < 8 THEN s ELSE 0 END) AS BIGINT)
                   AS s_a,
               CAST(SUM(CASE WHEN nib >= 8 THEN c ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN nib >= 8 THEN s ELSE 0 END) AS BIGINT)
                   AS s_b
        FROM hashed GROUP BY event_type, b
    ), exceed AS (
        SELECT o.event_type, o.n_a, o.n_b,
               CAST(SUM(CASE WHEN r.n_a > 0 AND r.n_b > 0
                              AND ABS(CAST(r.s_a * r.n_b - r.s_b * r.n_a
                                           AS DOUBLE))
                                  * (o.n_a * o.n_b)
                                  >= ABS(CAST(o.s_a * o.n_b - o.s_b * o.n_a
                                              AS DOUBLE))
                                    * (r.n_a * r.n_b)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_exceed
        FROM obs o JOIN reps r ON o.event_type = r.event_type
        WHERE o.n_a > 0 AND o.n_b > 0
        GROUP BY o.event_type, o.n_a, o.n_b, o.s_a, o.s_b
    ), final AS (
        SELECT e.event_type, e.n_a, e.n_b, e.n_exceed,
               CAST(ROUND((CAST(o.s_a AS DOUBLE) / o.n_a
                           - CAST(o.s_b AS DOUBLE) / o.n_b) * 1000)
                    AS BIGINT) AS diff_obs_e6,
               CAST(ROUND(CAST(1 + e.n_exceed AS DOUBLE) / {_PERM_B + 1}
                          * 1000000) AS BIGINT) AS p_value_e6
        FROM exceed e JOIN obs o ON e.event_type = o.event_type
    )
    SELECT * FROM final
"""


def _perm_sql(d: Dialect) -> str:
    if d is SPARK:
        return _PERM_TMPL.format(seq=f"SELECT explode(sequence(0, {_PERM_B - 1})) AS b")
    return _PERM_TMPL.format(seq=f"SELECT UNNEST(RANGE({_PERM_B})) AS b")


@register(
    "stats_permutation_test",
    oracle=_perm_sql(DUCK),
    doc="Exact randomization test of the per-metric A/B mean difference: "
    "200 deterministic md5 re-randomizations of USERS (the true "
    "randomization unit — event-level shuffles would break cluster "
    "structure), every permuted diff an exact rational, exceedance "
    "cross-multiplied in double (both sides exact ints < 2^53), "
    "p = (1+k)/(B+1). Zero distributional assumptions — the ground "
    "truth the t-test approximates. One events x B explode into a "
    "map-side-combinable groupBy; only 2*B*k sufficient stats shuffle.",
)
def stats_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `ubase` feeds obs + the 200-replicate
    # explode, and `obs` feeds exceed + final — WITH-inlining re-ran
    # the events scan/group (and obs's per-user md5 pass) per
    # reference.
    return stage_ctes(spark, _perm_sql(SPARK), "ubase", "obs")


# ---------------------------------------------------------------------------
# Batch gap sessionization
# ---------------------------------------------------------------------------
# The batch counterpart of the streaming session_windows pair: sessions
# are islands split at >30 min inactivity (LAG + cumulative break
# count), reported as a bounded session-length histogram plus exact
# doubled-median session duration and sessions/user — the shape
# analytics warehouses materialize nightly.
#
# Scale: one shuffle by user for the LAG, one by (user, session) for
# per-session stats, then bounded aggregates. Per-user state only.

_SESS_TMPL = """
    WITH base AS (
        SELECT user_id, {d.epoch_us} AS us
        FROM events
    ), marked AS (
        SELECT user_id, us,
               CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                         > 1800000000
                      OR LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                         IS NULL
                    THEN 1 ELSE 0 END AS brk
        FROM base
    ), numbered AS (
        SELECT user_id, us,
               CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY us
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        FROM marked
    ), sessions AS (
        SELECT user_id, sess,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(MAX(us) - MIN(us) AS BIGINT) AS dur_us
        FROM numbered GROUP BY user_id, sess
    ), dhist AS (
        -- doubled median read off the DURATION HISTOGRAM (the r11
        -- histogram-order-statistic rule): the cum window runs over
        -- distinct durations, never a global ROW_NUMBER over every
        -- session through one task. Value-at-rank = first histogram
        -- value whose cumulative count reaches the rank; tie-break
        -- columns are unnecessary because tied rows share the value.
        SELECT dur_us, CAST(COUNT(*) AS BIGINT) AS c
        FROM sessions GROUP BY dur_us
    ), dcum AS (
        SELECT dur_us,
               CAST(SUM(c) OVER (ORDER BY dur_us
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(c) OVER () AS BIGINT) AS n_sessions
        FROM dhist
    ), med AS (
        SELECT CAST(MIN(CASE WHEN cum >= CAST(FLOOR((n_sessions + 1)
                                                    / 2.0e0) AS BIGINT)
                             THEN dur_us END)
                  + MIN(CASE WHEN cum >= CAST(FLOOR((n_sessions + 2)
                                                    / 2.0e0) AS BIGINT)
                             THEN dur_us END) AS BIGINT) AS med2_dur,
               MAX(n_sessions) AS n_sessions
        FROM dcum
    ), users AS (
        SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM sessions
    )
    SELECT s.n_events AS session_len,
           CAST(COUNT(*) AS BIGINT) AS n_sessions_at_len,
           m.n_sessions AS n_sessions_total,
           m.med2_dur AS median_duration_x2_us,
           u.n_users,
           CAST(ROUND(CAST(m.n_sessions AS DOUBLE) / u.n_users * 1000000)
                AS BIGINT) AS sessions_per_user_e6
    FROM sessions s CROSS JOIN med m CROSS JOIN users u
    GROUP BY s.n_events, m.n_sessions, m.med2_dur, u.n_users
"""


@register(
    "events_sessionize_batch",
    oracle=_SESS_TMPL.format(d=DUCK),
    doc="Batch gap sessionization (30-min inactivity islands via LAG + "
    "cumulative breaks — the batch counterpart of the streaming "
    "session_windows pair): bounded session-length histogram, exact "
    "doubled-median session duration in integer microseconds (read off "
    "the duration histogram, never a global per-session ROW_NUMBER — "
    "the r11 order-statistic rule), and sessions/user. One shuffle by "
    "user, one by (user, session), per-user state only.",
)
def events_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SESS_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Order-statistic CI for the median
# ---------------------------------------------------------------------------
# Distribution-free 95% CI for each metric's median: the binomial rank
# bracket l = floor((n - 1.96*sqrt(n))/2), u = ceil(1 + (n +
# 1.96*sqrt(n))/2) clamped to [1, n]; the interval is (v_(l), v_(u))
# over exact order statistics. No variance estimate, no normality of
# the DATA assumed (only the binomial normal approximation on ranks).

_QCI_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), vals AS (
        -- order statistics read off the per-metric value HISTOGRAM
        -- (map-side combinable), not a per-group ROW_NUMBER sort: the
        -- round-11 x10 probe measured the sort form at 3.6x for 10x
        -- data (each metric's rows order on one task); the histogram
        -- pick is value-domain-bounded and answer-identical
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), cum AS (
        SELECT event_type, v_e3,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v_e3
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM vals
    ), bounds AS (
        SELECT event_type, n,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(FLOOR((n - CAST(1.96 AS DOUBLE) * sqrt(n))
                                   / 2.0e0) AS BIGINT)) AS l_rank,
               LEAST(n,
                     CAST(-FLOOR(-(1 + (n + CAST(1.96 AS DOUBLE) * sqrt(n))
                                   / 2.0e0)) AS BIGINT)) AS u_rank
        FROM (SELECT DISTINCT event_type, n FROM cum) g
    )
    SELECT b.event_type, b.n, b.l_rank, b.u_rank,
           CAST(MIN(CASE WHEN c.cw >= CAST(FLOOR((b.n + 1) / 2.0e0)
                                           AS BIGINT)
                         THEN c.v_e3 END)
              + MIN(CASE WHEN c.cw >= CAST(FLOOR((b.n + 2) / 2.0e0)
                                           AS BIGINT)
                         THEN c.v_e3 END) AS BIGINT) AS median_x2_e3,
           CAST(MIN(CASE WHEN c.cw >= b.l_rank THEN c.v_e3 END)
                AS BIGINT) AS ci_lo_e3,
           CAST(MIN(CASE WHEN c.cw >= b.u_rank THEN c.v_e3 END)
                AS BIGINT) AS ci_hi_e3
    FROM bounds b JOIN cum c ON c.event_type = b.event_type
    GROUP BY b.event_type, b.n, b.l_rank, b.u_rank
"""


@register(
    "stats_quantile_ci",
    oracle=_QCI_SQL,
    doc="Distribution-free order-statistic 95% CI for each metric's "
    "median: binomial rank bracket floor((n - 1.96 sqrt n)/2) / "
    "ceil(1 + (n + 1.96 sqrt n)/2) clamped to [1, n], interval read off "
    "exact order statistics (ceil spelled -FLOOR(-x) for dialect "
    "parity), doubled-median convention for the point estimate. The "
    "median's answer to stats_bootstrap_ci without any resampling.",
)
def stats_quantile_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_QCI_SQL)
