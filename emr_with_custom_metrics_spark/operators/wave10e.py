"""Round-10 wave 10e: diagnostics the earlier test tiers presuppose.

Each of these is the CHECK a methodologically honest platform runs
before trusting an earlier query's assumption:

* ``stats_brown_forsythe`` — variance-homogeneity test (Brown &
  Forsythe 1974: Levene on |x − median|), the documented caveat of
  ``stats_anova_oneway`` made measurable.
* ``stats_ljung_box`` — portmanteau whiteness test over the first 12
  ACF lags; the formal answer to "is there structure left" after the
  decomposition/forecast family.
* ``ml_brier_decomposition`` — Murphy (1973) decomposition of the
  Brier score into reliability − resolution + uncertainty, with
  calibration learned on one half (by event-id parity) and scored on
  the other — the honest train/test version of ml_calibration_bins.
* ``events_entropy_rate`` — Markov entropy rate of the user journey
  chain (per-state conditional entropies + the rate), quantifying how
  predictable the transition matrix actually is.
* ``timeseries_granger_lite`` — lag-1 Granger test for every ordered
  metric pair: restricted vs unrestricted OLS via exact-integer
  moments and Cramer's rule (the ar2_forecast machinery, one more
  regressor), F-flagged.

Discipline: exact integer moments, per-cell quantization immediately
after every ln, fixed-order double epilogues, guards on data-derived
denominators and determinants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    _ACF_DUCK,
    _ACF_SPARK,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Brown-Forsythe (Levene-median) variance homogeneity
# ---------------------------------------------------------------------------
# z_ij = |x_ij - med_j| stays an exact e3 integer (median is an exact
# order statistic with (value, event_id) rank ties), then the ANOVA
# machinery runs on z: per-group Σz²/n quantized to BIGINT before the
# cross-group sum (the anova sqm_q pattern), one F epilogue.

_BF_SQL = """
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), r AS (
        SELECT event_type, v_e3,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY v_e3, event_id) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM base
    ), med AS (
        SELECT event_type,
               CAST(MAX(CASE WHEN rn = CAST(FLOOR((n * 50 + 99) / 100.0e0)
                                            AS BIGINT)
                             THEN v_e3 END) AS BIGINT) AS med_e3
        FROM r GROUP BY event_type
    ), z AS (
        SELECT b.event_type, ABS(b.v_e3 - m.med_e3) AS z_e3
        FROM base b JOIN med m ON b.event_type = m.event_type
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z_e3) AS BIGINT) AS s1,
               CAST(SUM(z_e3 * z_e3) AS BIGINT) AS s2,
               CAST(ROUND(CAST(SUM(z_e3) AS DOUBLE) * SUM(z_e3)
                    / COUNT(*)) AS BIGINT) AS sqm_q
        FROM z GROUP BY event_type
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s1) AS BIGINT) AS ts1,
               CAST(SUM(s2) AS BIGINT) AS ts2,
               CAST(CAST(SUM(sqm_q) AS BIGINT) AS DOUBLE) AS sum_sq_means
        FROM g
    ), ss_guard AS (
        SELECT * FROM tot WHERE nn > k AND k > 1
    ), ss AS (
        SELECT k, nn,
               (sum_sq_means - CAST(ts1 AS DOUBLE) * ts1 / nn)
                   / CAST(1000000 AS DOUBLE) AS ssb,
               (CAST(ts2 AS DOUBLE) - sum_sq_means)
                   / CAST(1000000 AS DOUBLE) AS ssw
        FROM ss_guard
    )
    SELECT k AS n_groups, nn AS n_total,
           CAST(ROUND(((ssb / (k - 1)) / (ssw / (nn - k))) * 1000000)
               AS BIGINT) AS w_e6,
           CAST(k - 1 AS BIGINT) AS df1,
           CAST(nn - k AS BIGINT) AS df2,
           ((ssb / (k - 1)) / (ssw / (nn - k))) > CAST(2.37 AS DOUBLE)
               AS heteroscedastic
    FROM ss
    WHERE ssw > 0
"""


@register(
    "stats_brown_forsythe",
    oracle=_BF_SQL,
    doc="Brown-Forsythe variance-homogeneity test (Levene on deviations "
    "from the MEDIAN — robust to non-normality): z = |x - med| stays an "
    "exact e3 integer (median is an exact order statistic), then the "
    "anova machinery on z with the per-group sum-of-squared-means term "
    "quantized BEFORE the cross-group sum. Makes stats_anova_oneway's "
    "documented homoscedasticity caveat measurable: heteroscedastic = "
    "W above the pinned (k-1, N-k) 5% critical value. One extra window "
    "pass for the medians; otherwise the anova scan shape.",
)
def stats_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_BF_SQL)


# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test
# ---------------------------------------------------------------------------
# Q = n(n+2) * sum_{k=1..12} r_k^2 / (n-k) over the hourly-density ACF.
# The already-quantized acf_e6 integers ARE the cross-engine interface:
# both engines read identical r_k, so the Q epilogue (one fixed-order
# double expression) is bit-identical by construction. n is recovered
# exactly as n_pairs + lag.

_LB_TMPL = """
    SELECT event_type,
           CAST(MAX(n_pairs + lag) AS BIGINT) AS n_obs,
           CAST(COUNT(*) AS BIGINT) AS n_lags,
           -- n - k = n_pairs exactly (the lag drops k boundary pairs),
           -- so the per-lag weight needs no nested aggregate
           CAST(ROUND(MAX(n_pairs + lag) * (MAX(n_pairs + lag) + 2)
                * SUM(CAST(acf_e6 AS DOUBLE) * acf_e6
                      / (CAST(1000000000000 AS DOUBLE) * n_pairs))
                * 1000) AS BIGINT) AS q_e3,
           MAX(n_pairs + lag) * (MAX(n_pairs + lag) + 2)
               * SUM(CAST(acf_e6 AS DOUBLE) * acf_e6
                     / (CAST(1000000000000 AS DOUBLE) * n_pairs))
               > CAST(21.026 AS DOUBLE) AS reject_whiteness
    FROM ({acf}) a
    WHERE lag <= 12 AND n_pairs > 0
    GROUP BY event_type
"""


@register(
    "stats_ljung_box",
    oracle=_LB_TMPL.format(acf=_ACF_DUCK),
    doc="Ljung-Box portmanteau whiteness test per metric over the first "
    "12 hourly-ACF lags: Q = n(n+2) sum r_k^2/(n-k) vs chi2(12) at 5% "
    "(21.026 pinned). Consumes timeseries_autocorrelation's already-"
    "quantized acf_e6 integers as the cross-engine interface — both "
    "engines read identical r_k so the Q epilogue is bit-identical by "
    "construction; n is recovered exactly as n_pairs + lag. The formal "
    "'is there structure' gate in front of the decomposition/forecast "
    "family. Same one-pass Spark kernel as the ACF.",
)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_LB_TMPL.format(acf=_ACF_SPARK))


# ---------------------------------------------------------------------------
# Brier decomposition (Murphy)
# ---------------------------------------------------------------------------
# Forecast: 10 equal-width score bins calibrated on the even-event_id
# half (bin positive rate, e9-quantized), scored on the odd half.
# Murphy: brier = reliability - resolution + uncertainty, where
#   REL = sum n_b (p_b - o_b)^2 / N,  RES = sum n_b (o_b - o)^2 / N,
#   UNC = o (1 - o).
# Per-bin squared terms quantize e9 from fixed-order doubles over
# exact integer counts; the three cross-bin sums are exact integer
# reductions. The identity brier = REL - RES + UNC is emitted so the
# oracle pins it.

_BRIER_SQL = """
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               event_id % 2 AS half
        FROM events
    ), rng AS (
        SELECT MIN(v_e3) AS lo, MAX(v_e3) AS hi FROM base
    ), binned AS (
        -- equal-width bins over the observed range; top edge clamps
        SELECT b.half, b.y,
               LEAST(CAST(FLOOR((b.v_e3 - r.lo) * 10.0e0
                                / (r.hi - r.lo + 1)) AS BIGINT), 9) AS bin
        FROM base b CROSS JOIN rng r
        WHERE r.hi > r.lo
    ), calib AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_cal,
               CAST(SUM(y) AS BIGINT) AS pos_cal,
               CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p_e9
        FROM binned WHERE half = 0 GROUP BY bin
    ), test AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(y) AS BIGINT) AS pos_b
        FROM binned WHERE half = 1 GROUP BY bin
    ), tot AS (
        SELECT CAST(SUM(n_b) AS BIGINT) AS n,
               CAST(SUM(pos_b) AS BIGINT) AS pos
        FROM test
    ), calg AS (
        -- global calibration base rate: the default forecast for test
        -- bins the even half never populated (r10 ADVICE: an inner join
        -- dropped them from REL/RES while tot.n still counted their
        -- rows, understating brier on skewed data)
        SELECT CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p0_e9
        FROM binned WHERE half = 0
    ), terms AS (
        SELECT t.bin, t.n_b,
               COALESCE(c.p_e9, g.p0_e9) AS p_e9,
               CASE WHEN c.bin IS NULL THEN 1 ELSE 0 END AS uncal,
               CAST(ROUND(CAST(pos_b AS DOUBLE) / t.n_b * 1000000000)
                    AS BIGINT) AS o_e9,
               CAST(ROUND(t.n_b
                    * (CAST(COALESCE(c.p_e9, g.p0_e9) AS DOUBLE) / 1000000000
                       - CAST(t.pos_b AS DOUBLE) / t.n_b)
                    * (CAST(COALESCE(c.p_e9, g.p0_e9) AS DOUBLE) / 1000000000
                       - CAST(t.pos_b AS DOUBLE) / t.n_b)
                    * 1000000000) AS BIGINT) AS rel_term_e9,
               CAST(ROUND(t.n_b
                    * (CAST(t.pos_b AS DOUBLE) / t.n_b
                       - CAST(o.pos AS DOUBLE) / o.n)
                    * (CAST(t.pos_b AS DOUBLE) / t.n_b
                       - CAST(o.pos AS DOUBLE) / o.n)
                    * 1000000000) AS BIGINT) AS res_term_e9
        FROM test t
        LEFT JOIN calib c ON t.bin = c.bin
        CROSS JOIN tot o
        CROSS JOIN calg g
        WHERE t.n_b > 0
    ), agg AS (
        SELECT CAST(SUM(rel_term_e9) AS BIGINT) AS rel_sum,
               CAST(SUM(res_term_e9) AS BIGINT) AS res_sum,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(uncal) AS BIGINT) AS n_uncal_bins
        FROM terms
    )
    SELECT a.n_bins, a.n_uncal_bins, o.n AS n_test,
           CAST(ROUND(CAST(a.rel_sum AS DOUBLE) / o.n / 1000) AS BIGINT)
               AS reliability_e6,
           CAST(ROUND(CAST(a.res_sum AS DOUBLE) / o.n / 1000) AS BIGINT)
               AS resolution_e6,
           CAST(ROUND((CAST(o.pos AS DOUBLE) / o.n)
                * (1 - CAST(o.pos AS DOUBLE) / o.n) * 1000000) AS BIGINT)
               AS uncertainty_e6,
           CAST(ROUND(CAST(a.rel_sum AS DOUBLE) / o.n / 1000
                - CAST(a.res_sum AS DOUBLE) / o.n / 1000
                + (CAST(o.pos AS DOUBLE) / o.n)
                  * (1 - CAST(o.pos AS DOUBLE) / o.n) * 1000000) AS BIGINT)
               AS brier_e6
    FROM agg a CROSS JOIN tot o
    WHERE o.n > 0 AND o.pos > 0
"""


@register(
    "ml_brier_decomposition",
    oracle=_BRIER_SQL,
    doc="Murphy (1973) Brier decomposition — reliability − resolution + "
    "uncertainty — with the calibration table LEARNED on the even-"
    "event_id half (10 equal-width score bins, rate e9-quantized) and "
    "SCORED on the odd half: the honest train/test companion of "
    "ml_calibration_bins. Test bins the calibration half never saw get "
    "the global calibration base rate as the default forecast (LEFT "
    "JOIN + n_uncal_bins column, r10 ADVICE — the inner join silently "
    "dropped them from REL/RES while tot.n counted their rows). "
    "Per-bin squared terms quantize e9 from "
    "fixed-order doubles over exact counts; cross-bin sums are exact "
    "integer reductions; the brier identity is emitted as its own "
    "column so the oracle pins it. Two map-side-combinable half-"
    "aggregates; bin-sized state.",
)
def ml_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `binned` feeds calib/test/calg (and tot
    # re-derives test) — WITH-inlining re-ran the events scan + range
    # cross-join per reference (the ECE/logloss remedy).
    return stage_ctes(spark, _BRIER_SQL, "binned")


# ---------------------------------------------------------------------------
# Markov entropy rate of user journeys
# ---------------------------------------------------------------------------
# Over per-user consecutive event pairs (the events_transition_matrix
# grain, microsecond+event_id total order): H_i = -sum_j P_ij ln P_ij
# per source state, rate = sum_i pi_i H_i with pi the empirical source
# distribution. Each cell's n_ij * ln(n_ij / n_i) quantizes to e9
# micro-nats IMMEDIATELY (ln discipline), so both reductions are exact
# integer sums; the final divisions are fixed-order.

_ENTROPY_CORE = """
    , pairs AS (
        SELECT a.t AS s_from, b.t AS s_to
        FROM ev a JOIN ev b
          ON a.user_id = b.user_id AND b.rn = a.rn + 1
    ), cells AS (
        SELECT s_from, s_to, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY s_from, s_to
    ), rows_ AS (
        SELECT s_from, CAST(SUM(c) AS BIGINT) AS n_i FROM cells
        GROUP BY s_from
    ), terms AS (
        SELECT c.s_from,
               CAST(ROUND(-c.c * ln(CAST(c.c AS DOUBLE) / r.n_i)
                    * 1000000000 / r.n_i) AS BIGINT) AS h_term_e9
        FROM cells c JOIN rows_ r ON c.s_from = r.s_from
        WHERE r.n_i > 0
    ), h AS (
        SELECT t.s_from, r.n_i,
               CAST(SUM(t.h_term_e9) AS BIGINT) AS h_cond_e9
        FROM terms t JOIN rows_ r ON t.s_from = r.s_from
        GROUP BY t.s_from, r.n_i
    ), tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n FROM rows_
    ), rate AS (
        -- pi-weighted sum: each state's contribution quantizes to an
        -- exact e9 integer before the 5-term reduction
        SELECT CAST(SUM(CAST(ROUND(CAST(h.h_cond_e9 AS DOUBLE) * h.n_i
                                   / t.n) AS BIGINT)) AS BIGINT) AS rate_e9
        FROM h CROSS JOIN tot t
    )
    SELECT h.s_from, h.n_i, h.h_cond_e9, r.rate_e9
    FROM h CROSS JOIN rate r
"""

_ENTROPY_BASE = """
    WITH ev AS (
        SELECT user_id, event_type AS t,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY {d.epoch_us}, event_id)
                    AS BIGINT) AS rn
        FROM events
    )
"""


@register(
    "events_entropy_rate",
    oracle=_ENTROPY_BASE.format(d=DUCK) + _ENTROPY_CORE,
    doc="Markov entropy rate of the user-journey chain: per-source-state "
    "conditional entropy H_i = -sum_j P_ij ln P_ij plus the pi-weighted "
    "rate — how predictable events_transition_matrix's chain actually "
    "is. Each cell's -c*ln(c/n_i)/n_i quantizes to e9 nats immediately "
    "(ln discipline) so both reductions are exact integer sums over the "
    "25-cell matrix; the rate repeats on every row as the whole-chain "
    "readout. One user-keyed window pass; everything after is "
    "state-count-sized.",
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ENTROPY_BASE.format(d=SPARK) + _ENTROPY_CORE)


# ---------------------------------------------------------------------------
# Granger causality (lag-1) between metric pairs
# ---------------------------------------------------------------------------
# For every ordered pair (x -> y) over the daily count series:
# unrestricted y_t ~ [1, y_{t-1}, x_{t-1}] vs restricted y_t ~ [1,
# y_{t-1}], F = (SSR_r - SSR_u)(n-3)/SSR_u. The normal equations are
# solved closed-form by Cramer's rule over nine EXACT integer moments
# (the ar2_forecast machinery with one more regressor); determinants
# and SSRs are fixed-order doubles, guarded, F quantized e6.

_GRANGER_CORE = """
    , daily AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, d
    ), days AS (
        SELECT t.event_type, g.d
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT DISTINCT d FROM daily) g
    ), series AS (
        SELECT dy.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY dy.event_type
                                       ORDER BY dy.d) AS BIGINT) AS t,
               CAST(COALESCE(da.c, 0) AS BIGINT) AS v
        FROM days dy LEFT JOIN daily da
          ON dy.event_type = da.event_type AND dy.d = da.d
    ), rows_ AS (
        SELECT y.event_type AS ey, x.event_type AS ex,
               cy.v AS yt, y.v AS yl, x.v AS xl
        FROM series cy
        JOIN series y ON y.event_type = cy.event_type AND y.t = cy.t - 1
        JOIN series x ON x.t = cy.t - 1 AND x.event_type <> cy.event_type
    ), m AS (
        SELECT ey, ex,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(yt) AS BIGINT) AS sy,
               CAST(SUM(yl) AS BIGINT) AS s1,
               CAST(SUM(xl) AS BIGINT) AS s2,
               CAST(SUM(yt * yt) AS BIGINT) AS syy,
               CAST(SUM(yl * yl) AS BIGINT) AS s11,
               CAST(SUM(xl * xl) AS BIGINT) AS s22,
               CAST(SUM(yl * xl) AS BIGINT) AS s12,
               CAST(SUM(yt * yl) AS BIGINT) AS sy1,
               CAST(SUM(yt * xl) AS BIGINT) AS sy2
        FROM rows_ GROUP BY ey, ex
    ), fit AS (
        SELECT ey, ex, n, syy, sy,
               -- restricted: y ~ [1, y_{t-1}] closed form
               (CAST(n AS DOUBLE) * sy1 - CAST(sy AS DOUBLE) * s1) AS rn_,
               (CAST(n AS DOUBLE) * s11 - CAST(s1 AS DOUBLE) * s1) AS rd_,
               -- unrestricted 3x3 Cramer determinants over exact moments
               CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                                    - CAST(s12 AS DOUBLE) * s12)
                 - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
                                         - CAST(s12 AS DOUBLE) * s2)
                 + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                                         - CAST(s11 AS DOUBLE) * s2)
                   AS det_a,
               CAST(sy AS DOUBLE) * (CAST(s11 AS DOUBLE) * s22
                                     - CAST(s12 AS DOUBLE) * s12)
                 - CAST(s1 AS DOUBLE) * (CAST(sy1 AS DOUBLE) * s22
                                         - CAST(s12 AS DOUBLE) * sy2)
                 + CAST(s2 AS DOUBLE) * (CAST(sy1 AS DOUBLE) * s12
                                         - CAST(s11 AS DOUBLE) * sy2)
                   AS det_b0,
               CAST(n AS DOUBLE) * (CAST(sy1 AS DOUBLE) * s22
                                    - CAST(s12 AS DOUBLE) * sy2)
                 - CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s22
                                         - CAST(s12 AS DOUBLE) * s2)
                 + CAST(s2 AS DOUBLE) * (CAST(s1 AS DOUBLE) * sy2
                                         - CAST(sy1 AS DOUBLE) * s2)
                   AS det_b1,
               CAST(n AS DOUBLE) * (CAST(s11 AS DOUBLE) * sy2
                                    - CAST(sy1 AS DOUBLE) * s12)
                 - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) * sy2
                                         - CAST(sy1 AS DOUBLE) * s2)
                 + CAST(sy AS DOUBLE) * (CAST(s1 AS DOUBLE) * s12
                                         - CAST(s11 AS DOUBLE) * s2)
                   AS det_b2,
               sy1, sy2, s1, s2
        FROM m WHERE n > 3
    ), ssr AS (
        SELECT ey, ex, n,
               -- SSR_r = Syy - b0r*Sy - b1r*Sy1 with b from the 2x2 system
               CAST(syy AS DOUBLE)
                 - (CAST(sy AS DOUBLE) / n
                    - rn_ / rd_ * (CAST(s1 AS DOUBLE) / n)) * sy
                 - (rn_ / rd_) * sy1 AS ssr_r,
               CAST(syy AS DOUBLE)
                 - (det_b0 / det_a) * sy
                 - (det_b1 / det_a) * sy1
                 - (det_b2 / det_a) * sy2 AS ssr_u,
               det_b2 / det_a AS b_x
        FROM fit
        WHERE rd_ > 0 AND ABS(det_a) > CAST(0.5 AS DOUBLE)
    )
    SELECT ex AS x_metric, ey AS y_metric, n,
           CAST(ROUND(b_x * 1000000) AS BIGINT) AS b_x_e6,
           CASE WHEN ssr_u > 0
                THEN CAST(ROUND((ssr_r - ssr_u) * (n - 3) / ssr_u * 1000000)
                     AS BIGINT)
                ELSE 0 END AS f_e6,
           CASE WHEN ssr_u > 0
                THEN (ssr_r - ssr_u) * (n - 3) / ssr_u > CAST(4.23 AS DOUBLE)
                ELSE FALSE END AS x_granger_causes_y
    FROM ssr
"""

_GRANGER_BASE = """
    WITH base AS (
        SELECT event_type, {d.epoch_day} AS d
        FROM events
    )
"""


@register(
    "timeseries_granger_lite",
    oracle=_GRANGER_BASE.format(d=DUCK) + _GRANGER_CORE,
    doc="Lag-1 Granger causality for every ordered metric pair over the "
    "daily count series: restricted y~[1,y_lag] vs unrestricted "
    "y~[1,y_lag,x_lag] OLS, both solved CLOSED-FORM from eleven exact "
    "integer moments (Cramer's rule — the ar2_forecast normal-equation "
    "machinery with one more regressor); determinants and SSRs are "
    "fixed-order doubles with rd_/det/ssr guards, F quantized e6 and "
    "flagged at the pinned (1, n-3) 5% value. Twenty model-sized rows; "
    "the only data-sized stage is the shared daily reduction.",
)
def timeseries_granger_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_GRANGER_BASE.format(d=SPARK) + _GRANGER_CORE)
