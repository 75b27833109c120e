"""Round-11 wave 11f: multiple-testing completions, spectral analysis,
concordance, and uplift evaluation.

* ``stats_fisher_combined`` — Fisher's method pooling the per-metric
  Welch p-values into one family chi-square (the "is anything moving"
  scalar above the per-metric readouts).
* ``stats_benjamini_yekutieli`` — the BY step-up under arbitrary
  dependence (BH's guarantee needs independence/PRDS; BY pays the
  harmonic factor and holds always), decision boundary exact-integer.
* ``stats_mcc_matthews`` — Matthews correlation of the median-rule
  classifier vs the purchase label: the single-number confusion score
  that stays honest under class imbalance (unlike accuracy/F1).
* ``timeseries_spectral_periodogram`` — DFT power at six candidate
  periods per metric with trig weights quantized e6 immediately (the
  libm hazard discipline), dominant period by exact integer argmax.
* ``stats_kendall_w`` — Kendall's coefficient of concordance: do the
  ten sources agree on the frequency ranking of the top corpus terms
  (doubled midranks keep every moment exact).
* ``events_uplift_qini`` — Qini/uplift decile table of the A/B
  experiment against an activity score (the incrementality readout
  beside the average-effect t-test family).

House discipline: p-values consumed from the family's shared
Zelen-Severo template; harmonic/trig constants quantized per term
before any reduction; decision boundaries compared in exact integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave9c import WELCH_PV_CTES, stage_welch_pv
from emr_with_custom_metrics_spark.operators.wave11a import (
    _KW_CRIT,
    chi2_lookup_guard,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Fisher's combined test
# ---------------------------------------------------------------------------
# X = -2 sum ln p_i ~ chi2(2m) under the global null. Each ln runs once
# per metric on the clamped e9 rational and quantizes e9 immediately
# (the libm hazard), the sum is an exact integer reduction, and the 5%
# critical value comes from the pinned chi2 lookup at df = 2m.

# Family scalars via unbounded windows, NOT a separate aggregate CTE:
# Spark inlines WITH-chains per reference, so a second reference to the
# p-value pipeline would re-run the events scan (the rolling-actives
# lesson) — the window form keeps the whole query one pass.
_FISHER_BODY = (
    WELCH_PV_CTES
    + f"""
    , lnp AS (
        SELECT event_type, p_e9,
               CAST(ROUND(ln(GREATEST(CAST(p_e9 AS DOUBLE) / 1000000000,
                                      1.0e-9)) * 1000000000) AS BIGINT)
                   AS lnp_e9
        FROM pv
    ), scalars AS (
        SELECT event_type, p_e9, lnp_e9,
               CAST(COUNT(*) OVER () AS BIGINT) AS m,
               CAST(SUM(-2 * lnp_e9) OVER () AS BIGINT) AS x_e9
        FROM lnp
    )
    SELECT s.event_type, s.p_e9, s.lnp_e9, s.m,
           CAST(ROUND(CAST(s.x_e9 AS DOUBLE) / 1000) AS BIGINT)
               AS fisher_x_e6,
           CAST(2 * s.m AS BIGINT) AS df,
           CAST(ROUND(CAST(s.x_e9 AS DOUBLE) / 1000) AS BIGINT) > c.crit_e6
               AS reject_global_null
    FROM scalars s
    LEFT JOIN ({_KW_CRIT}) c ON c.df = 2 * s.m
"""
)


def _fisher_sql(d: Dialect) -> str:
    # a metric family past the df<=80 lookup (m>40) must raise, never
    # return zero rows (r11 ADVICE silent-empty class)
    return _FISHER_BODY + f"    WHERE {chi2_lookup_guard(d)}\n"


@register(
    "stats_fisher_combined",
    oracle=_fisher_sql(DUCK),
    doc="Fisher's combined probability test across the per-metric Welch "
    "p-values (the family's shared Zelen-Severo template, sliced from "
    "the BH text so the pipelines cannot drift): X = -2 sum ln p with "
    "each ln quantized e9 immediately, exact integer sum, 5% decision "
    "against the pinned chi2(2m) lookup. The 'is anything moving at "
    "all' scalar above the per-metric readouts.",
)
def stats_fisher_combined(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_ctes(spark, _fisher_sql(SPARK), pv=stage_welch_pv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Benjamini-Yekutieli
# ---------------------------------------------------------------------------
# BY 2001: p_(k) <= k*alpha / (m * c(m)), c(m) = sum_{i<=m} 1/i. BH's
# FDR guarantee needs independence or PRDS; BY holds under ARBITRARY
# dependence at the price of the harmonic factor. c(m) quantizes per
# term at e6 (exact integer sum), and the step-up boundary is the
# exact integer comparison p_e9 * m * c_e6 <= rnk * alpha_e9 * 1e6
# (every product < 2^63 through m ~ 1e4 tests).

_BY_ALPHA_E9 = 50_000_000

_BY_SQL = (
    WELCH_PV_CTES
    + f"""
    , ranked AS (
        SELECT event_type, abs_z_e6, p_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e9, event_type) AS BIGINT)
                   AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ), harm AS (
        -- family scalars as chained unbounded windows (not separate
        -- aggregate CTEs) so the p-value pipeline runs ONCE: Spark
        -- inlines WITH-chains per reference
        SELECT ranked.*,
               CAST(SUM(CAST(ROUND(1000000.0e0 / rnk) AS BIGINT)) OVER ()
                    AS BIGINT) AS c_e6
        FROM ranked
    ), flagged AS (
        SELECT harm.*,
               CAST(COALESCE(MAX(CASE WHEN p_e9 * m * c_e6
                                           <= rnk * {_BY_ALPHA_E9} * 1000000
                                      THEN rnk END) OVER (),
                             CAST(0 AS BIGINT)) AS BIGINT) AS k
        FROM harm
    )
    SELECT event_type, abs_z_e6, p_e9, rnk, m, c_e6,
           CAST(ROUND(CAST(rnk AS DOUBLE) * {_BY_ALPHA_E9}
                      / (CAST(m AS DOUBLE) * c_e6 / 1000000))
                AS BIGINT) AS by_crit_e9,
           rnk <= k AS rejected
    FROM flagged
"""
)


@register(
    "stats_benjamini_yekutieli",
    oracle=_BY_SQL,
    doc="Benjamini-Yekutieli step-up (Ann. Stat. 2001) across the same "
    "Welch p-values as stats_fdr_bh: FDR control under ARBITRARY "
    "dependence via the harmonic factor c(m) (per-term e6 quantization, "
    "exact integer sum), the step-up boundary the exact integer "
    "comparison p_e9*m*c_e6 <= rnk*alpha_e9*1e6 — no float touches the "
    "reject/accept decision. The dependence-robust sibling of BH.",
)
def stats_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_ctes(spark, _BY_SQL, pv=stage_welch_pv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Matthews correlation coefficient
# ---------------------------------------------------------------------------
# MCC of the global-doubled-median value rule against the purchase
# label: numerator TP*TN - FP*FN is exact int64 (each product <= n^2/4);
# the four denominator factors are exact ints multiplied in double
# (three correctly-rounded ops — the exact product can pass 2^63).
# MCC stays in [-1, 1] under imbalance where accuracy and F1 mislead.

_MCC_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), vals AS (
        -- doubled median from the value histogram, not a global
        -- ROW_NUMBER sort (the round-11 x10-probe scale posture)
        SELECT v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY v_e3
    ), cum AS (
        SELECT v_e3,
               CAST(SUM(c) OVER (ORDER BY v_e3 ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cw,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM vals
    ), med AS (
        SELECT CAST(MIN(CASE WHEN cw >= CAST(FLOOR((n + 1) / 2.0e0)
                                             AS BIGINT)
                             THEN v_e3 END)
                  + MIN(CASE WHEN cw >= CAST(FLOOR((n + 2) / 2.0e0)
                                             AS BIGINT)
                             THEN v_e3 END) AS BIGINT) AS med2
        FROM cum
    ), conf AS (
        SELECT
            CAST(SUM(CASE WHEN 2 * b.v_e3 > m.med2 AND b.y = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(SUM(CASE WHEN 2 * b.v_e3 > m.med2 AND b.y = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(SUM(CASE WHEN 2 * b.v_e3 <= m.med2 AND b.y = 0
                          THEN 1 ELSE 0 END) AS BIGINT) AS tn,
            CAST(SUM(CASE WHEN 2 * b.v_e3 <= m.med2 AND b.y = 1
                          THEN 1 ELSE 0 END) AS BIGINT) AS fn
        FROM base b CROSS JOIN med m
    )
    SELECT tp, fp, tn, fn,
           CASE WHEN (tp + fp) > 0 AND (tp + fn) > 0
                 AND (tn + fp) > 0 AND (tn + fn) > 0
                THEN CAST(ROUND(CAST(tp * tn - fp * fn AS DOUBLE)
                           / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn)
                                  * (tn + fp) * (tn + fn))
                           * 1000000000) AS BIGINT)
                ELSE 0 END AS mcc_e9,
           CAST(ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + tn + fn)
                      * 1000000000) AS BIGINT) AS accuracy_e9
    FROM conf
"""


@register(
    "stats_mcc_matthews",
    oracle=_MCC_SQL,
    doc="Matthews correlation coefficient of the global doubled-median "
    "value rule vs the purchase label: numerator TP*TN - FP*FN exact "
    "int64, denominator factors multiplied in double (the exact "
    "product can pass 2^63), degenerate margins guarded to 0. The "
    "imbalance-honest single-number confusion score beside accuracy "
    "(emitted for contrast) and the F1 family.",
)
def stats_mcc_matthews(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MCC_SQL)


# ---------------------------------------------------------------------------
# Periodogram at candidate periods
# ---------------------------------------------------------------------------
# DFT power of each metric's hourly count series at the six periods an
# ops calendar cares about (6h/8h/12h/24h/48h/168h): weights
# cos/sin(2*pi*(t mod P)/P) are quantized e6 IMMEDIATELY per (t, P)
# (libm trig is not correctly rounded — e6 leaves a 5e-7 guard band,
# far above any ulp divergence), so A = sum v*c_e6 and B = sum v*s_e6
# are exact integer reductions. Power share = (A^2+B^2)*2/(n * SS_v)
# with the squares formed in double; the dominant period is an exact
# integer argmax with smallest-period tie-break.

_PGRAM_CORE = """
    , series AS (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) - 1 AS BIGINT) AS t,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), periods AS (
        SELECT * FROM (VALUES (6), (8), (12), (24), (48), (168)) pr(p)
    ), weighted AS (
        SELECT s.event_type, pr.p, s.v,
               CAST(ROUND(cos(2.0e0 * 3.141592653589793e0
                              * (s.t % pr.p) / pr.p) * 1000000) AS BIGINT)
                   AS c_e6,
               CAST(ROUND(sin(2.0e0 * 3.141592653589793e0
                              * (s.t % pr.p) / pr.p) * 1000000) AS BIGINT)
                   AS s_e6
        FROM series s CROSS JOIN periods pr
    ), spectra AS (
        SELECT event_type, CAST(p AS BIGINT) AS period_h,
               CAST(SUM(v * c_e6) AS BIGINT) AS a_e6,
               CAST(SUM(v * s_e6) AS BIGINT) AS b_e6
        FROM weighted GROUP BY event_type, p
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1,
               CAST(SUM(v * v) AS BIGINT) AS s2
        FROM series GROUP BY event_type
    ), powers AS (
        SELECT /*+ BROADCAST(m) */ sp.event_type, sp.period_h,
               CASE WHEN m.n * m.s2 - m.s1 * m.s1 > 0
                    THEN CAST(ROUND(
                        (CAST(sp.a_e6 AS DOUBLE) * sp.a_e6
                         + CAST(sp.b_e6 AS DOUBLE) * sp.b_e6)
                        / 1000000000000.0e0 * 2.0e0
                        / (CAST(m.n AS DOUBLE) * m.s2 - CAST(m.s1 AS DOUBLE)
                           * m.s1)
                        * 1000000000) AS BIGINT)
                    ELSE 0 END AS power_share_e9
        FROM spectra sp JOIN mom m ON sp.event_type = m.event_type
    )
    SELECT p.event_type, p.period_h, p.power_share_e9,
           CAST(ROW_NUMBER() OVER (PARTITION BY p.event_type
                ORDER BY p.power_share_e9 DESC, p.period_h) AS BIGINT) = 1
               AS is_dominant
    FROM powers p
"""


def _pgram_sql(d: Dialect) -> str:
    from emr_with_custom_metrics_spark.operators.stats import spine_from_counts

    return spine_from_counts(d) + _PGRAM_CORE


@register(
    "timeseries_spectral_periodogram",
    oracle=_pgram_sql(DUCK),
    doc="Periodogram of each metric's hourly counts at six calendar "
    "candidate periods (6h..168h): trig weights quantized e6 per (t, "
    "period) immediately (libm trig is not correctly rounded; e6 "
    "leaves a 5e-7 guard band), A/B exact integer weighted sums, power "
    "share 2(A^2+B^2)/(n*SS) with squares formed in double, dominant "
    "period by exact argmax. The frequency-domain companion of "
    "timeseries_autocorrelation/seasonal_decompose. Rides the staged "
    "hour-counts scan.",
)
def timeseries_spectral_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.operators.stats import hour_counts_sql

    return hour_counts_sql(spark, sf_dir, _pgram_sql(SPARK))


# ---------------------------------------------------------------------------
# Kendall's W (coefficient of concordance)
# ---------------------------------------------------------------------------
# Do the sources agree on how the top-12 corpus terms rank by
# frequency? Raters = sources, items = the top-12 global terms, rating
# = the term's per-source count (missing cells 0 — the full grid).
# Doubled midranks within each source keep rank sums exact integers;
# W = (12*S' - 3*k^2*n*(n+1)^2) / (k^2*n*(n^2-1) - k*T) with
# S' = sum R_i^2 = sum (R2_i/2)^2 (so 12*S' = 3*sum R2_i^2) and the
# tie correction T = sum(t^3 - t) per source — all exact integers,
# one double epilogue e9.

_KW_CONCORD_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, term
    ), top_terms AS (
        -- top-12 via ORDER BY + LIMIT (TakeOrderedAndProject on Spark:
        -- per-partition top-k, 12 rows cross the wire), NOT a global
        -- ROW_NUMBER over the whole vocabulary (r11 VERDICT item 1).
        -- Same (SUM(c) DESC, term) tie-break, identical term set.
        SELECT term
        FROM tf GROUP BY term
        ORDER BY SUM(c) DESC, term LIMIT 12
    ), grid AS (
        -- sources come from the documents table directly (a cheap
        -- column scan), not from tf: a third tf reference would re-run
        -- the full token explode under Spark's WITH-inlining
        SELECT s.source, t.term,
               CAST(COALESCE(f.c, 0) AS BIGINT) AS c
        FROM (SELECT DISTINCT source FROM documents) s
        CROSS JOIN top_terms t
        LEFT JOIN tf f ON f.source = s.source AND f.term = t.term
    ), ranked AS (
        -- doubled tie-averaged rank of each item WITHIN its source
        -- (rank by count desc): 2r = 2*cum_before + ties + 1
        SELECT g.source, g.term,
               CAST(2 * COALESCE(SUM(CASE WHEN o.c > g.c THEN 1 ELSE 0 END),
                                 0)
                    + SUM(CASE WHEN o.c = g.c THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS r2
        FROM grid g JOIN grid o ON o.source = g.source
        GROUP BY g.source, g.term, g.c
    ), itemsums AS (
        SELECT term, CAST(SUM(r2) AS BIGINT) AS r2_sum
        FROM ranked GROUP BY term
    ), ties AS (
        SELECT CAST(SUM(tt * tt * tt - tt) AS BIGINT) AS t_corr
        FROM (SELECT source, c, CAST(COUNT(*) AS BIGINT) AS tt
              FROM grid GROUP BY source, c) z
    ), dims AS (
        SELECT CAST(COUNT(DISTINCT source) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT term) AS BIGINT) AS n
        FROM grid
    ), w AS (
        SELECT d.k, d.n, t.t_corr,
               CAST(SUM(i.r2_sum * i.r2_sum) AS BIGINT) AS sum_r2sq
        FROM itemsums i CROSS JOIN dims d CROSS JOIN ties t
        GROUP BY d.k, d.n, t.t_corr
    )
    SELECT i.term, i.r2_sum AS rank_sum_x2, w.k AS k_sources,
           w.n AS n_items,
           CASE WHEN CAST(w.k AS DOUBLE) * w.k * w.n
                     * (CAST(w.n AS DOUBLE) * w.n - 1)
                     - CAST(w.k AS DOUBLE) * w.t_corr > 0
                THEN CAST(ROUND(
                    (3.0e0 * w.sum_r2sq
                     - 3.0e0 * w.k * w.k * w.n * (w.n + 1) * (w.n + 1))
                    / (CAST(w.k AS DOUBLE) * w.k * w.n
                       * (CAST(w.n AS DOUBLE) * w.n - 1)
                       - CAST(w.k AS DOUBLE) * w.t_corr)
                    * 1000000000) AS BIGINT)
                ELSE 0 END AS kendall_w_e9
    FROM itemsums i CROSS JOIN w
"""


@register(
    "stats_kendall_w",
    oracle=_KW_CONCORD_TMPL.format(d=DUCK),
    doc="Kendall's coefficient of concordance: agreement of the ten "
    "sources on the frequency ranking of the top-12 corpus terms "
    "(per-source doubled midranks over the full source x term grid, "
    "absences scored 0), tie-corrected, all moments exact integers "
    "with one double epilogue e9. The multi-rater generalization of "
    "the pairwise stats_kendall_tau_pairs.",
)
def stats_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_KW_CONCORD_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Qini / uplift deciles
# ---------------------------------------------------------------------------
# Incrementality evaluation of the md5 A/B assignment against an
# activity "model score": users ranked by first-half event count (the
# score a real uplift model would produce), outcome = purchase in the
# second half. At each exact decile rank (GREATEST(1, floor(d*n/10)) —
# the r10-ADVICE lesson applied at birth): cumulative treated/control
# counts and responders, uplift = Rt - Rc*Nt/Nc (the Qini curve), all
# from exact integer cumulative sums with guarded rationals.

_QINI_TMPL = """
    WITH base AS (
        SELECT user_id,
               {d.epoch_us} AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CASE WHEN (instr('0123456789abcdef', substring(md5(
                         concat('ab|', CAST(user_id AS STRING))), 1, 1)) - 1)
                         < 8
                    THEN 1 ELSE 0 END AS treat
        FROM events
    ), mid AS (
        SELECT CAST(FLOOR((MIN(us) + MAX(us)) / 2.0e0) AS BIGINT) AS m
        FROM base
    ), users AS (
        SELECT b.user_id,
               MAX(b.treat) AS treat,
               CAST(SUM(CASE WHEN b.us <= m.m THEN 1 ELSE 0 END) AS BIGINT)
                   AS score,
               MAX(CASE WHEN b.us > m.m THEN b.y ELSE 0 END) AS converted
        FROM base b CROSS JOIN mid m
        GROUP BY b.user_id
    ), shist AS (
        -- the r11 histogram-order-statistic rule, executed (r12): the
        -- model score is an EVENT COUNT, so the decile cuts read off
        -- the bounded SCORE histogram + a within-tie-group offset —
        -- the old global (score DESC, user_id) ROW_NUMBER sorted every
        -- user through one task
        SELECT score,
               CAST(COUNT(*) AS BIGINT) AS grp_n,
               CAST(SUM(treat) AS BIGINT) AS grp_nt,
               CAST(SUM(1 - treat) AS BIGINT) AS grp_nc,
               CAST(SUM(treat * converted) AS BIGINT) AS grp_rt,
               CAST(SUM((1 - treat) * converted) AS BIGINT) AS grp_rc
        FROM users GROUP BY score
    ), scum AS (
        SELECT score, grp_n, grp_nt, grp_nc, grp_rt, grp_rc,
               CAST(SUM(grp_n) OVER (ORDER BY score DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
               CAST(SUM(grp_n) OVER () AS BIGINT) AS n,
               CAST(COALESCE(SUM(grp_nt) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev_nt,
               CAST(COALESCE(SUM(grp_nc) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev_nc,
               CAST(COALESCE(SUM(grp_rt) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev_rt,
               CAST(COALESCE(SUM(grp_rc) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS prev_rc
        FROM shist
    ), cuts AS (
        -- boundary score group + in-group offset for each decile rank
        SELECT d.d, s.score,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(FLOOR(d.d * s.n / 10.0e0) AS BIGINT))
                 - (s.cum_n - s.grp_n) AS k,
               s.prev_nt, s.prev_nc, s.prev_rt, s.prev_rc
        FROM (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7),
                                    (8), (9), (10)) q(d)) d
        JOIN scum s
          ON GREATEST(CAST(1 AS BIGINT),
                      CAST(FLOOR(d.d * s.n / 10.0e0) AS BIGINT))
             > s.cum_n - s.grp_n
         AND GREATEST(CAST(1 AS BIGINT),
                      CAST(FLOOR(d.d * s.n / 10.0e0) AS BIGINT))
             <= s.cum_n
    ), within AS (
        -- partial cums INSIDE each score tie group, user_id ascending:
        -- hash-distributed by score, never a global sort
        SELECT score,
               CAST(ROW_NUMBER() OVER (PARTITION BY score
                    ORDER BY user_id) AS BIGINT) AS wrn,
               CAST(SUM(treat) OVER (PARTITION BY score ORDER BY user_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pt_nt,
               CAST(SUM(1 - treat) OVER (PARTITION BY score
                    ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS pt_nc,
               CAST(SUM(treat * converted) OVER (PARTITION BY score
                    ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS pt_rt,
               CAST(SUM((1 - treat) * converted) OVER (PARTITION BY score
                    ORDER BY user_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS pt_rc
        FROM users
    )
    SELECT c.d AS decile,
           c.prev_nt + w.pt_nt AS n_treated,
           c.prev_nc + w.pt_nc AS n_control,
           c.prev_rt + w.pt_rt AS resp_treated,
           c.prev_rc + w.pt_rc AS resp_control,
           CASE WHEN c.prev_nc + w.pt_nc > 0
                THEN CAST(ROUND(((c.prev_rt + w.pt_rt)
                           - CAST(c.prev_rc + w.pt_rc AS DOUBLE)
                             * (c.prev_nt + w.pt_nt)
                             / (c.prev_nc + w.pt_nc))
                           * 1000000) AS BIGINT)
                ELSE CAST((c.prev_rt + w.pt_rt) * 1000000 AS BIGINT)
           END AS qini_e6,
           CASE WHEN c.prev_nt + w.pt_nt > 0 AND c.prev_nc + w.pt_nc > 0
                THEN CAST(ROUND((CAST(c.prev_rt + w.pt_rt AS DOUBLE)
                                 / (c.prev_nt + w.pt_nt)
                                 - CAST(c.prev_rc + w.pt_rc AS DOUBLE)
                                   / (c.prev_nc + w.pt_nc)) * 1000000000)
                     AS BIGINT)
                ELSE 0 END AS uplift_rate_e9
    FROM cuts c
    JOIN within w ON w.score = c.score AND w.wrn = c.k
"""


@register(
    "events_uplift_qini",
    oracle=_QINI_TMPL.format(d=DUCK),
    doc="Qini/uplift decile table: users ranked by first-half activity "
    "(the stand-in model score), outcome = second-half purchase, md5 "
    "arms as treatment. Cumulative treated/control responders from "
    "exact integer window sums; Qini = Rt - Rc*Nt/Nc and the uplift "
    "rate difference as guarded rationals at exact decile ranks "
    "(GREATEST(1, floor(d*n/10)) from birth — the r10 Gini lesson). "
    "The incrementality readout beside the average-effect t-test tier.",
)
def events_uplift_qini(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_QINI_TMPL.format(d=SPARK))
