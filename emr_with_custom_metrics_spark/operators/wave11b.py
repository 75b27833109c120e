"""Round-11 wave 11b: classifier-eval and agreement/robust-shift tier.

Completes the ML-eval family (calibration, F1 sweep, lift/gains, AUC-PR,
Brier, MRR/NDCG already shipped) with the remaining canonical readouts,
plus the two classical agreement/shift estimators:

* ``ml_cohen_kappa`` — chance-corrected agreement between two
  deterministic raters (value-median rule vs event-type rule).
* ``ml_confusion_multiclass`` — 3-class confusion matrix with per-class
  precision/recall/F1 and micro/macro aggregates, predictor = exact
  rank-tercile of the score.
* ``ml_ks_separation`` — the KS separation statistic of a binary
  scorer (max |TPR-FPR|), exact via cross-multiplied integer CDFs.
* ``ml_logloss_eval`` — cross-entropy of the even-half-calibrated
  forecast on the odd half, aggregated per BIN so ln() runs once per
  bin on an exact rational (the collocation-LLR ln discipline).
* ``stats_hodges_lehmann`` — the HL median-of-pairwise-differences
  shift estimator between the md5 A/B arms, exact over the bounded
  value-histogram pair grid.
* ``stats_bland_altman`` — Bland-Altman agreement between every metric
  pair's hourly means: bias, limits of agreement, share outside.

House discipline: exact integer sufficient statistics; value-domain-
bounded (never row-bounded) pair stages; ln() quantized immediately
after the single per-bin call (the documented cross-engine hazard);
pinned z = 1.96; every data-derived denominator CASE-guarded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import _ARM
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------
# Two deterministic "raters" over events: rater 1 says positive when the
# value clears the global doubled median (exact order-statistic, no
# percentile_cont float), rater 2 when the event type is an engagement
# type. Kappa = (po - pe)/(1 - pe) over the exact 2x2 confusion counts;
# po/pe/kappa are single double epilogues e9.
#
# Scale: one histogram for the median, one confusion aggregation — both
# map-side-combinable; state is histogram-bounded.

_KAPPA_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type IN ('purchase', 'click')
                    THEN 1 ELSE 0 END AS r2
        FROM events
    ), vals AS (
        -- doubled median from the value histogram (map-side
        -- combinable), not a global ROW_NUMBER sort — scale posture
        -- fixed by the round-11 x10 probe
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
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN 2 * b.v_e3 > m.med2 AND b.r2 = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c11,
               CAST(SUM(CASE WHEN 2 * b.v_e3 > m.med2 AND b.r2 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c10,
               CAST(SUM(CASE WHEN 2 * b.v_e3 <= m.med2 AND b.r2 = 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS c01,
               CAST(SUM(CASE WHEN 2 * b.v_e3 <= m.med2 AND b.r2 = 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS c00
        FROM base b CROSS JOIN med m
    )
    SELECT n, c11, c10, c01, c00,
           CAST(ROUND(CAST(c11 + c00 AS DOUBLE) / n * 1000000000) AS BIGINT)
               AS po_e9,
           CAST(ROUND((CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                       + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                      / (CAST(n AS DOUBLE) * n) * 1000000000) AS BIGINT)
               AS pe_e9,
           CASE WHEN (CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                      + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                     < CAST(n AS DOUBLE) * n
                THEN CAST(ROUND(
                       (CAST(c11 + c00 AS DOUBLE) / n
                        - (CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                           + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                          / (CAST(n AS DOUBLE) * n))
                       / (1 - (CAST(c11 + c10 AS DOUBLE) * (c11 + c01)
                               + CAST(c01 + c00 AS DOUBLE) * (c10 + c00))
                              / (CAST(n AS DOUBLE) * n))
                       * 1000000000) AS BIGINT)
                ELSE 0 END AS kappa_e9
    FROM conf
"""


@register(
    "ml_cohen_kappa",
    oracle=_KAPPA_SQL,
    doc="Cohen's kappa between two deterministic raters (global doubled-"
    "median value rule vs engagement-type rule): exact 2x2 confusion "
    "counts, po/pe/kappa as fixed-order double epilogues e9, pe = 1 "
    "degeneracy guarded. The chance-corrected upgrade of raw accuracy; "
    "one histogram pass plus one confusion aggregation.",
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_KAPPA_SQL)


# ---------------------------------------------------------------------------
# Multiclass confusion matrix
# ---------------------------------------------------------------------------
# Label: 3 semantic classes of event_type. Predictor: exact rank
# terciles of (v_e3, event_id) — the tuple tie-break makes the tercile
# cut deterministic with no NTILE row-order dependence. Confusion counts
# are exact; per-class P/R/F1 and micro (= accuracy) / macro F1 are
# double epilogues e9. Macro-F1 averages the three ALREADY-QUANTIZED
# per-class F1 integers, so the cross-class mean is order-free.

_CONF3_SQL = """
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 'buy'
                    WHEN event_type IN ('click', 'view') THEN 'browse'
                    ELSE 'other' END AS label
        FROM events
    ), vals AS (
        -- tercile cuts via the value HISTOGRAM, not a global
        -- ROW_NUMBER over all rows: the x10 probe measured the global
        -- window at 6x for 10x data (one task sorts everything); the
        -- histogram pick is value-domain-bounded and answer-identical
        SELECT v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY v_e3
    ), cum AS (
        SELECT v_e3, c,
               CAST(SUM(c) OVER (ORDER BY v_e3 ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cw,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM vals
    ), cuts AS (
        -- the (value, id) tuple at exact ranks floor(n/3), floor(2n/3):
        -- value from the cumulative histogram, id offset within it
        SELECT MAX(CAST(FLOOR(n / 3.0e0) AS BIGINT)) AS r1,
               MAX(CAST(FLOOR(2 * n / 3.0e0) AS BIGINT)) AS r2,
               MIN(CASE WHEN cw >= CAST(FLOOR(n / 3.0e0) AS BIGINT)
                        THEN v_e3 END) AS v1,
               MIN(CASE WHEN cw >= CAST(FLOOR(n / 3.0e0) AS BIGINT)
                        THEN cw - c END) AS cb1,
               MIN(CASE WHEN cw >= CAST(FLOOR(2 * n / 3.0e0) AS BIGINT)
                        THEN v_e3 END) AS v2,
               MIN(CASE WHEN cw >= CAST(FLOOR(2 * n / 3.0e0) AS BIGINT)
                        THEN cw - c END) AS cb2
        FROM cum
    ), ids AS (
        -- id at the in-value offset: the window partitions BY VALUE, so
        -- only the two cut values' tie groups are ordered, in parallel
        SELECT MAX(CASE WHEN b.v_e3 = b.v1 AND b.rnk = b.r1 - b.cb1
                        THEN b.event_id END) AS id1,
               MAX(CASE WHEN b.v_e3 = b.v2 AND b.rnk = b.r2 - b.cb2
                        THEN b.event_id END) AS id2
        FROM (SELECT x.event_id, x.v_e3, c.v1, c.v2, c.r1, c.r2,
                     c.cb1, c.cb2,
                     CAST(ROW_NUMBER() OVER (PARTITION BY x.v_e3
                          ORDER BY x.event_id) AS BIGINT) AS rnk
              FROM base x CROSS JOIN cuts c
              WHERE x.v_e3 = c.v1 OR x.v_e3 = c.v2) b
    ), pred AS (
        SELECT b.label,
               CASE WHEN c.r1 >= 1
                     AND (b.v_e3 < c.v1 OR (b.v_e3 = c.v1
                          AND b.event_id <= i.id1)) THEN 'buy'
                    WHEN c.r2 >= 1
                     AND (b.v_e3 < c.v2 OR (b.v_e3 = c.v2
                          AND b.event_id <= i.id2)) THEN 'browse'
                    ELSE 'other' END AS predicted
        FROM base b CROSS JOIN cuts c CROSS JOIN ids i
    ), cm AS (
        SELECT label, predicted, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pred GROUP BY label, predicted
    ), classes AS (
        SELECT c.cls,
               CAST(COALESCE(SUM(CASE WHEN m.label = c.cls
                                       AND m.predicted = c.cls
                                      THEN m.cnt END), 0) AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN m.label <> c.cls
                                       AND m.predicted = c.cls
                                      THEN m.cnt END), 0) AS BIGINT) AS fp,
               CAST(COALESCE(SUM(CASE WHEN m.label = c.cls
                                       AND m.predicted <> c.cls
                                      THEN m.cnt END), 0) AS BIGINT) AS fn
        FROM (SELECT * FROM (VALUES ('buy'), ('browse'), ('other'))
              AS v(cls)) c
        CROSS JOIN cm m
        GROUP BY c.cls
    ), scored AS (
        SELECT cls, tp, fp, fn,
               CASE WHEN tp + fp > 0
                    THEN CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fp)
                               * 1000000000) AS BIGINT)
                    ELSE 0 END AS precision_e9,
               CASE WHEN tp + fn > 0
                    THEN CAST(ROUND(CAST(tp AS DOUBLE) / (tp + fn)
                               * 1000000000) AS BIGINT)
                    ELSE 0 END AS recall_e9,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN CAST(ROUND(CAST(2 * tp AS DOUBLE)
                               / (2 * tp + fp + fn) * 1000000000) AS BIGINT)
                    ELSE 0 END AS f1_e9
        FROM classes
    ), overall AS (
        SELECT CAST(ROUND(AVG(CAST(f1_e9 AS DOUBLE))) AS BIGINT)
                   AS macro_f1_e9,
               CAST(ROUND(CAST(SUM(tp) AS DOUBLE)
                          / (SUM(tp) + SUM(fp)) * 1000000000) AS BIGINT)
                   AS micro_f1_e9
        FROM scored
    )
    SELECT s.cls, s.tp, s.fp, s.fn, s.precision_e9, s.recall_e9, s.f1_e9,
           o.macro_f1_e9, o.micro_f1_e9
    FROM scored s CROSS JOIN overall o
"""


@register(
    "ml_confusion_multiclass",
    oracle=_CONF3_SQL,
    doc="3-class confusion matrix (semantic event classes vs exact "
    "rank-tercile score classes; the (v, event_id) tuple tie-break "
    "replaces NTILE's row-order dependence): exact integer confusion "
    "counts, per-class P/R/F1 e9, micro-F1 (= accuracy for single-label "
    "multiclass) and macro-F1 averaging the already-quantized per-class "
    "integers so the cross-class mean is order-free.",
)
def ml_confusion_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `base` feeds vals/ids/pred and `cuts`
    # feeds ids + pred — WITH-inlining re-ran the events scan (and the
    # whole histogram -> cumulative -> cut pick) per reference: 16
    # scans in plans/r15/ml_confusion_multiclass_scan1.txt.
    return stage_ctes(spark, _CONF3_SQL, "base", "cuts")


# ---------------------------------------------------------------------------
# KS separation of a binary scorer
# ---------------------------------------------------------------------------
# The model-eval KS: max over score thresholds of |TPR - FPR|, i.e. the
# best single-threshold separation the scorer admits. Identical integer
# discipline to stats_ks_test: cumulative class counts over the shared
# value histogram, cross-multiplied so the argmax needs no division.
# The threshold reported is the smallest score attaining the max.

_KSEP_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), hist AS (
        SELECT v_e3,
               CAST(SUM(y) AS BIGINT) AS pos,
               CAST(SUM(1 - y) AS BIGINT) AS neg
        FROM base GROUP BY v_e3
    ), cum AS (
        SELECT v_e3,
               CAST(SUM(pos) OVER (ORDER BY v_e3
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos,
               CAST(SUM(neg) OVER (ORDER BY v_e3
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cneg
        FROM hist
    ), tot AS (
        SELECT CAST(SUM(pos) AS BIGINT) AS p,
               CAST(SUM(neg) AS BIGINT) AS q
        FROM hist
    ), diffs AS (
        SELECT c.v_e3,
               CAST(ABS(c.cpos * t.q - c.cneg * t.p) AS BIGINT) AS d_num,
               t.p, t.q
        FROM cum c CROSS JOIN tot t
    ), best AS (
        SELECT v_e3, d_num, p, q,
               CAST(ROW_NUMBER() OVER (ORDER BY d_num DESC, v_e3)
                    AS BIGINT) AS rk
        FROM diffs
    )
    SELECT p AS n_pos, q AS n_neg, v_e3 AS best_threshold_e3, d_num,
           CASE WHEN p > 0 AND q > 0
                THEN CAST(ROUND(CAST(d_num AS DOUBLE) / (CAST(p AS DOUBLE) * q)
                           * 1000000000) AS BIGINT)
                ELSE 0 END AS ks_e9
    FROM best WHERE rk = 1
"""


@register(
    "ml_ks_separation",
    oracle=_KSEP_SQL,
    doc="KS separation of the value-as-score purchase classifier: max "
    "|TPR - FPR| over thresholds, exact via cross-multiplied integer "
    "class CDFs on the shared value histogram (no division inside the "
    "argmax; smallest attaining threshold reported). stats_ks_test's "
    "integer discipline applied to the model-eval question ml_f1_"
    "threshold answers for F1. Overflow: cum*total int64 to ~3e9 rows.",
)
def ml_ks_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_KSEP_SQL)


# ---------------------------------------------------------------------------
# Log-loss of the calibrated forecast
# ---------------------------------------------------------------------------
# The cross-entropy companion of ml_brier_decomposition: the SAME
# even-half calibration table (10 equal-width bins, rate e9, test-only
# bins defaulted to the global calibration rate), scored on the odd half
# with log loss. ln() is NOT correctly rounded (house hazard) — so it
# runs ONCE per bin on the exact e9 rational, clamped to
# [1e-9, 1 - 1e-9], and is quantized e9 immediately; the cross-bin
# reduction is then an exact integer sum. The skill column compares
# against the constant test-base-rate forecast (same ln discipline).

_LOGLOSS_SQL = """
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               event_id % 2 AS half
        FROM events
    ), rng AS (
        SELECT MIN(v_e3) AS lo, MAX(v_e3) AS hi FROM base
    ), binned AS (
        SELECT b.half, b.y,
               LEAST(CAST(FLOOR((b.v_e3 - r.lo) * 10.0e0
                                / (r.hi - r.lo + 1)) AS BIGINT), 9) AS bin
        FROM base b CROSS JOIN rng r
        WHERE r.hi > r.lo
    ), calib AS (
        SELECT bin,
               CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p_e9
        FROM binned WHERE half = 0 GROUP BY bin
    ), calg AS (
        SELECT CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p0_e9
        FROM binned WHERE half = 0
    ), test AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(y) AS BIGINT) AS pos_b
        FROM binned WHERE half = 1 GROUP BY bin
    ), terms AS (
        -- ln() once per bin on the clamped exact rational, quantized e9
        -- immediately (cross-engine libm hazard), THEN weighted by the
        -- exact integer counts
        SELECT t.n_b, t.pos_b,
               CAST(ROUND(ln(LEAST(GREATEST(
                        CAST(COALESCE(c.p_e9, g.p0_e9) AS DOUBLE)
                        / 1000000000, 1.0e-9), 1 - 1.0e-9)) * 1000000000)
                    AS BIGINT) AS lnp_e9,
               CAST(ROUND(ln(LEAST(GREATEST(
                        1 - CAST(COALESCE(c.p_e9, g.p0_e9) AS DOUBLE)
                        / 1000000000, 1.0e-9), 1 - 1.0e-9)) * 1000000000)
                    AS BIGINT) AS ln1p_e9
        FROM test t
        LEFT JOIN calib c ON t.bin = c.bin
        CROSS JOIN calg g
    ), tot AS (
        SELECT CAST(SUM(n_b) AS BIGINT) AS n,
               CAST(SUM(pos_b) AS BIGINT) AS pos,
               CAST(SUM(-(pos_b * lnp_e9 + (n_b - pos_b) * ln1p_e9))
                    AS BIGINT) AS nll_sum_e9
        FROM terms
    ), basearm AS (
        SELECT n, pos, nll_sum_e9,
               CAST(ROUND(ln(LEAST(GREATEST(CAST(pos AS DOUBLE) / n,
                        1.0e-9), 1 - 1.0e-9)) * 1000000000) AS BIGINT)
                   AS lnb_e9,
               CAST(ROUND(ln(LEAST(GREATEST(1 - CAST(pos AS DOUBLE) / n,
                        1.0e-9), 1 - 1.0e-9)) * 1000000000) AS BIGINT)
                   AS ln1b_e9
        FROM tot WHERE n > 0
    )
    SELECT n AS n_test, pos AS pos_test,
           CAST(ROUND(CAST(nll_sum_e9 AS DOUBLE) / n / 1000) AS BIGINT)
               AS logloss_e6,
           CAST(ROUND(CAST(-(pos * lnb_e9 + (n - pos) * ln1b_e9) AS DOUBLE)
                      / n / 1000) AS BIGINT) AS logloss_base_e6,
           CAST(ROUND(CAST(-(pos * lnb_e9 + (n - pos) * ln1b_e9) AS DOUBLE)
                      / n / 1000)
                - ROUND(CAST(nll_sum_e9 AS DOUBLE) / n / 1000) AS BIGINT)
               AS skill_e6
    FROM basearm
"""


@register(
    "ml_logloss_eval",
    oracle=_LOGLOSS_SQL,
    doc="Cross-entropy of the even-half-calibrated bin forecast on the "
    "odd half (the log-loss companion of ml_brier_decomposition, same "
    "calibration table incl. the default-forecast rule for test-only "
    "bins): ln() runs once per BIN on the clamped exact e9 rational and "
    "is quantized e9 immediately (the documented non-correctly-rounded "
    "hazard), so the per-row reduction is an exact integer sum. Skill "
    "vs the constant base-rate forecast emitted alongside.",
)
def ml_logloss_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): same shape as ml_expected_calibration_error
    # — `binned` feeds calib/calg/test, re-running the events scan +
    # range cross-join per reference.
    return stage_ctes(spark, _LOGLOSS_SQL, "binned")


# ---------------------------------------------------------------------------
# Hodges-Lehmann shift estimator
# ---------------------------------------------------------------------------
# The robust "how big is the A/B effect" companion of stats_mann_whitney
# (which only says whether there is one): the median of all pairwise
# differences x_A - x_B. Computed per metric over the e1-quantized value
# HISTOGRAMS of each arm, so the pair stage is value-domain-bounded
# (|histA| x |histB|), never row-bounded; the weighted median over
# exact integer pair weights uses the doubled-median convention (lower
# + upper middle of the nA*nB pair population).
#
# Resolution note: e1 (0.1-unit) quantization bounds the grid at ~1k
# cells per arm; the estimator's resolution is 0.1 units by design.

_HL_TMPL = """
    WITH base AS (
        SELECT event_type,
               {arm} AS arm,
               CAST(ROUND(value * 10) AS BIGINT) AS v_e1
        FROM events
    ), hist AS (
        SELECT event_type, arm, v_e1, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, arm, v_e1
    ), pairs AS (
        SELECT a.event_type,
               a.v_e1 - b.v_e1 AS d_e1,
               CAST(SUM(a.c * b.c) AS BIGINT) AS w
        FROM hist a JOIN hist b
          ON a.event_type = b.event_type AND a.arm = 'A' AND b.arm = 'B'
        GROUP BY a.event_type, a.v_e1 - b.v_e1
    ), cum AS (
        SELECT event_type, d_e1, w,
               CAST(SUM(w) OVER (PARTITION BY event_type ORDER BY d_e1
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               CAST(SUM(w) OVER (PARTITION BY event_type) AS BIGINT) AS tw
        FROM pairs
    ), lo AS (
        SELECT event_type, tw,
               MIN(CASE WHEN 2 * cw >= tw + CAST(tw % 2 AS BIGINT)
                        THEN d_e1 END) AS d_lo,
               MIN(CASE WHEN 2 * cw >= tw + 2 - CAST(tw % 2 AS BIGINT)
                        THEN d_e1 END) AS d_hi
        FROM cum GROUP BY event_type, tw
    )
    SELECT event_type, tw AS n_pairs,
           CAST(d_lo + d_hi AS BIGINT) AS hl_shift_x2_e1,
           CAST(ROUND((d_lo + d_hi) / 2.0e0 * 100000) AS BIGINT)
               AS hl_shift_e6
    FROM lo
"""


@register(
    "stats_hodges_lehmann",
    oracle=_HL_TMPL.format(arm=_ARM),
    doc="Hodges-Lehmann shift estimator per metric between the md5 A/B "
    "arms: the weighted median of all nA*nB pairwise differences over "
    "the e1-quantized per-arm value histograms — the pair stage is "
    "value-domain-bounded, never row-bounded, and the doubled-median "
    "pick over exact integer cumulative weights has no percentile "
    "float. The effect-SIZE companion of stats_mann_whitney. Doubled "
    "median convention: lower middle at cum >= ceil(W/2), upper at "
    "cum >= floor(W/2)+1.",
)
def stats_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` feeds BOTH sides of the pair
    # self-join, so WITH-inlining re-ran the events scan + md5 arm
    # assignment + histogram aggregation once per side (2 full scans in
    # plans/r15/stats_hodges_lehmann_before.txt).
    return stage_ctes(spark, _HL_TMPL.format(arm=_ARM), "hist")


# ---------------------------------------------------------------------------
# Bland-Altman agreement
# ---------------------------------------------------------------------------
# Do two metrics "measure the same thing" hour to hour? For every
# metric pair: per-hour mean difference (each hourly mean an exact
# rational s/c, the difference quantized e6 in ONE fixed-order double
# step), then exact integer moments of d_e6 give bias and the 1.96-sd
# limits of agreement, plus the integer count of hours outside them.
#
# Scale: hour-grid bounded, same shuffle posture as the Kendall pairs.

_BA_TMPL = """
    WITH base AS (
        SELECT event_type,
               CAST(FLOOR({d.epoch_s} / 3600) AS BIGINT) AS h,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hs AS (
        SELECT event_type, h,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(v_e3) AS BIGINT) AS s
        FROM base GROUP BY event_type, h
    ), duo AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b, a.h,
               CAST(ROUND((CAST(a.s AS DOUBLE) / a.c
                           - CAST(b.s AS DOUBLE) / b.c) * 1000) AS BIGINT)
                   AS d_e6
        FROM hs a JOIN hs b ON a.h = b.h AND a.event_type < b.event_type
    ), mom AS (
        SELECT type_a, type_b,
               CAST(COUNT(*) AS BIGINT) AS n_hours,
               CAST(SUM(d_e6) AS BIGINT) AS s1,
               CAST(SUM(d_e6 * d_e6) AS BIGINT) AS s2
        FROM duo GROUP BY type_a, type_b
    ), stat AS (
        SELECT type_a, type_b, n_hours, s1, s2,
               CAST(ROUND(CAST(s1 AS DOUBLE) / n_hours) AS BIGINT) AS bias_e6,
               CASE WHEN n_hours > 1
                    THEN sqrt((CAST(s2 AS DOUBLE)
                               - CAST(s1 AS DOUBLE) * s1 / n_hours)
                              / (n_hours - 1))
                    ELSE CAST(0 AS DOUBLE) END AS sd_e6d
        FROM mom
    ), lims AS (
        SELECT type_a, type_b, n_hours, bias_e6,
               CAST(ROUND(sd_e6d) AS BIGINT) AS sd_e6,
               CAST(ROUND(CAST(s1 AS DOUBLE) / n_hours
                          - CAST(1.96 AS DOUBLE) * sd_e6d) AS BIGINT)
                   AS loa_lo_e6,
               CAST(ROUND(CAST(s1 AS DOUBLE) / n_hours
                          + CAST(1.96 AS DOUBLE) * sd_e6d) AS BIGINT)
                   AS loa_hi_e6
        FROM stat
    )
    SELECT l.type_a, l.type_b, l.n_hours, l.bias_e6, l.sd_e6,
           l.loa_lo_e6, l.loa_hi_e6,
           CAST(SUM(CASE WHEN d.d_e6 < l.loa_lo_e6 OR d.d_e6 > l.loa_hi_e6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outside
    FROM lims l JOIN duo d
      ON d.type_a = l.type_a AND d.type_b = l.type_b
    GROUP BY l.type_a, l.type_b, l.n_hours, l.bias_e6, l.sd_e6,
             l.loa_lo_e6, l.loa_hi_e6
"""


@register(
    "stats_bland_altman",
    oracle=_BA_TMPL.format(d=DUCK),
    doc="Bland-Altman agreement between every metric pair's hourly "
    "means: per-hour difference quantized e6 in one fixed-order double "
    "step, bias and 1.96-sd limits of agreement from exact integer "
    "moments of d_e6, hours outside the limits counted exactly. The "
    "method-agreement readout the correlation family (spearman/kendall) "
    "deliberately does not answer. Hour-grid bounded.",
)
def stats_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_BA_TMPL.format(d=SPARK))
