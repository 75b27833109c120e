"""Round-9 wave 8e: ML-evaluation + information-theory tier.

The quality-classifier tier (text_quality_classifier, round 8) trains a
model in-engine; this wave adds the operators a platform needs to JUDGE
such models and features at scale — all in the house one-template-two-
engines style (exact-integer reductions, fixed-order double epilogues):

* ``ml_eval_auc_pr`` — ROC-AUC via the tie-averaged rank-sum identity
  (AUC = normalized Mann-Whitney U) plus step-interpolated average
  precision, both from ONE sorted cumulative pass over the score
  histogram.
* ``ml_calibration_bins`` — reliability diagram (decile bins of a
  percent-rank score vs empirical label rate) + per-bin Brier score.
* ``ml_target_encoding`` — leave-one-out target encoding with additive
  smoothing (the classic high-cardinality categorical feature
  transform), reported per (category, label) cell.
* ``events_mutual_information`` — entropy / mutual information of the
  (event_type, hour-of-day) contingency table, per-cell LN quantized
  immediately (the house LN hazard rule) so the cross-cell sum is an
  exact integer reduction.

Label/score convention: label = (event_type = 'purchase'), score = the
metric value — "does the metric value predict purchases" is exactly the
alarm-threshold question the reference's scaling rules (R2/R3) answer
by eyeball; these queries answer it with proper scoring rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# ROC-AUC + average precision
# ---------------------------------------------------------------------------
# AUC via the rank-sum identity (Hanley & McNeil 1982; equivalently the
# Mann-Whitney U statistic): with tie groups handled by AVERAGE ranks,
# AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg). To keep every
# reduction integral, ranks are carried DOUBLED: a tie group occupying
# positions [a..b] has 2*avg_rank = a + b = 2*cum_before + c + 1, an
# integer; the positive rank-sum R2 = SUM(pos_c * (2cb + c + 1)) is
# exact, and AUC = (R2 - 2*np*(np+1)/2) / (2*np*nn) is ONE double
# division over exact integers. Average precision is the sklearn step
# interpolation AP = SUM_k dTP_k * P_k / n_pos over distinct-score
# thresholds descending, each group's dTP*TP/(TP+FP) a fixed-order
# double quantized e9 before the cross-group sum.
#
# Scale: one map-side-combinable aggregate to the distinct-score
# histogram (bounded by the e3 value quantization), then a window pass
# over that model-sized relation. Nothing data-sized ever sorts.

_AUC_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT v_e3,
               CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS pos_c
        FROM base GROUP BY v_e3
    ), cum AS (
        SELECT v_e3, c, pos_c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v_e3
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb,
               CAST(SUM(pos_c) OVER (ORDER BY v_e3 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
               CAST(SUM(c - pos_c) OVER (ORDER BY v_e3 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        FROM grp
    ), tot AS (
        SELECT CAST(SUM(pos_c) AS BIGINT) AS np,
               CAST(SUM(c - pos_c) AS BIGINT) AS nn
        FROM grp
    ), ranksum AS (
        SELECT CAST(SUM(pos_c * (2 * cb + c + 1)) AS BIGINT) AS r2,
               CAST(SUM(CASE WHEN pos_c > 0 THEN CAST(ROUND(
                   CAST(pos_c * tp AS DOUBLE) * 1000000000.0e0 / (tp + fp))
                   AS BIGINT) ELSE 0 END) AS BIGINT) AS ap_num_e9
        FROM cum
    )
    SELECT t.np AS n_pos, t.nn AS n_neg,
           CAST(ROUND(CAST(r.r2 - t.np * (t.np + 1) AS DOUBLE)
                      / (2.0e0 * t.np * t.nn) * 1000000000) AS BIGINT)
               AS auc_e9,
           CAST(ROUND(CAST(r.ap_num_e9 AS DOUBLE) / t.np) AS BIGINT)
               AS ap_e9
    FROM ranksum r CROSS JOIN tot t
    WHERE t.np > 0 AND t.nn > 0
"""


@register(
    "ml_eval_auc_pr",
    oracle=_AUC_SQL,
    doc="ROC-AUC (tie-averaged rank-sum / Mann-Whitney identity, Hanley "
    "& McNeil 1982) and step-interpolated average precision of the "
    "metric value as a purchase predictor. Ranks are carried DOUBLED so "
    "tie-averaged rank sums stay exact integers; AUC is one double "
    "division over exact ints; each AP term dTP*TP/(TP+FP) quantizes "
    "e9 before the cross-threshold sum. One map-side-combinable "
    "aggregate to the bounded distinct-score histogram, then window "
    "passes over that model-sized relation — no data-sized sort. "
    "Degenerate single-class inputs emit zero rows on BOTH engines "
    "(guarded: Spark's 0-division yields NULL where DuckDB's IEEE "
    "default yields inf — the r8 degenerate-input hazard).",
)
def ml_eval_auc_pr(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_AUC_SQL)


# ---------------------------------------------------------------------------
# Calibration / reliability bins + Brier score
# ---------------------------------------------------------------------------
# Reliability diagram (DeGroot & Fienberg 1983): score = tie-averaged
# percent-rank of the metric value (a monotone map to [0,1] — the
# "probability" a rank-based model would emit), cut into 10 equal-width
# bins; per bin, predicted-vs-empirical rate and the Brier contribution.
# percent_rank with doubled ranks: pr = (rank2 - 2) / (2n - 2), an
# exact rational; the bin boundary FLOOR(pr * 10) and the per-row Brier
# (pr - y)^2 quantize e6/e12 from the same fixed expression on both
# engines; all cross-row sums are over exact integers.

_CALIB_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT v_e3, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS pos_c
        FROM base GROUP BY v_e3
    ), cum AS (
        SELECT v_e3, c, pos_c,
               CAST(COALESCE(SUM(c) OVER (ORDER BY v_e3
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb,
               CAST(SUM(c) OVER () AS BIGINT) AS n
        FROM grp
    ), scored AS (
        SELECT pos_c, c - pos_c AS neg_c,
               CAST(ROUND(CAST(2 * cb + c - 1 AS DOUBLE)
                          / (2 * n - 2) * 1000000) AS BIGINT) AS pr_e6,
               LEAST(CAST(FLOOR(CAST(2 * cb + c - 1 AS DOUBLE) * 10
                          / (2 * n - 2)) AS BIGINT), 9) AS bin
        FROM cum WHERE 2 * n - 2 > 0
    )
    SELECT bin,
           CAST(SUM(pos_c + neg_c) AS BIGINT) AS n_rows,
           CAST(SUM(pos_c) AS BIGINT) AS n_pos,
           CAST(ROUND(CAST(SUM((pos_c + neg_c) * pr_e6) AS DOUBLE)
                      / SUM(pos_c + neg_c)) AS BIGINT) AS mean_score_e6,
           CAST(ROUND(CAST(SUM(pos_c) AS DOUBLE) * 1000000
                      / SUM(pos_c + neg_c)) AS BIGINT) AS pos_rate_e6,
           CAST(ROUND(CAST(SUM(
               pos_c * CAST(ROUND(POWER(1.0e0 - pr_e6 / 1000000.0e0, 2)
                                  * 1000000000000) AS BIGINT)
               + neg_c * CAST(ROUND(POWER(pr_e6 / 1000000.0e0, 2)
                                    * 1000000000000) AS BIGINT)
           ) AS DOUBLE) / SUM(pos_c + neg_c)) AS BIGINT) AS brier_e12
    FROM scored GROUP BY bin
"""


@register(
    "ml_calibration_bins",
    oracle=_CALIB_SQL,
    doc="Reliability diagram + Brier score (DeGroot & Fienberg 1983) of "
    "the rank-based purchase score: tie-averaged percent-rank (doubled-"
    "rank exact rational) cut into 10 equal-width bins; per bin the "
    "mean predicted score, empirical positive rate, and mean Brier "
    "contribution, every per-row double quantized (e6/e12) before any "
    "cross-row sum. Same bounded score-histogram reduction as "
    "ml_eval_auc_pr — the binning epilogue is model-sized.",
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CALIB_SQL)


# ---------------------------------------------------------------------------
# Leave-one-out target encoding with additive smoothing
# ---------------------------------------------------------------------------
# The classic high-cardinality categorical transform (Micci-Barreca,
# SIGKDD Explorations 2001): replace category k for row i by
# (s_k - y_i + m * prior) / (n_k - 1 + m), leaving row i out so the
# feature never leaks its own label. Because the LOO encoding takes
# only TWO values per (category, label) pair, the per-row transform is
# reported exactly as the model-sized (category x label) grid — the
# full per-row materialization at 100 TB is this grid broadcast-joined
# back onto the fact, so the grid IS the operator.

_TENC_M = 20

_TENC_SQL = f"""
    WITH base AS (
        SELECT o_orderpriority AS cat,
               CASE WHEN o_totalprice > 150000.0e0 THEN 1 ELSE 0 END AS y
        FROM orders
    ), per_cat AS (
        SELECT cat, CAST(COUNT(*) AS BIGINT) AS n_cat,
               CAST(SUM(y) AS BIGINT) AS s_cat
        FROM base GROUP BY cat
    ), tot AS (
        SELECT CAST(SUM(n_cat) AS BIGINT) AS n_tot,
               CAST(SUM(s_cat) AS BIGINT) AS s_tot
        FROM per_cat
    )
    SELECT p.cat, g.y,
           CAST(CASE WHEN g.y = 1 THEN p.s_cat ELSE p.n_cat - p.s_cat END
               AS BIGINT) AS n_rows,
           CAST(ROUND(CAST(t.s_tot AS DOUBLE) / t.n_tot * 1000000000)
               AS BIGINT) AS prior_e9,
           CAST(ROUND(
               (CAST(p.s_cat - g.y AS DOUBLE)
                + {_TENC_M}.0e0 * t.s_tot / t.n_tot)
               / (p.n_cat - 1 + {_TENC_M}) * 1000000000) AS BIGINT)
               AS enc_e9
    FROM per_cat p
    CROSS JOIN (SELECT 0 AS y UNION ALL SELECT 1 AS y) g
    CROSS JOIN tot t
    WHERE CASE WHEN g.y = 1 THEN p.s_cat ELSE p.n_cat - p.s_cat END > 0
"""


@register(
    "ml_target_encoding",
    oracle=_TENC_SQL,
    doc="Leave-one-out target encoding with additive smoothing m=20 "
    "(Micci-Barreca, SIGKDD Expl. 2001) of order priority against the "
    "high-value-order label: enc = (s_cat - y + m*prior)/(n_cat - 1 + "
    "m). The LOO encoding takes exactly two values per category (one "
    "per left-out label), so the operator emits the exact (category x "
    "label) grid with its row counts — the artifact a 100 TB pipeline "
    "broadcast-joins back onto the fact table. One map-side-combinable "
    "aggregate; the smoothing epilogue is one fixed-order double "
    "expression over exact integers, quantized e9.",
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_TENC_SQL)


# ---------------------------------------------------------------------------
# Entropy / mutual information of the (event_type, hour) contingency
# ---------------------------------------------------------------------------
# MI(X;Y) = SUM_ij p_ij ln(p_ij / (p_i p_j)) over the event_type x
# hour-of-day table — the dependence screen behind "is this metric
# diurnal". LN is the one libm call that is NOT correctly rounded
# (house hazard rule, ROUND_NOTES r7): every ln output quantizes to an
# e9 integer IMMEDIATELY, the count-weighted cell terms are exact
# int*int products, and the cross-cell reduction is an integer SUM —
# aggregation-order-free on both engines. Arguments to ln are single
# fixed-order double divisions over exact counts. Normalized MI uses
# the sqrt(H_x * H_y) denominator (Strehl & Ghosh, JMLR 2002).

_MI_TMPL = """
    WITH cells AS (
        SELECT event_type AS x, hr AS y, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT event_type,
                     CAST(FLOOR({d.epoch_s} / 3600) AS BIGINT) % 24
                         AS hr
              FROM events)
        GROUP BY event_type, hr
    ), rowm AS (
        SELECT x, CAST(SUM(c) AS BIGINT) AS rx FROM cells GROUP BY x
    ), colm AS (
        SELECT y, CAST(SUM(c) AS BIGINT) AS cy FROM cells GROUP BY y
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), terms AS (
        SELECT CAST(SUM(cl.c * CAST(ROUND(LN(
                   CAST(cl.c AS DOUBLE) * t.n
                   / (CAST(r.rx AS DOUBLE) * c2.cy)) * 1000000000)
                   AS BIGINT)) AS BIGINT) AS mi_num
        FROM cells cl
        JOIN rowm r ON r.x = cl.x
        JOIN colm c2 ON c2.y = cl.y
        CROSS JOIN tot t
    ), hx AS (
        SELECT CAST(SUM(rx * CAST(ROUND(LN(
                   CAST(t.n AS DOUBLE) / rx) * 1000000000) AS BIGINT))
               AS BIGINT) AS hx_num
        FROM rowm CROSS JOIN tot t
    ), hy AS (
        SELECT CAST(SUM(cy * CAST(ROUND(LN(
                   CAST(t.n AS DOUBLE) / cy) * 1000000000) AS BIGINT))
               AS BIGINT) AS hy_num
        FROM colm CROSS JOIN tot t
    )
    SELECT t2.n,
           CAST(ROUND(CAST(hx.hx_num AS DOUBLE) / t2.n) AS BIGINT)
               AS h_event_e9,
           CAST(ROUND(CAST(hy.hy_num AS DOUBLE) / t2.n) AS BIGINT)
               AS h_hour_e9,
           CAST(ROUND(CAST(te.mi_num AS DOUBLE) / t2.n) AS BIGINT)
               AS mi_e9,
           CASE WHEN hx.hx_num > 0 AND hy.hy_num > 0 THEN
               CAST(ROUND(CAST(te.mi_num AS DOUBLE) / t2.n
                          / SQRT((CAST(hx.hx_num AS DOUBLE) / t2.n)
                                 * (CAST(hy.hy_num AS DOUBLE) / t2.n))
                          * 1000000000) AS BIGINT)
           ELSE CAST(NULL AS BIGINT) END AS nmi_e9
    FROM terms te CROSS JOIN hx CROSS JOIN hy
    CROSS JOIN (SELECT n FROM tot) t2
"""


@register(
    "events_mutual_information",
    oracle=_MI_TMPL.format(d=DUCK),
    doc="Entropy and mutual information of the (event_type, hour-of-"
    "day) contingency table, with Strehl-Ghosh sqrt-normalized MI: the "
    "dependence screen behind diurnality. Every LN output quantizes to "
    "an e9 integer IMMEDIATELY (LN is the one libm call without a "
    "correct-rounding guarantee — the house hazard rule), cell terms "
    "are exact int*int products, and all cross-cell reductions are "
    "integer SUMs. One map-side-combinable count to the 5x24 table; "
    "everything after is model-sized. Only the hour extraction differs "
    "between engine texts (unix_timestamp vs epoch).",
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MI_TMPL.format(d=SPARK))
