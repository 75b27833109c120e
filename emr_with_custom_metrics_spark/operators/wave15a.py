"""Round-15 wave 15a: privacy release screens, the survival TEST, and
process capability.

* ``dq_delta_presence`` — delta-presence (Nergiz, Atzori, Clifton,
  SIGMOD 2007): the privacy triad (k-anonymity / l-diversity /
  t-closeness) screens what an adversary learns ABOUT someone known
  to be in the release; delta-presence screens whether the adversary
  can tell someone IS IN the release at all (membership disclosure —
  the attack the triad does not model). For a released user subset R
  of population P, delta(c) = |users_R(c)| / |users_P(c)| per
  quasi-identifier class c; delta near 1 means QI membership alone
  reveals presence. The QI expressions MIRROR the triad's (asserted
  structurally against wave9g's _LDIV_QI in tests so they cannot
  drift).
* ``privacy_randomized_response`` — Warner 1965 randomized response:
  each event reports its true high-value bit with probability p = 3/4
  and the flipped bit otherwise (md5-derived integer threshold, so
  both engines materialize byte-identical releases), then the
  debiased estimator pi_hat = (lambda_hat + p - 1)/(2p - 1) recovers
  the population rate — LOCAL differential privacy with
  eps = ln(p/(1-p)) = ln 3 per bit, the per-record complement of the
  central-DP rows (privacy_dp_counts / privacy_dp_median).
* ``survival_logrank_test`` — the two-sample log-rank (Mantel 1966)
  over the SAME user-lifetime grid as survival_kaplan_meier /
  survival_nelson_aalen, comparing the deterministic md5 A/B arms:
  at each churn day t, O-E for arm A under the hypergeometric null
  and its variance; chi2(1) = (O-E)^2/V. KM/NA draw the curveS; this
  is the TEST that the two curves differ.
* ``spc_capability_indices`` — process capability Cp / Cpk per metric
  against pinned spec limits [10, 90] on the value column: Cp =
  (USL-LSL)/(6 sigma) (potential), Cpk = min(USL-mean, mean-LSL)/
  (3 sigma) (actual, off-center penalized) — the SPC readout beside
  spc_western_electric's run rules: WE flags INSTABILITY, Cp/Cpk
  measure MARGIN. Capable at the conventional 1.33.

House discipline (the round-14 hazard checklist): second moments and
weighted sums accumulate in exact order-free DECIMAL with one DOUBLE
conversion (r14 ADVICE); every fraction quantizes
per-row/per-class BEFORE any cross-row reduction; degenerate groups
(zero variance, no churn, single class) emit flagged rows, never
vanish; no unguarded division anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.registry import register

_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US


# ---------------------------------------------------------------------------
# delta-presence
# ---------------------------------------------------------------------------
# QI expressions mirror the triad's _LDIV_QI (wave9g) — the structural
# test pins both fragments against that text so the four screens share
# one class definition. The triad's QI CTE drops user_id (its screens
# are class-level), so delta-presence re-states the expressions with
# user_id kept rather than slicing the CTE.
_DP_QI_DOW = "{EPOCH_DAY} % 7"
_DP_QI_BAND = "CAST(FLOOR(value / 25) AS BIGINT)"

# Released subset: first md5 nibble of the user id < 4 (a deterministic
# 25% user-level release — presence is a property of INDIVIDUALS, so
# the release rule keys on user, never event).
_DP_RELEASED = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('dp|', "
    "CAST(user_id AS STRING))), 1, 1)) - 1) < 4 THEN 1 ELSE 0 END"
)

_DP_DELTA_MAX_E9 = 500_000_000  # pinned screen threshold delta = 0.5

_DP_TMPL = f"""
    WITH qi AS (
        SELECT DISTINCT user_id,
               {_DP_QI_DOW} AS dow,
               {_DP_QI_BAND} AS value_band
        FROM events
    ), marked AS (
        SELECT user_id, dow, value_band,
               {_DP_RELEASED} AS released
        FROM qi
    ), cls AS (
        SELECT dow, value_band,
               CAST(COUNT(*) AS BIGINT) AS n_pop,
               CAST(SUM(released) AS BIGINT) AS n_rel,
               CAST(ROUND(CAST(SUM(released) AS DOUBLE) / COUNT(*)
                    * 1000000000) AS BIGINT) AS delta_e9
        FROM marked GROUP BY dow, value_band
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MAX(delta_e9) AS BIGINT) AS max_delta_e9,
           CAST(MIN(delta_e9) AS BIGINT) AS min_delta_e9,
           -- user-weighted average accumulates per-term in
           -- DECIMAL(19,0) * BIGINT -> DECIMAL(38,0) (r14 ADVICE —
           -- the t-closeness avg lesson): delta_e9 * class size
           -- overflows int64 at planet scale, and a DOUBLE sum past
           -- 2^53 is summation-order-dependent. Exact order-free
           -- decimal sum, ONE double conversion for the ratio.
           CAST(ROUND(CAST(SUM(CAST(delta_e9 AS DECIMAL(19,0)) * n_pop)
                           AS DOUBLE) / SUM(n_pop)) AS BIGINT)
               AS avg_delta_e9,
           CAST(COUNT(CASE WHEN delta_e9 > {_DP_DELTA_MAX_E9}
                           THEN 1 END) AS BIGINT) AS n_classes_above,
           CAST(COALESCE(SUM(CASE WHEN delta_e9 > {_DP_DELTA_MAX_E9}
                                  THEN n_rel END), 0) AS BIGINT)
               AS n_released_at_risk
    FROM cls
"""


@register(
    "dq_delta_presence",
    oracle=_DP_TMPL.format(EPOCH_DAY=DUCK.epoch_day),
    doc="delta-presence membership-disclosure screen (Nergiz-Atzori-"
    "Clifton, SIGMOD 2007) — the privacy attack the k/l/t triad does "
    "not model: can an adversary who knows an individual's QI tell "
    "whether they are IN the released subset at all? For a "
    "deterministic md5 25% user-level release, delta(c) = released/"
    "population users per (day-of-week, value-band) QI class — the "
    "SAME class grid as the triad (expressions pinned structurally "
    "against wave9g). Emits class count, max/min/user-weighted-avg "
    "delta (weighted terms in DOUBLE), classes above the pinned "
    "delta = 0.5, and released users at risk. One map-side distinct "
    "+ one QI-cardinality-bounded rollup; linear at any corpus size.",
)
def dq_delta_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_DP_TMPL.format(EPOCH_DAY=SPARK.epoch_day))


# ---------------------------------------------------------------------------
# randomized response
# ---------------------------------------------------------------------------
# Truth probability p = 3/4 as an EXACT integer threshold on the first
# md5 byte (0..255 < 192), so the released bits are byte-identical
# across engines. eps = ln(p/(1-p)) = ln 3.
_RR_KEEP_NUM = 192  # p = 192/256 = 0.75
_RR_COIN = (
    "(instr('0123456789abcdef', substring(md5(concat('rr|', "
    "CAST(event_id AS STRING))), 1, 1)) - 1) * 16 + "
    "(instr('0123456789abcdef', substring(md5(concat('rr|', "
    "CAST(event_id AS STRING))), 2, 1)) - 1)"
)

_RR_SQL = f"""
    WITH base AS (
        SELECT event_type,
               CASE WHEN value >= 50 THEN 1 ELSE 0 END AS z,
               CASE WHEN {_RR_COIN} < {_RR_KEEP_NUM} THEN 1 ELSE 0 END
                   AS keep
        FROM events
    ), released AS (
        SELECT event_type, z,
               CASE WHEN keep = 1 THEN z ELSE 1 - z END AS r
        FROM base
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(z) AS BIGINT) AS true_ones,
               CAST(SUM(r) AS BIGINT) AS released_ones
        FROM released GROUP BY event_type
    )
    SELECT event_type, n, released_ones,
           CAST(ROUND(CAST(true_ones AS DOUBLE) / n * 1000000000)
                AS BIGINT) AS true_rate_e9,
           CAST(ROUND(CAST(released_ones AS DOUBLE) / n * 1000000000)
                AS BIGINT) AS released_rate_e9,
           -- Warner debias: pi = (lambda + p - 1)/(2p - 1) with
           -- p = 3/4 => pi = 2*lambda - 0.5, clamped to [0, 1]
           CAST(ROUND(GREATEST(0.0e0, LEAST(1.0e0,
                2.0e0 * (CAST(released_ones AS DOUBLE) / n) - 0.5e0))
                * 1000000000) AS BIGINT) AS estimated_rate_e9,
           CAST(ABS(CAST(ROUND(GREATEST(0.0e0, LEAST(1.0e0,
                2.0e0 * (CAST(released_ones AS DOUBLE) / n) - 0.5e0))
                * 1000000000) AS BIGINT)
                - CAST(ROUND(CAST(true_ones AS DOUBLE) / n * 1000000000)
                       AS BIGINT)) AS BIGINT) AS abs_error_e9
    FROM agg
"""


@register(
    "privacy_randomized_response",
    oracle=_RR_SQL,
    doc="Warner 1965 randomized response — LOCAL differential privacy "
    "for a binary attribute (the per-record complement of the central-"
    "DP rows privacy_dp_counts / privacy_dp_median): each event "
    "releases its true high-value bit (value >= 50) with p = 3/4 and "
    "the flip otherwise (eps = ln 3 per bit), the coin an EXACT "
    "integer threshold on the event's first md5 byte so both engines "
    "materialize byte-identical releases (the bootstrap/DP-counts "
    "mechanism discipline). The debiased estimator "
    "pi = 2*lambda - 1/2 (clamped) recovers the population rate; the "
    "row emits true vs released vs estimated rates and the estimator "
    "error, per metric. One map-side aggregate; integer counts plus "
    "one division per group.",
)
def privacy_randomized_response(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_RR_SQL)


# ---------------------------------------------------------------------------
# log-rank test
# ---------------------------------------------------------------------------
# Arm assignment: the family _ARM rule (stats.py) on user_id. Lifetime
# grid: the survival_nelson_aalen integer-microsecond semantics.
_LR_ARM = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('ab|', "
    "CAST(user_id AS STRING))), 1, 1)) - 1) < 8 THEN 'A' ELSE 'B' END"
)

_LOGRANK_TMPL = f"""
    WITH bounds AS (
        SELECT MAX({{d.epoch_us}}) AS gmax FROM events
    ), life AS (
        SELECT e.user_id, {_LR_ARM} AS arm,
               CAST((MAX({{d.epoch_us}}) - MIN({{d.epoch_us}}))
                    {{d.intdiv}} {_DAY_US} AS BIGINT) AS days,
               CAST(CASE WHEN MAX({{d.epoch_us}}) < b.gmax - {_WEEK_US}
                         THEN 1 ELSE 0 END AS BIGINT) AS churned
        FROM events e CROSS JOIN bounds b
        GROUP BY e.user_id, {_LR_ARM}, b.gmax
    ), daysgrid AS (
        SELECT DISTINCT days AS t FROM life
    ), armday AS (
        SELECT arm, days, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(churned) AS BIGINT) AS d
        FROM life GROUP BY arm, days
    ), dense AS (
        -- every pooled lifetime day appears for BOTH arms (an arm
        -- with no users on a day contributes zeros, never a dropped
        -- row — the energy-distance grid lesson)
        SELECT a.arm, g.t,
               CAST(COALESCE(ad.c, 0) AS BIGINT) AS c,
               CAST(COALESCE(ad.d, 0) AS BIGINT) AS d
        FROM (SELECT 'A' AS arm UNION ALL SELECT 'B') a
        CROSS JOIN daysgrid g
        LEFT JOIN armday ad ON ad.arm = a.arm AND ad.days = g.t
    ), atrisk AS (
        SELECT arm, t, d,
               CAST(SUM(c) OVER (PARTITION BY arm ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n
        FROM dense
    ), pooled AS (
        SELECT a.t,
               a.d AS d1, a.n AS n1, b.d AS d2, b.n AS n2,
               a.d + b.d AS dt, a.n + b.n AS nt
        FROM atrisk a JOIN atrisk b ON b.t = a.t
        WHERE a.arm = 'A' AND b.arm = 'B'
    ), terms AS (
        -- expected events and hypergeometric variance per churn day,
        -- e9-quantized per grid row then summed exactly
        SELECT t, d1,
               CAST(ROUND(CAST(dt AS DOUBLE) * n1 / nt * 1000000000)
                    AS BIGINT) AS e1_e9,
               CAST(ROUND(CAST(dt AS DOUBLE) * n1 / nt
                    * (CAST(nt AS DOUBLE) - n1) / nt
                    * (CAST(nt AS DOUBLE) - dt) / (nt - 1)
                    * 1000000000) AS BIGINT) AS v_e9
        FROM pooled
        WHERE dt > 0 AND nt > 1
    ), sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_times,
               CAST(COALESCE(SUM(d1), 0) AS BIGINT) AS o1,
               CAST(COALESCE(SUM(e1_e9), 0) AS BIGINT) AS e1_e9,
               CAST(COALESCE(SUM(v_e9), 0) AS BIGINT) AS v_e9
        FROM terms
    )
    SELECT n_times, o1,
           e1_e9 AS expected1_e9,
           v_e9 AS variance_e9,
           CASE WHEN v_e9 > 0
                THEN CAST(ROUND(
                     (CAST(o1 AS DOUBLE) - e1_e9 / 1000000000.0e0)
                     * (CAST(o1 AS DOUBLE) - e1_e9 / 1000000000.0e0)
                     / (v_e9 / 1000000000.0e0) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS chi2_e6,
           CASE WHEN v_e9 > 0
                THEN (CAST(o1 AS DOUBLE) - e1_e9 / 1000000000.0e0)
                     * (CAST(o1 AS DOUBLE) - e1_e9 / 1000000000.0e0)
                     / (v_e9 / 1000000000.0e0) > 3.841458820694124e0
                ELSE FALSE END AS reject_05,
           v_e9 = 0 AS degenerate
    FROM sums
"""


@register(
    "survival_logrank_test",
    oracle=_LOGRANK_TMPL.format(d=DUCK),
    doc="Two-sample log-rank test (Mantel 1966) between the "
    "deterministic md5 A/B user arms over the SAME lifetime grid as "
    "survival_kaplan_meier / survival_nelson_aalen (days first->last "
    "event, right-censored inside the final week, integer-microsecond "
    "day arithmetic): at each pooled churn day, O-E for arm A under "
    "the hypergeometric null and its variance, both e9-quantized per "
    "grid row and summed exactly; chi2(1) = (O-E)^2/V against the "
    "pinned 3.8415 critical value. KM/NA estimate the curveS — this "
    "is the TEST that two cohorts' curves differ (the survival "
    "family's inference leg). The dense arm x day grid means an arm "
    "with no users on a day contributes zeros, never a dropped row; "
    "all-censored corpora flag degenerate. The reverse-cumulative "
    "at-risk windows run over the calendar-bounded lifetime grid "
    "(the audited KM class).",
)
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _LOGRANK_TMPL.format(d=SPARK)
    )


# ---------------------------------------------------------------------------
# process capability
# ---------------------------------------------------------------------------
_CAP_LSL_E3 = 10_000  # spec limits on the e3-quantized value domain
_CAP_USL_E3 = 90_000
_CAP_CAPABLE_E6 = 1_330_000  # the conventional Cpk >= 1.33 bar

_CAP_SQL = f"""
    WITH base AS (
        SELECT event_type,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               -- second moment in DECIMAL (r14 ADVICE): v_e3^2
               -- reaches 1e10 per row, an int64 SUM dies at ~1e9 rows,
               -- and a DOUBLE sum past 2^53 is summation-order-
               -- dependent. DECIMAL(19,0) * BIGINT -> DECIMAL(38,0)
               -- in both engines: exact per-term at ANY value domain,
               -- exact order-free sum, ONE double conversion here.
               CAST(SUM(CAST(v_e3 AS DECIMAL(19,0)) * v_e3)
                    AS DOUBLE) AS s2
        FROM base GROUP BY event_type
    ), sd AS (
        SELECT event_type, n, s1,
               CASE WHEN n > 1 AND (s2 - CAST(s1 AS DOUBLE) * s1 / n) > 0
                    THEN sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n)
                              / (n - 1))
                    ELSE 0.0e0 END AS sigma_e3
        FROM mom
    )
    SELECT event_type, n,
           CAST(ROUND(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_e3,
           CAST(ROUND(sigma_e3) AS BIGINT) AS sigma_e3,
           CASE WHEN sigma_e3 > 0
                THEN CAST(ROUND(({_CAP_USL_E3}.0e0 - {_CAP_LSL_E3})
                     / (6.0e0 * sigma_e3) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS cp_e6,
           CASE WHEN sigma_e3 > 0
                THEN CAST(ROUND(LEAST(
                     {_CAP_USL_E3}.0e0 - CAST(s1 AS DOUBLE) / n,
                     CAST(s1 AS DOUBLE) / n - {_CAP_LSL_E3})
                     / (3.0e0 * sigma_e3) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS cpk_e6,
           CASE WHEN sigma_e3 > 0
                THEN CAST(ROUND(LEAST(
                     {_CAP_USL_E3}.0e0 - CAST(s1 AS DOUBLE) / n,
                     CAST(s1 AS DOUBLE) / n - {_CAP_LSL_E3})
                     / (3.0e0 * sigma_e3) * 1000000) AS BIGINT)
                     >= {_CAP_CAPABLE_E6}
                ELSE FALSE END AS capable_133,
           sigma_e3 = 0.0e0 AS degenerate
    FROM sd
"""


@register(
    "spc_capability_indices",
    oracle=_CAP_SQL,
    doc="Process capability Cp / Cpk per metric against pinned spec "
    "limits [10, 90] on the value column — the SPC margin readout "
    "beside spc_western_electric's run rules (WE detects INSTABILITY; "
    "Cp/Cpk measure how much MARGIN a stable process has): Cp = "
    "(USL-LSL)/(6 sigma) is the potential, Cpk = min(USL-mean, "
    "mean-LSL)/(3 sigma) penalizes off-center running, capable at the "
    "conventional 1.33. First moment exact e3 integers; the second "
    "moment accumulates in DOUBLE (the Cochran overflow class); "
    "zero-variance metrics flag degenerate instead of dividing. One "
    "map-side-combinable aggregate — metric-cardinality-bounded "
    "everywhere after.",
)
def spc_capability_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CAP_SQL)
