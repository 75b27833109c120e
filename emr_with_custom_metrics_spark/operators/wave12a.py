"""Round-12 wave 12a: classical k-sample / normality / multiple-testing
/ agreement completions.

* ``stats_friedman_test`` — Friedman rank test of the k metrics across
  daily blocks (the repeated-measures ANOVA the independent-sample
  Kruskal-Wallis cannot give), tie-corrected, every moment an exact
  integer via doubled within-block midranks.
* ``stats_jonckheere_trend`` — Jonckheere-Terpstra ordered-alternative
  test across the three corpus-time terciles: the "is the metric
  drifting MONOTONICALLY" question a k-sample omnibus can't answer.
  Doubled Mann-Whitney counts off per-group value histograms.
* ``stats_bartlett_variance`` — Bartlett's k-group variance
  homogeneity (the parametric, normality-assuming sharp test beside
  the robust stats_brown_forsythe), ln on exact rationals quantized e9.
* ``stats_dagostino_k2`` — D'Agostino-Pearson K² normality omnibus:
  skewness and kurtosis z-transforms from exact power sums, K² as an
  exact e12 integer against the pinned chi2(2) critical value.
* ``stats_holm_bonferroni`` — Holm step-down FWER control over the
  family's shared Welch p-value pipeline (completing BH / BY / Fisher:
  the no-dependence-assumptions FWER member).
* ``ml_krippendorff_alpha`` — Krippendorff's alpha agreement of three
  deterministic anomaly screens (above-median / above-mean /
  above-midrange) per metric: binary-nominal alpha collapses to one
  exact integer identity, alpha = 1 - (3N-1)*sum(n_u0*n_u1)/(2*n0*n1).

House discipline: doubled ranks / cross-multiplied counts so every
reduction is an exact integer; ln/pow quantize e9 immediately (libm is
not correctly rounded); decisions against the pinned chi2 lookup ride
the round-12 LEFT JOIN + loud-miss guard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave11a import (
    _KW_CRIT,
    chi2_lookup_guard,
)
from emr_with_custom_metrics_spark.operators.wave9c import WELCH_PV_CTES, stage_welch_pv
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Friedman test
# ---------------------------------------------------------------------------
# Blocks = days, treatments = the k metrics, response = daily event
# count (absent cells count 0 through the full day x metric grid).
# Within-block doubled midranks R2 = 2*less + tied_incl + 1 keep every
# rank sum exact; with A4 = sum R2_ij^2, B4 = sum_j R2_j^2, the
# tie-corrected statistic is
#   Q = (k-1) * (B4 - b^2*k*(k+1)^2) / (A4 - b*k*(k+1)^2)
# (all terms exact integers; B4 <= b^2*(2k)^2*k < 2^63 through ~1e8
# blocks at k=5 since R2 <= 2k). Decision vs chi2(k-1).

_FRIEDMAN_TMPL = """
    WITH base AS (
        SELECT event_type,
               {d.epoch_day} AS day
        FROM events
    ), cells AS (
        SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, day
    ), grid AS (
        SELECT m.event_type, d.day, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
        FROM (SELECT DISTINCT event_type FROM cells) m
        CROSS JOIN (SELECT DISTINCT day FROM cells) d
        LEFT JOIN cells c ON c.event_type = m.event_type AND c.day = d.day
    ), r2 AS (
        SELECT g.event_type, g.day,
               CAST(2 * SUM(CASE WHEN o.c < g.c THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN o.c = g.c THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS r2
        FROM grid g JOIN grid o ON o.day = g.day
        GROUP BY g.event_type, g.day, g.c
    ), dims AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT day) AS BIGINT) AS b
        FROM grid
    ), sums AS (
        SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2_sum,
               CAST(SUM(r2 * r2) AS BIGINT) AS a4_part
        FROM r2 GROUP BY event_type
    ), stat AS (
        SELECT d.k, d.b,
               CAST(SUM(s.a4_part) AS BIGINT) AS a4,
               CAST(SUM(s.r2_sum * s.r2_sum) AS BIGINT) AS b4
        FROM sums s CROSS JOIN dims d
        GROUP BY d.k, d.b
    )
    SELECT s.event_type, s.r2_sum AS rank_sum_x2, t.b AS n_blocks,
           CASE WHEN t.a4 - t.b * t.k * (t.k + 1) * (t.k + 1) > 0
                THEN CAST(ROUND(
                    CAST((t.k - 1) * (t.b4
                          - t.b * t.b * t.k * (t.k + 1) * (t.k + 1))
                         AS DOUBLE)
                    / (CAST(t.a4 AS DOUBLE)
                       - CAST(t.b AS DOUBLE) * t.k
                         * (t.k + 1) * (t.k + 1))
                    * 1000000) AS BIGINT)
                ELSE 0 END AS friedman_q_e6,
           CAST(t.k - 1 AS BIGINT) AS df,
           CASE WHEN t.a4 - t.b * t.k * (t.k + 1) * (t.k + 1) > 0
                THEN CAST(ROUND(
                    CAST((t.k - 1) * (t.b4
                          - t.b * t.b * t.k * (t.k + 1) * (t.k + 1))
                         AS DOUBLE)
                    / (CAST(t.a4 AS DOUBLE)
                       - CAST(t.b AS DOUBLE) * t.k
                         * (t.k + 1) * (t.k + 1))
                    * 1000000) AS BIGINT) > c.crit_e6
                ELSE FALSE END AS reject_h0
    FROM sums s CROSS JOIN stat t
    LEFT JOIN ({crit}) c ON c.df = t.k - 1
    WHERE {guard}
"""


def _friedman_sql(d: Dialect) -> str:
    return _FRIEDMAN_TMPL.format(
        d=d,
        crit=_KW_CRIT,
        guard=chi2_lookup_guard(d),
    )


@register(
    "stats_friedman_test",
    oracle=_friedman_sql(DUCK),
    doc="Friedman rank test of the k metrics across daily blocks "
    "(repeated measures — the within-block design Kruskal-Wallis "
    "cannot express): within-day doubled midranks over the full day x "
    "metric grid keep every rank sum exact, the tie-corrected Q is one "
    "double epilogue over four exact integers, decision against the "
    "pinned chi2(k-1) lookup behind the r12 loud-miss guard. Note the "
    "identity 12*sum R_j^2 = 3*sum R2_j^2 — doubling absorbs the "
    "classic 12. One day-histogram shuffle; the rank self-join runs on "
    "the b x k grid (calendar x model sized).",
)
def stats_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_friedman_sql(SPARK))


# ---------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend
# ---------------------------------------------------------------------------
# Groups = the three equal spans of the corpus time range (ordered by
# time), per metric. 2J = sum over group pairs a<b of
# (2 * #(x_a < y_b) + #(x_a = y_b)), counted entirely off per-group
# VALUE HISTOGRAMS with cumulative counts (never an event-pair join):
# for each histogram cell (b, v): c_b(v) * (2*cumlt_a(v) + c_a(v)).
# E2 = (N^2 - sum n_i^2) / 2 (doubled), Var*72 exact, z one epilogue.

_JT_TMPL = """
    WITH base AS (
        SELECT event_type, {d.epoch_us} AS us,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), rng AS (
        SELECT CAST(MIN(us) AS BIGINT) AS mn, CAST(MAX(us) AS BIGINT) AS mx
        FROM base
    ), grouped AS (
        SELECT b.event_type,
               CAST(LEAST(2, FLOOR((b.us - r.mn) * 3.0e0
                                   / (r.mx - r.mn + 1))) AS BIGINT) AS g,
               b.v_e3
        FROM base b CROSS JOIN rng r
    ), hist AS (
        SELECT event_type, g, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM grouped GROUP BY event_type, g, v_e3
    ), vals AS (
        SELECT DISTINCT event_type, v_e3 FROM hist
    ), dense AS (
        SELECT v.event_type, gg.g, v.v_e3,
               CAST(COALESCE(h.c, 0) AS BIGINT) AS c
        FROM vals v
        CROSS JOIN (SELECT * FROM (VALUES (0), (1), (2)) t(g)) gg
        LEFT JOIN hist h ON h.event_type = v.event_type
                        AND h.g = gg.g AND h.v_e3 = v.v_e3
    ), cum AS (
        SELECT event_type, g, v_e3, c,
               CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type, g
                    ORDER BY v_e3
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS clt
        FROM dense
    ), j2 AS (
        -- r16: BROADCAST hints (guide §3.1) — the checkpoint-staged
        -- histogram carries no size statistics, so Spark degraded these
        -- model-sized joins to SortMergeJoin (the apriori lost-statistics
        -- hazard, audited fleet-wide by tools/audit_checkpoint_joins.py).
        -- cum is value-histogram-bounded; mom is one row per metric.
        -- DuckDB parses the hint as a plain comment. A/B 1.63 -> 1.25 s.
        SELECT /*+ BROADCAST(b) */ a.event_type,
               CAST(SUM(b.c * (2 * a.clt + a.c)) AS BIGINT) AS j2
        FROM cum a JOIN cum b
          ON b.event_type = a.event_type AND b.v_e3 = a.v_e3
         AND a.g < b.g
        GROUP BY a.event_type
    ), ns AS (
        SELECT event_type, g, CAST(SUM(c) AS BIGINT) AS n
        FROM hist GROUP BY event_type, g
    ), mom AS (
        SELECT event_type,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(n * n) AS BIGINT) AS sn2,
               CAST(SUM(n * n * (2 * n + 3)) AS BIGINT) AS sn23
        FROM ns GROUP BY event_type
    )
    SELECT /*+ BROADCAST(m) */ j.event_type,
           j.j2 AS jt_stat_x2,
           -- doubled expectation 2*E[J] = (N^2 - sum n_i^2)/2 (the
           -- bracket is 2 * sum over i<j of n_i*n_j — always even, so
           -- the halving is exact)
           CAST((CAST(m.nn AS DOUBLE) * m.nn - m.sn2) / 2 AS BIGINT)
               AS e_x2,
           CASE WHEN m.nn * m.nn * (2 * m.nn + 3) - m.sn23 > 0
                THEN CAST(ROUND(
                    (CAST(j.j2 AS DOUBLE)
                     - (CAST(m.nn AS DOUBLE) * m.nn - m.sn2) / 2) / 2.0e0
                    / sqrt((CAST(m.nn AS DOUBLE) * m.nn * (2 * m.nn + 3)
                            - m.sn23) / 72.0e0)
                    * 1000000) AS BIGINT)
                ELSE 0 END AS z_e6,
           CASE WHEN m.nn * m.nn * (2 * m.nn + 3) - m.sn23 > 0
                THEN ABS(CAST(ROUND(
                    (CAST(j.j2 AS DOUBLE)
                     - (CAST(m.nn AS DOUBLE) * m.nn - m.sn2) / 2) / 2.0e0
                    / sqrt((CAST(m.nn AS DOUBLE) * m.nn * (2 * m.nn + 3)
                            - m.sn23) / 72.0e0)
                    * 1000000) AS BIGINT)) > 1959964
                ELSE FALSE END AS monotone_trend
    FROM j2 j JOIN mom m ON j.event_type = m.event_type
"""


def _jt_sql(d: Dialect) -> str:
    return _JT_TMPL.format(d=d)


@register(
    "stats_jonckheere_trend",
    oracle=_jt_sql(DUCK),
    doc="Jonckheere-Terpstra ordered-alternative test per metric across "
    "the three corpus-time terciles: doubled Mann-Whitney pair counts "
    "read entirely off per-group value histograms with cumulative "
    "counts (2J = sum c_b(v)*(2*cumlt_a(v) + c_a(v)) over the dense "
    "value x group grid — no event-pair join at any scale), exact "
    "doubled mean and 72-scaled variance, one z epilogue against "
    "+-1.959964. The monotone-drift question the k-sample omnibus "
    "(kruskal/anova) cannot answer.",
)
def stats_jonckheere_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` feeds vals/dense/ns and `cum` feeds
    # both j2 self-join sides — WITH-inlining re-ran the events scan +
    # tercile bucketing + histogram per reference (20 scans in
    # plans/r15/stats_jonckheere_trend_scan1.txt).
    return stage_ctes(spark, _jt_sql(SPARK), "hist")


# ---------------------------------------------------------------------------
# Bartlett's test
# ---------------------------------------------------------------------------
# X^2 = [(N-k) ln Sp2 - sum (n_i-1) ln s_i2] / C with
# C = 1 + (sum 1/(n_i-1) - 1/(N-k)) / (3(k-1)). Each ln runs once on an
# exact rational and quantizes e9 (the libm rule); the reciprocal sum
# quantizes per group e12 before the order-free integer sum.

_BARTLETT_SQL = f"""
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type
        HAVING COUNT(*) > 1
    ), pool AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               -- per-group SS quantizes e3 BEFORE the cross-group sum
               -- (the r8 ANOVA double-sum lesson: a float sum across
               -- groups is aggregation-order-dependent)
               CAST(SUM(CAST(ROUND((CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * s1 / n) * 1000) AS BIGINT))
                    AS BIGINT) AS ss_pool_e3,
               CAST(SUM(CAST(ROUND(1000000000000.0e0 / (n - 1)) AS BIGINT))
                    AS BIGINT) AS recip_e12,
               CAST(SUM((n - 1) * CAST(ROUND(ln(
                        GREATEST((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1),
                                 1.0e-12)) * 1000000000) AS BIGINT))
                    AS BIGINT) AS sum_nl_e9
        FROM g
    )
    SELECT g.event_type, g.n,
           CAST(ROUND((CAST(g.s2 AS DOUBLE) - CAST(g.s1 AS DOUBLE) * g.s1
                       / g.n) / (g.n - 1)) AS BIGINT) AS var_e6,
           CASE WHEN p.k > 1 AND p.nn > p.k AND p.ss_pool_e3 > 0
                THEN CAST(ROUND(
                    ((p.nn - p.k) * CAST(ROUND(ln(p.ss_pool_e3 / 1000.0e0 / (p.nn - p.k))
                                         * 1000000000) AS BIGINT)
                     - p.sum_nl_e9) / 1000.0e0
                    / (1.0e0 + (p.recip_e12 / 1000000000000.0e0
                                - 1.0e0 / (p.nn - p.k))
                               / (3.0e0 * (p.k - 1))))
                    AS BIGINT)
                ELSE 0 END AS bartlett_x2_e6,
           CAST(p.k - 1 AS BIGINT) AS df,
           CASE WHEN p.k > 1 AND p.nn > p.k AND p.ss_pool_e3 > 0
                THEN CAST(ROUND(
                    ((p.nn - p.k) * CAST(ROUND(ln(p.ss_pool_e3 / 1000.0e0 / (p.nn - p.k))
                                         * 1000000000) AS BIGINT)
                     - p.sum_nl_e9) / 1000.0e0
                    / (1.0e0 + (p.recip_e12 / 1000000000000.0e0
                                - 1.0e0 / (p.nn - p.k))
                               / (3.0e0 * (p.k - 1))))
                    AS BIGINT) > c.crit_e6
                ELSE FALSE END AS reject_homoscedastic
    FROM g CROSS JOIN pool p
    LEFT JOIN ({_KW_CRIT}) c ON c.df = p.k - 1
"""


def _bartlett_sql(d: Dialect) -> str:
    return (
        _BARTLETT_SQL
        + f"    WHERE {chi2_lookup_guard(d)}\n"
    )


@register(
    "stats_bartlett_variance",
    oracle=_bartlett_sql(DUCK),
    doc="Bartlett's k-group variance-homogeneity test across the "
    "metrics: per-group exact integer moments, each ln run once on an "
    "exact rational and quantized e9 immediately, the (n_i-1) "
    "reciprocal sum quantized e12 per group before the order-free "
    "integer sum, decision against the pinned chi2(k-1) lookup behind "
    "the loud-miss guard. The sharp parametric counterpart of the "
    "robust stats_brown_forsythe (which stays the default under "
    "non-normality — Bartlett is the one that ASSUMES it; note the "
    "per-group variance column uses the ss/(n-1) e6 convention). "
    "Map-side-combinable moments; everything after is k-sized.",
)
def stats_bartlett_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_bartlett_sql(SPARK))


# ---------------------------------------------------------------------------
# D'Agostino-Pearson K^2 normality omnibus
# ---------------------------------------------------------------------------
# Exact power sums of w = v_e3 - round(mean(v_e3)) — MEAN-centering,
# not a fixed domain midpoint: round 12's fuzz found that raw moments
# of an off-center w suffer catastrophic cancellation in A3/A4, which
# amplifies the one non-portable step (the >int64 accumulator -> double
# conversion: Spark's DECIMAL cast is correctly rounded, DuckDB's
# HUGEINT cast is not) into answer-sized divergence. Mean-centering
# kills the cancellation, and the wide sums are converted to double by
# an explicit 2^60/2^30 hi/mid/lo SPLIT (each piece < 2^53 -> exact;
# the two additions are correctly rounded on identical inputs), so the
# whole pipeline is bit-identical across engines at ANY magnitude.
# g1 = A3/A2^1.5, b2 = A4/A2^2; the z-transforms (D'Agostino 1970
# skew; Anscombe-Glynn 1983 kurtosis) quantize every ln/cbrt output e9
# immediately (libm hazard); z1/z2 quantize e6, and K2_e12 =
# z1_e6^2 + z2_e6^2 is an EXACT integer compared against crit_e6*1e6.

_DK2_TMPL = """
    WITH raw AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v
        FROM events
    ), ctr AS (
        -- exact integer sum / n is a correctly-rounded double on both
        -- engines, so the rounded center is identical
        SELECT event_type,
               CAST(ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS md
        FROM raw GROUP BY event_type
    ), base AS (
        SELECT r.event_type, r.v - c.md AS w
        FROM raw r JOIN ctr c ON c.event_type = r.event_type
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(w) AS BIGINT) AS s1,
               CAST(SUM(w * w) AS BIGINT) AS s2,
               CAST(SUM({w3}) AS {acc}) AS s3,
               CAST(SUM({w4}) AS {acc}) AS s4
        FROM base GROUP BY event_type
        HAVING COUNT(*) > 20
    ), a AS (
        SELECT event_type, n,
               CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1 AS a2,
               CAST(n AS DOUBLE) * n * ({s3d})
                 - 3.0e0 * n * CAST(s1 AS DOUBLE) * s2
                 + 2.0e0 * CAST(s1 AS DOUBLE) * s1 * s1 AS a3,
               CAST(n AS DOUBLE) * n * n * ({s4d})
                 - 4.0e0 * CAST(n AS DOUBLE) * n * CAST(s1 AS DOUBLE)
                   * ({s3d})
                 + 6.0e0 * n * CAST(s1 AS DOUBLE) * s1 * s2
                 - 3.0e0 * CAST(s1 AS DOUBLE) * s1 * s1 * s1 AS a4
        FROM mom
    ), gb AS (
        SELECT event_type, n,
               CASE WHEN a2 > 0 THEN a3 / power(a2, 1.5e0) ELSE 0.0e0 END
                   AS g1,
               CASE WHEN a2 > 0 THEN a4 / (a2 * a2)
                    ELSE 3.0e0 END AS b2
        FROM a
    ), z1s AS (
        -- D'Agostino (1970) skewness transform; W^2, ln W, and the
        -- final asinh-form ln each quantize e9 the moment they exist
        SELECT event_type, n, g1, b2,
               g1 * sqrt((CAST(n AS DOUBLE) + 1) * (n + 3)
                         / (6.0e0 * (n - 2))) AS y,
               3.0e0 * (CAST(n AS DOUBLE) * n + 27 * n - 70) * (n + 1)
                 * (n + 3)
                 / ((CAST(n AS DOUBLE) - 2) * (n + 5) * (n + 7) * (n + 9))
                   AS beta2
        FROM gb
    ), z1t AS (
        SELECT event_type, n, b2, y,
               sqrt(2.0e0 * (beta2 - 1)) - 1 AS w2
        FROM z1s
    ), z1 AS (
        -- z1 = (1/sqrt(ln W)) * asinh(Y/alpha), ln W = ln(sqrt(W^2)),
        -- 1/alpha = sqrt((W^2-1)/2); both ln outputs quantize e9
        SELECT event_type, n, b2,
               CASE WHEN w2 > 1.000001e0
                    THEN CAST(ROUND(
                      (1.0e0 / sqrt(GREATEST(
                         CAST(ROUND(ln(sqrt(w2)) * 1000000000)
                              AS BIGINT) / 1000000000.0e0, 1.0e-9)))
                      * (CAST(ROUND(ln(
                           y * sqrt((w2 - 1.0e0) / 2.0e0)
                           + sqrt(y * y * (w2 - 1.0e0) / 2.0e0 + 1.0e0))
                           * 1000000000) AS BIGINT) / 1000000000.0e0)
                      * 1000000) AS BIGINT)
                    ELSE 0 END AS z1_e6
        FROM z1t
    ), z2s AS (
        SELECT event_type, n, z1_e6,
               3.0e0 * (CAST(n AS DOUBLE) - 1) / (n + 1) AS eb2,
               24.0e0 * n * (CAST(n AS DOUBLE) - 2) * (n - 3)
                 / ((CAST(n AS DOUBLE) + 1) * (n + 1) * (n + 3) * (n + 5))
                   AS vb2,
               6.0e0 * (CAST(n AS DOUBLE) * n - 5 * n + 2)
                 / ((n + 7) * (CAST(n AS DOUBLE) + 9))
                 * sqrt(6.0e0 * (n + 3) * (n + 5)
                        / (CAST(n AS DOUBLE) * (n - 2) * (n - 3)))
                   AS sb1,
               b2
        FROM z1
    ), z2t AS (
        SELECT event_type, n, z1_e6,
               (b2 - eb2) / sqrt(vb2) AS x,
               6.0e0 + 8.0e0 / sb1 * (2.0e0 / sb1
                 + sqrt(1.0e0 + 4.0e0 / (sb1 * sb1))) AS aa
        FROM z2s
        -- no WHERE: at n > 20 (the mom HAVING) vb2 and sb1 are
        -- strictly positive, and a filter here would drop the metric
        -- silently (the hill lesson)
    ), z2 AS (
        SELECT event_type, n, z1_e6,
               CASE WHEN aa > 4 AND (1.0e0 + x * sqrt(2.0e0 / (aa - 4)))
                         <> 0
                    THEN CAST(ROUND(
                      ((1.0e0 - 2.0e0 / (9.0e0 * aa))
                       - (CAST(ROUND(
                            CASE WHEN (1.0e0 - 2.0e0 / aa)
                                      / (1.0e0 + x * sqrt(2.0e0 / (aa - 4)))
                                      >= 0
                                 THEN power((1.0e0 - 2.0e0 / aa)
                                      / (1.0e0
                                         + x * sqrt(2.0e0 / (aa - 4))),
                                      0.33333333333333331e0)
                                 ELSE -power(-(1.0e0 - 2.0e0 / aa)
                                      / (1.0e0
                                         + x * sqrt(2.0e0 / (aa - 4))),
                                      0.33333333333333331e0)
                            END * 1000000000) AS BIGINT)
                          / 1000000000.0e0))
                      / sqrt(2.0e0 / (9.0e0 * aa)) * 1000000) AS BIGINT)
                    ELSE 0 END AS z2_e6
        FROM z2t
    )
    SELECT z1.event_type, z1.n,
           z1.z1_e6 AS skew_z_e6, z2.z2_e6 AS kurt_z_e6,
           CAST(z1.z1_e6 * z1.z1_e6 + z2.z2_e6 * z2.z2_e6 AS BIGINT)
               AS k2_e12,
           (z1.z1_e6 * z1.z1_e6 + z2.z2_e6 * z2.z2_e6) > 5991465000000
               AS reject_normal
    FROM z1 JOIN z2 ON z1.event_type = z2.event_type
"""


def _dk2_sql(d: Dialect) -> str:
    # exact wide accumulation (Spark DECIMAL, DuckDB HUGEINT); the value
    # domain is NOT capped at 100 (measured v_e3 past 1.8e5), so w^4 can
    # exceed int64 even after mean-centering
    return _DK2_TMPL.format(
        w3=f"CAST(w AS {d.wide_int}) * w * w",
        w4=f"CAST(w AS {d.wide_int}) * w * w * w",
        acc=d.wide_int,
        s3d=d.wide_to_double("s3"),
        s4d=d.wide_to_double("s4"),
    )


@register(
    "stats_dagostino_k2",
    oracle=_dk2_sql(DUCK),
    doc="D'Agostino-Pearson K^2 normality omnibus per metric: exact "
    "power sums of the MEAN-centered value (Spark DECIMAL(38,0) / "
    "DuckDB HUGEINT accumulators; wide sums reach double via an "
    "explicit 2^60/2^30 hi/mid/lo split because DuckDB's plain "
    "hugeint cast is not correctly rounded — caught by the r12 fuzz "
    "where raw-moment cancellation amplified the conversion ulp 2x), "
    "skewness z via the D'Agostino 1970 asinh transform and kurtosis z "
    "via Anscombe-Glynn 1983, every ln/cbrt quantized e9 the moment it "
    "exists, and K2_e12 = z1_e6^2 + z2_e6^2 an EXACT integer decided "
    "against chi2(2) 5% by integer comparison. The formal test behind "
    "the anomaly screens' normality assumptions.",
)
def stats_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_dk2_sql(SPARK))


# ---------------------------------------------------------------------------
# Holm-Bonferroni step-down
# ---------------------------------------------------------------------------
# Reject p_(1) <= a/m, p_(2) <= a/(m-1), ... stopping at the FIRST
# violation. first_viol = MIN(rnk with p*(m-rnk+1) > a) via an
# unbounded window; rejected = rnk < first_viol. Exact integers
# end-to-end (p_e9 * (m-rnk+1) vs alpha_e9).

_HOLM_ALPHA_E9 = 50_000_000

_HOLM_SQL = (
    WELCH_PV_CTES
    + f"""
    , ranked AS (
        SELECT event_type, abs_z_e6, p_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e9, event_type) AS BIGINT)
                   AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ), flagged AS (
        SELECT ranked.*,
               CAST(COALESCE(MIN(CASE WHEN p_e9 * (m - rnk + 1)
                                           > {_HOLM_ALPHA_E9}
                                      THEN rnk END) OVER (),
                             CAST(0 AS BIGINT)) AS BIGINT) AS first_viol
        FROM ranked
    )
    SELECT event_type, abs_z_e6, p_e9, rnk, m,
           CAST(ROUND({_HOLM_ALPHA_E9}.0e0 / (m - rnk + 1)) AS BIGINT)
               AS holm_crit_e9,
           CASE WHEN first_viol = 0 THEN TRUE ELSE rnk < first_viol END
               AS rejected
    FROM flagged
"""
)


@register(
    "stats_holm_bonferroni",
    oracle=_HOLM_SQL,
    doc="Holm-Bonferroni step-down FWER control over the per-metric "
    "Welch p-values (the family's shared Zelen-Severo pipeline, sliced "
    "from the BH text): reject while p_(i) <= alpha/(m-i+1), stopping "
    "at the first violation — uniformly more powerful than plain "
    "Bonferroni with NO dependence assumptions, completing the "
    "multiple-testing family (BH: FDR under PRDS; BY: FDR always; "
    "Fisher: global null; Holm: FWER always). Exact integer decision "
    "boundary p_e9*(m-rnk+1) vs alpha_e9; family scalars via unbounded "
    "windows so the p-value pipeline runs ONCE.",
)
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_ctes(spark, _HOLM_SQL, pv=stage_welch_pv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Krippendorff's alpha
# ---------------------------------------------------------------------------
# Three deterministic binary anomaly screens rate every event: above
# the metric's doubled median (2v > med2), above its mean (cross-
# multiplied v*n > s1), above its midrange (2v > mn+mx). All three
# comparisons are exact integers. With constant m_u = 3 raters and
# binary-nominal ratings, Krippendorff's alpha collapses to
#   alpha = 1 - (3N - 1) * sum_u n_u0*n_u1 / (2 * n0 * n1)
# (the pairable-coincidence identity; every term an exact integer).

_KALPHA_SQL = """
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(MIN(v_e3) AS BIGINT) AS mn,
               CAST(MAX(v_e3) AS BIGINT) AS mx
        FROM base GROUP BY event_type
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), cum AS (
        SELECT event_type, v_e3, c,
               CAST(COALESCE(SUM(c) OVER (PARTITION BY event_type
                    ORDER BY v_e3
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM hist
    ), med AS (
        -- doubled median from the value histogram (the house rank form)
        SELECT c.event_type,
               CAST(MIN(CASE WHEN c.cb + c.c
                                  >= CAST(FLOOR((s.n + 1) / 2.0e0)
                                          AS BIGINT)
                             THEN c.v_e3 END)
                  + MIN(CASE WHEN c.cb + c.c
                                  >= CAST(FLOOR((s.n + 2) / 2.0e0)
                                          AS BIGINT)
                             THEN c.v_e3 END) AS BIGINT) AS med2
        FROM cum c JOIN stats s ON s.event_type = c.event_type
        GROUP BY c.event_type
    ), rated AS (
        SELECT b.event_type,
               (CASE WHEN 2 * b.v_e3 > m.med2 THEN 1 ELSE 0 END
              + CASE WHEN b.v_e3 * s.n > s.s1 THEN 1 ELSE 0 END
              + CASE WHEN 2 * b.v_e3 > s.mn + s.mx THEN 1 ELSE 0 END)
                   AS n1
        FROM base b
        JOIN med m ON m.event_type = b.event_type
        JOIN stats s ON s.event_type = b.event_type
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nu,
               CAST(SUM(n1) AS BIGINT) AS n1_tot,
               CAST(SUM((3 - n1) * n1) AS BIGINT) AS disagree
        FROM rated GROUP BY event_type
    )
    SELECT event_type, nu AS n_units,
           CAST(3 * nu - n1_tot AS BIGINT) AS n_zero,
           n1_tot AS n_one,
           disagree AS pair_disagreements,
           CASE WHEN n1_tot > 0 AND n1_tot < 3 * nu
                THEN CAST(ROUND((1.0e0
                    - (3.0e0 * nu - 1)
                      * disagree
                      / (2.0e0 * (3.0e0 * nu - n1_tot) * n1_tot))
                    * 1000000000) AS BIGINT)
                ELSE 1000000000 END AS alpha_e9
    FROM agg
"""


@register(
    "ml_krippendorff_alpha",
    oracle=_KALPHA_SQL,
    doc="Krippendorff's alpha agreement of three deterministic binary "
    "anomaly screens per metric (above doubled median / above mean via "
    "v*n > s1 / above midrange — all exact integer predicates): with "
    "constant 3 raters, binary-nominal alpha collapses to the exact "
    "integer identity 1 - (3N-1)*sum n_u0*n_u1/(2*n0*n1). The "
    "chance-corrected multi-rater agreement the pairwise Cohen's kappa "
    "cannot give (and the degenerate all-one-category case returns "
    "alpha = 1 by convention instead of 0/0). Median read off the "
    "value histogram; one event pass after the model-sized cuts join.",
)
def ml_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `base` feeds THREE consumers (stats, hist,
    # rated), so WITH-inlining scanned events four times
    # (plans/r15/ml_krippendorff_alpha_before.txt).
    return stage_ctes(spark, _KALPHA_SQL, "base")
