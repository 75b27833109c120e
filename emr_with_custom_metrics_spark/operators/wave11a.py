"""Round-11 wave 11a: classical nonparametric / categorical inference.

Rounds 8-10 built the parametric A/B tier (t-test, CUPED, ANOVA, power),
the two-sample distribution tier (KS, Mann-Whitney, TOST, CMH) and the
trend tier (Mann-Kendall, Theil-Sen). This wave fills the remaining
canonical gaps a stats platform ships:

* ``stats_mcnemar_paired`` — McNemar's test of paired binary outcomes
  (did each user purchase in the first vs second half of the window),
  the within-subject counterpart of the chi-square test.
* ``stats_kendall_tau_pairs`` — Kendall's tau-b between every pair of
  metrics' hourly means, all comparisons exact via cross-multiplied
  rational means (the Spearman memo's integer discipline, extended to
  concordance counting).
* ``stats_kruskal_wallis`` — the k-sample rank ANOVA with tie-corrected
  H, over the doubled tie-averaged-rank identity (rank moments exact).
* ``stats_runs_test`` — Wald-Wolfowitz runs test for randomness of each
  metric's hourly series around its median.
* ``stats_wilson_ci`` — Wilson score interval for each metric's
  user-repeat rate (the CI that behaves at p near 0/1, unlike Wald).
* ``stats_cochran_armitage`` — Cochran-Armitage trend-in-proportions
  test across the five ordered order-priority doses.

House discipline: exact integer sufficient statistics before any
double; ONE shared SQL text where the dialects agree (engine split only
for epoch extraction); fixed-order double epilogues quantized BIGINT;
CASE guards on every data-derived denominator. Reference scope parity:
the reference engine (SURVEY.md §2) has no statistics tier at all —
these are engine-required additions in the §2A.1 'aggregations beyond
count' category.
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
# McNemar's paired test
# ---------------------------------------------------------------------------
# Paired binary outcome per user: purchased in the first vs the second
# half of the observed window (split at the exact integer-microsecond
# midpoint — (min+max) stays < 2^53 so the double halving is exact).
# Only the discordant cells carry information: b = converted-then-
# lapsed, c = lapsed-then-converted. The Edwards continuity-corrected
# statistic max(|b-c|-1, 0)^2 / (b+c) is an exact integer ratio with a
# single double epilogue, compared against chi2(1) at 5% (3.841).
#
# Scale: one groupBy(user_id) with map-side combine over the conditional
# MAXes; the midpoint is a broadcast scalar. State is per-user, shuffled
# once — the same posture as any sessionization.

_MCNEMAR_TMPL = """
    WITH base AS (
        SELECT user_id,
               {d.epoch_us} AS us,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), mid AS (
        SELECT CAST(FLOOR((MIN(us) + MAX(us)) / 2.0e0) AS BIGINT) AS m
        FROM base
    ), per_user AS (
        SELECT b.user_id,
               MAX(CASE WHEN b.us <= m.m THEN b.y ELSE 0 END) AS y1,
               MAX(CASE WHEN b.us > m.m THEN b.y ELSE 0 END) AS y2
        FROM base b CROSS JOIN mid m
        GROUP BY b.user_id
    ), cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN y1 = 1 AND y2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS disc_b,
               CAST(SUM(CASE WHEN y1 = 0 AND y2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS disc_c,
               CAST(SUM(CASE WHEN y1 = 1 AND y2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS both_halves,
               CAST(SUM(CASE WHEN y1 = 0 AND y2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS neither_half
        FROM per_user
    ), stat AS (
        SELECT n_users, disc_b, disc_c, both_halves, neither_half,
               CAST(GREATEST(ABS(disc_b - disc_c) - 1, 0) AS BIGINT) AS d
        FROM cells
    )
    SELECT n_users, disc_b, disc_c, both_halves, neither_half,
           CASE WHEN disc_b + disc_c > 0
                THEN CAST(ROUND(CAST(d * d AS DOUBLE) / (disc_b + disc_c)
                           * 1000000) AS BIGINT)
                ELSE 0 END AS chi2_cc_e6,
           CASE WHEN disc_b + disc_c > 0
                THEN CAST(d * d AS DOUBLE) / (disc_b + disc_c)
                     > CAST(3.841 AS DOUBLE)
                ELSE FALSE END AS reject_h0
    FROM stat
"""


@register(
    "stats_mcnemar_paired",
    oracle=_MCNEMAR_TMPL.format(d=DUCK),
    doc="McNemar's continuity-corrected test of paired per-user binary "
    "outcomes (purchase in first vs second half of the window, split at "
    "the exact integer-microsecond midpoint): the discordant cells b/c "
    "are exact integer counts from one map-side-combinable "
    "groupBy(user), the statistic max(|b-c|-1,0)^2/(b+c) is one double "
    "epilogue vs chi2(1) 5% = 3.841. The within-subject counterpart of "
    "stats_chi2_independence.",
)
def stats_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MCNEMAR_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Kendall's tau-b between metric pairs
# ---------------------------------------------------------------------------
# For every unordered pair of metrics, tau-b between their hourly mean
# values over the hours BOTH are observed. Mean comparisons never
# divide: mean_i < mean_j  <=>  s_i * c_j < s_j * c_i (counts positive),
# so concordant/discordant/tied pair counts are exact integers; tau-b's
# denominator sqrt((n0-Ta)(n0-Tb)) is the single double epilogue.
#
# Scale: the hour x metric grid is calendar-bounded (~720 rows/metric);
# the pair stage is O(pairs x hours^2) on that bounded grid, shuffled by
# (type_a, type_b) — never by raw events. Overflow posture: s*c products
# stay in int64 while hourly-sum x hourly-count < 2^63 (~4e9 events/hour
# at e3 values) — past that, pre-scale v to whole units.

_KENDALL_TMPL = """
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
               a.s AS sa, a.c AS ca, b.s AS sb, b.c AS cb
        FROM hs a JOIN hs b ON a.h = b.h AND a.event_type < b.event_type
    ), pairs AS (
        SELECT x.type_a, x.type_b,
               CASE WHEN x.sa * y.ca = y.sa * x.ca THEN 1 ELSE 0 END AS tie_a,
               CASE WHEN x.sb * y.cb = y.sb * x.cb THEN 1 ELSE 0 END AS tie_b,
               CASE WHEN (x.sa * y.ca < y.sa * x.ca
                          AND x.sb * y.cb < y.sb * x.cb)
                      OR (x.sa * y.ca > y.sa * x.ca
                          AND x.sb * y.cb > y.sb * x.cb)
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (x.sa * y.ca < y.sa * x.ca
                          AND x.sb * y.cb > y.sb * x.cb)
                      OR (x.sa * y.ca > y.sa * x.ca
                          AND x.sb * y.cb < y.sb * x.cb)
                    THEN 1 ELSE 0 END AS disc
        FROM duo x JOIN duo y
          ON x.type_a = y.type_a AND x.type_b = y.type_b AND x.h < y.h
    ), agg AS (
        SELECT type_a, type_b,
               CAST(COUNT(*) AS BIGINT) AS n0,
               CAST(SUM(conc) AS BIGINT) AS concordant,
               CAST(SUM(disc) AS BIGINT) AS discordant,
               CAST(SUM(tie_a) AS BIGINT) AS ties_a,
               CAST(SUM(tie_b) AS BIGINT) AS ties_b
        FROM pairs GROUP BY type_a, type_b
    )
    SELECT type_a, type_b, n0, concordant, discordant, ties_a, ties_b,
           CASE WHEN n0 > ties_a AND n0 > ties_b
                THEN CAST(ROUND(CAST(concordant - discordant AS DOUBLE)
                           / sqrt(CAST(n0 - ties_a AS DOUBLE)
                                  * (n0 - ties_b))
                           * 1000000000) AS BIGINT)
                ELSE 0 END AS tau_b_e9
    FROM agg
"""


@register(
    "stats_kendall_tau_pairs",
    oracle=_KENDALL_TMPL.format(d=DUCK),
    doc="Kendall's tau-b between every unordered pair of metrics' hourly "
    "means (hours where both observed): concordance counted over exact "
    "cross-multiplied rational means (s_i*c_j vs s_j*c_i — no division "
    "inside a comparison), ties in either margin exact integers, tau-b "
    "one double epilogue e9. The robust-rank companion of "
    "stats_spearman_corr on the same grid; pair stage is bounded by the "
    "calendar grid, never the event count.",
)
def stats_kendall_tau_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_KENDALL_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Kruskal-Wallis rank ANOVA
# ---------------------------------------------------------------------------
# Pooled ranks of v_e3 across the k metrics via the doubled
# tie-averaged-rank identity (2r(v) = 2*cum_before(v) + count(v) + 1),
# so every group's doubled rank sum is an exact integer from the shared
# value histogram. H = 3 * sum_g (2R_g)^2/(n_g N (N+1)) - 3(N+1) with
# the per-group term quantized e6 BEFORE the cross-group sum (the sum
# stays an exact integer reduction; each term is a fixed-order chain of
# correctly-rounded double ops, bit-identical across engines). Tie
# correction 1 - sum(c^3-c)/(N^3-N) from exact histogram moments; the
# chi2(k-1) 5% critical value comes from a pinned lookup.
#
# Scale: one map-side-combinable (metric, value) histogram; everything
# downstream is histogram-sized. Overflow posture: c^3 and the doubled
# rank sums stay int64 through ~1e6 rows/group; N^3-N is computed in
# double (correctly-rounded) so the corrected H survives any N.

_KW_CRIT = """
        SELECT * FROM (VALUES
            (1, 3841459), (2, 5991465), (3, 7814728), (4, 9487729),
            (5, 11070498), (6, 12591587), (7, 14067140), (8, 15507313),
            (9, 16918978), (10, 18307038), (11, 19675138), (12, 21026070),
            (13, 22362032), (14, 23684791), (15, 24995790), (16, 26296228),
            (17, 27587112), (18, 28869299), (19, 30143527), (20, 31410433),
            (21, 32670573), (22, 33924438), (23, 35172462), (24, 36415029),
            (25, 37652484), (26, 38885139), (27, 40113272), (28, 41337138),
            (29, 42556968), (30, 43772972), (31, 44985343), (32, 46194260),
            (33, 47399884), (34, 48602367), (35, 49801850), (36, 50998460),
            (37, 52192320), (38, 53383541), (39, 54572228), (40, 55758479),
            (41, 56942387), (42, 58124038), (43, 59303512), (44, 60480887),
            (45, 61656233), (46, 62829620), (47, 64001112), (48, 65170769),
            (49, 66338649), (50, 67504807), (51, 68669294), (52, 69832160),
            (53, 70993453), (54, 72153216), (55, 73311493), (56, 74468324),
            (57, 75623748), (58, 76777803), (59, 77930524), (60, 79081944),
            (61, 80232098), (62, 81381015), (63, 82528727), (64, 83675261),
            (65, 84820645), (66, 85964907), (67, 87108072), (68, 88250164),
            (69, 89391208), (70, 90531225), (71, 91670239), (72, 92808270),
            (73, 93945340), (74, 95081467), (75, 96216671), (76, 97350970),
            (77, 98484383), (78, 99616927), (79, 100748619), (80, 101879474))
            AS c(df, crit_e6)
"""

# A family outgrowing the pinned lookup must fail LOUDLY, never return
# zero rows (the r11 ADVICE silent-empty class): the consumers LEFT JOIN
# the lookup and run this guard over the (possibly NULL) match. Values
# computed by the regularized-incomplete-gamma bisection in
# tests/test_advice_r12.py, which re-derives and pins every row.
_CHI2_LOOKUP_MSG = (
    "chi2 5% critical lookup has no row at this df; the pinned table "
    "covers df<=80 - extend _KW_CRIT (operators/wave11a.py) with exact "
    "e6 quantiles, never let the join miss drop the family silently"
)


def chi2_lookup_guard(d: Dialect) -> str:
    """In-plan loud guard over a LEFT-JOINed ``_KW_CRIT`` match ``c``:
    TRUE while the lookup hit, raises at EXECUTION on a miss (Spark
    ``assert_true``, DuckDB ``error()``) — the wordpiece/spine-budget
    idiom applied to the pinned-constant joins."""
    return d.guard("c.df IS NOT NULL", _CHI2_LOOKUP_MSG)

_KW_BODY = f"""
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), vals AS (
        SELECT v_e3, CAST(SUM(c) AS BIGINT) AS ct
        FROM hist GROUP BY v_e3
    ), cum AS (
        SELECT v_e3, ct,
               CAST(COALESCE(SUM(ct) OVER (ORDER BY v_e3
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM vals
    ), ranksum AS (
        SELECT h.event_type,
               CAST(SUM(h.c) AS BIGINT) AS n_i,
               CAST(SUM(h.c * (2 * u.cb + u.ct + 1)) AS BIGINT) AS r2_i
        FROM hist h JOIN cum u ON h.v_e3 = u.v_e3
        GROUP BY h.event_type
    ), tot AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM ranksum
    ), terms AS (
        -- per-group H contribution, quantized e6 BEFORE the cross-group
        -- sum so the reduction is order-free on both engines
        SELECT r.event_type, r.n_i, r.r2_i,
               CAST(ROUND(CAST(3 AS DOUBLE) * r.r2_i / r.n_i * r.r2_i
                          / (CAST(t.n AS DOUBLE) * (t.n + 1)) * 1000000)
                    AS BIGINT) AS g_e6
        FROM ranksum r CROSS JOIN tot t
    ), tiesum AS (
        SELECT CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS t3 FROM vals
    ), h AS (
        SELECT t.n, t.k,
               CAST(SUM(q.g_e6) - ROUND(CAST(3 AS DOUBLE) * (t.n + 1)
                    * 1000000) AS BIGINT) AS h_e6,
               CAST(1 AS DOUBLE)
                   - s.t3 / (CAST(t.n AS DOUBLE) * t.n * t.n - t.n)
                   AS corr
        FROM terms q CROSS JOIN tot t CROSS JOIN tiesum s
        GROUP BY t.n, t.k, s.t3
    )
    SELECT q.event_type, q.n_i, q.r2_i AS rank_sum_x2,
           h.h_e6,
           CASE WHEN h.corr > 0
                THEN CAST(ROUND(h.h_e6 / h.corr) AS BIGINT)
                ELSE 0 END AS h_adj_e6,
           CAST(h.k - 1 AS BIGINT) AS df,
           CASE WHEN h.corr > 0
                THEN CAST(ROUND(h.h_e6 / h.corr) AS BIGINT) > c.crit_e6
                ELSE FALSE END AS reject_h0
    FROM terms q CROSS JOIN h
    LEFT JOIN ({_KW_CRIT}) c ON c.df = h.k - 1
"""


def _kw_sql(d: Dialect) -> str:
    return _KW_BODY + f"    WHERE {chi2_lookup_guard(d)}\n"


@register(
    "stats_kruskal_wallis",
    oracle=_kw_sql(DUCK),
    doc="Kruskal-Wallis k-sample rank ANOVA across metrics: pooled "
    "doubled tie-averaged ranks from the shared value histogram (exact "
    "integer rank sums), per-group H contribution quantized e6 before "
    "the order-free cross-group sum, tie-corrected by the exact "
    "histogram moment sum(c^3-c), rejected against a pinned chi2(k-1) "
    "5% lookup. The nonparametric k-group generalization of "
    "stats_mann_whitney / stats_anova_oneway.",
)
def stats_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` feeds vals + ranksum and the terms
    # CTE is referenced twice downstream — WITH-inlining re-ran the
    # events scan + histogram per reference.
    return stage_ctes(spark, _kw_sql(SPARK), "hist")


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test
# ---------------------------------------------------------------------------
# Randomness of each metric's dense hourly count series around its
# median: the doubled-median convention (v at the two middle order
# statistics, summed) keeps the above/below split exact-integer;
# at-median points are dropped per the classical test. Runs counted via
# one LAG; mean/variance of the run count are exact integer rationals
# with a single double epilogue, |z| vs 1.96 at the quantized scale.
#
# Scale: rides the staged hour-counts scan (hour_counts_sql); all
# downstream state is the calendar-bounded series.

_RUNS_CORE = f"""
    , series AS (
        {_DENSE_HOURLY_X_BODY}
    ), ranked AS (
        SELECT event_type, t, v,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                       ORDER BY v, t) AS BIGINT) AS rn,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM series
    ), med AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT)
                             THEN v ELSE 0 END)
                  + SUM(CASE WHEN rn = CAST(FLOOR((n + 2) / 2.0e0) AS BIGINT)
                             THEN v ELSE 0 END) AS BIGINT) AS med2
        FROM ranked GROUP BY event_type
    ), signed AS (
        SELECT /*+ BROADCAST(m) */ s.event_type, s.t,
               CASE WHEN 2 * s.v > m.med2 THEN 1 ELSE -1 END AS sgn
        FROM series s JOIN med m ON s.event_type = m.event_type
        WHERE 2 * s.v <> m.med2
    ), flagged AS (
        SELECT event_type, sgn,
               CASE WHEN LAG(sgn) OVER (PARTITION BY event_type ORDER BY t)
                         IS NOT NULL
                     AND LAG(sgn) OVER (PARTITION BY event_type ORDER BY t)
                         <> sgn
                    THEN 1 ELSE 0 END AS chg
        FROM signed
    ), runs AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN sgn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_above,
               CAST(SUM(CASE WHEN sgn = -1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_below,
               CAST(1 + SUM(chg) AS BIGINT) AS n_runs
        FROM flagged GROUP BY event_type
    )
    SELECT event_type, n_above, n_below, n_runs,
           CASE WHEN n_above > 0 AND n_below > 0
                     AND (n_above + n_below) > 1
                     AND (2.0e0 * n_above * n_below
                          * (2.0e0 * n_above * n_below - n_above - n_below))
                         > 0
                THEN CAST(ROUND(
                       (n_runs - (2.0e0 * n_above * n_below
                                  / (n_above + n_below) + 1))
                       / sqrt(2.0e0 * n_above * n_below
                              * (2.0e0 * n_above * n_below
                                 - n_above - n_below)
                              / (CAST(n_above + n_below AS DOUBLE)
                                 * (n_above + n_below)
                                 * (n_above + n_below - 1)))
                       * 1000000) AS BIGINT)
                ELSE 0 END AS z_e6
    FROM runs
"""

_RUNS_TAIL = """
    SELECT event_type, n_above, n_below, n_runs, z_e6,
           ABS(z_e6) > 1960000 AS reject_h0
    FROM ({core}) rt
"""


@register(
    "stats_runs_test",
    oracle=_RUNS_TAIL.format(core=spine_from_counts(DUCK) + _RUNS_CORE),
    doc="Wald-Wolfowitz runs test per metric over the dense hourly count "
    "series: above/below the exact doubled median (at-median hours "
    "dropped, classical convention), runs via one LAG, z from the exact "
    "integer run-count moments, |z_e6| vs the pinned 1.96. The formal "
    "'is this series random noise' gate beside stats_ljung_box's "
    "autocorrelation portmanteau. Rides the staged hour-counts scan.",
)
def stats_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    rt = hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _RUNS_CORE)
    return spark.sql(_RUNS_TAIL.format(core="SELECT * FROM {rt}"), rt=rt)


# ---------------------------------------------------------------------------
# Wilson score interval
# ---------------------------------------------------------------------------
# 95% CI for each metric's user-repeat rate (users with >= 2 events of
# the metric / users with >= 1). Wald CIs collapse at p near 0 or 1;
# Wilson's score interval stays inside [0,1] and is the house
# recommendation for conversion-style rates. k and n are exact integer
# counts; the interval is one fixed-order double epilogue with the
# pinned z = 1.96 (z^2 = 3.8416).
#
# Scale: one groupBy(metric, user) then groupBy(metric) — both
# map-side-combinable, bounded output.

_WILSON_SQL = """
    WITH per_user AS (
        SELECT event_type, user_id, COUNT(*) AS k
        FROM events GROUP BY event_type, user_id
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(CASE WHEN k >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS repeaters
        FROM per_user GROUP BY event_type
    )
    SELECT event_type, n_users, repeaters,
           CAST(ROUND(CAST(repeaters AS DOUBLE) / n_users * 1000000000)
                AS BIGINT) AS p_hat_e9,
           CAST(ROUND(
             ((CAST(repeaters AS DOUBLE) / n_users
               + CAST(3.8416 AS DOUBLE) / (2.0e0 * n_users))
              - CAST(1.96 AS DOUBLE)
                * sqrt(CAST(repeaters AS DOUBLE) / n_users
                       * (1 - CAST(repeaters AS DOUBLE) / n_users) / n_users
                       + CAST(3.8416 AS DOUBLE)
                         / (4.0e0 * n_users * n_users)))
             / (1 + CAST(3.8416 AS DOUBLE) / n_users) * 1000000000)
             AS BIGINT) AS wilson_lo_e9,
           CAST(ROUND(
             ((CAST(repeaters AS DOUBLE) / n_users
               + CAST(3.8416 AS DOUBLE) / (2.0e0 * n_users))
              + CAST(1.96 AS DOUBLE)
                * sqrt(CAST(repeaters AS DOUBLE) / n_users
                       * (1 - CAST(repeaters AS DOUBLE) / n_users) / n_users
                       + CAST(3.8416 AS DOUBLE)
                         / (4.0e0 * n_users * n_users)))
             / (1 + CAST(3.8416 AS DOUBLE) / n_users) * 1000000000)
             AS BIGINT) AS wilson_hi_e9
    FROM agg
"""


@register(
    "stats_wilson_ci",
    oracle=_WILSON_SQL,
    doc="Wilson 95% score interval per metric for the user-repeat rate "
    "(users with >= 2 events over users with >= 1): exact integer k/n "
    "from two map-side-combinable groupBys, the interval one "
    "fixed-order double epilogue with pinned z = 1.96, quantized e9. "
    "The boundary-safe companion of stats_proportion_ztest.",
)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_WILSON_SQL)


# ---------------------------------------------------------------------------
# Cochran-Armitage trend test
# ---------------------------------------------------------------------------
# Is the share of fulfilled orders monotone in the ordered priority dose
# (1-URGENT .. 5-LOW)? Z = [Swr - Sw1*R/N] / sqrt(p(1-p)(Sw2 - Sw1^2/N))
# with dose scores w = 1..5. Multiplying through by N gives the exact
# integer numerator A = N*Swr - R*Sw1 and exact factors B = R(N-R),
# C = N*Sw2 - Sw1^2, so Z = A * sqrt(N) / sqrt(B*C) — B*C is formed in
# double (two correctly-rounded ops) because the exact product can pass
# 2^63 while each factor cannot.
#
# Scale: one groupBy(dose) over orders — five output rows; every moment
# is map-side-combinable. Overflow posture: A and C stay int64 through
# ~1e8 orders; past that, compute A in double the same way as B*C.

_CA_SQL = """
    WITH base AS (
        SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS dose_i,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
        FROM orders
    ), per_dose AS (
        SELECT CAST(dose_i AS BIGINT) AS dose,
               CAST(COUNT(*) AS BIGINT) AS n_i,
               CAST(SUM(y) AS BIGINT) AS r_i
        FROM base GROUP BY dose_i
    ), moments AS (
        SELECT CAST(SUM(n_i) AS BIGINT) AS n,
               CAST(SUM(r_i) AS BIGINT) AS r,
               CAST(SUM(dose * n_i) AS BIGINT) AS sw1,
               CAST(SUM(dose * dose * n_i) AS BIGINT) AS sw2,
               CAST(SUM(dose * r_i) AS BIGINT) AS swr
        FROM per_dose
    ), stat AS (
        SELECT CAST(n * swr - r * sw1 AS BIGINT) AS a_num,
               CAST(r * (n - r) AS BIGINT) AS b_fac,
               CAST(n * sw2 - sw1 * sw1 AS BIGINT) AS c_fac,
               n
        FROM moments
    ), z AS (
        SELECT CASE WHEN b_fac > 0 AND c_fac > 0
                    THEN CAST(ROUND(CAST(a_num AS DOUBLE)
                               * sqrt(CAST(n AS DOUBLE))
                               / sqrt(CAST(b_fac AS DOUBLE) * c_fac)
                               * 1000000) AS BIGINT)
                    ELSE 0 END AS z_e6
        FROM stat
    )
    SELECT p.dose, p.n_i, p.r_i,
           CAST(ROUND(CAST(p.r_i AS DOUBLE) / p.n_i * 1000000000) AS BIGINT)
               AS rate_e9,
           z.z_e6,
           ABS(z.z_e6) > 1960000 AS reject_h0
    FROM per_dose p CROSS JOIN z
"""


@register(
    "stats_cochran_armitage",
    oracle=_CA_SQL,
    doc="Cochran-Armitage trend-in-proportions test across the five "
    "ordered order-priority doses (outcome: order fulfilled): all five "
    "moment sums are exact integers from one groupBy(dose); the trend Z "
    "is one double epilogue A*sqrt(N)/sqrt(B*C) with B*C formed in "
    "double because the exact product can pass 2^63. The ordered-dose "
    "upgrade of stats_chi2_independence (which ignores category order).",
)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CA_SQL)
