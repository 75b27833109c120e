"""Round-14 wave 14a: hazard-domain survival, seasonal trend testing,
robust variance homogeneity, and the Theta forecaster.

* ``survival_nelson_aalen`` — Nelson-Aalen cumulative-hazard estimator
  H(t) = sum_{t_i <= t} d_i/n_i over the SAME user-lifetime grid as
  ``survival_kaplan_meier`` (days first->last event, final-week actives
  right-censored), plus the Breslow survival exp(-H) and the Aalen
  variance sum d_i/n_i². DISTINCT from the KM row by estimand and
  algebra: KM multiplies survival factors (product-limit), NA sums
  hazard increments — additive, so the estimator composes under
  left-truncation and is the natural input to Cox-style modeling;
  exp(-H) != the KM product whenever any d_i/n_i is not tiny.
* ``stats_seasonal_mann_kendall`` — the Hirsch-Slack (1984) SEASONAL
  Mann-Kendall test per metric: the MK S statistic and tie-corrected
  variance computed WITHIN each hour-of-day stratum across days, then
  summed — a diurnal cycle contributes no spurious trend because
  cross-season pairs are never compared (the failure mode of the
  existing global ``stats_mann_kendall_trend`` on cyclic series).
* ``stats_energy_distance`` — Szekely-Rizzo energy distance between
  every metric PAIR's value distributions via the exact CDF-integral
  identity E|X-Y| = int [F_X(1-F_Y) + F_Y(1-F_X)] dv over the merged
  value histogram — LINEAR in distinct values where the definition is
  pairwise-quadratic. The characteristic-function-complete two-sample
  test beside stats_ks_test (max CDF gap only): energy distance is
  zero iff the distributions are identical and responds to spread and
  shape differences KS down-weights. (First draft of this slot was a
  Brown-Forsythe test — the registration near-dup gate caught
  wave10e's existing ``stats_brown_forsythe``.)
* ``timeseries_theta_method`` — the Theta(0, 2) forecaster
  (Assimakopoulos-Nikolopoulos 2000, the M3 competition winner): the
  linear-trend (theta = 0) line from an exact-integer least-squares
  fit, SES (alpha = 0.2 pinned) over the curvature-doubled theta = 2
  line as ONE zero-capture array fold, forecast = the average of the
  two — beside the AR/Holt-Winters/Croston family as the deadpan
  benchmark every forecasting bake-off must include.

House discipline: every double product that can pass 2^53 at 100 TB
runs as ONE fixed IEEE DAG quantized immediately (the energy
integrands); hazard/variance increments quantize e9/e12 per day and
cumulate as exact integers; fold lambdas capture NO outer column;
degenerate denominators emit flagged rows, never silent drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (+ Breslow survival, Aalen variance)
# ---------------------------------------------------------------------------
# Same lifetime grid as survival_kaplan_meier (analytics.py): lifetime
# = whole days between a user's first and last event; a user whose
# last event falls inside the corpus's final week is right-censored.
# d_t/n_t quantizes e9 per distinct day (d/n² e12), and H/V cumulate
# as EXACT INTEGER window sums, so the only floats are one division
# per grid row and the final exp — identical double DAGs both engines.
# The reverse-cumulative risk set and the two cumulative sums are
# SinglePartition windows over the lifetime-day grid — calendar-
# bounded model-sized state, the audited KM class.

_NA_TMPL = """
    WITH bounds AS (
        SELECT MAX({d.epoch_us}) AS gmax FROM events
    ), life AS (
        SELECT e.user_id,
               CAST((MAX({d.epoch_us}) - MIN({d.epoch_us}))
                    {d.intdiv} {day_us} AS BIGINT) AS days,
               CAST(CASE WHEN MAX({d.epoch_us}) < b.gmax - {week_us}
                         THEN 1 ELSE 0 END AS BIGINT) AS churned
        FROM events e CROSS JOIN bounds b
        GROUP BY e.user_id, b.gmax
    ), risk AS (
        SELECT days AS t,
               CAST(SUM(churned) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM life GROUP BY days
    ), atrisk AS (
        SELECT t, d,
               CAST(SUM(c) OVER (ORDER BY t DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS n
        FROM risk
    ), inc AS (
        SELECT t, d, n,
               CAST(ROUND(CAST(d AS DOUBLE) / n * 1000000000)
                    AS BIGINT) AS h_e9,
               CAST(ROUND(CAST(d AS DOUBLE) / n / n * 1000000000000)
                    AS BIGINT) AS v_e12
        FROM atrisk
    ), cum AS (
        SELECT t, d, n,
               CAST(SUM(h_e9) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS hcum_e9,
               CAST(SUM(v_e12) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS vcum_e12
        FROM inc
    )
    SELECT t AS day, d AS churned, n AS at_risk,
           hcum_e9 AS cum_hazard_e9,
           CAST(ROUND(EXP(-(hcum_e9 / 1000000000.0e0)) * 1000000)
                AS BIGINT) AS breslow_survival_e6,
           vcum_e12 AS hazard_var_e12
    FROM cum
"""


@register(
    "survival_nelson_aalen",
    oracle=_NA_TMPL.format(d=DUCK, day_us=_DAY_US, week_us=_WEEK_US),
    doc="Nelson-Aalen cumulative-hazard curve H(t) = sum d_i/n_i over "
    "the survival_kaplan_meier lifetime grid (days first->last event; "
    "final-week actives right-censored), with the Breslow survival "
    "exp(-H) and the Aalen variance sum d_i/n_i^2. Deliberately "
    "DISTINCT from the KM row: the estimand is the hazard (additive "
    "domain — composes under left truncation, the Cox-model input), "
    "not the product-limit survival, and exp(-H) differs from the KM "
    "product whenever any d/n is large. Increments quantize e9/e12 "
    "per lifetime day and cumulate as exact integer window sums; the "
    "only floats are one division per grid row and the final exp. "
    "Risk sets via one reverse-cumulative window over the calendar-"
    "bounded day grid (the audited KM SinglePartition class); the "
    "data-sized stage is the per-user lifetime reduction.",
)
def survival_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_NA_TMPL.format(d=SPARK, day_us=_DAY_US, week_us=_WEEK_US))


# ---------------------------------------------------------------------------
# Seasonal Mann-Kendall (Hirsch-Slack)
# ---------------------------------------------------------------------------
# Series = per-metric DAILY counts within each hour-of-day stratum
# (the dense day spine per stratum: missing (day, hour) cells are real
# zeros). Within stratum s: S_s = sum over day pairs i<j of
# sign(x_j - x_i), 18*Var_s = n(n-1)(2n+5) - sum_t t(t-1)(2t+5) over
# the stratum's tie groups. Totals sum over strata; z applies the
# +-1 continuity correction against sqrt(V18/18). The pairwise join
# runs per (metric, stratum) on the calendar-bounded daily aggregate —
# days^2 * 24 rows, the global-MK/changepoint precedent, never events.

_SMK_TMPL = """
    WITH cellraw AS (
        -- integer MICROSECONDS, never DuckDB's epoch(): its double
        -- return makes `//` plain division, not floor (round-14 find)
        SELECT event_type,
               CAST({d.epoch_us} {d.intdiv} 86400000000 AS BIGINT) AS day,
               CAST(({d.epoch_us} {d.intdiv} 3600000000) % 24 AS BIGINT)
                   AS season,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), dayspan AS (
        SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM cellraw
    ), spine AS (
        SELECT m.event_type, g.day, s.season
        FROM (SELECT DISTINCT event_type FROM cellraw) m
        CROSS JOIN (SELECT {day_series} AS day FROM dayspan b) g
        CROSS JOIN (SELECT {season_series} AS season) s
    ), cell AS (
        SELECT sp.event_type, sp.day, sp.season,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS x
        FROM spine sp LEFT JOIN cellraw c
          ON c.event_type = sp.event_type AND c.day = sp.day
         AND c.season = sp.season
    ), pairs AS (
        SELECT a.event_type, a.season,
               CAST(SUM(CASE WHEN b.x > a.x THEN 1
                             WHEN b.x < a.x THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_s
        FROM cell a JOIN cell b
          ON b.event_type = a.event_type AND b.season = a.season
         AND b.day > a.day
        GROUP BY a.event_type, a.season
    ), ties AS (
        SELECT event_type, season,
               CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tcorr,
               CAST(SUM(t) AS BIGINT) AS n
        FROM (SELECT event_type, season, x,
                     CAST(COUNT(*) AS BIGINT) AS t
              FROM cell GROUP BY event_type, season, x) z
        GROUP BY event_type, season
    ), strata AS (
        SELECT p.event_type, p.season, p.s_s,
               t.n * (t.n - 1) * (2 * t.n + 5) - t.tcorr AS v18_s
        FROM pairs p JOIN ties t
          ON t.event_type = p.event_type AND t.season = p.season
    ), tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_seasons,
               CAST(SUM(s_s) AS BIGINT) AS s_total,
               CAST(SUM(v18_s) AS BIGINT) AS v18_total
        FROM strata GROUP BY event_type
    )
    SELECT event_type, n_seasons, s_total, v18_total,
           CASE WHEN v18_total > 0 THEN
                CAST(ROUND((CASE WHEN s_total > 0 THEN s_total - 1.0e0
                                 WHEN s_total < 0 THEN s_total + 1.0e0
                                 ELSE 0.0e0 END)
                     / sqrt(v18_total / 18.0e0) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           v18_total = 0 AS degenerate,
           CASE WHEN v18_total > 0 THEN
                (CASE WHEN s_total > 0 THEN s_total - 1.0e0
                      WHEN s_total < 0 THEN s_total + 1.0e0
                      ELSE 0.0e0 END)
                / sqrt(v18_total / 18.0e0) > 1.96e0
                ELSE FALSE END AS increasing_trend,
           CASE WHEN v18_total > 0 THEN
                (CASE WHEN s_total > 0 THEN s_total - 1.0e0
                      WHEN s_total < 0 THEN s_total + 1.0e0
                      ELSE 0.0e0 END)
                / sqrt(v18_total / 18.0e0) < -1.96e0
                ELSE FALSE END AS decreasing_trend
    FROM tot
"""


def _smk_sql(d: Dialect) -> str:
    return _SMK_TMPL.format(
        d=d,
        day_series=d.series("b.dmin", "b.dmax"),
        season_series=d.series("0", "23"),
    )


@register(
    "stats_seasonal_mann_kendall",
    oracle=_smk_sql(DUCK),
    doc="Hirsch-Slack (1984) SEASONAL Mann-Kendall monotone-trend test "
    "per metric: the MK S statistic and tie-corrected 18*variance are "
    "computed WITHIN each hour-of-day stratum over the dense daily "
    "spine (missing cells are real zeros), then summed across the 24 "
    "strata — cross-season day pairs are never compared, so a strong "
    "diurnal cycle cannot masquerade as (or mask) a trend, the "
    "documented failure mode of the global stats_mann_kendall_trend "
    "on cyclic series. Everything is exact integer arithmetic (S "
    "sums, V18 = n(n-1)(2n+5) - tie term) until the one continuity-"
    "corrected z division, e6. A zero-variance family (all strata "
    "constant) emits a degenerate-flagged row. The day-pair join is "
    "days^2-bounded per stratum on the calendar-bounded daily "
    "aggregate; events reduce map-side to (metric, day, hour) counts "
    "and are never re-scanned.",
)
def stats_seasonal_mann_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_smk_sql(SPARK))


# ---------------------------------------------------------------------------
# Energy distance between metric value distributions
# ---------------------------------------------------------------------------
# Szekely-Rizzo: D(X, Y) = 2E|X-Y| - E|X-X'| - E|Y-Y'| >= 0 with
# equality iff the distributions coincide. The definition is pairwise
# (n^2 |x - y| terms), but over a value HISTOGRAM the expectation has
# the exact CDF-integral identity
#   E|X-Y| = int [F_X(v)(1 - F_Y(v)) + F_Y(v)(1 - F_X(v))] dv,
# a sum over merged-grid gaps of step-constant integrands — LINEAR in
# distinct values (the same histogram-not-sort posture as the median
# family). Cumulative counts are exact BIGINTs; the per-gap integrand
# multiplies them in DOUBLE (counts can reach 1e12 at 100 TB — the
# products pass 2^53, but both engines run the identical IEEE DAG) and
# quantizes e6 per gap, so the cross-engine sum is an exact integer
# reduction. Also emits the normalized e-coefficient
# H = D / (2 E|X-Y|) in [0, 1].

_ENERGY_TMPL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v
        FROM events
    ), hist AS (
        SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v
    ), tot AS (
        SELECT event_type, CAST(SUM(c) AS BIGINT) AS n
        FROM hist GROUP BY event_type
    ), within_g AS (
        -- E|X-X'| per metric: 2 * int F(1-F) dv over the metric's grid
        SELECT event_type, v,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
               LEAD(v) OVER (PARTITION BY event_type ORDER BY v) AS nv
        FROM hist
    ), within AS (
        -- LEFT JOIN + COALESCE: a single-point distribution has no
        -- grid gap at all and must emit E|X-X'| = 0, not vanish
        SELECT t.event_type,
               CAST(COALESCE(SUM(CAST(ROUND(
                    (w.nv - w.v) * 2.0e0 * (CAST(w.cw AS DOUBLE) / t.n)
                    * (1.0e0 - CAST(w.cw AS DOUBLE) / t.n) * 1000)
                    AS BIGINT)), 0) AS BIGINT) AS e_within_e6
        FROM tot t LEFT JOIN within_g w
          ON w.event_type = t.event_type AND w.nv IS NOT NULL
        GROUP BY t.event_type
    ), pairs AS (
        SELECT a.event_type AS ma, b.event_type AS mb
        FROM tot a JOIN tot b ON a.event_type < b.event_type
    ), grid AS (
        SELECT p.ma, p.mb, h.v,
               CAST(SUM(CASE WHEN h.event_type = p.ma THEN h.c
                             ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN h.event_type = p.mb THEN h.c
                             ELSE 0 END) AS BIGINT) AS cb
        FROM pairs p JOIN hist h
          ON h.event_type = p.ma OR h.event_type = p.mb
        GROUP BY p.ma, p.mb, h.v
    ), cumg AS (
        SELECT ma, mb, v,
               CAST(SUM(ca) OVER (PARTITION BY ma, mb ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fa,
               CAST(SUM(cb) OVER (PARTITION BY ma, mb ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fb,
               LEAD(v) OVER (PARTITION BY ma, mb ORDER BY v) AS nv
        FROM grid
    ), between_ AS (
        SELECT /*+ BROADCAST(ta), BROADCAST(tb), BROADCAST(g) */ p.ma, p.mb,
               CAST(COALESCE(SUM(CAST(ROUND((g.nv - g.v)
                    * ((CAST(g.fa AS DOUBLE) / ta.n)
                       * (1.0e0 - CAST(g.fb AS DOUBLE) / tb.n)
                       + (CAST(g.fb AS DOUBLE) / tb.n)
                       * (1.0e0 - CAST(g.fa AS DOUBLE) / ta.n)) * 1000)
                    AS BIGINT)), 0) AS BIGINT) AS e_between_e6
        FROM pairs p
        JOIN tot ta ON ta.event_type = p.ma
        JOIN tot tb ON tb.event_type = p.mb
        LEFT JOIN cumg g
          ON g.ma = p.ma AND g.mb = p.mb AND g.nv IS NOT NULL
        GROUP BY p.ma, p.mb
    )
    SELECT /*+ BROADCAST(wa), BROADCAST(wb) */ b.ma, b.mb,
           b.e_between_e6, wa.e_within_e6 AS e_within_a_e6,
           wb.e_within_e6 AS e_within_b_e6,
           CAST(2 * b.e_between_e6 - wa.e_within_e6 - wb.e_within_e6
                AS BIGINT) AS energy_dist_e6,
           CASE WHEN b.e_between_e6 > 0
                THEN CAST(ROUND(
                     CAST(2 * b.e_between_e6 - wa.e_within_e6
                          - wb.e_within_e6 AS DOUBLE)
                     / (2.0e0 * b.e_between_e6) * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS h_coef_e9,
           b.e_between_e6 = 0 AS degenerate
    FROM between_ b
    JOIN within wa ON wa.event_type = b.ma
    JOIN within wb ON wb.event_type = b.mb
"""


@register(
    "stats_energy_distance",
    oracle=_ENERGY_TMPL,
    doc="Szekely-Rizzo energy distance D = 2E|X-Y| - E|X-X'| - E|Y-Y'| "
    "between every metric pair's value distributions, plus the "
    "normalized e-coefficient H = D/(2E|X-Y|) in [0,1]. D = 0 iff the "
    "distributions are identical — the characteristic-function-"
    "complete two-sample readout beside stats_ks_test, which sees "
    "only the max CDF gap. The pairwise-quadratic definition is "
    "computed by the exact CDF-integral identity E|X-Y| = "
    "int [Fx(1-Fy) + Fy(1-Fx)] dv over merged-grid gaps: LINEAR in "
    "distinct values (the histogram-not-sort posture of the median "
    "family). Cumulative counts exact BIGINTs; each gap's integrand "
    "runs one fixed double DAG (count products pass 2^53 at 100 TB — "
    "identical IEEE sequence both engines) and quantizes e6, so the "
    "reduction is exact-integer. Value-partitioned windows over the "
    "distinct-value grid; events reduce map-side to histograms and "
    "are never rescanned. The all-between-mass-at-one-point "
    "degenerate case is flagged.",
)
def stats_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` (and `tot` derived from it) feeds
    # seven inlined references (within_g, grid, within, both pair
    # sides, both per-pair tot joins) — 22 events scans in
    # plans/r15/stats_energy_distance_scan1.txt.
    return stage_ctes(spark, _ENERGY_TMPL, "hist")


# ---------------------------------------------------------------------------
# Theta(0, 2) forecaster
# ---------------------------------------------------------------------------
# Per metric over the dense hourly count spine: (1) exact-integer
# least squares for the theta = 0 line (slope/intercept from n, sum t,
# sum v, sum t^2, sum t*v — all exact BIGINTs; one double solve,
# b e9- and a e6-quantized); (2) the theta = 2 line y_t = 2v_t -
# (a + b t), e6-quantized per row; (3) SES with pinned alpha = 0.2
# over y as ONE array fold with state [level, pos, sse_e3] — the fold
# lambda captures NO outer column (steps carry [y_t, v_t] pairs;
# the one-step-ahead error tracks the ORIGINAL series against the
# combined forecast 0.5*(a + b t) + 0.5*level_{t-1}); (4) the h = 1
# forecast = 0.5*(a + b(n+1)) + 0.5*level_n.

_THETA_ALPHA = "0.2e0"


def _theta_step(d: Dialect) -> str:
    if d is SPARK:
        el = lambda i: f"element_at(acc, {i})"
        st = lambda i: f"element_at(st, {i})"
        out = "array({lvl}, {pos}, {sse})"
    else:
        el = lambda i: f"acc[{i}]"
        st = lambda i: f"st[{i}]"
        out = "[{lvl}, {pos}, {sse}]"
    # st = [y2_t, v_t, lin_t] per step; acc = [level, pos, sse_e3]
    err = f"({st(2)} - (0.5e0 * {st(3)} + 0.5e0 * {el(1)}))"
    lvl = (
        f"round(({_THETA_ALPHA} * {st(1)} + (1.0e0 - {_THETA_ALPHA}) "
        f"* {el(1)}) * 1000000.0e0) / 1000000.0e0"
    )
    return out.format(
        lvl=lvl,
        pos=f"{el(2)} + 1.0e0",
        sse=f"{el(3)} + round({err} * {err} * 1000.0e0)",
    )


def _theta_sql(d: Dialect) -> str:
    prefix = spine_from_counts(d)
    if d is SPARK:
        pack_first = (
            "element_at(transform(array_sort(collect_list(CASE WHEN rn = 1 "
            "THEN struct(rn, y2) END)), s -> s.y2), 1)"
        )
        pack_steps = (
            "transform(array_sort(collect_list(CASE WHEN rn >= 2 THEN "
            "struct(rn, array(y2, vd, lin)) END)), s -> s.col2)"
        )
        fold = (
            f"aggregate(p.steps, array(p.l0, CAST(1.0 AS DOUBLE), "
            f"CAST(0.0 AS DOUBLE)), "
            f"(acc, st) -> ({_theta_step(SPARK)}))"
        )
        fin = "element_at(f.st, {i})"
    else:
        pack_first = "(list(y2 ORDER BY rn) FILTER (WHERE rn = 1))[1]"
        pack_steps = (
            "list([y2, vd, lin] ORDER BY rn) FILTER (WHERE rn >= 2)"
        )
        fold = (
            f"list_reduce(list_concat([[p.l0, 1.0, 0.0]], p.steps), "
            f"(acc, st) -> ({_theta_step(DUCK)}))"
        )
        fin = "f.st[{i}]"
    body = f"""
    , idx AS (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) AS BIGINT) AS rn,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(rn) AS BIGINT) AS st_,
               CAST(SUM(v) AS BIGINT) AS sv,
               CAST(SUM(rn * rn) AS BIGINT) AS stt,
               CAST(SUM(rn * v) AS BIGINT) AS stv
        FROM idx GROUP BY event_type
        HAVING COUNT(*) >= 3
    ), fit AS (
        SELECT event_type, n,
               round((CAST(n AS DOUBLE) * stv - CAST(st_ AS DOUBLE) * sv)
                     / (CAST(n AS DOUBLE) * stt
                        - CAST(st_ AS DOUBLE) * st_)
                     * 1000000000.0e0) / 1000000000.0e0 AS b
        FROM mom
        WHERE CAST(n AS DOUBLE) * stt - CAST(st_ AS DOUBLE) * st_ <> 0
    ), fit2 AS (
        SELECT /*+ BROADCAST(m) */ f.event_type, f.n, f.b,
               round((m.sv - f.b * m.st_) / m.n * 1000000.0e0)
                   / 1000000.0e0 AS a
        FROM fit f JOIN mom m ON m.event_type = f.event_type
    ), lines AS (
        SELECT /*+ BROADCAST(f) */ i.event_type, i.rn,
               CAST(i.v AS DOUBLE) AS vd,
               round((f.a + f.b * i.rn) * 1000000.0e0)
                   / 1000000.0e0 AS lin,
               round((2.0e0 * i.v - (f.a + f.b * i.rn)) * 1000000.0e0)
                   / 1000000.0e0 AS y2
        FROM idx i JOIN fit2 f ON f.event_type = i.event_type
    ), packed AS (
        SELECT event_type,
               ({pack_first}) AS l0,
               ({pack_steps}) AS steps
        FROM lines GROUP BY event_type
    ), folded AS (
        SELECT p.event_type, ({fold}) AS st
        FROM packed p
    )
    SELECT /*+ BROADCAST(f2) */ f.event_type, f2.n AS n_hours,
           CAST(ROUND(f2.a * 1000000) AS BIGINT) AS intercept_e6,
           CAST(ROUND(f2.b * 1000000000) AS BIGINT) AS slope_e9,
           CAST(ROUND({fin.format(i=1)} * 1000000) AS BIGINT)
               AS ses_level_e6,
           CAST(ROUND((0.5e0 * (f2.a + f2.b * (f2.n + 1))
                + 0.5e0 * {fin.format(i=1)}) * 1000000) AS BIGINT)
               AS forecast_next_e6,
           CAST({fin.format(i=3)} AS BIGINT) AS sse_e3
    FROM folded f
    JOIN fit2 f2 ON f2.event_type = f.event_type
"""
    return prefix + body


@register(
    "timeseries_theta_method",
    oracle=_theta_sql(DUCK),
    doc="Theta(0, 2) forecast (Assimakopoulos-Nikolopoulos 2000 — the "
    "M3 competition winner and the standard bake-off baseline) per "
    "metric over the dense hourly count spine: exact-integer least "
    "squares gives the theta = 0 trend line (b e9-, a e6-quantized), "
    "SES at pinned alpha = 0.2 runs over the curvature-doubled "
    "theta = 2 line y = 2v - (a + bt) as ONE 3-slot zero-capture "
    "array fold (level e6-quantized per round, the running one-step "
    "SSE of the COMBINED forecast against the original series "
    "accumulated e3), and the next-hour forecast is the average "
    "0.5(a + b(n+1)) + 0.5*level. The drift-plus-smoothing "
    "complement of the AR (stationary), Holt-Winters (seasonal) and "
    "Croston (intermittent) rows. Data-sized stage: the shared "
    "hourly reduction; the fold is calendar-bounded.",
)
def timeseries_theta_method(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _theta_sql(SPARK))
