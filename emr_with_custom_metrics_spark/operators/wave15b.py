"""Round-15 wave 15b: unit-root / volatility / variance-changepoint
diagnostics, Markov chain homogeneity, and extreme-value capacity fits.

* ``timeseries_dickey_fuller`` — the Dickey-Fuller unit-root tau test
  (constant-only) per metric over dense daily counts: regress
  delta y_t on y_{t-1}, tau = rho_hat/se(rho_hat) against the pinned
  -2.86 large-n 5% critical value. The RANDOM-WALK battery's second
  leg beside timeseries_variance_ratio (VR measures the variance
  SCALING signature; DF tests the autoregressive root itself).
* ``timeseries_arch_lm`` — Engle 1982 ARCH LM test per metric:
  volatility CLUSTERING in the daily increments (large moves follow
  large moves) via the lag-1 regression of squared demeaned
  increments; LM = n R^2 against chi2(1). None of the level/trend
  rows can see conditional heteroskedasticity.
* ``timeseries_cusum_squares`` — Brown-Durbin-Evans / Inclan-Tiao
  CUSUM-of-SQUARES variance-changepoint: the VARIANCE complement of
  events_cusum_drift (online mean alarm) and changepoint_binseg
  (offline mean split) — IT = sqrt(n/2) max_k |S_k/S_n - k/n| over
  cumulative squared increments, changepoint at the argmax day.
* ``events_markov_homogeneity`` — likelihood-ratio G^2 test that the
  user-journey transition matrix is the SAME in the corpus's first
  and second time halves — the stationarity precondition every other
  Markov row (transition matrix, absorption, spectral gap, entropy
  rate) silently assumes, made testable.
* ``stats_gumbel_block_maxima`` — EVT block-maxima Gumbel fit by
  method of moments over weekly maxima of daily counts, with the
  4-week return level — the capacity-planning complement of
  stats_hill_tail_index (Hill reads the tail EXPONENT from
  exceedances; block maxima give RETURN LEVELS for sizing).

House discipline (the round-14 hazard checklist): all day bucketing
in integer microseconds (integer division on exact BIGINTs — the seasonal-MK
dialect rule); dense day grids via LEFT JOIN + COALESCE (zero-event
days are real zeros); centered moments about the ROUNDED integer mean
accumulated in DECIMAL(38,0) — exact and summation-order-free in both
engines at ANY scale, one DOUBLE conversion per moment (r14 ADVICE;
the r12 wide-accumulator lesson taken to its conclusion); per-cell
LN / per-row ratios quantized immediately; degenerate series flagged
AND EMITTED — a metric whose span is too short to form lagged
observations left-joins back in from the dense metric spine instead
of vanishing through an empty group (r14 ADVICE); argmax ties broken
by earliest day.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register


# Dense per-(metric, day) counts — the CCC/coherence grid shape: one
# map-side reduction, then a calendar-bounded LEFT JOIN spine where
# zero-event days are REAL ZEROS.
_DAILY_DENSE = """
    WITH cellraw AS (
        SELECT event_type,
               CAST({d.epoch_us} {d.intdiv} 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), dayspan AS (
        SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM cellraw
    ), dense AS (
        SELECT m.event_type, g.day,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS y
        FROM (SELECT DISTINCT event_type FROM cellraw) m
        CROSS JOIN (SELECT {day_series} AS day FROM dayspan b) g
        LEFT JOIN cellraw c
          ON c.event_type = m.event_type AND c.day = g.day
    )"""


def _daily_dense(d: Dialect) -> str:
    return _DAILY_DENSE.format(d=d, day_series=d.series("b.dmin", "b.dmax"))


# ---------------------------------------------------------------------------
# Dickey-Fuller
# ---------------------------------------------------------------------------
_DF_CRIT_TAU = -2.86  # constant-only DF, large-n 5% critical value

_DF_CORE = """
    , lagd AS (
        SELECT event_type, day, y,
               LAG(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS ylag
        FROM dense
    ), obs AS (
        SELECT event_type, ylag AS x, y - ylag AS d
        FROM lagd WHERE ylag IS NOT NULL
    ), mean0 AS (
        -- rounded integer means so centered terms are exact integers
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mx,
               CAST(ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS md,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(d) AS BIGINT) AS sd
        FROM obs GROUP BY event_type
    ), cm AS (
        -- centered second moments about the rounded means, accumulated
        -- in DECIMAL(19,0) * BIGINT -> DECIMAL(38,0) (r14 ADVICE):
        -- exact-integer terms whose products can pass 2^53 on heavy
        -- tails, where a DOUBLE sum turns summation-order-dependent.
        -- Exact order-free decimal sums, ONE double conversion each.
        -- The exact-mean correction restores the true centered
        -- moments algebraically.
        SELECT o.event_type, m.n, m.sx, m.sd, m.mx, m.md,
               CAST(SUM(CAST(o.x - m.mx AS DECIMAL(19,0))
                        * (o.x - m.mx)) AS DOUBLE) AS rxx,
               CAST(SUM(CAST(o.x - m.mx AS DECIMAL(19,0))
                        * (o.d - m.md)) AS DOUBLE) AS rxd,
               CAST(SUM(CAST(o.d - m.md AS DECIMAL(19,0))
                        * (o.d - m.md)) AS DOUBLE) AS rdd
        FROM obs o JOIN mean0 m ON m.event_type = o.event_type
        GROUP BY o.event_type, m.n, m.sx, m.sd, m.mx, m.md
    ), exact AS (
        SELECT event_type, n,
               rxx - (CAST(sx AS DOUBLE) / n - mx)
                     * (CAST(sx AS DOUBLE) / n - mx) * n AS cxx,
               rxd - (CAST(sx AS DOUBLE) / n - mx)
                     * (CAST(sd AS DOUBLE) / n - md) * n AS cxd,
               rdd - (CAST(sd AS DOUBLE) / n - md)
                     * (CAST(sd AS DOUBLE) / n - md) * n AS cdd
        FROM cm
    ), fit AS (
        -- NULLIF guard: ANSI engines evaluate a division inside an
        -- AND-condition even when an earlier conjunct is false, so
        -- the zero-variance branch must never FORM cxd/cxx
        SELECT event_type, n, cxx,
               cxd / NULLIF(cxx, 0.0e0) AS rho,
               cdd - cxd / NULLIF(cxx, 0.0e0) * cxd AS sse
        FROM exact
    ), metrics AS (
        -- every metric in the corpus: a span too short to form any
        -- lagged observation must still emit a degenerate-flagged
        -- row instead of vanishing through the empty group (r14
        -- ADVICE — the module's 'flagged, never dropped' discipline)
        SELECT DISTINCT event_type FROM dense
    )
    SELECT m.event_type, CAST(COALESCE(f.n, 0) AS BIGINT) AS n_obs,
           CASE WHEN f.cxx > 0
                THEN CAST(ROUND(f.rho * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS rho_e9,
           CASE WHEN f.cxx > 0 AND f.n > 3 AND f.sse > 0
                THEN CAST(ROUND(f.rho
                     / sqrt((f.sse / (f.n - 2)) / f.cxx)
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS tau_e6,
           CASE WHEN f.cxx > 0 AND f.n > 3 AND f.sse > 0
                THEN f.rho / sqrt((f.sse / (f.n - 2)) / f.cxx) < {crit}
                ELSE FALSE END AS reject_unit_root_05,
           NOT (f.cxx > 0 AND f.n > 3 AND COALESCE(f.sse, 0.0e0) > 0)
               AS degenerate
    FROM metrics m LEFT JOIN fit f ON f.event_type = m.event_type
"""


@register(
    "timeseries_dickey_fuller",
    oracle=_daily_dense(DUCK) + _DF_CORE.format(crit=_DF_CRIT_TAU),
    doc="Dickey-Fuller unit-root tau test (constant-only) per metric "
    "over dense daily counts: delta y_t = alpha + rho y_(t-1) + e, "
    "tau = rho_hat/se against the pinned -2.86 large-n 5% critical "
    "value — the random-walk battery's second leg beside "
    "timeseries_variance_ratio (VR reads the variance-scaling "
    "signature; DF tests the root itself; disagreement between them "
    "is itself diagnostic). Closed-form OLS from centered moments "
    "about ROUNDED integer means (terms exact integers in double — "
    "overflow-safe and order-free), with the exact-mean correction "
    "applied algebraically; perfect fits / constant series flag "
    "degenerate. One map-side day reduction + one LAG window "
    "partitioned by metric; everything after is metric-bounded.",
)
def timeseries_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _daily_dense(SPARK) + _DF_CORE.format(crit=_DF_CRIT_TAU)
    )


# ---------------------------------------------------------------------------
# ARCH LM
# ---------------------------------------------------------------------------
_ARCH_CRIT = 3.841458820694124  # chi2(1) at 5%

_ARCH_CORE = """
    , lagd AS (
        SELECT event_type, day, y,
               LAG(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS ylag
        FROM dense
    ), incs AS (
        SELECT event_type, day, y - ylag AS d
        FROM lagd WHERE ylag IS NOT NULL
    ), dmean AS (
        SELECT event_type,
               CAST(ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS md
        FROM incs GROUP BY event_type
    ), sq AS (
        -- u_t = (d_t - md)^2: exact integers (rounded-mean centering),
        -- carried as integer-valued doubles; the moment SUMS below
        -- accumulate in DECIMAL(38,0) so they are order-free
        SELECT i.event_type, i.day,
               CAST(i.d - m.md AS DOUBLE) * (i.d - m.md) AS u
        FROM incs i JOIN dmean m ON m.event_type = i.event_type
    ), lagu AS (
        SELECT event_type, day, u,
               LAG(u) OVER (PARTITION BY event_type ORDER BY day)
                   AS ulag
        FROM sq
    ), obs AS (
        SELECT event_type, u, ulag FROM lagu WHERE ulag IS NOT NULL
    ), mom AS (
        -- moment sums accumulate in DECIMAL(38,0) (r14 ADVICE): the
        -- u*u terms are 4th powers of increments — far past 2^53,
        -- where a DOUBLE sum is summation-order-dependent. Each term
        -- is an integer-valued double (exact binary integer even
        -- past 2^53), so the per-term decimal cast is exact and
        -- IDENTICAL in both engines; the sums are then order-free.
        -- ONE double conversion per moment, below.
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(u AS DECIMAL(38,0))) AS DOUBLE) AS su,
               CAST(SUM(CAST(ulag AS DECIMAL(38,0))) AS DOUBLE) AS sv,
               CAST(SUM(CAST(u * u AS DECIMAL(38,0)))
                    AS DOUBLE) AS suu,
               CAST(SUM(CAST(ulag * ulag AS DECIMAL(38,0)))
                    AS DOUBLE) AS svv,
               CAST(SUM(CAST(u * ulag AS DECIMAL(38,0)))
                    AS DOUBLE) AS suv
        FROM obs GROUP BY event_type
    ), r2 AS (
        SELECT event_type, n,
               (n * suv - su * sv) AS num,
               (n * suu - su * su) AS den_u,
               (n * svv - sv * sv) AS den_v
        FROM mom
    ), metrics AS (
        -- degenerate-emission spine (r14 ADVICE): a corpus spanning
        -- too few days to form lag-1 pairs of squared increments
        -- flags, never drops
        SELECT DISTINCT event_type FROM dense
    )
    SELECT m.event_type, CAST(COALESCE(r.n, 0) AS BIGINT) AS n_obs,
           CASE WHEN r.den_u > 0 AND r.den_v > 0
                THEN CAST(ROUND(r.n * (r.num / r.den_u)
                     * (r.num / r.den_v) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS arch_lm_e6,
           CASE WHEN r.den_u > 0 AND r.den_v > 0
                THEN r.n * (r.num / r.den_u) * (r.num / r.den_v)
                     > {crit}
                ELSE FALSE END AS reject_05,
           -- missing r -> NULL conjuncts -> COALESCE pins TRUE
           COALESCE(NOT (r.den_u > 0 AND r.den_v > 0), TRUE)
               AS degenerate
    FROM metrics m LEFT JOIN r2 r ON r.event_type = m.event_type
"""


@register(
    "timeseries_arch_lm",
    oracle=_daily_dense(DUCK) + _ARCH_CORE.format(crit=_ARCH_CRIT),
    doc="Engle 1982 ARCH LM test per metric: volatility CLUSTERING in "
    "the daily increments — regress squared demeaned increments on "
    "their lag-1, LM = n R^2 against the pinned chi2(1) 5% critical "
    "value. The conditional-heteroskedasticity readout none of the "
    "level/trend/changepoint rows can see (a series can be mean-"
    "stationary while its VARIANCE arrives in bursts — exactly the "
    "traffic regime autoscaling planning cares about). Demeaned "
    "increments center at the ROUNDED integer mean so u_t is an "
    "exact integer in double; R^2 from the cross-multiplied moment "
    "identity with zero-variance guards; degenerate series flagged. "
    "One day reduction + two metric-partitioned LAG windows; "
    "metric-bounded after.",
)
def timeseries_arch_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _daily_dense(SPARK) + _ARCH_CORE.format(crit=_ARCH_CRIT)
    )


# ---------------------------------------------------------------------------
# CUSUM of squares
# ---------------------------------------------------------------------------
_IT_CRIT = 1.358  # Inclan-Tiao 5% asymptotic boundary

_CSQ_CORE = """
    , lagd AS (
        SELECT event_type, day, y,
               LAG(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS ylag
        FROM dense
    ), incs AS (
        SELECT event_type, day, y - ylag AS d
        FROM lagd WHERE ylag IS NOT NULL
    ), dmean AS (
        SELECT event_type,
               CAST(ROUND(CAST(SUM(d) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS md
        FROM incs GROUP BY event_type
    ), sq AS (
        SELECT i.event_type, i.day,
               CAST(i.d - m.md AS DOUBLE) * (i.d - m.md) AS u,
               ROW_NUMBER() OVER (PARTITION BY i.event_type
                                  ORDER BY i.day) AS k
        FROM incs i JOIN dmean m ON m.event_type = i.event_type
    ), cum AS (
        SELECT event_type, day, k,
               SUM(u) OVER (PARTITION BY event_type ORDER BY k
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS sk,
               SUM(u) OVER (PARTITION BY event_type) AS sn,
               MAX(k) OVER (PARTITION BY event_type) AS n
        FROM sq
    ), dev AS (
        -- centered CUSUM deviation per day, e9-quantized per row so
        -- the argmax compares identical integers on both engines
        SELECT event_type, day, k, n, sn,
               CAST(ROUND(ABS(sk / sn - CAST(k AS DOUBLE) / n)
                    * 1000000000) AS BIGINT) AS dev_e9
        FROM cum WHERE sn > 0
    ), best AS (
        SELECT event_type, day AS change_day, n, dev_e9,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY dev_e9 DESC, day ASC) AS rn
        FROM dev
    ), zero_var AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n
        FROM cum WHERE sn <= 0 GROUP BY event_type
    )
    SELECT event_type, n AS n_obs, change_day,
           CAST(ROUND(sqrt(n / 2.0e0) * (dev_e9 / 1000000000.0e0)
                * 1000000) AS BIGINT) AS it_stat_e6,
           sqrt(n / 2.0e0) * (dev_e9 / 1000000000.0e0) > {crit}
               AS reject_05,
           FALSE AS degenerate
    FROM best WHERE rn = 1
    UNION ALL
    SELECT event_type, n, CAST(NULL AS BIGINT),
           CAST(0 AS BIGINT), FALSE, TRUE
    FROM zero_var
    UNION ALL
    -- degenerate-emission spine (r14 ADVICE): a single-day corpus
    -- forms no increments at all, so a metric reaches neither the
    -- argmax arm nor the zero-variance arm — flag it, never drop it
    SELECT m.event_type, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
           CAST(0 AS BIGINT), FALSE, TRUE
    FROM (SELECT DISTINCT event_type FROM dense) m
    WHERE NOT EXISTS (SELECT 1 FROM cum c
                      WHERE c.event_type = m.event_type)
"""


@register(
    "timeseries_cusum_squares",
    oracle=_daily_dense(DUCK) + _CSQ_CORE.format(crit=_IT_CRIT),
    doc="Inclan-Tiao / Brown-Durbin-Evans CUSUM-of-squares variance-"
    "changepoint per metric: IT = sqrt(n/2) max_k |S_k/S_n - k/n| "
    "over cumulative squared demeaned daily increments, changepoint "
    "at the argmax day (ties to earliest), against the pinned 1.358 "
    "5% boundary — the VARIANCE complement of events_cusum_drift "
    "(online mean alarm) and timeseries_changepoint_binseg (offline "
    "mean split): a series whose LEVEL never drifts can still switch "
    "volatility regimes, and only this row sees it. Squared "
    "increments are exact integers (rounded-mean centering); the "
    "per-day deviation quantizes e9 BEFORE the argmax so both "
    "engines rank identical integers; constant series emit a "
    "degenerate-flagged row. Windows are metric-partitioned over "
    "the calendar-bounded day grid.",
)
def timeseries_cusum_squares(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _daily_dense(SPARK) + _CSQ_CORE.format(crit=_IT_CRIT)
    )


# ---------------------------------------------------------------------------
# Markov chain homogeneity
# ---------------------------------------------------------------------------
_MH_Z_CRIT = 1.6448536269514722  # one-sided 5%

_MH_TMPL = """
    WITH bounds AS (
        SELECT MIN({d.epoch_us}) AS gmin, MAX({d.epoch_us}) AS gmax
        FROM events
    ), seq AS (
        SELECT user_id, event_type AS src, ts,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ), halved AS (
        -- a transition belongs to the half of its SOURCE event;
        -- integer-microsecond midpoint (the dialect rule)
        SELECT s.src, s.dst,
               CASE WHEN {epoch_us_s} < (b.gmin + b.gmax) {d.intdiv} 2
                    THEN 0 ELSE 1 END AS half
        FROM seq s CROSS JOIN bounds b
        WHERE s.dst IS NOT NULL
    ), cell AS (
        SELECT half, src, dst, CAST(COUNT(*) AS BIGINT) AS c
        FROM halved GROUP BY half, src, dst
    ), rowh AS (
        SELECT half, src, CAST(SUM(c) AS BIGINT) AS rh
        FROM cell GROUP BY half, src
    ), pool AS (
        SELECT src, dst, CAST(SUM(c) AS BIGINT) AS cp
        FROM cell GROUP BY src, dst
    ), rowp AS (
        SELECT src, CAST(SUM(cp) AS BIGINT) AS rp FROM pool GROUP BY src
    ), terms AS (
        -- per-cell G^2 contribution 2 c ln((c/rh)/(cp/rp)), LN
        -- quantized e9 immediately (the Fisher lnp pattern) so the
        -- cross-cell reduction is an exact integer sum
        SELECT ce.half, ce.src, ce.dst,
               CAST(ce.c AS BIGINT) AS c,
               CAST(ROUND(2.0e0 * ce.c * ln(
                    (CAST(ce.c AS DOUBLE) / rh.rh)
                    / (CAST(po.cp AS DOUBLE) / rp.rp))
                    * 1000000000) AS BIGINT) AS g_e9
        FROM cell ce
        JOIN rowh rh ON rh.half = ce.half AND rh.src = ce.src
        JOIN pool po ON po.src = ce.src AND po.dst = ce.dst
        JOIN rowp rp ON rp.src = ce.src
    ), dfcalc AS (
        -- df = sum over src rows with BOTH halves present of
        -- (k_src - 1), k_src = pooled distinct destinations
        SELECT CAST(COALESCE(SUM(k - 1), 0) AS BIGINT) AS df
        FROM (
            SELECT p.src, CAST(COUNT(*) AS BIGINT) AS k
            FROM pool p
            WHERE (SELECT COUNT(DISTINCT half) FROM cell c2
                   WHERE c2.src = p.src) = 2
            GROUP BY p.src) z
    ), g2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
               CAST(COALESCE(SUM(g_e9), 0) AS BIGINT) AS g2_e9
        FROM terms
    )
    SELECT g2.n_cells, d.df,
           CAST(ROUND(g2.g2_e9 / 1000.0e0) AS BIGINT) AS g2_e6,
           CASE WHEN d.df > 0 AND g2.g2_e9 > 0
                THEN CAST(ROUND((sqrt(2.0e0 * g2.g2_e9
                     / 1000000000.0e0)
                     - sqrt(2.0e0 * d.df - 1.0e0)) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN d.df > 0 AND g2.g2_e9 > 0
                THEN sqrt(2.0e0 * g2.g2_e9 / 1000000000.0e0)
                     - sqrt(2.0e0 * d.df - 1.0e0) > {crit}
                ELSE FALSE END AS reject_05,
           d.df = 0 AS degenerate
    FROM g2 CROSS JOIN dfcalc d
"""


def _mh_sql(d: Dialect) -> str:
    return _MH_TMPL.format(d=d, epoch_us_s=d.micros("s.ts"), crit=_MH_Z_CRIT)


@register(
    "events_markov_homogeneity",
    oracle=_mh_sql(DUCK),
    doc="Likelihood-ratio G^2 test that the user-journey transition "
    "matrix is the SAME in the corpus's first and second time halves "
    "(Anderson-Goodman 1957 Markov homogeneity) — the stationarity "
    "precondition every other Markov row (events_transition_matrix, "
    "absorption, spectral gap, entropy rate) silently ASSUMES, made "
    "testable: G^2 = 2 sum n_ij^h ln(p_ij^h / p_ij^pool), per-cell "
    "LN quantized e9 immediately (exact integer cross-cell sum), "
    "df = sum (k_src - 1) over sources seen in both halves, decision "
    "via the sqrt(2 G^2) - sqrt(2 df - 1) normal approximation at the "
    "pinned one-sided 5% z. A transition belongs to the half of its "
    "SOURCE event; the midpoint is integer-microsecond arithmetic. "
    "One user-partitioned LEAD window (the shared journey "
    "construction) + state-cardinality-bounded aggregates after.",
)
def events_markov_homogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_mh_sql(SPARK))


# ---------------------------------------------------------------------------
# Gumbel block maxima
# ---------------------------------------------------------------------------
_EULER_GAMMA = 0.5772156649015329
_SQRT6_OVER_PI = math.sqrt(6.0) / math.pi  # 0.779696801233676...
_LNLN_4WEEK = math.log(-math.log(1.0 - 1.0 / 4.0))  # -1.245899323707238

_GBM_CORE = f"""
    , weekly AS (
        -- weekly block maxima over the DENSE day grid (a zero-event
        -- day can be the block max of an idle week)
        SELECT event_type,
               CAST((day - (SELECT dmin FROM dayspan)) {{d.intdiv}} 7
                    AS BIGINT) AS wk,
               CAST(MAX(y) AS BIGINT) AS mx
        FROM dense GROUP BY 1, 2
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nb,
               CAST(SUM(mx) AS BIGINT) AS s1,
               CAST(ROUND(CAST(SUM(mx) AS DOUBLE) / COUNT(*)) AS BIGINT)
                   AS mm,
               CAST(MAX(mx) AS BIGINT) AS observed_max
        FROM weekly GROUP BY event_type
    ), cmom AS (
        -- centered second moment about the rounded mean: exact
        -- order-free DECIMAL accumulation (r14 ADVICE; squares of
        -- heavy-tailed weekly maxima can pass 2^53 where a DOUBLE
        -- sum turns order-dependent) + algebraic correction
        SELECT w.event_type, m.nb, m.s1, m.mm, m.observed_max,
               CAST(SUM(CAST(w.mx - m.mm AS DECIMAL(19,0))
                        * (w.mx - m.mm)) AS DOUBLE) AS r2
        FROM weekly w JOIN mom m ON m.event_type = w.event_type
        GROUP BY w.event_type, m.nb, m.s1, m.mm, m.observed_max
    ), fit AS (
        SELECT event_type, nb, observed_max,
               CAST(s1 AS DOUBLE) / nb AS mean_x,
               CASE WHEN nb > 1 THEN
                    sqrt(GREATEST(0.0e0,
                         (r2 - (CAST(s1 AS DOUBLE) / nb - mm)
                               * (CAST(s1 AS DOUBLE) / nb - mm) * nb)
                         / (nb - 1)))
                    ELSE 0.0e0 END AS sd_x
        FROM cmom
    )
    SELECT event_type, nb AS n_blocks, observed_max,
           CAST(ROUND((mean_x - {_EULER_GAMMA}
                * ({_SQRT6_OVER_PI} * sd_x)) * 1000000) AS BIGINT)
               AS gumbel_mu_e6,
           CAST(ROUND({_SQRT6_OVER_PI} * sd_x * 1000000) AS BIGINT)
               AS gumbel_beta_e6,
           CASE WHEN sd_x > 0
                THEN CAST(ROUND((mean_x - {_EULER_GAMMA}
                     * ({_SQRT6_OVER_PI} * sd_x)
                     - ({_SQRT6_OVER_PI} * sd_x) * ({_LNLN_4WEEK}))
                     * 1000000) AS BIGINT)
                ELSE CAST(ROUND(mean_x * 1000000) AS BIGINT)
                END AS return_level_4wk_e6,
           sd_x = 0.0e0 AS degenerate
    FROM fit
"""


@register(
    "stats_gumbel_block_maxima",
    oracle=_daily_dense(DUCK) + _GBM_CORE.format(d=DUCK),
    doc="EVT block-maxima Gumbel fit per metric (method of moments "
    "over WEEKLY maxima of dense daily counts: beta = s sqrt(6)/pi, "
    "mu = mean - gamma beta, Euler gamma and sqrt(6)/pi baked as "
    "Python-computed literals into both engine texts — the pinned-"
    "constant discipline) with the 4-week return level mu - beta "
    "ln(-ln(3/4)) — the capacity-planning readout: 'what daily peak "
    "should the autoscaler budget for per month?'. The complement of "
    "stats_hill_tail_index (Hill reads the tail EXPONENT from "
    "exceedances; block maxima turn the same tail into RETURN "
    "LEVELS). Block maxima over the dense grid (idle weeks are real "
    "zero-max blocks); centered moments about the rounded mean; "
    "single-block / zero-variance metrics flag degenerate. One day "
    "reduction; week rollup is calendar-bounded.",
)
def stats_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _daily_dense(SPARK) + _GBM_CORE.format(d=SPARK)
    )
