"""Round-13 wave 13a: residual diagnostics for the AR(2) model, rater
agreement, categorical association, adaptive FDR, and burst detection.

* ``timeseries_durbin_watson`` — Durbin-Watson first-order residual
  autocorrelation statistic over the AR(2) fit's residuals: the model-
  adequacy companion the forecast row has lacked (a DW far from 2 says
  the AR(2) residuals still carry serial structure, so the forecast
  interval is wrong even when the point fit looks fine).
* ``stats_ljung_box_resid`` — Ljung-Box portmanteau whiteness test on
  the SAME AR(2) residual stream at lags 1-8 with df = h - 2 (the
  fitted-parameter correction ``stats_ljung_box`` on raw series cannot
  apply). Together with DW this completes the Box-Jenkins adequacy
  loop: identify (ACF/PACF) -> fit (AR2) -> diagnose (DW/LB-resid).
* ``stats_icc_agreement`` — intraclass correlation ICC(2,1) and
  ICC(3,1) (Shrout-Fleiss 1979) over the day x metric grid of daily
  mean values: absolute-agreement vs consistency reliability of the
  "raters" (metrics) on the "subjects" (days).
* ``basket_association_rules`` — market-basket support / confidence /
  lift over order baskets of part brands (Agrawal-Srikant): the
  classic affinity readout, all exact integer ratios.
* ``stats_storey_qvalue`` — Storey (2002) adaptive-FDR q-values over
  the family's shared Welch p-value pipeline: pi0 estimated at
  lambda = 0.5, step-up min-monotone q per metric. The adaptive
  sibling of BH/BY — the lookup the other two cannot give: "the FDR
  at which THIS metric first becomes a discovery".
* ``timeseries_kleinberg_multistate`` — the 3-level Kleinberg burst
  HIERARCHY (the multi-state extension of wave10c's 2-state
  ``timeseries_burst_kleinberg``): levels at 1x/2x/4x the mean rate,
  upward transitions paying (j-i)*ln(n), decoded by an EXACT integer
  min-plus Viterbi run as ONE higher-order array fold per metric —
  costs are e3-quantized integers, so the whole dynamic program is
  integer arithmetic and both engines walk the identical path with
  no per-round float quantization at all.

Scale posture: DW/LB/Kleinberg consume calendar-bounded per-metric
series (5-min buckets / hourly spine) — the heavy stage is the
map-side-combinable bucket aggregation over events; everything after
is model-sized. ICC reduces to a day x metric grid (calendar x
metric-count), baskets to a 25^2-bounded brand-pair domain, Storey to
the metric-count p-value relation (the BH model-sized ranked-window
class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.operators.wave9c import WELCH_PV_CTES, stage_welch_pv
from emr_with_custom_metrics_spark.operators.wave11a import (
    _KW_CRIT,
    chi2_lookup_guard,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register
from emr_with_custom_metrics_spark.streaming.metrics import _AR2_TMPL


# The AR(2) fit body (CTEs s, lagged, m, solved, coefs) sliced from the
# forecast query's text so the residual diagnostics can never drift
# from the model they diagnose (the shared-prefix sibling-interface
# pattern). Ends with "...WHERE det <> 0)," ready for further CTEs.
def _ar2_coefs_prefix(d: Dialect) -> str:
    return _AR2_TMPL.format(d=d).split("tail2 AS")[0].rstrip()


# Residuals of the AR(2) fit: e_t = x_t - (a + b*x_{t-1} + c*x_{t-2})
# over the 5-minute bucket series. x derives from exact-integer e3
# bucket means and the coefficients from exact-integer moments (the
# r15 determinism retrofit), so the residual is a fixed double DAG
# over identical inputs on both engines; it quantizes to an e3 INTEGER
# immediately (magnitude ~ the metric value scale, so e3 keeps 4-5
# significant digits while Σe² stays far inside int64 at any calendar
# span).
_AR2_RESID_CTE = """
    resid AS (
        SELECT l.event_type, l.bucket,
               CAST(ROUND((l.x - (c.a + c.b * l.x1 + c.c * l.x2)) * 1000)
                    AS BIGINT) AS e_e3
        FROM lagged l JOIN coefs c ON c.event_type = l.event_type
        WHERE l.x1 IS NOT NULL AND l.x2 IS NOT NULL)
"""

_DW_TAIL = """
    , dlag AS (
        SELECT event_type, e_e3,
               LAG(e_e3) OVER (PARTITION BY event_type
                               ORDER BY bucket) AS p_e3
        FROM resid)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_resid,
           CASE WHEN SUM(e_e3 * e_e3) > 0
                THEN CAST(ROUND(CAST(SUM(CASE WHEN p_e3 IS NOT NULL
                          THEN (e_e3 - p_e3) * (e_e3 - p_e3)
                          ELSE 0 END) AS DOUBLE)
                     / SUM(e_e3 * e_e3) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS dw_e6,
           SUM(e_e3 * e_e3) = 0 AS degenerate,
           CASE WHEN SUM(e_e3 * e_e3) > 0
                THEN CAST(ROUND(CAST(SUM(CASE WHEN p_e3 IS NOT NULL
                          THEN (e_e3 - p_e3) * (e_e3 - p_e3)
                          ELSE 0 END) AS DOUBLE)
                     / SUM(e_e3 * e_e3) * 1000000) AS BIGINT) < 1500000
                ELSE FALSE END AS positive_autocorr,
           CASE WHEN SUM(e_e3 * e_e3) > 0
                THEN CAST(ROUND(CAST(SUM(CASE WHEN p_e3 IS NOT NULL
                          THEN (e_e3 - p_e3) * (e_e3 - p_e3)
                          ELSE 0 END) AS DOUBLE)
                     / SUM(e_e3 * e_e3) * 1000000) AS BIGINT) > 2500000
                ELSE FALSE END AS negative_autocorr
    FROM dlag
    GROUP BY event_type
"""


def _dw_sql(d: Dialect) -> str:
    return _ar2_coefs_prefix(d) + _AR2_RESID_CTE + _DW_TAIL


@register(
    "timeseries_durbin_watson",
    oracle=_dw_sql(DUCK),
    doc="Durbin-Watson statistic DW = Σ(e_t - e_{t-1})² / Σe_t² over the "
    "AR(2) forecast model's residuals per metric — the first-order "
    "residual-autocorrelation diagnostic (DW≈2 white, <1.5 positive, "
    ">2.5 negative serial correlation). The AR(2) fit body is SLICED "
    "from timeseries_ar2_forecast's text (the shared-prefix sibling-"
    "interface pattern), so the diagnostic can never drift from the "
    "model it judges. Residuals are a fixed double DAG over exact-"
    "quantized inputs, e3-quantized to integers immediately: both "
    "quadratic forms are exact integer sums (calendar-bounded bucket "
    "count keeps them far inside int64), one division e6. A perfect "
    "fit (Σe² = 0) emits a degenerate-flagged row instead of silently "
    "dropping (the r11 Hill lesson). One window pass per metric over "
    "the calendar-bounded bucket series; the only data-sized stage is "
    "the bucket aggregation.",
)
def timeseries_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_dw_sql(SPARK))


# ---------------------------------------------------------------------------
# Ljung-Box on AR(2) residuals (single-fold sufficient statistics)
# ---------------------------------------------------------------------------
# Q = n(n+2) sum_{k=1..8} r_k^2/(n-k) with df = n_lags - 2 (the
# fitted-AR-parameter correction). The first implementation computed
# the residual autocorrelations with an 8-lag self-join whose tail
# referenced the residual stream six times — Spark's WITH-inlining
# replayed the AR(2) prefix per reference (~5 s warm at sf0.01). This
# form collects each metric's residual stream once and runs ONE
# 27-slot array fold gathering every sufficient statistic in a single
# pass: [pos, sum, sumsq, rawlag_1..8, ring_1..8 (the last 8 values,
# slot 12 + (pos-1) mod 8), first_1..8]. The centered lag sums come
# back by algebra: sum(e_t - eb)(e_{t+k} - eb) = rawlag_k
# - eb*(S_head + S_tail) + (n-k)*eb^2 with S_head = sum - (last k),
# S_tail = sum - (first k) — every quantity an exact integer-valued
# double (residuals are e3 integers; all products < 2^53 at calendar
# scale), so the answers are IDENTICAL to the join form (verified
# frame-for-frame at 3 SFs and on the hostile fuzz seeds before the
# switch). The fold lambda captures NO outer column (the round-13
# DuckDB rule). Rounded-mean centering per the r12 overflow lesson.

_LB_NLAGS = 8


def _lb_step(el, elx, v, iv) -> str:
    """One residual: update pos/sum/sumsq, the 8 raw lag products
    (reading the PRE-update ring), the ring slot, and the first-8
    record. el(i): literal-index accessor; elx(expr): computed-index
    accessor; v: the incoming value; iv: the rebuild index variable."""
    ring_pred = elx(f"12 + (CAST({el(1)} - ({iv} - 3) AS INT) % 8)")
    return (
        f"CASE WHEN {iv} = 1 THEN {el(1)} + 1.0e0 "
        f"WHEN {iv} = 2 THEN {el(2)} + {v} "
        f"WHEN {iv} = 3 THEN {el(3)} + {v} * {v} "
        f"WHEN {iv} <= 11 THEN {elx(iv)} + "
        f"(CASE WHEN {el(1)} >= {iv} - 3.0e0 "
        f"THEN {ring_pred} * {v} ELSE 0.0e0 END) "
        f"WHEN {iv} <= 19 THEN "
        f"(CASE WHEN {iv} - 12 = CAST({el(1)} AS INT) % 8 "
        f"THEN {v} ELSE {elx(iv)} END) "
        f"ELSE (CASE WHEN {el(1)} <= 7.0e0 "
        f"AND {iv} - 19 = CAST({el(1)} AS INT) + 1 "
        f"THEN {v} ELSE {elx(iv)} END) END"
    )


def _lb_sql(d: Dialect) -> str:
    if d is SPARK:
        el = lambda i: f"element_at(acc, {i})"
        elx = lambda e: f"element_at(acc, CAST({e} AS INT))"
        step = _lb_step(el, elx, "v", "i")
        init = "transform(sequence(1, 27), z -> CAST(0.0 AS DOUBLE))"
        fold = (
            f"aggregate(transform(array_sort(collect_list(struct(bucket, "
            f"CAST(e_e3 AS DOUBLE) AS ev))), s0 -> s0.ev), {init}, "
            f"(acc, v) -> transform(sequence(1, 27), i -> ({step})))"
        )
        st = lambda i: f"element_at(c.st, {i})"
        stx = lambda e: f"element_at(c.st, CAST({e} AS INT))"
    else:
        el = lambda i: f"acc[{i}]"
        elx = lambda e: f"acc[CAST({e} AS INT)]"
        step = _lb_step(el, elx, "st[1]", "CAST(i AS INT)")
        init = "list_transform(generate_series(1, 27), z -> 0.0)"
        fold = (
            f"list_reduce(list_concat([{init}], "
            f"list_transform(list(CAST(e_e3 AS DOUBLE) ORDER BY bucket), "
            f"x -> [x])), (acc, st) -> "
            f"list_transform(generate_series(1, 27), "
            f"i -> ({step})))"
        )
        st = lambda i: f"c.st[{i}]"
        stx = lambda e: f"c.st[CAST({e} AS INT)]"
    # epilogue: plain scalar algebra over the 27 slots (no lambdas)
    lasts = ", ".join(
        f"{stx(f'12 + (CAST(c.n - 1 - {i} AS INT) % 8)')} AS l{i}"
        for i in range(_LB_NLAGS)
    )
    s_first = {
        k: "(" + " + ".join(st(19 + j) for j in range(1, k + 1)) + ")"
        for k in range(1, _LB_NLAGS + 1)
    }
    s_last = {
        k: "(" + " + ".join(f"d.l{i}" for i in range(k)) + ")"
        for k in range(1, _LB_NLAGS + 1)
    }
    # centered lag sum per k (exact integer algebra; see header comment)
    def skc(k: int) -> str:
        return (
            f"(d.raw{k} - d.eb * ((d.s1 - {s_last[k]}) + (d.s1 - d.f{k}))"
            f" + (d.n - {k}) * d.eb * d.eb)"
        )

    # NULLIF keeps the division NULL-safe when s2 = 0: the degenerate
    # CASE arm below never consumes the NULL, and neither engine is
    # left to its own divide-by-zero convention (r12 ADVICE low: the
    # old WHERE d.s2 > 0 silently DROPPED perfect-fit metrics, against
    # the degenerate-flagged-row convention its sibling DW follows)
    def term(k: int) -> str:
        rk = (
            f"CAST(ROUND({skc(k)} / NULLIF(d.s2, 0) * 1000000000) "
            f"AS BIGINT)"
        )
        return (
            f"CASE WHEN d.n > {k} THEN "
            f"CAST(ROUND(POWER({rk} / 1000000000.0e0, 2) "
            f"/ (d.n - {k}) * 1000000000) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        )

    sum_terms = "(" + " + ".join(term(k) for k in range(1, 9)) + ")"
    n_lags = (
        "("
        + " + ".join(f"CASE WHEN d.n > {k} THEN 1 ELSE 0 END" for k in range(1, 9))
        + ")"
    )
    raws = ", ".join(f"{st(3 + k)} AS raw{k}" for k in range(1, 9))
    firsts = ", ".join(f"{s_first[k]} AS f{k}" for k in range(1, 9))
    body = f"""
    , packed AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               ({fold}) AS st
        FROM resid GROUP BY event_type
    ), calc AS (
        SELECT c.event_type, c.n, round({st(2)} / c.n) AS eb,
               {st(2)} AS s1, {st(3)} AS ss,
               {raws}, {lasts}, {firsts}
        FROM packed c
    ), moments AS (
        SELECT d.event_type, d.n,
               (d.ss - 2.0e0 * d.eb * d.s1 + d.n * d.eb * d.eb) AS s2v
        FROM calc d
    ), qstat AS (
        SELECT d.event_type, d.n,
               CAST({n_lags} AS BIGINT) AS n_lags,
               d.s2 <= 0 AS degenerate,
               CASE WHEN d.s2 > 0 THEN
               CAST(ROUND(CAST(d.n * (d.n + 2) AS DOUBLE)
                    * {sum_terms} / 1000000000.0e0 * 1000000) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS lb_q_e6
        FROM (SELECT c2.*, m.s2v AS s2 FROM calc c2
              JOIN moments m ON m.event_type = c2.event_type) d
    )
    SELECT q.event_type, q.n AS n_resid, q.n_lags,
           q.n_lags - 2 AS df, q.lb_q_e6, q.degenerate,
           CASE WHEN q.degenerate THEN FALSE
                ELSE q.lb_q_e6 > c.crit_e6 END AS reject_whiteness
    FROM qstat q
    LEFT JOIN ({_KW_CRIT}) c ON c.df = q.n_lags - 2
    WHERE q.n_lags > 2 AND ({{guard}})
"""
    return (_ar2_coefs_prefix(d) + _AR2_RESID_CTE + body).format(
        guard=chi2_lookup_guard(d)
    )


@register(
    "stats_ljung_box_resid",
    oracle=_lb_sql(DUCK),
    doc="Ljung-Box portmanteau whiteness test at lags 1-8 on the AR(2) "
    "forecast residuals with df = n_lags - 2 — the fitted-parameter "
    "degrees-of-freedom correction that the raw-series stats_ljung_box "
    "cannot apply, completing the Box-Jenkins loop (identify via "
    "ACF/PACF, fit AR(2), diagnose via DW + LB-on-residuals). Shares "
    "the sliced AR(2) coefficient body; the residual autocorrelations "
    "come from ONE 27-slot sufficient-statistics array fold per metric "
    "(pos/sum/sumsq, 8 ring-buffered raw lag products, the first and "
    "last 8 values — the centered sums recovered by exact integer "
    "algebra with rounded-mean centering, the r12 overflow lesson), "
    "replacing an 8-lag self-join whose six-reference tail Spark "
    "replayed (~5x the fold's cost). Each r_k quantizes e9, per-lag "
    "terms e9, Q one double epilogue e6 against the pinned chi2 "
    "lookup (LEFT JOIN + loud in-plan guard — the r11 silent-empty "
    "class). Metrics with fewer than 4 usable lags are documented "
    "drops; a zero-variance residual stream (perfect fit) emits a "
    "degenerate-flagged row instead of silently dropping — the same "
    "convention its sibling DW applies (r12 ADVICE). One window + one "
    "packing aggregation per metric over the calendar-bounded bucket "
    "series.",
)
def stats_ljung_box_resid(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): calc is referenced twice downstream (moments
    # + the qstat join), so WITH-inlining replayed the whole AR(2)
    # prefix -> resid -> 27-slot fold chain per reference (4 events
    # scans in plans/r15/stats_ljung_box_resid_before.txt). `packed`
    # is model-sized: one 27-slot row per metric.
    return stage_ctes(spark, _lb_sql(SPARK), "packed")


# ---------------------------------------------------------------------------
# Intraclass correlation (Shrout-Fleiss ICC(2,1) / ICC(3,1))
# ---------------------------------------------------------------------------
# Two-way layout without replication: subjects = days, raters =
# metrics, cell = e3-quantized daily mean value. Multiplying every
# sum-of-squares identity through by n*k keeps all four SS terms exact
# integers:
#   nk*SS_rows = n*ΣR_i² - T²   nk*SS_cols = k*ΣC_j² - T²
#   nk*SS_tot  = nk*Σx²   - T²  nk*SS_err  = by subtraction
# (x ≤ ~1e6 e3-units, cells = days x metrics — calendar-bounded, so
# every product is far inside int64). Mean squares and both ICC forms
# are then a fixed double epilogue over exact integers, quantized e9.

_ICC_TMPL = """
    WITH cell AS (
        -- per-row e3 quantization, exact integer SUM, ONE correctly-
        -- rounded division: ROUND(AVG(value)*1000) instead would hit
        -- exact .5 midpoints whose outcome depends on double summation
        -- ORDER (observed on the smoke fixture: 48232.5 pairwise vs
        -- 48232.49999999999 sequential) — order-dependent under
        -- Spark's partition-parallel partial aggregation.
        SELECT {d.epoch_day} AS d, event_type,
               CAST(ROUND(CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT))
                    AS DOUBLE) / COUNT(*)) AS BIGINT) AS x
        FROM events GROUP BY 1, 2
    ), kk AS (
        SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k FROM cell
    ), full_days AS (
        SELECT d FROM cell GROUP BY d
        HAVING COUNT(*) = (SELECT MAX(k) FROM kk)
    ), g AS (
        SELECT c.d, c.event_type, c.x
        FROM cell c JOIN full_days f ON f.d = c.d
    ), rsum AS (
        SELECT d, CAST(SUM(x) AS BIGINT) AS r FROM g GROUP BY d
    ), csum AS (
        SELECT event_type, CAST(SUM(x) AS BIGINT) AS cs
        FROM g GROUP BY event_type
    ), mom AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rsum) AS n,
               (SELECT MAX(k) FROM kk) AS k,
               (SELECT CAST(SUM(r * r) AS BIGINT) FROM rsum) AS srr,
               (SELECT CAST(SUM(cs * cs) AS BIGINT) FROM csum) AS scc,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(x) AS BIGINT) AS t,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM g
    ), ms AS (
        SELECT n, k, nk,
               CAST(n * srr - t * t AS DOUBLE)
                   / nk / (n - 1) / 1000000.0e0 AS msr,
               CAST(k * scc - t * t AS DOUBLE)
                   / nk / (k - 1) / 1000000.0e0 AS msc,
               CAST((nk * sxx - t * t) - (n * srr - t * t)
                    - (k * scc - t * t) AS DOUBLE)
                   / nk / ((n - 1) * (k - 1)) / 1000000.0e0 AS mse
        FROM mom WHERE n > 1 AND k > 1
    )
    SELECT n AS n_subjects, k AS n_raters,
           CAST(ROUND(msr * 1000) AS BIGINT) AS msr_e3,
           CAST(ROUND(msc * 1000) AS BIGINT) AS msc_e3,
           CAST(ROUND(mse * 1000) AS BIGINT) AS mse_e3,
           CASE WHEN msr + (k - 1) * mse + k * (msc - mse) / n <> 0
                THEN CAST(ROUND((msr - mse)
                     / (msr + (k - 1) * mse + k * (msc - mse) / n)
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS icc21_e9,
           CASE WHEN msr + (k - 1) * mse <> 0
                THEN CAST(ROUND((msr - mse) / (msr + (k - 1) * mse)
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS icc31_e9
    FROM ms
"""


@register(
    "stats_icc_agreement",
    oracle=_ICC_TMPL.format(d=DUCK),
    doc="Intraclass correlation ICC(2,1) (two-way random, absolute "
    "agreement) and ICC(3,1) (two-way mixed, consistency) per "
    "Shrout-Fleiss 1979 over the complete day x metric grid of daily "
    "mean values — the reliability coefficient beside Cronbach's "
    "alpha (alpha asks about the SUM scale; ICC asks whether raters "
    "agree on individual subjects). All four sums of squares are "
    "exact integers via the nk-multiplied identities; incomplete days "
    "are excluded to keep the layout balanced (documented). One "
    "map-side-combinable daily reduction over events, then a "
    "calendar x metric model-sized epilogue.",
)
def stats_icc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ICC_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Market-basket association rules (brand pairs within orders)
# ---------------------------------------------------------------------------
# Baskets = orders, items = the distinct part BRANDS an order touches
# (25-value domain -> pair supports are statistically meaningful at
# every SF, unlike raw part pairs). Support / confidence / lift are
# exact integer ratios with one e9 epilogue each; the only data-sized
# stages are the lineitem->part join (broadcast: part is dimension-
# sized) and the per-order pair explode, bounded by C(lines_per_order,
# 2). Min support = 5 baskets (absolute, documented).

_BASKET_MIN_SUPPORT = 5

_BASKET_SQL = f"""
    WITH bi AS (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM bi
    ), item AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY b
    ), pairs AS (
        SELECT x.b AS ba, y.b AS bb, CAST(COUNT(*) AS BIGINT) AS cab
        FROM bi x JOIN bi y ON x.o = y.o AND x.b < y.b
        GROUP BY x.b, y.b
        HAVING COUNT(*) >= {_BASKET_MIN_SUPPORT}
    )
    SELECT pr.ba AS brand_a, pr.bb AS brand_b,
           pr.cab AS n_ab, ia.c AS n_a, ib.c AS n_b, t.n AS n_baskets,
           CAST(ROUND(CAST(pr.cab AS DOUBLE) / t.n * 1000000000)
               AS BIGINT) AS support_e9,
           CAST(ROUND(CAST(pr.cab AS DOUBLE) / ia.c * 1000000000)
               AS BIGINT) AS conf_a_to_b_e9,
           CAST(ROUND(CAST(pr.cab AS DOUBLE) / ib.c * 1000000000)
               AS BIGINT) AS conf_b_to_a_e9,
           CAST(ROUND(CAST(pr.cab AS DOUBLE) * t.n / ia.c / ib.c
               * 1000000000) AS BIGINT) AS lift_e9,
           CAST(pr.cab AS DOUBLE) * t.n / ia.c / ib.c > 1.0e0
               AS positively_associated
    FROM pairs pr
    JOIN item ia ON ia.b = pr.ba
    JOIN item ib ON ib.b = pr.bb
    CROSS JOIN nb t
"""


@register(
    "basket_association_rules",
    oracle=_BASKET_SQL,
    doc="Market-basket association rules over order baskets of part "
    "brands (Agrawal-Srikant): support, both directed confidences, "
    "and lift per co-occurring brand pair with support >= 5 baskets "
    "— the classic affinity readout none of the correlation rows "
    "give (lift > 1 = brands bought together beyond independence). "
    "All counts exact integers, one e9 division each; the decision "
    "boundary lift > 1 is evaluated on the same double DAG in both "
    "engines. Scale shape: lineitem joins the dimension-sized part "
    "table (broadcast), per-order pair explode bounded by the basket "
    "width, then one map-side-combinable pair count over a 25^2-"
    "bounded key domain.",
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem", "part"))
    # Opt r15 (guide §2.4): `bi` feeds FOUR consumers (basket count,
    # item counts, both pair-join sides), so WITH-inlining ran the
    # lineitem scan + part broadcast join + DISTINCT four times.
    return stage_ctes(spark, _BASKET_SQL, "bi")


# ---------------------------------------------------------------------------
# Storey q-values (adaptive FDR)
# ---------------------------------------------------------------------------
_STOREY_MIN_EXPR = (
    "LEAST(CAST(1000000000 AS BIGINT), MIN(q_raw_e9) OVER ("
    "ORDER BY rnk ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))"
)

_STOREY_SQL = (
    WELCH_PV_CTES
    + f"""
    , ranked AS (
        SELECT event_type, p_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e9, event_type)
                    AS BIGINT) AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m,
               CAST(SUM(CASE WHEN p_e9 > 500000000 THEN 1 ELSE 0 END)
                    OVER () AS BIGINT) AS n_over
        FROM pv
    ), qq AS (
        SELECT event_type, p_e9, rnk, m,
               LEAST(CAST(1000000000 AS BIGINT),
                     CAST(ROUND(CAST(2 * n_over AS DOUBLE) / m
                          * 1000000000) AS BIGINT)) AS pi0_e9,
               CAST(ROUND(LEAST(CAST(1000000000 AS BIGINT),
                          CAST(ROUND(CAST(2 * n_over AS DOUBLE) / m
                               * 1000000000) AS BIGINT))
                    / 1000000000.0e0 * m
                    * (CAST(p_e9 AS DOUBLE) / 1000000000)
                    / rnk * 1000000000) AS BIGINT) AS q_raw_e9
        FROM ranked
    )
    SELECT event_type, p_e9, rnk, m, pi0_e9,
           {_STOREY_MIN_EXPR} AS q_e9,
           {_STOREY_MIN_EXPR} <= 50000000 AS significant_q05
    FROM qq
"""
)


@register(
    "stats_storey_qvalue",
    oracle=_STOREY_SQL,
    doc="Storey (2002) adaptive-FDR q-values over the family's shared "
    "Welch p-value pipeline (the WELCH_PV_CTES sibling interface BH, BY "
    "and Fisher consume): pi0 = min(1, #{p > 0.5} / (0.5 m)) at "
    "lambda = 0.5, q_(i) = min_{j>=i} pi0 * m * p_(j) / j, capped at "
    "1 and min-monotone via one descending-window MIN. Completes the "
    "multiple-testing tier: BH assumes pi0 = 1 (conservative), BY "
    "pays the dependence tax, Storey RECLAIMS power by estimating the "
    "true null fraction. Model-sized ranked window (the BH class in "
    "the SinglePartition audit); pi0 = 0 when every p is small is "
    "the documented lambda = 0.5 boundary, not an error.",
)
def stats_storey_qvalue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_ctes(spark, _STOREY_SQL, pv=stage_welch_pv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Kleinberg MULTI-state burst hierarchy (exact integer min-plus Viterbi)
# ---------------------------------------------------------------------------
# The 3-state extension of wave10c's timeseries_burst_kleinberg (that
# row: 2 states via applyInPandas + recursive-CTE oracle; this row:
# the full state HIERARCHY as ONE higher-order array fold in shared
# SQL). States s = 0,1,2 at rates 2^s * lam0 (lam0 = the e6-quantized
# observed mean hourly rate); hourly cost_s(t) = 2^s*lam0 -
# v_t*ln(2^s*lam0), e3-quantized to INTEGERS; an upward transition
# i->j (j > i) pays (j-i)*ln(n) (Kleinberg 2002's per-level gamma),
# downward is free. The whole dynamic program is integer max-plus, so
# both engines walk the identical path with no per-round quantization;
# predecessor ties break to the LOWEST level. Each end state carries
# its own optimal path's statistics (hours at level>=1, hours at
# level 2, episode count) through the recursion.
#
# Fold state (13 DOUBLE slots, all integer-valued):
#   1-3  cost ending in level 0/1/2
#   4-6  hours at level>=1 on that path     7-9  hours at level 2
#   10-12 episodes (maximal level>=1 runs)  13   all-base cost

_KBM_BIG = "1.0e18"


def _kbm_pred(el, costs) -> str:
    """argmin over the three penalized predecessor costs; ties to the
    lowest level."""
    a, b, c = costs
    return (
        f"CASE WHEN {a} <= {b} AND {a} <= {c} THEN 0.0e0 "
        f"WHEN {b} <= {c} THEN 1.0e0 ELSE 2.0e0 END"
    )


def _kbm_step(d: Dialect) -> str:
    if d is SPARK:
        el = lambda i: f"element_at(acc, {i})"
        elx = lambda e: f"element_at(acc, CAST({e} AS INT))"
        st = lambda i: f"element_at(st, {i})"
        bind = "element_at(transform(array(named_struct({named})), w -> array({slots})), 1)"
        named_sep = ", "
        named = lambda k, v: f"'{k}', {v}"
    else:
        el = lambda i: f"acc[{i}]"
        elx = lambda e: f"acc[CAST({e} AS INT)]"
        st = lambda i: f"st[{i}]"
        bind = "list_transform([struct_pack({named})], w -> [{slots}])[1]"
        named_sep = ", "
        named = lambda k, v: f"{k} := ({v})"
    g = "p.gam_e3"
    preds = {
        0: _kbm_pred(el, (el(1), el(2), el(3))),
        1: _kbm_pred(el, (f"{el(1)} + {g}", el(2), el(3))),
        2: _kbm_pred(el, (f"{el(1)} + 2.0e0 * {g}", f"{el(2)} + {g}", el(3))),
    }
    slots = []
    for j in range(3):  # costs
        pj = f"w.p{j}"
        pen = f"greatest(0.0e0, {float(j)}e0 - {pj}) * {g}"
        slots.append(f"{elx(f'{pj} + 1.0e0')} + {pen} + {st(j + 1)}")
    for j in range(3):  # hours at level >= 1
        up = " + 1.0e0" if j >= 1 else ""
        slots.append(f"{elx(f'w.p{j} + 4.0e0')}{up}")
    for j in range(3):  # hours at level 2
        up = " + 1.0e0" if j == 2 else ""
        slots.append(f"{elx(f'w.p{j} + 7.0e0')}{up}")
    for j in range(3):  # episodes: entering level>=1 from level 0
        up = (
            f" + (CASE WHEN w.p{j} = 0.0e0 THEN 1.0e0 ELSE 0.0e0 END)"
            if j >= 1
            else ""
        )
        slots.append(f"{elx(f'w.p{j} + 10.0e0')}{up}")
    slots.append(f"{el(13)} + {st(1)}")  # all-base cost
    named_txt = named_sep.join(named(f"p{j}", preds[j]) for j in range(3))
    return bind.format(named=named_txt, slots=", ".join(slots))


_KBM_COMMON = """
    , serie AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), rate AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(v) AS DOUBLE) / COUNT(*) * 1000000.0e0)
                   / 1000000.0e0 AS lam0
        FROM serie GROUP BY event_type
        HAVING SUM(v) > 0
    ), lns AS (
        SELECT event_type, n, lam0,
               round(ln(lam0) * 1000000000.0e0) / 1000000000.0e0 AS lnl0,
               round(ln(2.0e0 * lam0) * 1000000000.0e0) / 1000000000.0e0
                   AS lnl1,
               round(ln(4.0e0 * lam0) * 1000000000.0e0) / 1000000000.0e0
                   AS lnl2,
               round(ln(CAST(n AS DOUBLE)) * 1000.0e0) AS gam_e3
        FROM rate
    )
"""

_KBM_C = [
    "round((r.lam0 - se.v * r.lnl0) * 1000.0e0)",
    "round((2.0e0 * r.lam0 - se.v * r.lnl1) * 1000.0e0)",
    "round((4.0e0 * r.lam0 - se.v * r.lnl2) * 1000.0e0)",
]


def _kbm_sql(d: Dialect) -> str:
    zeros = ", ".join(["{z}"] * 10)
    init_tmpl = "{arr}({z}, {big}, {big}, " + zeros + ")"
    prefix = spine_from_counts(d)
    if d is SPARK:
        packed = f"""
    , packed AS (
        SELECT /*+ BROADCAST(r) */ se.event_type, r.n, r.gam_e3,
               transform(array_sort(collect_list(struct(
                   se.h AS hh,
                   CAST({_KBM_C[0]} AS DOUBLE) AS c0,
                   CAST({_KBM_C[1]} AS DOUBLE) AS c1,
                   CAST({_KBM_C[2]} AS DOUBLE) AS c2))),
                 s -> array(s.c0, s.c1, s.c2)) AS steps
        FROM serie se JOIN lns r ON r.event_type = se.event_type
        GROUP BY se.event_type, r.n, r.gam_e3
    )"""
        init = init_tmpl.format(
            arr="array", z="CAST(0.0 AS DOUBLE)",
            big=f"CAST({_KBM_BIG} AS DOUBLE)",
        )
        fold = (
            f"aggregate(p.steps, {init}, "
            f"(acc, st) -> ({_kbm_step(SPARK)}))"
        )
        fin = "element_at(f.st, {i})"
    else:
        packed = f"""
    , packed AS MATERIALIZED (
        SELECT /*+ BROADCAST(r) */ se.event_type, r.n, r.gam_e3,
               list([CAST({_KBM_C[0]} AS DOUBLE),
                     CAST({_KBM_C[1]} AS DOUBLE),
                     CAST({_KBM_C[2]} AS DOUBLE)]
                    ORDER BY se.h) AS steps
        FROM serie se JOIN lns r ON r.event_type = se.event_type
        GROUP BY se.event_type, r.n, r.gam_e3
    )"""
        init = init_tmpl.format(arr="list_value", z="0.0", big=_KBM_BIG)
        fold = (
            f"list_reduce(list_concat([{init}], p.steps), "
            f"(acc, st) -> ({_kbm_step(DUCK)}))"
        )
        fin = "f.st[{i}]"
    c1, c2, c3 = (fin.format(i=i) for i in (1, 2, 3))
    bidx = (
        f"CASE WHEN {c1} <= {c2} AND {c1} <= {c3} THEN 0 "
        f"WHEN {c2} <= {c3} THEN 1 ELSE 2 END"
    )
    pick = lambda base: (
        f"CASE WHEN {c1} <= {c2} AND {c1} <= {c3} THEN {fin.format(i=base)} "
        f"WHEN {c2} <= {c3} THEN {fin.format(i=base + 1)} "
        f"ELSE {fin.format(i=base + 2)} END"
    )
    tail = f"""
    , folded AS (
        SELECT p.event_type, p.n, ({fold}) AS st
        FROM packed p
    )
    SELECT f.event_type, f.n AS n_hours,
           CAST({bidx} AS BIGINT) AS final_level,
           CAST({pick(4)} AS BIGINT) AS hours_elevated,
           CAST({pick(7)} AS BIGINT) AS hours_hyper,
           CAST({pick(10)} AS BIGINT) AS burst_episodes,
           CAST({fin.format(i=13)} - ({pick(1)}) AS BIGINT) AS gain_e3,
           ({pick(10)}) >= 1.0e0 AS bursty
    FROM folded f
"""
    return prefix + _KBM_COMMON + packed + tail


@register(
    "timeseries_kleinberg_multistate",
    oracle=_kbm_sql(DUCK),
    doc="Kleinberg (2002) MULTI-state burst hierarchy per metric over "
    "the dense hourly series — the 3-level extension of wave10c's "
    "2-state timeseries_burst_kleinberg (which answers 'is it "
    "bursting'; the hierarchy answers 'HOW HARD'): levels at 1x/2x/4x "
    "the e6-quantized mean rate, hourly Poisson NLL costs e3-"
    "quantized to integers, upward transitions paying (j-i)*ln(n), "
    "downward free, ties to the lowest level. Decoded by an exact "
    "integer min-plus Viterbi as ONE higher-order array fold (13-slot "
    "state; the three predecessor argmins are BOUND ONCE per round "
    "via a singleton-struct transform — the PACF phi-binding lesson); "
    "per-end-state path statistics (elevated hours, hyper hours, "
    "episodes) ride the recursion. Emits the decoded hierarchy "
    "summary + NLL gain vs the all-base path. Data-sized stage: the "
    "hourly count reduction; the fold is calendar-bounded.",
)
def timeseries_kleinberg_multistate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _kbm_sql(SPARK))
