"""Round-13 wave 13c: AR order selection + fit, Holt-Winters seasonal
forecasting, and Simpson lexical concentration.

* ``timeseries_ar_order_fit`` — PACF-based AR order selection (largest
  lag whose partial autocorrelation clears the 1.96/sqrt(n) band)
  feeding a Yule-Walker AR(p*) fit at exactly that order: the step
  the identification family has pointed at since round 12
  (``timeseries_pacf_durbin`` picks, this op FITS). The order pick is
  a pre-bound scaled-PACF projection + max (no fold at all); the
  order-p* Durbin-Levinson re-run is a higher-order fold over the
  same packed ACF vector whose round list is truncated to p*, so one
  template serves every data-chosen order.
* ``timeseries_holt_winters_seasonal`` — additive Holt-Winters (level, trend,
  24-hour seasonality; pinned alpha/beta/gamma) per metric as ONE
  28-slot array fold over the dense hourly series: the exponential-
  smoothing forecaster beside the AR family's linear models, with
  the running one-step SSE accumulated in-fold.
* ``text_simpson_diversity`` — Simpson concentration per source from
  the exact term-frequency spectrum: D = sum m(m-1) / (N(N-1)) (the
  probability two tokens drawn without replacement are the same
  type — an exact rational!), Gini-Simpson 1-D, and Berger-Parker
  dominance max(m)/N. The concentration axis beside Yule's K
  (which weights the same spectrum quadratically but is unbounded).

House discipline: the AR fit quantizes phi e9 per Durbin-Levinson
round (identical trajectories); Simpson's sums are exact integers
with one e9 epilogue; no DuckDB fold lambda captures more than one
outer column (the round-13 list_reduce row-correlation rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    acf_kernel_spark,
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.operators.wave12b import (
    _PACF_ACF_CORE,
    _PACF_L,
    _pacf_step_duck,
    _pacf_step_spark,
)
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# AR order pick + Yule-Walker fit at the picked order
# ---------------------------------------------------------------------------
# Fold-state layout (wave12b): [v, phi_1..phi_L, pacf_1..pacf_L] with
# v starting at 1.0 and multiplying (1 - pacf_k^2) per round — so the
# final v IS the innovation-variance ratio sigma_p^2 / gamma_0. The
# SECOND fold freezes past round p* (CASE k <= p THEN step ELSE acc),
# which leaves phi_{p*+1}..phi_L exactly 0 and v at the order-p* ratio.


def _arfit_sql(d: Dialect) -> str:
    L = _PACF_L
    if d is SPARK:
        head = acf_kernel_spark(positive_den=True)
        # n = n_pairs + lag on every acf row: reading it from a second
        # relation would reference the kernel twice and re-scan events
        packed = (
            "packed AS (SELECT event_type, transform(array_sort(collect_list("
            "struct(lag, acf_e6))), s -> CAST(s.acf_e6 AS DOUBLE)"
            " / 1000000.0) AS rarr, CAST(MAX(n_pairs + lag) AS DOUBLE) AS nd "
            "FROM acf GROUP BY event_type)"
        )
        init = (
            f"concat(array(CAST(1.0 AS DOUBLE)), "
            f"transform(sequence(1, {2 * L}), z -> CAST(0.0 AS DOUBLE)))"
        )
        fold1 = (
            f"aggregate(sequence(1, {L}), {init}, "
            f"(acc, k) -> ({_pacf_step_spark('acc', 'k')}))"
        )
        # scaled |pacf_k|*sqrt(n): the lambda captures ONLY f.nd (the
        # pacf slice is an argument, evaluated outside the lambda)
        scaled = (
            f"transform(slice(f.st, {L + 2}, {L}), "
            f"x -> abs(x) * sqrt(f.nd))"
        )
        # largest significant lag: each slot maps to its lag index when
        # significant else 0, then one array_max — no fold, and the
        # lambda captures ONLY s.sc
        pickf = (
            f"array_max(transform(sequence(1, {L}), k -> "
            f"CASE WHEN element_at(s.sc, k) > 1.96e0 "
            f"THEN k ELSE 0 END))"
        )
        # the round list is truncated to p_ord OUTSIDE the lambda: a
        # lambda capturing BOTH rarr and p_ord triggers a DuckDB
        # list_reduce row-correlation bug (see tail comment), and the
        # Spark text mirrors the shape so the two engines share one plan
        fold2 = (
            f"aggregate(slice(sequence(1, {L}), 1, CAST(p.p_ord AS INT)), "
            f"{init}, (acc, k) -> ({_pacf_step_spark('acc', 'k')}))"
        )
        fin = "element_at(g.st2, {i})"
        mat = ""
    else:
        head = (
            spine_from_counts(DUCK)
            + ", lags AS (SELECT UNNEST(generate_series(1, 24)) AS lag)"
            + _PACF_ACF_CORE
        )
        pack = (
            "SELECT event_type, list(CAST(acf_e6 AS DOUBLE) / 1000000.0 "
            "ORDER BY lag) AS rarr FROM acf GROUP BY event_type"
        )
        packed = f"""nd AS MATERIALIZED (
        SELECT event_type, CAST(MAX(n) AS DOUBLE) AS nd FROM tot
        GROUP BY event_type
    ), packed AS MATERIALIZED (
        SELECT /*+ BROADCAST(t) */ a.event_type, a.rarr, t.nd
        FROM ({pack}) a JOIN nd t ON t.event_type = a.event_type
    )"""
        init = (
            f"list_concat([1.0], list_transform(generate_series(1, {2 * L}),"
            f" z -> 0.0))"
        )
        fold1 = (
            f"list_reduce(list_concat([{init}], "
            f"list_transform(generate_series(1, {L}), "
            f"k -> [CAST(k AS DOUBLE)])), "
            f"(acc, st) -> ({_pacf_step_duck('acc', 'CAST(st[1] AS INT)')}))"
        )
        # scaled |pacf_k|*sqrt(n): slice argument evaluated outside the
        # lambda, which captures ONLY f.nd (r12 ADVICE: the old pickf
        # fold captured f.st AND f.nd — the two-capture list_reduce
        # row-correlation hazard this module's tail comment documents)
        scaled = (
            f"list_transform(f.st[{L + 2}:{2 * L + 1}], "
            f"x -> abs(x) * sqrt(f.nd))"
        )
        # largest significant lag via one list_max; lambda captures
        # ONLY s.sc — list_reduce is gone from the pick entirely
        pickf = (
            f"list_max(list_transform(generate_series(1, {L}), k -> "
            f"CASE WHEN s.sc[CAST(k AS INT)] > 1.96e0 "
            f"THEN k ELSE CAST(0 AS BIGINT) END))"
        )
        fold2 = (
            f"list_reduce(list_concat([{init}], "
            f"list_transform(generate_series(1, CAST(p.p_ord AS BIGINT)), "
            f"k -> [CAST(k AS DOUBLE)])), "
            f"(acc, st) -> ({_pacf_step_duck('acc', 'CAST(st[1] AS INT)')}))"
        )
        fin = "g.st2[{i}]"
        mat = " MATERIALIZED"
    # every fold/HOF below reads columns of ONE table alias, and each
    # DuckDB lambda captures at most ONE outer column (rarr, the shape
    # the round-12 pacf fold proved): at sf0.001 a fold whose lambda
    # captured rarr AND p_ord returned ANOTHER ROW's fold result
    # (e.g. 'error' silently got 'signup's st2) — both with a JOIN in
    # the same SELECT and without one. The order count is therefore
    # applied OUTSIDE the lambda by truncating the round list to p_ord;
    # the ORDER PICK pre-binds |pacf_k|*sqrt(n) in the sigd projection
    # (r12 ADVICE medium: its old fold captured st AND nd) so every
    # surviving lambda is single-capture; rarr/nd/p_ord carry through
    # the CTE chain.
    tail = f"""
    , {packed}, folded AS{mat} (
        SELECT p.event_type, p.rarr, p.nd, ({fold1}) AS st
        FROM packed p
    ), sigd AS{mat} (
        SELECT f.event_type, f.rarr, f.nd, f.st, ({scaled}) AS sc
        FROM folded f
    ), pick AS{mat} (
        SELECT s.event_type, s.rarr, CAST(s.nd AS BIGINT) AS n,
               ({pickf}) AS p_ord
        FROM sigd s
    ), fitted AS{mat} (
        SELECT p.event_type, p.n, p.p_ord, ({fold2}) AS st2
        FROM pick p
    )
    SELECT g.event_type, g.n, CAST(g.p_ord AS BIGINT) AS chosen_p,
           CAST(round({fin.format(i=2)} * 1000000000) AS BIGINT) AS phi1_e9,
           CAST(round({fin.format(i=3)} * 1000000000) AS BIGINT) AS phi2_e9,
           CAST(round({fin.format(i=4)} * 1000000000) AS BIGINT) AS phi3_e9,
           CAST(round({fin.format(i=1)} * 1000000000) AS BIGINT)
               AS var_ratio_e9
    FROM fitted g
"""
    return head + tail


@register(
    "timeseries_ar_order_fit",
    oracle=_arfit_sql(DUCK),
    doc="AR order selection + Yule-Walker fit per metric: p* = the "
    "largest lag whose PACF clears the 1.96/sqrt(n) significance band "
    "(picked by a pure integer-max fold over the Durbin-Levinson "
    "state), then the recursion RE-RUN frozen past round p* (CASE "
    "k <= p* in the fold step), so phi_1..phi_3 are the exact "
    "order-p* Yule-Walker coefficients and v = prod(1 - pacf_k^2) is "
    "the innovation-variance ratio sigma_p^2/gamma_0 — the "
    "identification -> estimation step timeseries_pacf_durbin points "
    "at (Box-Jenkins). Shares the family's exact centered ACF "
    "integers and the wave-12b fold verbatim; two model-sized folds "
    "per metric, phi quantized e9 per round. The data-sized stage is "
    "the shared hourly count reduction.",
)
def timeseries_ar_order_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_arfit_sql(SPARK))


# ---------------------------------------------------------------------------
# Holt-Winters additive seasonal smoothing (m = 24 h)
# ---------------------------------------------------------------------------
# Textbook additive Holt-Winters over each metric's dense hourly count
# series: level/trend/seasonal recursions with pinned alpha = 0.2,
# beta = 0.05, gamma = 0.1. Classical initialization — L = day-1 mean
# (e6-quantized), T = (day-2 mean - day-1 mean)/24, S_j = v_j - L for
# the first 24 hours — then ONE array fold over hours 25..n with a
# 28-slot state [L, T, pos, sse_acc, S_1..S_24]. Every recursion
# output quantizes e6 per round, the one-step-ahead squared error
# accumulates e3, and the fold lambda captures NO outer column at all
# (the init array is a packed column; the DuckDB two-capture hazard
# from the AR fit cannot arise).

_HW_ALPHA, _HW_BETA, _HW_GAMMA = "0.2e0", "0.05e0", "0.1e0"


def _hw_step(d: Dialect) -> str:
    if d is SPARK:
        el = lambda i: f"element_at(acc, {i})"
        elx = lambda e: f"element_at(acc, CAST({e} AS INT))"
        v = "element_at(st, 1)"
        bind = (
            "element_at(transform(array(named_struct('ln', {lnew})), w -> "
            "transform(sequence(1, 28), i -> CASE {arms} END)), 1)"
        )
        iv = "i"
    else:
        el = lambda i: f"acc[{i}]"
        elx = lambda e: f"acc[CAST({e} AS INT)]"
        v = "st[1]"
        bind = (
            "list_transform([struct_pack(ln := ({lnew}))], w -> "
            "list_transform(generate_series(1, 28), i -> CASE {arms} END))[1]"
        )
        iv = "CAST(i AS INT)"
    jidx = f"(CAST({el(3)} AS INT) % 24) + 1"
    sj = elx(f"{jidx} + 4")
    pred = f"({el(1)} + {el(2)} + {sj})"
    err = f"({v} - {pred})"
    lnew = (
        f"round(({_HW_ALPHA} * ({v} - {sj}) "
        f"+ (1.0e0 - {_HW_ALPHA}) * ({el(1)} + {el(2)})) "
        f"* 1000000.0e0) / 1000000.0e0"
    )
    tnew = (
        f"round(({_HW_BETA} * (w.ln - {el(1)}) "
        f"+ (1.0e0 - {_HW_BETA}) * {el(2)}) * 1000000.0e0) / 1000000.0e0"
    )
    snew = (
        f"round(({_HW_GAMMA} * ({v} - w.ln) "
        f"+ (1.0e0 - {_HW_GAMMA}) * {sj}) * 1000000.0e0) / 1000000.0e0"
    )
    arms = (
        f"WHEN {iv} = 1 THEN w.ln "
        f"WHEN {iv} = 2 THEN {tnew} "
        f"WHEN {iv} = 3 THEN {el(3)} + 1.0e0 "
        f"WHEN {iv} = 4 THEN {el(4)} + round({err} * {err} * 1000.0e0) "
        f"WHEN {iv} - 4 = {jidx} THEN {snew} "
        f"ELSE {elx(iv)}"
    )
    return bind.format(lnew=lnew, arms=arms)


def _hw_sql(d: Dialect) -> str:
    prefix = spine_from_counts(d)
    if d is SPARK:
        mat = ""
        packed = """
    , idx AS (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) AS BIGINT) AS rn,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), packed AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CASE WHEN rn <= 24 THEN v END) AS DOUBLE)
                     / 24.0e0 * 1000000.0e0) / 1000000.0e0 AS d1m,
               round(CAST(SUM(CASE WHEN rn BETWEEN 25 AND 48 THEN v END)
                     AS DOUBLE) / 24.0e0 * 1000000.0e0) / 1000000.0e0
                   AS d2m,
               transform(array_sort(collect_list(CASE WHEN rn <= 24 THEN
                   struct(rn, CAST(v AS DOUBLE) AS sv) END)),
                 x -> x.sv) AS day1,
               transform(array_sort(collect_list(CASE WHEN rn >= 25 THEN
                   struct(rn, CAST(v AS DOUBLE) AS sv) END)),
                 x -> array(x.sv)) AS steps
        FROM idx GROUP BY event_type
        HAVING COUNT(*) >= 49
    ), seeded AS (
        SELECT event_type, n,
               concat(array(
                   d1m,
                   round((d2m - d1m) / 24.0e0 * 1000000.0e0)
                       / 1000000.0e0,
                   CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                 transform(day1, x ->
                   round((x - d1m) * 1000000.0e0) / 1000000.0e0)) AS init,
               steps
        FROM packed
    )"""
        fold = f"aggregate(p.steps, p.init, (acc, st) -> ({_hw_step(SPARK)}))"
        fin = "element_at(f.st, {i})"
        samp = (
            "array_max(slice(f.st, 5, 24)) - array_min(slice(f.st, 5, 24))"
        )
        jnext = "(CAST(element_at(f.st, 3) AS INT) % 24) + 1"
        snext = f"element_at(f.st, CAST({jnext} + 4 AS INT))"
    else:
        mat = " MATERIALIZED"
        packed = """
    , idx AS MATERIALIZED (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) AS BIGINT) AS rn,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), packed AS MATERIALIZED (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               round(CAST(SUM(CASE WHEN rn <= 24 THEN v END) AS DOUBLE)
                     / 24.0e0 * 1000000.0e0) / 1000000.0e0 AS d1m,
               round(CAST(SUM(CASE WHEN rn BETWEEN 25 AND 48 THEN v END)
                     AS DOUBLE) / 24.0e0 * 1000000.0e0) / 1000000.0e0
                   AS d2m,
               list(CAST(v AS DOUBLE) ORDER BY rn)
                   FILTER (WHERE rn <= 24) AS day1,
               list([CAST(v AS DOUBLE)] ORDER BY rn)
                   FILTER (WHERE rn >= 25) AS steps
        FROM idx GROUP BY event_type
        HAVING COUNT(*) >= 49
    ), seeded AS MATERIALIZED (
        SELECT event_type, n,
               list_concat([
                   d1m,
                   round((d2m - d1m) / 24.0e0 * 1000000.0e0)
                       / 1000000.0e0,
                   0.0, 0.0],
                 list_transform(day1, x ->
                   round((x - d1m) * 1000000.0e0) / 1000000.0e0)) AS init,
               steps
        FROM packed
    )"""
        fold = (
            f"list_reduce(list_concat([p.init], p.steps), "
            f"(acc, st) -> ({_hw_step(DUCK)}))"
        )
        fin = "f.st[{i}]"
        samp = "list_max(f.st[5:28]) - list_min(f.st[5:28])"
        jnext = "(CAST(f.st[3] AS INT) % 24) + 1"
        snext = f"f.st[CAST({jnext} + 4 AS INT)]"
    tail = f"""
    , folded AS{mat} (
        SELECT p.event_type, p.n, ({fold}) AS st
        FROM seeded p
    )
    SELECT f.event_type, f.n AS n_hours,
           CAST(round({fin.format(i=1)} * 1000000) AS BIGINT) AS level_e6,
           CAST(round({fin.format(i=2)} * 1000000) AS BIGINT) AS trend_e6,
           CAST(round(({fin.format(i=1)} + {fin.format(i=2)} + {snext})
                * 1000000) AS BIGINT) AS forecast_next_e6,
           CAST({fin.format(i=4)} AS BIGINT) AS sse_e3,
           CAST(round(({samp}) * 1000000) AS BIGINT) AS season_amp_e6
    FROM folded f
"""
    return prefix + packed + tail


@register(
    "timeseries_holt_winters_seasonal",
    oracle=_hw_sql(DUCK),
    doc="FULL additive Holt-Winters (level + trend + 24-hour seasonality, "
    "alpha/beta/gamma = 0.2/0.05/0.1 pinned) per metric over the dense "
    "hourly count series — the seasonal completion of the existing "
    "timeseries_holt_winters row (level+trend double smoothing only): "
    "HW tracks a drifting level AND a moving seasonal profile, which "
    "neither that row nor a fixed AR(p) can. Classical "
    "day-1/day-2 initialization, then ONE 28-slot array fold over the "
    "remaining hours with every recursion output e6-quantized per "
    "round and the running one-step-ahead SSE accumulated e3 (honest "
    "in-sample fit quality). Emits final level/trend, the next-hour "
    "forecast L + T + S_next, SSE, and the seasonal amplitude. The "
    "fold lambda captures no outer column (the packed init rides the "
    "row — the wave-13 DuckDB correlation lesson). Data-sized stage: "
    "the shared hourly reduction; the fold is calendar-bounded.",
)
def timeseries_holt_winters_seasonal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _hw_sql(SPARK))


# ---------------------------------------------------------------------------
# Simpson concentration / diversity per source
# ---------------------------------------------------------------------------
_SIMPSON_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS m
        FROM tok GROUP BY source, term
    ), spec AS (
        SELECT source,
               CAST(SUM(m) AS BIGINT) AS n,
               CAST(SUM(m * (m - 1)) AS BIGINT) AS pairs_same,
               CAST(MAX(m) AS BIGINT) AS m_max,
               CAST(COUNT(*) AS BIGINT) AS vocab
        FROM tf GROUP BY source
    )
    SELECT source, n AS n_tokens, vocab,
           CASE WHEN n > 1
                THEN CAST(ROUND(CAST(pairs_same AS DOUBLE) / n / (n - 1)
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS simpson_d_e9,
           CASE WHEN n > 1
                THEN 1000000000 - CAST(ROUND(CAST(pairs_same AS DOUBLE)
                     / n / (n - 1) * 1000000000) AS BIGINT)
                ELSE CAST(1000000000 AS BIGINT) END AS gini_simpson_e9,
           CAST(ROUND(CAST(m_max AS DOUBLE) / n * 1000000000) AS BIGINT)
               AS berger_parker_e9
    FROM spec
"""


@register(
    "text_simpson_diversity",
    oracle=_SIMPSON_TMPL.format(d=DUCK),
    doc="Simpson concentration per source from the exact term-frequency "
    "spectrum: D = sum m(m-1) / (N(N-1)) — the probability two tokens "
    "drawn without replacement are the same type, an exact integer "
    "rational with one e9 epilogue — plus Gini-Simpson diversity 1-D "
    "and Berger-Parker dominance max(m)/N. The bounded concentration "
    "axis beside text_yule_k (same spectrum, unbounded quadratic "
    "weighting) and the Shannon rows: template farms and boilerplate "
    "sources push D and dominance up together. One explode + two "
    "map-side-combinable aggregations.",
)
def text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_SIMPSON_TMPL.format(d=SPARK))
