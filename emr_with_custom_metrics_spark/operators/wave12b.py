"""Round-12 wave 12b: time-series identification, long-memory, forecast
scoring, attribution, graph mixing, readability.

* ``timeseries_pacf_durbin`` — partial autocorrelation at lags 1-10 via
  the Durbin-Levinson recursion run as ONE higher-order array fold over
  the packed ACF vector (the markov-absorption template, third
  instance): no per-lag stage or join on either engine.
* ``timeseries_hurst_rs`` — Hurst exponent by classical rescaled-range
  analysis over dyadic block sizes 8..128: per-block R/S is an exact
  integer ratio under sqrt (cross-multiplied cumulative deviations),
  log-log OLS with e6 logs (the Heaps recipe).
* ``timeseries_mase_backtest`` — MASE + sMAPE of the rolling seasonal-
  naive forecast on the last quarter of the hourly spine, scaled by the
  in-train naive MAE (Hyndman-Koehler 2006): the scale-free score the
  raw-error backtest row cannot give. Counts are integers, so both MAE
  sums are exact.
* ``attribution_markov_removal`` — Markov removal-effect attribution
  (Anderl et al.): absorption probability into purchase from the
  observed journey chain, re-solved with each channel removed, share =
  normalized removal effect. Every solve is the packed-model array
  fold; k channels ride ONE model-sized cross join.
* ``graph_assortativity`` — degree assortativity (Newman 2002) of the
  cosine>=0.3 similarity graph: Pearson over both orientations of each
  edge with exact integer degree moments; rides the pair memo.
* ``text_flesch_readability`` — Flesch reading ease per document from
  vowel-run syllable counts (max(1, runs) per word), integer counts
  with one e3 epilogue.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_table, register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    acf_kernel_spark,
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.registry import register


_PACF_L = 10


# ---------------------------------------------------------------------------
# PACF via Durbin-Levinson as one array fold
# ---------------------------------------------------------------------------
# Input: the ACF family's exact-integer lag estimates (same centered
# cross-multiplied body as timeseries_autocorrelation, quantized e6 —
# consuming the sibling's quantized integers is the Ljung-Box pattern:
# the cross-engine interface is bit-identical BY CONSTRUCTION). The
# recursion state rides a flat DOUBLE array [v, phi_1..phi_L,
# pacf_1..pacf_L]; phi_kk and every updated phi quantize e9 per round
# (division is correctly rounded, so identical quantized inputs give
# identical quantized outputs on both engines). Model-sized end to end.
# The Spark side reads its acf from stats.acf_kernel_spark (one pass per
# series); _PACF_ACF_CORE is the DuckDB oracle's join form, shared with
# the AR fit's oracle.

_PACF_ACF_CORE = """
    , dense AS (
        -- r16: BROADCAST hints on the model/spine-bounded sides (guide
        -- §3.1; the staged counts view has no stats, so these joins
        -- degraded to SortMergeJoin — audit_checkpoint_joins.py).
        SELECT /*+ BROADCAST(c) */
               s.event_type, s.h, COALESCE(c.cnt, CAST(0 AS BIGINT)) AS c
        FROM spine s LEFT JOIN counts c
          ON s.event_type = c.event_type AND s.h = c.h
    ), tot AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(c) AS BIGINT) AS s
        FROM dense GROUP BY event_type
    ), d AS (
        SELECT /*+ BROADCAST(t) */
               dn.event_type, dn.h, t.n * dn.c - t.s AS dv
        FROM dense dn JOIN tot t ON dn.event_type = t.event_type
    ), den AS (
        SELECT event_type, CAST(SUM(dv * dv) AS BIGINT) AS den
        FROM d GROUP BY event_type
    ), num AS (
        SELECT /*+ BROADCAST(d2) */
               d1.event_type, l.lag,
               CAST(SUM(d1.dv * d2.dv) AS BIGINT) AS num
        FROM d d1
        CROSS JOIN lags l
        JOIN d d2 ON d2.event_type = d1.event_type AND d2.h = d1.h + l.lag
        GROUP BY d1.event_type, l.lag
    ), acf AS (
        SELECT /*+ BROADCAST(dn) */
               n.event_type, n.lag,
               CAST(ROUND((CAST(n.num AS DOUBLE) / dn.den) * 1000000)
                    AS BIGINT) AS acf_e6
        FROM num n JOIN den dn ON n.event_type = dn.event_type
        WHERE dn.den > 0
    )
"""

# one Durbin-Levinson round as a pure array expression; {k} = the round
# index expression, {acc} = the accumulator, rarr = packed acf doubles.
# phi_kk is recomputed per slot (identical double DAG -> identical
# value); q9 = round(x*1e9)/1e9 keeps both engines in lockstep.
_PHI_SPARK = (
    "round((CASE WHEN element_at({acc}, 1) > 1.0e-9 THEN "
    "(element_at(p.rarr, {k}) - CASE WHEN {k} > 1 THEN "
    "aggregate(sequence(1, {k} - 1), CAST(0.0 AS DOUBLE), "
    "(sa, j) -> sa + element_at({acc}, 1 + j) "
    "* element_at(p.rarr, {k} - j)) ELSE CAST(0.0 AS DOUBLE) END) "
    "/ element_at({acc}, 1) ELSE CAST(0.0 AS DOUBLE) END) "
    "* 1000000000.0) / 1000000000.0"
)

_PHI_DUCK = (
    "round((CASE WHEN {acc}[1] > 1.0e-9 THEN "
    "(p.rarr[{k}] - COALESCE(list_sum(list_transform("
    "generate_series(1, {k} - 1), "
    "j -> {acc}[1 + CAST(j AS INT)] * p.rarr[{k} - CAST(j AS INT)])), "
    "0.0)) / {acc}[1] ELSE 0.0 END) * 1000000000.0) / 1000000000.0"
)


def _pacf_step_spark(acc: str, k: str) -> str:
    # phi_kk is BOUND ONCE via a singleton transform (element_at(..., 1)
    # unwraps) instead of being inlined at each of its four uses: the
    # arithmetic is identical, but the expression tree shrinks ~4x and
    # Catalyst ANALYSIS — the dominant cost of big HOF folds (the
    # unigram lesson) — drops with it.
    phi = _PHI_SPARK.format(acc=acc, k=k)
    L = _PACF_L
    return f"""
        element_at(transform(array({phi}), pk ->
        transform(sequence(1, {1 + 2 * L}), i ->
          CASE WHEN i = 1
               THEN round(element_at({acc}, 1)
                    * (1.0 - pk * pk) * 1000000000.0)
                    / 1000000000.0
               WHEN i <= {1 + L} AND i - 1 < {k}
               THEN round((element_at({acc}, i)
                    - pk * element_at({acc}, 1 + ({k} - (i - 1))))
                    * 1000000000.0) / 1000000000.0
               WHEN i - 1 = {k} THEN pk
               WHEN i <= {1 + L} THEN CAST(0.0 AS DOUBLE)
               WHEN i - 1 - {L} = {k} THEN pk
               ELSE element_at({acc}, i) END)), 1)
"""


def _pacf_step_duck(acc: str, k: str) -> str:
    phi = _PHI_DUCK.format(acc=acc, k=k)
    L = _PACF_L
    return f"""
        list_transform([{phi}], pk ->
        list_transform(generate_series(1, {1 + 2 * L}), ii ->
          CASE WHEN ii = 1
               THEN round({acc}[1]
                    * (1.0 - pk * pk) * 1000000000.0)
                    / 1000000000.0
               WHEN ii <= {1 + L} AND ii - 1 < {k}
               THEN round(({acc}[CAST(ii AS INT)]
                    - pk * {acc}[1 + CAST({k} - (ii - 1) AS INT)])
                    * 1000000000.0) / 1000000000.0
               WHEN ii - 1 = {k} THEN pk
               WHEN ii <= {1 + L} THEN 0.0
               WHEN ii - 1 - {L} = {k} THEN pk
               ELSE {acc}[CAST(ii AS INT)] END))[1]
"""


def _pacf_sql(d: Dialect) -> str:
    L = _PACF_L
    if d is SPARK:
        pack = (
            "SELECT event_type, transform(array_sort(collect_list("
            "struct(lag, acf_e6))), s -> CAST(s.acf_e6 AS DOUBLE)"
            " / 1000000.0) AS rarr "
            "FROM acf GROUP BY event_type"
        )
        init = (
            f"concat(array(CAST(1.0 AS DOUBLE)), "
            f"transform(sequence(1, {2 * L}), z -> CAST(0.0 AS DOUBLE)))"
        )
        fold = (
            f"aggregate(sequence(1, {L}), {init}, "
            f"(acc, k) -> ({_pacf_step_spark('acc', 'k')}))"
        )
        tail = f"""
    , packed AS (
        {pack}
    ), folded AS (
        SELECT p.event_type, ({fold}) AS st
        FROM packed p
    )
    SELECT f.event_type, CAST(l.lag AS BIGINT) AS lag,
           CAST(round(element_at(f.st, {1 + L} + l.lag) * 1000000000)
                AS BIGINT) AS pacf_e9
    FROM folded f
    CROSS JOIN (SELECT explode(sequence(1, {L})) AS lag) l
"""
        return acf_kernel_spark(positive_den=True) + tail
    prefix = spine_from_counts(DUCK)
    lags = ", lags AS (SELECT UNNEST(generate_series(1, 24)) AS lag)"
    pack = (
        "SELECT event_type, list(CAST(acf_e6 AS DOUBLE) / 1000000.0 "
        "ORDER BY lag) AS rarr FROM acf GROUP BY event_type"
    )
    init = (
        f"list_concat([1.0], list_transform(generate_series(1, {2 * L}),"
        f" z -> 0.0))"
    )
    # list_reduce has no init: fold over [init] ++ [k] singletons, the
    # step reads its round index from the dummy element (markov lesson
    # extended — the D-L step NEEDS k, so the dummies carry it)
    fold = (
        f"list_reduce(list_concat([{init}], "
        f"list_transform(generate_series(1, {L}), "
        f"k -> [CAST(k AS DOUBLE)])), "
        f"(acc, st) -> ({_pacf_step_duck('acc', 'CAST(st[1] AS INT)')}))"
    )
    tail = f"""
    , packed AS MATERIALIZED (
        {pack}
    ), folded AS MATERIALIZED (
        SELECT p.event_type, ({fold}) AS st
        FROM packed p
    )
    SELECT f.event_type, CAST(l.lag AS BIGINT) AS lag,
           CAST(round(f.st[{1 + L} + CAST(l.lag AS INT)] * 1000000000)
                AS BIGINT) AS pacf_e9
    FROM folded f
    CROSS JOIN (SELECT UNNEST(generate_series(1, {L})) AS lag) l
"""
    return prefix + lags + _PACF_ACF_CORE + tail


@register(
    "timeseries_pacf_durbin",
    oracle=_pacf_sql(DUCK),
    doc="Partial autocorrelation at lags 1-10 of each metric's hourly "
    "density via the Durbin-Levinson recursion over the family's exact "
    "centered ACF integers (the same d = N*c - S body as "
    "timeseries_autocorrelation, e6-quantized — the sibling-interface "
    "pattern): the whole recursion is ONE higher-order array fold over "
    "a flat [v, phi_1..phi_L, pacf_1..pacf_L] DOUBLE state (the markov "
    "fold template; DuckDB's init-less list_reduce gets its round "
    "index from dummy singleton elements), phi_kk and every phi update "
    "quantized e9 per round so both engines walk the identical "
    "trajectory. PACF is the AR-order picker that raw ACF cannot give "
    "(ACF tails off under AR; PACF cuts off at p).",
)
def timeseries_pacf_durbin(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_pacf_sql(SPARK))


# ---------------------------------------------------------------------------
# Hurst exponent (rescaled range)
# ---------------------------------------------------------------------------
# For block sizes m in {8,16,32,64,128} over the dense hourly series:
# cross-multiplied cumulative deviations cum'_j = m*prefix_j - j*S_blk
# keep R' = max-min exact integers; S' = sqrt(m*S2 - S1^2) so
# R/S = R'/S' exactly (the m factors cancel). Per-block rs quantizes
# e6, block means are exact integer sums, ln(mean) quantizes e6, and
# the final OLS over the <=5 (ln m, ln rs) points uses exact integer
# moments. H ~ 0.5 = memoryless; > 0.7 = long-range dependence.

_HURST_CORE = """
    , series AS (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) - 1 AS BIGINT) AS t,
               CAST(COUNT(*) OVER (PARTITION BY s.event_type) AS BIGINT)
                   AS n_tot,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), sized AS (
        -- n_tot must come from series (BEFORE the block-size cross
        -- join, which would inflate the per-metric count 5x and let
        -- partial tail blocks through)
        SELECT s.event_type, m.m, CAST(FLOOR(s.t / m.m) AS BIGINT) AS blk,
               s.t, s.v, s.n_tot
        FROM series s
        CROSS JOIN (SELECT * FROM (VALUES (8), (16), (32), (64), (128))
                    t(m)) m
    ), full_blocks AS (
        SELECT event_type, m, blk, t, v
        FROM sized WHERE (blk + 1) * m <= n_tot
    ), pre AS (
        SELECT event_type, m, blk, t, v,
               CAST(SUM(v) OVER (PARTITION BY event_type, m, blk
                    ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
                   AS pref,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type, m, blk
                    ORDER BY t) AS BIGINT) AS j,
               CAST(SUM(v) OVER (PARTITION BY event_type, m, blk)
                    AS BIGINT) AS s1,
               CAST(SUM(v * v) OVER (PARTITION BY event_type, m, blk)
                    AS BIGINT) AS s2
        FROM full_blocks
    ), blocks AS (
        SELECT event_type, m, blk,
               CAST(MAX(m * pref - j * s1) AS BIGINT)
                 - CAST(LEAST(MIN(m * pref - j * s1), 0) AS BIGINT) AS r_x,
               CAST(MAX(m * s2 - s1 * s1) AS BIGINT) AS s2_x
        FROM pre GROUP BY event_type, m, blk
    ), rs AS (
        SELECT event_type, m,
               CAST(ROUND(CAST(r_x AS DOUBLE) / sqrt(CAST(s2_x AS DOUBLE))
                          * 1000000) AS BIGINT) AS rs_e6
        FROM blocks WHERE s2_x > 0
    ), pts AS (
        SELECT event_type, m,
               CAST(ROUND(ln(CAST(m AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
               CAST(ROUND(ln(CAST(SUM(rs_e6) AS DOUBLE) / COUNT(*)
                             / 1000000.0e0) * 1000000) AS BIGINT) AS ly
        FROM rs GROUP BY event_type, m
        HAVING SUM(rs_e6) > 0
    ), mom AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS np,
               CAST(SUM(lx) AS BIGINT) AS sx, CAST(SUM(ly) AS BIGINT) AS sy,
               CAST(SUM(lx * ly) AS BIGINT) AS sxy,
               CAST(SUM(lx * lx) AS BIGINT) AS sxx
        FROM pts GROUP BY event_type
    )
    SELECT event_type, np AS n_scales,
           CASE WHEN np > 1 AND np * sxx - sx * sx <> 0
                THEN CAST(ROUND(CAST(np * sxy - sx * sy AS DOUBLE)
                           / (np * sxx - sx * sx) * 1000000000) AS BIGINT)
                ELSE 0 END AS hurst_e9,
           CASE WHEN np > 1 AND np * sxx - sx * sx <> 0
                THEN CAST(ROUND(CAST(np * sxy - sx * sy AS DOUBLE)
                           / (np * sxx - sx * sx) * 1000000000) AS BIGINT)
                     > 700000000
                ELSE FALSE END AS long_memory
    FROM mom
"""


@register(
    "timeseries_hurst_rs",
    oracle=spine_from_counts(DUCK) + _HURST_CORE,
    doc="Hurst exponent of each metric's hourly density by classical "
    "rescaled-range analysis (Hurst 1951; Mandelbrot-Wallis): dyadic "
    "block sizes 8..128h, per-block R/S from cross-multiplied integer "
    "cumulative deviations (cum' = m*prefix - j*S keeps max-min exact; "
    "R/S = R'/sqrt(m*S2 - S1^2) — the m factors cancel), e6 block "
    "quantization, log-log OLS with exact integer moments (the Heaps "
    "recipe). H~0.5 = short memory, >0.7 flags long-range dependence — "
    "the stationarity question ACF alone answers only lag by lag. All "
    "block windows are (metric, m, block)-partitioned: nothing "
    "data-sized crosses one task.",
)
def timeseries_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _HURST_CORE)


# ---------------------------------------------------------------------------
# MASE / sMAPE backtest of the rolling seasonal naive
# ---------------------------------------------------------------------------
# Test = last quarter of the spine; forecast yhat_t = y_{t-24} (rolling
# one-step seasonal naive); scale = in-train MAE of the same predictor
# (Hyndman-Koehler 2006). Counts are integers, so both MAE numerators
# are exact integer sums; sMAPE quantizes each point's ratio e9 before
# the order-free sum.

_MASE_CORE = """
    , series AS (
        SELECT /*+ BROADCAST(c) */ s.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                       ORDER BY s.h) - 1 AS BIGINT) AS t,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), sized AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM series GROUP BY event_type
    ), paired AS (
        -- r16 BROADCAST: series is spine-bounded, sized is 1 row/metric
        SELECT /*+ BROADCAST(b), BROADCAST(z) */ a.event_type, a.t, a.v,
               b.v AS v_lag, z.n,
               CAST(FLOOR(3.0e0 * z.n / 4) AS BIGINT) AS cut
        FROM series a
        JOIN series b ON b.event_type = a.event_type AND b.t = a.t - 24
        JOIN sized z ON z.event_type = a.event_type
    ), agg AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN t < cut THEN ABS(v - v_lag) END)
                    AS BIGINT) AS train_ae,
               CAST(SUM(CASE WHEN t < cut THEN 1 ELSE 0 END) AS BIGINT)
                   AS train_n,
               CAST(SUM(CASE WHEN t >= cut THEN ABS(v - v_lag) END)
                    AS BIGINT) AS test_ae,
               CAST(SUM(CASE WHEN t >= cut THEN 1 ELSE 0 END) AS BIGINT)
                   AS test_n,
               CAST(SUM(CASE WHEN t >= cut AND v + v_lag > 0
                             THEN CAST(ROUND(2.0e0 * ABS(v - v_lag)
                                  / (v + v_lag) * 1000000000) AS BIGINT)
                             WHEN t >= cut THEN 0 END) AS BIGINT)
                   AS smape_sum_e9
        FROM paired GROUP BY event_type
    )
    SELECT event_type, train_n, test_n,
           train_ae AS train_naive_ae, test_ae,
           CASE WHEN train_ae > 0 AND train_n > 0 AND test_n > 0
                THEN CAST(ROUND(CAST(test_ae AS DOUBLE) / test_n
                           / (CAST(train_ae AS DOUBLE) / train_n)
                           * 1000000) AS BIGINT)
                ELSE 0 END AS mase_e6,
           CASE WHEN test_n > 0
                THEN CAST(ROUND(CAST(smape_sum_e9 AS DOUBLE) / test_n
                           / 1000) AS BIGINT)
                ELSE 0 END AS smape_e6,
           CASE WHEN train_ae > 0 AND train_n > 0 AND test_n > 0
                THEN CAST(ROUND(CAST(test_ae AS DOUBLE) / test_n
                           / (CAST(train_ae AS DOUBLE) / train_n)
                           * 1000000) AS BIGINT) < 1000000
                ELSE FALSE END AS beats_in_sample_scale
    FROM agg
"""


@register(
    "timeseries_mase_backtest",
    oracle=spine_from_counts(DUCK) + _MASE_CORE,
    doc="MASE and sMAPE of the rolling one-step seasonal-naive forecast "
    "(yhat_t = y_{t-24}) on the last quarter of each metric's hourly "
    "spine, scaled by the in-train MAE of the same predictor "
    "(Hyndman-Koehler 2006) — the scale-free, division-safe forecast "
    "score the raw-error snaive backtest row cannot give (MASE < 1 = "
    "the test period is no harder than training). Hourly counts are "
    "integers so both MAE numerators are exact; each sMAPE term "
    "quantizes e9 before the order-free sum. One self-join on "
    "(metric, t-24) — co-partitioned, no window over the full spine.",
)
def timeseries_mase_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _MASE_CORE)


# ---------------------------------------------------------------------------
# Markov removal-effect attribution
# ---------------------------------------------------------------------------
# Absorption PROBABILITY into purchase from the observed user-journey
# chain (states = event types, purchase absorbing, dead ends lose —
# the r12 markov-absorption conventions), re-solved with each
# non-purchase channel removed (transitions into a removed channel are
# LOST, not renormalized — the standard removal semantics). 40 exact
# value-iteration rounds per solve, every p quantized e9; all k+1
# solves ride one model-sized packed row cross-joined with the channel
# list. Conversion = start-state distribution (each user's first
# event) dotted with p; removal effect = 1 - conv_removed/conv_full.

_MRM_ROUNDS = 40

_MRM_BASE_TMPL = """
    WITH seq AS (
        SELECT user_id, event_type, {d.epoch_us} AS us, event_id,
               LEAD(event_type) OVER (PARTITION BY user_id
                   ORDER BY {d.epoch_us}, event_id) AS nxt
        FROM events
    ), trans AS (
        SELECT event_type AS s_from, nxt AS s_to,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq WHERE nxt IS NOT NULL
        GROUP BY event_type, nxt
    ), grid AS (
        SELECT s_from AS s, CAST(SUM(c) AS BIGINT) AS row_tot
        FROM trans GROUP BY s_from
    ), states AS (
        SELECT s_from AS s FROM trans
        UNION
        SELECT s_to FROM trans
    ), firsts AS (
        SELECT event_type AS s, CAST(COUNT(*) AS BIGINT) AS n_start
        FROM (
            SELECT user_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                       ORDER BY us, event_id) AS rn
            FROM seq
        ) z WHERE rn = 1
        GROUP BY event_type
    ), channels AS (
        SELECT s AS rm FROM states WHERE s <> 'purchase'
        UNION ALL
        SELECT '__none__'
    )
"""

_MRM_STEP_SPARK = """
        transform(sequence(1, size(p.sts)), i ->
          CASE WHEN element_at(p.sts, i) = 'purchase'
               THEN CAST(1.0 AS DOUBLE)
               WHEN element_at(p.sts, i) = ch.rm THEN CAST(0.0 AS DOUBLE)
               WHEN size(filter(p.gl, g -> g.s = element_at(p.sts, i))) = 0
               THEN CAST(0.0 AS DOUBLE)
               ELSE round(
                 aggregate(sequence(1, size(p.sts)), CAST(0.0 AS DOUBLE),
                     (a, j) -> a
                       + aggregate(filter(p.el, x ->
                             x.f = element_at(p.sts, i)
                             AND x.t = element_at(p.sts, j)),
                           CAST(0.0 AS DOUBLE), (b, x) -> b + x.c)
                         * element_at({h}, j))
                 / aggregate(filter(p.gl, g -> g.s = element_at(p.sts, i)),
                     CAST(0.0 AS DOUBLE), (b, g) -> b + g.rt)
                 * 1000000000.0) / 1000000000.0
          END)
"""

_MRM_STEP_DUCK = """
        list_transform(generate_series(1, len(p.sts)), i ->
          CASE WHEN p.sts[i] = 'purchase' THEN 1.0
               WHEN p.sts[i] = ch.rm THEN 0.0
               WHEN len(list_filter(p.gl, g -> g.s = p.sts[i])) = 0
               THEN 0.0
               ELSE round(
                 list_sum(list_transform(generate_series(1, len(p.sts)),
                     j -> coalesce(list_sum(list_transform(
                              list_filter(p.el, x -> x.f = p.sts[i]
                                                 AND x.t = p.sts[j]),
                              x -> CAST(x.c AS DOUBLE))), 0.0)
                          * {h}[CAST(j AS INT)]))
                 / list_sum(list_transform(
                       list_filter(p.gl, g -> g.s = p.sts[i]),
                       g -> CAST(g.rt AS DOUBLE)))
                 * 1000000000.0) / 1000000000.0
          END)
"""

_MRM_TAIL_TMPL = """
    , packed AS {mat} (
        SELECT
            (SELECT {sort_fn}({collect}(s)) FROM states) AS sts,
            (SELECT {collect}({strct_el}) FROM trans) AS el,
            (SELECT {collect}({strct_gl}) FROM grid) AS gl
    ), solved AS {mat} (
        SELECT ch.rm, ({fold}) AS pvec
        FROM packed p CROSS JOIN channels ch
    ), conv AS {mat} (
        SELECT s.rm,
               CAST(ROUND(SUM(f.n_start * {pv}) / nt.n_total
                          * 1000000000) AS BIGINT) AS conv_e9
        FROM solved s
        CROSS JOIN packed p2
        CROSS JOIN (SELECT CAST(SUM(n_start) AS BIGINT) AS n_total
                    FROM firsts) nt
        JOIN firsts f ON TRUE
        GROUP BY s.rm, nt.n_total
    )
    SELECT c.rm AS channel,
           b.conv_e9 AS conv_full_e9,
           c.conv_e9 AS conv_removed_e9,
           CASE WHEN b.conv_e9 > 0
                THEN CAST(GREATEST(0, 1000000000
                     - CAST(ROUND(CAST(c.conv_e9 AS DOUBLE) / b.conv_e9
                            * 1000000000) AS BIGINT)) AS BIGINT)
                ELSE 0 END AS removal_effect_e9
    FROM conv c
    CROSS JOIN (SELECT conv_e9 FROM conv WHERE rm = '__none__') b
    WHERE c.rm <> '__none__'
"""


def _mrm_sql(d: Dialect) -> str:
    if d is SPARK:
        step = _MRM_STEP_SPARK.format(h="hacc")
        fold = (
            f"aggregate(sequence(1, {_MRM_ROUNDS}), "
            f"transform(p.sts, s -> CAST(0.0 AS DOUBLE)), "
            f"(hacc, k) -> ({step}))"
        )
        tail = _MRM_TAIL_TMPL.format(
            mat="",
            sort_fn="array_sort",
            collect="collect_list",
            strct_el="struct(s_from AS f, s_to AS t, c AS c)",
            strct_gl="struct(s AS s, row_tot AS rt)",
            fold=fold,
            pv="element_at(s.pvec, CAST(array_position(p2.sts, f.s) AS INT))",
        )
        return _MRM_BASE_TMPL.format(d=SPARK) + tail
    step = _MRM_STEP_DUCK.format(h="hacc")
    fold = (
        f"list_reduce(list_concat("
        f"[list_transform(p.sts, s -> 0.0)], "
        f"list_transform(generate_series(1, {_MRM_ROUNDS}), "
        f"z -> CAST([] AS DOUBLE[]))), "
        f"(hacc, xstep) -> ({step}))"
    )
    tail = _MRM_TAIL_TMPL.format(
        mat="MATERIALIZED",
        sort_fn="list_sort",
        collect="list",
        strct_el="struct_pack(f := s_from, t := s_to, c := c)",
        strct_gl="struct_pack(s := s, rt := row_tot)",
        fold=fold,
        pv="s.pvec[list_position(p2.sts, f.s)]",
    )
    return _MRM_BASE_TMPL.format(d=DUCK) + tail


@register(
    "attribution_markov_removal",
    oracle=_mrm_sql(DUCK),
    doc="Markov removal-effect attribution over the observed user-"
    "journey chain (Anderl et al. 2014): absorption probability into "
    "purchase solved by 40 exact e9-quantized value-iteration rounds "
    "as ONE higher-order array fold over the packed model (the r11 "
    "markov template), re-solved per channel with that channel's state "
    "zeroed (mass into a removed channel is lost, never renormalized), "
    "conversion = first-event start distribution dotted with p. "
    "removal_effect = 1 - conv_removed/conv_full, clamped at 0. All "
    "k+1 solves ride one model-sized cross join — no per-channel "
    "stage, join, or lineage cut on either engine. The causal-flavored "
    "alternative to the heuristic linear/Shapley attribution rows.",
)
def attribution_markov_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_mrm_sql(SPARK))


# ---------------------------------------------------------------------------
# Degree assortativity
# ---------------------------------------------------------------------------
# Newman (2002) degree-mixing Pearson r over BOTH orientations of each
# cosine>=0.3 edge (symmetrizing makes the two endpoint marginals
# identical): degrees and all five moments are exact integers, one
# double epilogue e9. Rides the shared pair memo.

_ASSORT_EPILOGUE = """
    , deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a_id AS node FROM edges
            UNION ALL
            SELECT b_id FROM edges
        ) z GROUP BY node
    ), orient AS (
        SELECT da.d AS dx, db.d AS dy
        FROM edges e
        JOIN deg da ON da.node = e.a_id
        JOIN deg db ON db.node = e.b_id
        UNION ALL
        SELECT db.d, da.d
        FROM edges e
        JOIN deg da ON da.node = e.a_id
        JOIN deg db ON db.node = e.b_id
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(dx) AS BIGINT) AS sx,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy
        FROM orient
    )
    SELECT m AS n_oriented_edges,
           CASE WHEN m * sxx - sx * sx > 0
                THEN CAST(ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
                           / (m * sxx - sx * sx) * 1000000000) AS BIGINT)
                ELSE 0 END AS assortativity_e9,
           CASE WHEN m * sxx - sx * sx > 0
                THEN CAST(ROUND(CAST(m * sxy - sx * sx AS DOUBLE)
                           / (m * sxx - sx * sx) * 1000000000) AS BIGINT)
                     < 0
                ELSE FALSE END AS disassortative
    FROM mom
"""

_ASSORT_DUCK = (
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    edges AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) >= 0.3)
"""
    + _ASSORT_EPILOGUE
)


@register(
    "graph_assortativity",
    oracle=_ASSORT_DUCK,
    doc="Degree assortativity (Newman 2002) of the cosine>=0.3 "
    "similarity graph: Pearson correlation of endpoint degrees over "
    "both orientations of each edge (symmetrizing equalizes the two "
    "marginals, so sy/syy = sx/sxx and one moment set suffices); "
    "degrees, counts, and all moments are exact integers with a single "
    "e9 epilogue. Negative r = hub-to-leaf mixing (disassortative — "
    "typical of near-dup star clusters), positive = core-periphery "
    "banding. Rides the shared pair memo (one GEMM per session), two "
    "broadcast-able degree joins.",
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.llm.dedup import embedding_cosine_pairs

    edges = (
        embedding_cosine_pairs(spark, sf_dir, threshold=0.3)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    deg = (
        edges.select(F.col("a_id").alias("node"))
        .unionByName(edges.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    da = deg.withColumnRenamed("node", "a_id").withColumnRenamed("d", "dx")
    db = deg.withColumnRenamed("node", "b_id").withColumnRenamed("d", "dy")
    joined = edges.join(F.broadcast(da), "a_id").join(F.broadcast(db), "b_id")
    orient = joined.select("dx", "dy").unionByName(
        joined.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    mom = orient.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
    )
    r = F.when(
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1_000_000_000
        ).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return mom.select(
        F.col("m").alias("n_oriented_edges"),
        r.alias("assortativity_e9"),
        F.when(
            F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx") > 0,
            r < 0,
        )
        .otherwise(F.lit(False))
        .alias("disassortative"),
    )


# ---------------------------------------------------------------------------
# Flesch reading ease
# ---------------------------------------------------------------------------
# Syllables = max(1, vowel runs) per word (the standard heuristic);
# sentences = max(1, '.' count). All counts integers; the score is one
# e3-quantized epilogue: 206.835 - 1.015*(W/S) - 84.6*(Y/W).

_FLESCH_TMPL = """
    WITH counts AS (
        SELECT doc_id,
               CAST({nwords} AS BIGINT) AS w,
               CAST(GREATEST(1, LENGTH(text)
                    - LENGTH(REPLACE(text, '.', ''))) AS BIGINT) AS sents,
               CAST({syll} AS BIGINT) AS syl
        FROM documents
    )
    SELECT doc_id, w AS n_words, sents AS n_sentences, syl AS n_syllables,
           CASE WHEN w > 0
                THEN CAST(ROUND((206.835e0
                     - 1.015e0 * (CAST(w AS DOUBLE) / sents)
                     - 84.6e0 * (CAST(syl AS DOUBLE) / w)) * 1000)
                     AS BIGINT)
                ELSE 0 END AS flesch_e3
    FROM counts
"""

def _flesch_sql(d: Dialect) -> str:
    if d is SPARK:
        return _FLESCH_TMPL.format(
            nwords="size(filter(split(text, ' '), x -> x <> ''))",
            syll=(
                "aggregate(filter(split(text, ' '), x -> x <> ''), "
                "CAST(0 AS BIGINT), (a, wd) -> a + greatest(CAST(1 AS BIGINT), "
                "CAST(length(regexp_replace(regexp_replace(lower(wd), "
                "'[aeiou]+', 'V'), '[^V]', '')) AS BIGINT)))"
            ),
        )
    return _FLESCH_TMPL.format(
        nwords="len(list_filter(string_split(text, ' '), x -> x <> ''))",
        syll=(
            "list_sum(list_transform(list_filter(string_split(text, ' '), "
            "x -> x <> ''), wd -> GREATEST(1, "
            "LENGTH(regexp_replace(regexp_replace(lower(wd), "
            "'[aeiou]+', 'V', 'g'), '[^V]', '', 'g')))))"
        ),
    )


@register(
    "text_flesch_readability",
    oracle=_flesch_sql(DUCK),
    doc="Flesch reading ease per document: syllables approximated by "
    "vowel runs per word with the standard max(1, runs) floor, "
    "sentences by '.' count floored at 1 (the corpus has no richer "
    "punctuation), score = 206.835 - 1.015*(words/sentences) - "
    "84.6*(syllables/words) quantized e3. The classic curation "
    "readability screen beside the Gopher rules — all per-doc string "
    "HOFs, zero shuffle, trivially map-parallel at any corpus size. "
    "Dialect split: DuckDB regexp_replace needs the explicit 'g' flag "
    "(Spark is global by default).",
)
def text_flesch_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_flesch_sql(SPARK))
