"""Round-10 wave 10b: ML-eval completions, retrieval eval, inequality,
basket/sequence mining, and game-theoretic attribution.

Completes measurement tiers started in earlier rounds:

* ``ml_f1_threshold`` — the decision-threshold sweep AUC deliberately
  abstracts away: best-F1 operating point over the score histogram.
* ``ml_lift_gains`` — the marketing-science readout: decile lift and
  cumulative-gains table with exact pro-rata tie splitting.
* ``retrieval_mrr_eval`` — MRR of the int8-quantized cosine ranking
  against the exact-cosine top-1 truth (the quantization-loss eval the
  embedding tier lacked; companion to retrieval_ndcg_eval /
  similarity_recall_report).
* ``stats_gini_lorenz`` — Gini coefficient + Lorenz deciles over
  customer spend (concentration screen for revenue / token budgets).
* ``timeseries_backtest_snaive`` — rolling-origin backtest MAE/RMSE of
  the daily- and weekly-seasonal-naive forecasters (the honest
  companion of the conformal interval: point accuracy, not coverage).
* ``events_prefixspan_gap`` — length-3 sequential patterns under a
  max-gap constraint (the gap-constrained PrefixSpan variant; the
  existing GSP query has no gap bound).
* ``attribution_shapley_channels`` — exact Shapley-value channel
  attribution over the 2^4 coalition lattice (Shapley 1953; Zhao et
  al. 2018 for the marketing formulation) — exact INTEGER arithmetic
  because n! = 24 divides out.
* ``basket_apriori_triples`` — frequent brand triples with
  confidence/lift (the Apriori L3 step; basket_part_lift is L2).

House discipline: exact integer reductions, fixed-order double
epilogues quantized to BIGINT, guards on data-derived denominators,
bounded post-shuffle state (histograms, coalition lattices, daily
spines — never raw rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Best-F1 threshold sweep
# ---------------------------------------------------------------------------
# Predict positive iff score >= threshold, thresholds = the distinct
# score values. TP/FP at each threshold are cumulative integer counts
# over the DESC-ordered score histogram (the ml_eval_auc_pr pass); F1
# quantizes from the exact rational 2TP/(2TP+FP+FN) (numerator <= 2e15
# at 1e6 positives — int64-exact), and the operating point is the
# integer-ordered top row (F1 desc, then the LOWEST threshold — prefer
# recall on ties). Top 3 rows shown for the elbow context.

_F1_SQL = """
    WITH base AS (
        SELECT CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events
    ), grp AS (
        SELECT v_e3, CAST(COUNT(*) AS BIGINT) AS c,
               CAST(SUM(y) AS BIGINT) AS pos_c
        FROM base GROUP BY v_e3
    ), tot AS (
        SELECT CAST(SUM(pos_c) AS BIGINT) AS p FROM grp
    ), cum AS (
        SELECT v_e3,
               CAST(SUM(pos_c) OVER (ORDER BY v_e3 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
               CAST(SUM(c - pos_c) OVER (ORDER BY v_e3 DESC
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
        FROM grp
    ), scored AS (
        SELECT c.v_e3 AS threshold_e3, c.tp, c.fp, t.p - c.tp AS fn,
               CASE WHEN 2 * c.tp + c.fp + (t.p - c.tp) > 0
                    THEN CAST(ROUND(CAST(2 * c.tp AS DOUBLE) * 1000000000
                               / (2 * c.tp + c.fp + (t.p - c.tp))) AS BIGINT)
                    ELSE 0 END AS f1_e9
        FROM cum c CROSS JOIN tot t
        WHERE t.p > 0
    ), ranked AS (
        SELECT threshold_e3, tp, fp, fn, f1_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY f1_e9 DESC, threshold_e3)
                    AS INT) AS rnk
        FROM scored
    )
    SELECT rnk, threshold_e3, tp, fp, fn, f1_e9,
           CASE WHEN tp + fp > 0
                THEN CAST(ROUND(CAST(tp AS DOUBLE) * 1000000 / (tp + fp))
                     AS BIGINT) ELSE 0 END AS precision_e6,
           CASE WHEN tp + fn > 0
                THEN CAST(ROUND(CAST(tp AS DOUBLE) * 1000000 / (tp + fn))
                     AS BIGINT) ELSE 0 END AS recall_e6
    FROM ranked WHERE rnk <= 3
"""


@register(
    "ml_f1_threshold",
    oracle=_F1_SQL,
    doc="Best-F1 operating point for 'metric value predicts purchase': "
    "sweep every distinct score threshold via cumulative TP/FP over the "
    "DESC score histogram (one window pass on the bounded histogram — "
    "the ml_eval_auc_pr scan shape), F1 quantized e9 from the exact "
    "rational 2TP/(2TP+FP+FN), operating point = integer order "
    "(f1 desc, lowest threshold on ties — prefer recall). Top 3 rows. "
    "Nothing data-sized is sorted; the histogram aggregate is map-side "
    "combinable.",
)
def ml_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_F1_SQL)


# ---------------------------------------------------------------------------
# Lift / cumulative gains deciles
# ---------------------------------------------------------------------------
# Rank by score desc, cut into 10 equal-count deciles, report per-decile
# positive rate vs base rate (lift) and the cumulative-gains share.
# Ties NEVER make deciles ambiguous: a tie group [cb+1, cb+c] that
# straddles a decile edge contributes its overlap ov rows, and its
# positives split pro-rata as the e9-quantized exact rational
# pos*ov/c — deterministic on both engines, no row-order dependence.
# Decile edges floor(d*n/10) are exact integer arithmetic.

_LIFT_SQL = """
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
               CAST(COALESCE(SUM(c) OVER (ORDER BY v_e3 DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cb
        FROM grp
    ), tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(SUM(pos_c) AS BIGINT) AS p
        FROM grp
    ), decs AS (
        -- FLOOR over the double quotient, not CAST: Spark truncates
        -- double->bigint while DuckDB rounds; the quotient is >= 0.1
        -- from any integer when fractional, so FLOOR cannot flip
        SELECT q.d,
               CAST(FLOOR((q.d - 1) * t.n / 10.0e0) AS BIGINT) AS lo,
               CAST(FLOOR(q.d * t.n / 10.0e0) AS BIGINT) AS hi
        FROM (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7),
                                    (8), (9), (10)) AS q(d)) q
        CROSS JOIN tot t
    ), alloc AS (
        SELECT d.d,
               LEAST(cum.cb + cum.c, d.hi) - GREATEST(cum.cb, d.lo) AS ov,
               cum.c, cum.pos_c
        FROM cum CROSS JOIN decs d
    ), deciles AS (
        SELECT d,
               CAST(SUM(ov) AS BIGINT) AS n_rows,
               CAST(SUM(CAST(ROUND(CAST(pos_c AS DOUBLE) * ov / c
                                   * 1000000000) AS BIGINT)) AS BIGINT)
                   AS pos_e9
        FROM alloc WHERE ov > 0
        GROUP BY d
    )
    SELECT d.d AS decile, d.n_rows,
           d.pos_e9,
           CASE WHEN d.n_rows > 0 AND t.p > 0
                THEN CAST(ROUND(CAST(d.pos_e9 AS DOUBLE) * t.n
                           / (CAST(d.n_rows AS DOUBLE) * t.p * 1000000000)
                           * 1000000) AS BIGINT)
                ELSE 0 END AS lift_e6,
           CASE WHEN t.p > 0
                THEN CAST(ROUND(CAST(SUM(d.pos_e9) OVER (ORDER BY d.d)
                                     AS DOUBLE)
                           / (CAST(t.p AS DOUBLE) * 1000000000) * 1000000)
                     AS BIGINT)
                ELSE 0 END AS cum_gain_e6
    FROM deciles d CROSS JOIN tot t
"""


@register(
    "ml_lift_gains",
    oracle=_LIFT_SQL,
    doc="Decile lift and cumulative-gains table for the purchase "
    "predictor: rank by score desc over the bounded score histogram, "
    "cut at exact integer edges floor(d*n/10), split straddling tie "
    "groups pro-rata as the e9-quantized rational pos*ov/c — fully "
    "deterministic under ties, no per-row sort, no ntile row-order "
    "dependence. Lift and gains are fixed-order double epilogues over "
    "the exact allocations. Scale: everything after the map-side "
    "histogram is 10 x |histogram| bounded.",
)
def ml_lift_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_LIFT_SQL)


# ---------------------------------------------------------------------------
# MRR of the int8-quantized ranking
# ---------------------------------------------------------------------------
# Queries = vec_ids 1..10. Truth(q) = exact-cosine nearest neighbor
# (e6-quantized, vec_id tie-break — the retrieval_ndcg_eval relevance
# convention). System = cosine over per-vector symmetric int8
# quantization round(x * 127 / max|x|): dot and norms of int8 vectors
# are EXACT small integers on both engines (every partial sum < 2^53,
# so even DuckDB's unordered list_dot_product is exact), and the
# reciprocal rank of the truth doc is a pure integer count of
# strictly-better rows. MRR = mean reciprocal rank, rank cut at 20.
#
# Scale: the query side is a sampled eval set (10 rows broadcast); the
# doc side is one linear scan per ranking — the standard brute-force
# eval harness. At 100 TB you sample queries, not docs, and this shape
# already does.

_MRR_SPARK = """
    WITH e AS (
        -- r10 ADVICE: zero-norm vectors are filtered at the source so the
        -- `exact` cosine never divides by zero (only `z` guarded before);
        -- dropped queries are surfaced via n_queries_dropped in the tail
        SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS v FROM embeddings
        WHERE array_max(transform(CAST(embedding AS ARRAY<DOUBLE>),
                                  y -> abs(y))) > 0
    ), q AS (
        SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 10
    ), exact AS (
        SELECT q.qid, e.vec_id,
               CAST(ROUND(aggregate(zip_with(q.qv, e.v, (x, y) -> x * y),
                                    CAST(0.0 AS DOUBLE),
                                    (acc, x) -> acc + x)
                   / (sqrt(aggregate(zip_with(q.qv, q.qv, (x, y) -> x * y),
                                     CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
                      * sqrt(aggregate(zip_with(e.v, e.v, (x, y) -> x * y),
                                       CAST(0.0 AS DOUBLE),
                                       (acc, x) -> acc + x)))
                   * 1000000) AS BIGINT) AS c_e6
        FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
    ), truth AS (
        SELECT qid, vec_id AS truth_id
        FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY c_e6 DESC, vec_id) AS rn
              FROM exact)
        WHERE rn = 1
    ), z AS (
        SELECT vec_id,
               transform(v, x -> CAST(ROUND(x * 127
                   / array_max(transform(v, y -> abs(y)))) AS BIGINT)) AS v8
        FROM e
        WHERE array_max(transform(v, y -> abs(y))) > 0
    ), sysrank AS (
        SELECT q.qid, z.vec_id,
               aggregate(zip_with(qz.v8, z.v8, (x, y) -> x * y),
                         CAST(0 AS BIGINT), (acc, x) -> acc + x) AS dot8,
               aggregate(zip_with(qz.v8, qz.v8, (x, y) -> x * y),
                         CAST(0 AS BIGINT), (acc, x) -> acc + x) AS nq,
               aggregate(zip_with(z.v8, z.v8, (x, y) -> x * y),
                         CAST(0 AS BIGINT), (acc, x) -> acc + x) AS nd
        FROM q JOIN z qz ON qz.vec_id = q.qid
        CROSS JOIN z WHERE z.vec_id <> q.qid
    )
"""

_MRR_DUCK = """
    WITH e AS (
        -- r10 ADVICE: zero-norm filter mirrors the Spark side (see there)
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE list_aggregate(list_transform(embedding::DOUBLE[],
                                            y -> abs(y)), 'max') > 0
    ), q AS (
        SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id <= 10
    ), exact AS (
        SELECT q.qid, e.vec_id,
               CAST(ROUND(list_cosine_similarity(q.qv, e.v) * 1000000)
                    AS BIGINT) AS c_e6
        FROM q CROSS JOIN e WHERE e.vec_id <> q.qid
    ), truth AS (
        SELECT qid, vec_id AS truth_id
        FROM (SELECT qid, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY qid
                                        ORDER BY c_e6 DESC, vec_id) AS rn
              FROM exact)
        WHERE rn = 1
    ), z AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(ROUND(x * 127
                   / list_aggregate(list_transform(v, y -> abs(y)), 'max'))
                   AS BIGINT)) AS v8
        FROM e
        WHERE list_aggregate(list_transform(v, y -> abs(y)), 'max') > 0
    ), sysrank AS (
        SELECT q.qid, z.vec_id,
               CAST(list_dot_product(qz.v8::DOUBLE[], z.v8::DOUBLE[])
                    AS BIGINT) AS dot8,
               CAST(list_dot_product(qz.v8::DOUBLE[], qz.v8::DOUBLE[])
                    AS BIGINT) AS nq,
               CAST(list_dot_product(z.v8::DOUBLE[], z.v8::DOUBLE[])
                    AS BIGINT) AS nd
        FROM q JOIN z qz ON qz.vec_id = q.qid
        CROSS JOIN z WHERE z.vec_id <> q.qid
    )
"""

_MRR_TAIL = """
    , scored AS (
        SELECT qid, vec_id,
               CASE WHEN nq > 0 AND nd > 0
                    THEN CAST(ROUND(CAST(dot8 AS DOUBLE)
                              / sqrt(CAST(nq AS DOUBLE) * nd) * 1000000)
                         AS BIGINT)
                    ELSE 0 END AS c8_e6
        FROM sysrank
    ), ranks AS (
        -- r16 BROADCAST (guide §3.1, lost-statistics audit): truth and
        -- its one scored row per query are eval-sample-sized at any SF.
        -- The (truth x truth-score) pair is pre-joined in a subquery so
        -- ONE broadcast covers the remaining qid join too (hinting t/st
        -- separately still left the outer join a SortMergeJoin). Same
        -- rows, same comparison arithmetic, different join order only.
        SELECT /*+ BROADCAST(ts) */ ts.qid, ts.truth_id,
               CAST(1 + SUM(CASE WHEN s.c8_e6 > ts.truth_c8
                                   OR (s.c8_e6 = ts.truth_c8
                                       AND s.vec_id < ts.truth_id)
                                 THEN 1 ELSE 0 END) AS BIGINT) AS rnk
        FROM (
            SELECT /*+ BROADCAST(t) */ t.qid, t.truth_id,
                   st.c8_e6 AS truth_c8
            FROM truth t
            JOIN scored st ON st.qid = t.qid AND st.vec_id = t.truth_id
        ) ts
        JOIN scored s ON s.qid = ts.qid
        GROUP BY ts.qid, ts.truth_id
    ), rr AS (
        SELECT qid, truth_id, rnk,
               CASE WHEN rnk <= 20
                    THEN CAST(ROUND(CAST(1000000 AS DOUBLE) / rnk) AS BIGINT)
                    ELSE 0 END AS rr_e6
        FROM ranks
    ), qall AS (
        -- raw query-universe size BEFORE the zero-norm filter, so the
        -- MRR denominator (and any dropped queries) is visible
        SELECT CAST(COUNT(*) AS BIGINT) AS n_q_raw
        FROM embeddings WHERE vec_id <= 10
    )
    SELECT qid, truth_id, rnk AS rank_int8, rr_e6,
           CAST(ROUND(AVG(CAST(rr_e6 AS DOUBLE)) OVER ()) AS BIGINT)
               AS mrr_e6,
           rnk <= 5 AS hit_at_5,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_queries_eval,
           CAST(qa.n_q_raw - COUNT(*) OVER () AS BIGINT) AS n_queries_dropped
    FROM rr CROSS JOIN qall qa
"""


@register(
    "retrieval_mrr_eval",
    oracle=_MRR_DUCK + _MRR_TAIL,
    doc="MRR of the int8-quantized cosine ranking against exact-cosine "
    "top-1 truth, per query vec_ids 1..10: symmetric per-vector int8 "
    "quantization round(x*127/max|x|); int8 dot and norms are exact "
    "small integers on both engines (partial sums << 2^53, so DuckDB's "
    "unordered list_dot_product is still exact), the quantized cosine "
    "is one fixed-order double epilogue e6, and the truth rank is a "
    "pure integer count of strictly-better rows — no full sort. "
    "Measures quantization loss the way similarity_recall_report "
    "measures ANN loss. Queries are a broadcast eval sample; docs are "
    "one linear scan per ranking. Zero-norm vectors are filtered at "
    "the source (r10 ADVICE — the exact-cosine CTE had no guard) and "
    "n_queries_eval / n_queries_dropped make the MRR denominator "
    "explicit.",
)
def retrieval_mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("embeddings",))
    # Opt r15 (guide §2.4): WITH-inlining replayed the embeddings cast
    # per consumer (`e` feeds q/exact/z, `z` feeds both sysrank sides,
    # `scored` feeds both rank-count sides — 8+ embeddings scans).
    # Stage the three compact multi-consumer relations (truth: 10 rows;
    # z: one int8 array per vector; scored: |Q| x n small ints) behind
    # checkpoints. Each staged block's CTE text is unchanged;
    # sysrank's `q` carries only qid, re-derived from the staged z
    # (identical id set — z applies the same zero-norm source filter
    # as e), so every score and rank is computed by identical
    # arithmetic.
    e_part = _MRR_SPARK.partition(", q AS")[0]
    truth_part = _MRR_SPARK.partition(", z AS")[0]
    after_truth = _MRR_SPARK.partition(", z AS")[2]
    z_part, _, sys_body = after_truth.partition(", sysrank AS")
    scored_part, _, ranks_body = _MRR_TAIL.partition(", ranks AS")

    def ck(sql: str, **frames: DataFrame) -> DataFrame:
        return spark.sql(sql, **frames).localCheckpoint()

    truth = ck(truth_part + " SELECT * FROM truth")
    z = ck(e_part + ", z AS" + z_part + " SELECT * FROM z")
    scored = ck(
        "WITH z AS (SELECT * FROM {z}), "
        "q AS (SELECT vec_id AS qid FROM z WHERE vec_id <= 10), "
        "sysrank AS" + sys_body + scored_part + " SELECT * FROM scored",
        z=z,
    )
    return spark.sql(
        "WITH truth AS (SELECT * FROM {truth}), "
        "scored AS (SELECT * FROM {scored}), ranks AS" + ranks_body,
        truth=truth, scored=scored,
    )


# ---------------------------------------------------------------------------
# Gini / Lorenz
# ---------------------------------------------------------------------------
# Customer spend concentration: x_i = total order value in cents
# (exact integers; customers without orders enter at 0 — the honest
# denominator), ranked ascending with custkey tie-break. Gini =
# 2*sum(i*x_i)/(n*sum(x)) - (n+1)/n over exact integer moments
# (sum i*x_i < 2^63 through ~1e5 customers x 5e7-cent spend; past
# that, quantize spend to whole currency first). Lorenz rows at the
# ten exact decile ranks floor(d*n/10).

_GINI_SQL = """
    WITH spend AS (
        SELECT c.c_custkey,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS x
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ), ranked AS (
        SELECT c_custkey, x,
               CAST(ROW_NUMBER() OVER (ORDER BY x, c_custkey) AS BIGINT)
                   AS rn,
               CAST(SUM(x) OVER (ORDER BY x, c_custkey
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumx
        FROM spend
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(rn * x) AS BIGINT) AS s1
        FROM ranked
    ), gini AS (
        SELECT n, s,
               CASE WHEN s > 0 AND n > 0
                    THEN CAST(ROUND((CAST(2 AS DOUBLE) * s1
                               / (CAST(n AS DOUBLE) * s)
                               - CAST(n + 1 AS DOUBLE) / n) * 1000000000)
                         AS BIGINT)
                    ELSE 0 END AS gini_e9
        FROM tot
    )
    SELECT d.d AS decile,
           -- FLOOR, not CAST, over the double quotient (truncate-vs-
           -- round divergence); quotient is >= 0.1 from any integer
           -- when fractional so FLOOR cannot flip. GREATEST(1, ...) so
           -- n < 10 cannot resolve early deciles to rank 0, which
           -- matches no row and silently dropped them (r10 ADVICE).
           GREATEST(CAST(1 AS BIGINT),
                    CAST(FLOOR(d.d * g.n / 10.0e0) AS BIGINT))
               AS cum_customers,
           CASE WHEN g.s > 0
                THEN CAST(ROUND(CAST(r.cumx AS DOUBLE) / g.s * 1000000)
                     AS BIGINT)
                ELSE 0 END AS cum_spend_share_e6,
           g.gini_e9
    FROM (SELECT * FROM (VALUES (1), (2), (3), (4), (5), (6), (7), (8),
                                (9), (10)) AS q(d)) d
    CROSS JOIN gini g
    JOIN ranked r
      ON r.rn = GREATEST(CAST(1 AS BIGINT),
                         CAST(FLOOR(d.d * g.n / 10.0e0) AS BIGINT))
"""


@register(
    "stats_gini_lorenz",
    oracle=_GINI_SQL,
    doc="Gini coefficient + Lorenz curve over customer total spend "
    "(cents-exact; zero-spend customers included in the denominator): "
    "Gini = 2*sum(i*x_i)/(n*sum x) - (n+1)/n from exact integer "
    "moments (rank-weighted sum < 2^63 through ~1e5 customers; past "
    "that, quantize spend to whole units first), Lorenz shares at the "
    "ten exact decile ranks floor(d*n/10). One data-sized window sort "
    "on (spend, custkey); everything after is 10 rows.",
)
def stats_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_GINI_SQL)


# ---------------------------------------------------------------------------
# Seasonal-naive rolling-origin backtest
# ---------------------------------------------------------------------------
# MAE/RMSE of yhat(h) = y(h-24) and y(h-168) over the common test
# region h >= min+168 of the dense spine (both forecasters scored on
# identical rows — the comparison is meaningless otherwise). Absolute
# and squared errors are exact integers; the two means and the sqrt
# are the only doubles.

_BACKTEST_CORE = """
    , y AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h, COALESCE(c.cnt, 0) AS y
        FROM spine s
        LEFT JOIN counts c ON s.event_type = c.event_type AND s.h = c.h
    ), err AS (
        -- r16: the y self-joins sit on the spine-bounded dense series
        -- (<= _SPINE_BUDGET_HOURS per metric, loudly guarded) — broadcast
        -- the lag sides (guide §3.1, lost-statistics audit).
        SELECT /*+ BROADCAST(d), BROADCAST(w) */ a.event_type, g.horizon,
               ABS(a.y - CASE WHEN g.horizon = 24 THEN d.y ELSE w.y END)
                   AS ae
        FROM y a
        JOIN y d ON a.event_type = d.event_type AND d.h = a.h - 24
        JOIN y w ON a.event_type = w.event_type AND w.h = a.h - 168
        CROSS JOIN (SELECT * FROM (VALUES (24), (168)) AS q(horizon)) g
        WHERE a.h >= (SELECT MIN(h) FROM spine) + 168
    )
    SELECT event_type, CAST(horizon AS BIGINT) AS horizon,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(ROUND(CAST(SUM(ae) AS DOUBLE) / COUNT(*) * 1000000)
                AS BIGINT) AS mae_e6,
           CAST(ROUND(sqrt(CAST(SUM(ae * ae) AS DOUBLE) / COUNT(*))
                * 1000000) AS BIGINT) AS rmse_e6
    FROM err
    GROUP BY event_type, horizon
"""


@register(
    "timeseries_backtest_snaive",
    oracle=spine_from_counts(DUCK) + _BACKTEST_CORE,
    doc="Rolling-origin backtest of the daily (h-24) and weekly (h-168) "
    "seasonal-naive forecasters per metric, scored on the COMMON dense-"
    "spine test region h >= min+168 so the two horizons are comparable: "
    "MAE and RMSE from exact integer absolute/squared error sums, one "
    "division + sqrt each. The accuracy companion of "
    "timeseries_conformal_interval (point error vs coverage). Same "
    "staged (series, hour) density — events are never re-scanned.",
)
def timeseries_backtest_snaive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _BACKTEST_CORE)


# ---------------------------------------------------------------------------
# Gap-constrained sequential patterns
# ---------------------------------------------------------------------------
# Length-3 patterns a -> b -> c where consecutive steps are at most 24 h
# apart (the PrefixSpan gap constraint; events_sequence_patterns mines
# unconstrained GSP pairs). Event order is total — (microsecond ts,
# event_id) — so the pattern set is deterministic even under timestamp
# collisions. Support = distinct users; top 15 by (support, occurrences,
# pattern).

_SEQGAP_CORE = """
    , chains AS (
        SELECT e1.user_id,
               e1.t AS t1, e2.t AS t2, e3.t AS t3
        FROM ev e1
        JOIN ev e2 ON e2.user_id = e1.user_id
                   AND (e2.us > e1.us OR (e2.us = e1.us AND e2.eid > e1.eid))
                   AND e2.us <= e1.us + 86400000000
        JOIN ev e3 ON e3.user_id = e2.user_id
                   AND (e3.us > e2.us OR (e3.us = e2.us AND e3.eid > e2.eid))
                   AND e3.us <= e2.us + 86400000000
    )
    SELECT CONCAT(t1, '>', t2, '>', t3) AS pattern,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS support,
           CAST(COUNT(*) AS BIGINT) AS occurrences
    FROM chains
    GROUP BY CONCAT(t1, '>', t2, '>', t3)
    ORDER BY support DESC, occurrences DESC, pattern
    LIMIT 15
"""

_SEQGAP_BASE = """
    WITH ev AS (
        SELECT user_id, event_id AS eid, event_type AS t,
               {d.epoch_us} AS us
        FROM events
    )
"""


@register(
    "events_prefixspan_gap",
    oracle=_SEQGAP_BASE.format(d=DUCK) + _SEQGAP_CORE,
    doc="Length-3 sequential patterns under a 24 h max-gap constraint "
    "(gap-constrained PrefixSpan step; the GSP query is unconstrained): "
    "self-joins on user_id with a total (microsecond, event_id) order "
    "so timestamp collisions cannot flip the pattern set; support = "
    "distinct users, deterministic top-15. Scale: both joins are "
    "equi-joins on user_id and the gap bound caps fan-out at the "
    "per-user 24 h event density — the shuffle is user-partitioned and "
    "skew-bounded by the gap, never a cross join.",
)
def events_prefixspan_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SEQGAP_BASE.format(d=SPARK) + _SEQGAP_CORE)


# ---------------------------------------------------------------------------
# Shapley channel attribution
# ---------------------------------------------------------------------------
# Coalition value v(S) = number of converters whose pre-conversion
# touched-channel set is contained in S (monotone by construction).
# With n = 4 channels the Shapley weights |S|!(3-|S|)!/4! put 24 in
# every denominator, so phi * 24 is an EXACT integer:
# phi_c*24 = sum over S not containing c of w(|S|) * (v(S+c) - v(S)),
# w(0,1,2,3) = 6,2,2,6. Efficiency (sum phi = v(full) - v(empty)) is
# asserted by the share epilogue's denominator.

_SHAP_CORE = """
    , masks AS (
        SELECT f.user_id,
               CAST(COALESCE(MAX(CASE WHEN e.event_type = 'view'
                                      THEN 1 ELSE 0 END), 0)
                  + 2 * COALESCE(MAX(CASE WHEN e.event_type = 'click'
                                          THEN 1 ELSE 0 END), 0)
                  + 4 * COALESCE(MAX(CASE WHEN e.event_type = 'signup'
                                          THEN 1 ELSE 0 END), 0)
                  + 8 * COALESCE(MAX(CASE WHEN e.event_type = 'error'
                                          THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS mask
        FROM fp f
        LEFT JOIN ev e ON e.user_id = f.user_id AND e.us < f.fp_us
        GROUP BY f.user_id
    ), cnt AS (
        SELECT mask, CAST(COUNT(*) AS BIGINT) AS c FROM masks GROUP BY mask
    ), subsets AS (
        SELECT * FROM (VALUES (0, 0), (1, 1), (2, 1), (3, 2), (4, 1),
                              (5, 2), (6, 2), (7, 3), (8, 1), (9, 2),
                              (10, 2), (11, 3), (12, 2), (13, 3), (14, 3),
                              (15, 4)) AS q(s, sz)
    ), v AS (
        SELECT s.s, s.sz,
               CAST(COALESCE(SUM(CASE WHEN (c.mask & s.s) = c.mask
                                      THEN c.c ELSE 0 END), 0) AS BIGINT)
                   AS val
        FROM subsets s CROSS JOIN cnt c
        GROUP BY s.s, s.sz
    ), channels AS (
        SELECT * FROM (VALUES ('view', 1), ('click', 2), ('signup', 4),
                              ('error', 8)) AS q(channel, bit)
    ), shap AS (
        SELECT ch.channel,
               CAST(SUM((CASE v1.sz WHEN 0 THEN 6 WHEN 1 THEN 2
                                    WHEN 2 THEN 2 ELSE 6 END)
                        * (v2.val - v1.val)) AS BIGINT) AS phi_x24
        FROM channels ch
        JOIN v v1 ON (v1.s & ch.bit) = 0
        JOIN v v2 ON v2.s = v1.s + ch.bit
        GROUP BY ch.channel
    ), eff AS (
        SELECT CAST(MAX(CASE WHEN s = 15 THEN val END)
                    - MAX(CASE WHEN s = 0 THEN val END) AS BIGINT) AS total
        FROM v
    )
    SELECT sh.channel, sh.phi_x24, e.total AS attributable,
           CASE WHEN e.total > 0
                THEN CAST(ROUND(CAST(sh.phi_x24 AS DOUBLE)
                           / (CAST(24 AS DOUBLE) * e.total) * 1000000)
                     AS BIGINT)
                ELSE 0 END AS share_e6
    FROM shap sh CROSS JOIN eff e
"""

_SHAP_BASE = """
    WITH ev AS (
        SELECT user_id, event_type, {d.epoch_us} AS us FROM events
    ), fp AS (
        SELECT user_id, MIN(us) AS fp_us
        FROM ev WHERE event_type = 'purchase' GROUP BY user_id
    )
"""


@register(
    "attribution_shapley_channels",
    oracle=_SHAP_BASE.format(d=DUCK) + _SHAP_CORE,
    doc="Exact Shapley-value channel attribution (Shapley 1953; the "
    "marketing formulation of Zhao et al. 2018): coalition value "
    "v(S) = converters whose pre-first-purchase touched-channel set is "
    "contained in S, computed over the 16-subset lattice from the "
    "bounded per-mask counts; with 4 channels the weights' 4! = 24 "
    "denominator divides out so phi*24 is exact INTEGER arithmetic "
    "end-to-end (one double only in the share epilogue, whose "
    "denominator is the efficiency identity v(full) - v(empty)). "
    "Scale: one user-keyed aggregate to 16 mask counts; the lattice "
    "math is constant-size.",
)
def attribution_shapley_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SHAP_BASE.format(d=SPARK) + _SHAP_CORE)


# ---------------------------------------------------------------------------
# Apriori L3 over brand baskets
# ---------------------------------------------------------------------------
# Frequent brand triples in order baskets with confidence of
# {A,B} -> C and lift vs independence. Brands (25 values) keep the
# lattice bounded the way Apriori's support pruning would; the triple
# join is three equi-joins on the order key with p1 < p2 < p3
# canonical ordering. All supports are exact integers; confidence and
# lift are guarded single divisions.

_APRIORI_SQL = """
    WITH items AS (
        SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ), n_orders AS (
        SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM items
    ), sup1 AS (
        SELECT b, CAST(COUNT(*) AS BIGINT) AS s FROM items GROUP BY b
    ), pairs AS (
        SELECT a.o, a.b AS b1, c.b AS b2
        FROM items a JOIN items c ON a.o = c.o AND a.b < c.b
    ), sup2 AS (
        SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS s
        FROM pairs GROUP BY b1, b2
    ), triples AS (
        SELECT p.b1, p.b2, i.b AS b3, CAST(COUNT(*) AS BIGINT) AS s
        FROM pairs p JOIN items i ON i.o = p.o AND i.b > p.b2
        GROUP BY p.b1, p.b2, i.b
    )
    SELECT t.b1, t.b2, t.b3,
           t.s AS sup_abc, s2.s AS sup_ab, s1.s AS sup_c,
           CAST(ROUND(CAST(t.s AS DOUBLE) / s2.s * 1000000) AS BIGINT)
               AS confidence_e6,
           CAST(ROUND(CAST(t.s AS DOUBLE) * n.n
                / (CAST(s2.s AS DOUBLE) * s1.s) * 1000000) AS BIGINT)
               AS lift_e6
    FROM triples t
    JOIN sup2 s2 ON t.b1 = s2.b1 AND t.b2 = s2.b2
    JOIN sup1 s1 ON t.b3 = s1.b
    CROSS JOIN n_orders n
    WHERE t.s >= 5
    ORDER BY lift_e6 DESC, t.b1, t.b2, t.b3
    LIMIT 10
"""


@register(
    "basket_apriori_triples",
    oracle=_APRIORI_SQL,
    doc="Apriori L3 over order-brand baskets: frequent triples with "
    "confidence {A,B}->C and lift vs independence, canonical b1<b2<b3 "
    "ordering, min support 5, deterministic top-10 by lift. The brand "
    "vocabulary (25 values) bounds the lattice exactly as Apriori's "
    "support pruning would; joins are order-key equi-joins (the part "
    "dimension broadcasts). Completes basket_part_lift's L2 step. All "
    "supports exact integers; confidence/lift one guarded division "
    "each.",
)
def basket_apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem", "part"))
    # Opt r15 (guide §2.4): `items` feeds SEVEN inlined references
    # (n_orders, sup1, both pair sides x2 consumers, triples) — the
    # executed plan scanned lineitem+part 14x
    # (plans/r15/basket_apriori_triples_scan1.txt). Only `items` is
    # staged; `pairs` (two references) stays inline.
    # Checkpointed relations carry no size statistics, so the
    # model-sized support joins (25-value brand domain) would plan as
    # SortMergeJoin — hint them broadcast explicitly (guide §3.1:
    # estimates are often wrong after opaque ops; hint when you know
    # a side is small). Join strategy only; values unchanged.
    text = _APRIORI_SQL.replace(
        "SELECT t.b1, t.b2, t.b3,",
        "SELECT /*+ BROADCAST(s2), BROADCAST(s1), BROADCAST(n) */ "
        "t.b1, t.b2, t.b3,",
        1,
    )
    return stage_ctes(spark, text, "items")
