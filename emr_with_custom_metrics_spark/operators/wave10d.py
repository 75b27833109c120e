"""Round-10 wave 10d: DTW, PRF retrieval, conditional quantiles, DP median.

* ``timeseries_dtw_distance`` — dynamic time warping between every
  metric pair's daily-share series (Sakoe-Chiba band r = 7). The
  second genuinely-sequential operator on the wave-10c template: Spark
  runs the exact-integer DP as ``applyInPandas`` per pair; the DuckDB
  oracle replays the IDENTICAL DP as a row-major cell recursion
  (900-step recursive CTE carrying the growing cost list).
* ``retrieval_prf_rm3`` — pseudo-relevance feedback (RM3-style): BM25
  top-3 docs donate expansion terms, the expanded query re-ranks, and
  the readout compares the two top-10s. Integer ranks end-to-end.
* ``stats_conditional_quantiles`` — quantile regression via binning:
  exact p50/p90 of customer spend per account-balance decile, with the
  Theil-Sen slope over bin medians. The order-statistic answer to
  "how does the spend DISTRIBUTION move with x", not just the mean.
* ``privacy_dp_median`` — epsilon-DP median via the exponential
  mechanism (McSherry & Talwar 2007): utility −|rank − n/2| over the
  bounded value histogram, md5-seeded draw against e9-quantized
  exponential weights (exp quantized immediately — the ln discipline's
  sibling), swept over epsilon.

House discipline unchanged: exact integer reductions, single-text
templates where dialects agree, quantize-after-transcendental,
bounded post-shuffle state.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.privacy import _h32
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Dynamic time warping
# ---------------------------------------------------------------------------
# Series: each metric's 30-day daily counts, scale-freed to e6 shares
# of the metric total (exact integers), so DTW compares SHAPE. Local
# cost |a_i - b_j| (L1, integer); Sakoe-Chiba band r = 7 (cells outside
# the band carry an INF cost so no warping path can cross them — the
# standard constraint, and the thing that keeps the DP O(n*r) at real
# series lengths). The DP is exact integer min-plus — both engines
# walk it bit-identically.

_INF = 10**15

_DTW_CELLS_CORE = """
    , daily AS (
        SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM base GROUP BY event_type, d
    ), days AS (
        SELECT t.event_type, g.d
        FROM (SELECT DISTINCT event_type FROM daily) t
        CROSS JOIN (SELECT DISTINCT d FROM daily) g
    ), series AS (
        SELECT dy.event_type,
               CAST(ROW_NUMBER() OVER (PARTITION BY dy.event_type
                                       ORDER BY dy.d) - 1 AS BIGINT) AS i,
               CAST(ROUND(CAST(COALESCE(da.cnt, 0) AS DOUBLE) * 1000000
                    / t.tot) AS BIGINT) AS v
        FROM days dy
        LEFT JOIN daily da ON dy.event_type = da.event_type
                           AND dy.d = da.d
        JOIN (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot
              FROM daily GROUP BY event_type) t
          ON dy.event_type = t.event_type
        WHERE t.tot > 0
    ), n AS (
        SELECT CAST(MAX(i) + 1 AS BIGINT) AS n FROM series
    ), pairs AS (
        SELECT a.event_type AS et_a, b.event_type AS et_b
        FROM (SELECT DISTINCT event_type FROM series) a
        JOIN (SELECT DISTINCT event_type FROM series) b
          ON a.event_type < b.event_type
    ), cells AS (
        SELECT p.et_a, p.et_b, n.n,
               sa.i * n.n + sb.i AS k,
               CASE WHEN ABS(sa.i - sb.i) > 7 THEN {inf}
                    ELSE ABS(sa.v - sb.v) END AS c
        FROM pairs p
        CROSS JOIN n
        JOIN series sa ON sa.event_type = p.et_a
        JOIN series sb ON sb.event_type = p.et_b
    )
"""

_DTW_BASE = """
    WITH base AS (
        SELECT event_type, {d.epoch_day} AS d
        FROM events
    )
"""

_DTW_CELLS_SPARK = (
    _DTW_BASE.format(d=SPARK)
    + _DTW_CELLS_CORE.format(inf=_INF)
)

# Oracle: row-major cell recursion. State carries the growing 1-indexed
# cost list `acc`; cell k (0-based, k = i*n + j) reads left = acc[k]
# (cell k-1), up = acc[k-n+1]... list indices are +1. Boundary cells
# clamp to INF so LEAST picks only legal predecessors.
_DTW_DUCK = f"""
    WITH RECURSIVE base AS (
        SELECT event_type, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS d
        FROM events
    )
    {_DTW_CELLS_CORE.format(inf=_INF)}
    , cellsm AS MATERIALIZED (SELECT * FROM cells),
    dp AS (
        SELECT et_a, et_b, n, k, [c]::BIGINT[] AS acc
        FROM cellsm WHERE k = 0
        UNION ALL
        SELECT c.et_a, c.et_b, c.n, c.k,
               list_append(dp.acc,
                 c.c + LEAST(
                   CASE WHEN c.k % c.n > 0 THEN dp.acc[c.k] ELSE {_INF} END,
                   CASE WHEN c.k >= c.n THEN dp.acc[c.k - c.n + 1]
                        ELSE CASE WHEN c.k % c.n > 0 THEN {_INF}
                             ELSE 0 END END,
                   CASE WHEN c.k >= c.n AND c.k % c.n > 0
                        THEN dp.acc[c.k - c.n] ELSE {_INF} END)
               ) AS acc
        FROM dp JOIN cellsm c
          ON c.et_a = dp.et_a AND c.et_b = dp.et_b AND c.k = dp.k + 1
    ), final AS (
        SELECT et_a, et_b, n, acc[CAST(n * n AS INTEGER)] AS dtw
        FROM dp WHERE k = n * n - 1
    )
    SELECT et_a, et_b, CAST(dtw AS BIGINT) AS dtw_e6,
           CAST(ROUND(CAST(dtw AS DOUBLE) / (2 * n)) AS BIGINT)
               AS dtw_per_step_e6,
           CAST(ROW_NUMBER() OVER (ORDER BY dtw, et_a, et_b) AS INT)
               AS closeness_rank
    FROM final
"""


def _dtw_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact-integer banded DTW over one pair's row-major cell table —
    the same recurrence, boundaries, and INF clamps as the recursive-
    CTE oracle."""
    pdf = pdf.sort_values("k")
    n = int(pdf["n"].iloc[0])
    c = pdf["c"].to_numpy().tolist()  # python ints — no wrap
    acc: list[int] = []
    for k in range(n * n):
        left = acc[k - 1] if k % n > 0 else _INF
        up = acc[k - n] if k >= n else (_INF if k % n > 0 else 0)
        diag = acc[k - n - 1] if (k >= n and k % n > 0) else _INF
        acc.append(c[k] + min(left, up, diag))
    dtw = acc[-1]
    return pd.DataFrame(
        {
            "et_a": [pdf["et_a"].iloc[0]],
            "et_b": [pdf["et_b"].iloc[0]],
            "dtw_e6": [dtw],
            "n": [n],
        }
    )


@register(
    "timeseries_dtw_distance",
    oracle=_DTW_DUCK,
    doc="Dynamic time warping between every metric pair's daily-share "
    "series (shares e6-quantized so DTW compares shape, not volume), "
    "Sakoe-Chiba band r=7 via INF-clamped cells, L1 local cost — the "
    "whole DP is exact integer min-plus. Second sequential operator on "
    "the wave-10c template: applyInPandas per pair on Spark, the "
    "IDENTICAL row-major cell recursion as a 900-step recursive CTE "
    "(growing cost list) in DuckDB. Scale: series are calendar-bounded "
    "(the matrix-profile precedent); the pair fan-out is "
    "|metrics|choose2 rows of bounded cells, shuffled on the pair key "
    "once.",
)
def timeseries_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    register_views(spark, sf_dir, ("events",))
    cells = spark.sql(_DTW_CELLS_SPARK + " SELECT * FROM cells")
    schema = "et_a string, et_b string, dtw_e6 long, n long"
    dtw = cells.groupBy("et_a", "et_b").applyInPandas(_dtw_pandas, schema)
    return dtw.select(
        "et_a",
        "et_b",
        "dtw_e6",
        F.round(F.col("dtw_e6").cast("double") / (2 * F.col("n")))
        .cast("bigint")
        .alias("dtw_per_step_e6"),
        F.row_number()
        .over(Window.orderBy("dtw_e6", "et_a", "et_b"))
        .cast("int")
        .alias("closeness_rank"),
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance feedback (RM3-style)
# ---------------------------------------------------------------------------
# Round 1: BM25 of the 8-term query (the text_bm25_retrieval shape).
# Feedback: the top-3 documents donate their top-8 non-query terms by
# summed term frequency (ties by term). Round 2: BM25 of the expanded
# query. Readout: both top-10s side by side with rank shifts — the
# classic recall-boosting retrieval loop, integer ranks end-to-end.
# BM25 doubles follow the proven bm25/ndcg fold-order pattern, with
# scores e6-quantized before ranking.

_PRF_CORE = """
    , doclen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
    ), stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(CAST(dl AS DOUBLE)) AS avgdl
        FROM doclen
    ), q0 AS (
        SELECT DISTINCT term FROM qterms
    ), tf0 AS (
        SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok t JOIN q0 ON t.term = q0.term
        GROUP BY t.doc_id, t.term
    ), df0 AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM tf0 GROUP BY term
    ), s0 AS (
        SELECT tf0.doc_id,
               CAST(ROUND(SUM(
                   ln((s.n_docs - df0.nd + CAST(0.5 AS DOUBLE))
                      / (df0.nd + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
                   * (tf0.f * CAST(2.2 AS DOUBLE))
                   / (tf0.f + CAST(1.2 AS DOUBLE)
                      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                         * doclen.dl / s.avgdl))
               ) * 1000000) AS BIGINT) AS score_e6
        FROM tf0
        JOIN df0 ON tf0.term = df0.term
        JOIN doclen ON tf0.doc_id = doclen.doc_id
        CROSS JOIN stats s
        GROUP BY tf0.doc_id
    ), r0 AS (
        SELECT doc_id, score_e6,
               CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id)
                    AS BIGINT) AS rnk
        FROM s0
    ), fb AS (
        SELECT t.term, CAST(SUM(1) AS BIGINT) AS fb_tf
        FROM tok t
        JOIN r0 ON t.doc_id = r0.doc_id AND r0.rnk <= 3
        LEFT JOIN q0 ON t.term = q0.term
        WHERE q0.term IS NULL AND LENGTH(t.term) >= 3
        GROUP BY t.term
    ), exp_terms AS (
        SELECT term FROM (
            SELECT term, ROW_NUMBER() OVER (ORDER BY fb_tf DESC, term) AS rn
            FROM fb
        ) WHERE rn <= 8
    ), q1 AS (
        SELECT term FROM q0 UNION SELECT term FROM exp_terms
    ), tf1 AS (
        SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok t JOIN q1 ON t.term = q1.term
        GROUP BY t.doc_id, t.term
    ), df1 AS (
        SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
        FROM tf1 GROUP BY term
    ), s1 AS (
        SELECT tf1.doc_id,
               CAST(ROUND(SUM(
                   ln((s.n_docs - df1.nd + CAST(0.5 AS DOUBLE))
                      / (df1.nd + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
                   * (tf1.f * CAST(2.2 AS DOUBLE))
                   / (tf1.f + CAST(1.2 AS DOUBLE)
                      * (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE)
                         * doclen.dl / s.avgdl))
               ) * 1000000) AS BIGINT) AS score_e6
        FROM tf1
        JOIN df1 ON tf1.term = df1.term
        JOIN doclen ON tf1.doc_id = doclen.doc_id
        CROSS JOIN stats s
        GROUP BY tf1.doc_id
    ), r1 AS (
        SELECT doc_id, score_e6,
               CAST(ROW_NUMBER() OVER (ORDER BY score_e6 DESC, doc_id)
                    AS BIGINT) AS rnk
        FROM s1
    )
    SELECT r1.rnk AS prf_rank, r1.doc_id,
           r1.score_e6 AS prf_score_e6,
           r0.rnk AS base_rank,
           r0.rnk IS NULL AS recalled_by_expansion
    FROM r1 LEFT JOIN r0 ON r1.doc_id = r0.doc_id AND r0.rnk <= 10
    WHERE r1.rnk <= 10
"""


def _prf_sql(d: Dialect) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, {d.terms} AS term
        FROM documents
    ), qterms AS (
        SELECT {d.first_terms(8)} AS term
        FROM documents WHERE doc_id = 1
    )
""" + _PRF_CORE


@register(
    "retrieval_prf_rm3",
    oracle=_prf_sql(DUCK),
    doc="Pseudo-relevance feedback (RM3-style; Lavrenko & Croft 2001): "
    "BM25 top-3 docs donate the top-8 non-query terms (summed tf, "
    "deterministic ties), the expanded query re-ranks, and the top-10 "
    "is reported against the base ranking with a recalled_by_expansion "
    "flag — the classic recall loop of a RAG/lexical stack. Integer "
    "ranks everywhere; BM25 doubles follow the proven fold-order "
    "pattern, e6-quantized before ranking. Scale: two bounded-query "
    "scoring passes (broadcast term sets), each ending in a top-k.",
)
def retrieval_prf_rm3(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_prf_sql(SPARK))


# ---------------------------------------------------------------------------
# Conditional quantiles (quantile regression via binning)
# ---------------------------------------------------------------------------
# x = customer account balance decile (exact rank edges), y = customer
# total spend in cents. Per decile: exact p50/p90 order statistics of
# y. Then the Theil-Sen slope over the 10 (decile-index, p50) points —
# median of the 45 pairwise slopes, each an exact rational quantized
# e6 — a robust read on how the spend distribution shifts with balance.

_CQ_SQL = """
    WITH cust AS (
        SELECT c.c_custkey,
               CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS bal,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS y
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey, c.c_acctbal
    ), ranked AS (
        SELECT c_custkey, bal, y,
               CAST(ROW_NUMBER() OVER (ORDER BY bal, c_custkey) AS BIGINT)
                   AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM cust
    ), binned AS (
        -- decile by exact rank edges: d = smallest d with
        -- rn <= floor(d*n/10); ceil-division form keeps it integral
        SELECT y,
               CAST(FLOOR((rn * 10 - 1) / CAST(n AS DOUBLE)) + 1 AS BIGINT)
                   AS d
        FROM ranked
    ), yr AS (
        SELECT d, y,
               CAST(ROW_NUMBER() OVER (PARTITION BY d ORDER BY y) AS BIGINT)
                   AS yrn,
               CAST(COUNT(*) OVER (PARTITION BY d) AS BIGINT) AS m
        FROM binned
    ), q AS (
        SELECT d, CAST(MAX(m) AS BIGINT) AS n_bin,
               CAST(MAX(CASE WHEN yrn = CAST(FLOOR((m * 50 + 99) / 100.0e0)
                                             AS BIGINT)
                             THEN y END) AS BIGINT) AS p50,
               CAST(MAX(CASE WHEN yrn = CAST(FLOOR((m * 90 + 99) / 100.0e0)
                                             AS BIGINT)
                             THEN y END) AS BIGINT) AS p90
        FROM yr GROUP BY d
    ), slopes AS (
        SELECT CAST(ROUND(CAST(b.p50 - a.p50 AS DOUBLE) / (b.d - a.d))
                    AS BIGINT) AS s
        FROM q a JOIN q b ON b.d > a.d
    ), ts AS (
        SELECT CAST(MAX(CASE WHEN rn = CAST(FLOOR((cnt + 2) / 2.0e0)
                                            AS BIGINT)
                             THEN s END) AS BIGINT) AS theil_sen_slope
        FROM (SELECT s,
                     CAST(ROW_NUMBER() OVER (ORDER BY s) AS BIGINT) AS rn,
                     CAST(COUNT(*) OVER () AS BIGINT) AS cnt
              FROM slopes)
    )
    SELECT q.d AS decile, q.n_bin, q.p50 AS p50_cents, q.p90 AS p90_cents,
           ts.theil_sen_slope AS slope_p50_cents_per_decile
    FROM q CROSS JOIN ts
"""


@register(
    "stats_conditional_quantiles",
    oracle=_CQ_SQL,
    doc="Quantile regression via binning: exact p50/p90 order statistics "
    "of customer spend per account-balance decile (rank-edge deciles, "
    "ceil-division rank picks — all integer), plus the Theil-Sen slope "
    "over the 10 bin medians (median of 45 exact pairwise slopes). The "
    "distribution-level answer to 'does spend grow with balance' that "
    "a conditional MEAN hides. One window sort per axis; everything "
    "after is 10 rows.",
)
def stats_conditional_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_CQ_SQL)


# ---------------------------------------------------------------------------
# DP median (exponential mechanism)
# ---------------------------------------------------------------------------
# McSherry & Talwar 2007: release the candidate v with probability
# proportional to exp(eps * u(v) / 2), u(v) = -|rank(v) - n/2| with
# sensitivity 1 (one row moves any rank by at most 1). Candidates are
# the bounded distinct-value histogram; the rank of each candidate is
# its cumulative count. Weights exp(...) quantize to 1e-9 IMMEDIATELY
# (exp shares ln's not-correctly-rounded hazard — nothing downstream
# of the quantization is float), the md5-seeded draw is an exact
# threshold over the integer cumulative weights (the privacy_dp_counts
# discipline), and the release reports its true error so the
# eps-utility tradeoff is measurable.

_DPM_SQL = f"""
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), cum AS (
        SELECT event_type, v_e3, c,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY v_e3)
                    AS BIGINT) AS cr,
               CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hist
    ), eps AS (
        SELECT * FROM (VALUES (5, 10), (20, 10)) AS q(eps_e1, eps_den)
    ), wt AS (
        -- utility = -|2*rank - n| / 2 in half-units so it stays integer;
        -- weight = exp(eps * u / 2) = exp(-eps * |2cr - n| / 4)
        SELECT c.event_type, e.eps_e1, c.v_e3, c.cr, c.n,
               CAST(ROUND(exp(-(CAST(e.eps_e1 AS DOUBLE) / e.eps_den)
                              * ABS(2 * c.cr - c.n)
                              / CAST(4 AS DOUBLE)) * 1000000000) AS BIGINT)
                   AS w_e9
        FROM cum c CROSS JOIN eps e
    ), cw AS (
        SELECT event_type, eps_e1, v_e3, cr, n, w_e9,
               CAST(SUM(w_e9) OVER (PARTITION BY event_type, eps_e1
                                    ORDER BY v_e3) AS BIGINT) AS cw,
               CAST(SUM(w_e9) OVER (PARTITION BY event_type, eps_e1)
                    AS BIGINT) AS tw
        FROM wt
    ), draw AS (
        SELECT event_type, eps_e1,
               {_h32("dpmed", "concat(event_type, '|', CAST(eps_e1 AS STRING))")}
                   AS u32
        FROM (SELECT DISTINCT event_type, eps_e1 FROM cw)
    ), pick AS (
        SELECT c.event_type, c.eps_e1,
               CAST(MIN(c.v_e3) AS BIGINT) AS dp_median_e3
        FROM cw c JOIN draw d
          ON c.event_type = d.event_type AND c.eps_e1 = d.eps_e1
        WHERE c.tw > 0
          AND CAST(c.cw AS DOUBLE) * 4294967296
              >= CAST(d.u32 AS DOUBLE) * c.tw
        GROUP BY c.event_type, c.eps_e1
    ), truth AS (
        SELECT event_type,
               CAST(MIN(CASE WHEN 2 * cr >= n THEN v_e3 END) AS BIGINT)
                   AS true_median_e3
        FROM cum GROUP BY event_type
    )
    SELECT p.event_type, p.eps_e1, p.dp_median_e3, t.true_median_e3,
           ABS(p.dp_median_e3 - t.true_median_e3) AS abs_err_e3
    FROM pick p JOIN truth t ON p.event_type = t.event_type
"""


@register(
    "privacy_dp_median",
    oracle=_DPM_SQL,
    doc="Epsilon-DP median via the exponential mechanism (McSherry & "
    "Talwar 2007), swept over eps in {0.5, 2.0}: utility -|rank - n/2| "
    "(sensitivity 1) over the bounded distinct-value histogram, "
    "exp-weights quantized e9 IMMEDIATELY (exp shares ln's hazard), "
    "md5-seeded draw as an exact threshold over integer cumulative "
    "weights — deterministic, hash-verifiable, and honest: the release "
    "reports its own absolute error vs the true median. Completes the "
    "DP tier beside privacy_dp_counts (Laplace for counts, exponential "
    "for order statistics). One map-side histogram; the mechanism is a "
    "histogram-sized epilogue.",
)
def privacy_dp_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_DPM_SQL)
