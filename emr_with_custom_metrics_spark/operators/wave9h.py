"""Round-9 wave 8h: lead-lag analysis, drift scoring, vocabulary law.

* ``timeseries_cross_correlation`` — the cross-correlation function
  between every ordered metric pair over the dense hourly spine, with
  the argmax lag in [-12, +12]: "does click lead purchase, and by how
  many hours" — the lead-lag question behind alarm root-causing.
* ``events_psi_drift`` — Population Stability Index of each metric's
  value distribution, second half vs first half of the time range: the
  industry-standard drift score (PSI >= 0.25 = action), decile bins
  fixed from the reference half by exact order statistics.
* ``text_heaps_law`` — Heaps' law V(n) = K * n^beta fit of vocabulary
  growth over the corpus token stream via log-log OLS — the companion
  of text_zipf_fit (Zipf and Heaps are the two classic corpus laws).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    global_rank_guard,
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# Cross-correlation function (lead-lag)
# ---------------------------------------------------------------------------
# For metrics x, y and lag L: corr(x[t], y[t+L]) over the overlapping
# dense hourly range — computed for every ordered pair and every lag in
# [-12, +12] from ONE shifted self-join, with the same exact-integer-
# moment + two-separate-sqrts discipline as the matrix profile
# (radicands < 2^63 while hourly counts stay below ~4e6: the binding
# term is sx*sy ~ (n*V)^2 with n up to 720 overlap points, so V ≳ 4e6
# overflows int64 — loudly, via ANSI overflow / DuckDB cast error, not
# silently; recompute the moments at a coarser quantization per the
# Heaps-law e6 precedent if counts can exceed that). Per (pair, lag) moments are integer sums; Pearson
# is one fixed-order double expression quantized e9; the best lag
# maximizes |corr| by exact integer compare (tie: smaller |lag|, then
# signed lag). Series are calendar-bounded (720 points), so the sweep
# is constant-size; only the staged hourly reduction is data-sized.

from emr_with_custom_metrics_spark.operators.stats import (  # noqa: E402
    dense_hourly_x_guarded,
)

_XCORR_CORE = """
    , lags AS (
        SELECT CAST(k - 13 AS BIGINT) AS lag
        FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),(12),
                     (13),(14),(15),(16),(17),(18),(19),(20),(21),(22),
                     (23),(24),(25)) AS t(k)
    ), shifted AS (
        -- compute the shifted key BEFORE the join: a ternary condition
        -- t_b = t_a + lag cannot be planned as an equi-join (Catalyst
        -- cartesians a x b, then nested-loops the lag table — measured
        -- 324M comparisons); materializing t+lag on the small cross
        -- product makes the pair join one hash equi-join on t
        SELECT a.event_type AS ex, a.v AS vx, g.lag,
               a.t + g.lag AS tj
        FROM x a CROSS JOIN lags g
    ), joined AS (
        SELECT /*+ BROADCAST(b) */ s.ex, b.event_type AS ey, s.lag,
               s.vx, b.v AS vy
        FROM shifted s
        JOIN x b ON b.t = s.tj AND b.event_type <> s.ex
    ), mom AS (
        SELECT ex, ey, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(vx) AS BIGINT) AS sx,
               CAST(SUM(vy) AS BIGINT) AS sy,
               CAST(SUM(vx * vx) AS BIGINT) AS sxx,
               CAST(SUM(vy * vy) AS BIGINT) AS syy,
               CAST(SUM(vx * vy) AS BIGINT) AS sxy
        FROM joined GROUP BY ex, ey, lag
    ), corr AS (
        SELECT ex, ey, lag, n,
               CAST(ROUND(
                   CAST(n * sxy - sx * sy AS DOUBLE)
                   / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
                      * SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
                   * 1000000000) AS BIGINT) AS corr_e9
        FROM mom
        WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    )
    SELECT ex, ey, lag AS best_lag, n AS n_overlap, corr_e9
    FROM (SELECT ex, ey, lag, n, corr_e9,
                 ROW_NUMBER() OVER (PARTITION BY ex, ey
                     ORDER BY ABS(corr_e9) DESC, ABS(lag), lag) AS rn
          FROM corr)
    WHERE rn = 1
"""


@register(
    "timeseries_cross_correlation",
    oracle=spine_from_counts(DUCK)
    + f", x AS MATERIALIZED ({dense_hourly_x_guarded(DUCK)})"
    + _XCORR_CORE,
    doc="Cross-correlation function between every ordered metric pair "
    "over the dense hourly spine, lags -12..+12: the lead-lag question "
    "behind alarm root-causing, reported as each pair's best lag by "
    "|corr| (exact integer tie-break: smaller |lag|, then signed lag). "
    "Same discipline as the matrix profile: per-(pair,lag) moments are "
    "exact integer sums from one shifted self-join, Pearson is one "
    "fixed-order double expression with two separate sqrts, quantized "
    "e9. Series are calendar-bounded, so the 25-lag sweep is constant-"
    "size; only the staged hourly reduction (hour_counts_sql) is "
    "data-sized.",
)
def timeseries_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x feeds both the shifted cross product and the b side of the pair
    # join — staged once (the MP/decomposition WITH-inlining lesson).
    x = hour_counts_sql(
        spark, sf_dir, spine_from_counts(SPARK) + dense_hourly_x_guarded(SPARK)
    ).localCheckpoint()
    return spark.sql("WITH x AS (SELECT * FROM {x})" + _XCORR_CORE, x=x)


# ---------------------------------------------------------------------------
# PSI drift
# ---------------------------------------------------------------------------
# Population Stability Index (the credit-scoring standard; Siddiqi
# 2006): bin the REFERENCE window's value distribution into deciles by
# exact order statistics, measure the CURRENT window against those
# fixed edges, PSI = SUM (p_cur - p_ref) * ln(p_cur / p_ref). Windows:
# first vs second half of the hour range (midpoint FLOORed explicitly —
# CAST-to-int rounds on DuckDB and truncates on Spark, the conformal
# lesson). Decile edges are each metric's OWN ceil(k*n/10)-th order
# statistics computed on the (event_type, half, v_e3) HISTOGRAM via
# cumulative counts (the value at rank r = the smallest value whose
# cumulative count reaches r — identical to ranked selection, but the
# rank pass and the edge join both run on the bounded histogram, never
# per event row: the AUC/calibration reduction discipline); Laplace +1
# smoothing keeps empty bins finite and deterministic; per-bin LN
# terms quantize e9 immediately so the cross-bin sum is an integer
# reduction, and action_flag derives from the SAME psi_e9 value.

_PSI_CORE = """
    , bounds AS (
        SELECT CAST(FLOOR((MIN(h) + MAX(h)) / 2.0e0) AS BIGINT) AS mid
        FROM ev
    ), halves AS (
        SELECT e.event_type, e.v_e3,
               CASE WHEN e.h < b.mid THEN 0 ELSE 1 END AS half
        FROM ev e CROSS JOIN bounds b
    ), hist AS (
        SELECT event_type, half, v_e3, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM halves GROUP BY event_type, half, v_e3
    ), ref AS (
        SELECT event_type, v_e3,
               CAST(SUM(cnt) OVER (PARTITION BY event_type
                    ORDER BY v_e3) AS BIGINT) AS crank,
               CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n
        FROM hist WHERE half = 0
    ), ks AS (
        SELECT CAST(k AS BIGINT) AS k
        FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)) AS t(k)
    ), dedup_edges AS (
        SELECT event_type, edge,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY edge) AS eidx
        FROM (SELECT DISTINCT event_type, edge
              FROM (SELECT r.event_type, ks.k, MIN(r.v_e3) AS edge
                    FROM ref r JOIN ks
                      ON r.crank >= CAST(CEIL(CAST(r.n AS DOUBLE)
                                              * ks.k / 10.0e0) AS BIGINT)
                    GROUP BY r.event_type, ks.k))
    ), binned AS (
        SELECT h.event_type, h.half, h.v_e3, h.cnt,
               CAST(COALESCE(MAX(d.eidx), 0) AS BIGINT) AS bin
        FROM hist h
        LEFT JOIN dedup_edges d
          ON d.event_type = h.event_type AND h.v_e3 > d.edge
        GROUP BY h.event_type, h.half, h.v_e3, h.cnt
    ), cells AS (
        SELECT event_type, bin,
               CAST(SUM(CASE WHEN half = 0 THEN cnt ELSE 0 END) + 1
                   AS BIGINT) AS c_ref,
               CAST(SUM(CASE WHEN half = 1 THEN cnt ELSE 0 END) + 1
                   AS BIGINT) AS c_cur
        FROM binned GROUP BY event_type, bin
    ), tots AS (
        SELECT event_type,
               CAST(SUM(c_ref) AS BIGINT) AS tr,
               CAST(SUM(c_cur) AS BIGINT) AS tc
        FROM cells GROUP BY event_type
    )
    SELECT event_type, n_bins, psi_e9,
           psi_e9 >= 250000000 AS action_flag
    FROM (
        SELECT /*+ BROADCAST(t) */ c.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(CAST(ROUND(
                   (CAST(c.c_cur AS DOUBLE) / t.tc
                    - CAST(c.c_ref AS DOUBLE) / t.tr)
                   * LN((CAST(c.c_cur AS DOUBLE) / t.tc)
                        / (CAST(c.c_ref AS DOUBLE) / t.tr))
                   * 1000000000) AS BIGINT)) AS BIGINT) AS psi_e9
        FROM cells c JOIN tots t ON t.event_type = c.event_type
        GROUP BY c.event_type
    )
"""

_PSI_EV = """
    WITH ev AS (
        SELECT event_type,
               CAST(FLOOR({d.epoch_s} / 3600) AS BIGINT) AS h,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    )
"""


def _psi_sql(d: Dialect) -> str:
    return _PSI_EV.format(d=d) + _PSI_CORE


@register(
    "events_psi_drift",
    oracle=_psi_sql(DUCK),
    doc="Population Stability Index of each metric's value distribution, "
    "second half of the time range vs the first (the credit-scoring "
    "drift standard; PSI >= 0.25 flags action): decile edges fixed from "
    "the reference half by each metric's own exact ceil(k*n/10) order "
    "statistics over e3-quantized values (k from an engine-neutral "
    "VALUES table), Laplace +1 smoothing keeps empty bins finite and "
    "deterministic, per-bin (dp)*ln(ratio) terms quantize e9 before the "
    "cross-bin integer sum, and the midpoint split FLOORs explicitly "
    "(the Spark-truncates / DuckDB-rounds CAST hazard). Two map-side "
    "passes over events; everything after is decile-sized.",
)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `hist` feeds the reference-edge pass AND
    # the binned re-measure pass — WITH-inlining re-ran the events
    # scan + half-split + histogram per reference.
    return stage_ctes(spark, _psi_sql(SPARK), "hist")


# ---------------------------------------------------------------------------
# Heaps' law
# ---------------------------------------------------------------------------
# Heaps (1978): vocabulary size grows as V(n) = K * n^beta in corpus
# token count n (beta ~ 0.4-0.6 for natural text). Fit: evaluate V(n)
# at 20 evenly spaced token-count checkpoints via each word's FIRST
# global occurrence position (min over the deterministic (doc_id, pos)
# total order), then OLS on (ln n, ln V) with every LN quantized to an
# e6 integer immediately — e6, not the house-usual e9, because the OLS
# cross moments multiply two log integers and 20 * (ln(n)*1e9)^2 would
# overflow int64; at e6 the products stay < 2^53 and every OLS
# reduction is an exact integer sum. beta's numerator and denominator
# are then EXACT integers (m*sxy - sx*sy, m*sxx - sx*sx) and the only
# doubles are the final two fixed-order expressions.
#
# Scale: global token positions come from per-document offsets (one
# doc-sized aggregate + a doc-sized prefix-sum window, never a global
# token sort); the first-occurrence reduction is one map-side-
# combinable MIN over (word); checkpoints and the OLS run on 20 rows.
# Positions are normalized 1-based on both engines (Spark posexplode
# is 0-based, the DuckDB prologue zips range(0, len)).

_HEAPS_CHECKPOINTS = 20

_HEAPS_CORE = f"""
    , dlen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len
        FROM tok GROUP BY doc_id
    ), doff AS (
        -- the document-offset prefix sum is the query's one globally
        -- ordered pass (one task orders the doc spine): budget-guarded
        -- per the r11 audit; past GLOBAL_RANK_BUDGET documents the
        -- offsets must come from a two-level (chunk, in-chunk) prefix
        -- sum instead. ROW_NUMBER shares the same window — no extra
        -- exchange for the guard.
        SELECT doc_id, off FROM (
            SELECT doc_id,
                   CAST(COALESCE(SUM(len) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS off,
                   ROW_NUMBER() OVER (ORDER BY doc_id) AS drn
            FROM dlen
        ) z WHERE {{guard}}
    ), firsts AS (
        SELECT t.word, CAST(MIN(d.off + t.pos + 1) AS BIGINT) AS fpos
        FROM tok t JOIN doff d ON d.doc_id = t.doc_id
        GROUP BY t.word
    ), nn AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM tok
    ), cps AS (
        SELECT CAST(FLOOR(CAST(k AS DOUBLE) * n_tok / {_HEAPS_CHECKPOINTS})
                   AS BIGINT) AS n_at
        FROM nn CROSS JOIN (
            SELECT CAST(k AS BIGINT) AS k
            FROM (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9),(10),(11),
                         (12),(13),(14),(15),(16),(17),(18),(19),(20))
                AS t(k)
        )
    ), growth AS (
        SELECT c.n_at, CAST(COUNT(*) AS BIGINT) AS v_at
        FROM cps c JOIN firsts f ON f.fpos <= c.n_at
        GROUP BY c.n_at
    ), logs AS (
        SELECT CAST(ROUND(LN(CAST(n_at AS DOUBLE)) * 1000000) AS BIGINT)
                   AS lx_e6,
               CAST(ROUND(LN(CAST(v_at AS DOUBLE)) * 1000000) AS BIGINT)
                   AS ly_e6
        FROM growth
    ), mom AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(lx_e6) AS BIGINT) AS sx,
               CAST(SUM(ly_e6) AS BIGINT) AS sy,
               CAST(SUM(lx_e6 * ly_e6) AS BIGINT) AS sxy,
               CAST(SUM(lx_e6 * lx_e6) AS BIGINT) AS sxx
        FROM logs
    )
    SELECT m AS n_checkpoints,
           CAST(ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
                      / (m * sxx - sx * sx) * 1000000000) AS BIGINT)
               AS beta_e9,
           CAST(ROUND(EXP(
               (CAST(sy AS DOUBLE)
                - CAST(m * sxy - sx * sy AS DOUBLE)
                  / (m * sxx - sx * sx) * sx)
               / m / 1000000.0e0) * 1000000) AS BIGINT) AS k_e6
    FROM mom
"""

_HEAPS_TOK_SPARK = """
    WITH tok AS (
        SELECT doc_id, pos, word
        FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
        WHERE word <> ''
    )
"""

_HEAPS_TOK_DUCK = """
    WITH tok AS MATERIALIZED (
        SELECT doc_id, pos, word FROM (
            SELECT doc_id,
                   UNNEST(range(0, LEN(toks))) AS pos,
                   UNNEST(toks) AS word
            FROM (SELECT doc_id, string_split(text, ' ') AS toks
                  FROM documents)
        ) WHERE word <> ''
    )
"""


def _heaps_sql(d: Dialect) -> str:
    tok = _HEAPS_TOK_SPARK if d is SPARK else _HEAPS_TOK_DUCK
    return tok + _HEAPS_CORE.format(guard=global_rank_guard(d, "drn"))


@register(
    "text_heaps_law",
    oracle=_heaps_sql(DUCK),
    doc="Heaps' law fit V(n) = K*n^beta of vocabulary growth: V at 20 "
    "evenly spaced token-count checkpoints via each word's first global "
    "occurrence ((doc_id, pos)-ordered position — deterministic at any "
    "parallelism), then log-log OLS with every LN quantized to an e6 "
    "integer immediately (e6 so the OLS cross moments stay < 2^53 — "
    "e9 logs squared would overflow int64); beta's numerator and "
    "denominator are exact integers. Companion of text_zipf_fit (the "
    "two classic corpus laws; beta near 0 here — the synthetic 31-word "
    "vocabulary saturates instantly, which the fit correctly reports). "
    "The first-occurrence MIN is the only data-sized stage.",
)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_heaps_sql(SPARK))
