"""Statistical testing and decomposition operators.

The experimentation tier every metrics engine grows next to its dashboards:
A/B significance testing (Welch's t), categorical independence screening
(chi-square), and classical seasonal decomposition — each expressed so the
entire answer hash-verifies against DuckDB.

Cross-engine determinism recipe (the round-8 rounding discipline):
- Raw measurements quantize to scaled BIGINT at the scan (``ROUND(x * 10^k)``
  to scale 0 — half-away-from-zero on both engines), so every SUM in the
  query is an exact integer aggregation: addition-order-free, safe for
  map-side partial aggregation at any parallelism.
- The closed-form statistics (t, df, chi2 contributions, Cramér's V) are
  then fixed DAGs of IEEE double ops (divide, multiply, sqrt) over those
  exact integers. Each op is correctly rounded, so identical SQL text ⇒
  bit-identical doubles on every engine — the t-test and chi-square
  templates are ONE SQL string run verbatim by both Spark and DuckDB
  (the sketches-module technique).
- Outputs quantize back to BIGINT, so the driver hashes integers only.
- Degenerate inputs (a 1-row arm, a zero-variance group) are guarded with
  explicit CASE WHEN gates (0 / FALSE fallbacks) BEFORE any divide or sqrt:
  Spark's x/0 yields NULL while DuckDB's IEEE float divide yields ±inf —
  a cross-engine divergence (and DuckDB errors casting inf/NaN to BIGINT),
  so an unguarded degenerate group would turn a rare-metric corpus into an
  opaque red row. Guards mirror the stats_proportion_ztest precedent.

Scale posture: the t-test and chi-square are single-pass aggregations whose
post-shuffle state is arm/cell-count-sized (10 rows / 100 cells); the
global-scalar joins (totals, dims) are the broadcast-cross-join pattern
plan-asserted throughout the repo. Seasonal decomposition shuffles one row
per (series, hour) bucket — pre-aggregated density, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.plans import stage_memo
from emr_with_custom_metrics_spark.registry import register

# Deterministic 50/50 arm assignment: first md5 nibble of the unit id.
# A pure function of row identity (the sample_stratified precedent), so the
# oracle reproduces the assignment exactly and re-runs are stable.
_ARM = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('ab|', "
    "CAST(user_id AS STRING))), 1, 1)) - 1) < 8 THEN 'A' ELSE 'B' END"
)

_TTEST_SQL = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), arms AS (
        SELECT event_type, arm,
               COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type, arm
    ), stats AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               (CAST(a.s1 AS DOUBLE) / a.n) / CAST(1000 AS DOUBLE) AS mean_a,
               (CAST(b.s1 AS DOUBLE) / b.n) / CAST(1000 AS DOUBLE) AS mean_b,
               ((CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   / (a.n - 1)) / CAST(1000000 AS DOUBLE) AS var_a,
               ((CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n)
                   / (b.n - 1)) / CAST(1000000 AS DOUBLE) AS var_b
        FROM arms a JOIN arms b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n > 1 AND b.n > 1
    ), welch AS (
        SELECT event_type, n_a, n_b, mean_a, mean_b, var_a, var_b,
               var_a / n_a + var_b / n_b AS se2
        FROM stats
    )
    SELECT event_type, n_a, n_b,
           CAST(ROUND(mean_a * 1000000) AS BIGINT) AS mean_a_e6,
           CAST(ROUND(mean_b * 1000000) AS BIGINT) AS mean_b_e6,
           CAST(ROUND((mean_a - mean_b) * 1000000) AS BIGINT) AS diff_e6,
           CASE WHEN se2 > 0
                THEN CAST(ROUND(((mean_a - mean_b) / sqrt(se2)) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS t_e6,
           CASE WHEN se2 > 0
                THEN CAST(ROUND((se2 * se2
                       / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
                          + (var_b / n_b) * (var_b / n_b) / (n_b - 1)))
                     * 1000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS df_e3,
           CASE WHEN se2 > 0
                THEN ABS((mean_a - mean_b) / sqrt(se2))
                     > CAST(1.96 AS DOUBLE)
                ELSE FALSE END AS significant
    FROM welch
"""


@register(
    "stats_ab_ttest",
    oracle=_TTEST_SQL,
    doc="Welch's unequal-variance t-test per metric (event_type): users "
    "split 50/50 into arms by an md5 nibble of user_id (deterministic "
    "bucketing — the production A/B assignment function), values "
    "quantized to exact 1e-3 integers so n/Σx/Σx² are exact integer "
    "aggregates, then t and the Welch–Satterthwaite df computed as one "
    "shared Spark/DuckDB SQL template (identical IEEE op DAG ⇒ "
    "bit-identical doubles). Null data ⇒ |t| should hover near 0; the "
    "1.96 two-sided 5% gate is emitted as a boolean. One map-side "
    "combinable aggregation; at 100 TB the shuffle carries 10 partial "
    "(type, arm) triples per mapper, nothing else.",
)
def stats_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_TTEST_SQL)


# Everything derives from the 100-cell `obs` aggregate — the raw table is
# scanned ONCE (the first draft's grid/dims subqueries each re-scanned
# documents; SUM(o) over obs equals COUNT(*) over documents, and the
# distinct category sets are obs's key columns). Spark stages obs behind
# a localCheckpoint because the tail references it three times.
_CHI2_TAIL = """
    , cells AS (
        SELECT g.lang, g.source, COALESCE(o.o, CAST(0 AS BIGINT)) AS o
        FROM (SELECT l.lang, s.source
              FROM (SELECT DISTINCT lang FROM obs) l
              CROSS JOIN (SELECT DISTINCT source FROM obs) s) g
        LEFT JOIN obs o ON g.lang = o.lang AND g.source = o.source
    ), tot AS (
        SELECT c.lang, c.source, c.o,
               CAST(SUM(c.o) OVER (PARTITION BY c.lang) AS BIGINT) AS row_tot,
               CAST(SUM(c.o) OVER (PARTITION BY c.source) AS BIGINT) AS col_tot,
               CAST(SUM(c.o) OVER () AS BIGINT) AS n
        FROM cells c
    ), expected AS (
        SELECT lang, source, o,
               CAST(row_tot AS DOUBLE) * col_tot / n AS e
        FROM tot
    ), q AS (
        SELECT lang, source, o,
               CAST(ROUND(e * 1000000) AS BIGINT) AS exp_e6,
               CAST(ROUND(((o - e) * (o - e) / e) * 1000000000) AS BIGINT)
                   AS cell_chi_e9
        FROM expected
    ), dims AS (
        SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS nr,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS nc,
               CAST(SUM(o) AS BIGINT) AS n
        FROM obs
    ), total AS (
        SELECT CAST(SUM(cell_chi_e9) AS BIGINT) AS chi2_e9 FROM q
    )
    SELECT q.lang, q.source, q.o AS observed, q.exp_e6, q.cell_chi_e9,
           t.chi2_e9,
           (d.nr - 1) * (d.nc - 1) AS dof,
           CAST(ROUND(sqrt((t.chi2_e9 / CAST(1000000000 AS DOUBLE))
                           / (d.n * LEAST(d.nr - 1, d.nc - 1))) * 1000000)
               AS BIGINT) AS cramers_v_e6
    FROM q CROSS JOIN total t CROSS JOIN dims d
"""

_CHI2_OBS = (
    "SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source"
)
_CHI2_SQL = f"WITH obs AS ({_CHI2_OBS})" + _CHI2_TAIL


@register(
    "stats_chi2_independence",
    oracle=_CHI2_SQL,
    doc="Chi-square test of independence over the documents lang × source "
    "contingency table, zero cells included (the full grid is a cross "
    "join of the observed category sets — omitting empty cells "
    "understates chi2). Expected counts come from exact integer "
    "row/column/grand totals; each cell's (O−E)²/E quantizes to 1e-9 "
    "BIGINT before the total sum so the reduction is order-free. Emits "
    "per-cell rows (observed, expected, contribution) plus the table "
    "statistics (chi2, dof, Cramér's V) as constant columns — one result "
    "a dashboard can both plot and threshold. One shared Spark/DuckDB "
    "SQL template. At scale: one groupBy the size of the category grid, "
    "then window/broadcast passes over ~100 rows.",
)
def stats_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    # The alias keeps the bound frame's generated (per-call random) view
    # name out of the plan: the distinct-count rewrite qualifies its
    # Expand attributes with it.
    return spark.sql(
        "WITH obs AS (SELECT * FROM {obs} obs)" + _CHI2_TAIL,
        obs=spark.sql(_CHI2_OBS).localCheckpoint(),
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (trend + seasonal + remainder)
# ---------------------------------------------------------------------------
# The arithmetic below the spine is IDENTICAL TEXT in both dialects; the
# counts and hour spine above it come from spine_from_counts(d).

_DECOMP_CORE = """
    , dense AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h, COALESCE(c.cnt, CAST(0 AS BIGINT)) AS c
        FROM spine s LEFT JOIN counts c
          ON s.event_type = c.event_type AND s.h = c.h
    ), ma AS (
        SELECT event_type, h, c,
               CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS BIGINT)
                   AS w_sum,
               COUNT(*) OVER (PARTITION BY event_type ORDER BY h
                     ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS w_n
        FROM dense
    ), detr AS (
        SELECT event_type, h, c,
               CAST(w_sum AS DOUBLE) / CAST(24 AS DOUBLE) AS trend,
               CAST(ROUND((c - CAST(w_sum AS DOUBLE) / CAST(24 AS DOUBLE))
                          * 1000000) AS BIGINT) AS detrended_e6
        FROM ma WHERE w_n = 24
    ), seas AS (
        SELECT event_type, h % 24 AS hod,
               CAST(ROUND(CAST(SUM(detrended_e6) AS DOUBLE) / COUNT(*))
                   AS BIGINT) AS seasonal_e6
        FROM detr GROUP BY event_type, h % 24
    )
    SELECT /*+ BROADCAST(s) */ d.event_type, d.h, d.c,
           CAST(ROUND(d.trend * 1000000) AS BIGINT) AS trend_e6,
           s.seasonal_e6,
           d.detrended_e6 - s.seasonal_e6 AS remainder_e6
    FROM detr d JOIN seas s
      ON d.event_type = s.event_type AND d.h % 24 = s.hod
"""

# The decomposition family scans EVENTS exactly once: the first reduction
# (per-(series, hour) counts) is computed up front and every other CTE —
# bounds, the series list, the dense spine — derives from the counts,
# never from the raw table. The core references counts three times and
# Spark inlines WITH-chains per reference, so the un-staged plan re-ran
# the events scan per consumer (the rolling-actives lesson): Spark stages
# ``counts`` (hour_counts_sql). DuckDB materializes CTEs, so the oracle
# runs the same chain as one statement.
_COUNTS = """counts AS {mat}(
        SELECT event_type,
               CAST(FLOOR({d.epoch_s} / 3600) AS BIGINT) AS h,
               COUNT(*) AS cnt
        FROM events GROUP BY 1, 2
    )"""


def counts_cte(d: Dialect, mat: str = "") -> str:
    """The per-(series, hour) event ``counts`` CTE every hour-count
    reader starts from; ``mat`` is ``d.mat`` where the oracle forces one
    evaluation."""
    return _COUNTS.format(d=d, mat=mat)


def spine_from_counts(d: Dialect) -> str:
    """``counts`` and the dense (series, hour) ``spine`` CTEs."""
    return f"""
    WITH {counts_cte(d)}, spine AS (
        SELECT t.event_type, g.h
        FROM (SELECT DISTINCT event_type FROM counts) t
        CROSS JOIN (SELECT {d.series("b.hmin", "b.hmax")} AS h
                    FROM (SELECT MIN(h) AS hmin, MAX(h) AS hmax
                          FROM counts) b) g
    )
"""


# Dense hourly series body shared by the matrix profile (wave9d) and
# cross-correlation (wave9h): the spine LEFT JOIN counts with a
# per-series 0-based ROW_NUMBER index. One definition — a spine change
# must not silently desync the two consumers (round-9 review item).
_DENSE_HOURLY_X_BODY = """
    SELECT /*+ BROADCAST(c) */
           s.event_type,
           CAST(ROW_NUMBER() OVER (PARTITION BY s.event_type
                                   ORDER BY s.h) - 1 AS BIGINT) AS t,
           CAST(COALESCE(c.cnt, 0) AS BIGINT) AS v
    FROM spine s LEFT JOIN counts c
      ON c.event_type = s.event_type AND c.h = s.h
"""

# The matrix-profile / cross-correlation all-pairs stages are O(spine²)
# and their "constant size" claim rests on the corpus spanning ~30 days
# (720 hourly points). A years-spanning corpus would grow those joins
# quadratically and SILENTLY — so the shared series body fails LOUDLY
# past this budget (the wordpiece assert_true idiom, r9 VERDICT item 1).
# 1440 points = 60 days = 2x the fixture. Raising it is a deliberate
# decision: chunk by (series, month) with carried boundary state instead.
_SPINE_BUDGET_HOURS = 1440

_SPINE_BUDGET_MSG = (
    "dense hourly spine exceeds %d points/series; the matrix-profile/"
    "cross-correlation all-pairs stages are calendar-bounded O(n^2) - "
    "chunk by (series, month) before raising _SPINE_BUDGET_HOURS"
    % _SPINE_BUDGET_HOURS
)


def dense_hourly_x_guarded(d: Dialect) -> str:
    """``_DENSE_HOURLY_X_BODY`` with an in-plan, per-row budget check:
    execution (not analysis) raises the moment any series index passes
    the budget, on BOTH engines (Spark ``assert_true``, DuckDB
    ``error()``) — the answer is untouched while the bound holds."""
    guard = d.guard(f"g.t < {_SPINE_BUDGET_HOURS}", _SPINE_BUDGET_MSG)
    return f"SELECT g.* FROM ({_DENSE_HOURLY_X_BODY}) g WHERE {guard}"


# The corpus-law fits rank a GLOBALLY ORDERED relation through one task
# (zipf: the term vocabulary; heaps: the document spine for the offset
# prefix sum). Vocabulary is Heaps-sublinear in tokens but NOT capped —
# at 100 TB of web text types reach 1e9+ — and the document spine is
# linear in documents, so both queries carry this per-row budget check
# (r11 VERDICT item 1, the audit's one unbounded SinglePartition
# class). 4e6 rows through one sort task is seconds; past it the query
# fails LOUDLY with the switch recipe instead of silently serializing.
# Top-k consumers (pmi/bm25/kendall_w/burstiness/unigram-LM selection)
# don't need the guard: round 12 rewrote them to ORDER BY .. LIMIT k
# (TakeOrderedAndProject — per-partition top-k, no global sort).
GLOBAL_RANK_BUDGET = 4_000_000

_GLOBAL_RANK_MSG = (
    "globally ranked relation exceeds %d rows; one task sorts it - "
    "switch to the frequency-histogram rank form (SCALING.md round-11 "
    "audit, vocab-ranked class) or chunk the spine before raising "
    "GLOBAL_RANK_BUDGET" % GLOBAL_RANK_BUDGET
)


def global_rank_guard(d: Dialect, rank_col: str) -> str:
    """Per-row in-plan budget check over a globally ranked relation:
    TRUE while ``rank_col`` (a ROW_NUMBER over the unpartitioned order)
    is within budget, raises at EXECUTION past it (Spark
    ``assert_true``, DuckDB ``error()``) — the spine-budget idiom for
    the round-11 audit's vocab-ranked class. The answer is untouched
    while the bound holds."""
    return d.guard(f"{rank_col} <= {GLOBAL_RANK_BUDGET}", _GLOBAL_RANK_MSG)


def hour_counts_sql(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run ``text``, a chain that starts with :func:`counts_cte`, over
    the ``events`` view with its ``counts`` CTE staged."""
    register_views(spark, sf_dir, ("events",))
    return stage_memo.stage_ctes(spark, text, "counts")


@register(
    "timeseries_seasonal_decompose",
    oracle=spine_from_counts(DUCK) + _DECOMP_CORE,
    doc="Classical additive seasonal decomposition of per-metric hourly "
    "event counts: trend = 24-hour centered moving average over a DENSE "
    "hour spine (missing hours are real zeros, not absent rows — the "
    "spine is the cross join of series × generate_series/sequence over "
    "the global hour range), seasonal = per hour-of-day mean of the "
    "detrended series, remainder = what neither explains. Counts and "
    "detrended values live in integer domain (1e-6 quantization before "
    "every mean), so window sums and group means are exact-integer "
    "reductions; edge hours without a full 24-row window are excluded "
    "rather than padded. Only the spine generator differs between the "
    "Spark and DuckDB texts; every arithmetic expression is literally "
    "identical. At 100 TB the shuffle carries (series, hour, count) "
    "rows — the pre-aggregated density, never events.",
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _DECOMP_CORE)


# ---------------------------------------------------------------------------
# Mann-Whitney U (the nonparametric complement of stats_ab_ttest)
# ---------------------------------------------------------------------------
# Midranks are computed DISTRIBUTIVELY: group by (metric, quantized value)
# first, then one window pass over the DISTINCT value counts — the two-pass
# distributed ranking that avoids sorting raw rows through a single
# per-metric reducer (the naive RANK() OVER (PARTITION BY metric ORDER BY
# value) plan). Doubled midranks (2*below + t + 1) keep every rank quantity
# an exact integer; ties get the standard variance correction.

_MWU_SQL = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), g AS (
        SELECT event_type, v_e3,
               COUNT(*) AS t,
               CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                   AS ta
        FROM base GROUP BY event_type, v_e3
    ), w AS (
        SELECT event_type, v_e3, t, ta,
               CAST(SUM(t) OVER (PARTITION BY event_type ORDER BY v_e3
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) - t AS below
        FROM g
    ), s AS (
        SELECT event_type,
               CAST(SUM(ta) AS BIGINT) AS n_a,
               CAST(SUM(t - ta) AS BIGINT) AS n_b,
               CAST(SUM(ta * (2 * below + t + 1)) AS BIGINT) AS sum_a2,
               CAST(SUM(t * t * t - t) AS BIGINT) AS tie_sum
        FROM w GROUP BY event_type
    ), u AS (
        SELECT event_type, n_a, n_b,
               sum_a2 - n_a * (n_a + 1) AS u2,
               CASE WHEN n_a + n_b > 1
                    THEN (CAST(n_a AS DOUBLE) * n_b / 12)
                         * ((n_a + n_b + 1)
                            - CAST(tie_sum AS DOUBLE)
                              / ((n_a + n_b) * (n_a + n_b - 1)))
                    ELSE CAST(0 AS DOUBLE) END AS var_u
        FROM s
    )
    SELECT event_type, n_a, n_b, u2,
           CASE WHEN var_u > 0
                THEN CAST(ROUND(((u2 - CAST(n_a AS DOUBLE) * n_b)
                       / (2 * sqrt(var_u))) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN var_u > 0
                THEN ABS((u2 - CAST(n_a AS DOUBLE) * n_b)
                         / (2 * sqrt(var_u))) > CAST(1.96 AS DOUBLE)
                ELSE FALSE END AS significant
    FROM u
"""


@register(
    "stats_mann_whitney",
    oracle=_MWU_SQL,
    doc="Mann-Whitney U (Wilcoxon rank-sum) per metric on the same md5 "
    "arms as stats_ab_ttest — the nonparametric pair: rank-based, so "
    "heavy-tailed metrics can't fake significance through variance. "
    "Doubled midranks (2*count_below + ties + 1) stay exact integers; "
    "the normal approximation carries the standard tie correction "
    "(continuity correction omitted at n≈1000, documented). Scale "
    "posture: ranks come from grouping by (metric, value) THEN one "
    "window over distinct-value counts — cardinality-of-support rows, "
    "not raw rows, cross the final ordered pass.",
)
def stats_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MWU_SQL)


# ---------------------------------------------------------------------------
# CUPED variance reduction (experimentation platform tier 2)
# ---------------------------------------------------------------------------

_CUPED_SQL = """
    WITH q AS (
        SELECT user_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS v_e2,
               CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 0 ELSE 1 END
                   AS is_post
        FROM events
    ), per_user AS (
        SELECT event_type, user_id,
               CAST(SUM(CASE WHEN is_post = 0 THEN v_e2 ELSE 0 END)
                   AS BIGINT) AS x,
               CAST(SUM(CASE WHEN is_post = 1 THEN v_e2 ELSE 0 END)
                   AS BIGINT) AS y
        FROM q GROUP BY event_type, user_id
    ), mom AS (
        SELECT event_type,
               COUNT(*) AS n_users,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy,
               CAST(SUM(x * y) AS BIGINT) AS sxy
        FROM per_user GROUP BY event_type
    ), stats AS (
        SELECT event_type, n_users,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n_users)
                   / (n_users - 1) AS var_x,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n_users)
                   / (n_users - 1) AS var_y,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n_users)
                   / (n_users - 1) AS cov_xy
        FROM mom WHERE n_users > 1
    )
    SELECT event_type, n_users,
           CASE WHEN var_x > 0
                THEN CAST(ROUND((cov_xy / var_x) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS theta_e6,
           CAST(ROUND(var_y / CAST(10000 AS DOUBLE)) AS BIGINT) AS var_y_units,
           CASE WHEN var_x > 0
                THEN CAST(ROUND((var_y - cov_xy * cov_xy / var_x)
                          / CAST(10000 AS DOUBLE)) AS BIGINT)
                ELSE CAST(ROUND(var_y / CAST(10000 AS DOUBLE)) AS BIGINT)
                END AS var_adj_units,
           CASE WHEN var_x > 0 AND var_y > 0
                THEN CAST(ROUND((cov_xy * cov_xy / (var_x * var_y)) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS reduction_e6
    FROM stats
"""


@register(
    "stats_cuped_variance_reduction",
    oracle=_CUPED_SQL,
    doc="CUPED (controlled-experiment using pre-experiment data, Deng et "
    "al. WSDM'13) — the standard experimentation-platform variance "
    "reducer: each user's first-half-of-month metric is the covariate x "
    "for their second-half outcome y; theta = cov(x,y)/var(x) and the "
    "adjusted variance var(y) - cov²/var(x) come from one pass of exact "
    "integer moments per (metric, user). The achieved reduction equals "
    "corr(x,y)² by construction, emitted at 1e-6. Per-user sums quantize "
    "at 1e-2 so the x² moment stays inside BIGINT through sf1 (the "
    "magnitude audit is in the round-8 notes). One groupBy(user) + one "
    "metric-sized reduce — the canonical 100 TB two-pass shape.",
)
def stats_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_CUPED_SQL)


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals (the bootstrap that scales)
# ---------------------------------------------------------------------------
# Classic resampling draws n-out-of-n WITH replacement — impossible to do
# distributively without coordinating a global multinomial. The Poisson
# bootstrap (each row enters each replica Poisson(1) times, independently)
# is the standard scale-out approximation: weights are a pure per-(row,
# replica) function, so the whole procedure is one explode + one
# aggregation. Here the Poisson draw itself is md5-derived — a 32-bit
# uniform compared against the precomputed Poisson(1) CDF thresholds
# (scaled by 2^32, exact integer compares) — so both engines materialize
# identical weights and the CI hash-verifies.

# Poisson(1) CDF * 2^32, k = 0..6 (beyond 6: weight 7, p ~ 1e-5)
_POIS_THRESH = (
    1580030169, 3160060337, 3950075422, 4213413783,
    4279248374, 4292415292, 4294609778,
)
_POIS_W = "CASE " + " ".join(
    f"WHEN u32 < {t} THEN {k}" for k, t in enumerate(_POIS_THRESH)
) + " ELSE 7 END"

# Hot-path lesson (A/B-measured at sf0.1): the nibble-by-nibble
# instr/substring h32 costs more than the md5 itself on a 3.2M-row
# explode, and a packed 4-replicas-per-digest variant measured SLOWER
# still (computed substring offsets defeat constant folding, and the
# digest string rides an extra join). The fast form is one md5 + ONE
# 8-hex-char parse per (row, replica): Spark conv(hex,16,10), DuckDB
# '0x…'::BIGINT — the round-7-documented cheap hex→int pair.
_BOOT_KEY = (
    "md5(concat('boot|', CAST(r.b AS STRING), '|', "
    "CAST(base.event_id AS STRING)))"
)
_BOOT_TAIL = f"""
    , weighted AS (
        SELECT event_type, b, v_e3, {_POIS_W} AS w FROM u
    ), reps AS (
        SELECT event_type, b,
               CAST(SUM(w * v_e3) AS BIGINT) AS sw,
               CAST(SUM(w) AS BIGINT) AS cw
        FROM weighted GROUP BY event_type, b
    ), means AS (
        SELECT event_type, b,
               CAST(sw AS DOUBLE) / cw / CAST(1000 AS DOUBLE) AS m
        FROM reps
    ), ranked AS (
        SELECT event_type, m,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY m, b)
                   AS rn
        FROM means
    ), point AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1
        FROM base GROUP BY event_type
    ), ci AS (
        SELECT lo.event_type,
               lo.m AS lo_m, hi.m AS hi_m
        FROM (SELECT event_type, m FROM ranked WHERE rn = 2) lo
        JOIN (SELECT event_type, m FROM ranked WHERE rn = 31) hi
          ON lo.event_type = hi.event_type
    )
    SELECT p.event_type, p.n,
           CAST(ROUND((CAST(p.s1 AS DOUBLE) / p.n / CAST(1000 AS DOUBLE))
                      * 1000000) AS BIGINT) AS point_mean_e6,
           CAST(ROUND(c.lo_m * 1000000) AS BIGINT) AS ci_lo_e6,
           CAST(ROUND(c.hi_m * 1000000) AS BIGINT) AS ci_hi_e6,
           CAST(ROUND((c.hi_m - c.lo_m) * 1000000) AS BIGINT) AS width_e6,
           (CAST(p.s1 AS DOUBLE) / p.n / CAST(1000 AS DOUBLE)) >= c.lo_m
               AND (CAST(p.s1 AS DOUBLE) / p.n / CAST(1000 AS DOUBLE))
                   <= c.hi_m AS point_in_ci
    FROM point p JOIN ci c ON p.event_type = c.event_type
"""



def _boot_sql(d: Dialect) -> str:
    if d is SPARK:
        u32 = f"CAST(conv(substring({_BOOT_KEY}, 1, 8), 16, 10) AS BIGINT)"
        reps = "(SELECT explode(sequence(0, 31)) AS b) r"
    else:
        u32 = f"CAST('0x' || substring({_BOOT_KEY}, 1, 8) AS BIGINT)"
        reps = "(SELECT UNNEST(range(0, 32)) AS b) r(b)"
    return f"""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), u AS (
        SELECT base.event_type, r.b, base.v_e3,
               {u32} AS u32
        FROM base CROSS JOIN {reps}
    )
{_BOOT_TAIL}
"""


@register(
    "stats_bootstrap_ci",
    oracle=_boot_sql(DUCK),
    doc="Poisson-bootstrap 90%-ish confidence interval for each metric's "
    "mean (B=32 replicas, percentile method at order statistics 2/31): "
    "the bootstrap that actually runs at 100 TB — per-(row, replica) "
    "Poisson(1) weights need no global coordination, so the plan is one "
    "32-way explode + one map-side-combinable aggregation; replica "
    "means are B-sized state per metric. Weights come from md5-derived "
    "32-bit uniforms against exact integer CDF thresholds, so Spark and "
    "DuckDB materialize byte-identical resamples and the CI itself "
    "hash-verifies — a reproducible bootstrap, which seeded RNG engines "
    "cannot give across systems. The uniform is parsed from the digest "
    "in ONE hex→int call per (row, replica) (conv / '0x'::BIGINT), the "
    "A/B-measured fast path over nibble arithmetic.",
)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `ranked` is referenced twice downstream
    # (rn = 2 for the CI low, rn = 31 for the CI high), so WITH-inlining
    # replayed the ENTIRE 32-way explode + per-(row, replica) md5 pass
    # per reference (two identical BroadcastNestedLoopJoin subtrees in
    # plans/r15/stats_bootstrap_ci_before.txt). Stage the replica
    # sufficient statistics (B rows per metric) behind a checkpoint;
    # the explode now runs ONCE. `point` re-derives `base`
    # from events in the tail with the identical expression text, so
    # every value is computed by the same arithmetic as the one-string
    # oracle chain.
    head, _, _ = _boot_sql(SPARK).partition(", means AS")
    tail = _BOOT_TAIL.partition(", means AS")[2]
    return spark.sql(
        """
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), reps AS (
        SELECT * FROM {reps}
    ), means AS"""
        + tail,
        reps=spark.sql(head + " SELECT * FROM reps").localCheckpoint(),
    )


# ---------------------------------------------------------------------------
# Seasonal-residual anomaly screen (composes the decomposition)
# ---------------------------------------------------------------------------

_ANOM_TAIL = """
    , rstats AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(remainder_e6) AS BIGINT) AS sr,
               CAST(SUM(remainder_e6 * remainder_e6) AS BIGINT) AS srr
        FROM decomp GROUP BY event_type
    ), z AS (
        SELECT /*+ BROADCAST(r) */ d.event_type, d.h, d.c, d.remainder_e6,
               CASE WHEN r.n > 1
                         AND (CAST(r.srr AS DOUBLE)
                              - CAST(r.sr AS DOUBLE) * r.sr / r.n) > 0
                    THEN CAST(ROUND(((d.remainder_e6
                           - CAST(r.sr AS DOUBLE) / r.n)
                         / sqrt((CAST(r.srr AS DOUBLE)
                                 - CAST(r.sr AS DOUBLE) * r.sr / r.n)
                                / (r.n - 1))) * 1000000) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS z_e6
        FROM decomp d JOIN rstats r ON d.event_type = r.event_type
    ), top AS (
        SELECT event_type, h, c, remainder_e6, z_e6,
               ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY ABS(z_e6) DESC, h) AS rn
        FROM z
    )
    SELECT event_type, h, c, remainder_e6, z_e6
    FROM top WHERE rn <= 10
"""

_ANOM_DUCK = (
    "WITH decomp AS (" + spine_from_counts(DUCK) + _DECOMP_CORE + ")" + _ANOM_TAIL
)


@register(
    "anomaly_seasonal_residual",
    oracle=_ANOM_DUCK,
    doc="Deseasonalized anomaly screen — the operational payoff of "
    "timeseries_seasonal_decompose: hours are scored by the z-score of "
    "the decomposition REMAINDER (so a busy-hour peak that is pure "
    "seasonality no longer trips the alarm that raw-count z-scores "
    "[events_zscore_outliers] would fire), and the top-10 |z| hours per "
    "metric are reported with deterministic tie-break. Residual moments "
    "are exact integer sums of the already-quantized remainders; one "
    "extra metric-sized reduce + a top-k window over the hourly density.",
)
def anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Stage the full decomposition once: _ANOM_TAIL references it from
    # both the residual-moments reduce and the z projection, and the
    # decomposition itself is the expensive subtree.
    return spark.sql(
        "WITH decomp AS (SELECT * FROM {decomp})" + _ANOM_TAIL,
        decomp=timeseries_seasonal_decompose(spark, sf_dir).localCheckpoint(),
    )


# ---------------------------------------------------------------------------
# Experiment power / sample-size calculator
# ---------------------------------------------------------------------------

_POWER_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), mom AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type
    ), st AS (
        SELECT event_type, n,
               (CAST(s1 AS DOUBLE) / n) / CAST(1000 AS DOUBLE) AS mean_v,
               CASE WHEN n > 1
                    THEN ((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
                         / CAST(1000000 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS var_v
        FROM st_src
    )
    SELECT event_type, n AS n_observed,
           CAST(ROUND(mean_v * 1000000) AS BIGINT) AS mean_e6,
           CAST(ROUND(var_v * 1000000) AS BIGINT) AS var_e6,
           CASE WHEN mean_v <> 0
                THEN CAST(CEIL(2 * CAST(7.848886 AS DOUBLE) * var_v
                     / ((CAST(0.01 AS DOUBLE) * mean_v)
                        * (CAST(0.01 AS DOUBLE) * mean_v))) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS n_per_arm_mde1pct,
           CASE WHEN mean_v <> 0
                THEN CAST(CEIL(2 * CAST(7.848886 AS DOUBLE) * var_v
                     / ((CAST(0.05 AS DOUBLE) * mean_v)
                        * (CAST(0.05 AS DOUBLE) * mean_v))) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS n_per_arm_mde5pct
    FROM st
""".replace("FROM st_src", "FROM mom")


@register(
    "stats_power_analysis",
    oracle=_POWER_SQL,
    doc="Experiment sizing from observed metric moments: per metric, the "
    "required n per arm to detect a 1% / 5% relative lift at 80% power "
    "and two-sided 5% significance — n = 2(z_.975+z_.80)^2 var / delta^2 "
    "with (z_.975+z_.80)^2 = 7.848886 pinned as a literal. The "
    "experimentation-platform planning companion to stats_ab_ttest "
    "(which tests) and stats_cuped_variance_reduction (which shrinks the "
    "var term in this very formula). One exact-integer moment "
    "aggregation; output is metric-count-sized.",
)
def stats_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_POWER_SQL)


# ---------------------------------------------------------------------------
# Autocorrelation function of the hourly event density
# ---------------------------------------------------------------------------
# Exact-integer trick: center through d_t = N*c_t - S (N hours, S total
# events — both integers), so numerator and denominator of every ACF lag are
# EXACT integer sums (the common N^2 factor cancels in the ratio).
#
# _ACF_CORE is the DuckDB oracle's form: lag pairs come from an equi-join
# on (series, h + lag) over the dense spine, an independent reference for
# the Spark kernel below. Its in-text remark that the density is "loudly
# guarded" is wrong and stays only because the oracle text is pinned: no
# ACF row ever applied dense_hourly_x_guarded. dense/d hold series x N
# rows, where N is the global spine length in hours — calendar-bounded
# (~720 on the fixture, 8,760 per year) but not budget-checked.

_ACF_CORE = """
    , dense AS (
        -- r16: BROADCAST hints (guide §3.1) on every model-sized side —
        -- the checkpoint-staged counts view carries no size statistics
        -- so these joins silently degraded to SortMergeJoin (the
        -- lost-statistics hazard, tools/audit_checkpoint_joins.py).
        -- counts/dense/d are spine-bounded (<= _SPINE_BUDGET_HOURS per
        -- series, loudly guarded); tot/den are one row per series.
        -- DuckDB parses the hints as plain comments.
        SELECT /*+ BROADCAST(c) */
               s.event_type, s.h, COALESCE(c.cnt, CAST(0 AS BIGINT)) AS c
        FROM spine s LEFT JOIN counts c
          ON s.event_type = c.event_type AND s.h = c.h
    ), tot AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
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
               CAST(SUM(d1.dv * d2.dv) AS BIGINT) AS num,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM d d1
        CROSS JOIN lags l
        JOIN d d2 ON d2.event_type = d1.event_type AND d2.h = d1.h + l.lag
        GROUP BY d1.event_type, l.lag
    )
    SELECT /*+ BROADCAST(dn) */
           n.event_type, n.lag, n.n_pairs,
           CAST(ROUND((CAST(n.num AS DOUBLE) / dn.den) * 1000000) AS BIGINT)
               AS acf_e6
    FROM num n JOIN den dn ON n.event_type = dn.event_type
"""

_ACF_DUCK = (
    spine_from_counts(DUCK)
    + ", lags AS (SELECT UNNEST(generate_series(1, 24)) AS lag)"
    + _ACF_CORE
)

# The Spark side of the whole ACF family (timeseries_autocorrelation,
# stats_ljung_box, timeseries_pacf_durbin, timeseries_ar_order_fit): one
# pass per series, no staged view and no lag self-join. Hour counts
# shuffle by (series, hour); one aggregate per series packs them into a
# map with the series' MIN/MAX hour and S; the global spine bounds are a
# window over those metric-count-sized rows (a second reference to
# counts would re-scan events). v is the centered series d = N*c - S
# over the spine, one array of N longs per series; den and each lag's
# numerator are array folds over it, O(24*N) per series. Lags with
# N <= lag emit no row, as the join did (Spark's sequence(0, -1) counts
# DOWN, so the filter is load-bearing). The window also keeps the map
# a column: directly over the aggregate, CollapseProject would inline
# map_from_entries(collect_list(...)) into the transform lambda and
# rebuild the map per element, O(N^2) (SCALING.md, the ACF entry).
# Defines acf(event_type, lag INT, n_pairs BIGINT, acf_e6 BIGINT); a
# series' N is n_pairs + lag on any of its rows.
_ACF_KERNEL_SPARK = """
    WITH {counts}, ser AS (
        SELECT event_type,
               map_from_entries(collect_list(struct(h, cnt))) AS m,
               MIN(h) AS smin, MAX(h) AS smax,
               CAST(SUM(cnt) AS BIGINT) AS s
        FROM counts WHERE h IS NOT NULL GROUP BY event_type
    ), spanned AS (
        SELECT event_type, m, s,
               MIN(smin) OVER () AS hmin, MAX(smax) OVER () AS hmax
        FROM ser
    ), centered AS (
        -- a NULL series is in the join form's spine (so in the bounds)
        -- but never pairs with itself
        SELECT event_type, hmax - hmin + 1 AS n,
               transform(sequence(hmin, hmax),
                         h -> (hmax - hmin + 1)
                              * COALESCE(m[h], CAST(0 AS BIGINT)) - s) AS v
        FROM spanned WHERE event_type IS NOT NULL
    ), lagged AS (
        SELECT event_type,
               aggregate(v, CAST(0 AS BIGINT), (a, x) -> a + x * x) AS den,
               inline(transform(filter(sequence(1, 24), l -> l < n),
                   l -> named_struct(
                       'lag', l,
                       'n_pairs', n - l,
                       'num', aggregate(sequence(0, CAST(n - 1 - l AS INT)),
                                        CAST(0 AS BIGINT),
                                        (a, i) -> a + v[i] * v[i + l]))))
        FROM centered
    ), acf AS (
        SELECT event_type, lag, n_pairs,
               CAST(ROUND((CAST(num AS DOUBLE) / den) * 1000000) AS BIGINT)
                   AS acf_e6
        FROM lagged{where}
    )
"""


def acf_kernel_spark(positive_den: bool = False) -> str:
    """The family's WITH-prefix defining ``acf``. ``positive_den`` drops
    series whose centered variance is 0 (PACF, AR fit); without it such a
    series raises DIVIDE_BY_ZERO, as the join form did."""
    return _ACF_KERNEL_SPARK.format(
        counts=counts_cte(SPARK), where=" WHERE den > 0" if positive_den else ""
    )


_ACF_SPARK = (
    acf_kernel_spark() + "    SELECT event_type, lag, n_pairs, acf_e6 FROM acf\n"
)


@register(
    "timeseries_autocorrelation",
    oracle=_ACF_DUCK,
    doc="ACF at lags 1-24h of each metric's hourly event density over the "
    "dense spine — the diagnostic that picks the seasonal period "
    "timeseries_seasonal_decompose assumes and the AR order "
    "timeseries_ar2_forecast fits. Integer-exact end to end: centering "
    "via d = N*c - S keeps both the lag products and the variance "
    "denominator exact integer sums (the N² factor cancels in the "
    "ratio); the single division per (metric, lag) quantizes to 1e-6. "
    "Spark reads events once and folds each series' centered hourly "
    "array per lag; the oracle pairs lags by an equi-join on "
    "(series, h+lag).",
)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ACF_SPARK)


# ---------------------------------------------------------------------------
# One-way ANOVA (F test across all metrics' value distributions)
# ---------------------------------------------------------------------------

_ANOVA_SQL = """
    WITH base AS (
        SELECT event_type, CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2,
               CAST(ROUND(CAST(SUM(v_e3) AS DOUBLE) * SUM(v_e3)
                    / COUNT(*)) AS BIGINT) AS sqm_q
        FROM base GROUP BY event_type
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(n) AS BIGINT) AS nn,
               CAST(SUM(s1) AS BIGINT) AS ts1,
               CAST(SUM(s2) AS BIGINT) AS ts2,
               CAST(CAST(SUM(sqm_q) AS BIGINT) AS DOUBLE) AS sum_sq_means
        FROM g
    ), ss AS (
        SELECT k, nn,
               (sum_sq_means - CAST(ts1 AS DOUBLE) * ts1 / nn)
                   / CAST(1000000 AS DOUBLE) AS ssb,
               (CAST(ts2 AS DOUBLE) - sum_sq_means)
                   / CAST(1000000 AS DOUBLE) AS ssw
        FROM tot
    )
    SELECT k AS n_groups, nn AS n_total,
           CAST(ROUND(ssb * 1000) AS BIGINT) AS ssb_e3,
           CAST(ROUND(ssw * 1000) AS BIGINT) AS ssw_e3,
           CAST(ROUND(((ssb / (k - 1)) / (ssw / (nn - k))) * 1000000)
               AS BIGINT) AS f_e6,
           CAST(ROUND((ssb / (ssb + ssw)) * 1000000) AS BIGINT) AS eta2_e6,
           ((ssb / (k - 1)) / (ssw / (nn - k))) > CAST(2.37 AS DOUBLE)
               AS significant
    FROM ss
"""


@register(
    "stats_anova_oneway",
    oracle=_ANOVA_SQL,
    doc="One-way ANOVA across the five metrics' value distributions — the "
    "k-group generalization completing the testing family (Welch t = 2 "
    "means, Mann-Whitney = 2 ranks, chi-square = categories, F = k "
    "means): between/within sums of squares from one pass of exact "
    "integer moments per group (the per-group Σx²/n term is the only "
    "double, a fixed DAG over exact integers, quantized to BIGINT "
    "BEFORE the cross-group sum — the chi² cell_chi_e9 pattern — so "
    "the reduction is an exact integer sum, free of aggregation-order "
    "ulp drift at any SF; the ≤0.5 e-6 quantization error is 3 "
    "decades below the 1e-3 output quantum), F with its (k-1, N-k) "
    "critical value at 5% pinned as a literal, eta² effect size. The "
    "caveat an experimentation platform must document: plain ANOVA "
    "assumes homoscedasticity — pair with Welch t for unequal-variance "
    "pairs. One map-side-combinable aggregation; group-count-sized "
    "state.",
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ANOVA_SQL)


# ---------------------------------------------------------------------------
# Two-proportion z-test on user-level conversion
# ---------------------------------------------------------------------------

_PROP_SQL = f"""
    WITH per_user AS (
        SELECT user_id,
               {_ARM} AS arm,
               CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 150
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY user_id
    ), arms AS (
        SELECT arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(converted) AS BIGINT) AS conv
        FROM per_user GROUP BY arm
    ), wide AS (
        SELECT a.n AS n_a, a.conv AS conv_a, b.n AS n_b, b.conv AS conv_b
        FROM arms a CROSS JOIN arms b
        WHERE a.arm = 'A' AND b.arm = 'B'
    ), calc AS (
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / n_a AS p_a,
               CAST(conv_b AS DOUBLE) / n_b AS p_b,
               CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS p_pool
        FROM wide
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(ROUND(p_a * 1000000) AS BIGINT) AS rate_a_e6,
           CAST(ROUND(p_b * 1000000) AS BIGINT) AS rate_b_e6,
           CAST(ROUND((p_a - p_b) * 1000000) AS BIGINT) AS lift_e6,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                THEN CAST(0 AS BIGINT)
                ELSE CAST(ROUND(((p_a - p_b)
                     / sqrt(p_pool * (1 - p_pool)
                            * (CAST(1 AS DOUBLE) / n_a
                               + CAST(1 AS DOUBLE) / n_b)))
                     * 1000000) AS BIGINT) END AS z_e6,
           CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
                THEN FALSE
                ELSE ABS((p_a - p_b)
                     / sqrt(p_pool * (1 - p_pool)
                            * (CAST(1 AS DOUBLE) / n_a
                               + CAST(1 AS DOUBLE) / n_b)))
                     > CAST(1.96 AS DOUBLE) END AS significant
    FROM calc
"""


@register(
    "stats_proportion_ztest",
    oracle=_PROP_SQL,
    doc="Two-proportion z-test on USER-level conversion (a high-value "
    "purchase, value >= 150 — ~45% of users, chosen non-degenerate at "
    "every SF) between the md5 arms — the binary-outcome member of the "
    "testing family, and deliberately user-grained: testing per-event "
    "rows would pseudo-replicate within users and overstate "
    "significance. Pooled-variance z from exact integer user/conversion "
    "counts; rates, absolute lift, and the 1.96 gate emitted. One "
    "groupBy(user) + a 2-row reduce.",
)
def stats_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_PROP_SQL)


# ---------------------------------------------------------------------------
# End-to-end experiment readout: CUPED-adjusted Welch t per metric
# ---------------------------------------------------------------------------

# The user-grain table feeds both the pooled-theta reduce and the
# adjustment join; Spark stages it (WITH-inlining would re-run the events
# scan + groupBy per reference), the DuckDB oracle keeps one statement.
_CUPED_USER_SQL = f"""
    WITH q AS (
        SELECT user_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS v_e2,
               CASE WHEN EXTRACT(day FROM ts) <= 15 THEN 0 ELSE 1 END
                   AS is_post
        FROM events
    )
    SELECT event_type, user_id,
           {_ARM} AS arm,
           CAST(SUM(CASE WHEN is_post = 0 THEN v_e2 ELSE 0 END)
               AS BIGINT) AS x,
           CAST(SUM(CASE WHEN is_post = 1 THEN v_e2 ELSE 0 END)
               AS BIGINT) AS y
    FROM q GROUP BY event_type, user_id, {_ARM}
"""

_CUPED_TT_TAIL = """
    , pool AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS nu,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(y) AS BIGINT) AS sy
        FROM per_user GROUP BY event_type
    ), theta AS (
        SELECT event_type, nu, sx,
               CASE WHEN (CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * sx / nu) > 0
                    THEN (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / nu)
                         / (CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * sx / nu)
                    ELSE CAST(0 AS DOUBLE) END AS th
        FROM pool
    ), adj AS (
        SELECT p.event_type, p.arm, p.y,
               CAST(ROUND(p.y - t.th * (p.x - CAST(t.sx AS DOUBLE) / t.nu))
                   AS BIGINT) AS y_adj
        FROM per_user p JOIN theta t ON p.event_type = t.event_type
    ), arms AS (
        SELECT event_type, arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS sy1,
               CAST(SUM(y * y) AS BIGINT) AS sy2,
               CAST(SUM(y_adj) AS BIGINT) AS sa1,
               CAST(SUM(y_adj * y_adj) AS BIGINT) AS sa2
        FROM adj GROUP BY event_type, arm
    ), wide AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               (CAST(a.sy2 AS DOUBLE) - CAST(a.sy1 AS DOUBLE) * a.sy1 / a.n)
                   / (a.n - 1) AS vy_a,
               (CAST(b.sy2 AS DOUBLE) - CAST(b.sy1 AS DOUBLE) * b.sy1 / b.n)
                   / (b.n - 1) AS vy_b,
               (CAST(a.sa2 AS DOUBLE) - CAST(a.sa1 AS DOUBLE) * a.sa1 / a.n)
                   / (a.n - 1) AS va_a,
               (CAST(b.sa2 AS DOUBLE) - CAST(b.sa1 AS DOUBLE) * b.sa1 / b.n)
                   / (b.n - 1) AS va_b,
               CAST(a.sy1 AS DOUBLE) / a.n - CAST(b.sy1 AS DOUBLE) / b.n
                   AS dy,
               CAST(a.sa1 AS DOUBLE) / a.n - CAST(b.sa1 AS DOUBLE) / b.n
                   AS da
        FROM arms a JOIN arms b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n > 1 AND b.n > 1
    )
    SELECT event_type, n_a, n_b,
           CASE WHEN vy_a / n_a + vy_b / n_b > 0
                THEN CAST(ROUND((dy / sqrt(vy_a / n_a + vy_b / n_b))
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS t_raw_e6,
           CASE WHEN va_a / n_a + va_b / n_b > 0
                THEN CAST(ROUND((da / sqrt(va_a / n_a + va_b / n_b))
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS t_adj_e6,
           CASE WHEN vy_a + vy_b > 0
                THEN CAST(ROUND(((va_a + va_b) / (vy_a + vy_b)) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS var_ratio_e6
    FROM wide
"""

_CUPED_TTEST_SQL = (
    f"WITH per_user AS ({_CUPED_USER_SQL})" + _CUPED_TT_TAIL
)


@register(
    "e2e_ab_cuped_ttest",
    oracle=_CUPED_TTEST_SQL,
    doc="The end-to-end experiment readout a platform actually ships: "
    "USER-level outcomes (no per-event pseudo-replication), pooled CUPED "
    "theta from pre-period covariates, per-user adjusted outcomes "
    "(quantized back to integer e2-units), and Welch t on BOTH the raw "
    "and adjusted metric side by side with the achieved variance ratio. "
    "Composes stats_ab_ttest + stats_cuped_variance_reduction into one "
    "DAG: two user-grained aggregations and two metric-sized reduces, "
    "all moments exact integers. On null data t_raw and t_adj both "
    "hover near 0 while var_ratio < 1 shows the adjustment working.",
)
def e2e_ab_cuped_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        "WITH per_user AS (SELECT * FROM {per_user})" + _CUPED_TT_TAIL,
        per_user=spark.sql(_CUPED_USER_SQL).localCheckpoint(),
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch (SRM) guardrail
# ---------------------------------------------------------------------------

_SRM_SQL = f"""
    WITH per_user AS (
        SELECT DISTINCT user_id, {_ARM} AS arm FROM events
    ), counts AS (
        SELECT
            CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_a,
            CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
                AS n_b
        FROM per_user
    )
    SELECT n_a, n_b,
           CAST(ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
                / (n_a + n_b) * 1000000) AS BIGINT) AS chi2_e6,
           (n_a - n_b) * (n_a - n_b) * 1000000 > 3841459 * (n_a + n_b)
               AS srm_detected
    FROM counts
"""


@register(
    "stats_srm_check",
    oracle=_SRM_SQL,
    doc="Sample-ratio-mismatch guardrail — the check every experimentation "
    "platform runs BEFORE reading any test result: chi-square "
    "goodness-of-fit of the observed arm sizes against the designed "
    "50/50 split, which for two equal-expected cells collapses to "
    "(n_a - n_b)^2 / n — an exact integer ratio, with the 1-df 5% "
    "critical value (3.841459) applied as an integer "
    "cross-multiplication so the flag never touches a float. An md5 "
    "assignment function cannot actually fail this (that is the point "
    "of deterministic bucketing); a triggered flag in production means "
    "logging loss or assignment drift, not chance. One distinct + one "
    "2-cell reduce.",
)
def stats_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SRM_SQL)


# ---------------------------------------------------------------------------
# Effect sizes (the reporting companion to the significance tests)
# ---------------------------------------------------------------------------

_EFFECT_SQL = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), arms AS (
        SELECT event_type, arm,
               COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type, arm
    ), wide AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               (CAST(a.s1 AS DOUBLE) / a.n - CAST(b.s1 AS DOUBLE) / b.n)
                   / CAST(1000 AS DOUBLE) AS diff,
               ((CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   + (CAST(b.s2 AS DOUBLE)
                      - CAST(b.s1 AS DOUBLE) * b.s1 / b.n))
                   / (a.n + b.n - 2) / CAST(1000000 AS DOUBLE) AS pooled_var
        FROM arms a JOIN arms b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n + b.n > 2
    )
    SELECT event_type, n_a, n_b,
           CASE WHEN pooled_var > 0
                THEN CAST(ROUND((diff / sqrt(pooled_var)) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS cohens_d_e6,
           CASE WHEN pooled_var > 0
                THEN CAST(ROUND(((diff / sqrt(pooled_var))
                     * (1 - CAST(3 AS DOUBLE) / (4 * (n_a + n_b) - 9)))
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS hedges_g_e6,
           CASE WHEN pooled_var <= 0 THEN 'undefined'
                WHEN ABS(diff / sqrt(pooled_var)) < CAST(0.2 AS DOUBLE)
                     THEN 'negligible'
                WHEN ABS(diff / sqrt(pooled_var)) < CAST(0.5 AS DOUBLE)
                     THEN 'small'
                WHEN ABS(diff / sqrt(pooled_var)) < CAST(0.8 AS DOUBLE)
                     THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM wide
"""


@register(
    "stats_effect_sizes",
    oracle=_EFFECT_SQL,
    doc="Standardized effect sizes per metric on the md5 arms: Cohen's d "
    "(mean difference over the pooled standard deviation) and the "
    "small-sample-corrected Hedges' g (x 1 - 3/(4N-9)), with the "
    "conventional negligible/small/medium/large banding — the number a "
    "platform reports NEXT TO the p-value, because at large n a "
    "significant test can describe a meaningless difference "
    "(stats_power_analysis makes that duality concrete: 155k users per "
    "arm detect a 1% lift this banding calls negligible). Same exact "
    "integer-moment aggregation as stats_ab_ttest; one shared "
    "Spark/DuckDB template.",
)
def stats_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_EFFECT_SQL)


# ---------------------------------------------------------------------------
# Offline changepoint detection: single-split binary segmentation
# ---------------------------------------------------------------------------
# The complement of events_cusum_drift (ONLINE, sequential): given the
# whole daily series per metric, find the split that maximizes the SSE
# reduction of a two-segment piecewise-constant fit — the first step of
# binary segmentation (Scott & Knott 1974), and the exact subproblem
# PELT/BinSeg solve repeatedly. With prefix sums the gain at every split
# is O(1): G(t) = S_L^2/n_L + S_R^2/n_R - S^2/n (all in exact integer
# count units, only the three divisions in double — fixed op order, both
# engines produce bit-identical doubles from identical exact integers).
# Derives from the SAME staged hourly-counts reduction as the
# decomposition family: at 100 TB the shuffle carries the (series, hour)
# density, never events; the window pass runs per-series on ~10^2 daily
# rows regardless of event volume.

_CHANGEPOINT_CORE = """
    , daily AS (
        SELECT event_type, CAST(FLOOR(h / 24.0) AS BIGINT) AS d,
               CAST(SUM(cnt) AS BIGINT) AS y
        FROM counts GROUP BY event_type, CAST(FLOOR(h / 24.0) AS BIGINT)
    ), idx AS (
        SELECT event_type, d, y,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
               CAST(SUM(y) OVER (PARTITION BY event_type ORDER BY d
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
               CAST(SUM(y) OVER (PARTITION BY event_type) AS BIGINT) AS s
        FROM daily
    ), gains AS (
        SELECT event_type, d, t, n, ps, s,
               CAST(ROUND(CAST(ps AS DOUBLE) * ps / t
                          + CAST(s - ps AS DOUBLE) * (s - ps) / (n - t)
                          - CAST(s AS DOUBLE) * s / n) AS BIGINT) AS gain
        FROM idx
        WHERE t >= 3 AND n - t >= 3
    ), best AS (
        SELECT event_type, d, t, n, ps, s, gain,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY gain DESC, d) AS rn
        FROM gains
    )
    SELECT event_type,
           CAST(d AS BIGINT) AS split_day,
           CAST(n AS BIGINT) AS n_days,
           gain,
           CAST(ROUND(CAST(ps AS DOUBLE) / t * 1000) AS BIGINT)
               AS mean_before_e3,
           CAST(ROUND(CAST(s - ps AS DOUBLE) / (n - t) * 1000) AS BIGINT)
               AS mean_after_e3
    FROM best WHERE rn = 1
"""


def _changepoint_sql(d: Dialect) -> str:
    return "WITH " + counts_cte(d, d.mat) + _CHANGEPOINT_CORE


@register(
    "timeseries_changepoint_binseg",
    oracle=_changepoint_sql(DUCK),
    doc="Offline changepoint detection per metric — the first split of "
    "binary segmentation (Scott & Knott 1974; the subproblem BinSeg/PELT "
    "iterate): over the daily event-count series, the day whose two-"
    "segment piecewise-constant fit maximally reduces SSE, via prefix "
    "sums so every candidate split is O(1): gain = S_L^2/n_L + S_R^2/n_R "
    "- S^2/n, exact integer sums with three fixed-order double divisions "
    "(bit-identical cross-engine), min segment 3 days, tie-break earliest "
    "day. Complements events_cusum_drift (online). Derives from the "
    "staged hourly-counts reduction (hour_counts_sql) — at 100 TB the "
    "shuffle carries the (series, hour) density, never raw events.",
)
def timeseries_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _changepoint_sql(SPARK))


# ---------------------------------------------------------------------------
# Split-conformal prediction intervals for a seasonal-naive forecaster
# ---------------------------------------------------------------------------
# Distribution-free uncertainty for ANY point forecaster (Vovk et al.;
# Lei et al. JASA 2018): calibrate on held-out absolute residuals, take
# the ceil(0.9*(n+1))-th smallest as the interval half-width q, and the
# marginal coverage guarantee P(|y - yhat| <= q) >= 0.9 holds with no
# distributional assumptions. Forecaster: seasonal-naive yhat(h) =
# y(h - 24) on the DENSE hourly spine (missing hours are real zeros).
# Everything is exact integer order statistics — no floats anywhere
# except the final coverage ratio, quantized from an exact rational.

_CONFORMAL_CORE = """
    , resid AS (
        SELECT /*+ BROADCAST(c), BROADCAST(p) */ s.event_type, s.h,
               ABS(COALESCE(c.cnt, 0) - COALESCE(p.cnt, 0)) AS r
        FROM spine s
        LEFT JOIN counts c ON s.event_type = c.event_type AND s.h = c.h
        -- Seasonal-naive predictor: the count 24 hours in the PAST
        -- (p.h = s.h - 24). The first-day trim below then drops exactly
        -- the hours that have no past predictor. (Round-10 fix: the join
        -- was inverted, s.h = p.h - 24, which read the FUTURE count.)
        LEFT JOIN counts p ON s.event_type = p.event_type AND s.h = p.h + 24
        WHERE s.h >= (SELECT MIN(h) FROM spine) + 24
    ), mid AS (
        -- FLOOR, not a bare CAST: Spark truncates double->bigint while
        -- DuckDB rounds to nearest, so CAST(x.5) diverges by one hour.
        SELECT CAST(FLOOR((MIN(h) + MAX(h)) / 2.0) AS BIGINT) AS hmid
        FROM resid
    ), cal AS (
        SELECT event_type, r,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r, h) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_cal
        FROM resid, mid WHERE h <= hmid
    ), q AS (
        SELECT event_type, CAST(MAX(n_cal) AS BIGINT) AS n_cal,
               CAST(MAX(CASE WHEN rn = CAST(FLOOR((9 * (n_cal + 1) + 9)
                                                  / 10.0) AS BIGINT)
                             THEN r END) AS BIGINT) AS q
        FROM cal GROUP BY event_type
    ), test AS (
        SELECT /*+ BROADCAST(q) */ r.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(SUM(CASE WHEN r.r <= q.q THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_covered
        FROM resid r JOIN q ON r.event_type = q.event_type, mid
        WHERE r.h > mid.hmid
        GROUP BY r.event_type
    )
    SELECT /*+ BROADCAST(q) */ t.event_type, q.n_cal, q.q, t.n_test, t.n_covered,
           CAST(ROUND(CAST(t.n_covered AS DOUBLE) / t.n_test * 1000000)
               AS BIGINT) AS coverage_e6
    FROM test t JOIN q ON t.event_type = q.event_type
"""


@register(
    "timeseries_conformal_interval",
    oracle=spine_from_counts(DUCK) + _CONFORMAL_CORE,
    doc="Split-conformal prediction interval (Vovk; Lei et al. 2018) for "
    "a seasonal-naive hourly forecaster (yhat(h) = y(h-24) on the dense "
    "spine): per metric, the ceil(0.9*(n_cal+1))-th smallest calibration "
    "|residual| — an exact integer order statistic, ceiling computed in "
    "exact integer arithmetic — becomes the half-width q, and the test "
    "half reports empirical coverage, the distribution-free >=90% "
    "guarantee made measurable. No floats anywhere except the final "
    "coverage ratio from an exact rational. Same staged (series, hour) "
    "density as the decomposition family — events are never re-scanned.",
)
def timeseries_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, spine_from_counts(SPARK) + _CONFORMAL_CORE)


# ---------------------------------------------------------------------------
# Winsorized / trimmed robust means
# ---------------------------------------------------------------------------
# The robust-aggregation screen a metrics platform applies before any
# mean-based alert: clamp (winsorize) or drop (trim) the tails at exact
# p05/p95 order statistics. Ranks are over (value, event_id) so the k-th
# order statistic is the value at a well-defined position regardless of
# tie order; values live in exact 1e-3 integers end-to-end, so every sum
# is an exact integer reduction and the three means quantize from exact
# rationals. One window pass per metric; at 100 TB this is the classic
# per-key sort — each metric's pass is independent and the rank bounds
# broadcast back as a 5-row aggregate.

_WINSOR_SQL = """
    WITH v AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), r AS (
        SELECT event_type, v_e3,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY v_e3, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM v
    ), bounds AS (
        SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
               CAST(MAX(CASE WHEN rn = CAST(FLOOR((n * 5 + 99) / 100.0)
                                            AS BIGINT)
                             THEN v_e3 END) AS BIGINT) AS lo_e3,
               CAST(MAX(CASE WHEN rn = CAST(FLOOR((n * 95 + 99) / 100.0)
                                            AS BIGINT)
                             THEN v_e3 END) AS BIGINT) AS hi_e3
        FROM r GROUP BY event_type
    )
    SELECT r.event_type, b.n, b.lo_e3, b.hi_e3,
           CAST(ROUND(CAST(SUM(v_e3) AS DOUBLE) / b.n) AS BIGINT)
               AS raw_mean_e3,
           CAST(ROUND(CAST(SUM(GREATEST(b.lo_e3, LEAST(b.hi_e3, v_e3)))
                           AS DOUBLE) / b.n) AS BIGINT) AS winsor_mean_e3,
           CAST(ROUND(CAST(SUM(CASE WHEN v_e3 BETWEEN b.lo_e3 AND b.hi_e3
                                     THEN v_e3 ELSE 0 END) AS DOUBLE)
                      / SUM(CASE WHEN v_e3 BETWEEN b.lo_e3 AND b.hi_e3
                                  THEN 1 ELSE 0 END)) AS BIGINT)
               AS trim_mean_e3
    FROM r JOIN bounds b ON r.event_type = b.event_type
    GROUP BY r.event_type, b.n, b.lo_e3, b.hi_e3
"""


@register(
    "stats_winsorized_mean",
    oracle=_WINSOR_SQL,
    doc="Robust location estimates per metric: exact p05/p95 order "
    "statistics (rank over (value, event_id) — the k-th position is "
    "well-defined under ties) bound a winsorized mean (tails clamped) "
    "and a trimmed mean (tails dropped) next to the raw mean — the "
    "outlier-robust aggregate a metrics platform alerts on. Exact 1e-3 "
    "integer values end-to-end; every sum is an exact integer reduction. "
    "One window pass per metric, rank bounds broadcast back as a 5-row "
    "aggregate.",
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_WINSOR_SQL)


# ---------------------------------------------------------------------------
# Isotonic regression (exact, closed-form minimax — no iteration)
# ---------------------------------------------------------------------------
# The nonparametric member of the regression family (linear:
# agg_linear_regression; autoregressive: timeseries_ar2_forecast):
# fit the best monotone-nondecreasing curve to each metric's daily mean,
# the standard calibration / trend-shape tool. Instead of the sequential
# PAVA sweep (data-dependent iteration count — hostile to both SQL
# engines), this uses the exact minimax characterization
#     iso(i) = max_{j<=i} min_{k>=i} avg(y[j..k])
# (Robertson-Wright-Dykstra 1988, eq. 1.9-1.13): every interval average
# is O(1) from prefix sums, and the max-of-mins is two grouped
# aggregations over an (i, j, k) expansion. That expansion is O(n^3) in
# the SERIES LENGTH — which is days, a constant wrt data volume — so at
# 100 TB the plan is: one map-side-combinable daily reduction over
# events (the only data-sized stage), then constant-sized closed-form
# algebra. Inputs quantize to 1e-6 integers before the prefix sums;
# interval averages quantize immediately after their one division.

_ISOTONIC_SQL = """
    WITH daily AS (
        SELECT event_type, CAST(FLOOR(unix_ts / 86400) AS BIGINT) AS d,
               CAST(SUM(v_e3) AS BIGINT) AS sv, CAST(COUNT(*) AS BIGINT) AS c
        FROM events_ts
        GROUP BY event_type, CAST(FLOOR(unix_ts / 86400) AS BIGINT)
    ), idx AS (
        SELECT event_type, d,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS t,
               CAST(ROUND(CAST(sv AS DOUBLE) / c * 1000) AS BIGINT) AS y_e6,
               CAST(SUM(CAST(ROUND(CAST(sv AS DOUBLE) / c * 1000) AS BIGINT))
                    OVER (PARTITION BY event_type ORDER BY d
                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps
        FROM daily
    ), pairs AS (
        SELECT a.event_type, a.t AS j, b.t AS k,
               CAST(ROUND((b.ps - a.ps + a.y_e6) / (b.t - a.t + 1.0e0))
                   AS BIGINT) AS avg_e6
        FROM idx a JOIN idx b
          ON a.event_type = b.event_type AND a.t <= b.t
    ), tri AS (
        SELECT p.event_type, p.j, p.k, p.avg_e6, i.t AS i
        FROM pairs p JOIN idx i
          ON p.event_type = i.event_type AND p.j <= i.t AND i.t <= p.k
    ), inner_min AS (
        SELECT event_type, i, j, CAST(MIN(avg_e6) AS BIGINT) AS m
        FROM tri GROUP BY event_type, i, j
    ), iso AS (
        SELECT event_type, i, CAST(MAX(m) AS BIGINT) AS iso_e6
        FROM inner_min GROUP BY event_type, i
    )
    SELECT x.event_type, CAST(x.d AS BIGINT) AS d, x.y_e6, s.iso_e6
    FROM idx x JOIN iso s ON x.event_type = s.event_type AND x.t = s.i
"""

_EVENTS_TS_VIEW = """
    SELECT event_type, {d.epoch_s} AS unix_ts,
           CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
    FROM events
"""


def _isotonic_sql(d: Dialect) -> str:
    return (
        "WITH events_ts AS ("
        + _EVENTS_TS_VIEW.format(d=d)
        + ")"
        + _ISOTONIC_SQL.replace("WITH daily", ", daily", 1)
    )


@register(
    "stats_isotonic_trend",
    oracle=_isotonic_sql(DUCK),
    doc="Exact isotonic (monotone-nondecreasing) regression of each "
    "metric's daily mean — the nonparametric calibration/trend fit — "
    "via the closed-form minimax characterization iso(i) = max_{j<=i} "
    "min_{k>=i} avg(y[j..k]) (Robertson-Wright-Dykstra 1988) instead of "
    "the sequential PAVA sweep: interval averages are O(1) from prefix "
    "sums and the max-of-mins is two grouped aggregations over an "
    "(i,j,k) expansion that is cubic only in SERIES LENGTH (days — "
    "constant wrt data volume). The single data-sized stage is one "
    "map-side-combinable daily reduction. 1e-6 integer quantization "
    "before prefix sums and immediately after the one division; "
    "PAVA-recomputed in tests.",
)
def stats_isotonic_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_isotonic_sql(SPARK))
