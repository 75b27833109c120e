"""Round-13 wave 13d: correlated-binary testing, blocked ordered
trend, and temporal burstiness.

* ``stats_cochran_q`` — Cochran's Q for k correlated binary outcomes
  (the k-treatment generalization of McNemar / the binary Friedman):
  do the five metrics' per-user high-value indicators share one
  success rate? Q is an exact integer rational; concordant
  (all-0 / all-1) users cancel algebraically, so no filtering is
  needed.
* ``stats_page_trend`` — Page's L test (Biometrika 1963) for a
  MONOTONE ordered alternative across repeated measures: blocks =
  users, ordered treatments = the three corpus-time terciles, ranks =
  each user's within-block activity midranks. The blocked sibling of
  ``stats_jonckheere_trend`` (independent groups) and the ordered
  sibling of ``stats_friedman_test`` (unordered alternative).
* ``events_interevent_burstiness`` — Goh-Barabasi burstiness
  B = (sigma - mu)/(sigma + mu) of each metric's inter-event gaps
  (B = -1 perfectly regular, 0 memoryless/Poisson, -> +1 bursty),
  computed as (sqrt(n*S2 - S1^2) - S1) / (sqrt(n*S2 - S1^2) + S1)
  over EXACT integer second-quantized gap moments — the n factors
  cancel, so the only floats are one sqrt and one division. The
  inter-EVENT temporal axis beside timeseries_burst_kleinberg's
  rate-model decode and text_burstiness_dispersion's term dispersion.

House discipline: doubled midranks keep Page's rank sums exact;
integer-division second gaps keep Goh-Barabasi moments inside int64
at calendar scale; every decision boundary is an exact integer or a
pinned-literal comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.wave11a import (
    _KW_CRIT,
    chi2_lookup_guard,
)
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Cochran's Q
# ---------------------------------------------------------------------------
# x_ij = 1 iff user i has at least one event of metric j with
# value >= 100. Q = (k-1) * (k*sum(C_j^2) - N^2) / (k*N - sum(R_i^2))
# with column totals C_j, row totals R_i, N = sum(C) = sum(R). R_i <=
# k = 5 keeps sum(R^2) <= 25n exactly inside int64 at ~1e9 users, but
# C_j^2 approaches 1e18 there, so sum(C^2) ACCUMULATES in double (r12
# ADVICE: a BIGINT sum of five ~1e18 terms overflows int64 upstream of
# any epilogue cast) and the N^2 / k*sc2 products stay double, a fixed
# 5-term DAG. Degenerate denominator (every user concordant) emits a
# flagged row instead of dropping (the Hill lesson).

_COCHRAN_TMPL = """
    WITH b AS (
        SELECT user_id, event_type,
               CAST(MAX(CASE WHEN value >= 100 THEN 1 ELSE 0 END)
                    AS BIGINT) AS x
        FROM events GROUP BY user_id, event_type
    ), cols AS (
        SELECT event_type, CAST(SUM(x) AS BIGINT) AS c
        FROM b GROUP BY event_type
    ), rows_ AS (
        SELECT user_id, CAST(SUM(x) AS BIGINT) AS r
        FROM b GROUP BY user_id
    ), mom AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cols) AS k,
               (SELECT CAST(SUM(c) AS BIGINT) FROM cols) AS n,
               -- sc2 ACCUMULATES in double: C_j^2 ~ 1e18 at ~1e9 users
               -- per column, so a BIGINT sum of five such terms can
               -- overflow int64 upstream of the epilogue (r12 ADVICE);
               -- each c*c is exact in double to 2^53 (c < 9.4e7 per
               -- term is exact; beyond it the 5-term sum is within one
               -- ulp — the e6 quantization absorbs it)
               (SELECT SUM(CAST(c AS DOUBLE) * c) FROM cols) AS sc2,
               (SELECT CAST(SUM(r * r) AS BIGINT) FROM rows_) AS sr2
    ), q AS (
        SELECT k, n, sc2, sr2,
               CAST(k * n - sr2 AS BIGINT) AS denom,
               CASE WHEN k * n - sr2 > 0
                    THEN CAST(ROUND((k - 1.0e0)
                         * (CAST(k AS DOUBLE) * sc2
                            - CAST(n AS DOUBLE) * n)
                         / (k * n - sr2) * 1000000) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS q_e6,
               k * n - sr2 = 0 AS degenerate
        FROM mom
    )
    SELECT co.event_type, co.c AS n_success, q.k AS n_treatments,
           q.n AS n_total_successes, q.q_e6, q.degenerate,
           CASE WHEN q.degenerate THEN FALSE
                ELSE q.q_e6 > c.crit_e6 END AS reject_equal_rates
    FROM cols co
    CROSS JOIN q
    LEFT JOIN ({crit}) c ON c.df = q.k - 1
    WHERE {guard}
"""


@register(
    "stats_cochran_q",
    oracle=_COCHRAN_TMPL.format(crit=_KW_CRIT, guard=chi2_lookup_guard(DUCK)),
    doc="Cochran's Q (1950) across the five metrics' per-user "
    "high-value indicators (x_ij = user i ever logged metric j at "
    "value >= 100) — the k-treatment generalization of McNemar and "
    "the binary Friedman, completing the correlated-outcomes corner "
    "of the testing family. Q = (k-1)(k*sumC^2 - N^2)/(kN - sumR^2): "
    "all moments exact integers (concordant all-0/all-1 users cancel "
    "algebraically — no filtering), the two possibly-large products "
    "formed in double as a fixed DAG, one e6 quantization, decision "
    "against the pinned chi2(k-1) lookup behind the loud-miss guard. "
    "An all-concordant corpus emits a degenerate-flagged row. One "
    "map-side-combinable (user, metric) reduction; model-sized "
    "epilogue.",
)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _COCHRAN_TMPL.format(crit=_KW_CRIT, guard=chi2_lookup_guard(SPARK))
    )


# ---------------------------------------------------------------------------
# Page's L trend test
# ---------------------------------------------------------------------------
# Blocks = users present in ALL THREE corpus-time terciles, ordered
# treatments = the terciles, within-block doubled midranks of the
# per-tercile event counts (doubled -> every rank sum exact). For
# k = 3: L2 = sum_j j * R2_.j, E[L2] = b*k(k+1)^2/2 = 24b,
# Var(L2) = 4*Var(L) = b*(k^3-k)^2 / (36*(k-1)) = 8b (no-tie variance,
# the standard practical form under midranks — documented), so
# z = (L2 - 24b)/sqrt(8b).

_PAGE_TMPL = """
    WITH bounds AS (
        SELECT MIN(us) AS mn, MAX(us) AS mx FROM (
            SELECT {d.epoch_us} AS us FROM events) z
    ), terc AS (
        -- FLOOR before the CAST: CAST(double AS BIGINT) truncates in
        -- Spark but ROUNDS in DuckDB (the round-2 dialect lesson)
        SELECT e.user_id,
               CAST(LEAST(2, FLOOR(({d.epoch_us} - b.mn) * 3.0e0
                    / (b.mx - b.mn + 1))) AS BIGINT) AS g
        FROM events e CROSS JOIN bounds b
    ), cell AS (
        SELECT user_id, g, CAST(COUNT(*) AS BIGINT) AS c
        FROM terc GROUP BY user_id, g
    ), full_blocks AS (
        SELECT user_id FROM cell GROUP BY user_id HAVING COUNT(*) = 3
    ), fc AS (
        SELECT c.user_id, c.g, c.c
        FROM cell c JOIN full_blocks f ON f.user_id = c.user_id
    ), r2 AS (
        -- doubled midrank of tercile g's count within the user's block
        SELECT a.user_id, a.g,
               CAST(SUM(CASE WHEN b.c < a.c THEN 2
                             WHEN b.c = a.c THEN 1
                             ELSE 0 END) + 1 AS BIGINT) AS rk2
        FROM fc a JOIN fc b ON b.user_id = a.user_id
        GROUP BY a.user_id, a.g, a.c
    ), colsum AS (
        SELECT g, CAST(SUM(rk2) AS BIGINT) AS r2sum,
               CAST(COUNT(*) AS BIGINT) AS b
        FROM r2 GROUP BY g
    ), stat AS (
        SELECT CAST(SUM((g + 1) * r2sum) AS BIGINT) AS l2,
               CAST(MAX(b) AS BIGINT) AS b
        FROM colsum
    )
    SELECT b AS n_blocks, l2,
           CAST(24 * b AS BIGINT) AS e_l2,
           CASE WHEN b > 0
                THEN CAST(ROUND((l2 - 24.0e0 * b)
                     / sqrt(8.0e0 * b) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN b > 0
                THEN (l2 - 24.0e0 * b) / sqrt(8.0e0 * b) > 1.645e0
                ELSE FALSE END AS increasing_trend
    FROM stat
"""


@register(
    "stats_page_trend",
    oracle=_PAGE_TMPL.format(d=DUCK),
    doc="Page's L test (1963) for a monotone increase of per-user "
    "activity across the three ordered corpus-time terciles: blocks = "
    "users active in all three terciles, within-block DOUBLED "
    "midranks of the tercile event counts (every rank and rank sum "
    "exact integers — the Friedman/Kruskal doubling), L2 = sum j*R_j "
    "with E = 24b and Var = 8b at k = 3 (no-tie variance under "
    "midranks, the standard practical form — documented), one-sided "
    "z at 1.645. The blocked counterpart of stats_jonckheere_trend "
    "(independent groups) and the ordered-alternative counterpart of "
    "stats_friedman_test. The k=3 block ranking is a 3x3 self-join "
    "per user — constant work per block; one (user, tercile) "
    "reduction is the only data-sized stage.",
)
def stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_PAGE_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Goh-Barabasi inter-event burstiness
# ---------------------------------------------------------------------------
_BURSTY_TMPL = """
    WITH seq AS (
        SELECT event_type, {d.epoch_us} AS us, event_id FROM events
    ), gaps AS (
        SELECT event_type,
               ({us_prev_expr}) AS g
        FROM (
            SELECT event_type, us, event_id,
                   LAG(us) OVER (PARTITION BY event_type
                                 ORDER BY us, event_id) AS pus
            FROM seq) z
        WHERE pus IS NOT NULL
    ), mom AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(g) AS BIGINT) AS s1,
               CAST(SUM(g * g) AS BIGINT) AS s2
        FROM gaps GROUP BY event_type
    )
    -- GREATEST clamps the discriminant: past 2^53 the double rounding
    -- of n*S2 - S1^2 can land slightly NEGATIVE for near-constant gap
    -- trains, and sqrt would emit NaN through both ratios (r12
    -- ADVICE); clamped, such series degrade to B = -1, cv = 0 — the
    -- exact-zero-variance answer
    SELECT event_type, n AS n_gaps,
           CAST(ROUND(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_gap_s,
           CASE WHEN s1 > 0
                THEN CAST(ROUND((sqrt(GREATEST(0.0e0,
                          CAST(n AS DOUBLE) * s2
                          - CAST(s1 AS DOUBLE) * s1)) - s1)
                     / (sqrt(GREATEST(0.0e0, CAST(n AS DOUBLE) * s2
                          - CAST(s1 AS DOUBLE) * s1)) + s1)
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS burstiness_e9,
           CASE WHEN s1 > 0
                THEN CAST(ROUND(sqrt(GREATEST(0.0e0,
                          CAST(n AS DOUBLE) * s2
                          - CAST(s1 AS DOUBLE) * s1)) / s1
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS cv_e9
    FROM mom
"""


@register(
    "events_interevent_burstiness",
    oracle=_BURSTY_TMPL.format(
        d=DUCK, us_prev_expr="(us - pus) // 1000000"
    ),
    doc="Goh-Barabasi (2008) burstiness B = (sigma - mu)/(sigma + mu) "
    "of each metric's inter-event gaps (-1 = perfectly regular, 0 = "
    "memoryless Poisson, -> +1 = heavy-tailed bursts), plus the "
    "coefficient of variation. Gaps quantize to whole SECONDS by "
    "INTEGER division of epoch-microseconds (float division drifts a "
    "unit at int64 scale — the round-1 lesson), so n/S1/S2 are exact "
    "integer moments and B collapses to (sqrt(n*S2 - S1^2) - S1) / "
    "(sqrt(n*S2 - S1^2) + S1) — the n factors cancel; one sqrt, one "
    "division, e9. The inter-EVENT temporal axis beside "
    "timeseries_burst_kleinberg's rate-model decode (B needs no rate "
    "model and sees heavy tails the hourly binning averages away). "
    "One window pass per metric; a map-side-combinable moment "
    "reduction.",
)
def events_interevent_burstiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _BURSTY_TMPL.format(
            d=SPARK, us_prev_expr="(us - pus) div 1000000"
        )
    )
