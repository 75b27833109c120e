"""Round-14 wave 14d: partition quality, series agreement, random-walk
testing, and stylometric attribution.

* ``graph_modularity`` — Newman modularity Q of the embedding LABEL
  partition over the MUTUAL top-16 cosine graph: Q = sum_c (e_c/m -
  (d_c/2m)^2). The labels are the corpus's own cluster annotations;
  Q asks whether the SIMILARITY graph agrees with them — high Q says
  near-duplicate structure follows the labeled families, near-zero
  says the labels cut across similarity (a training-data curation
  smell). A new READOUT over the shared bounded-degree graph, not a
  new community algorithm (LPA already exists; its communities are
  its own row's output).
* ``stats_lin_ccc`` — Lin's concordance correlation coefficient
  (Biometrics 1989) between every metric pair's dense daily count
  series: CCC = 2 s_xy / (s_x^2 + s_y^2 + (mx - my)^2). AGREEMENT,
  not association — two metrics can correlate 1.0 (spearman/corr
  rows) while running at different scales; CCC charges the location
  and scale gaps. All moments exact integer sums over the dense day
  grid; one double DAG epilogue e9.
* ``timeseries_variance_ratio`` — the Lo-MacKinlay (1988) overlapped
  variance-ratio test per metric at q = 24 hours: VR = Var(24-hour
  sums)/(24 Var(hourly)), z = (VR - 1)/sqrt(phi(q)) against the
  random-walk null. The FORMAL test beside the Hurst R/S exponent
  row (an estimator with no decision): VR > 1 = persistence,
  VR < 1 = mean reversion. Centered second moments recovered by the
  exact-integer algebra sum(x^2) - (sum x)^2/n — no mean ever
  touches a row (the AVG-midpoint rule).
* ``text_burrows_delta`` — Burrows' Delta (2002), the standard
  stylometric attribution distance, between every source pair: the
  top-150 corpus terms by frequency (ORDER BY + LIMIT — the closed
  vocab-rank budget class), per-source relative frequencies,
  per-term z-scores across sources, Delta = mean |z_a - z_b|.
  Separates AUTHORSHIP/register style from the topic-level
  distribution drift row (stopword-dominated top vocab tracks style,
  not content).

House discipline: every centered moment is the exact integer
sum-of-squares identity; relative frequencies and z-scores quantize
e9 at creation; top-vocab selection is ORDER BY + LIMIT with total
tie-breaks; zero-variance terms/series emit flagged or zero rows,
never NaN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.operators.wave13b import (
    _KTRUSS_MUTUAL_SQL,
    mutual_topk_edges,
)
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Modularity of the label partition
# ---------------------------------------------------------------------------
# Q = sum_c [ e_c/m - (d_c/(2m))^2 ] with e_c = within-community
# edges, d_c = total degree of community c, m = edges. All exact
# integers; one double DAG per community quantized e9 and summed as
# exact integers (community count is label-bounded).

_MOD_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_KTRUSS_MUTUAL_SQL},
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS c FROM embeddings),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges0),
    withinc AS (
        SELECT la.c, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM edges0 ed
        JOIN lab la ON la.vec_id = ed.a_id
        JOIN lab lb ON lb.vec_id = ed.b_id
        WHERE la.c = lb.c
        GROUP BY la.c
    ), degc AS (
        SELECT la.c, CAST(COUNT(*) AS BIGINT) AS d_c
        FROM (SELECT a_id AS node FROM edges0
              UNION ALL SELECT b_id FROM edges0) z
        JOIN lab la ON la.vec_id = z.node
        GROUP BY la.c
    ), terms AS (
        SELECT d.c, COALESCE(w.e_c, 0) AS e_c, d.d_c,
               CAST(ROUND((CAST(COALESCE(w.e_c, 0) AS DOUBLE) / m.m
                    - (CAST(d.d_c AS DOUBLE) / (2 * m.m))
                      * (CAST(d.d_c AS DOUBLE) / (2 * m.m)))
                    * 1000000000) AS BIGINT) AS q_c_e9
        FROM degc d
        LEFT JOIN withinc w ON w.c = d.c
        CROSS JOIN m
        WHERE m.m > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
           CAST(SUM(e_c) AS BIGINT) AS within_edges,
           (SELECT m FROM m) AS total_edges,
           CAST(SUM(q_c_e9) AS BIGINT) AS modularity_e9
    FROM terms
"""


@register(
    "graph_modularity",
    oracle=_MOD_ORACLE,
    doc="Newman modularity Q of the embedding LABEL partition over the "
    "mutual top-16 cosine graph (shared bounded-degree builder): "
    "Q = sum_c [e_c/m - (d_c/2m)^2]. High Q = the similarity graph "
    "agrees with the corpus's own cluster labels; near zero = labels "
    "cut across near-duplicate structure — a curation-quality readout "
    "over an EXISTING partition, deliberately not another community "
    "algorithm (LPA has its own row). Exact integer edge/degree "
    "counts per community, one double DAG per community quantized e9, "
    "label-bounded community count. Degree <= 16 bounds the label "
    "joins at any corpus size.",
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.catalog import load_fanned

    edges = mutual_topk_edges(spark, sf_dir)
    lab = load_fanned(spark, sf_dir, "embeddings").select(
        F.col("vec_id"), F.col("label").cast("bigint").alias("c")
    )
    m_val = edges.count()
    if m_val == 0:
        # Parity with the oracle's GROUP-BY-less final aggregate, which
        # always emits exactly one row even over zero term rows
        # (r13 ADVICE: the old empty-frame branch hash-mismatched on an
        # edgeless corpus): COUNT(*)=0, SUM(...)=NULL, total_edges=0.
        return spark.createDataFrame(
            [(0, None, 0, None)],
            "n_communities bigint, within_edges bigint, "
            "total_edges bigint, modularity_e9 bigint",
        )
    within = (
        edges.join(lab.withColumnRenamed("vec_id", "a_id"), "a_id")
        .withColumnRenamed("c", "ca")
        .join(
            lab.withColumnRenamed("vec_id", "b_id").withColumnRenamed(
                "c", "cb"
            ),
            "b_id",
        )
        .where(F.col("ca") == F.col("cb"))
        .groupBy(F.col("ca").alias("c"))
        .agg(F.count("*").cast("bigint").alias("e_c"))
    )
    degc = (
        edges.select(F.col("a_id").alias("node"))
        .unionByName(edges.select(F.col("b_id").alias("node")))
        .join(lab.withColumnRenamed("vec_id", "node"), "node")
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    terms = (
        degc.join(within, "c", "left")
        .select(
            "c",
            F.coalesce(F.col("e_c"), F.lit(0)).alias("e_c"),
            "d_c",
            F.round(
                (
                    F.coalesce(F.col("e_c"), F.lit(0)).cast("double")
                    / F.lit(float(m_val))
                    - (F.col("d_c").cast("double") / F.lit(2.0 * m_val))
                    * (F.col("d_c").cast("double") / F.lit(2.0 * m_val))
                )
                * 1_000_000_000
            )
            .cast("bigint")
            .alias("q_c_e9"),
        )
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_communities"),
        F.sum("e_c").cast("bigint").alias("within_edges"),
        F.lit(m_val).cast("bigint").alias("total_edges"),
        F.sum("q_c_e9").cast("bigint").alias("modularity_e9"),
    )


# ---------------------------------------------------------------------------
# Lin's concordance correlation coefficient
# ---------------------------------------------------------------------------
_CCC_TMPL = """
    WITH cellraw AS (
        SELECT event_type,
               CAST({d.epoch_us} {d.intdiv} 86400000000 AS BIGINT) AS day,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), dayspan AS (
        SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM cellraw
    ), dense AS (
        SELECT m.event_type, g.day,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS x
        FROM (SELECT DISTINCT event_type FROM cellraw) m
        CROSS JOIN (SELECT {day_series} AS day FROM dayspan b) g
        LEFT JOIN cellraw c
          ON c.event_type = m.event_type AND c.day = g.day
    ), mom AS (
        -- second moments ACCUMULATE IN DOUBLE: a daily count near 1e10
        -- at 100 TB squares past int64 (the r12 Cochran lesson); each
        -- product is exact in double at any test scale and the ratio
        -- epilogue is a fixed IEEE DAG either way
        SELECT a.event_type AS ma, b.event_type AS mb,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a.x) AS BIGINT) AS sx,
               CAST(SUM(b.x) AS BIGINT) AS sy,
               SUM(CAST(a.x AS DOUBLE) * a.x) AS sxx,
               SUM(CAST(b.x AS DOUBLE) * b.x) AS syy,
               SUM(CAST(a.x AS DOUBLE) * b.x) AS sxy
        FROM dense a JOIN dense b
          ON b.day = a.day AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT ma, mb, n AS n_days,
           CASE WHEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   + (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
                   + (CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n)
                     * (CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n)
                     * n > 0
                THEN CAST(ROUND(
                     2.0e0 * (CAST(sxy AS DOUBLE)
                              - CAST(sx AS DOUBLE) * sy / n)
                     / ((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * sx / n)
                        + (CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * sy / n)
                        + (CAST(sx AS DOUBLE) / n
                           - CAST(sy AS DOUBLE) / n)
                          * (CAST(sx AS DOUBLE) / n
                             - CAST(sy AS DOUBLE) / n) * n)
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS ccc_e9,
           (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
             + (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n)
             + (CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n)
               * (CAST(sx AS DOUBLE) / n - CAST(sy AS DOUBLE) / n)
               * n <= 0 AS degenerate
    FROM mom
"""


def _ccc_sql(d: Dialect) -> str:
    return _CCC_TMPL.format(d=d, day_series=d.series("b.dmin", "b.dmax"))


@register(
    "stats_lin_ccc",
    oracle=_ccc_sql(DUCK),
    doc="Lin's concordance correlation coefficient (Biometrics 1989) "
    "between every metric pair's dense daily count series: CCC = "
    "2 s_xy / (s_x^2 + s_y^2 + (mean_x - mean_y)^2), in [-1, 1]. "
    "AGREEMENT, not association — the spearman/corr rows read 1.0 for "
    "two metrics tracking each other at different volumes, CCC "
    "charges the location and scale gaps (the reproducibility "
    "readout). Centered moments recovered by the exact-integer "
    "identity sum(xy) - sx*sy/n over the dense day grid (zero-event "
    "days are real zeros); identical-constant pairs flag degenerate. "
    "One (metric, day) map-side reduction; the pair join runs on the "
    "calendar-bounded daily aggregate.",
)
def stats_lin_ccc(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ccc_sql(SPARK))


# ---------------------------------------------------------------------------
# Lo-MacKinlay variance ratio test (q = 24)
# ---------------------------------------------------------------------------
_VR_Q = 24


def _vr_sql(d: Dialect) -> str:
    prefix = spine_from_counts(d)
    q = _VR_Q
    body = f"""
    , serie AS (
        SELECT /*+ BROADCAST(c) */ s.event_type, s.h,
               CAST(COALESCE(c.cnt, 0) AS BIGINT) AS x
        FROM spine s LEFT JOIN counts c
          ON c.event_type = s.event_type AND c.h = s.h
    ), qsum AS (
        SELECT event_type, h, x,
               CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY h
                    ROWS BETWEEN {q - 1} PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS sq,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                    ORDER BY h) AS BIGINT) AS rn
        FROM serie
    ), mom AS (
        -- squared moments ACCUMULATE IN DOUBLE: an hourly count near
        -- 1e8 at 100 TB makes a 24-hour sum ~2.4e9 whose square alone
        -- approaches int64 (the r12 Cochran lesson); exact in double
        -- at any test scale
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               SUM(CAST(x AS DOUBLE) * x) AS sxx,
               CAST(SUM(CASE WHEN rn >= {q} THEN sq END) AS BIGINT)
                   AS ssq,
               SUM(CASE WHEN rn >= {q}
                        THEN CAST(sq AS DOUBLE) * sq END) AS ssqq,
               CAST(SUM(CASE WHEN rn >= {q} THEN 1 ELSE 0 END)
                    AS BIGINT) AS nq
        FROM qsum GROUP BY event_type
        HAVING COUNT(*) >= {3 * q}
    ), vr AS (
        -- var1 = [sxx - sx^2/n] / (n-1)
        -- varq = [ssqq - 2*q*mu*ssq + nq*(q*mu)^2] / nq with
        --        mu = sx/n: the exact-integer centered identities (no
        --        per-row mean subtraction — the AVG-midpoint rule)
        SELECT event_type, n, nq,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1) AS var1,
               (CAST(ssqq AS DOUBLE)
                - 2.0e0 * {q} * (CAST(sx AS DOUBLE) / n) * ssq
                + nq * ({q}.0e0 * sx / n) * ({q}.0e0 * sx / n))
                   / nq AS varq
        FROM mom
    )
    SELECT event_type, n AS n_hours,
           CASE WHEN var1 > 0
                THEN CAST(ROUND(varq / ({q} * var1) * 1000000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS vr_e9,
           var1 <= 0 AS degenerate,
           CASE WHEN var1 > 0
                THEN CAST(ROUND((varq / ({q} * var1) - 1.0e0)
                     / sqrt(2.0e0 * (2 * {q} - 1) * ({q} - 1)
                            / (3.0e0 * {q} * n)) * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN var1 > 0
                THEN (varq / ({q} * var1) - 1.0e0)
                     / sqrt(2.0e0 * (2 * {q} - 1) * ({q} - 1)
                            / (3.0e0 * {q} * n)) > 1.96e0
                ELSE FALSE END AS persistent,
           CASE WHEN var1 > 0
                THEN (varq / ({q} * var1) - 1.0e0)
                     / sqrt(2.0e0 * (2 * {q} - 1) * ({q} - 1)
                            / (3.0e0 * {q} * n)) < -1.96e0
                ELSE FALSE END AS mean_reverting
    FROM vr
"""
    return prefix + body


@register(
    "timeseries_variance_ratio",
    oracle=_vr_sql(DUCK),
    doc="Lo-MacKinlay (1988) overlapped variance-ratio test per metric "
    "at q = 24 hours over the dense hourly count series: VR = "
    "Var(24h overlapping sums) / (24 Var(hourly)), z = (VR - 1) / "
    "sqrt(2(2q-1)(q-1)/(3qn)) against the random-walk null — VR > 1 "
    "persistence, VR < 1 mean reversion. The FORMAL decision "
    "companion of the Hurst R/S row (an exponent estimate with no "
    "test). Both variances come from the exact-integer centered "
    "identities (sum x^2 - (sum x)^2/n; the q-sum moments expand "
    "around q*mu algebraically), so no data-sized row ever meets a "
    "float mean; window q-sums are integers. One spine window pass "
    "per metric; constant series flag degenerate.",
)
def timeseries_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _vr_sql(SPARK))


# ---------------------------------------------------------------------------
# Burrows' Delta stylometry
# ---------------------------------------------------------------------------
_BD_TOPN = 150

_BD_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, term
    ), stot AS (
        SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM tf
        GROUP BY source
    ), vocab AS (
        -- top-N corpus terms by total frequency: ORDER BY + LIMIT with
        -- total tie-breaks (the closed vocab-rank budget class)
        SELECT term FROM (
            SELECT term, CAST(SUM(c) AS BIGINT) AS tot FROM tf
            GROUP BY term) z
        ORDER BY tot DESC, term ASC LIMIT {topn}
    ), rel AS (
        -- relative frequency per (source, term) over the FULL
        -- source x vocab grid (absent terms are real zeros), e9
        SELECT s.source, v.term,
               CAST(ROUND(CAST(COALESCE(tf.c, 0) AS DOUBLE) / s.n
                    * 1000000000) AS BIGINT) AS f_e9
        FROM stot s
        CROSS JOIN vocab v
        LEFT JOIN tf ON tf.source = s.source AND tf.term = v.term
    ), zstat AS (
        -- sff accumulates in DECIMAL(38,0) (r14 ADVICE): f_e9 can
        -- reach 1e9 for a source concentrated on one term, so the
        -- per-term square reaches 1e18 — exact in int64 per TERM but
        -- ~10 such sources overflow an int64 SUM, and a DOUBLE sum
        -- past 2^53 is summation-order-dependent in its last ulp.
        -- DECIMAL sums are exact and order-free in both engines; the
        -- single DOUBLE conversion happens at the variance formula.
        -- sf stays exact int64 (<= n_sources * 1e9).
        SELECT term,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(f_e9) AS BIGINT) AS sf,
               CAST(SUM(CAST(f_e9 * f_e9 AS DECIMAL(38,0)))
                    AS DOUBLE) AS sff
        FROM rel GROUP BY term
    ), zsc AS (
        -- z = (f - mean)/std; zero-variance terms contribute 0 to
        -- every pair (flagged through n_zero_var)
        SELECT r.source, r.term,
               CASE WHEN z.sff - CAST(z.sf AS DOUBLE) * z.sf / z.k > 0
                    THEN CAST(ROUND((r.f_e9 - CAST(z.sf AS DOUBLE) / z.k)
                         / sqrt((z.sff - CAST(z.sf AS DOUBLE) * z.sf
                                 / z.k) / z.k) * 1000000) AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS z_e6,
               CASE WHEN z.sff - CAST(z.sf AS DOUBLE) * z.sf / z.k > 0
                    THEN 0 ELSE 1 END AS zero_var
        FROM rel r JOIN zstat z ON z.term = r.term
    )
    SELECT a.source AS sa, b.source AS sb,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(ROUND(CAST(SUM(ABS(a.z_e6 - b.z_e6)) AS DOUBLE)
                / COUNT(*) / 1000) AS BIGINT) AS delta_e3,
           CAST(SUM(a.zero_var) AS BIGINT) AS n_zero_var
    FROM zsc a JOIN zsc b
      ON b.term = a.term AND a.source < b.source
    GROUP BY a.source, b.source
"""


@register(
    "text_burrows_delta",
    oracle=_BD_TMPL.format(d=DUCK, topn=_BD_TOPN),
    doc="Burrows' Delta (2002), the standard stylometric attribution "
    "distance, between every source pair: top-150 corpus terms by "
    "frequency (ORDER BY tot DESC, term ASC LIMIT — the closed "
    "vocab-rank budget class, per-partition top-k), per-source "
    "relative frequencies on the full source x vocab grid (absent "
    "terms are real zeros, e9), per-term z-scores across sources via "
    "the exact-integer centered identity, Delta = mean |z_a - z_b|. "
    "High-frequency vocab is stopword-dominated, so Delta tracks "
    "STYLE/register — authorship — where text_distribution_drift "
    "tracks topic mix; the two separate different corpus mixtures. "
    "Zero-variance terms contribute zero and are counted per pair. "
    "One tokenize reduction + a 150 x sources grid; every later "
    "stage is vocab-budget-bounded.",
)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_BD_TMPL.format(d=SPARK, topn=_BD_TOPN))
