"""Round-9 wave 8f: density clustering, robust trend, sequence mining.

* ``cluster_dbscan_embeddings`` — DBSCAN (Ester et al., KDD 1996) over
  the cosine>=0.3 similarity relation: core points by neighbor count,
  clusters as connected components of the core-core subgraph, border
  points attached deterministically, the rest noise. Fills the density-
  clustering gap next to kmeans (centroid) and LPA (modularity).
* ``stats_theil_sen_trend`` — the Theil-Sen robust slope (median of all
  pairwise slopes) + median-residual intercept per metric's daily
  series, entirely in exact integer order statistics.
* ``events_sequence_patterns`` — GSP/PrefixSpan-style sequential-pattern
  support counting: which ordered (not necessarily contiguous) event-
  type subsequences of length 2-3 appear in >=5% of user streams. The
  SUBSEQUENCE complement of events_path_topk's contiguous paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_table, register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import counts_cte, hour_counts_sql
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# DBSCAN over embeddings
# ---------------------------------------------------------------------------
# DBSCAN (Ester et al., KDD 1996) with the cosine>=0.3 neighborhood the
# whole graph family shares (edges from llm.dedup.embedding_cosine_pairs'
# block-pair GEMM): a point with >= MINPTS neighbors is CORE; clusters
# are the connected components of the core-core subgraph (min-label
# propagation — the dedup_clusters machinery); a non-core point adjacent
# to any core point is BORDER and joins the SMALLEST adjacent core
# cluster (classic DBSCAN leaves border assignment scan-order-dependent;
# the min rule makes it deterministic and engine-independent); everything
# else is NOISE (cluster -1). Labels are min vec_ids, so the whole
# labeling is a deterministic function of the edge set.
#
# Scale: pair generation is the shared block-pair GEMM (the only
# data-sized stage); degree/core are one aggregate; CC rounds = core-
# subgraph diameter (near-dup graphs: 2-3), each one join + one
# aggregate, lineage-checkpointed.

_DBSCAN_MINPTS = 4

_DBSCAN_ORACLE = """
    WITH RECURSIVE
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) >= 0.3),
    edges AS (
      SELECT a_id AS s, b_id AS t FROM pairs
      UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT s AS node, COUNT(*) AS d FROM edges GROUP BY s),
    core AS (SELECT node FROM deg WHERE d >= 4),
    ce AS (
      SELECT s, t FROM edges
      WHERE s IN (SELECT node FROM core) AND t IN (SELECT node FROM core)),
    reach(node, comp) AS (
      SELECT node, node FROM core
      UNION
      SELECT e2.t, r.comp FROM reach r JOIN ce e2 ON e2.s = r.node
      WHERE r.comp < e2.t),
    lab AS (
      SELECT node, CAST(MIN(comp) AS BIGINT) AS cluster
      FROM reach GROUP BY node),
    border AS (
      SELECT e3.t AS node, CAST(MIN(l.cluster) AS BIGINT) AS cluster
      FROM edges e3 JOIN lab l ON l.node = e3.s
      WHERE e3.t NOT IN (SELECT node FROM core)
      GROUP BY e3.t)
    SELECT v.vec_id,
           CASE WHEN l.node IS NOT NULL THEN 'core'
                WHEN b.node IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(l.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM (SELECT vec_id FROM embeddings) v
    LEFT JOIN lab l ON l.node = v.vec_id
    LEFT JOIN border b ON b.node = v.vec_id
"""


@register(
    "cluster_dbscan_embeddings",
    oracle=_DBSCAN_ORACLE,
    doc="DBSCAN (Ester et al., KDD 1996) over the shared cosine>=0.3 "
    "similarity relation, minPts=4: core points by neighbor count, "
    "clusters = connected components of the core-core subgraph (min-"
    "label propagation, labels = min vec_id), border points join the "
    "smallest adjacent core cluster (deterministic variant of the "
    "classic scan-order-dependent assignment), remainder noise "
    "(cluster -1). Pair generation is the block-pair GEMM — the only "
    "data-sized stage; CC rounds = core-graph diameter, lineage-"
    "checkpointed. DuckDB replays via WITH RECURSIVE reach.",
)
def cluster_dbscan_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.llm.dedup import (
        connected_components,
        embedding_cosine_pairs,
    )

    pairs = (
        embedding_cosine_pairs(spark, sf_dir, threshold=0.3)
        .select("a_id", "b_id")
        .localCheckpoint()
    )
    sym = pairs.select(F.col("a_id").alias("s"), F.col("b_id").alias("t")).unionByName(
        pairs.select(F.col("b_id").alias("s"), F.col("a_id").alias("t"))
    )
    deg = sym.groupBy(F.col("s").alias("node")).agg(F.count("*").alias("d"))
    core = deg.filter(F.col("d") >= _DBSCAN_MINPTS).select("node").localCheckpoint()
    ce = (
        sym.join(core.withColumnRenamed("node", "s"), "s")
        .join(core.withColumnRenamed("node", "t"), "t")
        .select(F.col("s").alias("a_id"), F.col("t").alias("b_id"))
    )
    lab = connected_components(core, ce).withColumnRenamed("comp", "cluster")
    border = (
        sym.join(lab.withColumnRenamed("node", "s"), "s")
        .join(core.withColumnRenamed("node", "t"), ["t"], "left_anti")
        .groupBy(F.col("t").alias("node"))
        .agg(F.min("cluster").alias("cluster"))
    )
    allv = load_table(spark, sf_dir, "embeddings").select("vec_id")
    out = (
        allv.join(
            lab.select(F.col("node").alias("vec_id"), F.col("cluster").alias("cl_core")),
            "vec_id",
            "left",
        )
        .join(
            border.select(
                F.col("node").alias("vec_id"), F.col("cluster").alias("cl_border")
            ),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.when(F.col("cl_core").isNotNull(), F.lit("core"))
            .when(F.col("cl_border").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("cl_core", "cl_border", F.lit(-1))
            .cast("bigint")
            .alias("cluster"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------
# Theil (1950) / Sen (1968): the slope estimate robust to ~29% outliers
# is the MEDIAN of all pairwise slopes (y_j - y_i)/(t_j - t_i); the
# intercept is the median residual at that slope. Over each metric's
# daily count series the pair set is calendar-bounded (30 days -> 435
# pairs per metric, constant wrt data volume). Exactness: slopes
# quantize e6 from one fixed-order division over exact integer counts;
# the median is a pure ORDER-STATISTIC over those integers (rank
# (m+1)/2 — the lower median, deterministic under ties by (slope, i,
# j) total order); residuals y_i*1e6 - slope_e6*t_i are EXACT integers
# so the intercept median never touches a float.

_THEILSEN_CORE = """
    , daily AS (
        SELECT event_type, CAST(FLOOR(h / 24.0) AS BIGINT) AS d,
               CAST(SUM(cnt) AS BIGINT) AS y
        FROM counts GROUP BY event_type, CAST(FLOOR(h / 24.0) AS BIGINT)
    ), idx AS (
        SELECT event_type, y,
               CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
                   - 1 AS BIGINT) AS t
        FROM daily
    ), slopes AS (
        SELECT a.event_type,
               CAST(ROUND(CAST(b.y - a.y AS DOUBLE) / (b.t - a.t) * 1000000)
                   AS BIGINT) AS slope_e6,
               a.t AS i, b.t AS j
        FROM idx a JOIN idx b
          ON a.event_type = b.event_type AND b.t > a.t
    ), med_slope AS (
        SELECT event_type, slope_e6, m AS n_pairs
        FROM (SELECT event_type, slope_e6,
                     ROW_NUMBER() OVER (PARTITION BY event_type
                                        ORDER BY slope_e6, i, j) AS rn,
                     CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                         AS m
              FROM slopes)
        WHERE rn = CAST(FLOOR((m + 1) / 2.0e0) AS BIGINT)
    ), resid AS (
        SELECT x.event_type, s.n_pairs, s.slope_e6,
               x.y * 1000000 - s.slope_e6 * x.t AS r_e6,
               x.t
        FROM idx x JOIN med_slope s ON s.event_type = x.event_type
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_days,
           MAX(n_pairs) AS n_pairs,
           MAX(slope_e6) AS slope_e6,
           MAX(r_med) AS intercept_e6
    FROM (SELECT event_type, n_pairs, slope_e6, r_e6 AS r_med,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY r_e6, t) AS rn,
                 CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
          FROM resid)
    WHERE rn = CAST(FLOOR((n + 1) / 2.0e0) AS BIGINT)
    GROUP BY event_type
"""


def _theilsen_sql(d: Dialect) -> str:
    return "WITH " + counts_cte(d, d.mat) + _THEILSEN_CORE


@register(
    "stats_theil_sen_trend",
    oracle=_theilsen_sql(DUCK),
    doc="Theil-Sen robust trend (Theil 1950 / Sen 1968) of each metric's "
    "daily count series: slope = lower median of all pairwise slopes "
    "(each one fixed-order double division over exact counts, quantized "
    "e6; median an exact order statistic with (slope, i, j) tie order), "
    "intercept = median of the EXACT integer residuals y*1e6 - "
    "slope_e6*t. The pair set is calendar-bounded (435 pairs/metric) — "
    "constant wrt data volume; derives from the staged hourly reduction "
    "(hour_counts_sql). Complements OLS (agg_linear_regression) and "
    "isotonic (stats_isotonic_trend) with the outlier-robust estimate.",
)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hour_counts_sql(spark, sf_dir, _theilsen_sql(SPARK))


# ---------------------------------------------------------------------------
# Sequential pattern support (GSP / PrefixSpan support-counting layer)
# ---------------------------------------------------------------------------
# Agrawal & Srikant (ICDE 1995) / Pei et al. (ICDE 2001): a sequential
# pattern <a, b, c> is supported by a user if their time-ordered event
# stream contains a then b then c — NOT necessarily contiguously (the
# subsequence complement of events_path_topk's contiguous 3-step
# paths). With the closed 5-symbol event alphabet the candidate space
# is enumerable (25 + 125), so support counting is one regex
# containment test per (user, pattern): pattern <a,b,c> holds iff the
# user's coded sequence matches a.*b.*c. Output: patterns of length
# 2-3 with support >= 5% of users (integer cross-multiplication, no
# float in the decision).
#
# Scale: per-user sequences are one shuffle; the pattern relation is
# model-sized (alphabet^3) and broadcast; support counting is map-side.
# A production corpus would cap the per-user window (the sequence
# string is O(events/user)) — at this schema's grain users are bounded
# by the 30-day window.

_SEQPAT_TAIL = """
    , codes AS (
        SELECT DISTINCT SUBSTR(event_type, 1, 1) AS c FROM events
    ), pats AS (
        SELECT a.c || '>' || b.c AS pattern,
               a.c || '.*' || b.c AS rx,
               CAST(2 AS BIGINT) AS k
        FROM codes a CROSS JOIN codes b
        UNION ALL
        SELECT a.c || '>' || b.c || '>' || d.c AS pattern,
               a.c || '.*' || b.c || '.*' || d.c AS rx,
               CAST(3 AS BIGINT) AS k
        FROM codes a CROSS JOIN codes b CROSS JOIN codes d
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM seqs
    ), sup AS (
        SELECT p.pattern, p.k, CAST(COUNT(*) AS BIGINT) AS n_sup
        FROM seqs s JOIN pats p ON {REGEX}
        GROUP BY p.pattern, p.k
    )
    SELECT s.pattern, s.k, s.n_sup,
           CAST(ROUND(CAST(s.n_sup AS DOUBLE) * 1000000 / t.n_users)
               AS BIGINT) AS support_e6
    FROM sup s CROSS JOIN tot t
    WHERE s.n_sup * 20 >= t.n_users
"""

_SEQPAT_SPARK = (
    """
    WITH seqs AS (
        SELECT user_id,
               array_join(transform(array_sort(
                   collect_list(named_struct('t', ts, 'e', event_id,
                       'c', SUBSTR(event_type, 1, 1)))),
                   x -> x.c), '') AS seq
        FROM events GROUP BY user_id
    )"""
    + _SEQPAT_TAIL.format(REGEX="s.seq RLIKE p.rx")
)

_SEQPAT_DUCK = (
    """
    WITH seqs AS MATERIALIZED (
        SELECT user_id,
               string_agg(SUBSTR(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM events GROUP BY user_id
    )"""
    + _SEQPAT_TAIL.format(REGEX="regexp_matches(s.seq, p.rx)")
)


@register(
    "events_sequence_patterns",
    oracle=_SEQPAT_DUCK,
    doc="Sequential-pattern support counting (GSP, Agrawal & Srikant "
    "ICDE 1995): ordered NOT-necessarily-contiguous event-type "
    "subsequences of length 2-3 supported by >=5% of users (exact "
    "integer support test n_sup*20 >= n_users). The closed 5-symbol "
    "alphabet makes the candidate space enumerable (25+125 patterns, "
    "broadcast); containment is one a.*b.*c regex per (user, pattern) "
    "over the (ts, event_id)-ordered coded stream. One shuffle builds "
    "per-user sequences; support counting is map-side + one bounded "
    "aggregate. Complements events_path_topk (contiguous paths).",
)
def events_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_SEQPAT_SPARK)
