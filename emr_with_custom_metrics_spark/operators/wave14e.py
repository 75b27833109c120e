"""Round-14 wave 14e: embedding-geometry diagnostics for the
training-data pipeline.

* ``embedding_intrinsic_dim`` — the TwoNN intrinsic-dimension
  estimator (Facco et al. 2017) over a deterministic 256-vector
  sample: for each sampled point, the ratio mu = d2/d1 of its two
  exact nearest-neighbor distances over the FULL corpus, ID =
  m / sum ln(mu). Embedding collections that live on a low-
  dimensional manifold (template families, mode collapse) read far
  below the ambient 64 — the geometry readout none of the
  PCA/variance rows give (PCA measures LINEAR dimension; TwoNN sees
  curved manifolds). Sampled-exact: 256 x N dot products, linear in
  the corpus and map-parallel — never the N^2 all-pairs join.
* ``embedding_knn_outliers`` — per-document neighborhood sparsity
  over the shared cosine candidate set (>= 0.25, the pair memo):
  outlier score = 1 - mean(top-8 neighbor cosines). Documents with
  NO neighbor above the floor are maximal outliers by construction —
  exactly the "nothing else like this in the corpus" curation signal
  (good: rare high-value data; bad: garbage/encoding failures —
  either way the rows a curator must look at). The complement of the
  dedup family: dedup finds what repeats, this finds what doesn't.

House discipline: cosines quantize e6 BEFORE any ranking or ratio
(both engines rank identical values regardless of their internal
summation order); ln(mu) quantizes e9 per sample and sums as exact
integers (the Fisher lnp pattern); exact-duplicate neighbors (d1 = 0)
are excluded and counted, never divided by.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register

_ID_SAMPLE = 256


def _twonn_sql(d: Dialect) -> str:
    src = "{embeddings}" if d is SPARK else "embeddings"
    if d is SPARK:
        cos = (
            "aggregate(zip_with(s.qv, b.embedding, (x, y) -> "
            "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v) / "
            "(sqrt(aggregate(s.qv, CAST(0.0 AS DOUBLE), (a, v) -> "
            "a + CAST(v AS DOUBLE) * v)) * "
            "sqrt(aggregate(b.embedding, CAST(0.0 AS DOUBLE), "
            "(a, v) -> a + CAST(v AS DOUBLE) * v)))"
        )
    else:
        cos = (
            "list_cosine_similarity(s.qv::DOUBLE[], "
            "b.embedding::DOUBLE[])"
        )
    return f"""
    WITH samp AS (
        -- deterministic hash-ordered sample: a global TakeOrdered of
        -- {_ID_SAMPLE} rows, bounded by construction
        SELECT vec_id AS qid, embedding AS qv FROM {src}
        ORDER BY md5(CAST(vec_id AS {d.string})), vec_id
        LIMIT {_ID_SAMPLE}
    ), pairs AS (
        SELECT s.qid, b.vec_id AS nid,
               CAST(ROUND(({cos}) * 1000000) AS BIGINT) AS c_e6
        FROM samp s JOIN {src} b ON b.vec_id <> s.qid
    ), ranked AS (
        SELECT qid, nid, c_e6,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY c_e6 DESC, nid ASC) AS rn
        FROM pairs
    ), top2 AS (
        SELECT qid,
               CAST(MAX(CASE WHEN rn = 1 THEN c_e6 END) AS BIGINT)
                   AS c1_e6,
               CAST(MAX(CASE WHEN rn = 2 THEN c_e6 END) AS BIGINT)
                   AS c2_e6
        FROM ranked WHERE rn <= 2 GROUP BY qid
        HAVING COUNT(*) >= 2
    ), mu AS (
        -- d = sqrt(2 - 2c) on the e6 cosines (monotone in c), so
        -- mu^2 = (1 - c2)/(1 - c1); ln quantizes e9 per sample
        SELECT qid,
               CASE WHEN c1_e6 >= 1000000 THEN NULL
                    ELSE CAST(ROUND(0.5e0 * ln(
                         (1000000.0e0 - c2_e6)
                         / (1000000.0e0 - c1_e6)) * 1000000000)
                         AS BIGINT) END AS lnmu_e9
        FROM top2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
           CAST(COUNT(lnmu_e9) AS BIGINT) AS n_used,
           CAST(COUNT(*) - COUNT(lnmu_e9) AS BIGINT) AS n_dup,
           CASE WHEN SUM(lnmu_e9) > 0
                THEN CAST(ROUND(CAST(COUNT(lnmu_e9) AS DOUBLE)
                     / (SUM(lnmu_e9) / 1000000000.0e0) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS intrinsic_dim_e6,
           COALESCE(SUM(lnmu_e9), 0) <= 0 AS degenerate
    FROM mu
"""


@register(
    "embedding_intrinsic_dim",
    oracle=_twonn_sql(DUCK),
    doc="TwoNN intrinsic-dimension estimate (Facco 2017) of the "
    "embedding collection: for each of 256 deterministically hash-"
    "sampled vectors, the EXACT two nearest neighbors over the full "
    "corpus (cosines e6-quantized BEFORE ranking so both engines rank "
    "identical values; ties by neighbor id), mu = d2/d1 via "
    "d = sqrt(2-2c), ID = m / sum ln(mu) with each ln e9-quantized "
    "and summed exactly (the Fisher lnp pattern). A collection on a "
    "low-dimensional manifold (template families, mode collapse) "
    "reads far below the ambient 64 — and unlike the PCA variance "
    "row, TwoNN sees CURVED manifolds. Exact-duplicate neighbors "
    "(d1 = 0) are excluded and counted; an all-duplicate sample "
    "flags degenerate. Cost: 256 x N dot products — linear, "
    "map-parallel, never the N^2 all-pairs join (the sampled-exact "
    "posture of knn_self_join_exact's recall baseline).",
)
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.catalog import load_fanned

    return spark.sql(
        _twonn_sql(SPARK), embeddings=load_fanned(spark, sf_dir, "embeddings")
    )


# ---------------------------------------------------------------------------
# kNN outlier scores
# ---------------------------------------------------------------------------
_KO_K = 8
_KO_FLOOR = 0.25

_KO_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cand AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000)
              AS BIGINT) AS c_e6
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000)
             AS BIGINT) / CAST(1000000 AS DOUBLE)) >= {_KO_FLOOR}
    ), both_ AS (
      SELECT a_id AS node, b_id AS nbr, c_e6 FROM cand
      UNION ALL SELECT b_id, a_id, c_e6 FROM cand
    ), topk AS (
      SELECT node, c_e6 FROM (
        SELECT node, c_e6,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY c_e6 DESC, nbr ASC) AS rk
        FROM both_) z
      WHERE rk <= {_KO_K}
    ), agg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
             CAST(SUM(c_e6) AS BIGINT) AS sc
      FROM topk GROUP BY node
    )
    SELECT emb.vec_id,
           CAST(COALESCE(a.n_neighbors, 0) AS BIGINT) AS n_neighbors,
           CAST(CASE WHEN a.node IS NULL THEN 0
                ELSE CAST(ROUND(CAST(a.sc AS DOUBLE) / a.n_neighbors)
                     AS BIGINT) END AS BIGINT) AS mean_topk_cos_e6,
           CAST(CASE WHEN a.node IS NULL THEN 1000000
                ELSE 1000000 - CAST(ROUND(CAST(a.sc AS DOUBLE)
                     / a.n_neighbors) AS BIGINT) END AS BIGINT)
               AS outlier_score_e6,
           a.node IS NULL AS no_neighbors
    FROM embeddings emb
    LEFT JOIN agg a ON a.node = emb.vec_id
"""


@register(
    "embedding_knn_outliers",
    oracle=_KO_ORACLE,
    doc="Per-document neighborhood-sparsity outlier score over the "
    "shared cosine candidate set (floor 0.25 — the pair memo the "
    "dedup/graph family rides): score = 1 - mean(top-8 neighbor "
    "cosines), e6. Documents with NO neighbor above the floor are "
    "maximal outliers BY CONSTRUCTION and flagged — 'nothing else "
    "like this in the corpus', the curation signal complementary to "
    "the whole dedup family (dedup finds what repeats; this finds "
    "what doesn't: rare high-value data or garbage, either way the "
    "rows a curator reads). Quantized-integer cosine sums (exact "
    "regardless of partition order), per-node top-k via a node-"
    "partitioned window over the degree-bounded candidate list, one "
    "LEFT JOIN against the full id list so isolated rows emit, "
    "never vanish.",
)
def embedding_knn_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from emr_with_custom_metrics_spark.catalog import load_fanned
    from emr_with_custom_metrics_spark.llm.dedup import embedding_cosine_pairs

    cand = embedding_cosine_pairs(spark, sf_dir, threshold=_KO_FLOOR).select(
        "a_id", "b_id",
        F.round(F.col("cos_sim") * 1_000_000).cast("bigint").alias("c_e6"),
    )
    both = cand.select(
        F.col("a_id").alias("node"), F.col("b_id").alias("nbr"), "c_e6"
    ).unionByName(
        cand.select(
            F.col("b_id").alias("node"), F.col("a_id").alias("nbr"), "c_e6"
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("c_e6").desc(), F.col("nbr").asc()
    )
    agg = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _KO_K)
        .groupBy("node")
        .agg(
            F.count("*").cast("bigint").alias("n_neighbors"),
            F.sum("c_e6").cast("bigint").alias("sc"),
        )
    )
    emb = load_fanned(spark, sf_dir, "embeddings").select("vec_id")
    mean_c = F.round(F.col("sc").cast("double") / F.col("n_neighbors")).cast(
        "bigint"
    )
    return (
        emb.join(agg, emb["vec_id"] == agg["node"], "left")
        .select(
            "vec_id",
            F.coalesce(F.col("n_neighbors"), F.lit(0))
            .cast("bigint")
            .alias("n_neighbors"),
            F.when(F.col("node").isNull(), F.lit(0))
            .otherwise(mean_c)
            .cast("bigint")
            .alias("mean_topk_cos_e6"),
            F.when(F.col("node").isNull(), F.lit(1_000_000))
            .otherwise(F.lit(1_000_000) - mean_c)
            .cast("bigint")
            .alias("outlier_score_e6"),
            F.col("node").isNull().alias("no_neighbors"),
        )
    )
