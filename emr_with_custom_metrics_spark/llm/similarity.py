"""Similarity search over embedding columns ([EXT], SURVEY.md §2B).

Three tiers, by scale:

* brute-force top-k  — broadcast the query vector, one codegen'd cosine per
                       row, TakeOrdered k. Exact; linear scan; the baseline
                       and the correctness oracle for everything else.
* IVF top-k          — coarse quantization: assign vectors to the nearest of
                       C centroids (here: per-`label` centroids — the table's
                       natural clusters), probe only the nearest cell(s).
                       Scan cost drops to |cell| ≈ N/C. Deterministic, so
                       fully SQL-oracle-able.
* LSH near-dup join  — random-hyperplane signatures; same-bucket candidates
                       then exact re-rank. Approximate → rows-only check.

All distance math is higher-order-function arithmetic from
``functions.vector`` — JVM-side, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_fanned
from emr_with_custom_metrics_spark.functions.vector import cosine, dot, norm
from emr_with_custom_metrics_spark.registry import register

QUERY_VEC_ID = 0
TOP_K = 10
# Multi-table random-hyperplane LSH: collision prob for one table of p
# planes is (1-θ/π)^p; OR-ing L tables lifts recall to 1-(1-(1-θ/π)^p)^L.
# 16 tables × 8 planes = 256 buckets/table keeps the candidate rate a few
# percent of all pairs; recall is ≈0.99 for near-identical vectors
# (cos ≥ 0.95) and degrades gracefully at moderate similarity — the regime
# trade-off sign-LSH makes by construction (IVF covers moderate-cos top-k).
LSH_TABLES = 16
LSH_PLANES_PER_TABLE = 8


_SQL_TOPK_EXACT = f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
      SELECT e.vec_id, e.label,
             (CAST(ROUND((list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cos_sim
      FROM embeddings e, q WHERE e.vec_id <> {QUERY_VEC_ID})
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
    """


@register(
    "similarity_topk_exact",
    oracle=_SQL_TOPK_EXACT,
    doc="Exact cosine top-k vs a fixed query vector: broadcast query → "
    "codegen cosine → TakeOrderedAndProject (per-partition heaps, no sort).",
)
def similarity_topk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    return (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (F.round((cosine(F.col("embedding"), F.col("qv"))) * 1000000).cast("bigint") / 1000000.0).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def pos_avgs(embeddings: DataFrame) -> DataFrame:
    """(label, pos, a): the RAW per-label per-component mean — the shared
    first reduction behind both ``label_centroids`` (which e9-quantizes
    it) and ``pq_codebooks`` (which regroups it by subspace). One
    posexplode pass over N×dim rows instead of one per consumer (opt
    r16, guide §2.4); the grouping grain (label, pos) is identical to
    both originals' (m is a function of pos), so the AVG values are the
    same doubles either way."""
    return (
        embeddings.select(
            "label",
            F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val"),
        )
        .groupBy("label", "pos")
        .agg(F.avg("val").alias("a"))
    )


def label_centroids(embeddings: DataFrame, avgs: DataFrame | None = None) -> DataFrame:
    """Per-label mean vector via posexplode → grouped avg → re-assemble.

    The posexplode shape (N×dim rows, grouped on (label, pos)) is the
    scalable way to average vectors — no collect_list of whole arrays.
    Components quantize e9 (the _SIL_ORACLE idiom, r14 ADVICE): a raw
    parallel AVG differs by a last ulp across runs/engines, and these
    centroids feed probe-selection ORDER BYs where a near-tie cosine
    would flip which cells are scanned.

    ``avgs``: optionally a pre-staged :func:`pos_avgs` table, so callers
    computing BOTH centroids and PQ codebooks pay the explode once."""
    if avgs is None:
        avgs = pos_avgs(embeddings)
    avg_comp = avgs.select(
        "label",
        "pos",
        (F.round(F.col("a") * 1000000000) / 1000000000.0).alias("avg_val"),
    )
    return (
        avg_comp.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "avg_val"))).alias("pairs"))
        .select("label", F.transform("pairs", lambda p: p["avg_val"]).alias("centroid"))
    )


_SQL_IVF_TOPK = f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cent_comp AS (
      -- e9-quantized like _SIL_ORACLE (r14 ADVICE): probe selection
      -- below compares centroid cosines, so both engines must feed
      -- it identical doubles
      SELECT label, i,
             ROUND(AVG(embedding[i]::DOUBLE) * 1000000000)
                 / 1000000000.0e0 AS c
      FROM embeddings, RANGE(1, 65) t(i) GROUP BY label, i),
    cent AS (
      SELECT label, LIST(c ORDER BY i) AS centroid FROM cent_comp GROUP BY label),
    best AS (
      SELECT cent.label FROM cent, q
      ORDER BY list_cosine_similarity(cent.centroid, q.qv) DESC, cent.label LIMIT 1),
    scored AS (
      SELECT e.vec_id, e.label,
             (CAST(ROUND((list_cosine_similarity(e.embedding::DOUBLE[], q.qv)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cos_sim
      FROM embeddings e, q, best
      WHERE e.label = best.label AND e.vec_id <> {QUERY_VEC_ID})
    SELECT vec_id, label, cos_sim FROM scored
    ORDER BY cos_sim DESC, vec_id LIMIT {TOP_K}
    """


@register(
    "similarity_ivf_topk",
    oracle=_SQL_IVF_TOPK,
    doc="IVF-style ANN: probe only the cell whose centroid is nearest the "
    "query (cells = label clusters). Deterministic coarse quantization → "
    "exact SQL oracle; scan cost N/C instead of N.",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_topk_core(spark, sf_dir)


def _ivf_topk_core(
    spark: SparkSession,
    sf_dir: str,
    q: DataFrame | None = None,
    cents: DataFrame | None = None,
) -> DataFrame:
    """The IVF pipeline, optionally over PRE-STAGED query/centroid tables
    so similarity_recall_report can share one centroid pass across its
    IVF and IVF+PQ arms (opt r16, guide §2.4 — the staged tables hold
    the identical deterministic e9-quantized values, so sharing changes
    no answer)."""
    e = load_fanned(spark, sf_dir, "embeddings")
    # Opt r15: q feeds the probe AND the cell scoring — staged so the
    # pushed-down vec_id=0 scan runs once (guide §2.4).
    if q is None:
        q = (
            e.where(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.col("embedding").alias("qv"))
            .localCheckpoint()
        )
    if cents is None:
        cents = label_centroids(e)
    best = (
        cents.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("c"))
        .orderBy(F.col("c").desc(), F.col("label"))
        .limit(1)
        .select("label")
    )
    return (
        e.join(F.broadcast(best), "label")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (F.round((cosine(F.col("embedding"), F.col("qv"))) * 1000000).cast("bigint") / 1000000.0).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def _lsh_planes(n_tables: int, planes_per_table: int, dim: int):
    """Seeded-deterministic Gaussian hyperplanes, flattened (tables×planes, dim)."""
    import random

    rng = random.Random(42)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)]
        for _ in range(n_tables * planes_per_table)
    ]


def hyperplane_signatures(
    embeddings: DataFrame,
    n_tables: int = LSH_TABLES,
    planes_per_table: int = LSH_PLANES_PER_TABLE,
    dim: int = 64,
) -> DataFrame:
    """Multi-table random-hyperplane LSH: one (table_id, bucket) row per
    vector per table — candidates are pairs colliding in ANY table.

    Signature computation is ONE Arrow-batched numpy matmul per batch
    (embeddings × planesᵀ → sign bits → packed bucket ids). This is the
    engine's sanctioned vectorized-Python path: 64 independent JVM
    higher-order folds per row lose to a single (batch×dim)·(dim×64) GEMM
    by an order of magnitude, and the UDF stays deterministic (fixed seed).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.array(_lsh_planes(n_tables, planes_per_table, dim))  # (T*P, dim)
    weights = 1 << np.arange(planes_per_table)  # bit-pack weights per table

    @pandas_udf("array<bigint>")
    def bucket_ids(emb):  # no annotations: pd is function-local, hints can't resolve
        mat = np.vstack(emb.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (mat @ planes.T) > 0  # (n, T*P)
        packed = bits.reshape(len(mat), n_tables, planes_per_table) @ weights  # (n, T)
        return pd.Series(list(packed.astype(np.int64)))

    sig = embeddings.withColumn("_buckets", bucket_ids(F.col("embedding")))
    return sig.select(
        *embeddings.columns, F.posexplode("_buckets").alias("table_id", "bucket")
    )


_LSH_SIGN = (
    "2 * (CAST('0x' || substr(md5('lsh|' || CAST(k.k // 8 AS VARCHAR) || '|' "
    "|| CAST(k.k % 8 AS VARCHAR) || '|' || CAST(d.d AS VARCHAR)), 1, 1) "
    "AS INT) & 1) - 1"
)


@register(
    "similarity_ann_lsh",
    # Upgraded rows-only → hash-oracled in round 7 (the LAST seeded-
    # projection query): the registered variant derives its hyperplanes
    # from md5 bits as RADEMACHER (±1) signs — the standard sign-LSH
    # family, no gaussians, no transcendentals — over vectors quantized
    # to exact 1e-6-scaled BIGINTs, so every projection is INTEGER
    # arithmetic (order-free partial aggregation) and the bucket bits,
    # candidate pairs, and 6-dp re-rank cosines all replay in DuckDB.
    oracle="""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (
      SELECT vec_id,
             list_transform(v, x -> CAST(ROUND(x * 1000000) AS BIGINT)) AS qv
      FROM e),
    planes AS (
      SELECT d.d AS d, k.k AS k,
             """ + _LSH_SIGN + """ AS sign
      FROM RANGE(0, 64) d(d), RANGE(0, 128) k(k)),
    dots AS (
      SELECT q.vec_id, p.k, SUM(q.qv[p.d + 1] * p.sign) AS dot
      FROM q, planes p GROUP BY q.vec_id, p.k),
    buckets AS (
      SELECT vec_id, k // 8 AS table_id,
             CAST(SUM(CASE WHEN dot > 0
                           THEN 1 << CAST(k % 8 AS INT) ELSE 0 END) AS BIGINT)
                 AS bucket
      FROM dots GROUP BY vec_id, k // 8),
    cand AS (
      SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
      FROM buckets x JOIN buckets y
        ON x.table_id = y.table_id AND x.bucket = y.bucket
       AND x.vec_id < y.vec_id)
    SELECT c.a_id, c.b_id,
           CAST(ROUND(list_cosine_similarity(ea.v, eb.v) * 1000000) AS BIGINT) AS cos_sim_e6
    FROM cand c
    JOIN e ea ON ea.vec_id = c.a_id
    JOIN e eb ON eb.vec_id = c.b_id
    WHERE CAST(ROUND(list_cosine_similarity(ea.v, eb.v) * 1000000) AS BIGINT) >= 400000
    """,
    doc="Multi-table random-hyperplane LSH near-neighbor join (16 tables × "
    "8 planes), exact-cosine re-ranked at ≥0.4. Candidate count ∝ bucket "
    "occupancy per table — the 100 TB near-duplicate pair-generation path "
    "(high-recall for near-identical vectors; moderate-cos top-k is IVF's "
    "job). Round 7: the registered query projects onto md5-derived "
    "Rademacher (±1) hyperplanes over 1e-6-quantized integer vectors — "
    "one broadcast 64-row sign table, 128 integer SUM expressions in one "
    "map-side-combinable aggregation — making the whole answer "
    "hash-verifiable; the gaussian numpy GEMM (hyperplane_signatures) "
    "stays as the measured fast path with its planted-near-dup gates.",
)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Round 10 (r9 VERDICT item 3 — the drifting signature stage): the
    # 64x128 Rademacher sign matrix is built ONCE on a single row (8192
    # md5 calls total) and broadcast; each vector then folds its 64
    # quantized components against all 128 columns INSIDE whole-stage
    # codegen. The previous shape (posexplode to 128k (vec, dim) rows +
    # broadcast join + a 128-expression hash aggregate back to vectors)
    # paid an exchange and a very wide aggregation buffer for the same
    # exact-integer dots. Same signs, same integer arithmetic — the
    # answer is bit-identical; only the plan changed (map-only until
    # the bucket self-join).
    sm = spark.sql(
        "SELECT transform(sequence(0, 63), d -> "
        "transform(sequence(0, 127), k -> "
        "2 * (CAST(conv(substring(md5(concat('lsh|', "
        "CAST(k div 8 AS STRING), '|', CAST(k % 8 AS STRING), '|', "
        "CAST(d AS STRING))), 1, 1), 16, 10) AS INT) % 2) - 1)) AS sm"
    )
    q = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("qv"),
    )
    dots = q.crossJoin(F.broadcast(sm)).select(
        "vec_id",
        F.expr(
            "transform(sequence(0, 127), k -> "
            "aggregate(sequence(0, 63), CAST(0 AS BIGINT), "
            "(acc, d) -> acc + element_at(qv, d + 1) "
            "* element_at(element_at(sm, d + 1), k + 1)))"
        ).alias("dots"),
    )
    sigs = dots.select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, 15), t -> "
                "aggregate(sequence(0, 7), 0, (acc, p) -> acc + "
                "IF(element_at(dots, 8 * t + p + 1) > 0, "
                "shiftleft(1, p), 0)))"
            )
        ).alias("table_id", "bucket"),
    ).select(
        "vec_id", "table_id", F.col("bucket").cast("bigint").alias("bucket")
    ).localCheckpoint()
    # Opt r15 (guide §2.4): sigs feeds both self-join sides — un-staged,
    # the 128-integer-fold signature pipeline executed twice. One compact
    # (vec, table, bucket) row set, materialized in the first side's job.
    # Candidate ids first — the multi-table dedup shuffles 16-byte id pairs,
    # not embedding payloads; vectors re-attach after the distinct.
    cands = (
        sigs.alias("x")
        .join(
            sigs.alias("y"),
            (F.col("x.table_id") == F.col("y.table_id"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.vec_id") < F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("a_id"), F.col("y.vec_id").alias("b_id"))
        .distinct()
    )
    # Normalize ONCE per vector; per-pair cosine then collapses to a dot —
    # the |candidates| × norm() work disappears.
    unit = (
        e.withColumn("_n", norm(F.col("embedding")))  # materialize norm ONCE per row
        .select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x / F.col("_n")
            ).alias("u"),
        )
        # Opt r15: unit feeds both re-rank attach sides — staged so the
        # scan + normalize pass runs once (guide §2.4).
        .localCheckpoint()
    )
    a = unit.select(F.col("vec_id").alias("a_id"), F.col("u").alias("a_u"))
    b = unit.select(F.col("vec_id").alias("b_id"), F.col("u").alias("b_u"))
    return (
        cands.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id",
            "b_id",
            # integer micro-cosine OUTPUT (r7 VERDICT item 2): the hashed
            # value is a BIGINT, immune to any engine's double formatting
            F.round(dot(F.col("a_u"), F.col("b_u")) * 1000000)
            .cast("bigint")
            .alias("cos_sim_e6"),
        )
        .where(F.col("cos_sim_e6") >= 400000)
    )


@register(
    "similarity_pairwise_dot",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    pairs AS (
      SELECT a.label AS label,
             (CAST(ROUND((list_dot_product(a.v, b.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS dp
      FROM e a JOIN e b ON a.vec_id < b.vec_id AND a.label = b.label)
    SELECT label, COUNT(*) AS n_pairs, (CAST(ROUND((AVG(dp)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS avg_dot
    FROM pairs GROUP BY label
    """,
    doc="Within-label pairwise dot-product stats — blocked self-join on the "
    "cluster key (the join never leaves the cell).",
)
def similarity_pairwise_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings")
    a = e.select("label", F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_v"))
    b = e.select(
        F.col("label").alias("b_label"), F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_v")
    )
    return (
        a.join(b, (F.col("label") == F.col("b_label")) & (F.col("a_id") < F.col("b_id")))
        .select("label", (F.round((dot(F.col("a_v"), F.col("b_v"))) * 1000000).cast("bigint") / 1000000.0).alias("dp"))
        .groupBy("label")
        .agg(F.count("*").alias("n_pairs"), (F.round((F.avg("dp")) * 1000000).cast("bigint") / 1000000.0).alias("avg_dot"))
    )


# Product quantization: M subspaces of the 64-dim embedding, each encoded as
# the id of its nearest per-label subspace centroid. Deterministic codebooks
# (per-label means, like the IVF cells) keep the whole pipeline — train,
# encode, ADC scan — exactly reproducible in SQL, unlike k-means-trained PQ.
PQ_M = 4
PQ_SUBDIM = 16  # 64 / PQ_M


def pq_codebooks(embeddings: DataFrame, avgs: DataFrame | None = None) -> DataFrame:
    """(label, m, cv): the per-label mean of subspace m — the deterministic
    codebook. Same posexplode-average shape as ``label_centroids``; the
    subspace id is just ``pos div SUBDIM``. Grouping on (label, pos) is
    the identical partition (m is a function of pos), so deriving from
    the shared :func:`pos_avgs` reduction yields the same doubles."""
    if avgs is None:
        avgs = pos_avgs(embeddings)
    avg = avgs.select(
        "label",
        (F.col("pos") / PQ_SUBDIM).cast("int").alias("m"),
        "pos",
        F.col("a").alias("c"),
    )
    return (
        avg.groupBy("label", "m")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pairs"))
        .select("label", "m", F.transform("pairs", lambda p: p["c"]).alias("cv"))
    )


def _sub_slices(df: DataFrame, vec_col: str) -> DataFrame:
    """Explode a vector column into (m, sub) subspace slices, JVM-side."""
    slices = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice(F.col(vec_col).cast("array<double>"), m * PQ_SUBDIM + 1, PQ_SUBDIM).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return df.select(*[c for c in df.columns if c != vec_col], F.explode(slices).alias("s")).select(
        *[c for c in df.columns if c != vec_col], F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _l2sq(a, b):
    """Squared L2 between two array<double> columns (HOF, JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@register(
    "similarity_pq_topk",
    oracle=f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cb_comp AS (
      SELECT label, (t.i - 1) // {PQ_SUBDIM} AS m, t.i AS i,
             AVG(embedding[t.i]::DOUBLE) AS c
      FROM embeddings, RANGE(1, 65) t(i) GROUP BY label, (t.i - 1) // {PQ_SUBDIM}, t.i),
    cb AS (SELECT label, m, LIST(c ORDER BY i) AS cv FROM cb_comp GROUP BY label, m),
    -- Squared distance computed explicitly on BOTH sides (no list_distance:
    -- its sqrt, later re-squared, ranks/sums a subtly different quantity
    -- than Spark's exact sum of squares — ULP divergence could flip the
    -- argmin tie-break or the 6-dp rounding on near-ties; r5 ADVICE).
    enc_d AS (
      SELECT vec_id, m, cl,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), i ->
               (sl[i] - cv[i]) * (sl[i] - cv[i]))) AS d2
      FROM (
        SELECT e.vec_id, cb.m, cb.label AS cl, cb.cv,
               list_slice(e.embedding::DOUBLE[],
                          cb.m * {PQ_SUBDIM} + 1, (cb.m + 1) * {PQ_SUBDIM}) AS sl
        FROM embeddings e, cb WHERE e.vec_id <> {QUERY_VEC_ID})),
    enc AS (
      SELECT vec_id, m, cl FROM (
        SELECT vec_id, m, cl,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cl) AS rn
        FROM enc_d) WHERE rn = 1),
    adc AS (
      SELECT m, cl,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), i ->
               (sl[i] - cv[i]) * (sl[i] - cv[i]))) AS d2
      FROM (
        SELECT cb.m, cb.label AS cl, cb.cv,
               list_slice(q.qv, cb.m * {PQ_SUBDIM} + 1, (cb.m + 1) * {PQ_SUBDIM}) AS sl
        FROM cb, q))
    SELECT enc.vec_id, CAST(ROUND(SUM(adc.d2) * 1000000) AS BIGINT) AS pq_dist_e6
    FROM enc JOIN adc ON enc.m = adc.m AND enc.cl = adc.cl
    GROUP BY enc.vec_id
    ORDER BY pq_dist_e6, enc.vec_id LIMIT {TOP_K}
    """,
    doc="Product-quantization ANN top-k: 64 dims split into 4 subspaces, "
    "each vector encoded as 4 codebook ids (per-label subspace means — "
    "deterministic, so train+encode+ADC all replay exactly in SQL), query "
    "scanned via asymmetric distance computation (one 10-entry lookup "
    "table per subspace, approximate distance = sum of table entries). "
    "The production memory story: 4 bytes per vector instead of 512 at "
    "scan time; candidates would be exact-re-ranked downstream exactly "
    "like the LSH path.",
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # Opt r15: the 40-row codebook table feeds both the encode join and
    # the ADC table — staged so its posexplode aggregate runs once.
    cb = pq_codebooks(e).localCheckpoint()

    # Encode: every (vector, subspace) against the 40-row broadcast codebook;
    # min(struct(d2, cl)) is a deterministic argmin (ties break on label).
    vec_slices = _sub_slices(e.select("vec_id", "embedding"), "embedding")
    codes = (
        vec_slices.where(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(cb), "m")
        .select("vec_id", "m", F.struct(_l2sq(F.col("sub"), F.col("cv")).alias("d2"), F.col("label").alias("cl")).alias("dc"))
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("best"))
        .select("vec_id", "m", F.col("best.cl").alias("cl"))
    )

    # ADC lookup table: the query's squared distance to every codebook entry.
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    q_slices = _sub_slices(q, "qv")
    adc = (
        q_slices.join(F.broadcast(cb), "m")
        .select("m", F.col("label").alias("cl"), _l2sq(F.col("sub"), F.col("cv")).alias("d2"))
    )

    return (
        codes.join(F.broadcast(adc), ["m", "cl"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("d2") * 1000000).cast("bigint").alias("pq_dist_e6"))
        .orderBy("pq_dist_e6", "vec_id")
        .limit(TOP_K)
    )


IVFPQ_CANDIDATES = 10 * TOP_K  # PQ-ranked pool before exact re-rank: the
# 10-entry deterministic codebooks are coarse (pq_topk's documented
# pool-recall limit), so the pool is 10x k — re-ranking 100 exact
# vectors is still nothing next to the compressed-domain scan it avoids
# Multi-cell probing: the label cells are weak cosine clusters on this
# synthetic corpus (measured recall@10 vs exact: 0.1/0.3/0.4/0.7 at
# nprobe 1/2/3/4 of 10 cells) — nprobe is THE recall/cost dial of IVF, so
# the hybrid path probes 4 and similarity_recall_report keeps measuring it.
IVFPQ_NPROBE = 4


def _ivfpq_head(nprobe: int) -> str:
    """The q / centroid / probed-cells CTE prefix of the IVF+PQ text,
    parameterized by nprobe. similarity_ivfpq_tradeoff composes its
    scanned-cell counts from this SAME prefix, so the sweep and the
    registered top-k row can never drift (the triad slice
    discipline)."""
    return f"""
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = {QUERY_VEC_ID}),
    cent_comp AS (
      -- e9-quantized like _SIL_ORACLE (r14 ADVICE): the probed-cell
      -- ORDER BY compares centroid cosines, and all four nprobe arms
      -- of the tradeoff sweep reuse this prefix
      SELECT label, i,
             ROUND(AVG(embedding[i]::DOUBLE) * 1000000000)
                 / 1000000000.0e0 AS c
      FROM embeddings, RANGE(1, 65) t(i) GROUP BY label, i),
    cent AS (
      SELECT label, LIST(c ORDER BY i) AS centroid FROM cent_comp GROUP BY label),
    best AS (
      SELECT cent.label FROM cent, q
      ORDER BY list_cosine_similarity(cent.centroid, q.qv) DESC, cent.label LIMIT {nprobe}),"""


def _ivfpq_sql(nprobe: int) -> str:
    """The full IVF+PQ pipeline text parameterized by nprobe — the
    registered similarity_ivfpq_topk oracle IS _ivfpq_sql(IVFPQ_NPROBE)."""
    return _ivfpq_head(nprobe) + f"""
    cb_comp AS (
      SELECT label, (t.i - 1) // {PQ_SUBDIM} AS m, t.i AS i,
             AVG(embedding[t.i]::DOUBLE) AS c
      FROM embeddings, RANGE(1, 65) t(i) GROUP BY label, (t.i - 1) // {PQ_SUBDIM}, t.i),
    cb AS (SELECT label, m, LIST(c ORDER BY i) AS cv FROM cb_comp GROUP BY label, m),
    cell AS (
      SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS v
      FROM embeddings e
      WHERE e.label IN (SELECT label FROM best) AND e.vec_id <> {QUERY_VEC_ID}),
    enc_d AS (
      SELECT vec_id, m, cl,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), i ->
               (sl[i] - cv[i]) * (sl[i] - cv[i]))) AS d2
      FROM (
        SELECT cell.vec_id, cb.m, cb.label AS cl, cb.cv,
               list_slice(cell.v, cb.m * {PQ_SUBDIM} + 1, (cb.m + 1) * {PQ_SUBDIM}) AS sl
        FROM cell, cb)),
    enc AS (
      SELECT vec_id, m, cl FROM (
        SELECT vec_id, m, cl,
               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d2, cl) AS rn
        FROM enc_d) WHERE rn = 1),
    adc AS (
      SELECT m, cl,
             list_sum(list_transform(range(1, {PQ_SUBDIM + 1}), i ->
               (sl[i] - cv[i]) * (sl[i] - cv[i]))) AS d2
      FROM (
        SELECT cb.m, cb.label AS cl, cb.cv,
               list_slice(q.qv, cb.m * {PQ_SUBDIM} + 1, (cb.m + 1) * {PQ_SUBDIM}) AS sl
        FROM cb, q)),
    pq_ranked AS (
      SELECT enc.vec_id, (CAST(ROUND((SUM(adc.d2)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS pq_dist
      FROM enc JOIN adc ON enc.m = adc.m AND enc.cl = adc.cl
      GROUP BY enc.vec_id
      ORDER BY pq_dist, enc.vec_id LIMIT {IVFPQ_CANDIDATES})
    SELECT c.vec_id, c.label,
           CAST(ROUND(list_cosine_similarity(c.v, q.qv) * 1000000) AS BIGINT) AS cos_sim_e6
    FROM pq_ranked p JOIN cell c ON c.vec_id = p.vec_id, q
    ORDER BY cos_sim_e6 DESC, c.vec_id LIMIT {TOP_K}
    """


_SQL_IVFPQ_TOPK = _ivfpq_sql(IVFPQ_NPROBE)


@register(
    "similarity_ivfpq_topk",
    oracle=_SQL_IVFPQ_TOPK,
    doc="IVF+PQ hybrid ANN — the production composition of the two oracled "
    "tiers: coarse-quantize to the nearest centroid's cell (scan 1/C of "
    "the data), rank the cell's members by 4-byte PQ ADC distance (the "
    "compressed-domain scan — no full vectors touched), keep a 3k "
    "candidate pool, then exact-cosine re-rank ONLY the pool. Every "
    "stage is deterministic (per-label centroids and codebooks), so "
    "train→probe→ADC→re-rank all hash against SQL — the whole IVF-PQ "
    "pipeline, verified end-to-end. At scale: centroids and ADC tables "
    "broadcast, the cell scan reads 4-byte codes, and exact vectors are "
    "fetched for only |pool| rows.",
)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_topk_df(spark, sf_dir, IVFPQ_NPROBE)


def _ivfpq_topk_df(
    spark: SparkSession,
    sf_dir: str,
    nprobe: int,
    q: DataFrame | None = None,
    cents: DataFrame | None = None,
    avgs: DataFrame | None = None,
) -> DataFrame:
    """The IVF+PQ DataFrame pipeline parameterized by nprobe — shared
    between the registered top-k row (nprobe = IVFPQ_NPROBE) and the
    similarity_ivfpq_tradeoff sweep.

    Opt r15 (guide §2.4/§3.3): q, the codebooks and the probed cell each
    feed two or three plan branches; un-staged, every branch re-ran its
    full embeddings scan (the _before plan held 13 scans).
    localCheckpoints on the three compact relations (1 row, 40 rows,
    |cell| rows) execute each subtree once — same arithmetic, same rows.

    Opt r16: q/cents/avgs may arrive pre-staged from
    similarity_recall_report (one component-average pass shared across
    the IVF and IVF+PQ arms — identical deterministic values, no answer
    change); standalone, the centroid and codebook tables both derive
    from ONE staged pos_avgs reduction instead of two posexplode
    passes."""
    e = load_fanned(spark, sf_dir, "embeddings")
    if q is None:
        q = (
            e.where(F.col("vec_id") == QUERY_VEC_ID)
            .select(F.col("embedding").alias("qv"))
            .localCheckpoint()
        )
    if avgs is None:
        avgs = pos_avgs(e).localCheckpoint()
    if cents is None:
        cents = label_centroids(e, avgs)

    # IVF probe: the nprobe nearest cells by centroid cosine.
    best = (
        cents
        .crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("c"))
        .orderBy(F.col("c").desc(), F.col("label"))
        .limit(nprobe)
        .select("label")
    )
    cell = (
        e.join(F.broadcast(best), "label")
        .where(F.col("vec_id") != QUERY_VEC_ID)
        .localCheckpoint()
    )

    # PQ encode the cell members against the broadcast codebooks (derived
    # from the shared staged pos_avgs — no second posexplode pass).
    cb = pq_codebooks(e, avgs).localCheckpoint()
    vec_slices = _sub_slices(cell.select("vec_id", "embedding"), "embedding")
    codes = (
        vec_slices.join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "m",
            F.struct(
                _l2sq(F.col("sub"), F.col("cv")).alias("d2"),
                F.col("label").alias("cl"),
            ).alias("dc"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("bestc"))
        .select("vec_id", "m", F.col("bestc.cl").alias("cl"))
    )
    adc = (
        _sub_slices(q, "qv")
        .join(F.broadcast(cb), "m")
        .select("m", F.col("label").alias("cl"), _l2sq(F.col("sub"), F.col("cv")).alias("d2"))
    )
    pool = (
        codes.join(F.broadcast(adc), ["m", "cl"])
        .groupBy("vec_id")
        .agg((F.round((F.sum("d2")) * 1000000).cast("bigint") / 1000000.0).alias("pq_dist"))
        .orderBy("pq_dist", "vec_id")
        .limit(IVFPQ_CANDIDATES)
        .select("vec_id")
    )
    return (
        cell.join(F.broadcast(pool), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            # integer micro-cosine OUTPUT (r7 VERDICT item 2)
            F.round(cosine(F.col("embedding"), F.col("qv")) * 1000000)
            .cast("bigint")
            .alias("cos_sim_e6"),
        )
        .orderBy(F.col("cos_sim_e6").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


@register(
    "similarity_recall_report",
    oracle=f"""
    WITH ex AS ({_SQL_TOPK_EXACT}),
    iv AS ({_SQL_IVF_TOPK}),
    ip AS ({_SQL_IVFPQ_TOPK})
    SELECT 'ivf' AS method,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           (CAST(ROUND((COUNT(*) / {TOP_K}.0) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS recall_at_k
    FROM iv WHERE vec_id IN (SELECT vec_id FROM ex)
    UNION ALL
    SELECT 'ivfpq',
           CAST(COUNT(*) AS BIGINT),
           (CAST(ROUND((COUNT(*) / {TOP_K}.0) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
    FROM ip WHERE vec_id IN (SELECT vec_id FROM ex)
    ORDER BY method
    """,
    doc="ANN evaluation IN-ENGINE: recall@k of the IVF and IVF+PQ paths "
    "against the exact brute-force top-k, as a first-class query — the "
    "measurement loop every production ANN deployment runs continuously "
    "(index drift, recall regressions) expressed as two semi-joins over "
    "the deterministic pipelines. Both approximate paths are themselves "
    "oracled, so this is a VERIFIED verification: the recall numbers "
    "hash-match SQL recomputing all three pipelines from scratch.",
)
def similarity_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Opt r15: ex is the semi-join side of BOTH recall arms — un-staged,
    # the exact-top-k full scan executed twice (guide §2.4). One compact
    # k-row relation, materialized inside the first arm's job.
    ex = similarity_topk_exact(spark, sf_dir).select("vec_id").localCheckpoint()
    # Opt r16 (guide §2.4): the IVF and IVF+PQ arms each recomputed the
    # full component-average pass (posexplode of every embedding) and
    # staged their own copy of the 1-row query vector. Stage the shared
    # pos_avgs reduction and q ONCE and pass them into both arms: the
    # centroid/codebook tables are model-sized and derive from identical
    # deterministic values, so every probe selection reads the same
    # numbers and no answer changes.
    e = load_fanned(spark, sf_dir, "embeddings")
    q = (
        e.where(F.col("vec_id") == QUERY_VEC_ID)
        .select(F.col("embedding").alias("qv"))
        .localCheckpoint()
    )
    avgs = pos_avgs(e).localCheckpoint()
    cents = label_centroids(e, avgs).localCheckpoint()
    rows = []
    for method, df in (
        ("ivf", _ivf_topk_core(spark, sf_dir, q=q, cents=cents)),
        ("ivfpq", _ivfpq_topk_df(spark, sf_dir, IVFPQ_NPROBE, q=q, cents=cents, avgs=avgs)),
    ):
        hits = df.select("vec_id").join(ex, "vec_id", "left_semi")
        rows.append(
            hits.agg(
                F.lit(method).alias("method"),
                F.count("*").cast("bigint").alias("n_hits"),
                (F.round((F.count("*") / TOP_K) * 10000).cast("bigint") / 10000.0).alias("recall_at_k"),
            ).select("method", "n_hits", "recall_at_k")
        )
    return rows[0].unionByName(rows[1]).orderBy("method")


MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7


def _mmr_oracle(k: int) -> str:
    """Chained-CTE replay of the greedy MMR loop (the BPE/LPA generated-
    template pattern): sel{i} picks iteration i's winner, selall{i}
    accumulates. rel and pairwise sims are ROUNDED AT 6 DP BEFORE the
    score arithmetic on both engines, so every comparison operates on
    identical doubles and the greedy argmax (ties to lowest vec_id) is
    cross-engine deterministic."""
    head = f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    pool AS (
      SELECT e.vec_id, e.label,
             (CAST(ROUND((list_cosine_similarity(e.v, q.qv)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS rel, e.v
      FROM e, q WHERE e.vec_id <> {QUERY_VEC_ID}
      ORDER BY rel DESC, e.vec_id LIMIT {MMR_POOL}),
    sel1 AS (
      SELECT 1 AS rank, vec_id, label, rel, CAST(0.0 AS DOUBLE) AS max_sim,
             {MMR_LAMBDA} * rel - {1 - MMR_LAMBDA:.1f} * CAST(0.0 AS DOUBLE) AS score
      FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
    selall1 AS (SELECT * FROM sel1)"""
    blocks = [head]
    for i in range(2, k + 1):
        p = i - 1
        blocks.append(f""",
    ms{i} AS (
      SELECT p.vec_id,
             MAX((CAST(ROUND((list_cosine_similarity(p.v, s.v)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE))) AS max_sim
      FROM pool p
      JOIN e s ON s.vec_id IN (SELECT vec_id FROM selall{p})
      WHERE p.vec_id NOT IN (SELECT vec_id FROM selall{p})
      GROUP BY p.vec_id),
    sel{i} AS (
      SELECT {i} AS rank, p.vec_id, p.label, p.rel, m.max_sim,
             {MMR_LAMBDA} * p.rel - {1 - MMR_LAMBDA:.1f} * m.max_sim AS score
      FROM pool p JOIN ms{i} m ON p.vec_id = m.vec_id
      ORDER BY score DESC, p.vec_id LIMIT 1),
    selall{i} AS (SELECT * FROM selall{p} UNION ALL SELECT * FROM sel{i})""")
    return "".join(blocks) + f"""
    SELECT rank, vec_id, label, rel, max_sim, (CAST(ROUND((score) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS score
    FROM selall{k}
    """


@register(
    "similarity_mmr_rerank",
    oracle=_mmr_oracle(MMR_K),
    doc="Maximal Marginal Relevance reranking (Carbonell & Goldstein "
    "1998): greedily pick k=5 results from the exact top-20 cosine pool, "
    "each step maximizing lambda*relevance - (1-lambda)*max-similarity-to-"
    "already-selected — the diversity-aware final stage of a retrieval "
    "pipeline (RAG dedup-at-serve-time). Sequential-greedy state rides "
    "the SAME pattern as the BPE trainer: the selected set is a tiny "
    "broadcast side (at most k rows), each iteration is one broadcast "
    "join + one aggregate over the 20-row pool, no driver-side state or "
    "collect. Fully hash-oracled because rel and pairwise sims are "
    "rounded at 6 dp BEFORE the score arithmetic (both engines then "
    "compare identical doubles; ties break to lowest vec_id). At 100 TB "
    "the pool-build is the only heavy stage (exact top-k scan); the "
    "greedy loop cost is k * pool and independent of corpus size.",
)
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_fanned(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    pool = (
        e.where(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            (F.round((cosine(F.col("embedding"), F.col("qv"))) * 1000000).cast("bigint") / 1000000.0).alias("rel"),
            F.col("embedding").alias("v"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(MMR_POOL)
        .localCheckpoint()
    )
    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 1)
    first = pool.orderBy(F.col("rel").desc(), "vec_id").limit(1).select(
        F.lit(1).alias("rank"),
        "vec_id",
        "label",
        "rel",
        F.lit(0.0).alias("max_sim"),
        (F.lit(lam) * F.col("rel") - F.lit(mu) * F.lit(0.0)).alias("score"),
        "v",
    )
    selected = first.localCheckpoint()
    for i in range(2, MMR_K + 1):
        sel_ids = selected.select("vec_id")
        sel_vecs = selected.select(F.col("vec_id").alias("s_id"), F.col("v").alias("sv"))
        remaining = pool.join(sel_ids, "vec_id", "left_anti")
        ms = (
            remaining.crossJoin(F.broadcast(sel_vecs))
            .select(
                "vec_id",
                (F.round((cosine(F.col("v"), F.col("sv"))) * 1000000).cast("bigint") / 1000000.0).alias("sim"),
            )
            .groupBy("vec_id")
            .agg(F.max("sim").alias("max_sim"))
        )
        winner = (
            remaining.join(ms, "vec_id")
            .select(
                F.lit(i).alias("rank"),
                "vec_id",
                "label",
                "rel",
                "max_sim",
                (F.lit(lam) * F.col("rel") - F.lit(mu) * F.col("max_sim")).alias(
                    "score"
                ),
                "v",
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
        selected = selected.unionByName(winner).localCheckpoint()
    return selected.select(
        "rank", "vec_id", "label", "rel", "max_sim", (F.round((F.col("score")) * 1000000).cast("bigint") / 1000000.0).alias("score")
    )


@register(
    "similarity_matryoshka_recall",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    full_rank AS (
      SELECT vec_id, ROW_NUMBER() OVER (
        ORDER BY (CAST(ROUND((list_cosine_similarity(e.v, q.qv)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) DESC, vec_id) AS rn
      FROM e, q WHERE vec_id <> {QUERY_VEC_ID}),
    dims AS (SELECT UNNEST([16, 32, 64]) AS d),
    trunc_rank AS (
      SELECT dims.d, e.vec_id,
             ROW_NUMBER() OVER (PARTITION BY dims.d
               ORDER BY (CAST(ROUND((list_cosine_similarity(
                 list_slice(e.v, 1, dims.d), list_slice(q.qv, 1, dims.d))) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE))
                 DESC, e.vec_id) AS rn
      FROM e, q, dims WHERE e.vec_id <> {QUERY_VEC_ID})
    SELECT t.d AS dims,
           CAST(COUNT(*) FILTER (WHERE f.rn <= {TOP_K}) AS BIGINT) AS n_hits,
           (CAST(ROUND((COUNT(*) FILTER (WHERE f.rn <= {TOP_K}) / {TOP_K}.0) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
               AS recall_at_k
    FROM trunc_rank t JOIN full_rank f USING (vec_id)
    WHERE t.rn <= {TOP_K}
    GROUP BY t.d
    """,
    doc="Matryoshka-style truncation evaluation: rank the corpus by "
    "cosine over the FIRST d dimensions (d = 16/32/64) and measure "
    "recall@10 of each truncated ranking against the full-width exact "
    "top-10 — the storage/quality dial modern embedding models expose "
    "(truncate-and-renormalize retrieval). Everything is deterministic "
    "(6 dp-rounded scores, id tie-breaks), so the whole evaluation "
    "hash-verifies — same contract as similarity_recall_report. d = 64 "
    "is the built-in sanity row (recall 1.0 by construction). Plan: one "
    "broadcast of the query vector, a 3-way dimension fan-out of "
    "prefix-cosine rankings (map-side slice, per-partition top-k), one "
    "join against the exact ranking.",
)
def similarity_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_fanned(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == QUERY_VEC_ID).select(F.col("embedding").alias("qv"))
    base = e.where(F.col("vec_id") != QUERY_VEC_ID).crossJoin(F.broadcast(q))
    full_rank = base.select(
        "vec_id",
        F.row_number()
        .over(
            Window.orderBy(
                (F.round((cosine(F.col("embedding"), F.col("qv"))) * 1000000).cast("bigint") / 1000000.0).desc(), "vec_id"
            )
        )
        .alias("full_rn"),
    )
    dims = spark.createDataFrame([(16,), (32,), (64,)], "d int")
    trunc = (
        base.crossJoin(F.broadcast(dims))
        .select(
            "vec_id",
            "d",
            (F.round((cosine(
                    F.slice(F.col("embedding").cast("array<double>"), 1, F.col("d")),
                    F.slice(F.col("qv").cast("array<double>"), 1, F.col("d")),
                )) * 1000000).cast("bigint") / 1000000.0).alias("c"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("d").orderBy(F.col("c").desc(), "vec_id")
            ),
        )
        .where(F.col("rn") <= TOP_K)
    )
    return (
        # r16: trunc is <= 3*TOP_K rows — broadcast it so the join with
        # the full ranking never shuffles (guide §3.1, audit item).
        F.broadcast(trunc).join(full_rank, "vec_id")
        .groupBy(F.col("d").alias("dims"))
        .agg(
            F.count_if(F.col("full_rn") <= TOP_K).cast("bigint").alias("n_hits"),
            (F.round((F.count_if(F.col("full_rn") <= TOP_K) / float(TOP_K)) * 10000).cast("bigint") / 10000.0).alias(
                "recall_at_k"
            ),
        )
    )
