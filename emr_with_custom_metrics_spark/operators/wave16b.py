"""Driver-round-15 wave 16b: the KPSS stationarity test, the EWMA
control chart, a bottom-k minwise Jaccard sketch, label-partition
conductance, a distribution-free Hoeffding drift bound, and
Dirichlet-smoothed query-likelihood retrieval.

* ``timeseries_kpss`` — Kwiatkowski-Phillips-Schmidt-Shin (J.
  Econometrics 1992) level-stationarity test per metric over the
  dense daily grid: the NULL-REVERSED complement of
  ``timeseries_dickey_fuller`` (DF null = unit root, KPSS null =
  stationary; the two together give the standard four-quadrant
  stationarity verdict). Short-run variance (lag truncation l = 0,
  the iid-null form); eta multiplied out to an exact-integer ratio
  sum_t (n*P_t - t*S)^2 / (n^2 * (n*sum y^2 - S^2)) with
  DECIMAL(38,0) accumulation and the hi/mid/lo correctly-rounded
  double conversion, so both engines round the identical eta.
* ``spc_ewma_chart`` — Roberts (Technometrics 1959) EWMA control
  chart per metric, lambda = 0.2, exact time-varying 3-sigma limits
  sigma_z(t) = sigma*sqrt(lam/(2-lam)*(1-(1-lam)^{2t})): the MEMORY
  member of the SPC family (western_electric = Shewhart rules,
  capability = margins, this = small-persistent-shift detection).
  The recurrence is ONE array fold per metric (fold-template family)
  whose INIT carries [z0, t, n_ooc, first_ooc, mu0_e9, sig_e9] —
  zero lambda captures; z quantized e9 per round so the fold is
  engine-exact.
* ``sketch_bottomk_jaccard`` — bottom-k minwise Jaccard estimation
  between source vocabularies (Broder 1997; Bar-Yossef et al. 2002):
  per-source bottom-16 of md5-derived 32-bit term hashes, estimate =
  |bottom-k(A u B) n A_sig n B_sig| / |bottom-k(A u B)|, audited
  against the exact Jaccard in-engine. The SET-SIMILARITY member of
  the sketch family (theta = intersection cardinality, KMV/HLL =
  distinct counts, count-min/MG = frequencies); signatures merge by
  union -> bottom-k, so per-partition signatures compose without
  touching raw data — at 100 TB only k hashes per source cross the
  network.
* ``graph_conductance_labels`` — per-label conductance phi(S) =
  cut(S)/min(vol(S), vol(V\\S)) over the shared MUTUAL top-16 cosine
  graph: the BOUNDARY-quality complement of ``graph_modularity``'s
  within-density score (a partition can be modular yet leaky; phi is
  the Cheeger/sparsest-cut readout). Label spine left-joined so
  empty labels emit degenerate-flagged rows, never drop.
* ``stats_hoeffding_drift`` — the distribution-free Hoeffding
  two-sample bound on the SAME user-level conversion contrast as
  ``stats_proportion_ztest`` (value >= 150 purchase, md5 arms):
  eps = sqrt((1/n_a + 1/n_b) * ln(2/delta) / 2) at delta = 0.05 —
  an ASSUMPTION-FREE significance gate next to the z-test's normal
  approximation (Hoeffding 1963). Exact integer counts; conditional
  aggregation emits ONE row even when an arm is empty (degenerate-
  flagged, never dropped).
* ``retrieval_dirichlet_lm`` — Dirichlet-smoothed query-likelihood
  retrieval (Zhai-Lafferty SIGIR 2001), mu = 2000, over the SAME
  pinned query (first 8 terms of document 1) as
  ``text_bm25_retrieval``: the language-modeling ranking beside
  BM25's probabilistic-relevance one (the two standard lexical
  baselines of a RAG/contamination pipeline). Every document is
  scored (the smoothed LM assigns mass to unmatched terms via
  score = K + sum_matched ln((tf+mu*p_c)/(mu*p_c)) - nq*ln(dl+mu)),
  but the corpus-sized work is still one token pass: matched-term
  sums come from a broadcast semi-join, the rest is doc-length
  algebra. Per-term logs e9-quantized then exactly summed (no
  double-sum order hazard); top-10 via ORDER BY + LIMIT
  (TakeOrderedAndProject).

House discipline: per-row quantize -> exact integer sums -> one
correctly-rounded division; NULLIF-staged divisions (ANSI hazard
5a); degenerate groups flagged, never dropped; every small side
broadcast; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import (
    load_table,
    register_views,
)
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave15b import _daily_dense
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# KPSS level-stationarity test
# ---------------------------------------------------------------------------
_KPSS_CRIT = 0.463  # 5% level-stationarity critical value (KPSS 1992 tbl 1)

# eta = sum_t S_t^2 / (n^2 * s^2) with S_t the partial sums of the
# demeaned series and s^2 the (l = 0) short-run variance. Multiplying
# out by n^2 twice gives the EXACT integer identity
#   eta = sum_t (n*P_t - t*S)^2 / (n^2 * (n*sum(y^2) - S^2))
# (P_t = running sum, S = total): both numerator and denominator are
# exact integers accumulated in DECIMAL(38,0) (squares pass 2^53),
# converted once via the hi/mid/lo split, divided once.
_KPSS_CORE = """
    , seq AS (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY day) AS t,
               SUM(y) OVER (PARTITION BY event_type ORDER BY day
                            ROWS UNBOUNDED PRECEDING) AS p
        FROM dense
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS {d.wide_int}) * y) AS s2
        FROM seq GROUP BY event_type
    ), numer AS (
        SELECT q.event_type,
               SUM(CAST(a.n * q.p - q.t * a.s AS {d.wide_int})
                   * (a.n * q.p - q.t * a.s)) AS num
        FROM seq q JOIN agg a ON a.event_type = q.event_type
        GROUP BY q.event_type
    ), wide AS (
        SELECT a.event_type, a.n,
               {numd} AS numd,
               {dend} AS dend
        FROM agg a JOIN (
            SELECT n2.event_type,
                   CAST(n2.n AS {d.wide_int}) * n2.n
                   * (CAST(n2.n AS {d.wide_int}) * n2.s2_pick
                      - CAST(n2.s AS {d.wide_int}) * n2.s) AS den
            FROM (SELECT event_type, n, s, s2 AS s2_pick FROM agg) n2
        ) d ON d.event_type = a.event_type
        JOIN numer u ON u.event_type = a.event_type
    ), fit AS (
        -- NULLIF-staged ratio (hazard 5a): a constant series has
        -- dend = 0 and must flag degenerate, not divide
        SELECT event_type, n,
               numd / NULLIF(dend, 0.0e0) AS eta
        FROM wide
    )
    SELECT event_type, n AS n_days,
           CAST(ROUND(eta * 1000000000) AS BIGINT) AS eta_e9,
           CASE WHEN eta IS NULL THEN CAST(NULL AS BOOLEAN)
                ELSE eta > {crit} END AS reject_stationarity,
           (eta IS NULL) AS degenerate
    FROM fit
    ORDER BY event_type
"""


def _kpss_sql(d: Dialect) -> str:
    # exact wide accumulators (d.wide_int; the stats_dagostino_k2
    # convention — DuckDB decimal products past precision 38 fail where
    # HUGEINT keeps exact 128-bit ints)
    return _daily_dense(d) + _KPSS_CORE.format(
        d=d,
        numd=d.wide_to_double("u.num"),
        dend=d.wide_to_double("d.den"),
        crit=_KPSS_CRIT,
    )


@register(
    "timeseries_kpss",
    oracle=_kpss_sql(DUCK),
    doc="KPSS (1992) level-stationarity test per metric over dense "
    "daily counts, lag truncation l = 0: eta = sum partial-sum^2 / "
    "(n^2 s^2) multiplied out to the exact integer ratio "
    "sum(n*P_t - t*S)^2 / (n^2(n*sum y^2 - S^2)), DECIMAL(38,0) "
    "accumulation, hi/mid/lo double conversion, ONE division — both "
    "engines round the identical eta. Null REVERSED vs "
    "timeseries_dickey_fuller (stationary null here, unit-root null "
    "there): together the standard four-quadrant verdict. eta > "
    "0.463 rejects level stationarity at 5%. Constant series flag "
    "degenerate via NULLIF, never drop; one window pass + "
    "metric-sized joins above the daily reduction.",
)
def timeseries_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_kpss_sql(SPARK))


# ---------------------------------------------------------------------------
# EWMA control chart
# ---------------------------------------------------------------------------
_EWMA_LAM = 0.2  # the conventional small-shift-sensitive choice
# lam/(2-lam) = 1/9; (1-lam)^2 = 0.64 — both written as exact-literal
# doubles in the lambda so each engine computes the identical limit.

# Fold state (element_at, 1-based in BOTH engines):
#   [1] z_e9      EWMA, e9-quantized per round (engine-exact)
#   [2] t         observations consumed
#   [3] n_ooc     days outside the time-varying 3-sigma band
#   [4] first_t   1-based index of the first OOC day (-1 = none)
#   [5] mu0_e9    phase-I center (packed param — zero lambda captures)
#   [6] sig_e9    phase-I sigma  (packed param)
_EWMA_STEP = """
    (acc, e) -> {arr}(
        CAST(ROUND(0.8e0 * {el}(acc, 1)
             + 0.2e0 * {el}(e, 1) * 1000000000) AS BIGINT),
        {el}(acc, 2) + 1,
        {el}(acc, 3) + CASE WHEN
            ABS(CAST(ROUND(0.8e0 * {el}(acc, 1)
                + 0.2e0 * {el}(e, 1) * 1000000000) AS BIGINT)
                - {el}(acc, 5))
            > CAST(ROUND(3.0e0 * {el}(acc, 6)
                * sqrt((1.0e0 / 9.0e0)
                  * (1.0e0 - power(0.64e0,
                        CAST({el}(acc, 2) + 1 AS DOUBLE)))))
              AS BIGINT)
            THEN 1 ELSE 0 END,
        CASE WHEN {el}(acc, 4) >= 0 THEN {el}(acc, 4)
             WHEN ABS(CAST(ROUND(0.8e0 * {el}(acc, 1)
                  + 0.2e0 * {el}(e, 1) * 1000000000) AS BIGINT)
                  - {el}(acc, 5))
                  > CAST(ROUND(3.0e0 * {el}(acc, 6)
                      * sqrt((1.0e0 / 9.0e0)
                        * (1.0e0 - power(0.64e0,
                              CAST({el}(acc, 2) + 1 AS DOUBLE)))))
                    AS BIGINT)
             THEN {el}(acc, 2) + 1 ELSE CAST(-1 AS BIGINT) END,
        {el}(acc, 5),
        {el}(acc, 6)
    )
"""

_EWMA_CORE = """
    , ser AS (
        SELECT event_type,
               CAST(MIN(day) AS BIGINT) AS d0,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(y) AS BIGINT) AS s,
               SUM(CAST(y AS {d.wide_int}) * y) AS s2,
               {steps} AS steps
        FROM dense GROUP BY event_type
    ), params AS (
        -- phase-I estimates from the whole series (the conventional
        -- retrospective chart): mu0 and POPULATION sigma, each ONE
        -- correctly-rounded operation over exact integer sums
        SELECT event_type, d0, n, steps,
               CAST(ROUND(CAST(s AS DOUBLE) / n * 1000000000)
                    AS BIGINT) AS mu0_e9,
               CAST(ROUND(sqrt({vard} / n / n) * 1000000000)
                    AS BIGINT) AS sig_e9
        FROM (SELECT event_type, d0, n, s, steps,
                     CAST(n AS {d.wide_int}) * s2
                     - CAST(s AS {d.wide_int}) * s AS var_w
              FROM ser) v
    ), folded AS (
        SELECT event_type, d0, n, mu0_e9, sig_e9,
               {fold} AS st
        FROM params
    )
    SELECT event_type,
           n AS n_days,
           mu0_e9, sig_e9,
           {el2}(st, 1) AS ewma_final_e9,
           {el2}(st, 3) AS n_ooc,
           CASE WHEN {el2}(st, 4) >= 0
                THEN d0 + {el2}(st, 4) - 1
                ELSE CAST(NULL AS BIGINT) END AS first_ooc_day,
           (sig_e9 = 0) AS degenerate
    FROM folded
    ORDER BY event_type
"""


def _ewma_sql(d: Dialect) -> str:
    if d is SPARK:
        el, arr = "element_at", "array"
        steps = (
            "transform(array_sort(collect_list(struct(day, y))), "
            "q -> array(CAST(q.y AS BIGINT)))"
        )
        init = (
            "array(mu0_e9, CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
            "CAST(-1 AS BIGINT), mu0_e9, sig_e9)"
        )
        step = _EWMA_STEP.format(el=el, arr=arr)
        fold = f"aggregate(steps, {init}, {step})"
    else:
        el, arr = "list_element", "list_value"
        steps = "list([CAST(y AS BIGINT)] ORDER BY day)"
        init = (
            "[mu0_e9, CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
            "CAST(-1 AS BIGINT), mu0_e9, sig_e9]"
        )
        step = _EWMA_STEP.format(el=el, arr=arr)
        fold = f"list_reduce(list_concat([{init}], steps), {step})"
    return _daily_dense(d) + _EWMA_CORE.format(
        d=d, steps=steps, fold=fold, el2=el, vard=d.wide_to_double("var_w")
    )


@register(
    "spc_ewma_chart",
    oracle=_ewma_sql(DUCK),
    doc="Roberts (1959) EWMA control chart per metric over dense "
    "daily counts, lambda = 0.2, exact time-varying 3-sigma limits "
    "sigma_z(t) = sigma sqrt(lam/(2-lam)(1-(1-lam)^2t)): the MEMORY "
    "member of the SPC family — spc_western_electric reads Shewhart "
    "instability patterns, spc_capability_indices reads margins, "
    "this detects the small persistent shift both miss. ONE array "
    "fold per metric (fold-template family: init packs "
    "[z0,t,ooc,first,mu0_e9,sig_e9], zero lambda captures, z "
    "quantized e9 per round — engine-exact); phase-I mu/sigma from "
    "exact DECIMAL(38,0) sums. Emits final EWMA, OOC day count, "
    "first OOC day; zero-sigma series flag degenerate, never drop.",
)
def spc_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ewma_sql(SPARK))


# ---------------------------------------------------------------------------
# bottom-k minwise Jaccard
# ---------------------------------------------------------------------------
_BK_K = 16


_BK_TMPL = """
    WITH dtok AS (
        SELECT DISTINCT source, term FROM (
            SELECT source, {d.terms} AS term FROM documents
        ) z
    ), hs AS (
        SELECT DISTINCT source, {h32} AS h FROM dtok
    ), sig AS (
        -- bottom-k signature per source: the k SMALLEST distinct
        -- hashes (mergeable: union -> bottom-k re-compresses)
        SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY h ASC) AS rk
            FROM hs
        ) r WHERE rk <= {k}
    ), pairs AS (
        SELECT a.source AS src_a, b.source AS src_b
        FROM (SELECT DISTINCT source FROM documents) a
        JOIN (SELECT DISTINCT source FROM documents) b
          ON a.source < b.source
    ), usig AS (
        -- bottom-k of the UNION signature per pair
        SELECT src_a, src_b, h FROM (
            SELECT u.src_a, u.src_b, u.h,
                   ROW_NUMBER() OVER (PARTITION BY u.src_a, u.src_b
                                      ORDER BY u.h ASC) AS rk
            FROM (SELECT DISTINCT p.src_a, p.src_b, s.h
                  FROM pairs p JOIN sig s
                    ON s.source = p.src_a OR s.source = p.src_b) u
        ) r WHERE rk <= {k}
    ), est AS (
        SELECT u.src_a, u.src_b,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(SUM(CASE WHEN ia.h IS NOT NULL
                              AND ib.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS k_inter
        FROM usig u
        LEFT JOIN sig ia ON ia.source = u.src_a AND ia.h = u.h
        LEFT JOIN sig ib ON ib.source = u.src_b AND ib.h = u.h
        GROUP BY u.src_a, u.src_b
    ), cnt AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM dtok
        GROUP BY source
    ), ix AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS i
        FROM dtok a JOIN dtok b
          ON b.term = a.term AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT p.src_a, p.src_b,
           e.k_used,
           CAST(ROUND(CAST(e.k_inter AS DOUBLE) * 1000000 / e.k_used)
                AS BIGINT) AS jaccard_est_e6,
           CAST(ROUND(CAST(COALESCE(x.i, 0) AS DOUBLE) * 1000000
                / (ca.c + cb.c - COALESCE(x.i, 0)))
                AS BIGINT) AS jaccard_exact_e6,
           ABS(CAST(ROUND(CAST(e.k_inter AS DOUBLE) * 1000000
                    / e.k_used) AS BIGINT)
               - CAST(ROUND(CAST(COALESCE(x.i, 0) AS DOUBLE) * 1000000
                      / (ca.c + cb.c - COALESCE(x.i, 0)))
                 AS BIGINT)) AS abs_err_e6
    FROM pairs p
    JOIN est e ON e.src_a = p.src_a AND e.src_b = p.src_b
    JOIN cnt ca ON ca.source = p.src_a
    JOIN cnt cb ON cb.source = p.src_b
    LEFT JOIN ix x ON x.src_a = p.src_a AND x.src_b = p.src_b
    ORDER BY p.src_a, p.src_b
"""


@register(
    "sketch_bottomk_jaccard",
    oracle=_BK_TMPL.format(
        d=DUCK,
        h32=DUCK.hex32("md5(concat('bk|', term))"),
        k=_BK_K,
    ),
    doc="Bottom-k minwise Jaccard estimation between source "
    "vocabularies (Broder 1997 min-wise resemblance; Bar-Yossef "
    "2002 bottom-k): per-source bottom-16 of md5-derived 32-bit "
    "term hashes, J_est = |bottom-k(A u B) n sig_A n sig_B| / "
    "|bottom-k(A u B)|, AUDITED in-engine against the exact "
    "Jaccard. The SET-SIMILARITY member of the mergeable-sketch "
    "family (theta: intersection size, KMV/HLL: distinct counts, "
    "count-min/MG: frequencies) and the sketch tier under the exact "
    "dedup_* rows: signatures merge by union -> bottom-k, so at "
    "100 TB only k hashes per source cross the network while the "
    "exact audit join exists only for validation. Source pairs are "
    "source-count-bounded; exact integer hashes, ONE division per "
    "estimate.",
)
def sketch_bottomk_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        _BK_TMPL.format(
            d=SPARK,
            h32=SPARK.hex32("md5(concat('bk|', term))"),
            k=_BK_K,
        )
    )


# ---------------------------------------------------------------------------
# label-partition conductance
# ---------------------------------------------------------------------------
from emr_with_custom_metrics_spark.operators.wave13b import (  # noqa: E402
    _KTRUSS_MUTUAL_SQL,
    mutual_topk_edges,
)

_COND_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_KTRUSS_MUTUAL_SQL},
    lab AS (SELECT vec_id, CAST(label AS BIGINT) AS c FROM embeddings),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges0),
    sides AS (
        SELECT la.c AS ca, lb.c AS cb
        FROM edges0 ed
        JOIN lab la ON la.vec_id = ed.a_id
        JOIN lab lb ON lb.vec_id = ed.b_id
    ), vol AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS vol FROM (
            SELECT ca AS c FROM sides UNION ALL SELECT cb FROM sides
        ) z GROUP BY c
    ), cut AS (
        SELECT c, CAST(COUNT(*) AS BIGINT) AS cut FROM (
            SELECT ca AS c FROM sides WHERE ca <> cb
            UNION ALL
            SELECT cb FROM sides WHERE ca <> cb
        ) z GROUP BY c
    ), spine AS (
        SELECT DISTINCT CAST(label AS BIGINT) AS c FROM embeddings
    ), terms AS (
        SELECT s.c,
               CAST(COALESCE(v.vol, 0) AS BIGINT) AS vol,
               CAST(COALESCE(x.cut, 0) AS BIGINT) AS cut,
               (SELECT 2 * m FROM m) - CAST(COALESCE(v.vol, 0) AS BIGINT)
                   AS volc
        FROM spine s
        LEFT JOIN vol v ON v.c = s.c
        LEFT JOIN cut x ON x.c = s.c
    )
    SELECT c AS label, vol, cut,
           CAST(ROUND(CAST(cut AS DOUBLE) * 1000000000
                / NULLIF(CASE WHEN vol < volc THEN vol ELSE volc END,
                         0)) AS BIGINT) AS conductance_e9,
           (CASE WHEN vol < volc THEN vol ELSE volc END = 0)
               AS degenerate
    FROM terms
    ORDER BY label
"""


@register(
    "graph_conductance_labels",
    oracle=_COND_ORACLE,
    doc="Per-label conductance phi(S) = cut(S)/min(vol(S), "
    "vol(V-S)) over the shared MUTUAL top-16 cosine graph "
    "(mutual_topk_edges, degree <= 16 by construction): the "
    "BOUNDARY-quality complement of graph_modularity's "
    "within-density — the Cheeger/sparsest-cut readout that tells a "
    "partition is LEAKY even when it is modular. Exact integer "
    "cut/volume counts from one label-join pass over the "
    "degree-bounded edge list; label spine left-joined so labels "
    "with no graph volume (or the whole graph) emit "
    "degenerate-flagged rows via NULLIF, never drop.",
)
def graph_conductance_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = mutual_topk_edges(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    lab = emb.select(
        "vec_id", F.col("label").cast("bigint").alias("c")
    )
    sides = (
        edges.join(
            lab.withColumnRenamed("vec_id", "a_id").withColumnRenamed(
                "c", "ca"
            ),
            "a_id",
        )
        .join(
            lab.withColumnRenamed("vec_id", "b_id").withColumnRenamed(
                "c", "cb"
            ),
            "b_id",
        )
        .select("ca", "cb")
    )
    m2 = sides.agg((F.count("*") * 2).cast("bigint").alias("m2"))
    vol = (
        sides.select(F.col("ca").alias("c"))
        .unionByName(sides.select(F.col("cb").alias("c")))
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("vol"))
    )
    cut = (
        sides.where(F.col("ca") != F.col("cb"))
        .select(F.col("ca").alias("c"))
        .unionByName(
            sides.where(F.col("ca") != F.col("cb")).select(
                F.col("cb").alias("c")
            )
        )
        .groupBy("c")
        .agg(F.count("*").cast("bigint").alias("cut"))
    )
    spine = emb.select(
        F.col("label").cast("bigint").alias("c")
    ).distinct()
    terms = (
        spine.join(F.broadcast(vol), "c", "left")
        .join(F.broadcast(cut), "c", "left")
        .crossJoin(F.broadcast(m2))
        .select(
            "c",
            F.coalesce("vol", F.lit(0)).cast("bigint").alias("vol"),
            F.coalesce("cut", F.lit(0)).cast("bigint").alias("cut"),
            (
                F.col("m2") - F.coalesce("vol", F.lit(0))
            ).cast("bigint").alias("volc"),
        )
    )
    mn = F.least("vol", "volc")
    return terms.select(
        F.col("c").alias("label"),
        "vol",
        "cut",
        F.round(
            F.col("cut").cast("double")
            * 1000000000
            / F.nullif(mn.cast("double"), F.lit(0.0))
        )
        .cast("bigint")
        .alias("conductance_e9"),
        (mn == 0).alias("degenerate"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# Hoeffding two-sample drift bound
# ---------------------------------------------------------------------------
_HOEFF_LN2D = 3.6888794541139363  # ln(2/0.05) = ln(40), Python literal

_ARM = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('ab|', "
    "CAST(user_id AS STRING))), 1, 1)) - 1) < 8 THEN 'A' ELSE 'B' END"
)

_HOEFF_SQL = f"""
    WITH per_user AS (
        SELECT user_id,
               {_ARM} AS arm,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                              AND value >= 150
                             THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY user_id
    ), wide AS (
        -- conditional aggregation, not an arm self-join: ONE row
        -- survives even when an md5 arm is empty (never drop)
        SELECT CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 'A' THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_a,
               CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN arm = 'B' THEN converted ELSE 0 END)
                    AS BIGINT) AS conv_b
        FROM per_user
    ), calc AS (
        -- NULLIF-staged rates (hazard 5a): an empty arm yields NULL
        -- rate and NULL bound, flagged degenerate below
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS p_a,
               CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS p_b,
               sqrt((1.0e0 / NULLIF(n_a, 0)
                     + 1.0e0 / NULLIF(n_b, 0))
                    * {_HOEFF_LN2D} / 2.0e0) AS eps
        FROM wide
    )
    SELECT n_a, conv_a, n_b, conv_b,
           CAST(ROUND(p_a * 1000000) AS BIGINT) AS rate_a_e6,
           CAST(ROUND(p_b * 1000000) AS BIGINT) AS rate_b_e6,
           CAST(ROUND((p_a - p_b) * 1000000) AS BIGINT) AS diff_e6,
           CAST(ROUND(eps * 1000000) AS BIGINT) AS eps_e6,
           CASE WHEN eps IS NULL THEN CAST(NULL AS BOOLEAN)
                ELSE ABS(p_a - p_b) > eps END AS drift_significant,
           (n_a = 0 OR n_b = 0) AS degenerate
    FROM calc
"""


@register(
    "stats_hoeffding_drift",
    oracle=_HOEFF_SQL,
    doc="Distribution-free Hoeffding (JASA 1963) two-sample bound on "
    "the SAME user-level conversion contrast as "
    "stats_proportion_ztest (purchase with value >= 150, md5 A/B "
    "arms): eps = sqrt((1/n_a + 1/n_b) ln(2/delta)/2) at delta = "
    "0.05 (ln 40 pinned as a Python literal), significant when "
    "|p_a - p_b| > eps. The ASSUMPTION-FREE gate beside the z-test's "
    "normal approximation — valid at ANY n, conservative by design; "
    "reading both rows shows how much the CLT is buying. Exact "
    "integer user/conversion counts; conditional aggregation emits "
    "one row even when an arm is empty (degenerate-flagged, "
    "NULLIF-staged divisions).",
)
def stats_hoeffding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_HOEFF_SQL)


# ---------------------------------------------------------------------------
# Dirichlet-smoothed query-likelihood retrieval
# ---------------------------------------------------------------------------
_DIR_MU = 2000  # Zhai-Lafferty's recommended order of magnitude
_DIR_TOPK = 10

# score(d) = sum_q ln((tf_dq + mu p_cq) / (dl_d + mu))
#          = K + sum_matched ln((tf + mu p_cq)/(mu p_cq))
#            - nq * ln(dl + mu),      K = sum_q ln(mu p_cq)
# so EVERY document is scored (the smoothed LM gives unmatched terms
# collection mass) while the corpus-sized work stays one token pass.
_DIR_TMPL = """
    WITH tok AS (
        SELECT doc_id, {d.terms} AS term FROM documents
    ), doclen AS (
        SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok
        GROUP BY doc_id
    ), tot AS (
        SELECT CAST(SUM(dl) AS BIGINT) AS t FROM doclen
    ), q AS (
        SELECT DISTINCT term FROM (
            SELECT {unnest_q} AS term FROM documents WHERE doc_id = 1
        ) z
    ), cf AS (
        SELECT t.term, CAST(COUNT(*) AS BIGINT) AS cf
        FROM tok t JOIN q ON q.term = t.term
        GROUP BY t.term
    ), qconst AS (
        -- K and nq: query-sized scalars (per-term e9 logs, exact sum)
        SELECT CAST(COUNT(*) AS BIGINT) AS nq,
               CAST(SUM(CAST(ROUND(
                   ln({mu}.0e0 * cf / tt.t) * 1000000000)
                   AS BIGINT)) AS BIGINT) AS k_e9
        FROM cf CROSS JOIN tot tt
    ), tf AS (
        SELECT t.doc_id, t.term, CAST(COUNT(*) AS BIGINT) AS f
        FROM tok t JOIN q ON q.term = t.term
        GROUP BY t.doc_id, t.term
    ), matched AS (
        SELECT tf.doc_id,
               CAST(SUM(CAST(ROUND(
                   (ln(tf.f + {mu}.0e0 * cf.cf / tt.t)
                    - ln({mu}.0e0 * cf.cf / tt.t)) * 1000000000)
                   AS BIGINT)) AS BIGINT) AS msum_e9
        FROM tf JOIN cf ON cf.term = tf.term CROSS JOIN tot tt
        GROUP BY tf.doc_id
    ), scored AS (
        SELECT d.doc_id,
               qc.k_e9
               + COALESCE(m.msum_e9, 0)
               - CAST(ROUND(qc.nq * ln(d.dl + {mu}.0e0)
                      * 1000000000) AS BIGINT) AS qll_e9
        FROM doclen d
        LEFT JOIN matched m ON m.doc_id = d.doc_id
        CROSS JOIN qconst qc
    )
    SELECT doc_id, qll_e9 FROM scored
    ORDER BY qll_e9 DESC, doc_id ASC
    LIMIT {k}
"""


@register(
    "retrieval_dirichlet_lm",
    oracle=_DIR_TMPL.format(
        d=DUCK,
        unnest_q=DUCK.first_terms(8),
        mu=_DIR_MU,
        k=_DIR_TOPK,
    ),
    doc="Dirichlet-smoothed query-likelihood retrieval "
    "(Zhai-Lafferty SIGIR 2001), mu = 2000, same pinned query as "
    "text_bm25_retrieval (first 8 terms of document 1): the "
    "language-modeling ranking beside BM25's probabilistic-relevance "
    "one — the two standard lexical baselines of a "
    "RAG/contamination pipeline, directly comparable doc by doc. "
    "EVERY document is scored via the matched-term decomposition "
    "score = K + sum_matched ln((tf+mu p_c)/(mu p_c)) - nq ln(dl+mu) "
    "(unmatched mass folds into doc-length algebra), yet the "
    "corpus-sized work is one token pass: query/cf/K are broadcast "
    "query-sized scalars, tf is a broadcast semi-join of the token "
    "stream. Per-term logs e9-quantized then EXACTLY summed (no "
    "double-sum order hazard); top-10 via ORDER BY + LIMIT "
    "(TakeOrderedAndProject).",
)
def retrieval_dirichlet_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    # Opt r15 (guide §2.3/§2.4, Spark side only — the oracle keeps the
    # one-string chain): `tok` fed doclen/cf/tf, so the corpus explode
    # ran three times. doclen = size(split(...)) is the identical
    # BIGINT (the bm25/ndcg identity), cf = SUM(f) over the per-doc
    # term counts is the identical integer, and the query-sized tf is
    # staged behind a checkpoint — ONE explode pass total.
    full = _DIR_TMPL.format(
        d=SPARK,
        unnest_q=SPARK.first_terms(8),
        mu=_DIR_MU,
        k=_DIR_TOPK,
    )
    tok_part = full.partition(", doclen AS")[0]
    q_body = full.partition(", q AS")[2].partition(", cf AS")[0]
    tf_body = full.partition(", tf AS")[2].partition(", matched AS")[0]
    tail = full.partition(", matched AS")[2]
    tf = spark.sql(
        tok_part + ", q AS" + q_body + ", tf AS" + tf_body
        + " SELECT * FROM tf"
    ).localCheckpoint()
    return spark.sql(
        """
    WITH doclen AS (
        SELECT doc_id, CAST(size(split(text, ' ')) AS BIGINT) AS dl
        FROM documents
    ), tot AS (
        SELECT CAST(SUM(dl) AS BIGINT) AS t FROM doclen
    ), tf AS (
        SELECT * FROM {tf}
    ), cf AS (
        SELECT term, CAST(SUM(f) AS BIGINT) AS cf FROM tf GROUP BY term
    ), qconst AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS nq,
               CAST(SUM(CAST(ROUND(
                   ln({mu}.0e0 * cf / tt.t) * 1000000000)
                   AS BIGINT)) AS BIGINT) AS k_e9
        FROM cf CROSS JOIN tot tt
    ), matched AS"""
        + tail,
        mu=_DIR_MU, tf=tf,
    )
