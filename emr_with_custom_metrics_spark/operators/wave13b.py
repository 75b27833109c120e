"""Round-13 wave 13b: sequential decoders and per-entity smoothers —
HMM Viterbi session decoding, Croston intermittent-demand forecasting,
k-truss graph peeling, and MTLD lexical diversity.

* ``events_hmm_viterbi`` — maximum-a-posteriori decode of each user's
  event sequence under a PINNED 2-state HMM (casual / engaged): the
  whole dynamic program is max-plus over e3-quantized integer
  log-probabilities, so both engines walk the bitwise-identical
  trajectory with NO per-round float quantization (the Kleinberg
  integer-Viterbi discipline applied to a per-entity decode).
* ``demand_croston_sbc`` — Croston (1972) intermittent-demand
  forecasting with the Syntetos-Boylan correction per part over the
  weekly shipment series: separate exponential smoothing of demand
  SIZES and demand INTERVALS (only nonzero-demand weeks update), the
  per-entity sequential smoother that plain windowed SES cannot
  express.
* ``graph_ktruss`` — 4-truss peeling (3 synchronous rounds) over the
  MUTUAL top-16 cosine graph (candidates floored at 0.25): each round
  recomputes per-edge triangle support and drops edges supported by
  fewer than k-2 = 2 triangles. The mutual-kNN construction bounds
  degree by K, so the wedge joins stay K^2-bounded at any corpus size
  (the fixed-threshold variant measured 147x for 10x vectors). The
  edge-COHESION sibling of the node-degree k-core: a 4-truss of
  near-duplicate documents is a tightly-woven boilerplate family even
  when individual node degrees are low.
* ``text_mtld`` — forward MTLD lexical diversity per document
  (McCarthy-Jarvis 2010): count completed factors where the running
  segment TTR drops below 0.72. The TTR test is an EXACT integer
  comparison (types*100 < 72*seglen) and the new-type test reads a
  precomputed last-occurrence index (one window pass), so the whole
  sequential scan is one integer array fold per document.

Scale posture: Viterbi/Croston/MTLD fold per entity (user / part /
document) — state is O(1), the fold length is the entity's own
history, and entities parallelize freely; the data-sized stages are
the groupBy packing shuffles. k-truss is bounded by the pair-memo
edge list with one wedge join per round (AQE handles hub skew).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register


def _lp_e3(p: float) -> int:
    """Pinned e3 integer log-probability literal (computed once HERE, so
    both engine texts embed the identical constant — never re-derived
    per engine)."""
    return round(math.log(p) * 1000)


# ---------------------------------------------------------------------------
# HMM Viterbi decode (pinned model, exact integer max-plus)
# ---------------------------------------------------------------------------
# States: 0 = casual, 1 = engaged. The initial distribution is the
# casual state's transition row (equivalently: a virtual casual event
# precedes every sequence) — pinned like the rest of the model.
_HMM_EMIT = {
    # event_type: (log P(e | casual), log P(e | engaged)), e3 integers
    "view": (_lp_e3(0.40), _lp_e3(0.20)),
    "click": (_lp_e3(0.30), _lp_e3(0.30)),
    "error": (_lp_e3(0.20), _lp_e3(0.05)),
    "signup": (_lp_e3(0.05), _lp_e3(0.10)),
    "purchase": (_lp_e3(0.05), _lp_e3(0.35)),
}
_HMM_T00 = _lp_e3(0.80)
_HMM_T01 = _lp_e3(0.20)
_HMM_T10 = _lp_e3(0.30)
_HMM_T11 = _lp_e3(0.70)
# Unseen event types are an out-of-model input: charge a large finite
# penalty (never -inf, which would poison max-plus) in BOTH states.
_HMM_UNSEEN = -20000


def _hmm_emit_case(state: int) -> str:
    arms = " ".join(
        f"WHEN '{et}' THEN {pair[state]}" for et, pair in _HMM_EMIT.items()
    )
    return f"CASE event_type {arms} ELSE {_HMM_UNSEEN} END"


def _hmm_step(el, st) -> str:
    """One Viterbi event: max-plus over integer scores; ties prefer the
    casual origin (deterministic decode)."""
    f0 = f"{el(1)} + {_HMM_T00} >= {el(2)} + {_HMM_T10}"
    f1 = f"{el(1)} + {_HMM_T01} >= {el(2)} + {_HMM_T11}"
    return (
        f"CASE WHEN {f0} THEN {el(1)} + {_HMM_T00} "
        f"ELSE {el(2)} + {_HMM_T10} END + {st(1)}, "
        f"CASE WHEN {f1} THEN {el(1)} + {_HMM_T01} "
        f"ELSE {el(2)} + {_HMM_T11} END + {st(2)}, "
        f"CASE WHEN {f0} THEN {el(3)} ELSE {el(4)} END, "
        f"(CASE WHEN {f1} THEN {el(3)} ELSE {el(4)} END) + 1.0e0"
    )


_HMM_BIG = "1.0e15"  # virtual -inf for the engaged start (never optimal)


def _hmm_sql(d: Dialect) -> str:
    if d is SPARK:
        packed = f"""
    , packed AS (
        SELECT user_id,
               transform(array_sort(collect_list(struct(
                   us, event_id,
                   CAST({_hmm_emit_case(0)} AS DOUBLE) AS e0,
                   CAST({_hmm_emit_case(1)} AS DOUBLE) AS e1))),
                 s -> array(s.e0, s.e1)) AS steps
        FROM seq GROUP BY user_id
    )"""
        init = (
            f"array(CAST(0.0 AS DOUBLE), CAST(-{_HMM_BIG} AS DOUBLE), "
            f"CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
        )
        step = _hmm_step(
            lambda i: f"element_at(acc, {i})", lambda i: f"element_at(st, {i})"
        )
        fold = f"aggregate(p.steps, {init}, (acc, st) -> array({step}))"
        n_ev = "size(p.steps)"
        fin = "element_at(f.st, {i})"
    else:
        packed = f"""
    , packed AS MATERIALIZED (
        SELECT user_id,
               list([CAST({_hmm_emit_case(0)} AS DOUBLE),
                     CAST({_hmm_emit_case(1)} AS DOUBLE)]
                    ORDER BY us, event_id) AS steps
        FROM seq GROUP BY user_id
    )"""
        init = f"[CAST(0.0 AS DOUBLE), -{_HMM_BIG}, 0.0, 0.0]"
        step = _hmm_step(lambda i: f"acc[{i}]", lambda i: f"st[{i}]")
        fold = (
            f"list_reduce(list_concat([{init}], p.steps), "
            f"(acc, st) -> [{step}])"
        )
        n_ev = "len(p.steps)"
        fin = "f.st[{i}]"
    best0 = f"{fin.format(i=1)} >= {fin.format(i=2)}"
    return f"""
    WITH seq AS (
        SELECT user_id, event_type, {d.epoch_us} AS us, event_id FROM events
    ){packed}
    , folded AS (
        SELECT p.user_id, CAST({n_ev} AS BIGINT) AS n_events,
               ({fold}) AS st
        FROM packed p
    )
    SELECT f.user_id, f.n_events,
           CAST(CASE WHEN {best0} THEN {fin.format(i=1)}
                ELSE {fin.format(i=2)} END AS BIGINT) AS map_ll_e3,
           CAST(CASE WHEN {best0} THEN {fin.format(i=3)}
                ELSE {fin.format(i=4)} END AS BIGINT) AS n_engaged,
           CASE WHEN {best0} THEN 'casual' ELSE 'engaged' END AS final_state
    FROM folded f
"""


@register(
    "events_hmm_viterbi",
    oracle=_hmm_sql(DUCK),
    doc="MAP (Viterbi) decode of each user's event sequence under a "
    "pinned 2-state HMM (casual / engaged; emissions over the five "
    "event types, transition matrix, and the casual-row initial "
    "distribution all pinned e3 integer log-probs computed ONCE in "
    "Python and embedded in both engine texts): one max-plus array "
    "fold per user (the markov/PACF/Kleinberg template) where every "
    "score is an exact integer, so the decode — final state, MAP "
    "log-likelihood, and the engaged-event count carried per end "
    "state through the optimal-substructure recursion — is bitwise "
    "identical across engines with no quantization anywhere. Ties "
    "break to the casual origin. Scale: per-user fold, user-parallel; "
    "the one data-sized stage is the groupBy packing shuffle.",
)
def events_hmm_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_hmm_sql(SPARK))


# ---------------------------------------------------------------------------
# Croston intermittent demand (SBC-corrected)
# ---------------------------------------------------------------------------
# Weekly nonzero demand per part; alpha = 0.2. z (size) and p
# (interval) initialize at the first demand (p to the offset from the
# global series start + 1) and update only on demand weeks, each
# update e6-quantized (fixed double DAG over integer inputs — the
# quantization is belt-and-braces for engine lockstep). Forecast per
# week = (1 - alpha/2) * z / p (Syntetos-Boylan 2005); ADI = p with
# the 1.32 intermittency cutoff.

_CROSTON_ALPHA = "0.2e0"


def _croston_step(el, st) -> str:
    first = f"{el(4)} < 0.5e0"
    interval = (
        f"CASE WHEN {first} THEN {st(1)} - p.w0 + 1.0e0 "
        f"ELSE {st(1)} - {el(3)} END"
    )
    z = (
        f"CASE WHEN {first} THEN {st(2)} "
        f"ELSE round(({el(1)} + {_CROSTON_ALPHA} * ({st(2)} - {el(1)})) "
        f"* 1000000.0e0) / 1000000.0e0 END"
    )
    p = (
        f"CASE WHEN {first} THEN {interval} "
        f"ELSE round(({el(2)} + {_CROSTON_ALPHA} * (({interval}) - {el(2)})) "
        f"* 1000000.0e0) / 1000000.0e0 END"
    )
    return f"{z}, {p}, {st(1)}, 1.0e0"


def _croston_sql(d: Dialect) -> str:
    week = f"CAST(FLOOR({d.secs('l_shipdate')} / 604800) AS BIGINT)"
    if d is SPARK:
        packed = """
    , packed AS (
        SELECT w.l_partkey, s.w0,
               CAST(COUNT(*) AS BIGINT) AS n_demands,
               transform(array_sort(collect_list(struct(
                   w.w, CAST(w.w AS DOUBLE) AS dw,
                   CAST(w.q AS DOUBLE) AS dq))),
                 s2 -> array(s2.dw, s2.dq)) AS steps
        FROM wk w CROSS JOIN start s
        GROUP BY w.l_partkey, s.w0
    )"""
        init = (
            "array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), "
            "CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
        )
        step = _croston_step(
            lambda i: f"element_at(acc, {i})", lambda i: f"element_at(st, {i})"
        )
        fold = f"aggregate(p.steps, {init}, (acc, st) -> array({step}))"
        fin = "element_at(f.st, {i})"
    else:
        packed = """
    , packed AS MATERIALIZED (
        SELECT w.l_partkey, s.w0,
               CAST(COUNT(*) AS BIGINT) AS n_demands,
               list([CAST(w.w AS DOUBLE), CAST(w.q AS DOUBLE)]
                    ORDER BY w.w) AS steps
        FROM wk w CROSS JOIN start s
        GROUP BY w.l_partkey, s.w0
    )"""
        init = "[CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0]"
        step = _croston_step(lambda i: f"acc[{i}]", lambda i: f"st[{i}]")
        fold = (
            f"list_reduce(list_concat([{init}], p.steps), "
            f"(acc, st) -> [{step}])"
        )
        fin = "f.st[{i}]"
    return f"""
    WITH wk AS (
        SELECT l_partkey, {week} AS w,
               CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS q
        FROM lineitem GROUP BY 1, 2
    ), start AS (
        SELECT CAST(MIN(w) AS DOUBLE) AS w0 FROM wk
    ){packed}
    , folded AS (
        SELECT p.l_partkey, p.n_demands, ({fold}) AS st
        FROM packed p
    )
    SELECT f.l_partkey, f.n_demands,
           CAST(ROUND({fin.format(i=1)} * 1000000) AS BIGINT) AS z_e6,
           CAST(ROUND({fin.format(i=2)} * 1000000) AS BIGINT) AS p_e6,
           CASE WHEN {fin.format(i=2)} > 0
                THEN CAST(ROUND(0.9e0 * {fin.format(i=1)}
                     / {fin.format(i=2)} * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS forecast_e9,
           {fin.format(i=2)} > 1.32e0 AS intermittent
    FROM folded f
"""


@register(
    "demand_croston_sbc",
    oracle=_croston_sql(DUCK),
    doc="Croston (1972) intermittent-demand forecast with the "
    "Syntetos-Boylan correction per part over weekly shipped "
    "quantities: separate SES (alpha = 0.2) of nonzero demand SIZES "
    "and demand INTERVALS — the forecaster of record for sparse "
    "demand, where plain SES is biased high right after each demand "
    "spike. Run as one per-part array fold over the packed "
    "(week, qty) demand list (the per-entity sequential-smoother "
    "template: state is O(1), updates only on demand weeks); "
    "intervals and sizes are exact integers, each SES update is a "
    "fixed double DAG quantized e6 per round. forecast = "
    "(1 - alpha/2) z/p per week; ADI = p with the 1.32 "
    "intermittency cutoff (Syntetos-Boylan-Croston classification). "
    "Data-sized stage: the part-week aggregation; folds are "
    "part-parallel.",
)
def demand_croston_sbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    # Opt r15 (guide §2.4): `wk` feeds the corpus-start scalar AND the
    # per-part packing, so the lineitem scan + weekly aggregation ran
    # twice.
    return stage_ctes(spark, _croston_sql(SPARK), "wk")


# ---------------------------------------------------------------------------
# k-truss (k = 4, 3 synchronous peel rounds, mutual top-K graph)
# ---------------------------------------------------------------------------
# The graph is NOT the raw cosine>=threshold pair set: a fixed absolute
# threshold gives a DATA-DEPENDENT degree (the round-13 decade-up probe
# measured 147x for 10x vectors at threshold 0.25 — avg degree 14 ->
# 178, so edges grew quadratically and the wedge join with them).
# Instead each node keeps its MUTUAL top-K candidates (K = 16; ties
# broken cos DESC then neighbor id ASC): degree <= K by construction,
# so edges <= K*N and every wedge join is bounded by K^2 per node at
# ANY corpus size. The 0.25 candidate floor only bounds the candidate
# generation (the memo's banded GEMM) — top-K of fewer-than-K
# candidates is just all of them.
_KTRUSS_ROUNDS = 3
_KTRUSS_K = 4
_KTRUSS_THRESHOLD = 0.25
_KTRUSS_TOPK = 16

_KTRUSS_MUTUAL_SQL = f"""
    cand AS MATERIALIZED (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000)
              AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cs
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE (CAST(ROUND((list_cosine_similarity(a.v, b.v)) * 1000000)
             AS BIGINT) / CAST(1000000 AS DOUBLE)) >= {_KTRUSS_THRESHOLD}),
    topk AS MATERIALIZED (
      SELECT node, nbr FROM (
        SELECT node, nbr,
               ROW_NUMBER() OVER (PARTITION BY node
                                  ORDER BY cs DESC, nbr ASC) AS rk
        FROM (
          SELECT a_id AS node, b_id AS nbr, cs FROM cand
          UNION ALL
          SELECT b_id, a_id, cs FROM cand) z
      ) r WHERE rk <= {_KTRUSS_TOPK}),
    edges0 AS MATERIALIZED (
      SELECT t1.node AS a_id, t1.nbr AS b_id
      FROM topk t1 JOIN topk t2
        ON t2.node = t1.nbr AND t2.nbr = t1.node
      WHERE t1.node < t1.nbr)"""


def _ktruss_oracle(rounds: int, k: int) -> str:
    """Chained-CTE replay of synchronous truss peeling (the k-core
    generated-template pattern; every chain member MATERIALIZED so
    DuckDB never inlines the exponential recomputation)."""
    head = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_KTRUSS_MUTUAL_SQL}"""
    blocks = [head]
    for i in range(rounds + 1):
        blocks.append(f""",
    tri{i} AS MATERIALIZED (
      SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
      FROM edges{i} e1 JOIN edges{i} e2 ON e1.b_id = e2.a_id
           JOIN edges{i} e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
    sup{i} AS MATERIALIZED (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS s FROM (
        SELECT a AS x, b AS y FROM tri{i}
        UNION ALL SELECT b, c FROM tri{i}
        UNION ALL SELECT a, c FROM tri{i}) z
      GROUP BY x, y)""")
        if i < rounds:
            blocks.append(f""",
    edges{i + 1} AS MATERIALIZED (
      SELECT ed.a_id, ed.b_id FROM edges{i} ed
      JOIN sup{i} s ON s.x = ed.a_id AND s.y = ed.b_id
      WHERE s.s >= {k - 2})""")
    return "".join(blocks) + f"""
    SELECT ed.a_id, ed.b_id,
           CAST(COALESCE(s.s, 0) AS BIGINT) AS support
    FROM edges{rounds} ed
    LEFT JOIN sup{rounds} s ON s.x = ed.a_id AND s.y = ed.b_id
    """


def _edge_support(edges: DataFrame) -> DataFrame:
    """Per-edge triangle support over a low->high oriented edge list:
    compact-forward wedge join closed by the third edge, then each
    triangle credits its 3 edges via one map-side explode."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b_id") == F.col("e2.a_id"))
        .join(
            e3,
            (F.col("e3.a_id") == F.col("e1.a_id"))
            & (F.col("e3.b_id") == F.col("e2.b_id")),
        )
        .select(
            F.col("e1.a_id").alias("a"),
            F.col("e1.b_id").alias("b"),
            F.col("e2.b_id").alias("c"),
        )
    )
    sides = tri.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("x"), F.col("b").alias("y")),
                F.struct(F.col("b").alias("x"), F.col("c").alias("y")),
                F.struct(F.col("a").alias("x"), F.col("c").alias("y")),
            )
        ).alias("s")
    )
    return sides.groupBy("s.x", "s.y").agg(
        F.count("*").cast("bigint").alias("s")
    )


def mutual_topk_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MUTUAL top-K cosine edge list (a_id < b_id) shared by the
    bounded-degree graph family (k-truss here, rich-club in wave14b):
    per-node top-16 candidates from the memoized cosine pair set, kept
    only when reciprocated — degree <= K by construction (the
    round-13 decade-probe rewrite)."""
    from pyspark.sql import Window

    from emr_with_custom_metrics_spark.llm.dedup import embedding_cosine_pairs

    cand = embedding_cosine_pairs(
        spark, sf_dir, threshold=_KTRUSS_THRESHOLD
    ).select("a_id", "b_id", "cos_sim")
    both = cand.select(
        F.col("a_id").alias("node"), F.col("b_id").alias("nbr"), "cos_sim"
    ).unionByName(
        cand.select(
            F.col("b_id").alias("node"), F.col("a_id").alias("nbr"), "cos_sim"
        )
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cos_sim").desc(), F.col("nbr").asc()
    )
    topk = (
        both.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _KTRUSS_TOPK)
        .select("node", "nbr")
    )
    t2 = topk.select(
        F.col("node").alias("n2"), F.col("nbr").alias("b2")
    )
    return (
        topk.join(
            t2,
            (F.col("n2") == F.col("nbr")) & (F.col("b2") == F.col("node")),
            "inner",
        )
        .where(F.col("node") < F.col("nbr"))
        .select(F.col("node").alias("a_id"), F.col("nbr").alias("b_id"))
        .localCheckpoint()
    )


@register(
    "graph_ktruss",
    oracle=_ktruss_oracle(_KTRUSS_ROUNDS, _KTRUSS_K),
    doc="4-truss peeling (3 synchronous rounds) over the MUTUAL top-16 "
    "cosine graph (candidates floored at 0.25 — denser than the "
    "node-level ops' 0.3 graph, whose 4-truss is empty at every test "
    "SF; the mutual-kNN construction bounds degree <= 16, so edges "
    "<= 16N and every wedge join is K^2-bounded at ANY corpus size — "
    "the round-13 decade-up probe measured the unbounded fixed-"
    "threshold variant at 147x for 10x vectors before this rewrite): "
    "per round, per-edge triangle support via the compact-forward "
    "wedge join (each a<b<c triangle credits its 3 edges through one "
    "map-side explode), then every edge with support < k-2 = 2 "
    "drops. The edge-cohesion sibling of graph_kcore_peel: a 4-truss "
    "of near-duplicate documents is a tightly-woven boilerplate "
    "family even where node degrees look modest (Cohen 2008). "
    "Synchronous bounded rounds keep the fixpoint prefix "
    "deterministic, so the whole iteration hash-verifies against a "
    "chained MATERIALIZED-CTE replay; top-K ties break (cos DESC, "
    "neighbor id ASC) — total and engine-exact on e6-quantized "
    "cosines. Emits surviving edges with final-round support. Rides "
    "the shared pair memo for candidates.",
)
def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = mutual_topk_edges(spark, sf_dir)
    for _ in range(_KTRUSS_ROUNDS):
        sup = _edge_support(edges)
        edges = (
            edges.join(
                sup.where(F.col("s") >= _KTRUSS_K - 2),
                (edges["a_id"] == sup["x"]) & (edges["b_id"] == sup["y"]),
                "inner",
            )
            .select("a_id", "b_id")
            .localCheckpoint()
        )
    sup = _edge_support(edges)
    return (
        edges.join(
            sup,
            (edges["a_id"] == sup["x"]) & (edges["b_id"] == sup["y"]),
            "left",
        )
        .select(
            "a_id",
            "b_id",
            F.coalesce(F.col("s"), F.lit(0)).cast("bigint").alias("support"),
        )
    )


# ---------------------------------------------------------------------------
# MTLD (forward)
# ---------------------------------------------------------------------------
# State [factors, seg_start, types, pos], all integers in DOUBLE
# slots. A token is a new type within the running segment iff its
# precomputed last-occurrence position is < seg_start (one LAG window
# pass builds the index). The factor-completion test
# types*100 < 72*seglen is exact integer arithmetic, so the fold is
# engine-exact with no quantization. McCarthy-Jarvis 2010 forward
# pass; the final partial factor is (1 - TTR_open) / 0.28.


def _mtld_step(el, st) -> str:
    newt = f"CASE WHEN {st(1)} < {el(2)} THEN 1.0e0 ELSE 0.0e0 END"
    pos = f"({el(4)} + 1.0e0)"
    types = f"({el(3)} + {newt})"
    seglen = f"({pos} - {el(2)} + 1.0e0)"
    complete = f"{types} * 100.0e0 < 72.0e0 * {seglen}"
    return (
        f"CASE WHEN {complete} THEN {el(1)} + 1.0e0 ELSE {el(1)} END, "
        f"CASE WHEN {complete} THEN {pos} + 1.0e0 ELSE {el(2)} END, "
        f"CASE WHEN {complete} THEN 0.0e0 ELSE {types} END, "
        f"{pos}"
    )


def _mtld_sql(d: Dialect) -> str:
    if d is SPARK:
        tok = """
        SELECT doc_id, pos0 + 1 AS pos, term
        FROM (SELECT doc_id, posexplode(split(text, ' ')) AS (pos0, term)
              FROM documents) z"""
        packed = """
    , packed AS (
        SELECT doc_id,
               transform(array_sort(collect_list(struct(
                   pos, CAST(lastocc AS DOUBLE) AS lo))),
                 s -> s.lo) AS los
        FROM lo GROUP BY doc_id
    )"""
        init = (
            "array(CAST(0.0 AS DOUBLE), CAST(1.0 AS DOUBLE), "
            "CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE))"
        )
        step = _mtld_step(
            lambda i: f"element_at(acc, {i})", lambda i: "lo" if i == 1 else ""
        )
        fold = f"aggregate(p.los, {init}, (acc, lo) -> array({step}))"
        n_tok = "size(p.los)"
        fin = "element_at(f.st, {i})"
    else:
        tok = """
        SELECT d.doc_id, p.i AS pos, d.tl[p.i] AS term
        FROM (SELECT doc_id, string_split(text, ' ') AS tl
              FROM documents) d,
             UNNEST(generate_series(1, LEN(d.tl))) AS p(i)"""
        packed = """
    , packed AS MATERIALIZED (
        SELECT doc_id,
               list(CAST(lastocc AS DOUBLE) ORDER BY pos) AS los
        FROM lo GROUP BY doc_id
    )"""
        init = "[CAST(0.0 AS DOUBLE), 1.0, 0.0, 0.0]"
        step = _mtld_step(
            lambda i: f"acc[{i}]", lambda i: "st[1]" if i == 1 else ""
        )
        fold = (
            f"list_reduce(list_concat([{init}], "
            f"list_transform(p.los, x -> [x])), "
            f"(acc, st) -> [{step}])"
        )
        n_tok = "len(p.los)"
        fin = "f.st[{i}]"
    f_, ss, ty = fin.format(i=1), fin.format(i=2), fin.format(i=3)
    # slot 3 = types, slot 4 = pos == n_tokens by construction; the
    # final select reads length from the folded n_tokens column
    open_len = f"(CAST(f.n_tokens AS DOUBLE) - {ss} + 1.0e0)"
    partial = (
        f"CASE WHEN {ss} <= CAST(f.n_tokens AS DOUBLE) "
        f"THEN (1.0e0 - {ty} / {open_len}) / 0.28e0 ELSE 0.0e0 END"
    )
    return f"""
    WITH tok AS ({tok})
    , lo AS (
        SELECT doc_id, pos,
               COALESCE(LAG(pos) OVER (PARTITION BY doc_id, term
                                       ORDER BY pos), 0) AS lastocc
        FROM tok
    ){packed}
    , folded AS (
        SELECT p.doc_id, CAST({n_tok} AS BIGINT) AS n_tokens, ({fold}) AS st
        FROM packed p
    )
    SELECT f.doc_id, f.n_tokens,
           CAST({f_} AS BIGINT) AS factors,
           CASE WHEN {f_} + {partial} > 0
                THEN CAST(ROUND(f.n_tokens / ({f_} + {partial})
                     * 1000000) AS BIGINT)
                ELSE CAST(f.n_tokens AS BIGINT) * 1000000 END AS mtld_fwd_e6
    FROM folded f
"""


@register(
    "text_mtld",
    oracle=_mtld_sql(DUCK),
    doc="Forward MTLD lexical diversity per document (McCarthy-Jarvis "
    "2010): sequential factor count where the running segment's "
    "type-token ratio drops below 0.72, final partial factor "
    "(1 - TTR)/0.28, MTLD = n_tokens / (factors + partial). The "
    "'new type within segment' test reads a precomputed last-"
    "occurrence index (one LAG window pass over (doc, term)), and "
    "the TTR threshold is the exact integer comparison types*100 < "
    "72*seglen — the whole per-document scan is one integer array "
    "fold (the per-entity fold template), engine-exact with no "
    "quantization. The length-insensitive diversity axis beside "
    "text_yule_k (frequency-spectrum) and plain TTR (length-biased). "
    "A document whose TTR never drops emits MTLD = n_tokens "
    "(documented convention). Folds are document-parallel.",
)
def text_mtld(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_mtld_sql(SPARK))
