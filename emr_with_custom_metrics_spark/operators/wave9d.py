"""Round-9 wave 8d: TextRank keywords, matrix-profile motifs, skyline.

Three classic analytics operators the reference's metric/query surface
implies but never names, each in the house one-template-two-engines
style (shared arithmetic core text, engine-specific prologue/staging,
exact-integer state so reductions are aggregation-order-free):

* ``text_textrank_keywords`` — TextRank (Mihalcea & Tarau, EMNLP 2004):
  weighted PageRank over the word co-occurrence graph.
* ``timeseries_matrix_profile`` — the z-normalized all-pairs nearest
  neighbor profile (Yeh et al., ICDM 2016) over the dense hourly series,
  via the diagonal window-sum formulation (O(n^2), constant wrt data
  volume — only the hourly reduction is data-sized).
* ``skyline_pareto_frontier`` — the skyline / Pareto-dominance operator
  (Börzsönyi et al., ICDE 2001) over per-supplier aggregates.

Own module (not appended to stats/llm) per the wave-8c lesson: new
registrations land without touching modules a mid-flight benchmark may
be importing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    hour_counts_sql,
    spine_from_counts,
)
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# TextRank keyword extraction
# ---------------------------------------------------------------------------
# TextRank (Mihalcea & Tarau, EMNLP 2004): build the word co-occurrence
# graph (adjacent-token pairs, window 2, undirected, weighted by pair
# count), run weighted PageRank (5 iterations — the pagerank_similarity_graph
# precedent; each extra round is a full stage round-trip on a
# model-sized relation) with the classic (1-d) + d * SUM(...)
# update, read the top-k words as corpus keywords. Float discipline
# (the pagerank_similarity_graph / PLSA lesson): scores live as 1e-9
# scaled BIGINTs; each neighbor contribution is quantized to an exact
# integer BEFORE the per-node SUM (a float sum's addition order is
# engine- and parallelism-dependent), and the damping update is a
# single fixed-order double expression on that exact integer — both
# engines replay the identical trajectory bit-for-bit.
#
# Scale: tokenization + pair counting are the only data-sized stages
# (one shuffle each, map-side combinable); the graph is vocabulary-
# bounded (top-50 by frequency, deterministic tie-break) so the
# 5-iteration PageRank runs on a model-sized relation regardless of
# corpus volume. On Spark the tok/vocab/edges/wdeg stages are
# localCheckpoint-staged (Catalyst inlines WITH per reference — the
# rolling-actives lesson), then the iteration chain runs as ONE
# statement over those views with text identical to the oracle's.

_TR_ITERS = 5
_TR_TOPK = 20
_TR_VOCAB = 50

_TR_TOK_SPARK = """
    SELECT doc_id, pos, word
    FROM documents LATERAL VIEW posexplode(split(text, ' ')) t AS pos, word
    WHERE word <> ''
"""

_TR_TOK_DUCK = """
    SELECT doc_id, pos, word FROM (
        SELECT doc_id,
               UNNEST(range(1, LEN(toks) + 1)) AS pos,
               UNNEST(toks) AS word
        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    ) WHERE word <> ''
"""

_TR_VOCAB_SQL = f"""
    SELECT word FROM tok GROUP BY word
    ORDER BY COUNT(*) DESC, word LIMIT {_TR_VOCAB}
"""

_TR_EDGES_SQL = """
    WITH seq AS (
        SELECT doc_id, word,
               LEAD(word) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM tok
    ), pairs AS (
        SELECT LEAST(word, nxt) AS w1, GREATEST(word, nxt) AS w2,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM seq
        WHERE nxt IS NOT NULL AND word <> nxt
          AND word IN (SELECT word FROM vocab)
          AND nxt IN (SELECT word FROM vocab)
        GROUP BY 1, 2
    )
    SELECT w1 AS src, w2 AS dst, c FROM pairs
    UNION ALL
    SELECT w2 AS src, w1 AS dst, c FROM pairs
"""

_TR_WDEG_SQL = """
    SELECT src, CAST(SUM(c) AS BIGINT) AS wd FROM edges GROUP BY src
"""

_TR_R0 = """
    SELECT word AS node, CAST(1000000000 AS BIGINT) AS s_e9 FROM vocab
"""


def _tr_step(prev: str, it: int) -> str:
    """One TextRank iteration — identical text on both engines.

    Each edge's contribution score/wdeg*weight is a fixed-order double
    expression over exact integers, quantized to an e9 BIGINT before the
    per-node SUM; the damping update 0.15 + 0.85*contrib is one double
    multiply-add on the exact integer sum, re-quantized immediately.
    """
    return f"""
    , c{it} AS (
        -- r16 BROADCAST: score vector r and weighted degrees d are
        -- vocabulary-sized (the repo's accepted broadcast posture; the
        -- staged views carry no stats so these joins degraded to
        -- SortMergeJoin — lost-statistics audit, guide §3.1).
        SELECT /*+ BROADCAST(r), BROADCAST(d) */ e.dst AS node,
               CAST(SUM(CAST(ROUND(CAST(r.s_e9 AS DOUBLE) * e.c / d.wd)
                             AS BIGINT)) AS BIGINT) AS contrib_e9
        FROM edges e
        JOIN {prev} r ON e.src = r.node
        JOIN wdeg d ON d.src = e.src
        GROUP BY e.dst
    ), r{it} AS (
        SELECT /*+ BROADCAST(c) */ v.word AS node,
               CAST(ROUND(150000000.0e0
                          + 0.85e0 * COALESCE(c.contrib_e9, 0)) AS BIGINT)
                   AS s_e9
        FROM vocab v LEFT JOIN c{it} c ON c.node = v.word
    )"""


_TR_FINAL = f"""
    SELECT node AS word, s_e9 AS score_e9, rnk
    FROM (SELECT node, s_e9,
                 CAST(ROW_NUMBER() OVER (ORDER BY s_e9 DESC, node)
                     AS BIGINT) AS rnk
          FROM r{_TR_ITERS})
    WHERE rnk <= {_TR_TOPK}
"""


def _tr_oracle() -> str:
    parts = [
        f"""
    WITH tok AS MATERIALIZED ({_TR_TOK_DUCK}),
    vocab AS MATERIALIZED ({_TR_VOCAB_SQL}),
    edges AS MATERIALIZED ({_TR_EDGES_SQL}),
    wdeg AS MATERIALIZED ({_TR_WDEG_SQL}),
    r0 AS ({_TR_R0})"""
    ]
    for it in range(1, _TR_ITERS + 1):
        parts.append(_tr_step(f"r{it - 1}", it))
    parts.append(_TR_FINAL)
    return "".join(parts)


@register(
    "text_textrank_keywords",
    oracle=_tr_oracle(),
    doc="TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): "
    "weighted PageRank (5 iterations, d=0.85, classic (1-d)+d*sum "
    "update) over the adjacent-word co-occurrence graph, top-20 words "
    "by final score. Scores are 1e-9-scaled BIGINTs; every neighbor "
    "contribution quantizes to an exact integer BEFORE the per-node "
    "sum, so both engines replay the identical trajectory. Tokenize + "
    "pair-count are the only data-sized stages (map-side-combinable "
    "shuffles); the graph is vocabulary-bounded (top-50, deterministic "
    "tie-break) so the iteration runs on a model-sized relation at any "
    "corpus scale. Spark stages tok/vocab/edges/wdeg behind "
    "localCheckpoints (WITH-inlining lesson) and runs the iteration "
    "chain as one statement with oracle-identical text.",
)
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    tok = spark.sql(_TR_TOK_SPARK).localCheckpoint()
    vocab = spark.sql(
        "WITH tok AS (SELECT * FROM {tok})" + _TR_VOCAB_SQL, tok=tok
    ).localCheckpoint()
    edges = spark.sql(
        "WITH tok AS (SELECT * FROM {tok}), vocab AS (SELECT * FROM {vocab})"
        + _TR_EDGES_SQL.replace("WITH seq AS", ", seq AS", 1),
        tok=tok, vocab=vocab,
    ).localCheckpoint()
    wdeg = spark.sql(
        "WITH edges AS (SELECT * FROM {edges})" + _TR_WDEG_SQL, edges=edges
    ).localCheckpoint()
    parts = [
        "WITH vocab AS (SELECT * FROM {vocab}),",
        " edges AS (SELECT * FROM {edges}),",
        " wdeg AS (SELECT * FROM {wdeg}),",
        f" r0 AS ({_TR_R0})",
    ]
    for it in range(1, _TR_ITERS + 1):
        parts.append(_tr_step(f"r{it - 1}", it))
    parts.append(_TR_FINAL)
    return spark.sql("".join(parts), vocab=vocab, edges=edges, wdeg=wdeg)


# ---------------------------------------------------------------------------
# Matrix profile (z-normalized all-pairs nearest-neighbor distance)
# ---------------------------------------------------------------------------
# Yeh et al., "Matrix Profile I" (ICDM 2016): for every length-m window
# of a series, the z-normalized Euclidean distance to its nearest
# non-trivial neighbor — THE primitive behind motif discovery and
# discord (anomaly) detection. Computed over the dense hourly count
# spine per metric (m = 24, one-day motifs; exclusion zone m/2 = 12).
#
# The O(n^2 m) pair scan is collapsed to O(n^2) with the diagonal
# identity the STOMP paper exploits: for a fixed lag d, the sliding dot
# product QT(i, i+d) is a length-m window SUM over the per-position
# products p(i) = x[i] * x[i+d] — so one self-join (all pairs, ~n^2/2
# integer products) plus one window pass partitioned by diagonal yields
# every QT exactly, in integer domain. Window moments come from the
# same window-sum trick on x and x^2. Pearson correlation
#   corr = (m*QT - s1_i*s1_j) / (sqrt(m*s2_i - s1_i^2) * sqrt(m*s2_j - s1_j^2))
# is computed as ONE fixed-order double expression over exact integers
# (sqrt/divide are correctly rounded — bit-identical both engines; the
# two sqrts are kept separate so the radicands stay < 2^63 at any SF),
# quantized to e9; the nearest neighbor per window maximizes the
# QUANTIZED corr (exact integer comparison, tie-break smallest index),
# and dist = sqrt(2m(1-corr)) is derived from the quantized value.
# Zero-variance windows are excluded from pairing (corr undefined).
#
# Scale: the series length is calendar-bounded (30 days = 720 hourly
# points), so the n^2 stage is CONSTANT-size regardless of data volume;
# the only data-sized stage is the staged hourly-counts reduction
# (hour_counts_sql, shared with the decomposition family).

_MP_M = 24
_MP_EXCL = 12

from emr_with_custom_metrics_spark.operators.stats import (  # noqa: E402
    dense_hourly_x_guarded,
)

_MP_WIN_BODY = """
    SELECT event_type, t, s1, s2, 24 * s2 - s1 * s1 AS var24
    FROM (
        SELECT event_type, t,
               CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
                   AS BIGINT) AS s1,
               CAST(SUM(v * v) OVER (PARTITION BY event_type ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
                   AS BIGINT) AS s2,
               CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
                   AS BIGINT) AS wn
        FROM x
    ) WHERE wn = 24
"""

# prod/qt CTEs + the corr SELECT: consumes x (twice) and win (twice).
_MP_CORR_BODY = """
    WITH prod AS (
        SELECT /*+ BROADCAST(b) */
               a.event_type, a.t AS i, b.t - a.t AS d,
               CAST(a.v * b.v AS BIGINT) AS p
        FROM x a JOIN x b
          ON a.event_type = b.event_type AND b.t > a.t
    ), qt AS (
        SELECT event_type, i, d,
               CAST(SUM(p) OVER (PARTITION BY event_type, d ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
                   AS BIGINT) AS qt,
               CAST(COUNT(*) OVER (PARTITION BY event_type, d ORDER BY i
                    ROWS BETWEEN CURRENT ROW AND 23 FOLLOWING)
                   AS BIGINT) AS qn
        FROM prod
    )
    SELECT /*+ BROADCAST(wa), BROADCAST(wb) */
           q.event_type, q.i, q.i + q.d AS j,
           CAST(ROUND(
               CAST(24 * q.qt - wa.s1 * wb.s1 AS DOUBLE)
               / (SQRT(CAST(wa.var24 AS DOUBLE))
                  * SQRT(CAST(wb.var24 AS DOUBLE)))
               * 1000000000) AS BIGINT) AS corr_e9
    FROM qt q
    JOIN win wa ON wa.event_type = q.event_type AND wa.t = q.i
    JOIN win wb ON wb.event_type = q.event_type AND wb.t = q.i + q.d
    WHERE q.qn = 24 AND q.d >= 12
      AND wa.var24 > 0 AND wb.var24 > 0
"""

_MP_SYM = """
    , sym AS (
        SELECT event_type, i, j, corr_e9 FROM corr
        UNION ALL
        SELECT event_type, j AS i, i AS j, corr_e9 FROM corr
    )
"""

# Shared output projection over bestrow(event_type, i, nn, corr_e9) —
# the argmin itself is engine-structured (see below) but tie-broken by
# the same total order (corr_e9 DESC, then smallest j), so the answers
# are identical by construction.
_MP_PROJ = """
    SELECT event_type,
           CAST(i AS BIGINT) AS win_start,
           CAST(nn AS BIGINT) AS nn_start,
           corr_e9,
           CAST(ROUND(SQRT(GREATEST(0.0e0,
                48.0e0 * (1.0e0 - CAST(corr_e9 AS DOUBLE)
                                  / 1000000000.0e0))) * 1000000)
               AS BIGINT) AS dist_e6
    FROM bestrow
"""

_MP_FINAL_DUCK = (
    _MP_SYM
    + """
    , bestrow AS (
        SELECT event_type, i, j AS nn, corr_e9
        FROM (SELECT event_type, i, j, corr_e9,
                     ROW_NUMBER() OVER (PARTITION BY event_type, i
                                        ORDER BY corr_e9 DESC, j) AS rn
              FROM sym)
        WHERE rn = 1
    )
"""
    + _MP_PROJ
)

# Spark argmin: MIN over a lexicographic struct is map-side combinable
# (partial aggregation collapses each task's 2.3M sym rows to <=3485
# before the shuffle), where the ROW_NUMBER form must shuffle + sort
# every pair row. Same total order, same winning row.
_MP_FINAL_SPARK = (
    _MP_SYM
    + """
    , bestrow AS (
        SELECT event_type, i, b.j AS nn, -b.nc AS corr_e9
        FROM (SELECT event_type, i,
                     MIN(named_struct('nc', -corr_e9, 'j', j)) AS b
              FROM sym GROUP BY event_type, i)
    )
"""
    + _MP_PROJ
)

_MP_DUCK = (
    spine_from_counts(DUCK)
    + f", x AS MATERIALIZED ({dense_hourly_x_guarded(DUCK)})"
    + f", win AS MATERIALIZED ({_MP_WIN_BODY})"
    + ", corr AS MATERIALIZED ("
    + _MP_CORR_BODY.replace("WITH prod AS", "WITH prod AS MATERIALIZED", 1)
    + ")"
    + _MP_FINAL_DUCK
)


@register(
    "timeseries_matrix_profile",
    oracle=_MP_DUCK,
    doc="Matrix profile (Yeh et al., ICDM 2016) of each metric's dense "
    "hourly count series: per length-24 window, the z-normalized "
    "distance and index of its nearest neighbor outside the m/2=12 "
    "exclusion zone — the motif/discord primitive. Uses the STOMP "
    "diagonal identity: per-lag sliding dot products are window SUMs "
    "over one all-pairs integer product join (O(n^2), n calendar-"
    "bounded at 720 — constant wrt data volume); window moments from "
    "the same window-sum trick. Correlation is one fixed-order double "
    "expression over exact integers (two separate sqrts keep radicands "
    "< 2^63 at any SF), quantized e9; the argmax is an exact integer "
    "comparison with smallest-index tie-break; dist = sqrt(2m(1-corr)) "
    "derives from the quantized value. Zero-variance windows excluded. "
    "Only data-sized stage: the shared staged hourly reduction "
    "(hour_counts_sql).",
)
def timeseries_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Staged execution (the WITH-inlining lesson): x feeds win + the
    # pair join (a and b sides), win joins twice into corr, and the
    # symmetrization union references corr twice — un-staged, Catalyst
    # re-ran the spine build ~5x and the 1.3M-row diagonal window pass
    # 2x (measured 8.1 s -> ~3 s at sf0.1).
    # Fan the 3600-row dense series across the session's parallelism
    # BEFORE the pair join: its output is ~700x its input, and the
    # event_type equi-key alone has 5 values, so an un-fanned stream
    # side builds all 2.6M pair rows in 5 tasks (the linkage
    # load_fanned lesson: fan any input whose per-row work dwarfs the
    # scan). The b side is broadcast, so stream partitioning is
    # preserved through the join.
    x = hour_counts_sql(
        spark, sf_dir, spine_from_counts(SPARK) + dense_hourly_x_guarded(SPARK)
    ).repartition(spark.sparkContext.defaultParallelism).localCheckpoint()
    win = spark.sql(
        "WITH x AS (SELECT * FROM {x})" + _MP_WIN_BODY, x=x
    ).localCheckpoint()
    corr = spark.sql(
        "WITH x AS (SELECT * FROM {x}), win AS (SELECT * FROM {win})"
        + _MP_CORR_BODY.replace("WITH prod AS", ", prod AS", 1),
        x=x, win=win,
    ).localCheckpoint()
    return spark.sql(
        "WITH corr AS (SELECT * FROM {corr})" + _MP_FINAL_SPARK, corr=corr
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier
# ---------------------------------------------------------------------------
# The skyline operator (Börzsönyi, Kossmann & Stocker, ICDE 2001):
# rows not Pareto-dominated by any other row. Criteria here: per
# supplier, revenue (maximize), shipped line count (maximize), returned
# line count (minimize) — the "best suppliers" frontier no single ORDER
# BY can express. Dominance is a correlated NOT EXISTS anti-join with
# >= on the maximized and <= on the minimized criteria plus one strict
# inequality; all three metrics are exact integers (revenue quantized
# to cents PER ROW before the SUM), so the dominance test never touches
# a float.
#
# Scale: the aggregate is the only data-sized stage (one map-side-
# combinable shuffle to #suppliers rows); the quadratic dominance join
# runs on the model-sized aggregate (10^3 suppliers at sf1 — ~10^6
# comparisons). For frontier inputs beyond ~10^5 rows the standard
# play is the paper's block-nested-loop with a presort by sum-of-ranks
# (dominators float to the front and prune early); at this grain the
# plain anti-join is optimal. Spark stages the aggregate behind a
# localCheckpoint so the two NOT-EXISTS references don't re-scan
# lineitem (WITH-inlining lesson).

_SKY_AGG = """
    SELECT l_suppkey AS suppkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1.0e0 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS rev_c,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_returns
    FROM lineitem GROUP BY l_suppkey
"""

_SKY_TAIL = """
    SELECT s.suppkey, s.rev_c, s.n_items, s.n_returns
    FROM m s
    WHERE NOT EXISTS (
        SELECT 1 FROM m t
        WHERE t.rev_c >= s.rev_c AND t.n_items >= s.n_items
          AND t.n_returns <= s.n_returns
          AND (t.rev_c > s.rev_c OR t.n_items > s.n_items
               OR t.n_returns < s.n_returns)
    )
"""

_SKY_DUCK = f"WITH m AS MATERIALIZED ({_SKY_AGG})" + _SKY_TAIL


@register(
    "skyline_pareto_frontier",
    oracle=_SKY_DUCK,
    doc="Skyline / Pareto frontier (Börzsönyi et al., ICDE 2001) over "
    "per-supplier (revenue MAX, shipped lines MAX, returned lines MIN): "
    "suppliers no other supplier dominates on all three criteria. "
    "Revenue quantizes to cents per row before the SUM, so the "
    "dominance NOT-EXISTS anti-join is pure integer comparison. One "
    "map-side-combinable aggregate is the only data-sized stage; the "
    "quadratic dominance test runs on the model-sized supplier "
    "aggregate (staged behind a localCheckpoint on Spark so the two "
    "references don't re-scan lineitem).",
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        "WITH m AS (SELECT * FROM {m})" + _SKY_TAIL,
        m=spark.sql(_SKY_AGG).localCheckpoint(),
    )
