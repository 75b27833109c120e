"""Driver-round-15 wave 16a (r14 VERDICT item 5's candidate list): the
mergeable heavy-hitter sketch, deterministic weighted reservoir
sampling, the eval-side leakage screen, and a relational Bloom-join
prefilter.

* ``sketch_spacesaving_topk`` — merged Misra-Gries heavy-hitter
  summaries (Misra-Gries 1982; mergeability per Agarwal et al., PODS
  2012 — the SpaceSaving summary is the same object up to a constant
  shift): each source's EXACT token counts are compressed to capacity
  m = 8 by subtracting the (m+1)-th largest count (the MG decrement,
  delta_s), the per-source summaries merge by plain counter addition,
  and every estimate carries the deterministic two-sided bound
  est <= true <= est + sum(delta_s). The top-20 merged estimates are
  AUDITED in-engine against the exact counts (``within_bounds``) —
  the validation loop ``text_heavy_hitters``'s doc promises ("the
  exact ground truth a count-min/SpaceSaving sketch would be
  validated against"); count-min (``sketch_countmin_heavy_hitters``)
  is the hashed/overcounting member, this is the counter-based/
  undercounting one. At scale: the per-source (≡ per-partition)
  compression means only m counters per source cross the merge
  shuffle — the truth join exists for the audit and would be dropped
  in production.
* ``sample_weighted_reservoir`` — Efraimidis-Spirakis (IPL 2006)
  A-Res weighted reservoir sampling made REPLAYABLE: item key
  ln(u)/w with u = (h + 0.5)/2^32 derived from the first 8 md5 hex
  digits of doc_id (pure function of row identity — survives
  repartitioning and engine changes, the ``sample_deterministic``
  argument), w = n_chars; the sample is the top-k keys. The fixed-k,
  weight-proportional complement of ``sample_deterministic``'s
  fixed-RATE uniform Bernoulli and ``mixture_sample_weighted``'s
  per-source fractions: one pass, no global state, ORDER BY + LIMIT
  compiles to TakeOrderedAndProject (per-partition top-k, no full
  sort). A uniform arm (w = 1) rides the same scan as the control.
* ``dq_eval_leakage_screen`` — the EVAL-side complement of
  ``decontaminate_against_eval`` (set-level complement per r14
  VERDICT item 5): for every eval document, how many of ITS distinct
  5-gram spans leak from the training split, the leaked fraction,
  and the compromised verdict (>= 3 leaked spans — mirrored from the
  train-side screen so the two rows form one contract). The
  train-side screen asks "which training docs must be dropped"; this
  asks "which eval items are already burned and cannot measure
  generalization". Same broadcast discipline: the eval gram set is
  benchmark-sized, so the corpus-sized train stream semi-joins
  against it map-side and only MATCHED grams (a subset of the eval
  set) are ever distinct-ed; eval docs too short to form a 5-gram
  emit degenerate-flagged rows from the eval spine, never drop.
* ``join_bloom_prefilter_dim`` — the RELATIONAL Bloom-join: a
  selective dimension predicate (p_size <= 5, ~10% of parts) folds
  its join keys into a 64 Kbit k=3 Bloom filter built in DataFrame
  ops (same construction as ``decontaminate_bloom_prefilter``,
  llm/corpus_ops.py — xxhash64 bit positions, bit_or into 1024
  longs), the fact table (lineitem) probes it MAP-SIDE before the
  join, and the exact broadcast join on survivors removes false
  positives — so the answer is bit-identical to the plain join and
  the oracle is the plain join SQL. This is the semi-join/runtime-
  filter pattern (Bloom-join, Mackert-Lohman SIGMOD 1986; Spark's
  own runtime bloomFilter rewrite) as an EXPLICIT, auditable plan:
  at 100 TB the 8 KB filter broadcast prunes the fact scan's shuffle
  input by ~90% where a broadcast of the dim itself would already be
  MBs and the shuffle of unfiltered lineitem dominates.

House discipline: exact integer counters end-to-end in the sketch
(zero doubles); per-row ln quantized e9 before the top-k (the lnp
pattern); every fraction quantized per-row; degenerate rows flagged
and emitted from a spine; revenue aggregated as per-row e2-quantized
exact integer cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_fanned, load_table
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# merged Misra-Gries / SpaceSaving heavy hitters
# ---------------------------------------------------------------------------
_MG_CAPACITY = 8  # < the corpus's 31-token vocabulary, so the per-source
# compression is REAL on this fixture (the count-min lesson inverted:
# bigrams are near-uniform here and compress to nothing, unigrams with
# m=8 keep the head and genuinely decrement the tail)
_MG_TOPK = 20

_MG_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), tf AS (
        -- per-source EXACT counts: the map-side partial aggregate; at
        -- scale 'source' stands in for the partition and this is the
        -- only data-sized stage
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY source, term
    ), ranked AS (
        SELECT source, term, c,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY c DESC, term ASC) AS rn
        FROM tf
    ), mgdelta AS (
        -- the MG decrement: the (m+1)-th largest per-source count
        -- (0 when the source holds <= m distinct terms, i.e. exact)
        SELECT source,
               CAST(COALESCE(MAX(CASE WHEN rn = {m} + 1 THEN c END), 0)
                    AS BIGINT) AS d
        FROM ranked GROUP BY source
    ), kept AS (
        -- surviving counters: c - delta_s > 0 keeps AT MOST m per
        -- source (ties with the (m+1)-th count decrement to zero)
        SELECT r.source, r.term, r.c - d.d AS cc
        FROM ranked r JOIN mgdelta d ON d.source = r.source
        WHERE r.c - d.d > 0
    ), toterr AS (
        SELECT CAST(SUM(d) AS BIGINT) AS te FROM mgdelta
    ), merged AS (
        -- mergeable-summaries merge = plain counter addition
        SELECT term, CAST(SUM(cc) AS BIGINT) AS est FROM kept
        GROUP BY term
    ), truth AS (
        -- exact global counts: the AUDIT side (dropped in production)
        SELECT term, CAST(SUM(c) AS BIGINT) AS t FROM tf GROUP BY term
    )
    SELECT m.term AS token,
           m.est AS est_cnt,
           m.est + e.te AS max_cnt,
           tr.t AS true_cnt,
           (m.est <= tr.t AND tr.t <= m.est + e.te) AS within_bounds
    FROM merged m
    JOIN truth tr ON tr.term = m.term
    CROSS JOIN toterr e
    ORDER BY est_cnt DESC, token ASC
    LIMIT {k}
"""


@register(
    "sketch_spacesaving_topk",
    oracle=_MG_TMPL.format(
        d=DUCK,
        m=_MG_CAPACITY,
        k=_MG_TOPK,
    ),
    doc="Merged Misra-Gries (1982) heavy-hitter summaries, capacity "
    "m = 8 per source (mergeable per Agarwal et al. PODS 2012; the "
    "SpaceSaving summary is the same object up to a constant shift): "
    "per-source exact counts -> subtract the (m+1)-th largest count "
    "(delta_s) -> keep positive counters -> merge by addition. Every "
    "estimate carries the DETERMINISTIC bound est <= true <= est + "
    "sum(delta_s), audited in-engine against the exact counts "
    "(within_bounds) — the validation text_heavy_hitters' doc "
    "promises a counter-based sketch. Exact integer arithmetic "
    "end-to-end; only m counters per source cross the merge shuffle; "
    "the vocabulary-sized window after the (source, term) reduction "
    "is the only non-map stage.",
)
def sketch_spacesaving_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.catalog import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        _MG_TMPL.format(
            d=SPARK,
            m=_MG_CAPACITY,
            k=_MG_TOPK,
        )
    )


# ---------------------------------------------------------------------------
# deterministic A-Res weighted reservoir
# ---------------------------------------------------------------------------
_RES_K = 10

_RES_TMPL = """
    WITH w AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS wt
        FROM documents WHERE n_chars > 0
    ), keyed AS (
        -- u in (0,1) from the first 8 md5 hex digits of the row's
        -- identity ((h + 0.5)/2^32 — never 0, so ln is defined);
        -- A-Res key ln(u)/w, per-row e9 quantization (the lnp
        -- pattern) BEFORE the top-k so both engines rank identical
        -- integers; the uniform arm (w = 1) rides the same scan
        SELECT doc_id, wt,
               CAST(ROUND(ln(({h32} + 0.5e0) / 4294967296.0e0)
                    / wt * 1000000000) AS BIGINT) AS kw_e9,
               CAST(ROUND(ln(({h32} + 0.5e0) / 4294967296.0e0)
                    * 1000000000) AS BIGINT) AS ku_e9
        FROM w
    ), topw AS (
        SELECT doc_id, wt, kw_e9 FROM keyed
        ORDER BY kw_e9 DESC, doc_id ASC LIMIT {k}
    ), topu AS (
        SELECT doc_id, ku_e9 FROM keyed
        ORDER BY ku_e9 DESC, doc_id ASC LIMIT {k}
    )
    SELECT method, rank, doc_id, weight, key_e9 FROM (
        SELECT 'weighted' AS method,
               ROW_NUMBER() OVER (ORDER BY kw_e9 DESC, doc_id ASC)
                   AS rank,
               doc_id, wt AS weight, kw_e9 AS key_e9
        FROM topw
        UNION ALL
        SELECT 'uniform',
               ROW_NUMBER() OVER (ORDER BY ku_e9 DESC, doc_id ASC),
               doc_id, CAST(1 AS BIGINT), ku_e9
        FROM topu
    ) z
    ORDER BY method, rank
"""

# first 8 md5 hex digits of the doc identity -> BIGINT in [0, 2^32)
def _res_sql(d: Dialect) -> str:
    h32 = d.hex32(f"md5(CAST(doc_id AS {d.string}))")
    return _RES_TMPL.format(h32=h32, k=_RES_K)


@register(
    "sample_weighted_reservoir",
    oracle=_res_sql(DUCK),
    doc="Efraimidis-Spirakis (IPL 2006) A-Res weighted reservoir "
    "sample, k = 10, weight = n_chars, made replayable: the per-item "
    "uniform u comes from the first 8 md5 hex digits of doc_id (a "
    "pure function of row identity — survives repartitioning, "
    "backfills, and engine changes, unlike Spark's partitioning-"
    "dependent seeded sample), the A-Res key is ln(u)/w quantized e9 "
    "per row, and the sample is the k LARGEST keys with doc_id "
    "tie-breaks. P(doc in sample) is proportional-to-size without "
    "replacement — the fixed-K complement of sample_deterministic's "
    "fixed-RATE Bernoulli; a uniform arm (w = 1) rides the same "
    "scan. ORDER BY + LIMIT compiles to TakeOrderedAndProject "
    "(per-partition top-k, no global sort); the ROW_NUMBER ranks run "
    "on k rows only.",
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.catalog import register_views

    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_res_sql(SPARK))


# ---------------------------------------------------------------------------
# eval-side leakage screen
# ---------------------------------------------------------------------------
_LEAK_ORACLE = """
    WITH ev AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        WHERE source = 'src0'
    ), evg AS (
        -- DISTINCT 5-grams per eval doc
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(list_slice(toks, i, i + 4),
                                            ' '))) AS g
            FROM ev WHERE len(toks) >= 5
        )
    ), leaked AS (
        -- eval grams that appear ANYWHERE in the training split
        SELECT DISTINCT g FROM (
            SELECT UNNEST(list_transform(range(1, len(toks) - 3),
                       i -> array_to_string(list_slice(toks, i, i + 4),
                                            ' '))) AS g
            FROM (SELECT string_split(text, ' ') AS toks FROM documents
                  WHERE source <> 'src0')
            WHERE len(toks) >= 5
        ) tg
        WHERE g IN (SELECT g FROM evg)
    ), counts AS (
        SELECT e.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(COUNT(l.g) AS BIGINT) AS n_leaked
        FROM evg e LEFT JOIN leaked l ON l.g = e.g
        GROUP BY e.doc_id
    )
    SELECT v.doc_id,
           CAST(COALESCE(c.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(c.n_leaked, 0) AS BIGINT) AS n_leaked_grams,
           CASE WHEN COALESCE(c.n_grams, 0) > 0
                THEN CAST(ROUND(CAST(c.n_leaked AS DOUBLE) / c.n_grams
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS leaked_frac_e6,
           COALESCE(c.n_leaked, 0) >= 3 AS compromised,
           COALESCE(c.n_grams, 0) = 0 AS degenerate
    FROM ev v LEFT JOIN counts c ON c.doc_id = v.doc_id
"""


@register(
    "dq_eval_leakage_screen",
    oracle=_LEAK_ORACLE,
    doc="The EVAL-side complement of decontaminate_against_eval (same "
    "5-gram definition, same >= 3 verdict threshold, src0 = the "
    "benchmark): per eval document, the count and fraction of its "
    "distinct 5-gram spans that appear anywhere in the training "
    "split, and the compromised verdict — 'which eval items are "
    "already burned and cannot measure generalization', the question "
    "the train-side screen (which docs to DROP) does not answer. "
    "Scale shape: the eval gram set is benchmark-sized and "
    "broadcast; the corpus-sized training gram stream semi-joins "
    "against it map-side, so only matched grams (a subset of the "
    "eval set) are ever distinct-ed — no corpus shuffle. Eval docs "
    "shorter than 5 tokens emit degenerate-flagged rows from the "
    "eval spine (never dropped).",
)
def dq_eval_leakage_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_fanned(spark, sf_dir, "documents")
    k = 5
    grams = F.expr(
        f"transform(sequence(1, size(toks) - {k - 1}), "
        f"i -> concat_ws(' ', slice(toks, i, {k})))"
    )
    ev = d.where(F.col("source") == "src0").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # Opt r15 (guide §2.4): `evg` feeds the broadcast gram set AND the
    # per-doc counts — un-staged, the eval-side gram explode+distinct
    # ran twice (plans/r15/dq_eval_leakage_screen_scan1.txt). One
    # checkpoint of the benchmark-sized distinct gram table.
    evg = (
        ev.where(F.size("toks") >= k)
        .select("doc_id", F.explode(grams).alias("g"))
        .distinct()
        .localCheckpoint()
    )
    ev_set = evg.select("g").distinct()
    leaked = (
        d.where(F.col("source") != "src0")
        .select(F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= k)
        .select(F.explode(grams).alias("g"))
        .join(F.broadcast(ev_set), "g", "left_semi")
        .distinct()
    )
    counts = (
        evg.join(F.broadcast(leaked.withColumn("hit", F.lit(1))), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.count("hit").cast("bigint").alias("n_leaked"),
        )
    )
    return (
        ev.select("doc_id")
        .join(counts, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_leaked"), F.lit(0))
            .cast("bigint")
            .alias("n_leaked_grams"),
            F.when(
                F.coalesce(F.col("n_grams"), F.lit(0)) > 0,
                F.round(
                    F.col("n_leaked").cast("double") / F.col("n_grams") * 1000000
                ).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("leaked_frac_e6"),
            (F.coalesce(F.col("n_leaked"), F.lit(0)) >= 3).alias("compromised"),
            (F.coalesce(F.col("n_grams"), F.lit(0)) == 0).alias("degenerate"),
        )
    )


# ---------------------------------------------------------------------------
# relational Bloom-join prefilter
# ---------------------------------------------------------------------------
_BLOOM_DIM_BITS = 1 << 16  # 64 Kbit = 1024 longs (8 KB broadcast)
_BLOOM_DIM_HASHES = 3
_BLOOM_DIM_MAX_SIZE = 5  # p_size <= 5 keeps ~10% of parts

# Oracle = the PLAIN join: a Bloom filter has no false negatives and
# the exact broadcast join on survivors removes the false positives,
# so the prefiltered answer is bit-identical to the unfiltered one
# (the decontaminate_bloom_prefilter argument, llm/corpus_ops.py).
_BLOOM_DIM_ORACLE = f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount)
                * 100) AS BIGINT)) AS BIGINT) AS revenue_c2
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_size <= {_BLOOM_DIM_MAX_SIZE}
    GROUP BY p.p_brand
    ORDER BY p.p_brand
"""


@register(
    "join_bloom_prefilter_dim",
    oracle=_BLOOM_DIM_ORACLE,
    doc="Relational Bloom-join (Mackert-Lohman, SIGMOD 1986; the "
    "pattern behind Spark's runtime bloomFilter rewrite) made "
    "explicit and auditable: the selective dimension predicate "
    "(p_size <= 5, ~10% of parts) folds its join keys into a 64 Kbit "
    "k=3 Bloom filter built in DataFrame ops (xxhash64 bit "
    "positions, bit_or into 1024 longs — the same construction as "
    "decontaminate_bloom_prefilter), lineitem probes the 8 KB "
    "broadcast MAP-SIDE before any join, and the exact broadcast "
    "join on survivors removes false positives — the answer is "
    "bit-identical to the plain join, which is why the oracle IS the "
    "plain join. At 100 TB the win is shuffle-input pruning: ~90% of "
    "the fact stream dies at the scan without shuffling, for an 8 KB "
    "broadcast. Revenue aggregates as per-row e2-quantized exact "
    "integer cents (no double accumulation).",
)
def join_bloom_prefilter_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dim = part.where(F.col("p_size") <= _BLOOM_DIM_MAX_SIZE).select(
        "p_partkey", "p_brand"
    )

    def bit_positions(key):
        # xxhash64 hashes int32 and int64 inputs DIFFERENTLY — pin the
        # key type so build side (p_partkey) and probe side (l_partkey)
        # always hash the same bytes
        return F.array(
            *[
                F.pmod(
                    F.xxhash64(key.cast("bigint"), F.lit(i)),
                    F.lit(_BLOOM_DIM_BITS),
                )
                for i in range(_BLOOM_DIM_HASHES)
            ]
        )

    bloom = (
        dim.select(F.explode(bit_positions(F.col("p_partkey"))).alias("bit"))
        .select(
            (F.col("bit") / 64).cast("long").alias("word"),
            F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("mask"))
    )
    # probe keyed by ROW identity (orderkey, linenumber): distinct
    # lineitem rows can share (partkey, rev), so the all-k-bits check
    # must group on the row, not the payload
    probe = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.explode(bit_positions(F.col("l_partkey"))).alias("bit"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "rev",
        (F.col("bit") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(bit % 64 AS INT))").alias("m"),
    )
    survivors = (
        probe.join(F.broadcast(bloom), "word")
        .where((F.col("mask").bitwiseAND(F.col("m"))) == F.col("m"))
        .groupBy("l_orderkey", "l_linenumber", "l_partkey", "rev")
        .agg(F.count("*").alias("nbits"))
        .where(F.col("nbits") == _BLOOM_DIM_HASHES)
        .select("l_partkey", "rev")
    )
    return (
        survivors.join(F.broadcast(dim), survivors["l_partkey"] == dim["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.round(F.col("rev") * 100).cast("bigint"))
            .cast("bigint")
            .alias("revenue_c2"),
        )
        .orderBy("p_brand")
    )
