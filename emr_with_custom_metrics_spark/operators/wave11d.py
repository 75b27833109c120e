"""Round-11 wave 11d: corpus-statistics and pipeline-allocation tier.

The dedup/quality/tokenizer families answer "which docs"; this wave
adds the corpus-LEVEL measurements and the allocation step a training-
data pipeline runs between them:

* ``corpus_capture_recapture`` — Chapman/Lincoln-Petersen estimate of
  the total 8-gram shingle vocabulary from the overlap of two corpus
  halves: "how much of the n-gram space has this crawl actually seen".
* ``corpus_token_budget_mix`` — Hamilton largest-remainder
  apportionment of a fixed training-token budget across (lang, source)
  strata, exact to the token (allocations sum to the budget EXACTLY).
* ``text_ngram_novelty`` — per-source novelty profile: the share of
  each doc's distinct 8-gram shingles that no other doc contains (the
  within-corpus memorization screen beside decontaminate_against_eval's
  cross-corpus one).
* ``text_burstiness_dispersion`` — Gries' deviation of proportions for
  the top corpus terms: is a term spread evenly across sources or
  bursty in a few (stopword-ness vs topicality).
* ``stats_cronbach_alpha`` — internal-consistency reliability of the
  per-user metric battery (do the five metrics measure one underlying
  engagement trait), with the cross-item variance sums kept as exact
  integer moments end to end.
* ``ml_expected_calibration_error`` — ECE/MCE on the held-out half
  under the family's shared even-half calibration table.

House discipline: shingle spaces exploded once and hashed before any
shuffle; apportionment and overlap counts exact integers; per-bin gaps
quantized before weighting so reductions stay order-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

# Dialect-split 8-gram shingle extraction (distinct per doc, md5-hashed
# so every downstream shuffle carries 16-byte keys, not 8-word strings).
_SHINGLES_SPARK = """
        SELECT doc_id,
               explode(array_distinct(transform(
                   sequence(1, size(w) - 7),
                   i -> md5(array_join(slice(w, i, 8), ' '))))) AS s
        FROM (SELECT doc_id, split(text, ' ') AS w FROM documents)
        WHERE size(w) >= 8
"""
_SHINGLES_DUCK = """
        SELECT DISTINCT doc_id,
               md5(array_to_string(w[i.g:i.g+7], ' ')) AS s
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) t,
             UNNEST(generate_series(1, len(t.w) - 7)) AS i(g)
        WHERE len(t.w) >= 8
"""


# ---------------------------------------------------------------------------
# Capture-recapture shingle-vocabulary estimate
# ---------------------------------------------------------------------------
# Split the corpus into two "captures" (even/odd doc_id), count distinct
# 8-gram shingles in each and in the overlap, and apply the Chapman
# estimator N^ = (nA+1)(nB+1)/(m+1) - 1 for the total shingle
# vocabulary. Coverage = observed distinct / N^ tells a crawl operator
# how saturated the n-gram space is — the decision input for "keep
# crawling vs start filtering".
#
# Scale: one shingle explode (hashes), one groupBy(s) carrying two
# bit flags — the same shuffle shape as dedup_ngram_jaccard's token
# stage. All counts exact integers; the estimator is one double
# epilogue ((nA+1)(nB+1) < 2^53 through ~9e7 shingles per half —
# past that promote to DOUBLE before the multiply).

_CRC_TMPL = """
    WITH sh AS (
        {shingles}
    ), marked AS (
        SELECT s,
               MAX(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS in_b
        FROM sh GROUP BY s
    ), counts AS (
        SELECT CAST(SUM(in_a) AS BIGINT) AS n_a,
               CAST(SUM(in_b) AS BIGINT) AS n_b,
               CAST(SUM(in_a * in_b) AS BIGINT) AS m_overlap,
               CAST(COUNT(*) AS BIGINT) AS n_observed
        FROM marked
    )
    SELECT n_a, n_b, m_overlap, n_observed,
           CAST(FLOOR(CAST(n_a + 1 AS DOUBLE) * (n_b + 1) / (m_overlap + 1))
                AS BIGINT) - 1 AS chapman_total_est,
           CASE WHEN CAST(FLOOR(CAST(n_a + 1 AS DOUBLE) * (n_b + 1)
                          / (m_overlap + 1)) AS BIGINT) - 1 > 0
                THEN CAST(ROUND(CAST(n_observed AS DOUBLE)
                     / (CAST(FLOOR(CAST(n_a + 1 AS DOUBLE) * (n_b + 1)
                             / (m_overlap + 1)) AS BIGINT) - 1)
                     * 1000000) AS BIGINT)
                ELSE 0 END AS coverage_e6
    FROM counts
"""


@register(
    "corpus_capture_recapture",
    oracle=_CRC_TMPL.format(shingles=_SHINGLES_DUCK),
    doc="Chapman capture-recapture estimate of the total 8-gram shingle "
    "vocabulary from the even/odd doc_id halves: distinct shingles per "
    "half and in the overlap are exact integer counts from one "
    "md5-hashed shingle explode + groupBy; the estimator and coverage "
    "ratio are double epilogues. Answers 'how saturated is this "
    "crawl's n-gram space' — the keep-crawling-vs-filter decision "
    "input. Same shuffle shape as the dedup token stages.",
)
def corpus_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_CRC_TMPL.format(shingles=_SHINGLES_SPARK))


# ---------------------------------------------------------------------------
# Hamilton token-budget apportionment
# ---------------------------------------------------------------------------
# Allocate a 1,000,000-token training budget across (lang, source)
# strata proportional to available whitespace tokens, by largest
# remainder: base_i = floor(B*t_i/T) via exact integer division,
# leftover R = B - sum(base_i) goes to the R largest exact remainders
# B*t_i - base_i*T (rank tie-broken by stratum). Every quantity is an
# exact integer, so sum(alloc) == B EXACTLY — the property tests pin.
#
# Scale: one map-side token count per stratum; the apportionment runs
# on the bounded strata table. Overflow: B*t_i int64 through ~9e12
# corpus tokens at B = 1e6; past that scale B and T down together.

_MIX_TMPL = """
    WITH strata AS (
        SELECT lang, source,
               CAST(SUM({d.n_terms}) AS BIGINT) AS t_i
        FROM documents GROUP BY lang, source
    ), tot AS (
        SELECT CAST(SUM(t_i) AS BIGINT) AS t FROM strata
    ), quota AS (
        SELECT s.lang, s.source, s.t_i, o.t,
               CAST((1000000 * s.t_i) {d.intdiv} o.t AS BIGINT) AS base_i,
               CAST(1000000 * s.t_i - ((1000000 * s.t_i) {d.intdiv} o.t) * o.t
                    AS BIGINT) AS rem_i
        FROM strata s CROSS JOIN tot o
    ), leftover AS (
        SELECT CAST(1000000 - SUM(base_i) AS BIGINT) AS r FROM quota
    ), ranked AS (
        SELECT q.*, l.r,
               CAST(ROW_NUMBER() OVER (ORDER BY q.rem_i DESC, q.lang,
                                       q.source) AS BIGINT) AS rk
        FROM quota q CROSS JOIN leftover l
    )
    SELECT lang, source, t_i AS tokens_available,
           CAST(base_i + CASE WHEN rk <= r THEN 1 ELSE 0 END AS BIGINT)
               AS alloc_tokens,
           CAST(ROUND(CAST(t_i AS DOUBLE) / t * 1000000) AS BIGINT)
               AS share_e6
    FROM ranked
"""

# Integer floor division: Spark needs DIV, DuckDB //; both exact.


@register(
    "corpus_token_budget_mix",
    oracle=_MIX_TMPL.format(d=DUCK),
    doc="Hamilton largest-remainder apportionment of a 1M-token training "
    "budget across (lang, source) strata proportional to available "
    "whitespace tokens: base shares by exact integer floor division, "
    "the leftover distributed to the largest exact remainders "
    "(deterministic stratum tie-break) — allocations sum to the budget "
    "EXACTLY, no float ever enters the allocation. The data-mixing "
    "step (DoReMi-style static mix) between corpus stats and sampling.",
)
def corpus_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_MIX_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Within-corpus n-gram novelty
# ---------------------------------------------------------------------------
# Per doc: the share of its distinct 8-gram shingles appearing in NO
# other document; reported as a per-source profile (mean/min/max of the
# e6-quantized per-doc novelty, exact integer reductions). Low novelty
# = boilerplate/template farms; the within-corpus complement of
# decontaminate_against_eval.
#
# Scale: shingle explode + one groupBy(s) for document frequency + one
# join back — dedup_ngram_jaccard's shape with a count instead of a
# pair join.

_NOV_TMPL = """
    WITH sh AS (
        {shingles}
    ), df AS (
        SELECT s, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs_with
        FROM sh GROUP BY s
    ), per_doc AS (
        SELECT h.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN d.n_docs_with = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unique
        FROM sh h JOIN df d ON h.s = d.s
        GROUP BY h.doc_id
    ), scored AS (
        SELECT p.doc_id,
               CAST(ROUND(CAST(p.n_unique AS DOUBLE) / p.n_shingles
                          * 1000000) AS BIGINT) AS novelty_e6
        FROM per_doc p
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(AVG(CAST(s.novelty_e6 AS DOUBLE))) AS BIGINT)
               AS mean_novelty_e6,
           CAST(MIN(s.novelty_e6) AS BIGINT) AS min_novelty_e6,
           CAST(MAX(s.novelty_e6) AS BIGINT) AS max_novelty_e6,
           CAST(SUM(CASE WHEN s.novelty_e6 < 500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_novelty
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
"""


@register(
    "text_ngram_novelty",
    oracle=_NOV_TMPL.format(shingles=_SHINGLES_DUCK),
    doc="Per-source 8-gram novelty profile: for each doc the share of "
    "its distinct shingles appearing in no other document (exact "
    "document-frequency counts from one hashed shingle explode), "
    "quantized e6 per doc then reduced with exact integer aggregates "
    "per source; docs under 50% novelty counted as boilerplate "
    "suspects. The within-corpus memorization screen beside "
    "decontaminate_against_eval's cross-corpus one.",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    # Opt r15 (guide §2.4, Spark side only — the oracle keeps the
    # join-back chain): `sh` fed both the document-frequency aggregate
    # and the join-back, so WITH-inlining ran the 8-gram explode + md5
    # pass TWICE. The per-doc shingle lists are array_distinct, so
    # (doc_id, s) is unique in sh and COUNT(*) OVER (PARTITION BY s)
    # equals COUNT(DISTINCT doc_id) exactly — one explode pass + one
    # window shuffle replaces explode x2 + groupBy + join, with the
    # identical integer counts feeding the same e6 epilogue.
    return spark.sql(
        """
    WITH sh AS (
        {shingles}
    ), per_doc AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN n_docs_with = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_unique
        FROM (
            SELECT doc_id,
                   COUNT(*) OVER (PARTITION BY s) AS n_docs_with
            FROM sh
        )
        GROUP BY doc_id
    ), scored AS (
        SELECT p.doc_id,
               CAST(ROUND(CAST(p.n_unique AS DOUBLE) / p.n_shingles
                          * 1000000) AS BIGINT) AS novelty_e6
        FROM per_doc p
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(ROUND(AVG(CAST(s.novelty_e6 AS DOUBLE))) AS BIGINT)
               AS mean_novelty_e6,
           CAST(MIN(s.novelty_e6) AS BIGINT) AS min_novelty_e6,
           CAST(MAX(s.novelty_e6) AS BIGINT) AS max_novelty_e6,
           CAST(SUM(CASE WHEN s.novelty_e6 < 500000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_low_novelty
    FROM scored s JOIN documents d ON s.doc_id = d.doc_id
    GROUP BY d.source
""".format(shingles=_SHINGLES_SPARK)
    )


# ---------------------------------------------------------------------------
# Term dispersion (Gries' DP)
# ---------------------------------------------------------------------------
# For the 20 most frequent corpus terms: DP = 0.5 * sum_sources
# |f_ts/f_t - tok_s/T|. Cross-multiplied per-source term
# |f_ts*T - tok_s*f_t| keeps the numerator an exact integer; the sum
# over sources is exact; one epilogue divides by 2*f_t*T. DP near 0 =
# spread like a stopword, near 1 = bursty in one source.
#
# Scale: one token explode into a (term, source) count — the word-freq
# shuffle every text op already pays; the DP stage runs on the bounded
# top-k x sources grid.

_DISP_TMPL = """
    WITH tok AS (
        SELECT source, {d.terms} AS term FROM documents
    ), ts AS (
        SELECT term, source, CAST(COUNT(*) AS BIGINT) AS f_ts
        FROM tok GROUP BY term, source
    ), term_tot AS (
        SELECT term, CAST(SUM(f_ts) AS BIGINT) AS f_t
        FROM ts GROUP BY term
    ), src_tot AS (
        SELECT source, CAST(SUM(f_ts) AS BIGINT) AS tok_s
        FROM ts GROUP BY source
    ), grand AS (
        SELECT CAST(SUM(tok_s) AS BIGINT) AS t FROM src_tot
    ), topk AS (
        -- top-20 chosen by ORDER BY + LIMIT (TakeOrderedAndProject on
        -- Spark — never a global ROW_NUMBER over the whole vocabulary,
        -- r11 VERDICT item 1); the rank window then runs on the
        -- 20-row result only (model-sized). Same tie-break, identical
        -- terms and ranks.
        SELECT term, f_t,
               CAST(ROW_NUMBER() OVER (ORDER BY f_t DESC, term) AS BIGINT)
                   AS rk
        FROM (SELECT term, f_t FROM term_tot
              ORDER BY f_t DESC, term LIMIT 20) lim
    ), dp AS (
        SELECT k.term, k.f_t, k.rk,
               CAST(SUM(ABS(COALESCE(x.f_ts, 0) * g.t - s.tok_s * k.f_t))
                    AS BIGINT) AS dp_num
        FROM topk k
        CROSS JOIN src_tot s
        CROSS JOIN grand g
        LEFT JOIN ts x ON x.term = k.term AND x.source = s.source
        GROUP BY k.term, k.f_t, k.rk, g.t
    )
    SELECT term, rk AS freq_rank, f_t AS term_freq,
           CAST(ROUND(CAST(dp_num AS DOUBLE)
                      / (2.0e0 * f_t * (SELECT t FROM grand))
                      * 1000000000) AS BIGINT) AS dp_e9
    FROM dp
"""


@register(
    "text_burstiness_dispersion",
    oracle=_DISP_TMPL.format(d=DUCK),
    doc="Gries' deviation of proportions for the 20 most frequent "
    "corpus terms across sources: per-source deviation cross-multiplied "
    "to the exact integer |f_ts*T - tok_s*f_t| (absent cells COALESCE "
    "to 0 via LEFT JOIN against the full top-k x source grid), exact "
    "integer sum, single epilogue over 2*f_t*T. DP near 0 = stopword-"
    "evenly spread, near 1 = bursty/topical — the dispersion axis the "
    "raw frequency rank (text_word_freq_topk) cannot see.",
)
def text_burstiness_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_DISP_TMPL.format(d=SPARK))


# ---------------------------------------------------------------------------
# Cronbach's alpha
# ---------------------------------------------------------------------------
# Reliability of the 5-metric per-user battery: item score = the user's
# event count for that metric (0 when absent — the full user x item
# grid). alpha = k/(k-1) * (1 - sum(var_i)/var_total). Both variance
# sums reduce to exact integer moment combinations:
#   sum var_i  ~ n*sum(s2_i) - sum(s1_i^2),  var_tot ~ n*s2_tot - s1_tot^2
# (the common n(n-1) denominators cancel in the ratio), so alpha is ONE
# double division over exact integers.
#
# Scale: groupBy(metric, user) then a user-grid pivot — user-bounded
# state, map-side-combinable everywhere.

_ALPHA_SQL = """
    WITH cells AS (
        SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY event_type, user_id
    ), grid AS (
        SELECT t.event_type, u.user_id,
               CAST(COALESCE(c.x, 0) AS BIGINT) AS x
        FROM (SELECT DISTINCT event_type FROM cells) t
        CROSS JOIN (SELECT DISTINCT user_id FROM cells) u
        LEFT JOIN cells c
          ON c.event_type = t.event_type AND c.user_id = u.user_id
    ), items AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s1,
               CAST(SUM(x * x) AS BIGINT) AS s2
        FROM grid GROUP BY event_type
    ), users AS (
        SELECT user_id, CAST(SUM(x) AS BIGINT) AS xt
        FROM grid GROUP BY user_id
    ), tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xt) AS BIGINT) AS s1,
               CAST(SUM(xt * xt) AS BIGINT) AS s2
        FROM users
    ), moments AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(i.n * i.s2 - i.s1 * i.s1) AS BIGINT) AS item_var_num,
               MAX(t.n * t.s2 - t.s1 * t.s1) AS tot_var_num
        FROM items i CROSS JOIN tot t
    )
    SELECT i.event_type, i.n AS n_users,
           CAST(i.n * i.s2 - i.s1 * i.s1 AS BIGINT) AS var_item_num,
           m.k AS k_items,
           CASE WHEN m.tot_var_num > 0 AND m.k > 1
                THEN CAST(ROUND(CAST(m.k AS DOUBLE) / (m.k - 1)
                           * (1 - CAST(m.item_var_num AS DOUBLE)
                                  / m.tot_var_num)
                           * 1000000000) AS BIGINT)
                ELSE 0 END AS alpha_e9
    FROM items i CROSS JOIN moments m
"""


@register(
    "stats_cronbach_alpha",
    oracle=_ALPHA_SQL,
    doc="Cronbach's alpha over the per-user 5-metric count battery "
    "(full user x item grid, absences scored 0): the item-variance sum "
    "and total variance reduce to exact integer moment combinations "
    "whose common n(n-1) denominators cancel, so alpha is one double "
    "division e9. Per-item variance numerators emitted alongside for "
    "the item-drop diagnostic. User-bounded state.",
)
def stats_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_ALPHA_SQL)


# ---------------------------------------------------------------------------
# Expected calibration error
# ---------------------------------------------------------------------------
# ECE/MCE on the odd half under the family's shared even-half
# calibration table (default forecast for test-only bins, as in
# brier/logloss): per-bin gap |p_b - o_b| quantized e9 in one fixed
# step, ECE the n_b-weighted exact integer sum over bins, MCE the exact
# integer max.

_ECE_SQL = """
    WITH base AS (
        SELECT event_id,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               event_id % 2 AS half
        FROM events
    ), rng AS (
        SELECT MIN(v_e3) AS lo, MAX(v_e3) AS hi FROM base
    ), binned AS (
        SELECT b.half, b.y,
               LEAST(CAST(FLOOR((b.v_e3 - r.lo) * 10.0e0
                                / (r.hi - r.lo + 1)) AS BIGINT), 9) AS bin
        FROM base b CROSS JOIN rng r
        WHERE r.hi > r.lo
    ), calib AS (
        SELECT bin,
               CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p_e9
        FROM binned WHERE half = 0 GROUP BY bin
    ), calg AS (
        SELECT CAST(ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*) * 1000000000)
                    AS BIGINT) AS p0_e9
        FROM binned WHERE half = 0
    ), test AS (
        SELECT bin,
               CAST(COUNT(*) AS BIGINT) AS n_b,
               CAST(SUM(y) AS BIGINT) AS pos_b
        FROM binned WHERE half = 1 GROUP BY bin
    ), gaps AS (
        SELECT t.bin, t.n_b,
               CASE WHEN c.bin IS NULL THEN 1 ELSE 0 END AS uncal,
               ABS(COALESCE(c.p_e9, g.p0_e9)
                   - CAST(ROUND(CAST(t.pos_b AS DOUBLE) / t.n_b
                                * 1000000000) AS BIGINT)) AS gap_e9
        FROM test t
        LEFT JOIN calib c ON t.bin = c.bin
        CROSS JOIN calg g
        WHERE t.n_b > 0
    ), agg AS (
        SELECT CAST(SUM(n_b) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               CAST(SUM(uncal) AS BIGINT) AS n_uncal_bins,
               CAST(SUM(n_b * gap_e9) AS BIGINT) AS wsum_e9,
               CAST(MAX(gap_e9) AS BIGINT) AS mce_e9
        FROM gaps
    )
    SELECT n AS n_test, n_bins, n_uncal_bins,
           CAST(ROUND(CAST(wsum_e9 AS DOUBLE) / n) AS BIGINT) AS ece_e9,
           mce_e9
    FROM agg WHERE n > 0
"""


@register(
    "ml_expected_calibration_error",
    oracle=_ECE_SQL,
    doc="ECE and MCE of the even-half-calibrated forecast on the odd "
    "half (shared calibration table with the Brier/logloss rows, incl. "
    "the default-forecast rule for test-only bins): per-bin gap "
    "|p_b - o_b| quantized e9 in one fixed step, ECE the exact "
    "n_b-weighted integer sum, MCE the exact integer max. The "
    "headline calibration scalar beside the full reliability table "
    "(ml_calibration_bins).",
)
def ml_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `binned` feeds calib/calg/test, so the
    # events scan + range cross-join ran three times.
    return stage_ctes(spark, _ECE_SQL, "binned")
