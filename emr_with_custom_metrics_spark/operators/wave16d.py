"""Driver-round-15 wave 16d: eval OOV rate, the AMS F2 sketch, Chao1
vocabulary richness, and empirical-Bayes rate shrinkage.

* ``text_oov_rate`` — out-of-vocabulary rate of every EVAL document
  (source = 'src0', the same split convention as
  ``dq_eval_leakage_screen``) against the TRAINING vocabulary (all
  other sources): token-level and type-level OOV counts and rates.
  The coverage complement of the leakage screens — leakage asks
  "does eval text appear in training", OOV asks "can the training
  vocabulary even express the eval text" (the tokenizer/domain-shift
  readout checked before trusting any eval number). Scale shape: one
  distinct-vocab reduction, then a token-stream left join keyed on
  term — the standard shuffle-join shape; no corpus-sized state on
  any single node.
* ``sketch_ams_f2`` — Alon-Matias-Szegedy (STOC 1996) second
  frequency moment sketch over corpus tokens: k = 16 independent
  {-1,+1} sign hashes (md5-derived, so the oracle rebuilds the
  sketch byte-identically), Z_j = sum_t f_t s_j(t), estimate =
  lower-median of Z_j^2, AUDITED in-engine against the exact
  F2 = sum f_t^2. F2 is the self-join size / collision mass — the
  sketch family's repetitiveness readout beside the distinct-count
  (HLL/KMV), frequency (count-min/MG), and set-similarity (theta /
  bottom-k) members. Mergeable: Z vectors ADD across partitions, so
  only k integers per partition cross the network; the term-level
  reduction is the only data-sized stage.
* ``text_chao1_richness`` — Chao (1984) nonparametric vocabulary
  richness per source: the bias-corrected estimator S_obs +
  f1(f1-1)/(2(f2+1)) from singleton/doubleton type counts, with the
  standard lognormal 95% CI. The UNSEEN-TYPE-COUNT question beside
  ``text_good_turing``'s unseen-probability-MASS one ("how many more
  vocabulary types would more data reveal" vs "how much probability
  sits on them") and ``corpus_capture_recapture``'s overlap-based
  duplicate estimate. One tf histogram per source, then
  source-count-sized algebra.
* ``stats_eb_shrinkage`` — empirical-Bayes beta-binomial shrinkage
  (the classic method-of-moments fit) of per-user high-value rates
  (purchase, value >= 150 — the stats_proportion_ztest conversion
  definition at USER grain): fit (alpha, beta) by moments over users
  with n >= 2, emit the top-20 users by SHRUNKEN rate
  (k + alpha)/(n + alpha + beta). The estimator a platform actually
  ranks users/sources by — raw rates over-rank tiny-n users; the
  prior pulls them in. Per-user rates e9-quantized before the moment
  sums (exact integer arithmetic to the fit), one double epilogue
  for (alpha, beta); degenerate (zero or super-binomial variance)
  flags and falls back to the raw rate, never drops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# OOV rate
# ---------------------------------------------------------------------------

_OOV_TMPL = """
    WITH tok AS (
        SELECT doc_id, source, {d.terms} AS term FROM documents
    ), vocab AS (
        SELECT DISTINCT term FROM tok WHERE source <> 'src0'
    ), ev AS (
        SELECT t.doc_id, t.term,
               CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
        FROM tok t LEFT JOIN vocab v ON v.term = t.term
        WHERE t.source = 'src0'
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_types,
           CAST(SUM(oov) AS BIGINT) AS oov_tokens,
           CAST(COUNT(DISTINCT CASE WHEN oov = 1 THEN term END)
                AS BIGINT) AS oov_types,
           CAST(ROUND(CAST(SUM(oov) AS DOUBLE) * 1000000 / COUNT(*))
                AS BIGINT) AS oov_token_rate_e6,
           CAST(ROUND(CAST(COUNT(DISTINCT CASE WHEN oov = 1
                                               THEN term END) AS DOUBLE)
                * 1000000 / COUNT(DISTINCT term))
                AS BIGINT) AS oov_type_rate_e6
    FROM ev
    GROUP BY doc_id
    ORDER BY doc_id
"""


@register(
    "text_oov_rate",
    oracle=_OOV_TMPL.format(
        d=DUCK
    ),
    doc="Out-of-vocabulary rate of every eval document (source = "
    "'src0', the dq_eval_leakage_screen split convention) against "
    "the training vocabulary (all other sources): token- and "
    "type-level OOV counts and e6 rates. The COVERAGE complement of "
    "the leakage screens — leakage asks 'does eval text appear in "
    "training', this asks 'can the training vocabulary even express "
    "the eval text' (the tokenizer/domain-shift readout checked "
    "before trusting an eval number). One distinct-vocab reduction "
    "+ a term-keyed left join of the eval token stream — the "
    "standard shuffle-join shape, exact integer counts, one "
    "division per rate.",
)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        _OOV_TMPL.format(d=SPARK)
    )


# ---------------------------------------------------------------------------
# AMS F2 sketch
# ---------------------------------------------------------------------------
_AMS_K = 16

# sign hash: parity of the md5-derived 32-bit hash of 'ams{j}|{term}'
def _ams_sgn(d: Dialect) -> str:
    h = d.hex32(f"md5(concat('ams', CAST(j AS {d.string}), '|', term))")
    if d is SPARK:
        return f"1 - 2 * CAST(pmod({h}, 2) AS BIGINT)"
    return f"1 - 2 * ({h} % 2)"

_AMS_TMPL = """
    WITH tf AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT {d.terms} AS term FROM documents) z
        GROUP BY term
    ), signs AS (
        SELECT t.term, t.f, j.j, {sgn} AS s
        FROM tf t CROSS JOIN (SELECT {gen_j} AS j) j
    ), z AS (
        SELECT j, CAST(SUM(f * s) AS BIGINT) AS zj
        FROM signs GROUP BY j
    ), est AS (
        SELECT j, CAST(zj AS {d.wide_int}) * zj AS e FROM z
    ), med AS (
        -- lower median of the k estimates (8th of 16 ascending,
        -- ties broken by j — pinned, deterministic)
        SELECT e AS e_med FROM (
            SELECT e, ROW_NUMBER() OVER (ORDER BY e ASC, j ASC) AS rn
            FROM est
        ) r WHERE rn = {k} / 2
    ), exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
               SUM(CAST(f AS {d.wide_int}) * f) AS f2
        FROM tf
    ), wide AS (
        SELECT x.n_terms, {f2d} AS f2d, {emedd} AS emedd
        FROM exact x CROSS JOIN med m
    )
    SELECT CAST({k} AS BIGINT) AS k_estimators,
           n_terms,
           f2d AS f2_exact,
           emedd AS f2_est_median,
           CAST(ROUND(ABS(emedd - f2d) * 1000000
                / NULLIF(f2d, 0.0e0)) AS BIGINT) AS rel_err_e6
    FROM wide
"""


def _ams_sql(d: Dialect) -> str:
    return _AMS_TMPL.format(
        d=d,
        gen_j=d.series("1", str(_AMS_K)),
        sgn=_ams_sgn(d),
        k=_AMS_K,
        f2d=d.wide_to_double("x.f2"),
        emedd=d.wide_to_double("m.e_med"),
    )


@register(
    "sketch_ams_f2",
    oracle=_ams_sql(DUCK),
    doc="Alon-Matias-Szegedy (STOC 1996) second-frequency-moment "
    "sketch over corpus tokens: k = 16 independent md5-derived "
    "{-1,+1} sign hashes, Z_j = sum f_t s_j(t), estimate = lower "
    "median of Z_j^2, AUDITED in-engine against the exact "
    "F2 = sum f_t^2 (the self-join size / collision mass — the "
    "repetitiveness readout beside the distinct-count, frequency, "
    "and set-similarity sketch members). Mergeable by construction: "
    "Z vectors ADD, so only k integers per partition cross the "
    "network; the term reduction is the only data-sized stage. "
    "Exact integer sign-sums; squares in DECIMAL(38,0)/HUGEINT "
    "through the hi/mid/lo double conversion; the exact-F2 side "
    "exists for the audit.",
)
def sketch_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_ams_sql(SPARK))


# ---------------------------------------------------------------------------
# Chao1 richness
# ---------------------------------------------------------------------------

_CHAO_TMPL = """
    WITH tf AS (
        SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
        FROM (SELECT source, {d.terms} AS term FROM documents) z
        GROUP BY source, term
    ), per AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS s_obs,
               CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f1,
               CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS f2
        FROM tf GROUP BY source
    ), fit AS (
        -- bias-corrected Chao1 (defined at f2 = 0) and its standard
        -- variance; all doubles derive from the same exact integers
        SELECT source, s_obs, f1, f2,
               CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0e0 * (f2 + 1))
                   AS t0,
               CAST(f1 AS DOUBLE) * (f1 - 1) / (2.0e0 * (f2 + 1))
               + CAST(f1 AS DOUBLE) * (2 * f1 - 1) * (2 * f1 - 1)
                 / (4.0e0 * (f2 + 1) * (f2 + 1))
               + CAST(f1 AS DOUBLE) * f1 * f2 * (f1 - 1) * (f1 - 1)
                 / (4.0e0 * (f2 + 1) * (f2 + 1) * (f2 + 1) * (f2 + 1))
                   AS v
        FROM per
    ), ci AS (
        -- lognormal 95% CI on the unseen part T = chao1 - S_obs
        -- (Chao 1987): K = exp(1.96 sqrt(ln(1 + v/T^2))); T = 0
        -- (no singletons) collapses the CI to [S_obs, S_obs]
        SELECT source, s_obs, f1, f2, t0, v,
               exp(1.96e0 * sqrt(ln(1.0e0
                   + v / NULLIF(t0 * t0, 0.0e0)))) AS kk
        FROM fit
    )
    SELECT source, s_obs, f1, f2,
           CAST(ROUND((s_obs + t0) * 1000000) AS BIGINT) AS chao1_e6,
           CAST(ROUND((s_obs + t0 / COALESCE(kk, 1.0e0)) * 1000000)
                AS BIGINT) AS ci_lo_e6,
           CAST(ROUND((s_obs + t0 * COALESCE(kk, 1.0e0)) * 1000000)
                AS BIGINT) AS ci_hi_e6,
           (f1 = 0) AS degenerate
    FROM ci
    ORDER BY source
"""


@register(
    "text_chao1_richness",
    oracle=_CHAO_TMPL.format(
        d=DUCK
    ),
    doc="Chao (1984) nonparametric vocabulary-richness estimate per "
    "source: bias-corrected Chao1 = S_obs + f1(f1-1)/(2(f2+1)) from "
    "singleton/doubleton type counts with the Chao (1987) lognormal "
    "95% CI on the unseen part. The UNSEEN-TYPE-COUNT question "
    "beside text_good_turing's unseen-probability-MASS one and "
    "corpus_capture_recapture's overlap-based estimate: 'how many "
    "more vocabulary types would more data reveal' — the "
    "data-acquisition-planning readout. One tf histogram per source "
    "then source-sized algebra; no-singleton sources collapse the "
    "CI to the point estimate and flag degenerate (NULLIF-staged), "
    "never drop.",
)
def text_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(
        _CHAO_TMPL.format(d=SPARK)
    )


# ---------------------------------------------------------------------------
# empirical-Bayes shrinkage
# ---------------------------------------------------------------------------
_EB_TOPK = 20

_EB_SQL = """
    WITH per_user AS (
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN value >= 150 THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ), quant AS (
        -- per-user rate e9-quantized BEFORE the moment sums (rule 1:
        -- exact integer arithmetic all the way to the fit)
        SELECT user_id, n, k,
               CAST(ROUND(CAST(k AS DOUBLE) / n * 1000000000)
                    AS BIGINT) AS p_e9
        FROM per_user
    ), mom AS (
        -- method-of-moments over users with n >= 2 (single-event
        -- users carry no variance information)
        SELECT CAST(COUNT(*) AS BIGINT) AS u,
               CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS u_fit,
               CAST(SUM(CASE WHEN n >= 2 THEN p_e9 ELSE 0 END)
                    AS BIGINT) AS sp,
               SUM(CASE WHEN n >= 2
                        THEN CAST(p_e9 AS {d.wide_int}) * p_e9
                        ELSE CAST(0 AS {d.wide_int}) END) AS sp2
        FROM quant
    ), fit AS (
        -- m, v, then alpha = m(m(1-m)/v - 1), beta = (1-m)(...):
        -- degenerate when u_fit < 2, v <= 0, or v >= m(1-m)
        SELECT u, u_fit,
               CAST(sp AS DOUBLE) / NULLIF(u_fit, 0) / 1000000000.0e0
                   AS m,
               ({sp2d}
                - CAST(sp AS DOUBLE) * sp / NULLIF(u_fit, 0))
               / NULLIF(u_fit - 1, 0) / 1.0e18 AS v
        FROM mom
    ), ab AS (
        SELECT u, u_fit, m, v,
               CASE WHEN u_fit >= 2 AND v > 0 AND v < m * (1.0e0 - m)
                    THEN m * (m * (1.0e0 - m) / v - 1.0e0)
                    ELSE CAST(NULL AS DOUBLE) END AS alpha,
               CASE WHEN u_fit >= 2 AND v > 0 AND v < m * (1.0e0 - m)
                    THEN (1.0e0 - m) * (m * (1.0e0 - m) / v - 1.0e0)
                    ELSE CAST(NULL AS DOUBLE) END AS beta
        FROM fit
    ), scored AS (
        SELECT q.user_id, q.n, q.k, q.p_e9,
               -- shrunken rate; the degenerate fit falls back to the
               -- raw rate (alpha/beta NULL -> COALESCE), never drops
               CAST(ROUND(COALESCE(
                   (q.k + a.alpha) / (q.n + a.alpha + a.beta),
                   CAST(q.p_e9 AS DOUBLE) / 1000000000.0e0)
                   * 1000000000) AS BIGINT) AS p_shrunk_e9,
               CAST(ROUND(a.alpha * 1000000) AS BIGINT) AS alpha_e6,
               CAST(ROUND(a.beta * 1000000) AS BIGINT) AS beta_e6,
               (a.alpha IS NULL) AS degenerate_fit
        FROM quant q CROSS JOIN ab a
    )
    SELECT user_id, n, k, p_e9, p_shrunk_e9, alpha_e6, beta_e6,
           degenerate_fit
    FROM scored
    ORDER BY p_shrunk_e9 DESC, user_id ASC
    LIMIT {topk}
"""


def _eb_sql(d: Dialect) -> str:
    return _EB_SQL.format(
        d=d,
        sp2d=d.wide_to_double("sp2"),
        topk=_EB_TOPK,
    )


@register(
    "stats_eb_shrinkage",
    oracle=_eb_sql(DUCK),
    doc="Empirical-Bayes beta-binomial shrinkage of per-user "
    "high-value purchase rates (value >= 150, the "
    "stats_proportion_ztest conversion at USER grain): (alpha, "
    "beta) fit by the classic method of moments over users with "
    "n >= 2, every user re-scored with the shrunken rate "
    "(k + alpha)/(n + alpha + beta), top-20 by shrunken rate. THE "
    "ranking estimator for sparse per-entity rates — raw rates "
    "over-rank tiny-n users; the fitted prior pulls them toward "
    "the pool in proportion to their evidence. Per-user rates "
    "e9-quantized before the moment sums (exact integer arithmetic "
    "to the fit, DECIMAL/HUGEINT second moment), one double "
    "epilogue; a degenerate fit (u < 2, zero or super-binomial "
    "variance) falls back to raw rates with the flag set, never "
    "drops. ORDER BY + LIMIT compiles to TakeOrderedAndProject.",
)
def stats_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_eb_sql(SPARK))
