"""Driver-round-15 wave 16c: corpus mixture concentration (HHI),
the Atkinson inequality index, and Mood's median test.

* ``corpus_source_concentration`` — Herfindahl-Hirschman
  concentration of the corpus TOKEN MASS across sources, with the
  normalized HHI, the effective number of sources 1/HHI (Laakso-
  Taagepera), and the top-source share: the one-row mixture-health
  readout a pre-training data team checks before any reweighting
  (``corpus_token_budget_mix`` PRESCRIBES a mixture; this MEASURES
  the one you have). HHI = sum_s tok_s^2 / T^2 from exact wide
  integer sums (DECIMAL(38,0)/HUGEINT — token masses square past
  2^53 at corpus scale) through the hi/mid/lo correctly-rounded
  double conversion, ONE division per statistic.
* ``stats_atkinson_spend`` — Atkinson (JET 1970) inequality index at
  inequality-aversion eps = 1 (A = 1 - geomean/mean) over the SAME
  cents-exact customer spend distribution as ``stats_gini_lorenz``:
  the welfare-founded member beside Gini's rank-based one — same
  data, different social-welfare function, so the pair reads as one
  contract. Any zero-spend customer drives the geometric mean to 0
  and A to EXACTLY 1 (the defined limit, emitted as the integer, not
  a float wobble); per-row e9-quantized logs, exact integer sum, one
  exp and one division.
* ``stats_mood_median`` — Mood's median test per metric between the
  md5 A/B arms (the SAME arms/value grain as ``stats_ab_ttest``):
  the coarse-but-robust two-sample member that completes the
  location battery (t-test: means under normality; Mann-Whitney:
  ranks; Mood: only counts above the pooled median — maximally
  outlier-immune). The pooled median is an EXACT order statistic
  read off the value histogram (cum >= ceil(N/2) picks the lower
  median — the house rule: never a SinglePartition sort), the 2x2
  chi-square is pure integer algebra with one double epilogue, and
  zero-margin tables flag degenerate via NULLIF, never drop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# source concentration (HHI)
# ---------------------------------------------------------------------------

_HHI_TMPL = """
    WITH tokc AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS tok
        FROM (SELECT source, {d.terms} AS term FROM documents) z
        GROUP BY source
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(tok) AS BIGINT) AS t,
               SUM(CAST(tok AS {d.wide_int}) * tok) AS sq,
               CAST(MAX(tok) AS BIGINT) AS mx
        FROM tokc
    ), wide AS (
        SELECT k, t, mx,
               {sqd} AS sqd,
               {t2d} AS t2d
        FROM (SELECT k, t, mx, sq,
                     CAST(t AS {d.wide_int}) * t AS t2
              FROM agg) a
    ), calc AS (
        SELECT k, t, mx,
               sqd / NULLIF(t2d, 0.0e0) AS hhi,
               t2d / NULLIF(sqd, 0.0e0) AS eff,
               CAST(mx AS DOUBLE) / NULLIF(t, 0) AS top_share
        FROM wide
    )
    SELECT k AS n_sources, t AS total_tokens,
           CAST(ROUND(hhi * 1000000000) AS BIGINT) AS hhi_e9,
           -- normalized HHI (hhi - 1/k)/(1 - 1/k): single-source
           -- corpora flag degenerate via NULLIF, never divide
           CAST(ROUND((hhi - 1.0e0 / k)
                / NULLIF(1.0e0 - 1.0e0 / k, 0.0e0)
                * 1000000000) AS BIGINT) AS hhi_norm_e9,
           CAST(ROUND(eff * 1000000000) AS BIGINT)
               AS effective_sources_e9,
           CAST(ROUND(top_share * 1000000000) AS BIGINT)
               AS top_share_e9,
           (k <= 1 OR t = 0) AS degenerate
    FROM calc
"""


def _hhi_sql(d: Dialect) -> str:
    return _HHI_TMPL.format(
        d=d,
        sqd=d.wide_to_double("a.sq"),
        t2d=d.wide_to_double("a.t2"),
    )


@register(
    "corpus_source_concentration",
    oracle=_hhi_sql(DUCK),
    doc="Herfindahl-Hirschman concentration of corpus token mass "
    "across sources, with the normalized HHI, the Laakso-Taagepera "
    "effective number of sources 1/HHI, and the top-source share — "
    "the one-row mixture-health readout measured BEFORE any "
    "reweighting (corpus_token_budget_mix prescribes a mixture; "
    "this measures the one you have). HHI = sum tok_s^2 / T^2 from "
    "exact wide integer sums (DECIMAL(38,0)/HUGEINT: masses square "
    "past 2^53 at corpus scale) through the hi/mid/lo "
    "correctly-rounded double conversion, ONE division per "
    "statistic; single-source corpora flag degenerate via NULLIF. "
    "Plan: one token-count reduction, then source-count-sized "
    "algebra.",
)
def corpus_source_concentration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_hhi_sql(SPARK))


# ---------------------------------------------------------------------------
# Atkinson index
# ---------------------------------------------------------------------------

_ATK_SQL = """
    WITH spend AS (
        SELECT c.c_custkey,
               CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100)
                                      AS BIGINT)), 0) AS BIGINT) AS x
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s,
               CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero,
               -- per-row e9-quantized logs over the POSITIVE spends,
               -- exact integer sum (rule 1: never SUM(double))
               CAST(SUM(CASE WHEN x > 0
                             THEN CAST(ROUND(ln(x) * 1000000000)
                                  AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS slnx_e9
        FROM spend
    ), calc AS (
        SELECT n, s, n_zero,
               -- A(1) = 1 - geomean/mean; any zero spend makes the
               -- geometric mean 0 and A exactly 1 (the defined limit)
               CASE
                 WHEN s = 0 THEN CAST(NULL AS DOUBLE)
                 WHEN n_zero > 0 THEN 1.0e0
                 ELSE 1.0e0
                      - exp(CAST(slnx_e9 AS DOUBLE) / n / 1000000000.0e0)
                        / (CAST(s AS DOUBLE) / n)
               END AS atk
        FROM agg
    )
    SELECT n AS n_customers, n_zero AS n_zero_spend,
           s AS total_spend_c2,
           CAST(ROUND(atk * 1000000000) AS BIGINT) AS atkinson_e9,
           (s = 0) AS degenerate
    FROM calc
"""


@register(
    "stats_atkinson_spend",
    oracle=_ATK_SQL,
    doc="Atkinson (JET 1970) inequality index at inequality-aversion "
    "eps = 1 (A = 1 - geometric mean / arithmetic mean) over the "
    "SAME cents-exact customer spend distribution as "
    "stats_gini_lorenz — the welfare-founded member beside Gini's "
    "rank-based one (A answers 'what fraction of total spend could "
    "be discarded under equal distribution for equal welfare'); "
    "same data, different social-welfare function, so the pair "
    "reads as one contract. Zero-spend customers drive the "
    "geometric mean to 0 and A to EXACTLY 1 (emitted as the "
    "integer limit, no float wobble); per-row e9 logs, exact "
    "integer sums, one exp + one division; all-zero corpora flag "
    "degenerate. One groupBy(customer) + a one-row reduce.",
)
def stats_atkinson_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql(_ATK_SQL)


# ---------------------------------------------------------------------------
# Mood's median test
# ---------------------------------------------------------------------------

_ARM = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('ab|', "
    "CAST(user_id AS STRING))), 1, 1)) - 1) < 8 THEN 'A' ELSE 'B' END"
)

_MOOD_SQL = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), hist AS (
        SELECT event_type, v_e3, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, v_e3
    ), cum AS (
        SELECT event_type, v_e3, c,
               SUM(c) OVER (PARTITION BY event_type ORDER BY v_e3
                            ROWS UNBOUNDED PRECEDING) AS cumc,
               SUM(c) OVER (PARTITION BY event_type) AS n
        FROM hist
    ), med AS (
        -- exact LOWER median off the value histogram (the house
        -- rule: cum >= ceil(N/2) picks the value, never a
        -- SinglePartition sort)
        SELECT event_type, CAST(MIN(v_e3) AS BIGINT) AS med_e3
        FROM cum WHERE cumc * 2 >= n
        GROUP BY event_type
    ), cells AS (
        SELECT b.event_type,
               CAST(SUM(CASE WHEN b.arm = 'A' AND b.v_e3 > m.med_e3
                             THEN 1 ELSE 0 END) AS BIGINT) AS a_gt,
               CAST(SUM(CASE WHEN b.arm = 'A' AND b.v_e3 <= m.med_e3
                             THEN 1 ELSE 0 END) AS BIGINT) AS a_le,
               CAST(SUM(CASE WHEN b.arm = 'B' AND b.v_e3 > m.med_e3
                             THEN 1 ELSE 0 END) AS BIGINT) AS b_gt,
               CAST(SUM(CASE WHEN b.arm = 'B' AND b.v_e3 <= m.med_e3
                             THEN 1 ELSE 0 END) AS BIGINT) AS b_le
        FROM base b JOIN med m ON m.event_type = b.event_type
        GROUP BY b.event_type
    ), chi AS (
        -- Pearson chi2 on the 2x2: N(ad - bc)^2 / (r1 r2 c1 c2),
        -- pure integer algebra with one double epilogue; any zero
        -- margin (e.g. every value equal to the median) NULLs the
        -- denominator -> degenerate, never a divide error
        SELECT event_type, a_gt, a_le, b_gt, b_le,
               (a_gt + a_le + b_gt + b_le)
               * CAST((a_gt * b_le - a_le * b_gt) AS DOUBLE)
               * (a_gt * b_le - a_le * b_gt)
               / NULLIF(CAST((a_gt + a_le) AS DOUBLE) * (b_gt + b_le)
                        * (a_gt + b_gt) * (a_le + b_le), 0.0e0)
                   AS chi2
        FROM cells
    )
    SELECT c.event_type, m.med_e3 AS median_e3,
           a_gt, a_le, b_gt, b_le,
           CAST(ROUND(chi2 * 1000000000) AS BIGINT) AS chi2_e9,
           CASE WHEN chi2 IS NULL THEN CAST(NULL AS BOOLEAN)
                ELSE chi2 > 3.8415e0 END AS reject_same_median,
           (chi2 IS NULL) AS degenerate
    FROM chi c JOIN med m ON m.event_type = c.event_type
    ORDER BY c.event_type
"""


@register(
    "stats_mood_median",
    oracle=_MOOD_SQL,
    doc="Mood's median test per metric between the md5 A/B arms "
    "(same arms and e3 value grain as stats_ab_ttest): counts above "
    "vs at-or-below the POOLED median in a 2x2 Pearson chi-square "
    "vs the pinned 3.8415 — the coarse-but-maximally-robust member "
    "completing the two-sample location battery (t-test: means "
    "under normality; Mann-Whitney: ranks; this: only median "
    "crossings, outlier-immune). The pooled median is an exact "
    "LOWER order statistic read off the value histogram (cum*2 >= n "
    "picks the value — never a SinglePartition sort); ties sit in "
    "the <= cell by the pinned convention; zero-margin tables "
    "(every value at the median) flag degenerate via NULLIF. One "
    "histogram reduction + metric-sized algebra.",
)
def stats_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_MOOD_SQL)
