"""Round-15 wave 15d: randomness, corpus-length modeling, packing
economics, the l-diversity family's fourth member, and error-rate
inference.

* ``timeseries_turning_points`` — the Kendall turning-point randomness
  test per metric on dense daily counts: count strict local extrema
  among interior points; under iid, E[T] = 2(n-2)/3 and
  Var[T] = (16n-29)/90 — the randomness-battery member beside
  stats_runs_test (runs tests SIGN persistence vs the median; turning
  points test LOCAL monotony — a smooth trend passes the runs test's
  sign balance but kills turning points).
* ``corpus_length_lognormal_fit`` — per-source lognormal fit of
  document token counts (the canonical web-corpus length law): moments
  of ln(length) with per-doc e9 quantization, plus the KS distance
  between the empirical length CDF and the fitted lognormal (the
  Zelen-Severo 26.2.17 normal-CDF polynomial, the family's shared
  template) — the curation readout for truncation/padding policy and
  for spotting synthetic-data length artifacts.
* ``pack_nextfit_tradeoff`` — the PACKING operating curve:
  no-document-splitting next-fit packing (the SFT layout, the
  complement of pack_token_chunks' concat-and-chunk pretraining
  layout) swept over block sizes {128, 256, 512}, per source: bins
  used, padding waste fraction, truncated-doc count, and the
  concat lower bound ceil(total/B). The bin state is ONE array fold
  per (source, block) with the block size riding INSIDE the init
  state — zero lambda captures (the round-13 DuckDB rule).
* ``dq_recursive_cl_diversity`` — recursive (c,l)-diversity
  (Machanavajjhala et al. ICDE 2006 §4.2, pinned c = 3, l = 2) over
  the SAME QI grid as the k/l/t/delta screens: a class passes if its
  most common sensitive value is not c-times more frequent than
  everything below the l-th — the family's frequency-SKEW member
  (distinct l-diversity counts values, entropy averages them,
  recursive bounds the HEAD against the TAIL).
* ``stats_poisson_rate_ratio`` — two-sample Poisson rate-ratio z test
  of the error-event rate between the md5 A/B arms (exposure = each
  arm's total events): z = ln(RR) / sqrt(1/x_A + 1/x_B) — the
  count-with-exposure complement of stats_proportion_ztest's
  user-level binary conversion.

House discipline (the wave-15 hazard checklist, incl. class 5a): all
second moments in exact order-free DECIMAL accumulation with one
DOUBLE conversion (r14 ADVICE); per-row LN / CDF values quantized
before cross-row reductions; NULLIF guards any division that an ANSI
engine could evaluate under a false conjunct; degenerate rows flagged
AND emitted from the metric spine, never dropped; folds carry
parameters in the init state, never as captures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave15b import _daily_dense
from emr_with_custom_metrics_spark.registry import register

# ---------------------------------------------------------------------------
# turning points
# ---------------------------------------------------------------------------
_TP_Z_CRIT = 1.959963984540054  # two-sided 5%

_TP_CORE = """
    , lagd AS (
        SELECT event_type, day, y,
               LAG(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS yp,
               LEAD(y) OVER (PARTITION BY event_type ORDER BY day)
                   AS yn
        FROM dense
    ), marks AS (
        SELECT event_type,
               CASE WHEN (yp < y AND y > yn) OR (yp > y AND y < yn)
                    THEN 1 ELSE 0 END AS turn
        FROM lagd WHERE yp IS NOT NULL AND yn IS NOT NULL
    ), agg AS (
        SELECT event_type,
               CAST(COUNT(*) + 2 AS BIGINT) AS n,
               CAST(SUM(turn) AS BIGINT) AS t
        FROM marks GROUP BY event_type
    ), metrics AS (
        -- degenerate-emission spine (r14 ADVICE): a 1-2 day corpus
        -- has no interior points, so the agg group vanishes — emit
        -- the metric with its TRUE day count, flagged, never dropped
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd
        FROM dense GROUP BY event_type
    ), dense_agg AS (
        SELECT m.event_type,
               COALESCE(a.n, m.nd) AS n,
               CAST(COALESCE(a.t, 0) AS BIGINT) AS t
        FROM metrics m LEFT JOIN agg a ON a.event_type = m.event_type
    )
    SELECT event_type, n AS n_days, t AS n_turns,
           CAST(ROUND(2.0e0 * GREATEST(n - 2, 0) / 3.0e0 * 1000000)
                AS BIGINT) AS expected_e6,
           CASE WHEN n >= 4
                THEN CAST(ROUND((t - 2.0e0 * (n - 2) / 3.0e0)
                     / sqrt((16.0e0 * n - 29.0e0) / 90.0e0)
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN n >= 4
                THEN ABS((t - 2.0e0 * (n - 2) / 3.0e0)
                     / sqrt((16.0e0 * n - 29.0e0) / 90.0e0)) > {crit}
                ELSE FALSE END AS reject_05,
           n < 4 AS degenerate
    FROM dense_agg
"""


@register(
    "timeseries_turning_points",
    oracle=_daily_dense(DUCK) + _TP_CORE.format(crit=_TP_Z_CRIT),
    doc="Kendall turning-point randomness test per metric over dense "
    "daily counts: T = strict local extrema among interior points "
    "(ties count as no turn — the conservative integer-data "
    "convention), E[T] = 2(n-2)/3, Var = (16n-29)/90, two-sided 5% z. "
    "The randomness-battery member beside stats_runs_test: runs test "
    "SIGN persistence vs the median, turning points test LOCAL "
    "monotony — a smooth trend passes the runs sign balance but "
    "kills turning points, and high-frequency oscillation does the "
    "reverse. Two metric-partitioned LAG/LEAD windows over the "
    "calendar-bounded grid; integer counts everywhere until the one "
    "z division.",
)
def timeseries_turning_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(
        _daily_dense(SPARK) + _TP_CORE.format(crit=_TP_Z_CRIT)
    )


# ---------------------------------------------------------------------------
# lognormal length fit
# ---------------------------------------------------------------------------
def _phi_poly(z: str) -> str:
    """Zelen-Severo 26.2.17 upper-tail polynomial for |z| (the shared
    family template, wave9c): Q(|z|) = phi(|z|) * poly; Phi(z) =
    CASE sign."""
    az = f"ABS({z})"
    t = f"(1.0e0 / (1.0e0 + 0.2316419e0 * {az}))"
    q = (
        f"(EXP(-({az} * {az}) / 2.0e0) / 2.5066282746310002e0)"
        f" * (0.319381530e0 * {t}"
        f"  - 0.356563782e0 * POWER({t}, 2)"
        f"  + 1.781477937e0 * POWER({t}, 3)"
        f"  - 1.821255978e0 * POWER({t}, 4)"
        f"  + 1.330274429e0 * POWER({t}, 5))"
    )
    return f"CASE WHEN {z} >= 0.0e0 THEN 1.0e0 - {q} ELSE {q} END"


_LLN_TMPL = f"""
    WITH sized AS (
        SELECT source, doc_id,
               CAST({{ntok}} AS BIGINT) AS l
        FROM documents
    ), lx AS (
        -- per-doc ln(length) quantized e9 (the Fisher lnp pattern)
        SELECT source, l,
               CAST(ROUND(ln(CAST(l AS DOUBLE)) * 1000000000) AS BIGINT)
                   AS lnl_e9
        FROM sized WHERE l > 0
    ), mom AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(lnl_e9) AS BIGINT) AS s1,
               -- second moment in DECIMAL (r14 ADVICE): lnl_e9^2 is
               -- ~1e20 per row — past int64 AND past 2^53 where a
               -- DOUBLE sum turns summation-order-dependent.
               -- DECIMAL(19,0) * BIGINT -> DECIMAL(38,0): exact,
               -- order-free, ONE double conversion here.
               CAST(SUM(CAST(lnl_e9 AS DECIMAL(19,0)) * lnl_e9)
                    AS DOUBLE) AS s2
        FROM lx GROUP BY source
    ), fit AS (
        SELECT source, n,
               CAST(s1 AS DOUBLE) / n / 1000000000.0e0 AS mu,
               CASE WHEN n > 1
                         AND (s2 - CAST(s1 AS DOUBLE) * s1 / n) > 0
                    THEN sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n)
                         / (n - 1)) / 1000000000.0e0
                    ELSE 0.0e0 END AS sigma
        FROM mom
    ), hist AS (
        SELECT source, l, CAST(COUNT(*) AS BIGINT) AS c
        FROM lx GROUP BY source, l
    ), cum AS (
        SELECT source, l, c,
               CAST(SUM(c) OVER (PARTITION BY source ORDER BY l
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cumc
        FROM hist
    ), ks AS (
        -- per-distinct-length |ecdf - fitted| quantized e6 BEFORE the
        -- max; the fitted CDF uses the family's Zelen-Severo template
        SELECT h.source,
               CAST(ROUND(ABS(
                    CAST(h.cumc AS DOUBLE) / f.n
                    - ({_phi_poly("(ln(CAST(h.l AS DOUBLE)) - f.mu) / NULLIF(f.sigma, 0.0e0)")}))
                    * 1000000) AS BIGINT) AS d_e6
        FROM cum h JOIN fit f ON f.source = h.source
        WHERE f.sigma > 0
    ), ksmax AS (
        SELECT source, CAST(MAX(d_e6) AS BIGINT) AS ks_e6
        FROM ks GROUP BY source
    )
    SELECT f.source, f.n AS n_docs,
           CAST(ROUND(f.mu * 1000000) AS BIGINT) AS mu_e6,
           CAST(ROUND(f.sigma * 1000000) AS BIGINT) AS sigma_e6,
           CAST(ROUND(EXP(f.mu) * 1000) AS BIGINT) AS median_tokens_e3,
           CAST(COALESCE(k.ks_e6, 0) AS BIGINT) AS ks_e6,
           f.sigma = 0.0e0 AS degenerate
    FROM fit f LEFT JOIN ksmax k ON k.source = f.source
"""


@register(
    "corpus_length_lognormal_fit",
    oracle=_LLN_TMPL.format(ntok=DUCK.n_terms),
    doc="Per-source lognormal fit of document token counts — the "
    "canonical web-corpus length law: mu/sigma by moments of "
    "ln(length) (per-doc LN quantized e9, second moment in DOUBLE), "
    "the implied median exp(mu), and the KS distance between the "
    "empirical length CDF and the fitted lognormal (the Zelen-Severo "
    "26.2.17 normal-CDF polynomial — the p-value family's shared "
    "template — with per-distinct-length deviations quantized e6 "
    "before the max). The curation readout behind truncation/padding "
    "policy and a detector for synthetic-data length artifacts (a "
    "generated corpus with clipped or uniform lengths reads a large "
    "KS). KS runs on the DISTINCT-length histogram, never per doc; "
    "single-length sources flag degenerate.",
)
def corpus_length_lognormal_fit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_LLN_TMPL.format(ntok=SPARK.n_terms))


# ---------------------------------------------------------------------------
# next-fit packing trade-off
# ---------------------------------------------------------------------------
_PACK_BLOCKS = (128, 256, 512)

# fold state: [B, bins, fill, truncated, packed]; the block size rides
# the INIT state, so the lambda captures nothing (r13 rule). next-fit:
# a doc longer than B is truncated to B (and counted); a doc that does
# not fit the open bin closes it and opens a new one. NOTE the engines
# index arrays differently (Spark arr[i] is 0-based, DuckDB 1-based),
# so each engine gets its own step text over the SAME slot layout.
_PACK_STEP_SPARK = """(acc, l) -> CASE
    WHEN acc[2] + LEAST(l, acc[0]) > acc[0]
         OR acc[2] = 0
    THEN array(acc[0], acc[1] + 1, LEAST(l, acc[0]),
               acc[3] + CASE WHEN l > acc[0] THEN 1 ELSE 0 END,
               acc[4] + LEAST(l, acc[0]))
    ELSE array(acc[0], acc[1], acc[2] + LEAST(l, acc[0]),
               acc[3] + CASE WHEN l > acc[0] THEN 1 ELSE 0 END,
               acc[4] + LEAST(l, acc[0]))
    END"""

# DuckDB's init-less list_reduce: each step element is a 5-list whose
# slot 1 carries the doc length; the lambda reads acc + that one
# element (zero outer captures).
_PACK_STEP_DUCK = """(acc, st) -> CASE
    WHEN acc[3] + LEAST(st[1], acc[1]) > acc[1]
         OR acc[3] = 0
    THEN [acc[1], acc[2] + 1, LEAST(st[1], acc[1]),
          acc[4] + CASE WHEN st[1] > acc[1] THEN 1 ELSE 0 END,
          acc[5] + LEAST(st[1], acc[1])]
    ELSE [acc[1], acc[2], acc[3] + LEAST(st[1], acc[1]),
          acc[4] + CASE WHEN st[1] > acc[1] THEN 1 ELSE 0 END,
          acc[5] + LEAST(st[1], acc[1])]
    END"""

_PACK_TMPL = """
    WITH sized AS (
        SELECT source, doc_id, CAST({ntok} AS BIGINT) AS l
        FROM documents
    ), ordered AS (
        SELECT source, {lens} AS lens, CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM sized GROUP BY source
    ), swept AS (
        SELECT o.source, o.n_docs, b.bsz, o.lens
        FROM ordered o CROSS JOIN (VALUES {blocks}) {balias}
    ), folded AS (
        SELECT source, n_docs, bsz,
               {fold} AS st
        FROM swept
    )
    SELECT source, CAST(bsz AS BIGINT) AS block_size, n_docs,
           CAST(st[{i2}] AS BIGINT) AS n_bins,
           CAST(st[{i5}] AS BIGINT) AS packed_tokens,
           CASE WHEN st[{i2}] > 0
                THEN CAST(ROUND((CAST(st[{i2}] AS DOUBLE) * bsz
                     - st[{i5}]) / (CAST(st[{i2}] AS DOUBLE) * bsz)
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS waste_frac_e6,
           CAST(st[{i4}] AS BIGINT) AS n_truncated,
           CAST(FLOOR((CAST(st[{i5}] AS DOUBLE) + bsz - 1)
                / CAST(bsz AS DOUBLE)) AS BIGINT) AS bins_lower_bound,
           st[{i2}] = 0 AS degenerate
    FROM folded
"""


def _pack_sql(d: Dialect) -> str:
    blocks = ", ".join(f"({b})" for b in _PACK_BLOCKS)
    if d is SPARK:
        return _PACK_TMPL.format(
            ntok=d.n_terms,
            lens=(
                "transform(array_sort(collect_list(struct(doc_id, l))), "
                "p -> p.l)"
            ),
            blocks=blocks,
            balias="AS b(bsz)",
            fold=(
                "aggregate(lens, array(CAST(bsz AS BIGINT), "
                "CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
                "CAST(0 AS BIGINT), CAST(0 AS BIGINT)), "
                + _PACK_STEP_SPARK + ")"
            ),
            # Spark arr[i] is 0-based
            i2="1", i4="3", i5="4",
        )
    return _PACK_TMPL.format(
        ntok=d.n_terms,
        lens="LIST(l ORDER BY doc_id)",
        blocks=blocks,
        balias="b(bsz)",
        fold=(
            "list_reduce(list_concat([[CAST(bsz AS BIGINT), "
            "CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
            "CAST(0 AS BIGINT)]], "
            "list_transform(lens, x -> [x, CAST(0 AS BIGINT), "
            "CAST(0 AS BIGINT), CAST(0 AS BIGINT), "
            "CAST(0 AS BIGINT)])), "
            + _PACK_STEP_DUCK + ")"
        ),
        # DuckDB arr[i] is 1-based
        i2="2", i4="4", i5="5",
    )


@register(
    "pack_nextfit_tradeoff",
    oracle=_pack_sql(DUCK),
    doc="The PACKING operating curve: no-document-splitting next-fit "
    "packing (the SFT layout — documents never straddle example "
    "boundaries, the complement of pack_token_chunks' concat-and-"
    "chunk pretraining layout) swept over block sizes {128, 256, "
    "512}: per (source, block) the bins used, padding-waste fraction, "
    "docs truncated (longer than the block), and the concat lower "
    "bound ceil(packed/B) — the padding-vs-context-length decision "
    "every fine-tuning pipeline makes, as one oracled row set. The "
    "bin state is ONE array fold per (source, block) whose init "
    "carries the block size (zero lambda captures — the r13 DuckDB "
    "two-capture rule); doc order is doc_id (deterministic). The "
    "per-source length list is the only collected state — bounded by "
    "docs-per-source; for a giant source pre-bucket by doc_id div N "
    "exactly as pack_token_chunks documents.",
)
def pack_nextfit_tradeoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_pack_sql(SPARK))


# ---------------------------------------------------------------------------
# recursive (c,l)-diversity
# ---------------------------------------------------------------------------
_RCL_C = 3
_RCL_L = 2

_RCL_TMPL = f"""
    WITH qi AS (
        SELECT event_type,
               {{EPOCH_DAY}} % 7 AS dow,
               CAST(FLOOR(value / 25) AS BIGINT) AS value_band
        FROM events
    ), cells AS (
        SELECT dow, value_band, event_type,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM qi GROUP BY dow, value_band, event_type
    ), ranked AS (
        SELECT dow, value_band, c,
               ROW_NUMBER() OVER (PARTITION BY dow, value_band
                                  ORDER BY c DESC, event_type ASC)
                   AS rk
        FROM cells
    ), cls AS (
        -- recursive (c,l) with l = {_RCL_L}: r_1 < c * (r_l+...+r_m)
        SELECT dow, value_band,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS r1,
               CAST(COALESCE(SUM(CASE WHEN rk >= {_RCL_L} THEN c END),
                             0) AS BIGINT) AS tail
        FROM ranked GROUP BY dow, value_band
    ), scored AS (
        SELECT dow, value_band, n_rows, r1, tail,
               r1 >= {_RCL_C} * tail AS violating
        FROM cls
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(COUNT(CASE WHEN violating THEN 1 END) AS BIGINT)
               AS n_violating,
           CAST(COALESCE(SUM(CASE WHEN violating THEN n_rows END), 0)
                AS BIGINT) AS n_rows_at_risk,
           CAST(MAX(CASE WHEN tail > 0
                         THEN CAST(ROUND(CAST(r1 AS DOUBLE) / tail
                              * 1000000) AS BIGINT)
                         ELSE NULL END) AS BIGINT)
               AS worst_head_tail_ratio_e6,
           CAST(COUNT(CASE WHEN tail = 0 THEN 1 END) AS BIGINT)
               AS n_single_value_classes
    FROM scored
"""


@register(
    "dq_recursive_cl_diversity",
    oracle=_RCL_TMPL.format(EPOCH_DAY=DUCK.epoch_day),
    doc="Recursive (c,l)-diversity screen (Machanavajjhala et al. ICDE "
    "2006 §4.2; pinned c = 3, l = 2) over the SAME (day-of-week, "
    "value-band) QI grid as the k/l/t/delta screens (expressions "
    "pinned structurally against wave9g): a class passes if its most "
    "frequent sensitive value is not c-times the MASS BELOW the l-th "
    "— the frequency-SKEW member the family lacked (distinct "
    "l-diversity counts values, entropy averages them, recursive "
    "bounds the head against the tail; t-closeness compares against "
    "the GLOBAL distribution, this is purely within-class). Exact "
    "integer comparison r1 >= c*tail — the decision never touches a "
    "float; single-sensitive-value classes (tail = 0) are maximal "
    "violations and counted separately. One contingency reduction; "
    "QI-cardinality-bounded after.",
)
def dq_recursive_cl_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_RCL_TMPL.format(EPOCH_DAY=SPARK.epoch_day))


# ---------------------------------------------------------------------------
# Poisson rate ratio
# ---------------------------------------------------------------------------
_RR_Z_CRIT = 1.959963984540054

_PRR_SQL = f"""
    WITH base AS (
        SELECT CASE WHEN (instr('0123456789abcdef',
                    substring(md5(concat('ab|', CAST(user_id AS STRING))),
                    1, 1)) - 1) < 8 THEN 'A' ELSE 'B' END AS arm,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
        FROM events
    ), agg AS (
        SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(err) AS BIGINT) AS x
        FROM base GROUP BY arm
    ), wide AS (
        SELECT
            CAST(MAX(CASE WHEN arm = 'A' THEN x END) AS BIGINT) AS xa,
            CAST(MAX(CASE WHEN arm = 'A' THEN n END) AS BIGINT) AS na,
            CAST(MAX(CASE WHEN arm = 'B' THEN x END) AS BIGINT) AS xb,
            CAST(MAX(CASE WHEN arm = 'B' THEN n END) AS BIGINT) AS nb
        FROM agg
    ), guarded AS (
        -- COALESCE: a missing arm leaves NULL counts, and NULL must
        -- read as degenerate TRUE, never a NULL flag
        SELECT xa, na, xb, nb,
               COALESCE(xa, 0) > 0 AND COALESCE(xb, 0) > 0
               AND COALESCE(na, 0) > 0 AND COALESCE(nb, 0) > 0 AS ok
        FROM wide
    )
    SELECT xa AS errors_a, na AS exposure_a,
           xb AS errors_b, nb AS exposure_b,
           CASE WHEN ok
                THEN CAST(ROUND((CAST(xa AS DOUBLE) / na)
                     / (CAST(xb AS DOUBLE) / NULLIF(nb, 0))
                     * 1000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS rate_ratio_e6,
           CASE WHEN ok
                THEN CAST(ROUND(ln((CAST(xa AS DOUBLE) * nb)
                     / (CAST(xb AS DOUBLE) * na))
                     / sqrt(1.0e0 / xa + 1.0e0 / xb) * 1000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS z_e6,
           CASE WHEN ok
                THEN ABS(ln((CAST(xa AS DOUBLE) * nb)
                     / (CAST(xb AS DOUBLE) * na))
                     / sqrt(1.0e0 / xa + 1.0e0 / xb)) > {_RR_Z_CRIT}
                ELSE FALSE END AS reject_05,
           NOT ok AS degenerate
    FROM guarded
"""


@register(
    "stats_poisson_rate_ratio",
    oracle=_PRR_SQL,
    doc="Two-sample Poisson rate-ratio z test of the ERROR-event rate "
    "between the md5 A/B arms with exposure = each arm's total "
    "events: z = ln(RR)/sqrt(1/x_A + 1/x_B) against the two-sided 5% "
    "critical value — the SRE question ('did the canary raise the "
    "error RATE?') and the count-with-exposure complement of "
    "stats_proportion_ztest's user-level binary conversion (rates "
    "admit multiple events per unit; proportions cannot). Exact "
    "integer counts; one LN and one division at the very end; any "
    "zero count or zero exposure flags degenerate (the log blows up "
    "— never divided). One map-side aggregate; 2-row state after.",
)
def stats_poisson_rate_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_PRR_SQL)
