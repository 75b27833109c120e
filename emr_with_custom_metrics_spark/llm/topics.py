"""Topic modeling: PLSA (probabilistic latent semantic analysis) by EM.

The corpus-understanding capability the text tier lacked: a latent
topic decomposition P(w|z), P(z|d) of the document-word count matrix
(Hofmann, SIGIR 1999 — the EM-trained predecessor of LDA; identical
E/M algebra, no Dirichlet priors, which is exactly what makes it
expressible as a deterministic fixed-round computation both engines can
replay). k = 3 topics, 2 EM rounds, top-30 vocabulary.

Hash-exact iterative-EM discipline (the unigram-LM / kmeans / pagerank
playbook):
- every probability is a scaled-integer (1e-9) table between rounds;
- the E-step responsibility numerator P(w|z)P(z|d) is a product of two
  <= 1e9 BIGINTs — EXACT in int64 (the double product would round:
  1e18 > 2^53), and its z-denominator is an exact 3-term BIGINT sum;
- each weighted responsibility quantizes to 1e-9 BEFORE the M-step
  sums, so the d- and w-reductions are aggregation-order-free integer
  sums;
- M-step normalizations are one fixed-DAG double division each,
  re-quantized to 1e-9 immediately.

Spark stages the count matrix and each round's parameter tables behind
eager localCheckpoints (they run while the row is built) bound into the
next statement (Spark inlines WITH-chains per reference — un-staged,
round 2's E-step would recompute round 1's entire subtree per
z-branch); DuckDB materializes
the same chain as MATERIALIZED CTEs in one statement.

Scale posture: the only data-sized stage is the (doc, word) count
aggregation (map-side combinable explode). Everything after operates
on |V| x k (90 rows) and |D| x k tables; the E-step join shuffles on
doc_id once per round and P(w|z) (90 rows) broadcasts. At 100 TB:
same plan, bigger first reduction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.registry import register

_HEX = "0123456789abcdef"
_K = 3
_VOCAB = 30
_ROUNDS = 2
_E9 = 1_000_000_000


def _h16(seed: str, key: str) -> str:
    k = f"md5(concat('{seed}|', CAST({key} AS STRING)))"
    return (
        f"((instr('{_HEX}', substring({k}, 1, 1)) - 1) * 4096"
        f" + (instr('{_HEX}', substring({k}, 2, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substring({k}, 3, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({k}, 4, 1)) - 1))"
    )


# ---- stage 0: (doc, word) counts over the top-|V| vocabulary ----------
_WD_TMPL = """
    WITH tok AS ({tok}),
    voc AS (
        SELECT w FROM (
            SELECT w, COUNT(*) AS cnt FROM tok GROUP BY w
        ) ORDER BY cnt DESC, w LIMIT {vocab}
    )
    SELECT t.doc_id, t.w, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok t JOIN voc v ON t.w = v.w
    GROUP BY t.doc_id, t.w
"""

# ---- init: P0(w|z) from hash jitter (normalized), P0(z|d) uniform -----
# raw in [1000, 2000): bounded away from 0 so no topic starts starved;
# the SAME seeded table on both engines.
_PWZ0_TMPL = """
    SELECT w, z, CAST(ROUND(CAST(raw AS DOUBLE) / SUM(raw) OVER (PARTITION BY z)
                            * {e9}) AS BIGINT) AS p_e9
    FROM (
        SELECT w, t.z, (1000 + ({h} % 1000)) AS raw
        FROM (SELECT DISTINCT w FROM {wd}) words
        CROSS JOIN (SELECT * FROM (VALUES (0), (1), (2)) AS q(z)) t
    )
"""

_PZD0_TMPL = """
    SELECT doc_id, t.z, CAST({third} AS BIGINT) AS p_e9
    FROM (SELECT DISTINCT doc_id FROM {wd}) docs
    CROSS JOIN (SELECT * FROM (VALUES (0), (1), (2)) AS q(z)) t
"""

# Opt r15 (guide §2.4, Spark side only — the oracle keeps the CTE
# chain below): ONE tokenize+explode pass. The original _WD_TMPL inlines
# `tok` twice (vocabulary count + the join), re-exploding the corpus;
# staging the full (doc, word) count matrix once makes the vocabulary
# cut a cheap re-read. SUM(c) over the per-doc counts equals COUNT(*)
# over tokens exactly, so the top-{vocab} cut and the kept counts are
# identical.
_TC_SPARK = f"""
    SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
    FROM (SELECT doc_id, {SPARK.terms} AS w FROM documents)
    GROUP BY doc_id, w
"""

_WD_FROM_TC_TMPL = """
    SELECT t.doc_id, t.w, t.c
    FROM {tc} t
    JOIN (
        SELECT w FROM (
            SELECT w, SUM(c) AS cnt FROM {tc} GROUP BY w
        ) ORDER BY cnt DESC, w LIMIT {vocab}
    ) v ON t.w = v.w
"""

# ---- one EM round ----------------------------------------------------
# e: weighted responsibilities, quantized 1e-9 per (d, w, z).
# num = pwz * pzd is an EXACT int64 product; den its exact 3-term sum.
_E_TMPL = """
    SELECT wd.doc_id, wd.w, pz.z,
           -- den is data-derived: on a pathologically skewed corpus a
           -- word's p_e9 can quantize to 0 in all k topics, making the
           -- 3-term sum 0. ANSI Spark raises on 0/0 while DuckDB errors
           -- casting inf/NaN to BIGINT — guard per the round-9 rule.
           CAST(CASE WHEN den.den > 0
                     THEN ROUND(CAST(wd.c AS DOUBLE) * (pw.p_e9 * pz.p_e9)
                                / den.den * {e9})
                     ELSE 0 END AS BIGINT) AS rc_e9
    FROM {wd} wd
    JOIN {pzd} pz ON wd.doc_id = pz.doc_id
    JOIN {pwz} pw ON wd.w = pw.w AND pw.z = pz.z
    JOIN (
        SELECT wd2.doc_id, wd2.w,
               CAST(SUM(pw2.p_e9 * pz2.p_e9) AS BIGINT) AS den
        FROM {wd} wd2
        JOIN {pzd} pz2 ON wd2.doc_id = pz2.doc_id
        JOIN {pwz} pw2 ON wd2.w = pw2.w AND pw2.z = pz2.z
        GROUP BY wd2.doc_id, wd2.w
    ) den ON wd.doc_id = den.doc_id AND wd.w = den.w
"""

# Opt r15 (guide §2.4, Spark side only): the E-step's den subquery
# re-ran the identical 3-way join a second time just to sum the three
# z-products per (doc, word). A window SUM over the single join pass
# partitions on (doc_id, w) and adds the same three exact int64
# products in any order — bit-identical den, half the join work.
_E_SPARK_TMPL = """
    SELECT doc_id, w, z,
           CAST(CASE WHEN den > 0
                     THEN ROUND(CAST(c AS DOUBLE) * num / den * {e9})
                     ELSE 0 END AS BIGINT) AS rc_e9
    FROM (
        SELECT wd.doc_id, wd.w, pz.z, wd.c,
               pw.p_e9 * pz.p_e9 AS num,
               CAST(SUM(pw.p_e9 * pz.p_e9)
                    OVER (PARTITION BY wd.doc_id, wd.w) AS BIGINT) AS den
        FROM {wd} wd
        JOIN {pzd} pz ON wd.doc_id = pz.doc_id
        JOIN {pwz} pw ON wd.w = pw.w AND pw.z = pz.z
    )
"""

_PWZ_TMPL = """
    SELECT w, z,
           CAST(CASE WHEN SUM(nwz) OVER (PARTITION BY z) > 0
                     THEN ROUND(CAST(nwz AS DOUBLE)
                                / SUM(nwz) OVER (PARTITION BY z) * {e9})
                     ELSE 0 END AS BIGINT)
               AS p_e9
    FROM (
        SELECT w, z, CAST(SUM(rc_e9) AS BIGINT) AS nwz
        FROM {e} GROUP BY w, z
    )
"""

_PZD_TMPL = """
    SELECT doc_id, z,
           CAST(CASE WHEN SUM(nzd) OVER (PARTITION BY doc_id) > 0
                     THEN ROUND(CAST(nzd AS DOUBLE)
                                / SUM(nzd) OVER (PARTITION BY doc_id) * {e9})
                     ELSE 0 END AS BIGINT)
               AS p_e9
    FROM (
        SELECT doc_id, z, CAST(SUM(rc_e9) AS BIGINT) AS nzd
        FROM {e} GROUP BY doc_id, z
    )
"""

# ---- report: top-5 words per topic + corpus topic shares --------------
_REPORT_TMPL = """
    SELECT /*+ BROADCAST(s) */ r.z, r.rnk, r.w, r.p_e9,
           s.share_e6
    FROM (
        SELECT z, w, p_e9,
               CAST(ROW_NUMBER() OVER (PARTITION BY z
                                       ORDER BY p_e9 DESC, w) AS INT) AS rnk
        FROM {pwz}
    ) r
    JOIN (
        SELECT z, CAST(ROUND(CAST(SUM(p_e9) AS DOUBLE)
                             / (SELECT SUM(p_e9) FROM {pzd}) * 1000000)
                  AS BIGINT) AS share_e6
        FROM {pzd} GROUP BY z
    ) s ON r.z = s.z
    WHERE r.rnk <= 5
"""


def _fills(wd: str, pwz0: str, pzd0: str, e1: str, pwz1: str, pzd1: str,
           e2: str, pwz2: str, pzd2: str) -> dict[str, str]:
    h = _h16("plsa", "concat(w, '|', CAST(t.z AS STRING))")
    return {
        "wd": wd, "pwz0": pwz0, "pzd0": pzd0, "e1": e1, "pwz1": pwz1,
        "pzd1": pzd1, "e2": e2, "pwz2": pwz2, "pzd2": pzd2, "h": h,
        "e9": _E9, "third": round(_E9 / _K), "vocab": _VOCAB,
    }


def _duck_sql() -> str:
    f = _fills("wd", "pwz0", "pzd0", "e1", "pwz1", "pzd1", "e2", "pwz2", "pzd2")
    parts = [
        ("wd", _WD_TMPL.format(
            tok=f"SELECT doc_id, {DUCK.terms} AS w FROM documents", vocab=_VOCAB
        )),
        ("pwz0", _PWZ0_TMPL.format(wd="wd", h=f["h"], e9=_E9)),
        ("pzd0", _PZD0_TMPL.format(wd="wd", third=f["third"])),
        ("e1", _E_TMPL.format(wd="wd", pwz="pwz0", pzd="pzd0", e9=_E9)),
        ("pwz1", _PWZ_TMPL.format(e="e1", e9=_E9)),
        ("pzd1", _PZD_TMPL.format(e="e1", e9=_E9)),
        ("e2", _E_TMPL.format(wd="wd", pwz="pwz1", pzd="pzd1", e9=_E9)),
        ("pwz2", _PWZ_TMPL.format(e="e2", e9=_E9)),
        ("pzd2", _PZD_TMPL.format(e="e2", e9=_E9)),
    ]
    ctes = ", ".join(f"{n} AS MATERIALIZED ({sql})" for n, sql in parts)
    return "WITH " + ctes + _REPORT_TMPL.format(pwz="pwz2", pzd="pzd2")


@register(
    "text_plsa_topics",
    oracle=_duck_sql(),
    doc="PLSA topic model (Hofmann, SIGIR 1999) TRAINED in-engine: k=3 "
    "topics over the top-30 vocabulary, 2 EM rounds, hash-seeded "
    "deterministic init. The E-step responsibility numerator "
    "P(w|z)P(z|d) is an EXACT int64 product of two 1e-9-scaled "
    "parameters (a double product would round above 2^53) with an "
    "exact 3-term integer denominator sum; weighted responsibilities "
    "quantize to 1e-9 before the M-step reductions so every sum is "
    "aggregation-order-free; normalizations are one fixed-DAG division "
    "re-quantized immediately — the whole training trajectory "
    "hash-replays in DuckDB as chained MATERIALIZED CTEs. Spark stages "
    "the count matrix and each round's parameter tables behind "
    "eager localCheckpoints, run while the row is built (WITH-inlining "
    "would recompute round 1 per round-2 z-branch). Output: top-5 words "
    "per topic + corpus topic shares. Only data-sized stage: the map-side-combinable (doc, "
    "word) count explode; P(w|z) is 90 rows and broadcasts.",
)
def text_plsa_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    f = _fills("wd", "pwz0", "pzd0", "e1", "pwz1", "pzd1", "e2", "pwz2", "pzd2")

    # Opt r16 (guide §1.2/§2.4): the r15 form eagerly checkpointed all 10
    # staged tables — 11 serial driver-blocking jobs, each paying ~0.4 s of
    # fixed scheduling/AQE cost that dwarfed the tiny M-step tables (90 and
    # |D|x3 rows). Only tables with MULTIPLE consumers need a checkpoint to
    # beat WITH-inlining re-execution: tc (2 refs from wd), wd (4 refs:
    # pwz0/pzd0/e1/e2), e1/e2 (2 refs each: the two M-step reductions), and
    # pzd2 (2 refs in the report). Single-consumer tables (pwz0/pzd0/
    # pwz1/pzd1/pwz2) stay PLAIN frames — inlined once, zero extra
    # jobs. Each of the five ``localCheckpoint()`` calls is eager
    # (pyspark's default), so building the row runs them in order, each
    # materialized once and reused by every consumer (same arithmetic,
    # same rows; per-stage A/B 4.38 -> 2.64 s at sf0.1). Measured with
    # the status tracker on local[2]: 11 jobs while building at sf0.001
    # (10 on a warm session) and 3 more for the report's collect; 23 and
    # 7 at sf0.1.
    # Each template slot is filled with a ``{name}`` placeholder and the
    # frame itself is bound as that SQL parameter.
    tc = spark.sql(_TC_SPARK).localCheckpoint()
    wd = spark.sql(
        _WD_FROM_TC_TMPL.format(tc="{tc}", vocab=_VOCAB), tc=tc
    ).localCheckpoint()
    pwz = spark.sql(_PWZ0_TMPL.format(wd="{wd}", h=f["h"], e9=_E9), wd=wd)
    pzd = spark.sql(_PZD0_TMPL.format(wd="{wd}", third=f["third"]), wd=wd)
    for r in range(1, _ROUNDS + 1):
        e = spark.sql(
            _E_SPARK_TMPL.format(wd="{wd}", pwz="{pwz}", pzd="{pzd}", e9=_E9),
            wd=wd, pwz=pwz, pzd=pzd,
        ).localCheckpoint()
        pwz = spark.sql(_PWZ_TMPL.format(e="{e}", e9=_E9), e=e)
        pzd = spark.sql(_PZD_TMPL.format(e="{e}", e9=_E9), e=e)
        if r == _ROUNDS:
            pzd = pzd.localCheckpoint()
    return spark.sql(
        _REPORT_TMPL.format(pwz="{pwz}", pzd="{pzd}"), pwz=pwz, pzd=pzd
    )
