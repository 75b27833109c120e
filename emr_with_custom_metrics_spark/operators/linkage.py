"""Probabilistic record linkage: Fellegi-Sunter with learned m/u weights.

The reference has no entity-resolution surface (its 30-line core is an
ETL job, reference scripts/spark_converter.py:25-31), but every
large-scale data platform meets the "same real-world entity, two dirty
records" problem — CRM dedup, cross-source identity stitching, training
-corpus author/source reconciliation. The canonical model is
Fellegi-Sunter (JASA 1969): per-field agreement indicators, match/
non-match conditional probabilities m and u, and a pair score that sums
log2(m/u) over agreeing fields and log2((1-m)/(1-u)) over disagreeing
ones, thresholded into match / possible / non-match bands.

This query builds the classic A-vs-B linkage benchmark shape entirely
in-engine: B is a deterministically DIRTIED copy of the customer table
(md5-driven: ~10% of segments flipped to a different segment, account
balances jittered by up to +/-$10, ~20% of names get a one-character
deletion), so ground truth (a_key = b_key) is known and the m/u
probabilities are ESTIMATED FROM THE PAIR UNIVERSE itself — the same
supervised-estimation shortcut production systems use with clerical
labels, here with exact integer counts.

Scale posture: candidate generation is a BLOCKED join — a pure EQUI
join on (nation, $2,000-balance-band), with the B side replicated to
its +/-1 neighbor bands (sorted-neighborhood; the geo.py 3x3 trick in
1-D) so no range predicate survives into the join. Pair count is
bounded by block density, never O(n^2); at 100 TB (nation, band) is
the shuffle key and each block links independently. Only candidates
pay the levenshtein arithmetic, and the input is FANNED
(catalog.load_fanned) because customer arrives as one parquet file and
the broadcast join would otherwise evaluate every pair in the stream
side's 1-2 scan tasks — measured 37 s single-threaded vs 3.6 s fanned
at sf0.1 (the BETWEEN form was 15.5 s; both r9 sweep addenda). The
pair table is staged behind a localCheckpoint on the Spark side
because the tail references it twice (once to learn weights, once to
score) and Spark inlines WITH-chains per reference; DuckDB
materializes the same CTE via MATERIALIZED.

Cross-engine exactness: agreements are integer indicators (Spark and
DuckDB levenshtein are the same exact DP); m/u are exact rationals from
integer counts with add-half smoothing; the only transcendental is the
final LN, quantized to 1e-4 bits immediately (the Zipf/LLR precedent —
quantize after ln, never sum raw lns).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import load_fanned
from emr_with_custom_metrics_spark.registry import register

_HEX = "0123456789abcdef"


def _h16(seed: str, key: str) -> str:
    """Deterministic 0..65535 from md5 nibbles — valid in Spark AND DuckDB
    (the geo.py / count-min shared-template scheme)."""
    k = f"md5(concat('{seed}|', CAST({key} AS STRING)))"
    return (
        f"((instr('{_HEX}', substring({k}, 1, 1)) - 1) * 4096"
        f" + (instr('{_HEX}', substring({k}, 2, 1)) - 1) * 256"
        f" + (instr('{_HEX}', substring({k}, 3, 1)) - 1) * 16"
        f" + (instr('{_HEX}', substring({k}, 4, 1)) - 1))"
    )


# Balance band width in cents: the sorted-neighborhood blocking key.
# Round 10 — DENSITY-ADAPTIVE: blocked linkage is quadratic in block
# occupancy, so a fixed $2,000 band that is comfortable at 15k
# customers produces 100x the pairs at 150k (the x10 inflation probe
# OOM'd a 24 GB driver on exactly this). Target ~constant occupancy by
# shrinking the band with 1/n (balances span ~1.1e6 cents over 25
# nations -> 6.6e8/n keeps ~24 rows/block), floored at 2x the 1,000-
# cent jitter so a true pair still crosses at most one band edge (the
# +/-1 replication stays provably lossless), and capped at the
# original $2,000 so SMALL corpora (n <= 3300, incl. the sf0.01
# correctness gate) produce byte-identical answers to rounds 9-10.
_BAND_EXPR = (
    "GREATEST(2000, LEAST(200000, "
    "CAST(FLOOR(660000000.0e0 / (SELECT COUNT(*) FROM {tbl})) AS BIGINT)))"
)

_SEGS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_SEG_IDX = (
    "CASE c_mktsegment "
    + " ".join(f"WHEN '{s}' THEN {i}" for i, s in enumerate(_SEGS))
    + " END"
)


def _seg_of(idx_expr: str) -> str:
    return (
        f"CASE ({idx_expr}) "
        + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_SEGS))
        + " END"
    )


# A-side: clean records. B-side: the dirtied copy. Both derive from one
# scan of customer; every perturbation is an exact-integer function of
# md5 nibbles so the two engines build byte-identical B tables.
_PAIRS_SQL = f"""
    SELECT a.c_custkey AS a_key, b.b_key,
           CASE WHEN a.c_mktsegment = b.b_seg THEN 1 ELSE 0 END AS ag_seg,
           CASE WHEN ABS(a.cents - b.b_cents) <= 1000 THEN 1 ELSE 0 END AS ag_bal,
           CASE WHEN levenshtein(a.c_name, b.b_name) <= 1 THEN 1 ELSE 0 END AS ag_name,
           CASE WHEN a.c_custkey = b.b_key THEN 1 ELSE 0 END AS is_true
    FROM (
        SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT) AS cents,
               CAST(FLOOR(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                          / CAST({_BAND_EXPR} AS DOUBLE)) AS BIGINT) AS band
        FROM {{tbl}}
    ) a
    JOIN (
        -- B replicates to its own band and both neighbors (the geo.py
        -- 3x3-neighborhood trick in 1-D), so the +/-1 band predicate
        -- becomes a pure EQUI key (nation, band): a.band = b.cb covers
        -- exactly b.band-1..b.band+1 — the identical candidate set the
        -- original BETWEEN produced, but as a hash join on ~175 keys
        -- instead of a 25-key join with a residual range filter
        -- (measured 15.5 s -> see SCALING.md at sf0.1).
        SELECT b0.*, CAST(FLOOR(b0.b_cents
                                / CAST({_BAND_EXPR} AS DOUBLE)) AS BIGINT)
                     + o.db AS cb
        FROM (
            SELECT c_custkey AS b_key, c_nationkey AS b_nation,
                   CASE WHEN ({_h16("seg", "c_custkey")} % 10) = 0
                        THEN {_seg_of(f"(({_SEG_IDX}) + 1 + ({_h16('segpick', 'c_custkey')} % 4)) % 5")}
                        ELSE c_mktsegment END AS b_seg,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT)
                       + ({_h16("bal", "c_custkey")} % 2001) - 1000 AS b_cents,
                   CASE WHEN ({_h16("name", "c_custkey")} % 5) = 0
                        THEN concat(substring(c_name, 1, 9), substring(c_name, 11))
                        ELSE c_name END AS b_name
            FROM {{tbl}}
        ) b0
        CROSS JOIN (SELECT * FROM (VALUES (-1), (0), (1)) AS t(db)) o
    ) b
      ON a.c_nationkey = b.b_nation AND a.band = b.cb
"""

# Weight learning + scoring tail over the staged pair table. Add-half
# smoothing keeps every m/u a strictly-interior exact rational; the lone
# LN is quantized to 1e-4 "bits" immediately. Decision thresholds: match
# at >= 2 bits total, non-match below 0.
_FS_TAIL = """
    , c AS (
        SELECT CAST(SUM(is_true) AS BIGINT) AS nt,
               CAST(SUM(1 - is_true) AS BIGINT) AS nf,
               CAST(SUM(CASE WHEN is_true = 1 THEN ag_seg ELSE 0 END) AS BIGINT) AS mt_seg,
               CAST(SUM(CASE WHEN is_true = 0 THEN ag_seg ELSE 0 END) AS BIGINT) AS uf_seg,
               CAST(SUM(CASE WHEN is_true = 1 THEN ag_bal ELSE 0 END) AS BIGINT) AS mt_bal,
               CAST(SUM(CASE WHEN is_true = 0 THEN ag_bal ELSE 0 END) AS BIGINT) AS uf_bal,
               CAST(SUM(CASE WHEN is_true = 1 THEN ag_name ELSE 0 END) AS BIGINT) AS mt_name,
               CAST(SUM(CASE WHEN is_true = 0 THEN ag_name ELSE 0 END) AS BIGINT) AS uf_name
        FROM pairs
    ), w AS (
        SELECT
          CAST(ROUND(LN(((mt_seg + 0.5e0) / (nt + 1.0e0)) / ((uf_seg + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wa_seg,
          CAST(ROUND(LN((1.0e0 - (mt_seg + 0.5e0) / (nt + 1.0e0)) / (1.0e0 - (uf_seg + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wd_seg,
          CAST(ROUND(LN(((mt_bal + 0.5e0) / (nt + 1.0e0)) / ((uf_bal + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wa_bal,
          CAST(ROUND(LN((1.0e0 - (mt_bal + 0.5e0) / (nt + 1.0e0)) / (1.0e0 - (uf_bal + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wd_bal,
          CAST(ROUND(LN(((mt_name + 0.5e0) / (nt + 1.0e0)) / ((uf_name + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wa_name,
          CAST(ROUND(LN((1.0e0 - (mt_name + 0.5e0) / (nt + 1.0e0)) / (1.0e0 - (uf_name + 0.5e0) / (nf + 1.0e0))) / LN(2) * 10000) AS BIGINT) AS wd_name
        FROM c
    ), scored AS (
        SELECT p.is_true,
               (CASE WHEN p.ag_seg = 1 THEN w.wa_seg ELSE w.wd_seg END
              + CASE WHEN p.ag_bal = 1 THEN w.wa_bal ELSE w.wd_bal END
              + CASE WHEN p.ag_name = 1 THEN w.wa_name ELSE w.wd_name END)
                   AS score_e4,
               w.wa_seg, w.wd_seg, w.wa_bal, w.wd_bal, w.wa_name, w.wd_name
        FROM pairs p CROSS JOIN w
    )
    SELECT CASE WHEN score_e4 >= 20000 THEN 'match'
                WHEN score_e4 >= 0 THEN 'possible'
                ELSE 'non_match' END AS decision,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(is_true) AS BIGINT) AS n_true,
           CAST(MIN(score_e4) AS BIGINT) AS min_score_e4,
           CAST(MAX(score_e4) AS BIGINT) AS max_score_e4,
           CAST(MIN(wa_seg) AS BIGINT) AS wa_seg,
           CAST(MIN(wa_bal) AS BIGINT) AS wa_bal,
           CAST(MIN(wa_name) AS BIGINT) AS wa_name
    FROM scored
    GROUP BY CASE WHEN score_e4 >= 20000 THEN 'match'
                  WHEN score_e4 >= 0 THEN 'possible'
                  ELSE 'non_match' END
"""

_FS_ORACLE = ("WITH pairs AS MATERIALIZED ("
              + _PAIRS_SQL.format(tbl="customer") + ")" + _FS_TAIL)
_FS_SPARK_TAIL = "WITH pairs AS (SELECT * FROM {pairs})" + _FS_TAIL


@register(
    "linkage_fellegi_sunter",
    oracle=_FS_ORACLE,
    doc="Fellegi-Sunter probabilistic record linkage (JASA 1969) of the "
    "customer table against a deterministically dirtied copy of itself "
    "(md5-driven segment flips, balance jitter, name typos — ground "
    "truth known by construction): blocked candidate join (nation equi "
    "+ +/-1 band on a $2,000 balance band — sorted-neighborhood, never "
    "O(n^2)), per-field agreement indicators (exact levenshtein<=1 on "
    "names), m/u probabilities learned from the pair universe as exact "
    "integer counts with add-half smoothing, pair score = sum of "
    "quantized log2(m/u) field weights, banded match/possible/non_match. "
    "Pairs staged behind a localCheckpoint (referenced twice: learn + "
    "score); the lone LN quantizes to 1e-4 bits immediately. At 100 TB "
    "the block key is the shuffle key; blocks link independently.",
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FANNED input view (catalog.load_fanned): customer is one parquet
    # file, and the pair join broadcasts the small side — without the
    # fan-out, ALL pair generation + levenshtein runs in the stream
    # side's 1-2 scan tasks (measured 37 s single-threaded vs ~4 s
    # fanned at sf0.1). Bound as a parameter, so the shared `customer`
    # view other queries register stays untouched.
    pairs = spark.sql(
        _PAIRS_SQL.format(tbl="{customer}"),
        customer=load_fanned(spark, sf_dir, "customer"),
    ).localCheckpoint()
    return spark.sql(_FS_SPARK_TAIL, pairs=pairs)
