"""Distinct-count sketches: HyperLogLog and K-minimum-values, from scratch.

Spark ships approx_count_distinct (HLL++, seeded internally — registered as
the rows-only-bounded ``agg_approx_distinct``). These are the same sketches
REBUILT on deterministic md5-derived hashes, which buys the thing the
built-in can't give: the DuckDB oracle reconstructs the identical register
array / hash set and the ESTIMATES hash-verify exactly. Pedagogically they
are also the two classic designs (Flajolet et al. 2007 HLL; Bar-Yossef et
al. 2002 KMV) a metrics engine would ship to count uniques over 100 TB with
256 bytes of state per group.

Implementation note: the ENTIRE query is one SQL string valid in both Spark
SQL and DuckDB (md5 nibbles, bin()/length() for bit width, `CAST(1 AS
BIGINT) <<` for exact powers of two, ln() for the small-range correction),
run through spark.sql on one side and handed to DuckDB verbatim on the
other — one template, two engines, zero drift. The harmonic sum is kept as
an exact INTEGER (sum of 2^(25-rho) instead of sum of 2^-rho floats) so it
is addition-order-independent; the only float ops are two divisions and one
ln at the very end.

Plan shape at scale: one distinct (the exact baseline needs it anyway) ->
per-(group, bucket) max-aggregate -> 256-row-per-group re-aggregate. The
register table, not the value set, crosses the second shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes
from emr_with_custom_metrics_spark.registry import register

_HEX = "0123456789abcdef"


def _nib(k: str, i: int) -> str:
    return f"(instr('{_HEX}', substring({k}, {i}, 1)) - 1)"


def _md5key(seed: str, col: str) -> str:
    return f"md5(concat('{seed}|', CAST({col} AS STRING)))"


# 32-bit hash split nibble-wise: w = first 6 nibbles (24 bits), bucket =
# last 2 nibbles (8 bits, m = 256) — no division, no engine-specific idiv.
_K = _md5key("hll", "user_id")
_W = (
    f"({_nib(_K, 1)} * 1048576 + {_nib(_K, 2)} * 65536 + {_nib(_K, 3)} * 4096"
    f" + {_nib(_K, 4)} * 256 + {_nib(_K, 5)} * 16 + {_nib(_K, 6)})"
)
_BUCKET = f"({_nib(_K, 7)} * 16 + {_nib(_K, 8)})"
_H32 = f"(CAST({_W} AS BIGINT) * 256 + {_BUCKET})"

_SKETCH_SQL = f"""
    WITH base AS (
        SELECT DISTINCT event_type, user_id FROM events
    ), hashed AS (
        SELECT event_type,
               {_BUCKET} AS bucket,
               CASE WHEN {_W} = 0 THEN 25
                    ELSE 25 - LENGTH(BIN(CAST({_W} AS BIGINT))) END AS rho,
               {_H32} AS h32
        FROM base
    ), exact AS (
        SELECT event_type, COUNT(*) AS exact_distinct FROM base GROUP BY event_type
    ), regs AS (
        SELECT event_type, bucket, MAX(rho) AS rho
        FROM hashed GROUP BY event_type, bucket
    ), hll AS (
        SELECT event_type,
               SUM(CAST(1 AS BIGINT) << (25 - rho)) AS sum_present,
               COUNT(*) AS n_present
        FROM regs GROUP BY event_type
    ), hll_est AS (
        SELECT event_type,
               CASE
                 WHEN (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 33554432.0
                      / (sum_present + (256 - n_present) * 33554432.0) <= 640.0
                      AND n_present < 256
                 THEN 256.0 * LN(256.0 / (256 - n_present))
                 ELSE (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 33554432.0
                      / (sum_present + (256 - n_present) * 33554432.0)
               END AS est
        FROM hll
    ), kmv_ranked AS (
        SELECT event_type, h32,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h32) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n_hashes
        FROM (SELECT DISTINCT event_type, h32 FROM hashed)
    ), kmv AS (
        SELECT event_type,
               CASE WHEN n_hashes < 32 THEN CAST(n_hashes AS DOUBLE)
                    ELSE 31.0 * 4294967296.0 / (h32 + 1.0) END AS est
        FROM kmv_ranked
        WHERE rn = CASE WHEN n_hashes < 32 THEN n_hashes ELSE 32 END
    )
    SELECT e.event_type,
           e.exact_distinct,
           (CAST(ROUND((h.est) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS hll_est,
           (CAST(ROUND((ABS(h.est - e.exact_distinct) / e.exact_distinct) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
             AS hll_rel_err,
           (CAST(ROUND((k.est) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS kmv_est,
           (CAST(ROUND((ABS(k.est - e.exact_distinct) / e.exact_distinct) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE))
             AS kmv_rel_err
    FROM exact e
    JOIN hll_est h ON e.event_type = h.event_type
    JOIN kmv k ON e.event_type = k.event_type
"""


@register(
    "sketch_distinct_hll_kmv",
    oracle=_SKETCH_SQL,
    doc="HyperLogLog (m=256, with the small-range linear-counting "
    "correction) and KMV (k=32) distinct-user estimates per event_type, "
    "next to the exact count and relative errors — both sketches built "
    "from deterministic md5-derived 32-bit hashes so the oracle rebuilds "
    "byte-identical register arrays and the estimates hash-verify. "
    "Expected accuracy: HLL sigma = 1.04/sqrt(256) = 6.5%, KMV sigma = "
    "1/sqrt(30) = 18%; the quality test pins both.",
)
def sketch_distinct_hll_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    # Opt r15 (guide §2.4): `base` feeds hashed + exact and `hashed`
    # feeds regs + kmv — WITH-inlining re-ran the events scan +
    # DISTINCT (metric, user) shuffle three times. The md5
    # re-derivations run on the staged distinct-user rows.
    return stage_ctes(spark, _SKETCH_SQL, "base")


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (equi-depth per deterministic bucket)
# ---------------------------------------------------------------------------
_QK = _md5key("qsk", "k")
_QBUCKET = f"({_nib(_QK, 1)} * 2 + ({_nib(_QK, 2)} % 2))"  # 5 bits -> 32 buckets

_QSKETCH_SQL = f"""
    WITH base AS (
        SELECT l_extendedprice AS val,
               concat(CAST(l_orderkey AS STRING), '-',
                      CAST(l_linenumber AS STRING)) AS k
        FROM lineitem
    ), bucketed AS (
        SELECT val, k, {_QBUCKET} AS bucket FROM base
    ), tiled AS (
        SELECT bucket, val,
               NTILE(64) OVER (PARTITION BY bucket ORDER BY val, k) AS tile
        FROM bucketed
    ), summary AS (
        SELECT bucket, tile, MAX(val) AS point, COUNT(*) AS w
        FROM tiled GROUP BY bucket, tile
    ), tot AS (
        SELECT CAST(SUM(w) AS BIGINT) AS n, COUNT(*) AS n_summary FROM summary
    ), cum AS (
        SELECT point,
               SUM(w) OVER (ORDER BY point, bucket, tile
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw
        FROM summary
    ), qs AS (
        SELECT CAST(0.25 AS DOUBLE) AS q
        UNION ALL SELECT CAST(0.5 AS DOUBLE)
        UNION ALL SELECT CAST(0.75 AS DOUBLE)
        UNION ALL SELECT CAST(0.9 AS DOUBLE)
    )
    SELECT q,
           MIN(point) AS est,
           CAST((SELECT n FROM tot) AS BIGINT) AS n_values,
           CAST((SELECT n_summary FROM tot) AS BIGINT) AS n_summary_points
    FROM qs JOIN cum ON CAST(cw AS DOUBLE) >= q * (SELECT n FROM tot)
    GROUP BY q
"""


@register(
    "sketch_quantile_mergeable",
    oracle=_QSKETCH_SQL,
    doc="Mergeable QUANTILE sketch — the third classic sketch family next "
    "to count-min (frequency) and HLL/KMV (distinct): an equi-depth "
    "summary (64 order statistics + weights) built per DETERMINISTIC "
    "md5-derived bucket, then merged by weighted cumulative rank. Using "
    "hash buckets instead of physical partitions as the compaction unit "
    "is what makes the sketch layout-independent — the same property "
    "sample_deterministic establishes — so the whole estimate chain is "
    "hash-oracled (one SQL template, two engines, the HLL module's "
    "pattern), where Spark's own approx_percentile (layout-seeded "
    "KLL-ish) can only be rows-only-checked. Rank error is bounded by "
    "the per-bucket tile width (~n_b/64); measured error asserted in "
    "tests. Plan shape at 100 TB: one shuffle by bucket (32-way, "
    "rebalanceable by widening the bucket field), per-bucket sort of "
    "1/32 of the data, then a 2048-row summary re-aggregate — the "
    "summary, not the values, crosses the merge shuffle; per-group "
    "state is 64 points regardless of input size.",
)
def sketch_quantile_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    # Opt r15 (guide §2.4): `summary` is referenced by cum AND by the
    # three (SELECT ... FROM tot) scalar subqueries, so WITH-inlining
    # re-ran the full per-bucket NTILE sort pass per reference. Staged,
    # the sketch property is physical: only the 2048-row summary,
    # never the values, feeds the merge.
    return stage_ctes(spark, _QSKETCH_SQL, "summary")


# ---------------------------------------------------------------------------
# Theta-sketch set overlap (KMV intersection/union between two corpora)
# ---------------------------------------------------------------------------
# The fourth classic sketch operation: SET ALGEBRA on sketches. Two document
# halves (deterministic md5 split of doc_id — the train/eval contamination
# question) are each summarized as the k=64 smallest hash values of their
# 3-gram shingle sets; theta = min of the two kth-smallest hashes; matching
# retained hashes below theta estimate the overlap, the distinct union of
# retained hashes below theta estimates the union (Dasgupta et al., the
# Datasketches theta framework). Everything is exact integer arithmetic up
# to the two final ×2^32/theta divisions, so both engines replay the answer
# bit-for-bit. Only the shingle generator differs between dialects
# (sequence/element_at vs range/list indexing); the hash, sketch, and
# estimate text is byte-identical.

_TH_K = _md5key("th", "shingle")
_TH_H32 = (
    f"(CAST({_nib(_TH_K, 1)} AS BIGINT) * 268435456 + {_nib(_TH_K, 2)} * 16777216"
    f" + {_nib(_TH_K, 3)} * 1048576 + {_nib(_TH_K, 4)} * 65536"
    f" + {_nib(_TH_K, 5)} * 4096 + {_nib(_TH_K, 6)} * 256"
    f" + {_nib(_TH_K, 7)} * 16 + {_nib(_TH_K, 8)})"
)

_THETA_HALF = (
    "CASE WHEN (instr('0123456789abcdef', substring(md5(concat('theta|', "
    "CAST(doc_id AS STRING))), 1, 1)) - 1) < 8 THEN 'train' ELSE 'eval' END"
)

# Everything downstream of the per-half distinct shingle sets — shared
# verbatim by both dialects. Structured so `ds` is derived exactly TWICE
# (the exact presence-matrix pass and the sketch pass): Spark inlines
# WITH-chains per reference, so the first draft's six scalar subqueries
# each re-derived the full corpus scan (measured in the executed plan);
# every statistic now folds out of one aggregation per pass, and the
# sketch k-smallest is a WindowGroupLimit (rn <= 64 pushed into the
# shuffle) instead of per-half TakeOrdered branches.
_THETA_TAIL = f"""
    , sp AS (
        SELECT shingle,
               MAX(CASE WHEN half = 'train' THEN 1 ELSE 0 END) AS in_a,
               MAX(CASE WHEN half = 'eval' THEN 1 ELSE 0 END) AS in_b
        FROM ds GROUP BY shingle
    ), nh AS (
        SELECT CAST(SUM(in_a) AS BIGINT) AS n_train,
               CAST(SUM(in_b) AS BIGINT) AS n_eval,
               CAST(SUM(in_a * in_b) AS BIGINT) AS exact_overlap,
               CAST(COUNT(*) AS BIGINT) AS exact_union
        FROM sp
    ), hashed AS (
        SELECT half, {_TH_H32} AS h FROM ds
    ), dh AS (
        SELECT DISTINCT half, h FROM hashed
    ), ranked AS (
        SELECT half, h,
               ROW_NUMBER() OVER (PARTITION BY half ORDER BY h) AS rn
        FROM dh
    ), sk AS (
        SELECT half, h,
               CASE WHEN MAX(rn) OVER (PARTITION BY half) < 64
                    THEN CAST(4294967296 AS BIGINT)
                    ELSE CAST(MAX(h) OVER (PARTITION BY half) AS BIGINT)
                    END AS theta_half
        FROM ranked WHERE rn <= 64
    ), sk2 AS (
        SELECT half, h, CAST(MIN(theta_half) OVER () AS BIGINT) AS theta
        FROM sk
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS union_below,
               CAST(SUM(CASE WHEN nhalves = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS matches,
               CAST(MAX(theta) AS BIGINT) AS theta
        FROM (SELECT h, theta, COUNT(DISTINCT half) AS nhalves
              FROM sk2 WHERE h < theta GROUP BY h, theta) per_h
    ), est AS (
        SELECT nh.n_train, nh.n_eval, nh.exact_overlap, nh.exact_union,
               a.theta, a.matches, a.union_below,
               CAST(ROUND(a.matches * CAST(4294967296 AS DOUBLE) / a.theta)
                   AS BIGINT) AS est_overlap,
               CAST(ROUND(a.union_below * CAST(4294967296 AS DOUBLE)
                          / a.theta) AS BIGINT) AS est_union,
               CASE WHEN a.union_below = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(ROUND(CAST(a.matches AS DOUBLE)
                              / a.union_below * 1000000) AS BIGINT) END
                   AS est_jaccard_e6
        FROM nh CROSS JOIN agg a
    )
    SELECT n_train, n_eval, exact_overlap, exact_union, theta, matches,
           union_below, est_overlap, est_union, est_jaccard_e6,
           ABS(est_union - exact_union) * 100 <= 65 * exact_union
               AS within_bounds
    FROM est
"""

_THETA_SPARK = f"""
    WITH docs AS (
        SELECT doc_id, {_THETA_HALF} AS half, split(text, ' ') AS toks
        FROM documents
    ), sh AS (
        SELECT half,
               explode(transform(sequence(1, size(toks) - 2),
                   i -> concat(element_at(toks, i), ' ',
                               element_at(toks, i + 1), ' ',
                               element_at(toks, i + 2)))) AS shingle
        FROM docs WHERE size(toks) >= 3
    ), ds AS (
        SELECT DISTINCT half, shingle FROM sh
    )
{_THETA_TAIL}
"""

_THETA_DUCK = f"""
    WITH docs AS (
        SELECT doc_id, {_THETA_HALF} AS half,
               string_split(text, ' ') AS toks
        FROM documents
    ), sh AS (
        SELECT half,
               UNNEST(list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1] || ' '
                        || toks[i + 2])) AS shingle
        FROM docs WHERE len(toks) >= 3
    ), ds AS (
        SELECT DISTINCT half, shingle FROM sh
    )
{_THETA_TAIL}
"""


@register(
    "sketch_theta_overlap",
    oracle=_THETA_DUCK,
    doc="Theta-sketch set algebra — the contamination-rate estimator: the "
    "corpus splits into train/eval halves by an md5 nibble of doc_id, "
    "each half's 3-gram shingle set is sketched as its k=64 smallest "
    "md5-derived 32-bit hash values, and theta = min(theta_A, theta_B) "
    "scopes both sketches to a common sample of the hash space; matches "
    "below theta estimate |A∩B|, distinct retained hashes below theta "
    "estimate |A∪B| (the Datasketches theta framework). Exact "
    "overlap/union computed alongside; within_bounds pins the union "
    "estimate at 5x the k=64 rsd (~13%). The per-half k-smallest is a "
    "rank-limit window — Spark pushes rn <= 64 into the shuffle as "
    "WindowGroupLimit (bounded per-partition state), so at 100 TB the "
    "shuffle carries candidate hashes, never shingle sets; all exact "
    "baselines fold out of ONE presence-matrix aggregation (the first "
    "draft's six scalar subqueries each re-derived the corpus scan — "
    "Spark inlines WITH-chains per reference).",
)
def sketch_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("documents",))
    return spark.sql(_THETA_SPARK)
