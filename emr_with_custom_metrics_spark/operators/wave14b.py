"""Round-14 wave 14b: graph topology profile and cross-series
frequency-domain dependence.

* ``graph_rich_club`` — the rich-club connectivity profile phi(k) =
  2*E_k / (N_k (N_k - 1)) over the MUTUAL top-16 cosine graph (the
  wave-13b bounded-degree construction, shared via
  ``wave13b.mutual_topk_edges``): among nodes of degree >= k, what
  fraction of possible edges exist? A rising phi(k) says the most-
  connected documents (template hubs, boilerplate families) link to
  EACH OTHER — topology none of the per-node (k-core) or per-edge
  (k-truss) rows expose (Colizza et al. 2006).
* ``timeseries_cross_coherence`` — magnitude-squared coherence at the
  24-hour band between every metric pair: per-day Fourier
  coefficients at period 24 from pinned e9-quantized cos/sin tables
  (one VALUES literal shared by both engine texts), then
  |avg cross-spectrum|^2 / (avg power_x * avg power_y) across days —
  Welch-style day-segment averaging. Near-1 coherence says two
  metrics share one diurnal driver (phase-locked); the periodogram
  row sees each metric's cycle but not whether cycles are the SAME
  cycle.

House discipline: day coefficients are exact integer dot products of
counts with pinned trig literals (one e9 scale); per-day spectral
products run one fixed double DAG and quantize e6 before the exact
integer day-sum; rich-club ratios are exact integer counts with one
e9 epilogue; degenerate thresholds/denominators emit flagged rows.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.wave13b import (
    _KTRUSS_MUTUAL_SQL,
    mutual_topk_edges,
)
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Rich-club profile
# ---------------------------------------------------------------------------
_RC_KS = (2, 4, 6, 8, 10, 12, 14, 16)

_RC_ORACLE = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    {_KTRUSS_MUTUAL_SQL},
    deg AS MATERIALIZED (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (
            SELECT a_id AS node FROM edges0
            UNION ALL SELECT b_id FROM edges0) z
        GROUP BY node
    ), ks AS (
        SELECT UNNEST([{', '.join(str(k) for k in _RC_KS)}]) AS k
    ), nk AS (
        SELECT ks.k, CAST(COUNT(deg.node) AS BIGINT) AS n_k
        FROM ks LEFT JOIN deg ON deg.d >= ks.k
        GROUP BY ks.k
    ), ek AS (
        SELECT ks.k, CAST(COUNT(ed.a_id) AS BIGINT) AS e_k
        FROM ks LEFT JOIN (
            SELECT ed.a_id, ed.b_id, da.d AS dda, db.d AS ddb
            FROM edges0 ed
            JOIN deg da ON da.node = ed.a_id
            JOIN deg db ON db.node = ed.b_id) ed
          ON ed.dda >= ks.k AND ed.ddb >= ks.k
        GROUP BY ks.k
    )
    SELECT n.k, n.n_k AS n_nodes, e.e_k AS n_edges,
           CASE WHEN n.n_k >= 2
                THEN CAST(ROUND(2.0e0 * e.e_k
                     / (CAST(n.n_k AS DOUBLE) * (n.n_k - 1))
                     * 1000000000) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS phi_e9,
           n.n_k < 2 AS degenerate
    FROM nk n JOIN ek e ON e.k = n.k
"""


@register(
    "graph_rich_club",
    oracle=_RC_ORACLE,
    doc="Rich-club connectivity profile phi(k) = 2 E_k / (N_k(N_k-1)) "
    "for k in {2..16 step 2} over the MUTUAL top-16 cosine graph "
    "(the wave-13b bounded-degree construction, degree <= 16 by "
    "mutual-kNN — shared builder, shared pair memo): among documents "
    "whose similarity degree is at least k, the realized fraction of "
    "possible edges. Rising phi(k) = the best-connected documents "
    "cluster with EACH OTHER (template/boilerplate families) — a "
    "topology readout neither k-core (node peeling) nor k-truss "
    "(edge cohesion) gives (Colizza 2006). Exact integer node/edge "
    "counts per threshold (one degree aggregate + one threshold-"
    "grid join against the 8-row k table), one e9 division each; "
    "thresholds with fewer than 2 qualifying nodes emit degenerate-"
    "flagged rows. Degree <= 16 bounds every join at any corpus "
    "size.",
)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = mutual_topk_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("a_id").alias("node"))
        .unionByName(edges.select(F.col("b_id").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("d"))
    )
    ks = spark.range(1).select(
        F.explode(F.array(*[F.lit(k) for k in _RC_KS])).alias("k")
    )
    nk = (
        ks.join(deg, deg["d"] >= ks["k"], "left")
        .groupBy("k")
        .agg(F.count(F.col("node")).cast("bigint").alias("n_k"))
    )
    ed = (
        edges.join(
            deg.select(F.col("node").alias("na"), F.col("d").alias("dda")),
            F.col("na") == F.col("a_id"),
        )
        .join(
            deg.select(F.col("node").alias("nb"), F.col("d").alias("ddb")),
            F.col("nb") == F.col("b_id"),
        )
        .select("a_id", "dda", "ddb")
    )
    ek = (
        ks.join(
            ed,
            (ed["dda"] >= ks["k"]) & (ed["ddb"] >= ks["k"]),
            "left",
        )
        .groupBy("k")
        .agg(F.count(F.col("a_id")).cast("bigint").alias("e_k"))
    )
    return (
        nk.join(ek, "k")
        .select(
            F.col("k").cast("bigint").alias("k"),
            F.col("n_k").alias("n_nodes"),
            F.col("e_k").alias("n_edges"),
            F.when(
                F.col("n_k") >= 2,
                F.round(
                    2.0
                    * F.col("e_k")
                    / (F.col("n_k").cast("double") * (F.col("n_k") - 1))
                    * 1_000_000_000
                ).cast("bigint"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("phi_e9"),
            (F.col("n_k") < 2).alias("degenerate"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-spectral coherence at the 24 h band
# ---------------------------------------------------------------------------
# cos/sin at the 24 hour-of-day phases, e9-quantized ONCE here so both
# engine texts embed identical literals (the HMM pinned-constant
# pattern).
_TRIG_ROWS = ", ".join(
    f"({h}, {round(math.cos(2 * math.pi * h / 24) * 1e9)}, "
    f"{round(math.sin(2 * math.pi * h / 24) * 1e9)})"
    for h in range(24)
)

_COH_TMPL = """
    WITH cellraw AS (
        -- integer MICROSECONDS (DuckDB's // on epoch()'s double is
        -- plain division, not floor — the round-14 rule)
        SELECT event_type,
               CAST({d.epoch_us} {d.intdiv} 86400000000 AS BIGINT) AS day,
               CAST(({d.epoch_us} {d.intdiv} 3600000000) % 24 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2, 3
    ), trig AS (
        SELECT * FROM {values_head} t(h, c_e9, s_e9)
    ), coefs AS (
        -- per-(metric, day) Fourier coefficient at period 24: exact
        -- integer dot product of hourly counts with the pinned trig
        -- literals (cnt * 1e9 summed over <= 24 hours — inside int64
        -- through cnt ~ 3.8e8 per metric-day-hour, documented bound)
        SELECT event_type, day,
               CAST(SUM(cnt * t.c_e9) AS BIGINT) AS xc,
               CAST(SUM(cnt * t.s_e9) AS BIGINT) AS xs
        FROM cellraw c JOIN trig t ON t.h = c.h
        GROUP BY event_type, day
    ), dayspan AS (
        SELECT MIN(day) AS dmin, MAX(day) AS dmax FROM cellraw
    ), dense AS (
        -- dense (metric, day) grid: a zero-event day has coefficient
        -- 0 and must enter the averages, not silently drop
        SELECT m.event_type, g.day,
               COALESCE(c.xc, 0) / 1000000000.0e0 AS xc,
               COALESCE(c.xs, 0) / 1000000000.0e0 AS xs
        FROM (SELECT DISTINCT event_type FROM cellraw) m
        CROSS JOIN (SELECT {day_series} AS day FROM dayspan b) g
        LEFT JOIN coefs c
          ON c.event_type = m.event_type AND c.day = g.day
    ), pairterms AS (
        -- e6-quantized per-day spectral products: exact BIGINTs while
        -- the day amplitude stays under 2.1e6 counts — the worst
        -- per-day term is 2 * (2.1e6)^2 * 1e6 = 8.82e18 < 2^63, so
        -- EVERY per-day product fits int64 exactly (r13 ADVICE: the
        -- old 3e6 bound let (xc*xc+xs*xs)*1e6 reach 1.8e19 and the
        -- failure surfaced as a cast overflow, not the guard). The
        -- guard below raises LOUDLY past the budget instead of
        -- overflowing silently (the spine-budget idiom — rescale the
        -- quantization if a corpus ever trips it). Day-SUMS accumulate
        -- in DECIMAL(38,0) (spec0 below) so no calendar length can
        -- overflow OR order-perturb the aggregate.
        SELECT a.event_type AS ma, b.event_type AS mb,
               CAST(ROUND((a.xc * b.xc + a.xs * b.xs) * 1000000)
                    AS BIGINT) AS re_e6,
               CAST(ROUND((a.xs * b.xc - a.xc * b.xs) * 1000000)
                    AS BIGINT) AS im_e6,
               CAST(ROUND((a.xc * a.xc + a.xs * a.xs) * 1000000)
                    AS BIGINT) AS pa_e6,
               CAST(ROUND((b.xc * b.xc + b.xs * b.xs) * 1000000)
                    AS BIGINT) AS pb_e6,
               {amp_guard} AS amp_ok
        FROM dense a JOIN dense b
          ON b.day = a.day AND a.event_type < b.event_type
    ), spec0 AS (
        -- day-sums accumulate in DECIMAL(38,0): per-day terms reach
        -- 8.82e18 >> 2^53, so a DOUBLE sum would be partial-aggregate-
        -- order-dependent in its last ulp (r14 ADVICE — the same
        -- nondeterminism class the AR(2) retrofit killed). DECIMAL
        -- sums are exact and order-free in BOTH engines; one DOUBLE
        -- conversion happens below, after the sum.
        SELECT ma, mb,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               SUM(CAST(re_e6 AS DECIMAL(38,0))) AS sre_x,
               SUM(CAST(im_e6 AS DECIMAL(38,0))) AS sim_x,
               SUM(CAST(pa_e6 AS DECIMAL(38,0))) AS saa_x,
               SUM(CAST(pb_e6 AS DECIMAL(38,0))) AS sbb_x
        FROM pairterms WHERE amp_ok GROUP BY ma, mb
    ), spec AS (
        SELECT ma, mb, n_days,
               CAST(sre_x AS DOUBLE) AS sre,
               CAST(sim_x AS DOUBLE) AS sim,
               CAST(saa_x AS DOUBLE) AS saa,
               CAST(sbb_x AS DOUBLE) AS sbb
        FROM spec0
    )
    SELECT ma, mb, n_days,
           CASE WHEN saa > 0 AND sbb > 0
                THEN CAST(ROUND((sre * sre + sim * sim)
                     / (saa * sbb) * 1000000000)
                     AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS coherence_e9,
           CAST(ROUND(saa / n_days / 1000000)
                AS BIGINT) AS power_a_e0,
           CAST(ROUND(sbb / n_days / 1000000)
                AS BIGINT) AS power_b_e0,
           saa = 0 OR sbb = 0 AS degenerate
    FROM spec
"""


_COH_AMP_MSG = (
    "cross-coherence day amplitude exceeds the e6 quantization "
    "budget (2.1e6 counts) — rescale the spectral quantization"
)
# 2.1e6 derived from the int64 budget: the largest per-day term is
# 2 * amp^2 * 1e6, and 2 * (2.1e6)^2 * 1e6 = 8.82e18 < 2^63-1 = 9.22e18.
_COH_AMP_COND = (
    "greatest(abs(a.xc), abs(a.xs), abs(b.xc), abs(b.xs)) <= 2100000.0e0"
)


def _coh_amp_guard(d: Dialect) -> str:
    return d.guard(_COH_AMP_COND, _COH_AMP_MSG)


def _coh_sql(d: Dialect) -> str:
    return _COH_TMPL.format(
        d=d,
        values_head=f"(VALUES {_TRIG_ROWS})" + (" AS" if d is SPARK else ""),
        day_series=d.series("b.dmin", "b.dmax"),
        amp_guard=_coh_amp_guard(d),
    )


@register(
    "timeseries_cross_coherence",
    oracle=_coh_sql(DUCK),
    doc="Magnitude-squared coherence at the 24-hour band between every "
    "metric pair: per-(metric, day) Fourier coefficients at period 24 "
    "as exact integer dot products of hourly counts with PINNED "
    "e9-quantized cos/sin literals (computed once in Python, embedded "
    "in both engine texts — the HMM constant discipline), then "
    "Welch-style averaging across day segments on the dense day grid "
    "(zero-event days contribute zero coefficients, not dropped "
    "rows): coherence = |sum cross|^2 / (sum power_a * sum power_b), "
    "in [0,1]. Near 1 = the two metrics' diurnal cycles are phase-"
    "locked to one shared driver — the CROSS-series question the "
    "per-metric periodogram cannot answer. Per-day spectral products "
    "run one fixed double DAG quantized e6 (exact int64 per day under "
    "the guarded 2.1e6 amplitude budget) before exact order-free "
    "DECIMAL(38,0) day-sums (r14 ADVICE); one "
    "(metric, day, hour) map-side reduction is the "
    "only data-sized stage; everything after is calendar x pairs.",
)
def timeseries_cross_coherence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_coh_sql(SPARK))
