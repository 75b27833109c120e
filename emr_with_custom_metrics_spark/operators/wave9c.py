"""Round-9 wave 8c: multiple-testing correction + layout planning.

Split into its own module so the additions could land without touching
the registry mid-benchmark (each bench leg is a fresh process importing
current code — the round-9 sweep froze at 344 rows); the registry
discovers it like every other module of the package.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from emr_with_custom_metrics_spark.catalog import register_views
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.operators.stats import _ARM
from emr_with_custom_metrics_spark.plans import stage_memo
from emr_with_custom_metrics_spark.registry import register


# ---------------------------------------------------------------------------
# Multiple-testing correction: Benjamini-Hochberg FDR (step-up)
# ---------------------------------------------------------------------------
# A metrics platform runs MANY tests per readout (one per metric here);
# without correction the family-wise false-positive rate balloons. BH
# (JRSS-B 1995) controls the false discovery rate: sort p ascending,
# find the largest k with p_(k) <= (k/m) * alpha, reject 1..k. The
# decision rule is implemented as an EXACT INTEGER comparison
# (p_e9 * m <= rank * alpha_e9) — no float enters the reject/accept
# boundary. p-values come from the same Welch-t integer-moment template
# as stats_ab_ttest, mapped through the Zelen-Severo 26.2.17 normal-CDF
# polynomial (|err| < 7.5e-8, pure +-*/ and one EXP — identical IEEE
# DAG on both engines, quantized to 1e-9 immediately; every fractional
# literal carries the e0 DOUBLE suffix per the round-9 decimal-literal
# lesson).

_BH_ALPHA_E9 = 50_000_000  # alpha = 0.05 in 1e-9 units

# The base..pv chain every multiple-testing row starts from (BH here,
# Fisher + BY in wave11f, Holm in wave12a, Storey in wave13a), so the
# five pipelines cannot drift apart.
WELCH_PV_CTES = f"""
    WITH base AS (
        SELECT event_type,
               {_ARM} AS arm,
               CAST(ROUND(value * 1000) AS BIGINT) AS v_e3
        FROM events
    ), arms AS (
        SELECT event_type, arm,
               COUNT(*) AS n,
               CAST(SUM(v_e3) AS BIGINT) AS s1,
               CAST(SUM(v_e3 * v_e3) AS BIGINT) AS s2
        FROM base GROUP BY event_type, arm
    ), stats AS (
        SELECT a.event_type,
               a.n AS n_a, b.n AS n_b,
               (CAST(a.s1 AS DOUBLE) / a.n) / CAST(1000 AS DOUBLE) AS mean_a,
               (CAST(b.s1 AS DOUBLE) / b.n) / CAST(1000 AS DOUBLE) AS mean_b,
               ((CAST(a.s2 AS DOUBLE) - CAST(a.s1 AS DOUBLE) * a.s1 / a.n)
                   / (a.n - 1)) / CAST(1000000 AS DOUBLE) AS var_a,
               ((CAST(b.s2 AS DOUBLE) - CAST(b.s1 AS DOUBLE) * b.s1 / b.n)
                   / (b.n - 1)) / CAST(1000000 AS DOUBLE) AS var_b
        FROM arms a JOIN arms b ON a.event_type = b.event_type
        WHERE a.arm = 'A' AND b.arm = 'B' AND a.n > 1 AND b.n > 1
    ), zt AS (
        SELECT event_type,
               CASE WHEN (var_a / n_a + var_b / n_b) > 0
                    THEN ABS((mean_a - mean_b)
                             / sqrt(var_a / n_a + var_b / n_b))
                    ELSE 0.0e0 END AS az
        FROM stats
    ), pv AS (
        SELECT event_type,
               CAST(ROUND(az * 1000000) AS BIGINT) AS abs_z_e6,
               CAST(ROUND(
                   2.0e0 * (EXP(-(az * az) / 2.0e0) / 2.5066282746310002e0)
                   * (0.319381530e0 * (1.0e0 / (1.0e0 + 0.2316419e0 * az))
                    - 0.356563782e0 * POWER(1.0e0 / (1.0e0 + 0.2316419e0 * az), 2)
                    + 1.781477937e0 * POWER(1.0e0 / (1.0e0 + 0.2316419e0 * az), 3)
                    - 1.821255978e0 * POWER(1.0e0 / (1.0e0 + 0.2316419e0 * az), 4)
                    + 1.330274429e0 * POWER(1.0e0 / (1.0e0 + 0.2316419e0 * az), 5))
                   * 1000000000) AS BIGINT) AS p_e9
        FROM zt
    )"""

_FDR_SQL = WELCH_PV_CTES + f""", ranked AS (
        SELECT event_type, abs_z_e6, p_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY p_e9, event_type) AS BIGINT)
                   AS rnk,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ), kmax AS (
        SELECT COALESCE(MAX(CASE WHEN p_e9 * m <= rnk * {_BH_ALPHA_E9}
                                 THEN rnk END), CAST(0 AS BIGINT)) AS k
        FROM ranked
    )
    SELECT r.event_type, r.abs_z_e6, r.p_e9, r.rnk, r.m,
           CAST(ROUND(CAST(r.rnk AS DOUBLE) * {_BH_ALPHA_E9} / r.m)
               AS BIGINT) AS bh_crit_e9,
           r.rnk <= k.k AS rejected
    FROM ranked r CROSS JOIN kmax k
"""


# ---------------------------------------------------------------------------
# Staged Welch-pv relation (r12 VERDICT item 4)
# ---------------------------------------------------------------------------
# FIVE registered queries (BH here, Fisher + BY in wave11f, Holm in
# wave12a, Storey in wave13a) share the base..pv prefix, and each
# Spark-side run was re-scanning events and recomputing the per-row
# _ARM md5 — the linear-CPU stage the r12 decade probe measured at 8x
# on stats_storey_qvalue. The pv relation is MODEL-sized (one row per
# metric) and a pure deterministic function of sf_dir, so the Spark
# runtimes consume it from an eager localCheckpoint staged once per
# (session, sf_dir) by plans/stage_memo.staged and handed to their SQL
# as the ``pv`` parameter. Oracles keep the full inline text; the
# staged and inline forms are proven frame-identical in
# tests/test_advice_r13.py::test_welch_pv_staged_equals_inline.

def stage_welch_pv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The staged Welch-pv relation for ``sf_dir`` (event_type, abs_z_e6,
    p_e9), built at most once per (session, sf_dir). A consumer binds it
    under ``pv``: ``stage_ctes(spark, text, pv=stage_welch_pv(...))``."""

    def build() -> DataFrame:
        register_views(spark, sf_dir, ("events",))
        return spark.sql(
            WELCH_PV_CTES + "\n    SELECT event_type, abs_z_e6, p_e9 FROM pv"
        ).localCheckpoint()

    return stage_memo.staged(spark, "welch_pv", sf_dir, None, build)


@register(
    "stats_fdr_bh",
    oracle=_FDR_SQL,
    doc="Benjamini-Hochberg FDR step-up correction (JRSS-B 1995) across "
    "the per-metric Welch tests — the multiple-testing guardrail a "
    "platform applies before reading a many-metric experiment. "
    "p-values via the Zelen-Severo 26.2.17 normal-CDF polynomial "
    "(|err|<7.5e-8; pure arithmetic + one EXP, quantized 1e-9 "
    "immediately); the reject boundary p_(k) <= (k/m)*alpha is an "
    "EXACT INTEGER comparison (p_e9 * m <= rank * alpha_e9) so the "
    "decision never touches a float. Same integer-moment aggregation "
    "as stats_ab_ttest — one map-side-combinable pass, model-sized "
    "epilogue over the staged shared pv relation (stage_welch_pv).",
)
def stats_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stage_memo.stage_ctes(spark, _FDR_SQL, pv=stage_welch_pv(spark, sf_dir))


# ---------------------------------------------------------------------------
# Partition-layout skew report
# ---------------------------------------------------------------------------
# The operational question behind every salting/AQE decision in this
# repo (join_skew_salted, plans/scale.py): HOW skewed is the keyspace,
# and what salt factor would level it? This query measures it for the
# natural (event_type, day) partition granularity of the events table:
# per-partition row counts, each partition's share, the max/avg skew
# factor, and the ceil(max/avg) salt factor that would bound any one
# salted partition by roughly the average. Pure integer arithmetic on
# one map-side-combinable COUNT; the window epilogue runs over the
# partition-count-sized aggregate (~10^2 rows regardless of volume).
# At 100 TB this IS the planning query run before choosing bucket/salt
# parameters for the big joins.

_SKEW_GRAIN = """
    SELECT event_type,
           {d.epoch_day} AS d,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY {group_by}
"""

_SKEW_TAIL = """
    , tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(MAX(cnt) AS BIGINT) AS max_cnt
        FROM grain
    )
    SELECT g.event_type, g.d, g.cnt,
           CAST(ROUND(CAST(g.cnt AS DOUBLE) / t.total * 1000000) AS BIGINT)
               AS share_e6,
           CAST(ROUND(CAST(t.max_cnt AS DOUBLE) * t.n_parts / t.total * 1000)
               AS BIGINT) AS skew_factor_e3,
           CAST(FLOOR((CAST(t.max_cnt AS DOUBLE) * t.n_parts + t.total - 1)
                      / t.total) AS BIGINT) AS suggested_salt,
           g.cnt * t.n_parts > 2 * t.total AS is_hot
    FROM grain g CROSS JOIN tot t
"""


def _skew_sql(d: Dialect) -> str:
    group_by = f"event_type, {d.epoch_day}" if d is SPARK else "1, 2"
    grain = _SKEW_GRAIN.format(d=d, group_by=group_by)
    return f"WITH grain AS ({grain})" + _SKEW_TAIL


@register(
    "dq_partition_skew_report",
    oracle=_skew_sql(DUCK),
    doc="Partition-layout skew report at the (event_type, day) grain — "
    "the planning query behind salting/bucketing decisions "
    "(join_skew_salted, plans/scale.py): per-partition counts and "
    "shares, the global max/avg skew factor, a ceil(max/avg) suggested "
    "salt factor, and a >2x-average hot flag per partition (the hot "
    "test is an exact integer cross-multiplication). One map-side-"
    "combinable COUNT; the epilogue windows over the partition-sized "
    "aggregate, ~10^2 rows regardless of data volume.",
)
def dq_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from emr_with_custom_metrics_spark.catalog import register_views

    register_views(spark, sf_dir, ("events",))
    return spark.sql(_skew_sql(SPARK))
