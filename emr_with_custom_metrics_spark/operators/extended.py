"""Extended relational surface: SQL entry point, subqueries, grouping sets,
pivot, statistics, bucketing, keyed dedup.

The reference exposes no SQL string entry point (DataFrame API only,
reference scripts/spark_converter.py:25-31; SURVEY.md §2A.1 "SQL string
entry point") — with Spark it is free via temp views, and several of these
queries deliberately run through ``spark.sql`` to exercise the parser/
analyzer path end-to-end, including subquery decorrelation (Catalyst
built-in, SURVEY.md §4.3).
"""

from __future__ import annotations

import pandas as pd  # module-scope: pandas_udf type hints resolve via module globals

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_table, register_views
from emr_with_custom_metrics_spark.registry import register
from emr_with_custom_metrics_spark.zip_guard import install_in_worker


def _sql(spark: SparkSession, sf_dir: str, query: str, tables: tuple[str, ...]) -> DataFrame:
    register_views(spark, sf_dir, tables)
    return spark.sql(query)


@register(
    "sql_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape through the SQL STRING entry point (spark.sql over "
    "temp views): selective scan, no shuffle beyond the final 1-row agg.",
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                        * CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
        """,
        ("lineitem",),
    )


@register(
    "sql_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) via the SQL surface.",
)
def sql_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        ("lineitem",),
    )


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 3 * (SELECT AVG(o_totalprice) FROM orders)
    """,
    doc="Uncorrelated scalar subquery (planned as a broadcast single-row "
    "subquery result, not a per-row re-execution).",
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_totalprice > 3 * (SELECT AVG(o_totalprice) FROM orders)
        """,
        ("orders",),
    )


@register(
    "sql_in_subquery",
    oracle="""
    SELECT c_custkey, c_acctbal FROM customer
    WHERE c_nationkey IN (
      SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
    """,
    doc="IN-subquery → decorrelated to a left-semi join by Catalyst.",
)
def sql_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT c_custkey, c_acctbal FROM customer
        WHERE c_nationkey IN (
          SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
        """,
        ("customer", "nation"),
    )


@register(
    "sql_correlated_exists",
    oracle="""
    SELECT s_suppkey, s_name FROM supplier s
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
    """,
    doc="Correlated EXISTS — subquery decorrelation into a semi join.",
)
def sql_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT s_suppkey, s_name FROM supplier s
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49)
        """,
        ("supplier", "lineitem"),
    )


@register(
    "pivot_status_by_priority",
    oracle="""
    SELECT o_orderpriority,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS BIGINT) AS st_f,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS BIGINT) AS st_o,
           CAST(COALESCE(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS BIGINT) AS st_p
    FROM orders GROUP BY o_orderpriority
    """,
    doc="Pivot (long→wide) with a FIXED value list — the scale-safe form; "
    "value-discovering pivot needs an extra pass and unbounded width.",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))  # count(*) star-expansion is rejected inside pivot
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("bigint").alias("st_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("bigint").alias("st_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("bigint").alias("st_p"),
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           (CAST(ROUND((CORR(l_quantity, l_extendedprice)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS qty_price_corr,
           (CAST(ROUND((COVAR_SAMP(l_quantity, l_extendedprice)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS qty_price_covar,
           (CAST(ROUND((VAR_SAMP(l_quantity)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS qty_var
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Bivariate statistics: Pearson correlation, sample covariance/variance.",
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round((F.corr("l_quantity", "l_extendedprice")) * 1000000).cast("bigint") / 1000000.0).alias("qty_price_corr"),
        (F.round((F.covar_samp("l_quantity", "l_extendedprice")) * 10000).cast("bigint") / 10000.0).alias("qty_price_covar"),
        (F.round((F.var_samp("l_quantity")) * 1000000).cast("bigint") / 1000000.0).alias("qty_var"),
    )


@register(
    "agg_quantile_battery",
    oracle="""
    SELECT event_type,
           (CAST(ROUND((quantile_cont(value, 0.25)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS p25,
           (CAST(ROUND((quantile_cont(value, 0.50)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS p50,
           (CAST(ROUND((quantile_cont(value, 0.75)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS p75,
           (CAST(ROUND((quantile_cont(value, 0.95)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS p95,
           (CAST(ROUND((quantile_cont(value, 0.99)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS p99
    FROM events GROUP BY event_type
    """,
    doc="Interpolated quantile battery (exact percentile; at 100 TB swap "
    "for approx_percentile with the same shape).",
)
def agg_quantile_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        *[
            (F.round((F.percentile("value", p)) * 10000).cast("bigint") / 10000.0).alias(f"p{int(p * 100)}")
            for p in (0.25, 0.50, 0.75, 0.95, 0.99)
        ]
    )


@register(
    "agg_linear_regression",
    oracle="""
    SELECT l_returnflag,
           (CAST(ROUND((regr_slope(l_extendedprice, l_quantity)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS slope,
           (CAST(ROUND((regr_intercept(l_extendedprice, l_quantity)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS intercept,
           (CAST(ROUND((regr_r2(l_extendedprice, l_quantity)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Built-in OLS aggregates: slope/intercept/R² of price vs quantity "
    "per flag — single-pass distributed regression.",
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round((F.regr_slope("l_extendedprice", "l_quantity")) * 1000000).cast("bigint") / 1000000.0).alias("slope"),
        (F.round((F.regr_intercept("l_extendedprice", "l_quantity")) * 10000).cast("bigint") / 10000.0).alias("intercept"),
        (F.round((F.regr_r2("l_extendedprice", "l_quantity")) * 1000000).cast("bigint") / 1000000.0).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
    )


@register(
    "histogram_value_buckets",
    oracle="""
    SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           (CAST(ROUND((MIN(value)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS lo, (CAST(ROUND((MAX(value)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS hi
    FROM events GROUP BY 1
    """,
    doc="Fixed-width histogram via floor-bucketing (one shuffle of "
    "(bucket, partials) — the scalable histogram).",
)
def histogram_value_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") / 25.0).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            (F.round((F.min("value")) * 100).cast("bigint") / 100.0).alias("lo"),
            (F.round((F.max("value")) * 100).cast("bigint") / 100.0).alias("hi"),
        )
    )


@register(
    "window_rank_fractions",
    oracle="""
    SELECT c_custkey, c_acctbal,
           (CAST(ROUND((PERCENT_RANK() OVER w) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS pct_rank,
           (CAST(ROUND((CUME_DIST() OVER w) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS cume,
           NTH_VALUE(c_name, 2) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS second_richest
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
    doc="percent_rank / cume_dist / nth_value window battery.",
)
def window_rank_fractions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w2 = (
        Window.partitionBy("c_nationkey")
        .orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return c.select(
        "c_custkey",
        "c_acctbal",
        (F.round((F.percent_rank().over(w)) * 1000000).cast("bigint") / 1000000.0).alias("pct_rank"),
        (F.round((F.cume_dist().over(w)) * 1000000).cast("bigint") / 1000000.0).alias("cume"),
        F.nth_value("c_name", 2).over(w2).alias("second_richest"),
    )


@register(
    "having_filter",
    oracle="""
    SELECT o_custkey, COUNT(*) AS n_orders, (CAST(ROUND((SUM(o_totalprice)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS spend
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 15 AND SUM(o_totalprice) > 100000
    """,
    doc="HAVING: post-aggregation predicate (filter above the aggregate, "
    "below everything else — Catalyst folds it into the agg stage).",
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            (F.round((F.sum("o_totalprice")) * 100).cast("bigint") / 100.0).alias("spend"),
            F.sum("o_totalprice").alias("_raw_spend"),
        )
        .where((F.col("n_orders") >= 15) & (F.col("_raw_spend") > 100000))
        .drop("_raw_spend")
    )


@register(
    "limit_offset_page",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 40
    """,
    doc="Pagination: ORDER BY + LIMIT/OFFSET (deterministic via tiebreak). "
    "Offset is driver-side after TakeOrdered(offset+limit) — fine for page "
    "depth, not for deep scans (use keyset pagination there).",
)
def limit_offset_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(40)
        .limit(20)
    )


@register(
    "pandas_grouped_agg_weighted_avg",
    oracle="""
    SELECT event_type,
           (CAST(ROUND((SUM(value * user_id) / SUM(user_id)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS weighted_avg_value
    FROM events WHERE user_id > 0 GROUP BY event_type
    """,
    doc="Grouped-aggregate pandas UDF (Arrow series → scalar): the escape "
    "hatch for aggregations Catalyst can't express. This one IS SQL-"
    "expressible on purpose, so the oracle can check the UDF plumbing.",
)
def pandas_grouped_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg(v: pd.Series, w: pd.Series) -> float:
        # Series → scalar signature marks this as a GROUPED_AGG pandas UDF
        install_in_worker()
        return float((v * w).sum() / w.sum())

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") > 0)
    return ev.groupBy("event_type").agg(
        (F.round((weighted_avg("value", "user_id")) * 1000000).cast("bigint") / 1000000.0).alias("weighted_avg_value")
    )


@register(
    "python_udf_scalar",
    oracle="""
    SELECT c_custkey, REVERSE(CAST(c_custkey AS VARCHAR)) AS key_reversed
    FROM customer WHERE c_custkey <= 200
    """,
    doc="Row-at-a-time Python UDF — registered ONLY as the documented "
    "slow-path demo (10-100× slower than builtins; see SURVEY.md §2A.1 "
    "UDF row). Every production operator in this engine uses builtins or "
    "Arrow-batched pandas.",
)
def python_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    def reverse_key(k):
        install_in_worker()
        return str(k)[::-1]

    rev = F.udf(reverse_key, "string")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    return c.select("c_custkey", rev("c_custkey").alias("key_reversed"))


@register(
    "agg_battery2",
    oracle="""
    SELECT user_id,
           arg_max(event_type, event_id) AS latest_type_by_id,
           arg_min(event_type, event_id) AS first_type_by_id,
           CAST(count_if(value > 100) AS BIGINT) AS n_big,
           bool_and(value >= 0) AS all_nonneg,
           bool_or(event_type = 'error') AS any_error,
           (CAST(ROUND((SUM(DISTINCT value)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_distinct_value
    FROM events WHERE user_id <= 25 GROUP BY user_id
    """,
    doc="Aggregate battery 2: min_by/max_by (argmin/argmax on a unique "
    "ordering key — deterministic), count_if, bool_and/bool_or, "
    "SUM(DISTINCT).",
)
def agg_battery2(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 25)
    return ev.groupBy("user_id").agg(
        F.max_by("event_type", "event_id").alias("latest_type_by_id"),
        F.min_by("event_type", "event_id").alias("first_type_by_id"),
        F.count_if(F.col("value") > 100).alias("n_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.bool_or(F.col("event_type") == "error").alias("any_error"),
        (F.round((F.sum_distinct(F.col("value"))) * 100).cast("bigint") / 100.0).alias("sum_distinct_value"),
    )


@register(
    "agg_collect_ordered",
    oracle="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_id) AS type_sequence,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id <= 10 GROUP BY user_id
    """,
    doc="Deterministic collect: collect_list carries no order guarantee, so "
    "the engine collects (sort_key, value) structs, array_sorts, then "
    "projects — the reproducible ordered-sequence aggregation.",
)
def agg_collect_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 10)
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("type_sequence"),
        F.count("*").alias("n"),
    )


@register(
    "window_range_frame",
    oracle="""
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER (
             PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT)
             AS events_last_24h,
           (CAST(ROUND((SUM(value) OVER (
             PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
             RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)) * 100) AS BIGINT) / CAST(100 AS DOUBLE))
             AS value_last_24h
    FROM events WHERE user_id <= 15
    """,
    doc="Value-RANGE window frame (not row-count): per-user sliding 24 h "
    "totals keyed on event-time seconds — the rate-limiting / rolling-"
    "exposure primitive.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") <= 15)
    epoch = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy(epoch.alias("ep")).rangeBetween(-86400, 0)
    return ev.select(
        "user_id",
        "event_id",
        F.count("*").over(w).alias("events_last_24h"),
        (F.round((F.sum("value").over(w)) * 100).cast("bigint") / 100.0).alias("value_last_24h"),
    )


@register(
    "rollup_grouping_id",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           COUNT(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="GROUPING() markers on rollup: distinguishes a NULL data value from "
    "a rolled-up aggregation level — required for correct subtotal reports.",
)
def rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count("*").alias("n"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n")


@register(
    "safe_casting",
    oracle="""
    SELECT c_custkey,
           TRY_CAST(c_name AS BIGINT) AS name_as_int,
           TRY_CAST(REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS BIGINT) AS digits_as_int,
           (CAST(ROUND((c_acctbal / NULLIF(c_nationkey, 0)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS bal_per_nation,
           TRY_CAST('not a date' AS DATE) AS bad_date
    FROM customer WHERE c_custkey <= 300
    """,
    doc="ANSI-safe conversions: try_cast returns NULL instead of failing "
    "(the 100 TB reality: some rows are always malformed), try_divide "
    "nulls division-by-zero.",
)
def safe_casting(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    return c.select(
        "c_custkey",
        F.col("c_name").try_cast("bigint").alias("name_as_int"),  # Column method, not F.*
        F.regexp_extract("c_name", "([0-9]+)", 1).try_cast("bigint").alias("digits_as_int"),
        (F.round((F.try_divide("c_acctbal", F.nullif(F.col("c_nationkey"), F.lit(0)))) * 1000000).cast("bigint") / 1000000.0).alias(
            "bal_per_nation"
        ),
        F.lit("not a date").try_cast("date").alias("bad_date"),
    )


@register(
    "dedup_keep_first_by_key",
    oracle="""
    SELECT lang, source, doc_id, n_chars FROM (
      SELECT lang, source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    doc="Keyed keep-first dedup via deterministic window (dropDuplicates "
    "picks an ARBITRARY row — never acceptable in a reproducible pipeline).",
)
def dedup_keep_first_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.select("lang", "source", "doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "stream_dedup_within_window",
    oracle="""
    SELECT user_id, bucket_start, event_id FROM (
      SELECT user_id,
             CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
             event_id,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT)
               ORDER BY event_id) AS rn
      FROM events) WHERE rn = 1
    """,
    doc="Batch analog of dropDuplicatesWithinWatermark: first event per "
    "(user, 300 s window) — streaming dedup state bounded by the watermark.",
)
def stream_dedup_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    bucketed = ev.select(
        "user_id",
        F.unix_timestamp(F.window("ts", "5 minutes").getField("start")).alias("bucket_start"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "bucket_start").orderBy("event_id")
    return (
        bucketed.select("*", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "udtf_ngrams",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
               WHERE doc_id < 40)
    SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
           toks[i] || ' ' || toks[i+1] AS bigram
    FROM t, RANGE(1, 100000) r(i) WHERE i <= LEN(toks) - 1
    """,
    doc="A REAL Python UDTF (Spark 3.5+ ``@udtf``, not a mapInPandas "
    "analogue): bigram generator applied via SQL LATERAL TABLE syntax — "
    "one input row fans out to n-1 output rows. Row-at-a-time Python is "
    "the documented slow path (like python_udf_scalar); the vectorized "
    "equivalents live in llm/text.shingle_hashes. [EXT] UDTF row of "
    "SURVEY.md §2A.1.",
)
def udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class BigramGen:
        def eval(self, text: str):
            install_in_worker()
            toks = (text or "").split()
            for i in range(len(toks) - 1):
                yield (i, f"{toks[i]} {toks[i + 1]}")

    spark.udtf.register("bigram_gen", BigramGen)
    return spark.sql(
        """SELECT d.doc_id, g.pos, g.bigram
           FROM {docs} d, LATERAL bigram_gen(d.text) g
           WHERE d.doc_id < 40""",
        docs=load_table(spark, sf_dir, "documents"),
    )


@register(
    "unpivot_order_measures",
    oracle="""
    SELECT l_orderkey, l_linenumber, measure, (CAST(ROUND((val) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS val
    FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
          FROM lineitem WHERE l_orderkey < 500)
    UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))
    """,
    doc="UNPIVOT / melt: wide measure columns to long (measure, value) rows "
    "— the inverse of pivot_status_by_priority (SURVEY.md §2A.1 "
    "aggregations row). Map-side only: no shuffle, n_cols× row fan-out.",
)
def unpivot_order_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 500)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    ).select(
        "l_orderkey", "l_linenumber", "measure", (F.round((F.col("val")) * 100).cast("bigint") / 100.0).alias("val")
    )


@register(
    "agg_approx_quantile",
    # Sketched quantiles aren't cross-engine reproducible; like
    # agg_approx_distinct the oracle checks the ESTIMATE against exact
    # bounds: with accuracy=1000 the rank error is ≤ 0.1% of N, so the
    # estimate must land between the exact 0.48 and 0.52 quantiles (±4pp
    # of headroom vs the guaranteed ±0.1pp — a broken sketch still fails).
    oracle="""
    SELECT event_type, TRUE AS within_bounds FROM events GROUP BY event_type
    """,
    doc="approx_percentile (GK sketch): the 100 TB path for quantiles — "
    "mergeable per-partition sketches, no global sort — oracled via an "
    "error-bound check against the exact interpolated quantile.",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("est"),
        F.percentile("value", 0.48).alias("lo"),
        F.percentile("value", 0.52).alias("hi"),
    )
    return agg.select(
        "event_type",
        ((F.col("est") >= F.col("lo")) & (F.col("est") <= F.col("hi"))).alias(
            "within_bounds"
        ),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS total_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 100
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="Spark 4's SQL pipe syntax (|>) as an engine entry point: the same "
    "scan → filter → aggregate → post-filter → order dataflow a user "
    "writes top-to-bottom instead of inside-out. Catalyst compiles it to "
    "the identical plan as the classic GROUP BY/HAVING form — which is "
    "exactly what the DuckDB oracle runs, so the equivalence is "
    "hash-verified, not asserted.",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        |> AGGREGATE COUNT(*) AS n_items,
                     (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS total_qty,
                     CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
                       AS total_price
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n_items > 100
        |> ORDER BY l_returnflag, l_linestatus
        """,
        ("lineitem",),
    )


@register(
    "sql_recursive_cte_hierarchy",
    oracle="""
    WITH RECURSIVE tree(k, bal, depth) AS (
        SELECT c_custkey, c_acctbal, 1 FROM customer WHERE c_custkey < 10
        UNION ALL
        SELECT c.c_custkey, c.c_acctbal, t.depth + 1
        FROM customer c JOIN tree t ON c.c_custkey // 10 = t.k
        WHERE c.c_custkey >= 10
    )
    SELECT depth,
           COUNT(*) AS n_nodes,
           (CAST(ROUND((SUM(bal)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_bal,
           MAX(k) AS max_key
    FROM tree GROUP BY depth
    """,
    doc="Spark 4 recursive CTE (WITH RECURSIVE, new in 4.0): iterate a "
    "parent-child hierarchy derived from the customer key space "
    "(parent(k) = k div 10; keys < 10 are roots, so every customer "
    "terminates in <= ceil(log10(max_key)) steps). Each recursive step is "
    "one join of the static customer table against the previous frontier — "
    "the same per-iteration shuffle shape as the hand-rolled fixpoints in "
    "operators/graph.py, but driven by the engine's own recursion operator. "
    "The depth guard is structural (WHERE c_custkey >= 10 keeps root 0 from "
    "self-joining), not a hard-coded iteration cap.",
)
def sql_recursive_cte_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        WITH RECURSIVE tree(k, bal, depth) AS (
            SELECT c_custkey, c_acctbal, 1 FROM customer WHERE c_custkey < 10
            UNION ALL
            SELECT c.c_custkey, c.c_acctbal, t.depth + 1
            FROM customer c JOIN tree t ON c.c_custkey DIV 10 = t.k
            WHERE c.c_custkey >= 10
        )
        SELECT depth,
               COUNT(*) AS n_nodes,
               (CAST(ROUND((SUM(bal)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_bal,
               MAX(k) AS max_key
        FROM tree GROUP BY depth
        """,
        ("customer",),
    )


@register(
    "sql_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_custkey, (CAST(ROUND((t.c_acctbal) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS acctbal
    FROM nation n, LATERAL (
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE c.c_nationkey = n.n_nationkey
        ORDER BY c_acctbal DESC, c_custkey LIMIT 2
    ) t
    """,
    doc="Correlated LATERAL subquery with ORDER BY ... LIMIT (Spark 4): "
    "top-2 customers per nation, written the way an analyst writes it. "
    "Catalyst decorrelates this into the same ranked-window plan as the "
    "explicit row_number() form (operators/windows.py topk_per_group) — "
    "per-key state is bounded at k rows, so the shape holds at any key "
    "cardinality. DuckDB runs the identical LATERAL text as the oracle.",
)
def sql_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        SELECT n.n_name, t.c_custkey, (CAST(ROUND((t.c_acctbal) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS acctbal
        FROM nation n, LATERAL (
            SELECT c_custkey, c_acctbal FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 2
        ) t
        """,
        ("nation", "customer"),
    )


@register(
    "agg_hll_sketch_union",
    oracle="""
    WITH per_type AS (
        SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY event_type
    )
    SELECT event_type, exact_distinct, TRUE AS within_bounds,
           TRUE AS merge_consistent
    FROM per_type
    UNION ALL
    SELECT 'ALL', COUNT(DISTINCT user_id), TRUE, TRUE FROM events
    """,
    doc="Spark 4's built-in Datasketches HLL surface — hll_sketch_agg / "
    "hll_union_agg / hll_sketch_estimate: per-metric sketches whose "
    "BINARY state MERGES (the property that lets 1000 executors sketch "
    "independently and a coordinator union the results — and lets "
    "yesterday's sketch update incrementally like ivm_incremental_agg's "
    "partials). The 'ALL' row checks merge consistency in-engine: the "
    "union-of-group-sketches estimate must equal the direct global "
    "sketch estimate exactly (same lgK, same stream). Estimates are "
    "seeded internally, so like agg_approx_distinct the oracle pins "
    "exact counts + error-bound flags (lgK=12 -> rsd ~1.6%, checked at "
    "5x) rather than the estimate bytes.",
)
def agg_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("sk"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    rsd5 = 5 * 1.04 / (2**6)  # 5 x rsd at lgK=12 (1.04/sqrt(2^12))
    typed = per_type.select(
        "event_type",
        "exact_distinct",
        (
            F.abs(
                F.expr("hll_sketch_estimate(sk)").cast("double")
                - F.col("exact_distinct")
            )
            <= F.lit(rsd5) * F.col("exact_distinct")
        ).alias("within_bounds"),
        F.lit(True).alias("merge_consistent"),
    )
    merged = per_type.agg(F.expr("hll_union_agg(sk, false)").alias("usk"))
    direct = ev.agg(
        F.expr("hll_sketch_agg(user_id, 12)").alias("dsk"),
        F.count_distinct("user_id").alias("exact_distinct"),
    )
    all_row = merged.crossJoin(direct).select(
        F.lit("ALL").alias("event_type"),
        "exact_distinct",
        (
            F.abs(
                F.expr("hll_sketch_estimate(usk)").cast("double")
                - F.col("exact_distinct")
            )
            <= F.lit(rsd5) * F.col("exact_distinct")
        ).alias("within_bounds"),
        (
            F.expr("hll_sketch_estimate(usk)") == F.expr("hll_sketch_estimate(dsk)")
        ).alias("merge_consistent"),
    )
    return typed.unionByName(all_row)


@register(
    "sql_parameterized",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_items,
           (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS total_qty
    FROM lineitem
    WHERE l_quantity < 24 AND l_discount BETWEEN 0.03 AND 0.07
    GROUP BY l_returnflag
    """,
    doc="Parameterized SQL (spark.sql(query, args=...), Spark 3.4+): "
    "named parameter markers bound server-side — the injection-safe way "
    "an application layer passes user input into engine SQL, and the "
    "plan-cache-friendly way to re-run one template at 100 TB. The "
    "oracle runs the same query with the bindings inlined, proving the "
    "binding path changes nothing.",
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS n_items,
               (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS total_qty
        FROM lineitem
        WHERE l_quantity < :max_qty AND l_discount BETWEEN :lo AND :hi
        GROUP BY l_returnflag
        """,
        args={"max_qty": 24, "lo": 0.03, "hi": 0.07},
    )


@register(
    "sql_collation_lcase",
    oracle="""
    WITH mixed AS (
        SELECT c_nationkey,
               CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment)
                    ELSE LOWER(c_mktsegment) END AS seg
        FROM customer
    )
    SELECT c_nationkey,
           COUNT(DISTINCT LOWER(seg)) AS n_segments,
           COUNT(*) AS n_customers
    FROM mixed GROUP BY c_nationkey
    """,
    doc="Spark 4 collation support: COLLATE(col, 'UTF8_LCASE') makes "
    "comparison/grouping/DISTINCT case-insensitive AT THE TYPE LEVEL — "
    "the engine-native form of the LOWER() normalization the oracle "
    "uses, except collation survives into joins and group-bys without "
    "rewriting every predicate. The query mixes the case of the segment "
    "column by row parity, then counts distinct segments under the "
    "case-insensitive collation; hash parity with the LOWER() oracle "
    "proves the collated comparison semantics.",
)
def sql_collation_lcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sql(
        spark,
        sf_dir,
        """
        WITH mixed AS (
            SELECT c_nationkey,
                   CASE WHEN c_custkey % 2 = 0 THEN UPPER(c_mktsegment)
                        ELSE LOWER(c_mktsegment) END AS seg
            FROM customer
        )
        SELECT c_nationkey,
               COUNT(DISTINCT COLLATE(seg, 'UTF8_LCASE')) AS n_segments,
               COUNT(*) AS n_customers
        FROM mixed GROUP BY c_nationkey
        """,
        ("customer",),
    )


@register(
    "mapinarrow_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars
    FROM documents WHERE doc_id < 300
    """,
    doc="mapInArrow: the zero-copy tier of the Python UDF matrix (row UDF "
    "-> pandas UDF -> mapInPandas -> mapInArrow). Batches arrive as "
    "pyarrow RecordBatches and every operation here is a pyarrow.compute "
    "kernel (split_pattern / list_value_length / utf8_length) — no "
    "pandas materialization, no Python-object row, which at 100 TB is "
    "the difference between Arrow buffer arithmetic and a per-row "
    "interpreter loop. Exact string stats, fully oracled.",
)
def mapinarrow_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 300)
        .select("doc_id", "text")
    )

    def stats(batches):
        install_in_worker()
        import pyarrow as pa
        import pyarrow.compute as pc

        for rb in batches:
            text = rb.column(1)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(0),
                    pc.cast(
                        pc.list_value_length(pc.split_pattern(text, pattern=" ")),
                        pa.int64(),
                    ),
                    pc.cast(pc.utf8_length(text), pa.int64()),
                ],
                ["doc_id", "n_tokens", "n_chars"],
            )

    return d.mapInArrow(
        stats, schema="doc_id bigint, n_tokens bigint, n_chars bigint"
    )


@register(
    "udtf_dynamic_schema",
    oracle="""
    SELECT doc_id,
           string_split(text, ' ')[1] AS tok_1,
           string_split(text, ' ')[2] AS tok_2,
           string_split(text, ' ')[3] AS tok_3
    FROM documents WHERE doc_id < 40
    """,
    doc="Polymorphic UDTF (Spark 3.5+/4: a static analyze() method "
    "computes the OUTPUT SCHEMA from the call site's constant arguments "
    "at plan time) — here first_tokens(text, 3) materializes columns "
    "tok_1..tok_3, and calling it with another k would change the "
    "schema without touching the class. The engine-extension shape for "
    "config-driven feature extraction where the feature list is data.",
)
def udtf_dynamic_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf
    from pyspark.sql.types import StringType, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class FirstTokens:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            if not isinstance(k.value, int) or k.value < 1:
                raise ValueError("k must be a positive integer literal")
            st = StructType()
            for i in range(k.value):
                st = st.add(f"tok_{i + 1}", StringType())
            return AnalyzeResult(st)

        def eval(self, text: str, k: int):
            install_in_worker()
            toks = (text or "").split(" ")
            yield tuple(toks[i] if i < len(toks) else None for i in range(k))

    spark.udtf.register("first_tokens", udtf(FirstTokens))
    return spark.sql(
        """SELECT d.doc_id, g.tok_1, g.tok_2, g.tok_3
           FROM {docs} d, LATERAL first_tokens(d.text, 3) g
           WHERE d.doc_id < 40""",
        docs=load_table(spark, sf_dir, "documents"),
    )


@register(
    "transpose_priority_metrics",
    oracle="""
    WITH agg AS (
        SELECT o_orderpriority,
               (CAST(ROUND((AVG(o_totalprice)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS avg_price,
               (CAST(ROUND((MAX(o_totalprice)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS max_price
        FROM orders GROUP BY o_orderpriority
    )
    SELECT 'avg_price' AS key,
           MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN avg_price END) AS "1-URGENT",
           MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN avg_price END) AS "2-HIGH",
           MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN avg_price END) AS "3-MEDIUM",
           MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN avg_price END) AS "4-NOT SPECIFIED",
           MAX(CASE WHEN o_orderpriority = '5-LOW' THEN avg_price END) AS "5-LOW"
    FROM agg
    UNION ALL
    SELECT 'max_price',
           MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN max_price END),
           MAX(CASE WHEN o_orderpriority = '2-HIGH' THEN max_price END),
           MAX(CASE WHEN o_orderpriority = '3-MEDIUM' THEN max_price END),
           MAX(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN max_price END),
           MAX(CASE WHEN o_orderpriority = '5-LOW' THEN max_price END)
    FROM agg
    """,
    doc="DataFrame.transpose (new in Spark 4.0): rows become columns with "
    "the first column as the new header — the report-shaping inverse of "
    "unpivot, done engine-side. Correct usage gate: transpose COLLECTS "
    "the frame's first column to the driver to name the output columns, "
    "so it is only ever legal on a small aggregate (here 5 rows x 2 "
    "metrics), never a fact table — which is why the input is the "
    "grouped summary and the oracle is a manual conditional-aggregation "
    "pivot of the same summary.",
)
def transpose_priority_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            (F.round((F.avg("o_totalprice")) * 100).cast("bigint") / 100.0).alias("avg_price"),
            (F.round((F.max("o_totalprice")) * 100).cast("bigint") / 100.0).alias("max_price"),
        )
        .orderBy("o_orderpriority")
    )
    return agg.transpose()


# ---------------------------------------------------------------------------
# Spark 4 SQL-defined functions + scripting (round 8 surface wave)
# ---------------------------------------------------------------------------

_SQL_UDF_ORACLE = """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(ROUND(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (1 - CAST(l_discount AS DECIMAL(12,2))), 2) * 100
                AS BIGINT)) AS BIGINT) AS net_revenue_c
    FROM lineitem GROUP BY l_returnflag
"""


@register(
    "sql_udf_scalar_function",
    oracle=_SQL_UDF_ORACLE,
    doc="SQL-defined scalar UDF (Spark 4: CREATE TEMPORARY FUNCTION ... "
    "RETURNS ... RETURN <expr>): the net-price rule is declared ONCE as "
    "a catalog function and reused by name — unlike a Python UDF the "
    "body is a Catalyst expression, so it inlines into whole-stage "
    "codegen with zero serialization boundary (the fast path the UDF "
    "category doc warns python_udf_scalar is not). DECIMAL-exact price "
    "math per the round-1 rule; the oracle inlines the same expression "
    "(DuckDB macros can't be created inside the driver's single-"
    "statement oracle, and the CONTRACT is the answer, not the DDL).",
)
def sql_udf_scalar_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("lineitem",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price_c(p DOUBLE, d DOUBLE)
        RETURNS BIGINT
        RETURN CAST(ROUND(CAST(p AS DECIMAL(12,2))
                    * (1 - CAST(d AS DECIMAL(12,2))), 2) * 100 AS BIGINT)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(net_price_c(l_extendedprice, l_discount)) AS BIGINT)
                   AS net_revenue_c
        FROM lineitem GROUP BY l_returnflag
        """
    )


_SQL_TVF_ORACLE = """
    SELECT o_orderstatus, o_orderkey, CAST(rnk AS INTEGER) AS rnk FROM (
        SELECT o_orderstatus, o_orderkey,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
        FROM orders
    ) r WHERE rnk <= 5
"""


@register(
    "sql_udf_table_function",
    oracle=_SQL_TVF_ORACLE,
    doc="SQL-defined TABLE function (Spark 4: CREATE TEMPORARY FUNCTION "
    "... RETURNS TABLE(...) RETURN <query>): a parameterized top-N-by-"
    "status view invoked per status in the FROM clause — the catalog-"
    "function twin of the LATERAL pattern (sql_lateral_topn), with the "
    "parameter bound at call sites instead of correlated. Three calls "
    "union to the same answer as one ranked window; deterministic "
    "orderkey tie-break.",
)
def sql_udf_table_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION top_orders(status STRING)
        RETURNS TABLE(o_orderstatus STRING, o_orderkey BIGINT, rnk INT)
        RETURN SELECT o_orderstatus, o_orderkey,
                      CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice DESC,
                           o_orderkey) AS INT) AS rnk
               FROM orders WHERE o_orderstatus = status
               ORDER BY rnk LIMIT 5
        """
    )
    return spark.sql(
        """
        SELECT * FROM top_orders('F')
        UNION ALL SELECT * FROM top_orders('O')
        UNION ALL SELECT * FROM top_orders('P')
        """
    )


@register(
    "sql_listagg_within_group",
    oracle="""
    SELECT o_orderpriority,
           string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus)
               AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="listagg(DISTINCT ... ) WITHIN GROUP (ORDER BY ...) — the ISO "
    "ordered string aggregation added in Spark 4.0. The WITHIN GROUP "
    "ordering is what makes the output deterministic and therefore "
    "hash-verifiable (an unordered listagg would be partition-layout-"
    "dependent — the same hazard collect_list has, solved the same "
    "way agg_collect_ordered solves it). DuckDB spells the identical "
    "semantics string_agg(DISTINCT ... ORDER BY ...).",
)
def sql_listagg_within_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        SELECT o_orderpriority,
               listagg(DISTINCT o_orderstatus, '|')
                   WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "sql_scripting_block",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_large,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                AS BIGINT)) AS BIGINT) AS total_c
    FROM orders
    WHERE o_totalprice > (SELECT 1.5 * AVG(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
    doc="SQL scripting (Spark 4.0 BEGIN ... END): a DECLAREd session "
    "variable captures the data-derived threshold (1.5x the mean order "
    "value) and the final statement — whose result is the block's "
    "result — filters with it. The procedural surface DBAs migrate "
    "stored procedures onto; semantically identical to the scalar-"
    "subquery form the oracle uses, which is the point: the script is "
    "control flow, not new physics. Variable references compile to "
    "literals at bind time, so the final query plan is an ordinary "
    "filtered aggregate with full pushdown.",
)
def sql_scripting_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(
        """
        BEGIN
          DECLARE threshold DOUBLE;
          SET threshold = (SELECT 1.5 * AVG(o_totalprice) FROM orders);
          SELECT o_orderpriority,
                 CAST(COUNT(*) AS BIGINT) AS n_large,
                 CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100
                      AS BIGINT)) AS BIGINT) AS total_c
          FROM orders
          WHERE o_totalprice > threshold
          GROUP BY o_orderpriority;
        END
        """
    )
