"""The reference's metrics dataflow + autoscaling rules, in-engine.

Reference semantics being re-expressed (SURVEY.md §3 EP2/EP3):
* op M3 — derived gauge metric every 30 s (custom-metrics.sh:12-14),
* op R1 — 300 s tumbling AVERAGE window (instance-group-config.json:44-48),
* ops R2/R3 — threshold predicates ``avg <= 25`` (scale-out) and
  ``avg > 75`` (scale-in) (instance-group-config.json:47-49, :76-78),
* op R4 — dimension-keyed filtering (instance-group-config.json:38-43),
* op R5 — 300 s cooldown suppression of repeated actions
  (instance-group-config.json:31-33),
* op M6 — fixed 30 s trigger (setup-custom-metrics.sh:24; we use a single
  correct trigger, not the reference's `.sh.sh` 60 s-effective typo,
  SURVEY.md §4.4).

Everything here is expressed over the ``events`` table in BATCH mode (so the
DuckDB oracle can check it row-for-row) and wired to Structured Streaming in
``streaming/pipeline.py`` — identical logical plans, per Spark's
batch/streaming unification.

Window-bucket outputs are emitted as epoch-second BIGINTs
(``unix_timestamp(window.start)``), sidestepping timestamp-precision and
timezone hashing hazards between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_table, register_views
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.registry import register
from emr_with_custom_metrics_spark.zip_guard import install_in_worker

SCALE_OUT_THRESHOLD = 25.0  # avg <= 25 → scale out (+5) — instance-group-config.json:49
SCALE_IN_THRESHOLD = 75.0  # avg > 75 → scale in (−2) — instance-group-config.json:78
WINDOW_SECONDS = 300  # Period=300, Statistic=AVERAGE — instance-group-config.json:47-48
COOLDOWN_SECONDS = 300  # CoolDown=300 — instance-group-config.json:33


def tumbling_avg(events: DataFrame, window_dur: str = "5 minutes") -> DataFrame:
    """R1: event-time tumbling average per event_type (the 'dimension')."""
    return (
        events.groupBy(F.window("ts", window_dur).alias("w"), "event_type")
        .agg((F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"), F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


@register(
    "metrics_tumbling_avg",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
           event_type,
           (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value,
           COUNT(*) AS n_events
    FROM events GROUP BY 1, 2
    """,
    doc="R1: 300 s tumbling AVERAGE of the metric, keyed by event_type.",
)
def metrics_tumbling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tumbling_avg(load_table(spark, sf_dir, "events"))


@register(
    "metrics_sliding_avg",
    oracle="""
    SELECT u.bucket_start, b.event_type,
           (CAST(ROUND((AVG(b.value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value, COUNT(*) AS n_events
    FROM (SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS b0,
                 event_type, value FROM events) b,
         UNNEST([b.b0, b.b0 - 300]) AS u(bucket_start)
    GROUP BY 1, 2
    """,
    doc="Sliding window (10 min length / 5 min slide): each event lands in "
    "two overlapping windows.",
)
def metrics_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg((F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"), F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("bucket_start"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


def alarm_windows(events: DataFrame) -> DataFrame:
    """Metric stream for the control loop: 300 s windowed average over ALL
    events (single logical gauge, like YARNCoreAvailablePercentage)."""
    return (
        events.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg((F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"), F.count("*").alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"), "avg_value", "n_events")
    )


_ALARM_ORACLE_BASE = """
    WITH metric AS (
      SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
             (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value, COUNT(*) AS n_events
      FROM events GROUP BY 1)
"""


@register(
    "alarm_scale_out",
    oracle=_ALARM_ORACLE_BASE
    + """
    SELECT bucket_start, avg_value, 5 AS scaling_adjustment
    FROM metric WHERE avg_value <= 25.0
    """,
    doc="R2: scale-out alarm — 300 s avg <= 25 ⇒ +5 nodes.",
)
def alarm_scale_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = alarm_windows(load_table(spark, sf_dir, "events"))
    return m.where(F.col("avg_value") <= SCALE_OUT_THRESHOLD).select(
        "bucket_start", "avg_value", F.lit(5).alias("scaling_adjustment")
    )


@register(
    "alarm_scale_in",
    oracle=_ALARM_ORACLE_BASE
    + """
    SELECT bucket_start, avg_value, -2 AS scaling_adjustment
    FROM metric WHERE avg_value > 75.0
    """,
    doc="R3: scale-in alarm — 300 s avg > 75 ⇒ −2 nodes.",
)
def alarm_scale_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = alarm_windows(load_table(spark, sf_dir, "events"))
    return m.where(F.col("avg_value") > SCALE_IN_THRESHOLD).select(
        "bucket_start", "avg_value", F.lit(-2).alias("scaling_adjustment")
    )


@register(
    "alarm_dimension_filter",
    oracle="""
    SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
           user_id, (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value
    FROM events WHERE event_type = 'error'
    GROUP BY 1, 2
    """,
    doc="R4: dimension-keyed alarm scope (JobFlowId=… becomes a keyed filter "
    "before windowing — pushed to the scan).",
)
def alarm_dimension_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("event_type") == "error")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "user_id")
        .agg((F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"))
        .select(F.unix_timestamp("w.start").alias("bucket_start"), "user_id", "avg_value")
    )


@register(
    "session_windows",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_session
      FROM events),
    tagged AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM ordered)
    SELECT user_id,
           CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
           COUNT(*) AS n_events
    FROM tagged GROUP BY user_id, session_id
    """,
    doc="Session windows (30 min gap) per user — Spark session_window vs the "
    "oracle's gaps-and-islands formulation.",
)
def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start"),
            "n_events",
        )
    )


MIN_CAPACITY = 0  # instance-group-config.json:21-24
MAX_CAPACITY = 20
INITIAL_CAPACITY = 2  # the reference cluster's 2 core/task baseline (README.md:150-153)


@register(
    "autoscale_timeline",
    oracle="""
    -- Firing is decidable WITHOUT the size state: per rule, alarms split
    -- into runs of consecutive 300 s buckets (a >300 s gap from the
    -- previous alarm always exceeds the cooldown since last-fired <=
    -- previous alarm time), and within a run exactly the odd positions
    -- fire (fire, suppress at +300, fire at +600, ...). That moves the
    -- whole cooldown screen into window functions. The remaining
    -- sequential piece — the clamped capacity fold over FIRED rows — is a
    -- list_prepend + list_reduce prefix fold instead of a RECURSIVE CTE:
    -- O(n²/2) lambda steps but no per-step join/rescan, measured
    -- 2.3 s -> 0.5 s at sf0.01 (the r2 recursive form was itself
    -- 3.8 -> 1.9 s over r1's full per-alarm simulation).
    WITH metric AS (
      SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
             (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value
      FROM events GROUP BY 1),
    alarms AS (
      SELECT bucket_start, 'scale-out' AS rule, 5 AS adj FROM metric WHERE avg_value <= 25.0
      UNION ALL
      SELECT bucket_start, 'scale-in', -2 FROM metric WHERE avg_value > 75.0),
    gaps AS (
      SELECT bucket_start, rule, adj,
             CASE WHEN bucket_start - LAG(bucket_start)
                       OVER (PARTITION BY rule ORDER BY bucket_start) = 300
                  THEN 0 ELSE 1 END AS is_run_start
      FROM alarms),
    runs AS (
      SELECT bucket_start, rule, adj,
             SUM(is_run_start) OVER (PARTITION BY rule ORDER BY bucket_start)
                 AS run_id
      FROM gaps),
    fired AS (
      SELECT bucket_start, rule, adj,
             ROW_NUMBER() OVER (ORDER BY bucket_start, rule) AS i
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rule, run_id
                                         ORDER BY bucket_start) AS pos
            FROM runs)
      WHERE pos % 2 = 1),
    packed AS (
      SELECT LIST(adj ORDER BY i) AS adjs, LIST(bucket_start ORDER BY i) AS bs,
             LIST(rule ORDER BY i) AS rs
      FROM fired)
    SELECT bs[i] AS bucket_start, rs[i] AS rule,
           CAST(adjs[i] AS INTEGER) AS adjustment,
           CAST(list_reduce(list_prepend(2, adjs[1:i]),
                (acc, x) -> LEAST(20, GREATEST(0, acc + x))) AS INTEGER)
               AS new_size
    FROM packed, UNNEST(range(1, len(adjs) + 1)) AS t(i)
    """,
    doc="EP3 end-to-end IN-ENGINE: 300 s windowed metric → threshold alarms "
    "(R2/R3) → per-rule 300 s cooldown (R5) → ScalingAdjustment applied to "
    "a Min 0 / Max 20 capacity state starting at 2 (instance-group-config "
    "parity) — the whole CloudWatch+EMR control loop as one deterministic "
    "query. Sequential per-cluster fold via applyInPandas (clusters are the "
    "parallel dimension in production); oracled by a recursive CTE.",
)
def autoscale_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    m = alarm_windows(load_table(spark, sf_dir, "events"))
    alarms = (
        m.where(F.col("avg_value") <= SCALE_OUT_THRESHOLD)
        .select("bucket_start", F.lit("scale-out").alias("rule"), F.lit(5).alias("adj"))
        .unionByName(
            m.where(F.col("avg_value") > SCALE_IN_THRESHOLD).select(
                "bucket_start", F.lit("scale-in").alias("rule"), F.lit(-2).alias("adj")
            )
        )
        .withColumn("cluster_id", F.lit("j-ENGINE"))
    )

    def simulate(pdf: pd.DataFrame) -> pd.DataFrame:
        install_in_worker()
        pdf = pdf.sort_values(["bucket_start", "rule"])
        size = INITIAL_CAPACITY
        last = {"scale-out": -(10**9), "scale-in": -(10**9)}
        out = []
        for _, r in pdf.iterrows():
            t = int(r["bucket_start"])
            if t > last[r["rule"]] + COOLDOWN_SECONDS:
                last[r["rule"]] = t
                size = min(MAX_CAPACITY, max(MIN_CAPACITY, size + int(r["adj"])))
                out.append((t, r["rule"], int(r["adj"]), size))
        return pd.DataFrame(out, columns=["bucket_start", "rule", "adjustment", "new_size"])

    return alarms.groupBy("cluster_id").applyInPandas(
        simulate,
        schema="bucket_start bigint, rule string, adjustment int, new_size int",
    )


@register(
    "timeseries_gapfill_ffill",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(FLOOR(epoch(ts) / 3600) * 3600 AS BIGINT) AS b,
             (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value
      FROM events GROUP BY 1, 2),
    bounds AS (SELECT event_type, MIN(b) AS lo, MAX(b) AS hi FROM hourly GROUP BY 1),
    grid AS (
      SELECT event_type, UNNEST(generate_series(lo, hi, 3600)) AS bucket_start
      FROM bounds)
    SELECT g.event_type, g.bucket_start,
           (CAST(ROUND((LAST_VALUE(h.avg_value IGNORE NULLS) OVER (
             PARTITION BY g.event_type ORDER BY g.bucket_start
             ROWS UNBOUNDED PRECEDING)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_filled,
           (h.avg_value IS NULL) AS was_gap
    FROM grid g LEFT JOIN hourly h
      ON g.event_type = h.event_type AND g.bucket_start = h.b
    """,
    doc="Time-series gap-fill + forward-fill: dense hourly grid per key "
    "(sequence+explode), left join actual averages, carry last observation "
    "forward via last(ignorenulls). The grid explode is map-side; one "
    "shuffle for the join, one for the ffill window.",
)
def timeseries_gapfill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg((F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"))
        .select(
            F.unix_timestamp("w.start").alias("b"), "event_type", "avg_value"
        )
    )
    bounds = hourly.groupBy("event_type").agg(F.min("b").alias("lo"), F.max("b").alias("hi"))
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.lit(3600).cast("bigint"))).alias("bucket_start"),
    )
    # rename the probe side: grid and hourly share lineage (both derive from
    # `ev`), so qualified access alone is ambiguous to the analyzer
    h = hourly.withColumnRenamed("event_type", "h_type")
    joined = grid.join(
        h,
        (F.col("event_type") == F.col("h_type")) & (F.col("bucket_start") == F.col("b")),
        "left",
    ).select("event_type", "bucket_start", "avg_value")
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_start")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "event_type",
        "bucket_start",
        (F.round((F.last("avg_value", ignorenulls=True).over(w)) * 10000).cast("bigint") / 10000.0).alias("avg_filled"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


@register(
    "cooldown_suppression",
    oracle="""
    -- The greedy fire/suppress state is decidable without sequential
    -- replay (same argument as autoscale_timeline, r5 VERDICT item 2):
    -- per rule, alarms split into runs of consecutive 300 s buckets (a
    -- >300 s gap from the PREVIOUS ALARM always clears the cooldown,
    -- since last-fired <= previous alarm time, so every run head fires),
    -- and inside a run exactly the odd positions fire — fire, suppress
    -- at +300, fire at +600 from the last fire, ... That turns the
    -- whole sequential screen into two window functions.
    WITH metric AS (
      SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
             (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value
      FROM events GROUP BY 1),
    alarms AS (
      SELECT 'scale-out' AS rule, bucket_start, avg_value
      FROM metric WHERE avg_value <= 25.0
      UNION ALL
      SELECT 'scale-in', bucket_start, avg_value
      FROM metric WHERE avg_value > 75.0),
    gaps AS (
      SELECT rule, bucket_start, avg_value,
             CASE WHEN bucket_start - LAG(bucket_start)
                       OVER (PARTITION BY rule ORDER BY bucket_start) = 300
                  THEN 0 ELSE 1 END AS is_run_start
      FROM alarms),
    runs AS (
      SELECT rule, bucket_start, avg_value,
             SUM(is_run_start) OVER (PARTITION BY rule ORDER BY bucket_start)
                 AS run_id
      FROM gaps)
    SELECT rule, bucket_start, avg_value
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rule, run_id
                                       ORDER BY bucket_start) AS pos
          FROM runs)
    WHERE pos % 2 = 1
    """,
    doc="R5: cooldown — after an alarm fires, suppress further fires for "
    "300 s. Sequential per rule-key state, implemented with applyInPandas "
    "(keys scale out; the per-key scan is a linear pass). Upgraded round 6 "
    "from rows-only to oracled: the greedy fire set equals 'odd positions "
    "within runs of consecutive buckets', which SQL window functions "
    "express exactly (see oracle comment).",
)
def cooldown_suppression(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    m = alarm_windows(load_table(spark, sf_dir, "events"))
    alarms = (
        m.where(F.col("avg_value") <= SCALE_OUT_THRESHOLD)
        .select(F.lit("scale-out").alias("rule"), "bucket_start", "avg_value")
        .unionByName(
            m.where(F.col("avg_value") > SCALE_IN_THRESHOLD).select(
                F.lit("scale-in").alias("rule"), "bucket_start", "avg_value"
            )
        )
    )

    def suppress(pdf: pd.DataFrame) -> pd.DataFrame:
        install_in_worker()
        pdf = pdf.sort_values("bucket_start")
        fired, last_fire = [], None
        for t in pdf["bucket_start"]:
            # fire only if strictly past the cooldown horizon of the last fire
            if last_fire is None or t >= last_fire + COOLDOWN_SECONDS + 1:
                fired.append(True)
                last_fire = t
            else:
                fired.append(False)
        return pdf[pd.Series(fired, index=pdf.index)]

    return alarms.groupBy("rule").applyInPandas(
        suppress, schema="rule string, bucket_start bigint, avg_value double"
    )


@register(
    "stream_enrich_dim",
    oracle="""
    SELECT n_name, event_type, COUNT(*) AS n_events,
           (CAST(ROUND((AVG(value)) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_value
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name, event_type
    """,
    doc="Stream-static enrichment: the event stream joins two static dims "
    "(customer → nation) before aggregating per nation. In Structured "
    "Streaming this exact plan runs with events as readStream — "
    "stream-static joins need no watermark and the static side is "
    "re-resolved per micro-batch (picking up dim updates); both dims "
    "broadcast, so the stream side never shuffles before the aggregate. "
    "`tests/test_streaming_pipeline.py::test_stream_static_enrichment_matches_batch` "
    "runs the streaming form and asserts equality with this batch result.",
)
def stream_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return enrich_with_dims(
        ev,
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


def enrich_with_dims(events: DataFrame, customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Shared batch/streaming formulation: works identically on a batch
    events frame and a readStream one (stream-static join)."""
    return (
        events.join(F.broadcast(customer), F.col("user_id") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            (F.round((F.avg("value")) * 10000).cast("bigint") / 10000.0).alias("avg_value"),
        )
    )


def windowed_topk(events: DataFrame, k: int = 3) -> DataFrame:
    """Top-k event types per 5-minute window by count — the batch
    formulation. Streaming cannot rank inside append-mode windows (rank
    needs the finished window); the streaming form aggregates
    (window, event_type) counts with a watermark and ranks in
    ``foreachBatch`` once windows finalize — see
    tests/test_streaming_pipeline.py::test_streaming_windowed_topk.
    WindowGroupLimit keeps the batch rank from materializing full
    per-window orderings."""
    from pyspark.sql import Window

    counts = events.groupBy(
        F.window("ts", "5 minutes").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"))
    ranked = counts.select(
        F.unix_timestamp("w.start").alias("bucket_start"),
        "event_type",
        "n",
        F.row_number()
        .over(
            Window.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
        )
        .alias("rnk"),
    )
    return ranked.where(F.col("rnk") <= k)


@register(
    "windowed_topk_events",
    oracle="""
    WITH counts AS (
        SELECT CAST(FLOOR(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_start,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ), ranked AS (
        SELECT bucket_start, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY bucket_start
                                  ORDER BY n DESC, event_type) AS rnk
        FROM counts
    )
    SELECT bucket_start, event_type, n, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="Top-3 event types per 5-minute window (deterministic tie-break by "
    "type). The batch form of the streaming foreachBatch top-k pattern; "
    "one shuffle for the window counts, WindowGroupLimit for the rank.",
)
def windowed_topk_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_topk(load_table(spark, sf_dir, "events")).select(
        "bucket_start", "event_type", "n", F.col("rnk").cast("int").alias("rnk")
    )


@register(
    "timeseries_ewma",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
               list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, day,
           CAST(len(vals) AS BIGINT) AS n_points,
           (CAST(ROUND((list_reduce(vals,
                 (acc, x) -> CAST(0.3 AS DOUBLE) * x
                           + CAST(0.7 AS DOUBLE) * acc)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS ewma
    FROM s
    """,
    doc="Exponentially weighted moving average per (metric, day): a "
    "sequential recurrence y_t = a*x_t + (1-a)*y_{t-1} that no plain "
    "aggregate expresses. Implemented as an ordered array fold — "
    "collect_list(struct) -> array_sort -> aggregate() HOF — entirely "
    "JVM-side. The group key includes the day so per-group state is "
    "BOUNDED (one day of one metric), which is what makes the fold safe "
    "at 100 TB: the shuffle distributes (metric, day) groups across "
    "executors and no array exceeds a day's points. The DuckDB oracle "
    "folds the identical value sequence with list_reduce, so both "
    "engines perform the same IEEE double ops in the same order — "
    "hash-compared at 6 dp, not approximated.",
)
def timeseries_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grouped = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            F.struct("ts", "event_id", "value").alias("pt"),
        )
        .groupBy("event_type", "day")
        .agg(F.array_sort(F.collect_list("pt")).alias("pts"))
    )
    return grouped.select(
        "event_type",
        "day",
        F.size("pts").cast("bigint").alias("n_points"),
        (F.round((F.expr(
                """
                aggregate(transform(pts, s -> s.value), CAST(NULL AS DOUBLE),
                          (acc, x) -> CASE WHEN acc IS NULL THEN x
                                      ELSE CAST(0.3 AS DOUBLE) * x
                                         + CAST(0.7 AS DOUBLE) * acc END)
                """
            )) * 1000000).cast("bigint") / 1000000.0).alias("ewma"),
    )


@register(
    "timeseries_delta_of_delta",
    oracle="""
    WITH d AS (
        -- FLOOR before the BIGINT cast: DuckDB's double->int cast ROUNDS
        -- while Spark's unix_timestamp truncates (round-2 gotcha #a).
        SELECT event_type, ts, event_id,
               CAST(FLOOR(epoch(ts)) AS BIGINT)
             - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT))
                 OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dt
        FROM events
    ), dd AS (
        SELECT event_type,
               dt - LAG(dt) OVER (PARTITION BY event_type
                                  ORDER BY ts, event_id) AS dod
        FROM d
    ), bits AS (
        SELECT event_type,
               CASE WHEN dod IS NULL THEN 64
                    WHEN dod = 0 THEN 1
                    WHEN dod BETWEEN -63 AND 64 THEN 9
                    WHEN dod BETWEEN -255 AND 256 THEN 12
                    WHEN dod BETWEEN -2047 AND 2048 THEN 16
                    ELSE 36 END AS nbits,
               dod
        FROM dd
    )
    SELECT event_type,
           COUNT(*) AS n_points,
           CAST(SUM(nbits) AS BIGINT) AS bits_total,
           (CAST(ROUND((AVG(CAST(nbits AS DOUBLE))) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS avg_bits,
           (CAST(ROUND((CAST(SUM(nbits) AS DOUBLE) / (64.0 * COUNT(*))) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS ratio_vs_raw,
           CAST(SUM(CASE WHEN nbits = 1  THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_dod,
           CAST(SUM(CASE WHEN nbits = 9  THEN 1 ELSE 0 END) AS BIGINT) AS n_7bit,
           CAST(SUM(CASE WHEN nbits = 12 THEN 1 ELSE 0 END) AS BIGINT) AS n_9bit,
           CAST(SUM(CASE WHEN nbits = 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_12bit,
           CAST(SUM(CASE WHEN nbits = 36 THEN 1 ELSE 0 END) AS BIGINT) AS n_32bit
    FROM bits GROUP BY event_type
    """,
    doc="Gorilla-style timestamp compressibility report (Pelkonen et al., "
    "VLDB 2015 §4.1 — the public delta-of-delta encoding behind Facebook's "
    "in-memory TSDB, and the storage model a metrics engine like the "
    "reference would adopt at scale): per metric stream, second deltas of "
    "arrival time are bucketed into the paper's variable-width classes "
    "{0:1 bit, ±63:9, ±255:12, ±2047:16, else:36} and summed into the "
    "bits-per-point the series would cost on disk. Two stacked LAGs over "
    "one window partition — a single shuffle on event_type, then "
    "map-side arithmetic; the aggregate reuses the same partitioning so "
    "AQE coalesces it shuffle-free. Pure integer window math, "
    "hash-compared exactly.",
)
def timeseries_delta_of_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        "ts",
        "event_id",
        (F.unix_timestamp("ts") - F.lag(F.unix_timestamp("ts")).over(w)).alias("dt"),
    )
    dd = d.select(
        "event_type",
        (F.col("dt") - F.lag("dt").over(w)).alias("dod"),
    )
    nbits = (
        F.when(F.col("dod").isNull(), 64)
        .when(F.col("dod") == 0, 1)
        .when(F.col("dod").between(-63, 64), 9)
        .when(F.col("dod").between(-255, 256), 12)
        .when(F.col("dod").between(-2047, 2048), 16)
        .otherwise(36)
    )
    b = dd.select("event_type", nbits.alias("nbits"))
    return b.groupBy("event_type").agg(
        F.count("*").alias("n_points"),
        F.sum("nbits").cast("bigint").alias("bits_total"),
        (F.round((F.avg(F.col("nbits").cast("double"))) * 10000).cast("bigint") / 10000.0).alias("avg_bits"),
        (F.round((F.sum("nbits").cast("double") / (64.0 * F.count("*"))) * 10000).cast("bigint") / 10000.0).alias("ratio_vs_raw"),
        F.sum(F.when(F.col("nbits") == 1, 1).otherwise(0)).cast("bigint").alias("n_zero_dod"),
        F.sum(F.when(F.col("nbits") == 9, 1).otherwise(0)).cast("bigint").alias("n_7bit"),
        F.sum(F.when(F.col("nbits") == 12, 1).otherwise(0)).cast("bigint").alias("n_9bit"),
        F.sum(F.when(F.col("nbits") == 16, 1).otherwise(0)).cast("bigint").alias("n_12bit"),
        F.sum(F.when(F.col("nbits") == 36, 1).otherwise(0)).cast("bigint").alias("n_32bit"),
    )


@register(
    "session_windows_dynamic_gap",
    oracle="""
    WITH g AS (
        SELECT user_id, ts,
               CASE WHEN event_type = 'view' THEN 600 ELSE 1800 END AS gap_s
        FROM events WHERE user_id < 40
    ), marked AS (
        SELECT user_id, ts, gap_s,
               CASE WHEN MAX(CAST(FLOOR(epoch(ts)) AS BIGINT) + gap_s)
                         OVER (PARTITION BY user_id ORDER BY ts, gap_s
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         > CAST(FLOOR(epoch(ts)) AS BIGINT)
                    THEN 0 ELSE 1 END AS is_new
        FROM g
    ), sess AS (
        SELECT user_id, ts, gap_s,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, gap_s
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_no
        FROM marked
    )
    SELECT user_id, session_no,
           COUNT(*) AS n_events,
           CAST(MIN(FLOOR(epoch(ts))) AS BIGINT) AS first_ts
    FROM sess GROUP BY user_id, session_no
    """,
    doc="Session windows with a DYNAMIC gap (Spark 3.2+: session_window "
    "accepts a per-row gap expression — views time out after 10 min, "
    "everything else after 30): sessions merge while any member's "
    "[ts, ts+gap) interval covers the next event. The DataFrame side "
    "uses the engine's native session_window operator; the oracle "
    "replays the same merge rule as a sweep line (running MAX of "
    "interval ends decides session breaks) — the same emulation "
    "technique the fixed-gap session fuzzer pins, now with the gap as "
    "data. Sessions are numbered per user in time order so both sides "
    "produce identical keys without exposing engine-internal window "
    "bounds.",
)
def session_windows_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 40)
    gap = F.when(F.col("event_type") == "view", F.lit("10 minutes")).otherwise(
        F.lit("30 minutes")
    )
    sess = (
        ev.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.unix_timestamp(F.min("ts")).alias("first_ts"),
        )
    )
    order = Window.partitionBy("user_id").orderBy("first_ts")
    return sess.select(
        "user_id",
        F.row_number().over(order).cast("bigint").alias("session_no"),
        "n_events",
        "first_ts",
    )


@register(
    "timeseries_holt_winters",
    oracle="""
    WITH s AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day,
               list(value ORDER BY ts, event_id) AS vals
        FROM events GROUP BY 1, 2
    ), hw AS (
        -- DOUBLE[2] accumulator ([level, trend]), NOT a struct: DuckDB
        -- v1.0 evaluates struct-returning reduce lambdas by mutating the
        -- accumulator FIELD BY FIELD, so a 'b' entry that references acc.l
        -- reads the freshly-written NEW level (measured: diverges from the
        -- sequential recurrence at the 3rd element). List construction
        -- evaluates every element against the old accumulator.
        SELECT event_type, day, len(vals) AS n,
               list_reduce(
                 list_transform(vals,
                   x -> [CAST(x AS DOUBLE), CAST(0.0 AS DOUBLE)]),
                 (acc, x) -> [
                   CAST(0.4 AS DOUBLE) * x[1]
                      + CAST(0.6 AS DOUBLE) * (acc[1] + acc[2]),
                   CAST(0.3 AS DOUBLE)
                        * ((CAST(0.4 AS DOUBLE) * x[1]
                            + CAST(0.6 AS DOUBLE) * (acc[1] + acc[2])) - acc[1])
                      + CAST(0.7 AS DOUBLE) * acc[2]
                 ]) AS st
        FROM s
    )
    SELECT event_type, day,
           CAST(n AS BIGINT) AS n_points,
           (CAST(ROUND((st[1]) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS level,
           (CAST(ROUND((st[2]) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS trend,
           (CAST(ROUND((st[1] + st[2]) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS forecast_next
    FROM hw
    """,
    doc="Holt's double exponential smoothing (level + trend) per (metric, "
    "day): the two-state extension of timeseries_ewma's one-state "
    "recurrence — l_t = a*x_t + (1-a)(l+b), b_t = g*(l_t - l) + (1-g)*b, "
    "init l_0 = x_0, b_0 = 0. Same ordered-array-fold idiom, but the "
    "accumulator is a STRUCT, demonstrating that the aggregate() HOF "
    "carries arbitrary per-group state machines JVM-side (no Python, no "
    "UDAF). Group state stays day-bounded — the 100 TB safety property "
    "the EWMA doc establishes. Oracle parity tricks: (1) DuckDB's "
    "list_reduce takes no init value, so BOTH sides map each element to a "
    "full state first — the first element then IS the init state; (2) the "
    "DuckDB accumulator is a DOUBLE[2] LIST, because its struct-returning "
    "reduce lambdas mutate the accumulator field-by-field (a trend entry "
    "referencing acc.l reads the freshly-written new level — measured "
    "divergence at element 3); (3) the new-level arithmetic is textually "
    "duplicated inside the trend update on both engines so every step "
    "performs the same IEEE double ops in the same order (6 dp hash).",
)
def timeseries_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    grouped = (
        ev.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day"),
            F.struct("ts", "event_id", "value").alias("pt"),
        )
        .groupBy("event_type", "day")
        .agg(F.array_sort(F.collect_list("pt")).alias("pts"))
    )
    st = F.expr(
        """
        aggregate(
          transform(pts, s -> named_struct('l', s.value, 'b', CAST(0.0 AS DOUBLE))),
          named_struct('l', CAST(NULL AS DOUBLE), 'b', CAST(0.0 AS DOUBLE)),
          (acc, x) -> CASE WHEN acc.l IS NULL THEN x
            ELSE named_struct(
              'l', CAST(0.4 AS DOUBLE) * x.l
                 + CAST(0.6 AS DOUBLE) * (acc.l + acc.b),
              'b', CAST(0.3 AS DOUBLE)
                   * ((CAST(0.4 AS DOUBLE) * x.l
                       + CAST(0.6 AS DOUBLE) * (acc.l + acc.b)) - acc.l)
                 + CAST(0.7 AS DOUBLE) * acc.b) END)
        """
    )
    return grouped.select(
        "event_type",
        "day",
        F.size("pts").cast("bigint").alias("n_points"),
        (F.round((st.getField("l")) * 1000000).cast("bigint") / 1000000.0).alias("level"),
        (F.round((st.getField("b")) * 1000000).cast("bigint") / 1000000.0).alias("trend"),
        (F.round((st.getField("l") + st.getField("b")) * 1000000).cast("bigint") / 1000000.0).alias("forecast_next"),
    )


@register(
    "stream_late_event_audit",
    oracle="""
    WITH arr AS (
      SELECT event_id, event_type, ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS max_seen
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (
             WHERE epoch(max_seen) - epoch(ts) > 600) AS BIGINT) AS n_late,
           CAST(MAX(CAST(FLOOR(epoch(max_seen) - epoch(ts)) AS BIGINT))
                AS BIGINT) AS max_lateness_s
    FROM arr GROUP BY event_type
    """,
    doc="Watermark LATE-DATA AUDIT — the batch query you run before "
    "choosing a streaming watermark: replay the stream in arrival order "
    "(event_id is the ingest sequence for this feed), track the running "
    "max event time (exactly Spark's watermark basis), and count how "
    "many events would arrive later than a 10-minute watermark — i.e. "
    "be DROPPED by withWatermark('ts', '10 minutes') — per metric, plus "
    "the worst observed lateness. One global running-max window (the "
    "arrival-order scan is inherently a single sequence; at 100 TB the "
    "audit runs per ingest-partition, where arrival order is actually "
    "defined, making the window key the partition id), one aggregate.",
)
def stream_late_event_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    arr = ev.select(
        "event_type",
        "ts",
        F.max("ts")
        .over(Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, 0))
        .alias("max_seen"),
    )
    late_s = F.unix_timestamp("max_seen") - F.unix_timestamp("ts")
    return arr.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_if(late_s > 600).cast("bigint").alias("n_late"),
        F.max(late_s).cast("bigint").alias("max_lateness_s"),
    )


# ---------------------------------------------------------------------------
# Stream-stream joins (round 7): the one core Structured Streaming join
# capability the registry didn't yet cover.
# ---------------------------------------------------------------------------
_SSJ_INTERVAL_S = 4 * 3600  # purchase within 4 hours of the view


def view_purchase_pairs(events: DataFrame, join_type: str = "inner") -> DataFrame:
    """Shared batch/streaming stream-stream join formulation: the view
    stream joins the purchase stream on user with a time-range condition
    (purchase within 4 h of the view). In streaming BOTH sides carry
    watermarks and the range condition bounds the join state — Spark
    evicts buffered views once their join window passes the watermark;
    unmatched left-outer rows emit exactly then. ``withWatermark`` is a
    no-op in batch, so one function body serves both modes (the
    stream_enrich_dim duality pattern)."""
    v = (
        events.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            # watermarks require TIMESTAMP (not NTZ); session tz is
            # pinned UTC by the registry wrapper and the test session
            F.col("ts").cast("timestamp").alias("v_ts"),
        )
        .withWatermark("v_ts", "4 hours")
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").cast("timestamp").alias("p_ts"),
        )
        .withWatermark("p_ts", "4 hours")
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {_SSJ_INTERVAL_S} SECONDS"))
    )
    joined = v.join(p, cond, join_type)
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        ((F.unix_micros("p_ts") - F.unix_micros("v_ts")) / F.lit(1_000_000))
        .cast("bigint")
        .alias("delay_s"),
    )


@register(
    "stream_stream_interval_join",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase')
    SELECT v.user_id, v.view_id, p.purchase_id,
           CAST((epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 1000000 AS BIGINT)
               AS delay_s
    FROM v JOIN p ON v.user_id = p.user_id
     AND p.p_ts >= v.v_ts
     AND p.p_ts <= v.v_ts + INTERVAL {_SSJ_INTERVAL_S} SECONDS
    """,
    doc="Stream-stream INNER interval join: views x purchases per user "
    "with the purchase inside a 4 h window after the view — attribution "
    "pairing as a genuine two-stream join, not an as-of lookup. In "
    "streaming both sides are watermarked and the time-range condition "
    "is what BOUNDS the join state (without it the buffers grow "
    "forever); at 100 TB each side shuffles once on user_id and state "
    "eviction tracks the watermark. "
    "tests/test_streaming_pipeline.py runs this exact builder through "
    "readStream/availableNow and asserts row-set equality with batch.",
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return view_purchase_pairs(load_table(spark, sf_dir, "events"), "inner")


@register(
    "stream_stream_outer_join",
    oracle=f"""
    WITH v AS (
      SELECT user_id, event_id AS view_id, ts AS v_ts
      FROM events WHERE event_type = 'view'),
    p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase')
    SELECT v.user_id, v.view_id, p.purchase_id,
           CAST((epoch_us(p.p_ts) - epoch_us(v.v_ts)) // 1000000 AS BIGINT)
               AS delay_s
    FROM v LEFT JOIN p ON v.user_id = p.user_id
     AND p.p_ts >= v.v_ts
     AND p.p_ts <= v.v_ts + INTERVAL {_SSJ_INTERVAL_S} SECONDS
    """,
    doc="Stream-stream LEFT OUTER interval join: every view appears; "
    "unconverted views carry NULL purchase columns. The semantics only "
    "exist BECAUSE of the watermark: streaming can emit a null-padded "
    "row only once the view's 4 h join window has passed the watermark "
    "(no later purchase can arrive) — the batch form is the final "
    "fixpoint of that process. Funnel-drop analysis as a join, with "
    "state bounded exactly like the inner form.",
)
def stream_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return view_purchase_pairs(load_table(spark, sf_dir, "events"), "leftOuter")


# ---------------------------------------------------------------------------
# AR(2) autoregression + Benford screen (round 7)
# ---------------------------------------------------------------------------
_AR2_TMPL = """
    WITH s AS (
        SELECT event_type,
               CAST(FLOOR({d.epoch_frac_s} / 300) AS BIGINT) AS bucket,
               -- exact integer bucket mean: per-ROW e3 quantization,
               -- exact integer SUM, ONE correctly-rounded division.
               -- The pre-r12 form ROUND(AVG(value)*1e6) rounded a
               -- parallel double aggregate — a round-15 soak measured
               -- THREE distinct outcomes in 12 DuckDB runs on a
               -- near-constant fuzz frame (summation order decides
               -- exact midpoints; the r12 rule, retrofitted here)
               CAST(ROUND(CAST(SUM(CAST(ROUND(value * 1000) AS BIGINT))
                    AS DOUBLE) / COUNT(*)) AS BIGINT) AS x_e3
        FROM events GROUP BY 1, 2),
    lag0 AS (
        SELECT event_type, bucket, x_e3,
               LAG(x_e3, 1) OVER (PARTITION BY event_type ORDER BY bucket) AS x1_e3,
               LAG(x_e3, 2) OVER (PARTITION BY event_type ORDER BY bucket) AS x2_e3
        FROM s),
    lagged AS (
        SELECT event_type, bucket, x_e3, x1_e3, x2_e3,
               x_e3 / 1000.0 AS x,
               x1_e3 / 1000.0 AS x1,
               x2_e3 / 1000.0 AS x2
        FROM lag0),
    m AS (
        -- nine moments as EXACT integer sums over the e3 series, each
        -- converted to x-units by one division (squares <= 1e10 per
        -- term: exact int64 through ~9e8 buckets, exactly-representable
        -- doubles through ~9e5 — and past that the int64->double cast
        -- is still correctly rounded, so determinism never depends on
        -- summation order)
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x1_e3) AS DOUBLE) / 1000.0 AS s1,
               CAST(SUM(x2_e3) AS DOUBLE) / 1000.0 AS s2,
               CAST(SUM(y_e3) AS DOUBLE) / 1000.0 AS sy,
               CAST(SUM(x1_e3 * x1_e3) AS DOUBLE) / 1000000.0 AS s11,
               CAST(SUM(x1_e3 * x2_e3) AS DOUBLE) / 1000000.0 AS s12,
               CAST(SUM(x2_e3 * x2_e3) AS DOUBLE) / 1000000.0 AS s22,
               CAST(SUM(x1_e3 * y_e3) AS DOUBLE) / 1000000.0 AS s1y,
               CAST(SUM(x2_e3 * y_e3) AS DOUBLE) / 1000000.0 AS s2y
        FROM (SELECT event_type, x_e3 AS y_e3, x1_e3, x2_e3 FROM lagged
              WHERE x1_e3 IS NOT NULL AND x2_e3 IS NOT NULL) t
        GROUP BY event_type),
    solved AS (
        SELECT event_type, n, sy, s1, s2, s1y, s2y, s11, s12, s22,
               (n * (s11 * s22 - s12 * s12)
                - s1 * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s12 - s11 * s2)) AS det
        FROM m),
    coefs AS (
        SELECT event_type,
               (CAST(ROUND(((sy * (s11 * s22 - s12 * s12)
                      - s1 * (s1y * s22 - s12 * s2y)
                      + s2 * (s1y * s12 - s11 * s2y)) / det) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS a,
               (CAST(ROUND(((n * (s1y * s22 - s12 * s2y)
                      - sy * (s1 * s22 - s12 * s2)
                      + s2 * (s1 * s2y - s1y * s2)) / det) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS b,
               (CAST(ROUND(((n * (s11 * s2y - s1y * s12)
                      - s1 * (s1 * s2y - s1y * s2)
                      + sy * (s1 * s12 - s11 * s2)) / det) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS c
        FROM solved WHERE det <> 0),
    tail2 AS (
        SELECT event_type, x, rn FROM (
            SELECT event_type, x_e3 / 1000.0 AS x,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY bucket DESC) AS rn
            FROM s) t WHERE rn <= 2)
    SELECT c.event_type, c.a, c.b, c.c,
           (CAST(ROUND((c.a + c.b * lastv.x + c.c * prevv.x) * 10000) AS BIGINT) / CAST(10000 AS DOUBLE)) AS forecast_next
    FROM coefs c
    JOIN tail2 lastv ON lastv.event_type = c.event_type AND lastv.rn = 1
    JOIN tail2 prevv ON prevv.event_type = c.event_type AND prevv.rn = 2
"""


@register(
    "timeseries_ar2_forecast",
    oracle=_AR2_TMPL.format(d=DUCK),
    doc="AR(2) autoregression per metric: x_t = a + b*x_{t-1} + c*x_{t-2} "
    "fit by ordinary least squares over the 5-minute bucket series — the "
    "3x3 normal equations solved in closed form (Cramer's rule) from "
    "NINE moment aggregates, then a one-step forecast from the last two "
    "buckets. Float discipline (r15 retrofit of the r12 midpoint rule): "
    "bucket means are per-row-e3-quantized exact integer sums divided "
    "once, and every moment is an EXACT integer sum over the e3 series "
    "converted by one division — no ROUND of a parallel double "
    "aggregate anywhere, so both engines divide identical determinants "
    "regardless of summation order. Scale shape: one "
    "window pass for the lags, one aggregate for the moments — model-"
    "sized state per metric, rows never leave their metric's partition.",
)
def timeseries_ar2_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("events",))
    return spark.sql(_AR2_TMPL.format(d=SPARK))


_BENFORD_ORACLE = """
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS STRING), 1, 1)
                    AS INT) AS digit
        FROM orders WHERE o_totalprice >= 1),
    obs AS (
        SELECT digit, COUNT(*) AS cnt FROM d GROUP BY digit),
    tot AS (SELECT SUM(cnt) AS n FROM obs)
    SELECT o.digit,
           o.cnt,
           (CAST(ROUND((CAST(o.cnt AS DOUBLE) / CAST(t.n AS DOUBLE)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS observed_p,
           (CAST(ROUND((LN(1.0 + 1.0 / o.digit) / LN(10.0)) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS benford_p,
           (CAST(ROUND(((CAST(o.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) - LN(1.0 + 1.0 / o.digit) / LN(10.0))
                 * (CAST(o.cnt AS DOUBLE) / CAST(t.n AS DOUBLE) - LN(1.0 + 1.0 / o.digit) / LN(10.0))
                 / (LN(1.0 + 1.0 / o.digit) / LN(10.0))) * 1000000) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS chi2_term
    FROM obs o, tot t
"""


@register(
    "dq_benford_screen",
    oracle=_BENFORD_ORACLE,
    doc="Benford first-digit screen on order totals — the classic "
    "fabricated-data / unit-mixing detector for financial columns: "
    "observed first-digit shares vs log10(1 + 1/d) with per-digit "
    "chi-square terms. One scan, one 9-row aggregate; the integer-count "
    "ratios and a shared LN make both engines' floats identical. "
    "(Synthetic uniform-ish prices deliberately FAIL Benford — the "
    "screen's point is the deviation measurement, not conformance.)",
)
def dq_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_BENFORD_ORACLE)
