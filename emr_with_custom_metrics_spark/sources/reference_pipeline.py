"""The reference's entire batch ETL surface, as engine operators.

Reference job (scripts/spark_converter.py:25-31): read headered TSV from S3
all-string (S1) → groupBy(category).count() (A1) → show() (X1) →
repartition(10) (P1) → overwrite parquet (S2). ~31 LoC; reproduced here as a
parameterized library pipeline plus fixes the reference missed:

* the input was scanned TWICE (SURVEY.md §4.1); we scan it once, then
  count from a one-column read of the written parquet,
* ``repartition(10)`` forces a round-robin shuffle just to control file
  count; at 100 TB the right lever is AQE coalescing +
  ``spark.sql.files.maxRecordsPerFile`` (SURVEY.md §4.2) — both supported.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark.catalog import load_table
from emr_with_custom_metrics_spark.dialect import DUCK, Dialect, SPARK
from emr_with_custom_metrics_spark.registry import register


_ROOTS: dict[int, str] = {}
_ROOTS_LOCK = threading.Lock()


def scratch(name: str) -> str:
    """``name``'s scratch directory under this process's own root in the
    temp dir (``spark_graft_<pid>_*``), made on first use and removed at
    exit: two processes never share a path, and ``mode("overwrite")``
    bounds disk at one copy per name per live process. The returned
    DataFrames read lazily from it, so it must outlive the call."""
    pid = os.getpid()
    with _ROOTS_LOCK:
        if pid not in _ROOTS:  # a forked child makes its own root
            root = _ROOTS[pid] = tempfile.mkdtemp(prefix=f"spark_graft_{pid}_")
            # a forked child inherits this handler; only the maker removes
            atexit.register(lambda: os.getpid() == pid and shutil.rmtree(root, True))
    d = os.path.join(_ROOTS[pid], name)
    os.makedirs(d, exist_ok=True)
    return d


def read_tsv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S1: headered TSV scan. With no schema, parity with the reference —
    every column StringType (reference spark_converter.py:25 passes neither
    inferSchema nor schema)."""
    reader = spark.read.option("sep", "\t").option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def category_counts(df: DataFrame, group_col: str) -> DataFrame:
    """A1: the reference's one query — count rows per category."""
    return df.groupBy(group_col).agg(F.count("*").alias("cnt"))


def convert(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    group_col: str = "product_category",
    num_output_files: int = 10,
    use_aqe_file_sizing: bool = False,
) -> DataFrame:
    """The full S1→A1→X1→P1→S2 pipeline (reference spark_converter.py:25-31).

    Scans the TSV once, in the write, and caches nothing. The returned
    counts (X1's show() became a returned DataFrame) are a lazy group-by
    over the group column of the written parquet, so they read
    ``output_path`` when evaluated: overwriting it first invalidates them.
    """
    df = read_tsv(spark, input_path)
    if use_aqe_file_sizing:
        # Scale path: let AQE size the shuffle, bound file size at the sink.
        df.write.mode("overwrite").option("maxRecordsPerFile", 5_000_000).parquet(output_path)
    else:
        # Parity path: fixed fan-out like the reference's repartition(10).
        df.repartition(num_output_files).write.mode("overwrite").parquet(output_path)
    written = spark.read.schema(df.schema).parquet(output_path).select(group_col)
    return category_counts(written, group_col)


@register(
    "formats_csv_roundtrip",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS cnt, (CAST(ROUND((SUM(o_totalprice)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_price
    FROM orders GROUP BY o_orderpriority
    """,
    doc="CSV round-trip: write orders as headered TSV, read back with an "
    "explicit schema, aggregate — exercises S1 semantics on engine-written "
    "data (values survive the text format).",
)
def formats_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tmp = scratch("csv_roundtrip")
    path = f"{tmp}/orders_tsv"
    o.write.mode("overwrite").option("sep", "\t").option("header", "true").csv(path)
    back = (
        spark.read.option("sep", "\t")
        .option("header", "true")
        .schema("o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
        .csv(path)
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("cnt"), (F.round((F.sum("o_totalprice")) * 100).cast("bigint") / 100.0).alias("sum_price")
    )


@register(
    "formats_json_roundtrip",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt, (CAST(ROUND((SUM(value)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_value
    FROM events WHERE event_id < 2000 GROUP BY event_type
    """,
    doc="JSON lines round-trip: write → read with schema → aggregate.",
)
def formats_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") < 2000).select(
        "event_id", "event_type", "value"
    )
    tmp = scratch("json_roundtrip")
    path = f"{tmp}/events_json"
    ev.write.mode("overwrite").json(path)
    back = spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE").json(path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("cnt"), (F.round((F.sum("value")) * 100).cast("bigint") / 100.0).alias("sum_value")
    )


@register(
    "formats_orc_roundtrip",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS cnt, (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_qty
    FROM lineitem WHERE l_orderkey < 500 GROUP BY l_returnflag
    """,
    doc="ORC round-trip (column-pruned, pushdown-capable alternate format).",
)
def formats_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 500).select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    tmp = scratch("orc_roundtrip")
    path = f"{tmp}/lineitem_orc"
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_returnflag").agg(
        F.count("*").alias("cnt"), (F.round((F.sum("l_quantity")) * 100).cast("bigint") / 100.0).alias("sum_qty")
    )


def should_run_on_master(instance_info: dict) -> bool:
    """Op M7: the reference's master-only guard (grep isMaster
    /mnt/var/lib/info/instance.json, reference scripts/
    setup-custom-metrics.sh:4-12) — driver-side orchestration, expressed as
    a pure predicate over the parsed instance document."""
    return bool(instance_info.get("isMaster", False))


@register(
    "formats_text_roundtrip",
    oracle="""
    SELECT COUNT(*) AS n_lines,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len
    FROM documents WHERE doc_id < 200
    """,
    doc="Text-format round-trip: one line per row out, one row per line "
    "back — the rawest source/sink pair (log-file ingestion shape).",
)
def formats_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    tmp = scratch("text_roundtrip")
    path = f"{tmp}/docs_text"
    d.select(F.col("text").alias("value")).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    return back.agg(
        F.count("*").alias("n_lines"),
        F.sum(F.length("value")).cast("bigint").alias("total_chars"),
        F.min(F.length("value")).cast("bigint").alias("min_len"),
    )


@register(
    "parquet_partitioned_write",
    oracle="""
    SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS cnt
    FROM orders GROUP BY 1, 2
    """,
    doc="Partitioned parquet layout (partitionBy year): the write shape that "
    "enables static + dynamic partition pruning at 100 TB. Reads back only "
    "via the partition column to prove pruning-compatible layout.",
)
def parquet_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    tmp = scratch("pq_part")
    path = f"{tmp}/orders_by_year"
    # repartition on the partition column first: one task (and one file) per
    # partition instead of every shuffle task writing a sliver of every
    # year — 7 files, not up to 7 x n_tasks. The small-files discipline
    # maintenance_compact_small_files exists to repair, applied at write
    # time where it is free.
    o.repartition("order_year").write.mode("overwrite").partitionBy(
        "order_year"
    ).parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderpriority", F.col("order_year").cast("int").alias("order_year")).agg(
        F.count("*").alias("cnt")
    )


@register(
    "parquet_dpp_prune",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT CAST(YEAR(l_shipdate) AS INTEGER) AS y
      FROM lineitem WHERE l_shipdate < TIMESTAMP '2000-01-01 00:00:00'
    )
    SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders
    FROM orders JOIN dim ON CAST(YEAR(o_orderdate) AS INTEGER) = y
    GROUP BY 1, 2
    """,
    doc="Dynamic partition pruning over the partitioned layout "
    "``parquet_partitioned_write`` produces (r5 VERDICT item 6; SURVEY "
    "§4.3): orders partitioned by year join a dim of pre-2000 ship-years "
    "— the dim's SELECTIVE FILTER sits directly "
    "over its scan (a post-aggregate filter does not qualify as a "
    "pruning filter to Catalyst's PartitionPruning rule; measured while "
    "building this), so Catalyst injects a DynamicPruningExpression into "
    "the partitioned scan's PartitionFilters and the 2000/2001 "
    "partitions' files are never opened. At 100 TB that is the "
    "difference between scanning five years and scanning seven. The "
    "plan property is asserted in tests/test_plan_properties.py.",
)
def parquet_dpp_prune(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    tmp = scratch("pq_dpp")
    path = f"{tmp}/orders_by_year"
    # single file per partition (see parquet_partitioned_write)
    o.repartition("order_year").write.mode("overwrite").partitionBy(
        "order_year"
    ).parquet(path)
    back = spark.read.parquet(path)

    dim = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") < F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select(F.year("l_shipdate").cast("int").alias("y"))
        .distinct()
    )
    return (
        back.join(F.broadcast(dim), F.col("order_year") == F.col("y"))
        .groupBy("o_orderpriority", F.col("order_year").cast("int").alias("order_year"))
        .agg(F.count("*").alias("n_orders"))
    )


@register(
    "formats_xml_roundtrip",
    oracle="""
    SELECT s_nationkey, COUNT(*) AS cnt, (CAST(ROUND((SUM(s_acctbal)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_bal
    FROM supplier GROUP BY s_nationkey
    """,
    doc="XML round-trip through Spark 4's built-in XML source (spark-xml "
    "was folded into core in 4.0): write supplier rows as <supplier> "
    "elements, read back with an explicit schema + rowTag, aggregate. "
    "XML is the interchange format the reference's EMR ecosystem meets "
    "in config/feed form; values must survive element text encoding.",
)
def formats_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:

    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    tmp = scratch("xml_roundtrip")
    path = f"{tmp}/supplier_xml"
    (
        s.write.mode("overwrite")
        .format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "supplier")
        .schema("s_suppkey BIGINT, s_nationkey INT, s_acctbal DOUBLE")
        .load(path)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("cnt"), (F.round((F.sum("s_acctbal")) * 100).cast("bigint") / 100.0).alias("sum_bal")
    )


def write_bucketed_pair(spark: SparkSession, sf_dir: str, buckets: int = 8) -> tuple[str, str]:
    """Write orders + lineitem as BUCKETED tables on the join key.

    Bucketing is the layout that makes repeated large-to-large joins free of
    their dominant cost: both sides hash-partitioned into the same number of
    buckets on ``orderkey`` AT WRITE TIME, so every later join/aggregate on
    that key reads co-located buckets and Catalyst plans a SortMergeJoin
    with NO Exchange on either side (asserted in
    tests/test_plan_properties.py). At 100 TB this converts the nightly
    fact-to-fact join from a full network shuffle of both tables into a
    local merge per bucket — the single biggest recurring saving a
    warehouse layout decision can buy. saveAsTable is required (bucket
    metadata lives in the catalog, not the files); the in-memory catalog
    keeps the sandbox clean of Hive state, and option("path") keeps data in
    a tempdir instead of ./spark-warehouse."""

    tmp = scratch("bucketed")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_quantity"
    )

    def _write(job: tuple[DataFrame, str, str]) -> None:
        df, name, key = job
        (
            df.write.mode("overwrite")
            .option("path", f"{tmp}/{name}")
            .bucketBy(buckets, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )

    # Opt r15 (guide §2.6): the two bucketed writes are independent
    # jobs; submitting both lets the lineitem write's tail back-fill
    # cores the (much smaller) orders write frees instead of running
    # the writes back to back.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _write,
                (
                    (o, "ewcm_orders_bkt", "o_orderkey"),
                    (li, "ewcm_lineitem_bkt", "l_orderkey"),
                ),
            )
        )
    return "ewcm_orders_bkt", "ewcm_lineitem_bkt"


@register(
    "bucketed_join_no_shuffle",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Join over the bucketed layout written by write_bucketed_pair: "
    "orderkey-bucketed orders x lineitem merge bucket-to-bucket with no "
    "exchange on either join input. The oracle joins the ORIGINAL "
    "parquet tables — bucketing is purely physical, so the answers must "
    "hash-match exactly; the plan property (0 Exchanges under the join) "
    "is asserted separately in tests/test_plan_properties.py.",
)
def bucketed_join_no_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ot, lt = write_bucketed_pair(spark, sf_dir)
    o = spark.table(ot)
    li = spark.table(lt)
    joined = o.join(li, o.o_orderkey == li.l_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_items"),
        F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
        .cast("double")
        .alias("sum_price"),
    )


@register(
    "formats_parquet_schema_evolution",
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o_orderkey >= 1000 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_priority,
           CAST(SUM(CASE WHEN o_orderkey >= 1000 THEN 1 ELSE 0 END)
              - COUNT(CASE WHEN o_orderkey >= 1000
                           THEN o_orderpriority END) AS BIGINT) AS n_null_priority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
    FROM orders
    """,
    doc="Schema evolution on a parquet lake: an early batch written with "
    "two columns, a later batch with a third (o_orderpriority), read "
    "back in ONE scan with mergeSchema=true — the old files surface the "
    "new column as NULL. This is the steady state of any long-lived "
    "100 TB dataset (columns arrive mid-history; rewriting petabytes to "
    "backfill is not an option), and the reader must reconcile footers "
    "per-file instead of trusting the first one. The oracle recomputes "
    "the same null pattern from the key split that defined the batches.",
)
def formats_parquet_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders")
    tmp = scratch("pq_evolve")
    # batch 1: the early schema (no priority column), keys < 1000
    (
        o.where(F.col("o_orderkey") < 1000)
        .select("o_orderkey", "o_totalprice")
        .write.mode("overwrite")
        .parquet(f"{tmp}/data/b1")
    )
    # batch 2: the evolved schema, keys >= 1000
    (
        o.where(F.col("o_orderkey") >= 1000)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite")
        .parquet(f"{tmp}/data/b2")
    )
    back = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(f"{tmp}/data")
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum((F.col("o_orderkey") >= 1000).cast("int")).cast("bigint").alias(
            "n_with_priority"
        ),
        F.sum(
            ((F.col("o_orderkey") >= 1000) & F.col("o_orderpriority").isNull()).cast(
                "int"
            )
        )
        .cast("bigint")
        .alias("n_null_priority"),
        F.sum(F.col("o_totalprice").cast("decimal(12,2)")).cast("double").alias(
            "sum_price"
        ),
    )


@register(
    "maintenance_compact_small_files",
    oracle="""
    SELECT CAST(64 AS BIGINT) AS n_files_before,
           CAST(4 AS BIGINT) AS n_files_after,
           COUNT(*) AS n_rows,
           (CAST(ROUND((SUM(l_quantity)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS sum_qty
    FROM lineitem WHERE l_orderkey < 2000
    """,
    doc="Small-file compaction, the unglamorous op that keeps a 100 TB "
    "lake usable: streaming/CDC ingestion leaves thousands of KB-sized "
    "files whose per-file open/footer cost dominates scans, so a "
    "maintenance pass rewrites them into few large files. Here a 64-file "
    "layout is rewritten to 4 via round-robin repartition, and the "
    "query MEASURES both file counts from the engine's _metadata hidden "
    "column (count distinct _metadata.file_path) rather than trusting "
    "the writer — the oracle pins the measured counts AND the row/value "
    "parity, so the compaction provably lost nothing. In production the "
    "target count comes from bytes/128 MB, not a constant.",
)
def maintenance_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 2000).select(
        "l_orderkey", "l_quantity"
    )
    tmp = scratch("compact")
    li.repartition(64).write.mode("overwrite").parquet(f"{tmp}/small")
    small = spark.read.parquet(f"{tmp}/small")
    before = small.select(
        F.count_distinct(F.col("_metadata.file_path")).alias("n_files_before")
    )
    small.repartition(4).write.mode("overwrite").parquet(f"{tmp}/compacted")
    compacted = spark.read.parquet(f"{tmp}/compacted")
    after = compacted.agg(
        F.count_distinct(F.col("_metadata.file_path")).alias("n_files_after"),
        F.count("*").alias("n_rows"),
        (F.round((F.sum("l_quantity")) * 100).cast("bigint") / 100.0).alias("sum_qty"),
    )
    return before.crossJoin(after).select(
        "n_files_before", "n_files_after", "n_rows", "sum_qty"
    )


@register(
    "formats_binaryfile_scan",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
                AS BIGINT) AS checksum
    FROM documents GROUP BY source
    """,
    doc="binaryFile ingestion path — how raw corpus/media files enter the "
    "engine before any decoder runs (the multimodal tier's upstream): "
    "documents are written as a PARTITIONED text layout (distributed "
    "write, one file per source via repartition-on-the-partition-column — "
    "no driver loop), then re-ingested with the binaryFile data source "
    "using pathGlobFilter + recursiveFileLookup, whole-file content "
    "decoded and split back into records, partition identity recovered "
    "from the path (recursiveFileLookup disables partition-column "
    "inference, so the path regexp IS the contract). The per-source "
    "aggregate is file-layout-independent — count, chars, and an md5-"
    "derived content checksum hold whether a source arrives as one file "
    "or fifty, which is what makes the oracle (recomputed straight from "
    "the documents table) valid for any writer parallelism. At 100 TB "
    "binaryFile is the pattern for image/audio corpora: one row per "
    "object, content never leaves the executor that read it.",
)
def formats_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:

    d = load_table(spark, sf_dir, "documents").select("text", "source")
    tmp = scratch("binaryfile_scan")
    path = f"{tmp}/docs_txt"
    d.repartition("source").write.mode("overwrite").partitionBy("source").text(path)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    lines = back.select(
        F.regexp_extract("path", "source=([^/]+)", 1).alias("source"),
        F.explode(F.split(F.decode("content", "UTF-8"), "\n")).alias("text"),
    ).where(F.length("text") > 0)
    return lines.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("checksum"),
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) clustering layout + data-skipping measurement
# ---------------------------------------------------------------------------
def _interleave_sql(zx: str, zy: str, bits: int, d: Dialect) -> str:
    """Bit-interleave SQL: x bits at even positions, y bits at odd (Spark
    SQL right-shifts with shiftright(); DuckDB has the >> operator)."""
    if d is SPARK:
        shift_fn = lambda c, i: f"shiftright({c}, {i})"  # noqa: E731
    else:
        shift_fn = lambda c, i: f"({c} >> {i})"  # noqa: E731
    terms = []
    for i in range(bits):
        terms.append(f"(({shift_fn(zx, i)}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({shift_fn(zy, i)}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)




@register(
    "maintenance_zorder_layout",
    # Pruning unit = partition directory (value-addressed, so the layout
    # is closed-form); the scanned-unit decision uses the DATA min/max
    # within each unit — exactly what parquet row-group / file skipping
    # evaluates — recomputed here by the oracle from the same arithmetic.
    oracle=f"""
    WITH b AS (
      SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
             MIN(o_orderdate) AS mind, MAX(o_orderdate) AS maxd
      FROM orders),
    s AS (
      SELECT o_totalprice,
             ((o_custkey - minc) * 255) // (maxc - minc) AS zx,
             (DATE_DIFF('day', mind, o_orderdate) * 255)
               // DATE_DIFF('day', mind, maxd) AS zy
      FROM orders CROSS JOIN b),
    z AS (
      SELECT o_totalprice, zx, zy,
             ({_interleave_sql("zx", "zy", 8, DUCK)}) // 4096 AS zfile,
             zy // 16 AS lfile
      FROM s),
    zparts AS (
      SELECT zfile, MIN(zx) AS x0, MAX(zx) AS x1, MIN(zy) AS y0, MAX(zy) AS y1
      FROM z GROUP BY zfile),
    lparts AS (
      SELECT lfile, MIN(zx) AS x0, MAX(zx) AS x1, MIN(zy) AS y0, MAX(zy) AS y1
      FROM z GROUP BY lfile),
    hit AS (
      SELECT COUNT(*) AS rows_matched,
             (CAST(ROUND((SUM(o_totalprice)) * 100) AS BIGINT) / CAST(100 AS DOUBLE)) AS revenue_matched
      FROM z WHERE zx BETWEEN 64 AND 127 AND zy BETWEEN 128 AND 191)
    SELECT
      (SELECT COUNT(*) FROM z) AS n_rows,
      (SELECT COUNT(*) FROM zparts) AS n_units_zorder,
      (SELECT COUNT(*) FROM zparts
        WHERE x1 >= 64 AND x0 <= 127 AND y1 >= 128 AND y0 <= 191)
        AS scanned_zorder,
      (SELECT COUNT(*) FROM lparts) AS n_units_linear,
      (SELECT COUNT(*) FROM lparts
        WHERE x1 >= 64 AND x0 <= 127 AND y1 >= 128 AND y0 <= 191)
        AS scanned_linear,
      (SELECT rows_matched FROM hit) AS rows_matched,
      (SELECT revenue_matched FROM hit) AS revenue_matched
    """,
    doc="Z-ORDER data layout — the multi-dimensional data-skipping "
    "pattern (Delta OPTIMIZE ZORDER BY / Hudi clustering): orders are "
    "laid out by the Morton interleave of (customer, order-day) scaled "
    "to 8 bits each, written as a REAL partitioned parquet layout (16 "
    "value-addressed units = the top 4 interleaved bits, a 4x4 grid "
    "over both dimensions), and a 2-D box predicate (1/4 of each "
    "dimension) is evaluated against each unit's DATA min/max — the "
    "exact decision parquet file/row-group skipping makes. The same "
    "box is measured against a single-dimension (date-sorted) layout: "
    "z-order must scan FEWER units because linear layouts cannot prune "
    "the second dimension (asserted in tests/test_plan_properties.py). "
    "At 100 TB this is the table-maintenance operator that makes "
    "min/max skipping effective for multi-dimensional workloads; the "
    "scaling/interleave arithmetic is pure integer math, so layout AND "
    "skipping decisions are exactly SQL-oracle-able.",
)
def maintenance_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    b = o.agg(
        F.min("o_custkey").alias("minc"),
        F.max("o_custkey").alias("maxc"),
        F.min("o_orderdate").alias("mind"),
        F.max("o_orderdate").alias("maxd"),
    )
    s = o.crossJoin(F.broadcast(b)).select(
        "o_totalprice",
        F.expr("((o_custkey - minc) * 255) div (maxc - minc)").alias("zx"),
        F.expr(
            "(datediff(o_orderdate, mind) * 255) div datediff(maxd, mind)"
        ).alias("zy"),
    )
    z = s.select(
        "o_totalprice",
        "zx",
        "zy",
        F.expr(f"({_interleave_sql('zx', 'zy', 8, SPARK)}) div 4096").alias("zfile"),
        F.expr("zy div 16").alias("lfile"),
    )
    tmp = scratch("zorder")
    z.write.partitionBy("zfile").mode("overwrite").parquet(f"{tmp}/zorder")
    z.write.partitionBy("lfile").mode("overwrite").parquet(f"{tmp}/linear")
    zread = spark.read.parquet(f"{tmp}/zorder")
    lread = spark.read.parquet(f"{tmp}/linear")

    def unit_stats(df: DataFrame, unit: str) -> DataFrame:
        return df.groupBy(unit).agg(
            F.min("zx").alias("x0"),
            F.max("zx").alias("x1"),
            F.min("zy").alias("y0"),
            F.max("zy").alias("y1"),
        )

    overlap = (
        (F.col("x1") >= 64)
        & (F.col("x0") <= 127)
        & (F.col("y1") >= 128)
        & (F.col("y0") <= 191)
    )
    zstats = unit_stats(zread, "zfile").agg(
        F.count("*").alias("n_units_zorder"),
        F.sum(overlap.cast("long")).alias("scanned_zorder"),
    )
    lstats = unit_stats(lread, "lfile").agg(
        F.count("*").alias("n_units_linear"),
        F.sum(overlap.cast("long")).alias("scanned_linear"),
    )
    hit = zread.where(
        F.col("zx").between(64, 127) & F.col("zy").between(128, 191)
    ).agg(
        F.count("*").alias("rows_matched"),
        (F.round((F.sum("o_totalprice")) * 100).cast("bigint") / 100.0).alias("revenue_matched"),
    )
    total = zread.agg(F.count("*").alias("n_rows"))
    return (
        total.crossJoin(zstats)
        .crossJoin(lstats)
        .crossJoin(hit)
        .select(
            "n_rows",
            "n_units_zorder",
            "scanned_zorder",
            "n_units_linear",
            "scanned_linear",
            "rows_matched",
            "revenue_matched",
        )
    )


@register(
    "corpus_jsonl_gz_ingest",
    # Layout-independent per-source aggregate (same contract as
    # formats_binaryfile_scan): count, chars, and an md5-derived content
    # checksum survive any writer parallelism; all_gz pins that every
    # physical file actually went through the gzip codec.
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS sum_chars,
           CAST(SUM(CAST(('0x' || substr(md5(text), 1, 12)) AS BIGINT))
                AS BIGINT) AS checksum,
           TRUE AS all_gz
    FROM documents GROUP BY source
    """,
    doc="Gzipped JSON-Lines ingestion — THE interchange format LLM "
    "corpora actually ship in (one JSON object per line, .jsonl.gz "
    "shards): documents round-trip through a real compressed JSONL "
    "layout (distributed write with the gzip codec, schema-pinned read "
    "back), and the per-source aggregate md5-checksums the recovered "
    "text so any serialization/escaping/codec bug breaks the hash; "
    "all_gz verifies from _metadata.file_path that every shard really "
    "is a .gz file. Scale note: gzip shards are NOT splittable — one "
    "shard = one task — so shard count must track cluster parallelism "
    "at write time; the write here repartitions by source for exactly "
    "that reason (the sharding dial, demonstrated).",
)
def corpus_jsonl_gz_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    tmp = scratch("jsonl_gz")
    path = f"{tmp}/docs_jsonl"
    d.repartition("source").write.mode("overwrite").option(
        "compression", "gzip"
    ).json(path)
    back = spark.read.schema(
        "doc_id BIGINT, text STRING, lang STRING, source STRING"
    ).json(path)
    return back.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("sum_chars"),
        F.sum(F.conv(F.substring(F.md5("text"), 1, 12), 16, 10).cast("bigint"))
        .cast("bigint")
        .alias("checksum"),
        (
            F.count_distinct(
                F.when(
                    F.col("_metadata.file_path").endswith(".gz"),
                    F.col("_metadata.file_path"),
                )
            )
            == F.count_distinct(F.col("_metadata.file_path"))
        ).alias("all_gz"),
    )
