"""JDBC connector surface (SURVEY.md §2A.1 "other connectors", optional).

Spark's built-in JDBC source does the heavy lifting; these helpers encode
the SCALE discipline around it — a naive ``spark.read.jdbc(url, table)``
is a single-connection full-table pull through one executor, which is the
#1 way to turn a 1000-executor cluster into one busy JDBC socket:

* PARALLEL reads require an explicit partitioning scheme: a numeric/date
  ``partitionColumn`` with bounds (``read_partitioned``) or hand-written
  mutually-exclusive ``predicates`` (``read_by_predicates``) — one DB
  query per partition, all executors pulling concurrently.
* ``fetchsize`` defaults low on most drivers (10 for Oracle!); thousands
  of row round-trips dominate otherwise.
* Filter/column pushdown works through the source (Catalyst pushes
  predicates into the generated WHERE clause) — project/filter BEFORE
  any action, as with parquet.
* Writes batch via ``batchsize`` and must bound ``numPartitions``: every
  write partition is a live connection; 2000 tasks = 2000 connections =
  a down database.

Round 10: pyspark's default classpath ships EMBEDDED DERBY (it backs
the Hive metastore), so the end-to-end path is exercisable here after
all — ``jdbc_roundtrip_derby`` below is a fully oracled registered
query through a real in-process database. For external engines
(sqlite/postgres/...) whose jars are genuinely absent, tests still pin
the wiring to the driver-class boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    lower_bound: int,
    upper_bound: int,
    num_partitions: int,
    fetchsize: int = 10_000,
    driver: str | None = None,
    **properties: str,
) -> DataFrame:
    """Range-partitioned parallel JDBC scan: Spark issues one query per
    stride of ``partition_column`` ∈ [lower_bound, upper_bound). Bounds
    only steer the split points — rows outside still arrive (in the edge
    partitions), so correctness never depends on them being tight."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower_bound))
        .option("upperBound", str(upper_bound))
        .option("numPartitions", str(num_partitions))
        .option("fetchsize", str(fetchsize))
    )
    if driver:
        reader = reader.option("driver", driver)
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def read_by_predicates(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str],
    fetchsize: int = 10_000,
    driver: str | None = None,
    **properties: str,
) -> DataFrame:
    """Predicate-partitioned parallel scan for non-numeric split keys:
    each WHERE-clause string becomes one partition's query. The caller
    owns mutual exclusivity and completeness — overlapping predicates
    DUPLICATE rows, gaps DROP them."""
    props = {"fetchsize": str(fetchsize), **properties}
    if driver:
        props["driver"] = driver
    return spark.read.jdbc(url, table, predicates=predicates, properties=props)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    max_connections: int = 16,
    driver: str | None = None,
    **properties: str,
) -> None:
    """Batched JDBC write with a connection ceiling: the frame is coalesced
    to ``max_connections`` partitions first — write parallelism IS the
    connection count, and databases fall over long before Spark does."""
    writer = (
        df.coalesce(max_connections)
        .write.format("jdbc")
        .mode(mode)
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if driver:
        writer = writer.option("driver", driver)
    for k, v in properties.items():
        writer = writer.option(k, v)
    writer.save()


# ---------------------------------------------------------------------------
# End-to-end roundtrip through embedded Derby (round 10)
# ---------------------------------------------------------------------------
# pyspark ships Derby on its default classpath (jars/derby-10.16.*.jar —
# it backs the Hive metastore), so the driver-class boundary the earlier
# rounds stopped at is actually crossable in THIS container with zero
# installs: jdbc:derby:<path>;create=true + org.apache.derby.jdbc
# .EmbeddedDriver gives a real in-process SQL database. The registered
# query exercises the full connector surface — batched write with a
# connection ceiling, then a RANGE-PARTITIONED parallel read back — and
# the answer is oracled like any other query, making the JDBC path a
# first-class green row rather than a tested-to-the-boundary note.

_DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

_JDBC_ORACLE = """
    SELECT o_orderstatus AS status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS revenue_cents
    FROM orders GROUP BY o_orderstatus
"""


def _register_jdbc_roundtrip() -> None:
    from pyspark.sql import functions as F

    from emr_with_custom_metrics_spark.catalog import load_table
    from emr_with_custom_metrics_spark.registry import register
    from emr_with_custom_metrics_spark.sources.reference_pipeline import scratch

    @register(
        "jdbc_roundtrip_derby",
        oracle=_JDBC_ORACLE,
        doc="End-to-end JDBC connector roundtrip through EMBEDDED Derby "
        "(on pyspark's default classpath — no install): the per-status "
        "order aggregate is written with the batched connection-ceiling "
        "writer (write_jdbc: coalesce bounds live connections), then "
        "read back as a RANGE-PARTITIONED parallel scan "
        "(read_partitioned on the cents column, 4 strides) and "
        "re-aggregated. The oracle prices the same aggregate straight "
        "off parquet, so any write/read corruption, type mangling, or "
        "partition-boundary row loss in the JDBC path is a hash "
        "mismatch. Scale posture: the helpers ARE the posture — "
        "parallel reads require explicit stride bounds, writes cap "
        "connections at coalesce(N); at 100 TB only the aggregate "
        "(5 rows here) should ever transit JDBC, and that is what this "
        "query ships across it.",
    )
    def jdbc_roundtrip_derby(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os
        import shutil

        agg = (
            load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .alias("revenue_cents"),
            )
        )
        base = os.path.basename(sf_dir.rstrip("/")) or "sf"
        path = scratch(f"derby_{base}")
        shutil.rmtree(path, ignore_errors=True)
        url = f"jdbc:derby:{path}/db;create=true"
        write_jdbc(
            agg, url, "order_rev", mode="overwrite",
            max_connections=2, driver=_DERBY_DRIVER,
        )
        lo, hi = 0, 10_000_000_000
        return read_partitioned(
            spark, url, "order_rev", "revenue_cents", lo, hi, 4,
            driver=_DERBY_DRIVER,
        ).select(
            F.col("status"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        )


_register_jdbc_roundtrip()


# ---------------------------------------------------------------------------
# Second JDBC engine: DuckDB over its JDBC driver (round 13)
# ---------------------------------------------------------------------------
# The rounds-old env-gate note said "no second JDBC engine jar" — but a
# duckdb_jdbc jar ships in this container's local coursier artifact
# cache, and round-13 probing found the full path to first-class green:
# (1) discover the jar with a GENERIC recursive glob over the standard
# local artifact caches (no repository host baked into source), (2)
# inject it into Spark's MutableURLClassLoader at runtime — the context
# classloader IS mutable in a live session, so a vanilla driver session
# needs no spark.jars conf, and Spark's JDBC DriverRegistry resolves
# the class through the same loader, (3) pre-create the target table
# via a directly-instantiated driver (DriverManager refuses drivers
# from child classloaders) because the driver's table-existence probe
# (SELECT 1 FROM t WHERE 1=0) raises a non-standard SQLSTATE that
# Spark 4's classifyException treats as fatal rather than
# table-missing, then (4) write mode=append (the table now exists) and
# read back range-partitioned.


def _find_duckdb_jdbc_jar() -> str | None:
    import glob as _glob
    import os as _os

    for root in ("~/.cache/coursier", "~/.ivy2", "~/.m2"):
        hits = _glob.glob(
            _os.path.join(
                _os.path.expanduser(root), "**", "duckdb_jdbc*.jar"
            ),
            recursive=True,
        )
        if hits:
            # Newest by mtime, not lexicographic (r13 ADVICE: sorted()
            # picks "1.9" over "1.10" when multiple versions are
            # cached) — the most recently fetched artifact is the one
            # the environment's own tooling resolved last.
            return max(hits, key=_os.path.getmtime)
    return None


_DUCKDB_DRIVER = "org.duckdb.DuckDBDriver"
_DUCKDB_JAR_ATTACHED: set[str] = set()  # applicationIds already injected


def _attach_duckdb_jar(spark: SparkSession) -> None:
    # LOCAL-SESSION-ONLY by design (r13 ADVICE): the jar is injected
    # into the DRIVER thread's context classloader, which executors in
    # local mode share. In a multi-JVM deployment executor-side JDBC
    # partition reads could not load org.duckdb.DuckDBDriver this way —
    # a cluster submit must ship the jar via spark.jars / --jars
    # instead (sc.addJar alone does not help Spark's DriverRegistry on
    # executors either; the conf route is the supported one).
    jar = _find_duckdb_jdbc_jar()
    if jar is None:  # loud env boundary, never a silent wrong answer
        raise FileNotFoundError(
            "duckdb_jdbc jar not found in local artifact caches "
            "(~/.cache/coursier, ~/.ivy2, ~/.m2) — jdbc_roundtrip_duckdb "
            "needs the second-engine driver jar. NOTE: runtime "
            "classloader injection only works in local mode; on a real "
            "cluster pass the jar via spark.jars at submit time."
        )
    app = spark.sparkContext.applicationId
    if app in _DUCKDB_JAR_ATTACHED:
        return
    jvm = spark._jvm
    cl = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    cl.addURL(jvm.java.net.URL("file:" + jar))
    _DUCKDB_JAR_ATTACHED.add(app)


def _duckdb_driver_connect(spark: SparkSession, url: str):
    """A live java.sql.Connection from a directly-instantiated driver
    (bypasses DriverManager's caller-classloader visibility rule)."""
    jvm = spark._jvm
    gw = spark.sparkContext._gateway
    cl = jvm.java.lang.Thread.currentThread().getContextClassLoader()
    cls = cl.loadClass(_DUCKDB_DRIVER)
    ctor = cls.getDeclaredConstructor(gw.new_array(jvm.java.lang.Class, 0))
    drv = ctor.newInstance(gw.new_array(jvm.java.lang.Object, 0))
    return drv.connect(url, jvm.java.util.Properties())


def _register_jdbc_roundtrip_duckdb() -> None:
    from pyspark.sql import functions as F

    from emr_with_custom_metrics_spark.catalog import load_table
    from emr_with_custom_metrics_spark.registry import register
    from emr_with_custom_metrics_spark.sources.reference_pipeline import scratch

    @register(
        "jdbc_roundtrip_duckdb",
        oracle=_JDBC_ORACLE,
        doc="End-to-end JDBC roundtrip through a SECOND engine — DuckDB "
        "over its JDBC driver, discovered in the container's local "
        "artifact caches and injected into Spark's mutable context "
        "classloader at runtime (a vanilla driver session needs no "
        "spark.jars conf). Closes the rounds-old 'no second JDBC "
        "engine jar' env gate. The same per-status order aggregate as "
        "jdbc_roundtrip_derby transits: pre-create DDL via a directly-"
        "instantiated driver (Spark 4's table-existence probe "
        "misclassifies DuckDB's SQLSTATE), single-connection batched "
        "append (DuckDB is single-writer), then a range-partitioned "
        "4-stride parallel read back — multiple in-process read "
        "connections are legal. Oracled against parquet like the Derby "
        "row, so type mangling or partition-boundary row loss in "
        "either engine's path is a hash mismatch.",
    )
    def jdbc_roundtrip_duckdb(spark: SparkSession, sf_dir: str) -> DataFrame:
        import os as _os

        _attach_duckdb_jar(spark)
        agg = (
            load_table(spark, sf_dir, "orders")
            .groupBy(F.col("o_orderstatus").alias("status"))
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
                .alias("revenue_cents"),
            )
        )
        base = _os.path.basename(sf_dir.rstrip("/")) or "sf"
        path = _os.path.join(scratch("duckjdbc"), f"{base}.db")
        for suffix in ("", ".wal"):
            try:
                _os.remove(path + suffix)
            except OSError:
                pass
        url = f"jdbc:duckdb:{path}"
        con = _duckdb_driver_connect(spark, url)
        try:
            st = con.createStatement()
            st.execute(
                "CREATE TABLE order_rev ("
                "status VARCHAR, n_orders BIGINT, revenue_cents BIGINT)"
            )
            st.close()
        finally:
            con.close()
        write_jdbc(
            agg, url, "order_rev", mode="append",
            max_connections=1, driver=_DUCKDB_DRIVER,
        )
        lo, hi = 0, 10_000_000_000
        return read_partitioned(
            spark, url, "order_rev", "revenue_cents", lo, hi, 4,
            driver=_DUCKDB_DRIVER,
        ).select(
            F.col("status"),
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        )


_register_jdbc_roundtrip_duckdb()
