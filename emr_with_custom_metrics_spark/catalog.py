"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table under an ``sf_dir``.

At 100 TB these would be partitioned/bucketed parquet or Iceberg tables; the
loaders keep the access path declarative (``spark.read.parquet``) so Catalyst
retains predicate pushdown, column pruning, and partition pruning on every
downstream query regardless of the physical layout behind the path.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any scale factor. At 100 TB
# the facts (lineitem/orders/events/documents) grow; these stay tiny.
BROADCAST_TABLES: frozenset[str] = frozenset({"region", "nation", "supplier", "part"})

_T = TypeVar("_T")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table. Plain parquet scan → full pushdown/pruning.

    ``events.ts`` is TIMESTAMP(NANOS) on disk (FIXTURES.md §8), which
    Spark's reader rejects; with ``spark.sql.legacy.parquet.nanosAsLong``
    it arrives as int64 nanos and is truncated to a µs timestamp here —
    the same ns→µs truncation DuckDB applies, so event-time results stay
    oracle-comparable.

    The resolved scan RELATION is memoized per (session, sf_dir, name) —
    metadata/plan caching only, the same role a table catalog plays at
    100 TB (guide §6: repeated file listing/footer reads are pure
    overhead; Iceberg/Delta solve it with manifests, a catalog with a
    relation cache). Measured locally each fresh ``spark.read.parquet``
    costs ~0.12 s of listing + footer + py4j before any computation; at
    ~350 call sites × best-of-2 this was ~15% of the whole bench. No DATA
    is cached: every action still scans parquet; DataFrames are immutable
    so sharing the relation is safe. The memo dies with the session
    object.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return _memoized(
        spark, "_graft_table_plan_memo", (sf_dir, name),
        lambda: _read_table(spark, sf_dir, name),
    )


def _memoized(spark: SparkSession, attr: str, key: tuple[str, str], build: Callable[[], _T]) -> _T:
    """``build()`` memoized in a dict hung on the session object as
    ``attr``; unmemoized on a session proxy that refuses new
    attributes."""
    memo = getattr(spark, attr, None)
    if memo is None:
        memo = {}
        try:
            setattr(spark, attr, memo)
        except AttributeError:  # exotic session proxy: skip memoization
            return build()
    if key not in memo:
        memo[key] = build()
    return memo[key]


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # integer division — float division drifts a µs at int64-nanos scale
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_fanned(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a table for per-row work that dwarfs its scan (shingling,
    vector math, Arrow/pandas decode), round-robin repartitioned to
    ``defaultParallelism`` only when the scan has fewer partitions.

    A round-robin repartition is a full shuffle at any scale and caps the
    output at ``defaultParallelism`` partitions, so it pays only where it
    adds parallelism: a local table is one parquet row group, which would
    pin the stage on one core. A scan at least as wide as the cluster
    (every table at 100 TB, in thousands of splits) comes back untouched.
    The partition count is read once per (session, sf_dir, table), like
    the relation memo of :func:`load_table`. Cheap per-row work (a light
    Python kernel), or a fan feeding an exchange straight away, should
    read :func:`load_table` instead.
    """
    df = load_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    width = _memoized(
        spark, "_graft_scan_width_memo", (sf_dir, name),
        lambda: df.rdd.getNumPartitions(),
    )
    return df if width >= n else df.repartition(n)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES) -> None:
    """Register temp views so ``spark.sql`` queries see the same catalog the
    DuckDB oracle does (driver pre-registers identical view names).

    The base tables are the only session views the engine writes, and
    only here, each under its own name over the plain scan. A relation a
    query stages (a checkpoint, a fanned scan) is bound into its SQL as
    a parameter instead (``plans/stage_memo``).

    Always re-registers: with the relation memoized above, a
    ``createOrReplaceTempView`` is a cheap catalog update (no file
    listing, no footer read), and an earlier skip-if-registered memo
    proved unsound — the session catalog is caller-mutable (tests and
    interactive users drop temp views), so the engine must not assume a
    view it registered once is still there."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
