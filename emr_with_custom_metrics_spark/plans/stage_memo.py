"""One memo for staged relations, one way to stage a CTE, and the two
rules for every staged relation.

Every staged relation, memo or not, is checkpointed eagerly (a bare
``localCheckpoint()``), so it runs as its own step before any consumer
reads it. A lazy one runs inside the first consumer's jobs, and when a
broadcast and a shuffle stage get there at once Spark's DAG scheduler
can deadlock (``doCheckpoint`` holds ``RDDCheckpointData`` and waits
for the RDD; the scheduler holds the RDD and waits for the other).

The second rule: a staged relation is a value. The code that
stages it keeps the DataFrame and hands it to the SQL that reads it as
a parameter (``spark.sql("... FROM {pv}", pv=df)``; the text then runs
through ``str.format``, so a literal brace in it must be doubled) or
reads it through the DataFrame API. It never names it in the session
catalog: a temp view is a side effect that any other query in the
session can re-point, and the only session views are the base tables
``catalog.register_views`` writes.

Some relations are pure deterministic functions of ``(kind, sf_dir,
param)`` and feed MANY registered queries: llm/dedup's pair sets (the
cosine GEMM and the shingle-Jaccard join), the Welch |z|/p-value
relation of the multiple-testing family (operators/wave9c), the IVF-PQ
index (operators/wave15c) and the trained unigram vocabulary
(llm/unigram). The memo rule for them:

* :func:`staged` builds an entry at most once per SparkSession and keeps
  it in a dict hung on that session object, keyed ``(kind, sf_dir,
  param)`` — the rule ``catalog._memoized`` applies to the relation and
  scan-width memos. Entries die with their session; ``newSession()``
  starts empty. No module global holds a staged DataFrame, so there is
  no stale-session eviction to get wrong.
* A hit returns the SAME object, bound by the rule above, so two
  queries on threads of one session cannot re-point each other's
  input.
* A per-key lock makes concurrent first callers wait for one build.
  Every build runs its checkpoint jobs, so its whole cost, execution
  included, lands in the ledger below.

Spark inlines a WITH chain at every reference, so a CTE that several
later CTEs read is re-run once per reader. :func:`stage_ctes` runs the
same chain text the DuckDB oracle runs and stages the CTEs it is told
to by name. The cut rule: each named CTE, in chain order, runs as ``WITH
<the CTEs cut so far as x AS (SELECT * FROM {x})>, <the CTEs since the
last cut, through this one> SELECT * FROM name`` behind a
``localCheckpoint``; a frame passed under a CTE's name replaces that
CTE and cuts the chain there too; the final statement is the cut CTEs
as ``SELECT * FROM {x}``, every CTE after the last cut and the final
query. A CTE after a cut that reads one before it fails Spark's
analysis, so a wrong cut is loud.

Two process-wide ledgers are written here, so bench.py can keep per-row
times leg-comparable:

* ``BUILD_SECS[(kind, param)]`` — cumulative wall-clock spent building;
  ``param`` is the caller's parameter (a pair threshold) or, when it is
  None, the scale factor ``registry._sf_of(sf_dir)``. bench.py subtracts
  any build that occurred inside a timed run and reports the total as
  its own ``pair_memo`` record line; ``BUILD_SECS[unigram]`` includes
  execution, so that line also holds the two unigram rows' chain.
* ``RIDERS`` — registered queries that asked for a staged relation,
  recorded at plan-construction time via ``registry.current_query()``
  so the transparency manifest is derived from actual calls.
"""

from __future__ import annotations

import re
import threading
import time
from collections.abc import Callable
from typing import Any, TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from emr_with_custom_metrics_spark import registry

_T = TypeVar("_T")

BUILD_SECS: dict[tuple[str, float], float] = {}
RIDERS: set[str] = set()

_ATTR = "_graft_stage_memo"
# Guards slot creation, the per-session dict and the ledger; a build
# holds only its own slot's lock.
_LOCK = threading.Lock()


class _Slot:
    __slots__ = ("lock", "built", "value")

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.built = False
        self.value: Any = None


def note_rider() -> None:
    q = registry.current_query()
    if q is not None:
        RIDERS.add(q)


def _slots(spark: SparkSession) -> dict[tuple, _Slot]:
    memo = getattr(spark, _ATTR, None)
    if memo is None:
        memo = {}
        try:
            setattr(spark, _ATTR, memo)
        except AttributeError:  # exotic session proxy: build per call
            pass
    return memo


def staged(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    param: float | None,
    build: Callable[[], _T],
) -> _T:
    """``build()`` memoized per (session, kind, sf_dir, param)."""
    note_rider()
    key = (kind, sf_dir, param)
    with _LOCK:
        slot = _slots(spark).setdefault(key, _Slot())
    with slot.lock:
        if not slot.built:
            t0 = time.perf_counter()
            slot.value = build()
            slot.built = True
            ledger = (kind, registry._sf_of(sf_dir) if param is None else float(param))
            with _LOCK:
                BUILD_SECS[ledger] = BUILD_SECS.get(ledger, 0.0) + (
                    time.perf_counter() - t0
                )
    return slot.value


def stored_bytes(df: DataFrame) -> int | None:
    """Bytes one copy of ``df``'s checkpointed RDD occupies in the block
    managers, or None when some partition is not stored.

    The figure comes from the block manager master, which every task
    reports its stored blocks to before it ends, so once an eager
    checkpoint has returned, all of its blocks are counted. (Spark's
    ``getRDDStorageInfo`` reads the UI status store instead, which the
    listener bus fills after the job, so its answer depends on how far
    that thread has got.) One RPC per partition; no job.
    """
    jvm = df.sparkSession._jvm
    rdd = df._jdf.queryExecution().analyzed().rdd()
    master = df.sparkSession.sparkContext._jsc.sc().env().blockManager().master()
    total = 0
    for i in range(rdd.getNumPartitions()):
        block = jvm.org.apache.spark.storage.RDDBlockId(rdd.id(), i)
        holders = master.getBlockStatus(block, False).values().iterator()
        copy = None
        while holders.hasNext():
            s = holders.next()
            copy = max(copy or 0, s.memSize() + s.diskSize())
        if copy is None:
            return None
        total += copy
    return total


def broadcast_if_stored_small(df: DataFrame) -> DataFrame:
    """``df`` (an eager localCheckpoint) under ``F.broadcast`` when its
    :func:`stored_bytes` are at most ``spark.sql.autoBroadcastJoinThreshold``.

    A checkpointed frame is a ``LogicalRDD`` that reports the size
    estimate of the plan it came from, which for a thresholded pair join
    can be five orders of magnitude above the rows it kept; the block
    manager's figure is the real one and costs no job. A hinted side
    always becomes the build side, so only relations that are joined as
    the smaller side should come through here.
    """
    stored = stored_bytes(df)
    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return F.broadcast(df) if stored is not None and stored <= limit else df


_CTE_HEAD = re.compile(r"(\w+)\s+AS\s*\(", re.IGNORECASE)


def _skip(text: str, i: int) -> int:
    """Index past whitespace, ``--`` and ``/* */`` comments from ``i``."""
    while i < len(text):
        if text[i].isspace():
            i += 1
        elif text.startswith("--", i):
            j = text.find("\n", i)
            i = len(text) if j < 0 else j
        elif text.startswith("/*", i):
            i = text.index("*/", i + 2) + 2
        else:
            break
    return i


def _close(text: str, i: int) -> int:
    """Index past the parenthesis that closes the one open at ``i``,
    skipping quoted strings and comments."""
    depth = 0
    while i < len(text):
        c = text[i]
        if c in "'\"`":
            i += 1
            while text[i] != c:
                i += 2 if text[i] == "\\" else 1
        elif text.startswith(("--", "/*"), i):
            i = _skip(text, i) - 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parenthesis in the WITH chain")


def _ctes(text: str) -> list[tuple[str, int, int]]:
    """``(name, start, end)`` of each top-level CTE: ``text[start:end]``
    is ``name AS (...)``."""
    i = _skip(text, 0)
    if not re.match(r"WITH\b", text[i:], re.IGNORECASE):
        raise ValueError("the text does not start with a WITH chain")
    out = []
    i += 4
    while True:
        start = _skip(text, i)
        m = _CTE_HEAD.match(text, start)
        if not m:
            raise ValueError(f"no 'name AS (' at offset {start} of the WITH chain")
        i = _close(text, m.end() - 1)
        out.append((m.group(1), start, i))
        j = _skip(text, i)
        if not text.startswith(",", j):
            return out
        i = j + 1


def stage_ctes(
    spark: SparkSession, text: str, *names: str, **frames: DataFrame
) -> DataFrame:
    """``spark.sql(text)`` with the CTEs in ``names`` staged and the
    CTEs in ``frames`` replaced by the frames given, cut by the rule in
    the module docstring. A statement goes through ``str.format`` only
    when it binds a frame."""
    ctes = _ctes(text)
    pos = {name: k for k, (name, _, _) in enumerate(ctes)}
    for name in (*names, *frames):
        if name not in pos:
            raise ValueError(f"{name!r} is not a top-level CTE of the text")
    for a, b in zip(names, names[1:]):
        if pos[b] <= pos[a]:
            raise ValueError(f"{b!r} is named after {a!r} but comes before it in the chain")
    if set(names) & set(frames):
        raise ValueError(f"{sorted(set(names) & set(frames))} both staged and bound")

    head = text[: ctes[0][1]]
    bound: dict[str, DataFrame] = {}

    def run(ctes_and_query: str) -> DataFrame:
        if not bound:
            return spark.sql(head + ctes_and_query)
        cut = ", ".join(f"{x} AS (SELECT * FROM {{{x}}})" for x in bound)
        return spark.sql(head + cut + ctes_and_query, **bound)

    since, end = 0, ctes[0][1]
    for k in sorted(pos[n] for n in (*names, *frames)):
        name, _, end = ctes[k]
        if name in frames:
            bound[name] = frames[name]
        else:
            body = text[ctes[since][1]:end] + f" SELECT * FROM {name}"
            bound[name] = run((", " if bound else "") + body).localCheckpoint()
        since = k + 1
    return run(text[end:])
