"""The one memo for staged relations (plans/stage_memo.staged): a hit is
the same object, each (kind, sf_dir, param) is built once per session
even under concurrent first calls, a new session starts empty, every
memo kind lands in the build ledger and the rider manifest, no module
global keeps a staged DataFrame, and the pair memos carry their stored
size to the planner. Also: rows that stage without a memo bind their
frames too, so they run side by side on threads of one session, the
query name the memo ledger reads is per thread, and ``stage_ctes``
cuts a chain by CTE name, past comments, strings and hints, and runs
each staged CTE before it returns."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from tests.conftest import SF_DIR, SF_SMOKE_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PV_RIDERS = (
    "stats_fdr_bh",
    "stats_fisher_combined",
    "stats_benjamini_yekutieli",
    "stats_holm_bonferroni",
    "stats_storey_qvalue",
)
UNIGRAM_RIDERS = ("text_unigram_lm_train", "text_unigram_lm_score")
PAIR_RIDERS = (
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_embedding_cosine",
    "graph_triangle_count",
)
# Rows that stage per call (no memo): loops and chains of checkpointed
# frames, the two rows that fan the embeddings scan, rows that stage
# CTEs by name (one cut, two cuts, a hint in the tail), and hour-count
# readers. Each binds its frames as SQL parameters.
STAGED_ROWS = (
    "ml_confusion_multiclass",
    "basket_apriori_triples",
    "embedding_pca_project",
    "embedding_intrinsic_dim",
    "embedding_anisotropy",
    "text_plsa_topics",
    "kmeans_embeddings",
    "text_textrank_keywords",
    "linkage_fellegi_sunter",
    "stats_permutation_test",
    "retrieval_mrr_eval",
    "anomaly_seasonal_residual",
    "timeseries_seasonal_decompose",
    "timeseries_changepoint_binseg",
    "timeseries_conformal_interval",
    "timeseries_matrix_profile",
    "timeseries_cross_correlation",
    "timeseries_page_hinkley",
    "spc_western_electric",
    "stats_runs_test",
    "stats_theil_sen_trend",
    "timeseries_burst_kleinberg",
)


def test_hit_is_the_same_object_and_built_once(spark):
    from emr_with_custom_metrics_spark.plans import stage_memo

    fresh = spark.newSession()
    calls = []

    def build():
        calls.append(1)
        return fresh.range(3)

    a = stage_memo.staged(fresh, "test_kind", SF_SMOKE_DIR, 7.0, build)
    b = stage_memo.staged(fresh, "test_kind", SF_SMOKE_DIR, 7.0, build)
    assert a is b
    assert len(calls) == 1
    # another param, another sf_dir, another session: each its own build
    stage_memo.staged(fresh, "test_kind", SF_SMOKE_DIR, 8.0, build)
    stage_memo.staged(fresh, "test_kind", SF_DIR, 7.0, build)
    assert len(calls) == 3
    other = fresh.newSession()
    c = stage_memo.staged(other, "test_kind", SF_SMOKE_DIR, 7.0, build)
    assert c is not a and len(calls) == 4
    assert stage_memo.BUILD_SECS[("test_kind", 7.0)] > 0.0


def test_ledger_key_uses_the_registry_sf_parser(spark):
    from emr_with_custom_metrics_spark.plans import stage_memo
    from emr_with_custom_metrics_spark.registry import _sf_of

    fresh = spark.newSession()
    stage_memo.staged(fresh, "test_sf_key", SF_SMOKE_DIR, None, lambda: 1)
    stage_memo.staged(fresh, "test_sf_key", "/tmp/fixture", None, lambda: 2)
    assert ("test_sf_key", _sf_of(SF_SMOKE_DIR)) in stage_memo.BUILD_SECS
    assert ("test_sf_key", 1.0) in stage_memo.BUILD_SECS  # fixture dir


def test_concurrent_first_calls_build_once(spark):
    from emr_with_custom_metrics_spark.plans import stage_memo

    fresh = spark.newSession()
    n = 16  # more threads than cores
    gate = threading.Barrier(n, timeout=30)
    calls = []

    def build():
        calls.append(1)
        time.sleep(0.01)
        return object()

    def ask(i):
        gate.wait()
        return stage_memo.staged(fresh, "test_race", SF_SMOKE_DIR, float(i % 2), build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(n) as pool:
            got = [f.result(timeout=60) for f in [pool.submit(ask, i) for i in range(n)]]
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 2  # one build per key, however many callers race
    assert all(g is got[i % 2] for i, g in enumerate(got))


def test_unigram_build_is_ledgered_and_riders_recorded(spark):
    from emr_with_custom_metrics_spark.plans import stage_memo
    from emr_with_custom_metrics_spark.registry import all_specs

    fresh = spark.newSession()
    key = ("unigram", 0.001)
    before = stage_memo.BUILD_SECS.get(key, 0.0)
    specs = all_specs()
    for name in UNIGRAM_RIDERS:
        specs[name].fn(fresh, SF_SMOKE_DIR).count()
        assert name in stage_memo.RIDERS
    mid = stage_memo.BUILD_SECS[key]
    assert mid > before
    specs["text_unigram_lm_train"].fn(fresh, SF_SMOKE_DIR).count()
    assert stage_memo.BUILD_SECS[key] == mid  # memo hit: no second build


def test_memo_hits_leave_no_staging_views(spark):
    """Memo consumers bind the staged frame as a SQL parameter; none of
    the old shared staging names is left in the session catalog."""
    from emr_with_custom_metrics_spark.registry import all_specs

    fresh = spark.newSession()
    specs = all_specs()
    for name in PV_RIDERS + UNIGRAM_RIDERS:
        specs[name].fn(fresh, SF_SMOKE_DIR).count()
    views = {t.name for t in fresh.catalog.listTables() if t.isTemporary}
    assert not {v for v in views if v == "st_welch_pv" or v.startswith("ug_")}
    assert not {v for v in views if v.startswith("_pyspark_")}


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_thread_pool_matches_serial(spark):
    """Eleven memo riders and twenty-two per-call staged rows, each twice,
    on a 4-thread pool in ONE fresh session (so the first builds race
    too) return their serial rows."""
    from emr_with_custom_metrics_spark.registry import all_specs

    specs = all_specs()
    names = PV_RIDERS + UNIGRAM_RIDERS + PAIR_RIDERS + STAGED_ROWS
    serial = {n: _rows(specs[n].fn(spark, SF_SMOKE_DIR)) for n in names}
    fresh = spark.newSession()
    with ThreadPoolExecutor(4) as pool:
        got = list(
            pool.map(lambda n: (n, _rows(specs[n].fn(fresh, SF_SMOKE_DIR))), names * 2)
        )
    for name, rows in got:
        assert rows == serial[name], name


# Comments hold a parenthesis and a quote, a literal holds a
# parenthesis, a hint holds a parenthesis; `b` and `c` each read the CTE
# before them twice, and the final query reads `a` and `c`.
_CHAIN = """
    -- the first CTE ) is ' a literal
    WITH a AS (
        SELECT id, CASE WHEN id % 3 = 0 THEN 'x)' ELSE 'y' END AS tag
        FROM range(40)
    ), b AS (
        SELECT /*+ BROADCAST(a2) */ a1.id, a1.tag  -- ) and ' here too
        FROM a a1 JOIN a a2 ON a1.id = a2.id
    ), c AS (
        SELECT tag, COUNT(*) AS n FROM b GROUP BY tag
        UNION ALL SELECT 'all', COUNT(*) FROM b
    )
    SELECT c.tag, c.n, (SELECT COUNT(*) FROM a) AS total FROM c
"""


def test_stage_ctes_two_cuts_match_the_one_statement(spark):
    from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes

    got = stage_ctes(spark, _CHAIN, "a", "c")
    assert _rows(got) == _rows(spark.sql(_CHAIN))
    assert _rows(got) == [("all", 40, 40), ("x)", 14, 40), ("y", 26, 40)]


def test_stage_ctes_materializes_before_it_returns(spark):
    """Every staged CTE is checkpointed eagerly: before any action on
    the returned frame, each checkpoint it reads has already run, so no
    job of the first action can be the one that materializes it."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from audit_plan_patterns import checkpoint_rdds

    from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes

    got = stage_ctes(spark, _CHAIN, "a", "b")
    rdds = checkpoint_rdds(got)
    assert len(rdds) == 2  # `b` under `c`, `a` in the scalar subquery
    assert all(r.isCheckpointedAndMaterialized() for r in rdds)
    assert _rows(got) == _rows(spark.sql(_CHAIN))


def test_stage_ctes_binds_a_frame_in_place_of_its_cte(spark):
    from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes

    got = stage_ctes(spark, _CHAIN, "c", a=spark.range(3).selectExpr("id", "'z' AS tag"))
    assert _rows(got) == [("all", 3, 3), ("z", 3, 3)]


def test_stage_ctes_names_the_cte_it_cannot_cut(spark):
    import pytest

    from emr_with_custom_metrics_spark.plans.stage_memo import stage_ctes

    with pytest.raises(ValueError, match="'tag'"):
        stage_ctes(spark, _CHAIN, "tag")  # a column, not a CTE
    with pytest.raises(ValueError, match="'a'"):
        stage_ctes(spark, _CHAIN, "c", "a")
    with pytest.raises(ValueError, match="'d'"):
        stage_ctes(spark, _CHAIN, d=spark.range(1))


def test_current_query_is_per_thread(spark):
    """Two registered functions on two threads, both inside their
    wrapper at once: each sees its own name, and each name is gone
    once its call returns."""
    from emr_with_custom_metrics_spark import registry

    gate = threading.Barrier(2, timeout=30)

    def probe(spark, sf_dir):
        gate.wait()  # both calls are now inside the wrapper
        seen = registry.current_query()
        gate.wait()  # neither returns before both have looked
        return seen

    calls = {n: registry._pin_utc(probe, n) for n in ("q_one", "q_two")}
    with ThreadPoolExecutor(2) as pool:
        got = {n: pool.submit(fn, spark, SF_SMOKE_DIR) for n, fn in calls.items()}
        assert {n: f.result(timeout=60) for n, f in got.items()} == {
            "q_one": "q_one", "q_two": "q_two",
        }
        assert pool.submit(registry.current_query).result() is None
    assert registry.current_query() is None



def test_perf_conf_snapshot_is_per_session(spark):
    """Small-SF perf confs are restored from the snapshot of the session
    they were set on: a large-SF query on another session neither takes
    that snapshot nor leaves the first session pinned."""
    from emr_with_custom_metrics_spark import registry

    call = registry._pin_utc(lambda s, d: None, "q_conf")
    keys = list(registry._PERF_CONF_SMALL_SF)
    call(spark, "/data/sf1")  # restore anything an earlier test left pinned
    before = {k: spark.conf.get(k) for k in keys}
    mine = {
        "spark.sql.shuffle.partitions": "13",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.codegen.wholeStage": "true",
    }
    other = spark.newSession()
    try:
        for k, v in mine.items():
            spark.conf.set(k, v)
        other_before = {k: other.conf.get(k) for k in keys}
        call(spark, "/data/sf0.01")
        assert {k: spark.conf.get(k) for k in keys} == registry._PERF_CONF_SMALL_SF
        call(other, "/data/sf0.1")
        assert {k: other.conf.get(k) for k in keys} == other_before
        call(spark, "/data/sf0.1")
        assert {k: spark.conf.get(k) for k in keys} == mine
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)

def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_triangle_plan_broadcasts_the_small_pair_memo(spark):
    from emr_with_custom_metrics_spark.registry import all_specs

    plan = _plan(all_specs()["graph_triangle_count"].fn(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_stored_bytes_is_the_stored_size_and_none_before_storage(spark):
    from emr_with_custom_metrics_spark.plans import stage_memo

    df = spark.range(0, 5000, numPartitions=3).selectExpr("id", "id * 2 AS b")
    lazy = df.localCheckpoint(eager=False)
    # nothing stored yet: no figure, so no hint
    assert stage_memo.stored_bytes(lazy) is None
    assert stage_memo.broadcast_if_stored_small(lazy) is lazy

    eager = df.localCheckpoint(eager=True)
    got = stage_memo.stored_bytes(eager)
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    rid = eager._jdf.queryExecution().analyzed().rdd().id()
    (info,) = [i for i in sc.getRDDStorageInfo() if i.id() == rid]
    assert got == info.memSize() + info.diskSize() > 0


def test_pair_memo_over_threshold_keeps_sort_merge_joins(spark):
    from emr_with_custom_metrics_spark.registry import all_specs

    fresh = spark.newSession()
    fresh.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")  # bytes
    plan = _plan(all_specs()["graph_triangle_count"].fn(fresh, SF_DIR))
    assert "SortMergeJoin" in plan


_STOP_SCRIPT = textwrap.dedent(
    """
    import json, sys, types
    from pyspark.sql import DataFrame
    from emr_with_custom_metrics_spark.session import get_spark
    from emr_with_custom_metrics_spark.registry import all_specs

    spark = get_spark(app_name="stage-memo-stop", master="local[2]")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_specs()
    for name in sys.argv[2:]:
        specs[name].fn(spark, sys.argv[1]).count()
    spark.stop()

    def holds(v, depth=0):
        if isinstance(v, DataFrame):
            return True
        if depth < 2 and isinstance(v, (dict, list, tuple, set)):
            items = v.values() if isinstance(v, dict) else v
            return any(holds(x, depth + 1) for x in items)
        return False

    found = [
        f"{m}.{k}"
        for m, mod in list(sys.modules.items())
        if m.startswith("emr_with_custom_metrics_spark") and isinstance(mod, types.ModuleType)
        for k, v in vars(mod).items()
        if holds(v)
    ]
    print(json.dumps(found))
    """
)


def test_no_module_global_holds_a_staged_frame_after_stop():
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    rows = ["stats_fdr_bh", "text_unigram_lm_train", "graph_triangle_count",
            "dedup_ngram_jaccard", "similarity_ivfpq_tradeoff"]
    p = subprocess.run(
        [sys.executable, "-c", _STOP_SCRIPT, SF_SMOKE_DIR, *rows],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-2000:]
    assert json.loads(p.stdout.strip().splitlines()[-1]) == []
