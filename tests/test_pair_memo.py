"""The round-9 pair-generation memo: reuse must be bit-identical,
keyed strictly by (session, sf_dir, kind, threshold) — a cache
collision across sf_dirs or thresholds would silently serve the wrong
graph to eight operators."""

from __future__ import annotations

from tests.conftest import SF_SMOKE_DIR

SF_001 = "/root/testdata/sf0.01"


def test_cosine_memo_hits_same_key(spark):
    from emr_with_custom_metrics_spark.llm.dedup import embedding_cosine_pairs

    a = embedding_cosine_pairs(spark, SF_SMOKE_DIR, threshold=0.3)
    b = embedding_cosine_pairs(spark, SF_SMOKE_DIR, threshold=0.3)
    assert a is b  # memo hit returns the SAME checkpointed frame


def test_cosine_memo_misses_across_threshold_and_sf(spark):
    from emr_with_custom_metrics_spark.llm.dedup import embedding_cosine_pairs

    base = embedding_cosine_pairs(spark, SF_SMOKE_DIR, threshold=0.3)
    other_thr = embedding_cosine_pairs(spark, SF_SMOKE_DIR, threshold=0.4)
    other_sf = embedding_cosine_pairs(spark, SF_001, threshold=0.3)
    assert base is not other_thr
    assert base is not other_sf
    # 0.4 edges are a strict subset of 0.3 edges
    n3, n4 = base.count(), other_thr.count()
    assert n4 <= n3
    only = other_thr.join(base, ["a_id", "b_id"], "left_anti").count()
    assert only == 0


def test_rider_manifest_derived_from_calls(spark):
    """bench.py's memo_riders manifest is DERIVED: registering a brand-new
    query that consumes the pair memo lands it in RIDERS the
    moment it runs, with bench.py untouched (r11 VERDICT item 3 done
    criterion). Direct helper calls outside a registered query must NOT
    pollute the manifest."""
    from emr_with_custom_metrics_spark import registry
    from emr_with_custom_metrics_spark.llm.dedup import shingle_jaccard_pairs_cached
    from emr_with_custom_metrics_spark.plans.stage_memo import RIDERS

    name = "synthetic_rider_for_manifest_test"
    assert name not in RIDERS

    # Outside any registered query: current_query() is None -> no entry.
    before = set(RIDERS)
    shingle_jaccard_pairs_cached(spark, SF_SMOKE_DIR, 0.5)
    assert set(RIDERS) == before

    @registry.register(name, oracle="SELECT 1 AS one")
    def _synthetic(sp, sf_dir):
        return shingle_jaccard_pairs_cached(sp, sf_dir, 0.5)

    try:
        registry.all_specs()[name].fn(spark, SF_SMOKE_DIR).count()
        assert name in RIDERS
    finally:
        registry._REGISTRY.pop(name, None)
        RIDERS.discard(name)


def test_known_riders_recorded_when_run(spark):
    """A real registered consumer (dedup_clusters rides the jaccard memo)
    shows up after one run — the derived set matches what the old
    hardcoded bench list claimed for it."""
    from emr_with_custom_metrics_spark.plans.stage_memo import RIDERS
    from emr_with_custom_metrics_spark.registry import all_specs

    all_specs()["dedup_clusters"].fn(spark, SF_SMOKE_DIR).count()
    assert "dedup_clusters" in RIDERS


def test_jaccard_memo_rows_match_uncached(spark):
    from emr_with_custom_metrics_spark.catalog import load_table
    from emr_with_custom_metrics_spark.llm.dedup import (
        _shingle_sets,
        jaccard_pairs,
        shingle_jaccard_pairs_cached,
    )

    cached = shingle_jaccard_pairs_cached(spark, SF_SMOKE_DIR, 0.5)
    fresh = jaccard_pairs(
        _shingle_sets(load_table(spark, SF_SMOKE_DIR, "documents")), 0.5
    )
    a = sorted(map(tuple, cached.collect()))
    b = sorted(map(tuple, fresh.collect()))
    assert a == b
