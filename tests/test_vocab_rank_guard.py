"""Round-12 closure of the r11 audit's one unbounded SinglePartition
class (vocab-ranked global sorts), r11 VERDICT item 1.

Resolution per member, asserted here:

* rewritten to ORDER BY + LIMIT (TakeOrderedAndProject — per-partition
  top-k, no global sort): text_cooccurrence_pmi, text_bm25_retrieval,
  stats_kendall_w, the unigram-LM selection CTEs, the burstiness top-20
  pick. Answers byte-identical (proven against the PRE-change oracle
  texts at the sf0.01 gate during the round; the ongoing parity gate
  keeps them pinned).
* budget-guarded (the per-rank logs / prefix sum genuinely need the
  global order): text_zipf_fit (vocabulary rank), text_heaps_law
  (document-offset prefix sum). Past GLOBAL_RANK_BUDGET rows the query
  raises loudly on BOTH engines instead of silently one-task-sorting.
* reclassified after plan inspection: text_plsa_topics' only
  SinglePartition is a scalar-subquery global SUM (single-row
  reduction); unigram's remaining rank window runs over the trained
  vocabulary (~K + charset rows); burstiness' rank window runs over
  its own 20-row LIMIT.
"""

from __future__ import annotations

import pytest

from emr_with_custom_metrics_spark import registry
from emr_with_custom_metrics_spark.dialect import DUCK, SPARK
from emr_with_custom_metrics_spark.operators.stats import (
    GLOBAL_RANK_BUDGET,
    global_rank_guard,
)
from tests.conftest import SF_SMOKE_DIR

SPECS = registry.all_specs()


def _plan(spark, name):
    df = SPECS[name].fn(spark, SF_SMOKE_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------------------
# The rewritten top-k members no longer globally sort
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "name",
    ["text_cooccurrence_pmi", "text_bm25_retrieval", "stats_kendall_w"],
)
def test_topk_members_use_take_ordered_not_global_sort(spark, name):
    plan = _plan(spark, name)
    assert "TakeOrderedAndProject" in plan, name
    # the audit's flag shape must be gone: no single-partition exchange
    # feeding a Window (global scalar aggregates don't plan Windows)
    assert not (
        "Exchange SinglePartition" in plan and "Window" in plan
    ), name


def test_unigram_selection_has_no_data_sized_global_sort(spark):
    """The candidate-piece selection runs as TakeOrderedAndProject; the
    one remaining SinglePartition window ranks the TRAINED vocabulary
    (<= K multi-char pieces + single chars), not the candidate set."""
    # the selection lives in the STAGED chain (localCheckpoint views),
    # not the final plan — assert at the SQL-template surface that the
    # candidate-sized rank window is gone from every selection CTE
    import inspect

    from emr_with_custom_metrics_spark.llm import unigram

    src = inspect.getsource(unigram)
    assert "ROW_NUMBER() OVER (ORDER BY cnt DESC, piece) AS rk" not in src
    # the one remaining rank window (the train tail's output rank) runs
    # over the trained vocabulary only: checkpointed scan + model size
    plan = _plan(spark, "text_unigram_lm_train")
    assert "Scan ExistingRDD" in plan
    rows = SPECS["text_unigram_lm_train"].fn(spark, SF_SMOKE_DIR).count()
    assert rows <= unigram._UG_KEEP + 128  # K multi-char pieces + charset


def test_burstiness_rank_window_is_model_sized(spark):
    plan = _plan(spark, "text_burstiness_dispersion")
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# The guard expression: loud past budget, silent under it, both engines
# ---------------------------------------------------------------------------


def test_guard_passes_under_budget_both_engines(spark):
    import duckdb

    sql = (
        f"SELECT r FROM (VALUES (1), ({GLOBAL_RANK_BUDGET})) t(r) "
        f"WHERE {{g}}"
    )
    out = spark.sql(sql.format(g=global_rank_guard(SPARK, "r"))).collect()
    assert len(out) == 2
    out2 = duckdb.connect().execute(
        sql.format(g=global_rank_guard(DUCK, "r"))
    ).fetchall()
    assert len(out2) == 2


def test_guard_raises_past_budget_both_engines(spark):
    import duckdb

    sql = (
        f"SELECT r FROM (VALUES (1), ({GLOBAL_RANK_BUDGET + 1})) t(r) "
        f"WHERE {{g}}"
    )
    with pytest.raises(Exception, match="globally ranked relation"):
        spark.sql(sql.format(g=global_rank_guard(SPARK, "r"))).collect()
    with pytest.raises(duckdb.Error, match="globally ranked relation"):
        duckdb.connect().execute(
            sql.format(g=global_rank_guard(DUCK, "r"))
        ).fetchall()


# ---------------------------------------------------------------------------
# The two executed dimension-ranked switches (round 12 addendum)
# ---------------------------------------------------------------------------


def _chain_flags(plan: str) -> int:
    lines = [ln.strip() for ln in plan.splitlines()]
    n = 0
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        if "Sort [" in " ".join(lines[max(0, i - 2):i]) and "Window [" in \
                " ".join(lines[max(0, i - 3):i]):
            n += 1
    return n


def test_qini_deciles_read_the_score_histogram(spark):
    """events_uplift_qini's only global-order window must consume the
    SCORE histogram (HashAggregate keyed by score), with the tie-group
    partial cums hash-partitioned BY score — never a global
    (score, user_id) sort of every user."""
    plan = _plan(spark, "events_uplift_qini")
    assert _chain_flags(plan) <= 1
    assert "hashpartitioning(score" in plan
    import re

    # the old user-sized global sort ordered (score DESC, user_id) —
    # that exact Sort shape must never reappear
    assert not re.search(
        r"Sort \[score#\d+L DESC NULLS LAST, user_id", plan
    )


def test_funnel_quantiles_read_the_latency_histogram(spark):
    plan = _plan(spark, "funnel_time_to_convert")
    assert _chain_flags(plan) <= 1
    import re

    assert not re.search(r"Sort \[delta_s#\d+L ASC NULLS FIRST, user_id", plan)
    assert re.search(r"HashAggregate\(keys=\[delta_s#\d+L\]", plan)


@pytest.mark.parametrize("name", ["text_zipf_fit", "text_heaps_law"])
def test_guarded_queries_carry_the_guard_on_both_engines(spark, name):
    """The guard string must sit in BOTH the Spark text and the DuckDB
    oracle — a one-sided guard would fire as a parity mismatch instead
    of the intended loud error."""
    oracle = SPECS[name].oracle
    assert "globally ranked relation exceeds" in oracle, name
    assert "error(" in oracle, name
    plan = _plan(spark, name)
    # Catalyst rewrites assert_true into `if (cond) true else
    # isnull(raise_error(...))` — match the rewritten form
    assert "raise_error" in plan and "globally ranked relation" in plan, name
