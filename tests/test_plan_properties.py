"""Physical-plan assertions: the 100 TB posture, checked mechanically.

Correctness says the answer is right; these say the PLAN is right —
filters reach the parquet scan, projections prune columns, small dims
broadcast, window batteries share one exchange, top-k avoids global sorts.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from emr_with_custom_metrics_spark import registry
from emr_with_custom_metrics_spark.catalog import load_table
from emr_with_custom_metrics_spark.plans.inspect import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from tests.conftest import SF_DIR

SPECS = registry.all_specs()


def test_filters_push_to_scan(spark):
    df = SPECS["filter_project"].fn(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "l_returnflag" in pf, pf


def test_projection_prunes_columns(spark):
    df = SPECS["filter_project"].fn(spark, SF_DIR)
    cols = read_schema_columns(df)
    # 11-column table; the query needs only 7 (incl. l_tax for `charged`)
    assert "l_shipdate" not in cols and "l_partkey" not in cols, cols
    assert len(cols) <= 7, cols


def test_q1_prunes_to_needed_columns(spark):
    cols = read_schema_columns(SPECS["q1_pricing_summary"].fn(spark, SF_DIR))
    assert "l_orderkey" not in cols and "l_partkey" not in cols, cols


def test_dim_join_broadcasts(spark):
    assert has_broadcast_join(SPECS["join_broadcast_dim"].fn(spark, SF_DIR))


def test_q5_broadcasts_dims(spark):
    plan = formatted_plan(SPECS["q5_local_supplier_volume"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_window_battery_single_exchange(spark):
    # 4 ranking functions over one window spec must share one shuffle.
    df = SPECS["window_rank_battery"].fn(spark, SF_DIR)
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_global_topk_uses_take_ordered(spark):
    plan = formatted_plan(SPECS["topk_orders"].fn(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_topk_per_group_limits_window(spark):
    # Spark ≥3.5 pushes rank<=k into the shuffle as WindowGroupLimit.
    plan = formatted_plan(SPECS["topk_per_group"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_asof_join_is_single_exchange_no_join(spark):
    # The union+window as-of must not contain a join operator at all, and
    # exactly one shuffle (on the key).
    df = SPECS["asof_purchase_last_click"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert count_exchanges(df) == 1, plan[:2000]


def test_agg_partial_combine(spark):
    # groupBy count plans partial + final hash aggregation (map-side combine).
    plan = formatted_plan(SPECS["a1_group_count"].fn(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2


def test_semi_join_no_duplication(spark):
    plan = formatted_plan(SPECS["join_semi"].fn(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_similarity_topk_broadcasts_query_vector(spark):
    plan = formatted_plan(SPECS["similarity_topk_exact"].fn(spark, SF_DIR))
    assert "Broadcast" in plan
    assert "TakeOrderedAndProject" in plan


def test_events_scan_prunes_for_json_query(spark):
    cols = read_schema_columns(SPECS["json_extract_props"].fn(spark, SF_DIR))
    assert "value" not in cols and "user_id" not in cols, cols


def test_no_driver_side_collect_in_query_modules():
    """Source hygiene (VERDICT r01 #4, widened per r2 ADVICE): building a
    registered query runs no driver-side job — no mid-plan
    ``.collect()`` or ``.toPandas()`` — except at a site allowlisted
    below, and a ``.localCheckpoint()`` (always eager, so it runs its
    staging job while the row is built) only in an allowlisted file, so
    every documented exception is auditable here rather than invisible
    to the grep.

    ``.collect()`` allowlist: the plan debugging utility and the two tiny
    post-aggregation sinks whose output is one row per (rule, bucket).
    ``.toPandas()`` allowlist: EMPTY as of r3 — dedup_embedding_cosine's
    driver-side build was replaced by a distributed block-pair GEMM.
    ``.localCheckpoint()`` allowlist: iterative-algorithm lineage cuts
    (connected components, pagerank, k-means) and the ngram-jaccard
    candidate reuse — each truncates an otherwise exponentially-growing
    plan, the sanctioned Spark pattern for loops."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "emr_with_custom_metrics_spark"
    allowed = {
        ".collect()": {
            "plans/inspect.py",
            "streaming/pipeline.py",
            "sources/metrics_source.py",
            # the harvested action IS the module's purpose: it executes
            # the DataFrame once to fill the plan's metric accumulators
            "plans/exec_metrics.py",
            # LR small-matrix path (opt r15): the single-task fused
            # training loop returns ONE row — the 129-float model —
            # exactly the model-only driver traffic the distributed
            # path's per-round reduce() already ships 24 times
            "llm/classifier.py",
        },
        ".toPandas(": set(),
        ".localCheckpoint(": {
            "llm/dedup.py",
            "operators/graph.py",
            "llm/embeddings.py",
            # BPE merge rounds: each round's corpus feeds both the next
            # round's pair counts AND the token-count output — same
            # per-iteration lineage truncation as the graph fixpoints
            "llm/text.py",
            # MMR greedy loop: the selected set re-enters every later
            # iteration's join AND the final projection
            "llm/similarity.py",
            # LR training: the feature matrix is scanned by all 40 GD
            # rounds AND the final scoring pass — one materialization,
            # MLlib's cache-before-iterate shape (the per-round driver
            # traffic is the 129-long model, never data)
            "llm/classifier.py",
            # Unigram-LM EM: Spark inlines WITH-chains, so each round's
            # dictionary-sized vocabulary (and the words table) is
            # checkpointed and bound into the next round's SQL — the
            # staged-execution fix
            # measured 6-10 s -> <0.3 s exec (round-7 notes)
            "llm/unigram.py",
            # Rolling-active-users: the distinct (user, day) set feeds
            # THREE core consumers (dau + the 7/30-day island passes);
            # un-staged, WITH-inlining re-ran the events scan + distinct
            # shuffle per consumer
            "operators/analytics.py",
            # Stats tier first-reduction staging (chi2 obs, bootstrap
            # replicas, CUPED user grain, the decomposition feeding the
            # anomaly screen): each aggregate is re-referenced by 2-3 tail CTEs,
            # and un-staged plans re-ran the raw scan per reference —
            # measured in the round-8 scan-count audit
            "operators/stats.py",
            # RAKE's segmented token stream and LLR's bigram counts:
            # same first-reduction staging as the stats tier
            "llm/keywords.py",
            # PLSA: the count matrix and each EM round's parameter
            # tables feed 2-3 downstream references each; the unigram-LM
            # staged-execution precedent applies verbatim
            "llm/topics.py",
            # Fellegi-Sunter: the blocked pair table (with its
            # levenshtein arithmetic) is referenced twice — weight
            # learning and scoring; un-staged, WITH-inlining would run
            # the candidate join + edit distances per reference
            "operators/linkage.py",
            # Staged Welch-pv relation (r12 VERDICT item 4): FIVE
            # multiple-testing queries share the base..pv prefix and
            # each was re-scanning events + the per-row _ARM md5; the
            # model-sized pv is checkpointed once per (session, sf_dir)
            # by plans/stage_memo.staged
            "operators/wave9c.py",
            # TextRank stages tok/vocab/edges/wdeg (the 5-iteration
            # chain re-references each per round); skyline stages the
            # supplier aggregate its dominance NOT-EXISTS reads twice
            "operators/wave9d.py",
            # DBSCAN stages the GEMM pair list + core set feeding the
            # min-label CC loop (same staging as dedup_clusters)
            "operators/wave9f.py",
            # cross-correlation stages the dense spine its shifted
            # cross product and pair join both read (MP lesson)
            "operators/wave9h.py",
            # DSIR: the scored relation feeds BOTH the top-k boundary
            # pass and the selected-flag pass (the r12 rewrite that
            # removed the global ROW_NUMBER); one checkpoint, not two
            # scoring-pipeline runs
            "llm/corpus_ops.py",
            # assortativity: the memoized edge table feeds the degree
            # aggregate AND both orientation joins — same remedy as
            # operators/graph.py's edge consumers
            "operators/wave12b.py",
            # k-truss: the mutual-top-K edge table feeds every peel
            # round's three wedge-join legs (the kcore/triangle remedy)
            "operators/wave13b.py",
            # IVF-PQ trade-off: the staged ann_index relation set
            # (exact ids, centroids, codebooks, corpus codes, ADC,
            # query cosines) feeds all FOUR nprobe arms — the welch-pv
            # session-staging policy, build time in plans/stage_memo
            # under kind 'ann_index'
            "operators/wave15c.py",
            # Opt r15 staging (guide §2.4): each file checkpoints a
            # compact multi-consumer relation whose un-staged subtree
            # Spark's WITH-inlining replayed per reference — measured
            # in plans/r15/<q>_before.txt scan counts. These stage
            # outside stage_ctes: MRR and Dirichlet-LM re-derive a CTE
            # in a hand-written tail, the leakage screen stages a
            # DataFrame.
            # MRR: truth (10 rows) / int8 vectors / scored rankings
            "operators/wave10b.py",
            # leakage screen: the benchmark-sized distinct gram table
            # feeds the broadcast set AND the per-doc counts
            "operators/wave16a.py",
            # Dirichlet-LM: the query-sized tf table feeds cf + matched
            "operators/wave16b.py",
            # stage_ctes: the checkpoint every row that stages a CTE by
            # name (the hour counts included) goes through
            "plans/stage_memo.py",
        },
    }
    offenders = []
    for p in root.rglob("*.py"):
        rel = str(p.relative_to(root))
        for i, line in enumerate(p.read_text().splitlines(), 1):
            code = line.split("#", 1)[0]
            for pat, files in allowed.items():
                if pat in code and rel not in files:
                    offenders.append(f"{rel}:{i} ({pat}")
    assert not offenders, offenders


def test_q7_broadcasts_every_dim(spark):
    # supplier + both nation aliases broadcast; only the fact-side joins
    # (orders⋈customer⋈lineitem) may shuffle.
    plan = formatted_plan(SPECS["q7_nation_volume"].fn(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_q19_disjunction_pushes_supersets_to_both_scans(spark):
    # Catalyst extracts per-side OR-supersets: the part scan must carry a
    # p_brand/p_size disjunct, lineitem must carry the quantity range.
    df = SPECS["q19_disjunctive_pred"].fn(spark, SF_DIR)
    pf = " ".join(pushed_filters(df))
    assert "p_brand" in pf or "p_size" in pf, pf
    assert "l_quantity" in pf, pf


def test_q11_global_threshold_is_broadcast_not_collect(spark):
    # share-of-total must re-attach the 1-row aggregate via a broadcast
    # join (BroadcastNestedLoopJoin for the cross join), never a second
    # scan-wide shuffle or a driver collect.
    plan = formatted_plan(SPECS["q11_part_value_share"].fn(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan[:2000]


def test_q22_anti_join_shape(spark):
    plan = formatted_plan(SPECS["q22_inactive_customers"].fn(spark, SF_DIR))
    assert "LeftAnti" in plan, plan[:2000]


def test_winnowing_is_shuffle_free(spark):
    # per-document HOF pipeline: the only exchange allowed is the
    # load_fanned round-robin repartition of a scan narrower than the
    # cluster (a one-split local table; none on a wider scan), never a
    # data-dependent shuffle.
    df = SPECS["text_fingerprint_winnowing"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 1, formatted_plan(df)[:2000]


def test_split_assignment_is_map_side(spark):
    # the split assignment itself adds no exchange: the only shuffles are
    # the final 3-group aggregation and COUNT(DISTINCT source)'s expand
    # (two exchanges total for the summary, none for the assignment)
    df = SPECS["split_train_valid_test"].fn(spark, SF_DIR)
    assert count_exchanges(df) <= 2, formatted_plan(df)[:2000]


def test_zscore_stats_broadcast_back(spark):
    plan = formatted_plan(SPECS["events_zscore_outliers"].fn(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_partitioned_write_prunes_partitions_on_read(spark, tmp_path):
    """The 100 TB layout contract: a table written partitioned by a column
    must expose PartitionFilters (directory pruning — zero IO for pruned
    partitions, not just row-group skipping) when filtered on it."""
    out = str(tmp_path / "orders_by_status")
    load_table(spark, SF_DIR, "orders").write.partitionBy("o_orderstatus").mode(
        "overwrite"
    ).parquet(out)
    df = spark.read.parquet(out).where(F.col("o_orderstatus") == "F")
    plan = formatted_plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderstatus" in m.group(1), plan[:1500]
    # and the non-partition predicate must NOT appear as a pushed filter
    # (it is the partition key; nothing else to push here)
    df2 = spark.read.parquet(out).where(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 1000)
    )
    pf = " ".join(pushed_filters(df2))
    assert "o_totalprice" in pf, pf


def test_dpp_reaches_partitioned_scan(spark):
    """parquet_dpp_prune's partitioned read must carry a
    DynamicPruningExpression — proof the runtime dim join prunes partition
    FILES, not just rows (r5 VERDICT item 6)."""
    df = SPECS["parquet_dpp_prune"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_salted_join_equals_unsalted(spark):
    """The salt must be invisible in the result: join_skew_salted equals
    the plain unsalted formulation row-for-row."""
    from emr_with_custom_metrics_spark.operators import joins as J

    salted = SPECS["join_skew_salted"].fn(spark, SF_DIR)
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.when(F.col("l_linenumber") >= 3, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("hk"),
        "l_extendedprice",
    )
    o = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
    plain = (
        li.join(o, F.col("hk") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )
    got = {tuple(r) for r in salted.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want


def test_salted_join_splits_hot_key(spark):
    """The salted probe side must actually spread the hot key: every salt
    value in [0, 8) receives rows for the hot key."""
    from emr_with_custom_metrics_spark.operators.joins import salted_equi_join

    li = load_table(spark, SF_DIR, "lineitem").select(
        F.when(F.col("l_linenumber") >= 3, F.lit(1))
        .otherwise(F.col("l_orderkey"))
        .alias("hk"),
        "l_extendedprice",
    )
    salt = F.pmod(F.hash(*[F.col(c) for c in li.columns]), F.lit(8))
    n_salts = (
        li.where(F.col("hk") == 1)
        .select(salt.alias("s"))
        .distinct()
        .count()
    )
    assert n_salts == 8, n_salts


def test_salted_join_property_random_tables(spark):
    """salted_equi_join == plain inner join for ANY table pair and salt
    factor — including duplicate keys on BOTH sides (each left row must
    pair with every matching right row exactly once, via the unique
    replica carrying its salt)."""
    import random

    from emr_with_custom_metrics_spark.operators.joins import salted_equi_join

    rng = random.Random(17)
    for trial in range(3):
        n_salt = rng.choice([2, 5, 8])
        left = spark.createDataFrame(
            [(rng.randint(0, 6), rng.randint(0, 99)) for _ in range(200)],
            "k long, v long",
        )
        right = spark.createDataFrame(
            [(rng.randint(0, 6), rng.randint(0, 99)) for _ in range(40)],
            "rk long, w long",
        )
        got = sorted(
            tuple(r)
            for r in salted_equi_join(left, right, "k", "rk", n_salt).collect()
        )
        want = sorted(
            tuple(r) for r in left.join(right, F.col("k") == F.col("rk")).collect()
        )
        assert got == want, f"trial {trial} n_salt={n_salt}"


def test_bucketed_join_has_no_exchange(spark):
    """Both join inputs are bucketed on the join key at write time, so the
    SortMergeJoin consumes the buckets' native partitioning: ZERO exchanges
    anywhere in the join plan (with broadcast disabled so the small SF
    can't sidestep the property being asserted)."""
    from emr_with_custom_metrics_spark.sources.reference_pipeline import (
        write_bucketed_pair,
    )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ot, lt = write_bucketed_pair(spark, SF_DIR)
        o, li = spark.table(ot), spark.table(lt)
        j = o.join(li, o.o_orderkey == li.l_orderkey)
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan, plan
        assert count_exchanges(j) == 0, plan
        # identical logical join over the UNBUCKETED parquet shuffles both
        # sides — the layout, not the optimizer mood, is what removed them
        po = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_orderpriority")
        pl = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
        pj = po.join(pl, po.o_orderkey == pl.l_orderkey)
        assert count_exchanges(pj) == 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_join_hints_select_their_operators(spark):
    """A hint Catalyst ignores is a no-op, not a strategy: each hinted
    variant of the same logical join must surface its physical operator."""
    from emr_with_custom_metrics_spark.catalog import register_views

    register_views(spark, SF_DIR, ("orders", "lineitem"))
    for hint, op in (
        ("BROADCAST(o)", "BroadcastHashJoin"),
        ("MERGE(o)", "SortMergeJoin"),
        ("SHUFFLE_HASH(o)", "ShuffledHashJoin"),
    ):
        df = spark.sql(
            f"""SELECT /*+ {hint} */ o.o_orderpriority, COUNT(*) AS n
                FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
                GROUP BY o.o_orderpriority"""
        )
        plan = formatted_plan(df)
        assert op in plan, (hint, plan)


def test_aqe_splits_planted_skew(spark):
    """AQE's runtime skew-join handling, observed: the same 71%-hot-key
    join the salting demo hardens by hand gets split automatically when
    OptimizeSkewedJoin's thresholds see the skew — `isSkew=true` appears
    on the executed SortMergeJoin. This is the r5 SCALING.md crossover
    point made mechanical: below the thresholds you salt by hand, above
    them AQE does it for you."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # repartition(16) first: AQE splits a skewed REDUCE partition at
        # MAPPER granularity, so a single-map-task stage (one 13 MB local
        # parquet file) has nothing to split and the rule silently no-ops —
        # measured while building this. On a real cluster the map side is
        # always many tasks; locally we must fan it out to see the rule.
        li = load_table(spark, SF_DIR, "lineitem").repartition(16).select(
            F.when(F.col("l_linenumber") >= 3, F.lit(1))
            .otherwise(F.col("l_orderkey"))
            .alias("hk"),
            "l_extendedprice",
        )
        o = (
            load_table(spark, SF_DIR, "orders")
            .repartition(8)
            .select("o_orderkey", "o_orderpriority")
        )
        j = li.join(o, F.col("hk") == F.col("o_orderkey"))
        j.collect()  # final adaptive plan only exists after an action
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:2500]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_banding_removes_nested_loop_join(spark):
    """The pure interval join's scale story, checked mechanically: the
    naive no-equi-key twin plans a BroadcastNestedLoopJoin; the banded
    rewrite must plan a HASH- or SORT-MERGE-joinable equi-join on the
    bucket key (no nested loop anywhere) AND return the identical result."""
    from emr_with_custom_metrics_spark.operators.joins import join_range_naive

    banded = SPECS["join_range_banded"].fn(spark, SF_DIR)
    naive = join_range_naive(spark, SF_DIR)
    assert "BroadcastNestedLoopJoin" in formatted_plan(naive)
    bp = formatted_plan(banded)
    assert "BroadcastNestedLoopJoin" not in bp
    assert ("BroadcastHashJoin" in bp) or ("SortMergeJoin" in bp) or (
        "ShuffledHashJoin" in bp
    )
    b = {r["band_id"]: (r["n_in_band"], r["n_building"]) for r in banded.collect()}
    n = {r["band_id"]: (r["n_in_band"], r["n_building"]) for r in naive.collect()}
    assert b == n


def test_zorder_layout_prunes_more_than_linear(spark):
    """maintenance_zorder_layout's whole reason to exist, checked on the
    REAL written layouts: the 2-D box predicate must touch strictly fewer
    min/max-pruned units under the Morton layout than under the
    single-dimension layout (which cannot prune the customer dimension),
    while total units and matched rows agree with full-scan truth."""
    row = SPECS["maintenance_zorder_layout"].fn(spark, SF_DIR).collect()[0]
    assert row["n_units_zorder"] == row["n_units_linear"] == 16
    assert row["scanned_zorder"] < row["scanned_linear"]
    assert 0 < row["rows_matched"] < row["n_rows"]


# ---------------------------------------------------------------------------
# ROUND-on-double ban (round 8, r7 VERDICT items 1-2). Spark rounds doubles
# at k digits via BigDecimal-of-shortest-string; DuckDB via ×10^k float
# math whose behavior has shifted across releases — geo_grid_nearest drew a
# driver-DuckDB hash mismatch from exactly this in round 7 despite local
# parity. The only engine-stable primitives are: ROUND to INTEGER (scale 0,
# half-away on both engines), exact integer→double conversion, and single
# IEEE ops. Every oracled query therefore emits either
#   CAST(ROUND(x * 10^k) AS BIGINT)                      (integer output)
# or
#   CAST(ROUND(x * 10^k) AS BIGINT) / CAST(10^k AS DOUBLE)  (bit-stable dbl)
# and two-arg ROUND survives ONLY on DECIMAL arguments (digit-exact on both
# engines — round-1 note 1).
# ---------------------------------------------------------------------------


def _sql_balanced_end(s: str, start: int) -> int:
    depth, in_q = 0, None
    for i in range(start, len(s)):
        ch = s[i]
        if in_q:
            if ch == in_q:
                in_q = None
        elif ch in "'\"":
            in_q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth == 0:
                return i
    return -1


def _sql_split_args(s: str) -> list[str]:
    depth, in_q, parts, cur = 0, None, [], []
    for ch in s:
        if in_q:
            if ch == in_q:
                in_q = None
            cur.append(ch)
            continue
        if ch in "'\"":
            in_q = ch
        elif ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
            continue
        cur.append(ch)
    parts.append("".join(cur))
    return parts


def test_no_two_arg_round_on_double_in_oracles():
    """No oracle may round a non-DECIMAL expression at k digits: the k-digit
    double ROUND algorithm is engine- and version-specific (the round-7
    geo_grid_nearest driver red row). DECIMAL rounding stays allowed."""
    offenders = []
    for name, spec in registry.all_specs().items():
        sql = spec.oracle
        if not sql:
            continue
        for m in re.finditer(r"\bROUND\s*\(", sql, re.I):
            op = sql.index("(", m.start())
            en = _sql_balanced_end(sql, op)
            args = _sql_split_args(sql[op + 1 : en])
            if len(args) == 3 and not args[2].strip():
                args = args[:2]
            if len(args) == 2 and "DECIMAL" not in args[0].upper():
                offenders.append((name, sql[m.start() : en + 1][:90]))
    assert not offenders, f"two-arg ROUND on double in oracles: {offenders[:5]}"


def test_no_two_arg_f_round_on_double_in_engine_source():
    """Mirror ban on the engine side: F.round(expr, k) with a non-decimal
    arg would hash-diverge from the integer-domain oracles."""
    import glob
    import io
    import os
    import tokenize

    pkg = os.path.join(os.path.dirname(__file__), "..", "emr_with_custom_metrics_spark")
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        # positions inside string literals (SQL text is covered by the
        # oracle-side test; docstrings are prose)
        toks = list(tokenize.generate_tokens(io.StringIO(src).readline))
        lines = src.splitlines(keepends=True)
        offs = [0]
        for ln in lines:
            offs.append(offs[-1] + len(ln))
        spans = [
            (offs[t.start[0] - 1] + t.start[1], offs[t.end[0] - 1] + t.end[1])
            for t in toks
            if t.type == tokenize.STRING
        ]
        for m in re.finditer(r"F\.round\s*\(", src):
            if any(s0 <= m.start() < s1 for s0, s1 in spans):
                continue
            op = src.index("(", m.start())
            en = _sql_balanced_end(src, op)
            args = _sql_split_args(src[op + 1 : en])
            if len(args) == 3 and not args[2].strip():
                args = args[:2]
            if (
                len(args) == 2
                and re.fullmatch(r"\s*\d+\s*", args[1])
                and "decimal" not in args[0].lower()
            ):
                line = src[: m.start()].count("\n") + 1
                offenders.append((os.path.basename(path), line, args[0][:60]))
    assert not offenders, f"two-arg F.round on double in engine: {offenders[:5]}"


def test_flagship_shuffle_bytes_within_budget(spark):
    """Physical-plan regression guard (r7 VERDICT item 6): the dedup/ANN
    flagship rows must keep shuffling id/hash-sized records, never payload
    columns. Budgets are ~3x the measured sf0.01 shuffle-bytes (minhash
    1.29 MB, ann_lsh 0.81 MB, ngram 0.28 MB — BENCH round-8 smoke), so a
    legitimate constant-factor change passes while a payload column
    leaking into a shuffle (a ~10x jump: text/vectors vs hashes) fails.
    bench.py records the same numbers per round under the "physical" key.
    """
    from emr_with_custom_metrics_spark.plans.exec_metrics import (
        collect_execution_metrics,
    )

    budgets = {
        "dedup_minhash_lsh": 4_000_000,
        "similarity_ann_lsh": 2_500_000,
        "dedup_ngram_jaccard": 1_000_000,
    }
    for name, budget in budgets.items():
        m = collect_execution_metrics(SPECS[name].fn(spark, "/root/testdata/sf0.01"))
        got = m["summary"].get("shuffle_bytes_written", 0)
        assert got <= budget, (
            f"{name}: shuffle_bytes_written {got} exceeds budget {budget} — "
            f"a payload column is probably riding a shuffle that should "
            f"carry only ids/hashes"
        )


def test_theta_sketch_bounds_topk_state(spark):
    """The per-half k-smallest in sketch_theta_overlap must plan with
    bounded per-partition state — WindowGroupLimit (rank<=k pushed into
    the shuffle) — and the corpus scan must appear at most twice (the
    presence-matrix pass + the sketch pass); the first draft's scalar
    subqueries re-derived it six times."""
    plan = formatted_plan(SPECS["sketch_theta_overlap"].fn(spark, SF_DIR))
    assert "WindowGroupLimit" in plan, plan[:2000]
    assert plan.count("documents.parquet") <= 4, plan[:2000]


_JOIN_OPS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)


def _join_sides(tree: str) -> list[list[str]]:
    """For each join node in a plan tree string, the subtree text of each
    of its children."""
    lines = tree.splitlines()

    def col(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if not line.lstrip(" :+-").startswith(_JOIN_OPS):
            continue
        c, sides = col(line), []
        for nxt in lines[i + 1:]:
            if col(nxt) <= c:
                break
            if col(nxt) == c + 3:
                sides.append([])
            sides[-1].append(nxt)
        out.append(["\n".join(side) for side in sides])
    return out


def test_acf_family_scans_events_once_without_density_joins(spark):
    """The ACF family's Spark kernel folds each series' centered hourly
    array per lag: one events scan, no staged (checkpoint) counts, and no
    join with the density on both sides — the lag self-join of the dense
    spine is gone. PACF's read-out may still cross its 10 lags with the
    one-row-per-series fold."""
    for name in (
        "timeseries_autocorrelation", "stats_ljung_box",
        "timeseries_pacf_durbin", "timeseries_ar_order_fit",
    ):
        df = SPECS[name].fn(spark, SF_DIR)
        tree = df._jdf.queryExecution().executedPlan().toString()
        assert tree.count("events.parquet") == 1, (name, tree[:3000])
        assert "ExistingRDD" not in tree, (name, tree[:3000])
        assert "ReusedExchange" not in tree, (name, tree[:3000])
        assert "CartesianProduct" not in tree, (name, tree[:3000])
        for sides in _join_sides(tree):
            dense = [s for s in sides if "events.parquet" in s]
            assert len(dense) <= 1, (name, tree[:3000])


def test_triangle_count_reads_the_pair_memo_without_recheckpointing(spark, duck):
    """graph_triangle_count's three join legs scan the cosine pair memo,
    which embedding_cosine_pairs already checkpoints eagerly: the plan
    runs no MapInPandas (the GEMM never replays), a repeat call persists
    no new RDD, and the answer still matches the oracle."""
    from tests.compare import assert_frames_match

    spec = SPECS["graph_triangle_count"]
    spec.fn(spark, SF_DIR).count()  # builds the memo
    persisted = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    df = spec.fn(spark, SF_DIR)
    assert "MapInPandas" not in formatted_plan(df)
    assert_frames_match(
        df.toPandas(), duck.sql(spec.oracle).df(), "graph_triangle_count"
    )
    assert spark.sparkContext._jsc.sc().getPersistentRDDs().size() == persisted


def test_random_projection_broadcasts_signs(spark):
    """embedding_random_projection's 1024-row sign table must broadcast;
    the vectors must never be the build side of a shuffle replicate."""
    plan = formatted_plan(SPECS["embedding_random_projection"].fn(spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Broadcast" in plan, plan[:2000]


def test_stats_templates_partial_aggregate(spark):
    """The moment aggregations behind the t-test/ANOVA must keep map-side
    partial aggregation (two HashAggregate phases around one Exchange) —
    integer quantization exists exactly so partial merge is legal."""
    for name in ("stats_ab_ttest", "stats_anova_oneway"):
        df = SPECS[name].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert plan.count("HashAggregate") >= 2, (name, plan[:2000])


def test_staged_stats_tails_scan_raw_tables_zero_times(spark):
    """Round-8 staging contract: these queries materialize their first
    reduction (hour counts / chi2 cells / user grain / bigram counts /
    segmented tokens) behind a localCheckpoint, so their FINAL plan must
    contain ZERO raw parquet scans — Spark's per-reference WITH-inlining
    otherwise re-ran the scan chain per consumer (measured: 3-4 scans)."""
    staged = [
        "timeseries_seasonal_decompose", "anomaly_seasonal_residual",
        "stats_chi2_independence",
        "e2e_ab_cuped_ttest", "text_rake_keywords", "text_collocation_llr",
        "events_active_users_rolling",
    ]
    for name in staged:
        df = SPECS[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = sum(
            plan.count(f"{t}.parquet")
            for t in ("events", "documents", "orders", "lineitem")
        )
        assert scans == 0, (name, scans)


def test_psi_shuffle_is_histogram_grain(spark):
    """The round-9 review fix made events_psi_drift reduce to the
    (metric, half, value) histogram BEFORE the rank/edge/bin passes —
    this pins it: total shuffle records must be bounded by a small
    multiple of the histogram size, never the event count."""
    import duckdb

    from emr_with_custom_metrics_spark.plans.exec_metrics import (
        collect_execution_metrics,
    )

    m = collect_execution_metrics(SPECS["events_psi_drift"].fn(spark, SF_DIR))
    hist = duckdb.sql(
        f"SELECT COUNT(*) FROM (SELECT DISTINCT event_type, "
        f"CAST(ROUND(value*1000) AS BIGINT) v FROM "
        f"'{SF_DIR}/events.parquet')"
    ).fetchone()[0]
    shuffled = m["summary"].get("shuffle_records_written", 0)
    # histogram rows appear in a handful of shuffles (hist agg, ref
    # window, edge join, bin agg, cells, tots) — 8x covers them all;
    # the pre-fix per-event GROUP BY rid wrote >= n_events records
    assert shuffled <= 8 * hist, (shuffled, hist)


def test_matrix_profile_shuffle_is_pair_bounded(spark):
    """timeseries_matrix_profile's shuffles carry the calendar-bounded
    pair/diagonal rows (O(series^2)), never a data-sized relation."""
    import duckdb

    from emr_with_custom_metrics_spark.plans.exec_metrics import (
        collect_execution_metrics,
    )

    m = collect_execution_metrics(
        SPECS["timeseries_matrix_profile"].fn(spark, SF_DIR)
    )
    n_hours = duckdb.sql(
        f"SELECT CAST(MAX(FLOOR(epoch(ts)/3600)) - MIN(FLOOR(epoch(ts)/3600))"
        f" AS BIGINT) + 1 FROM '{SF_DIR}/events.parquet'"
    ).fetchone()[0]
    n_series = 5
    pair_rows = n_series * n_hours * (n_hours - 1) // 2
    shuffled = m["summary"].get("shuffle_records_written", 0)
    # the diagonal window pass + argmin shuffle both carry <= the pair
    # count (plus symmetrization x2 and model-sized side tables)
    assert shuffled <= 4 * pair_rows, (shuffled, pair_rows)


def test_wave10_stats_templates_partial_aggregate(spark):
    """The wave-10 sufficient-statistic reductions (KS histogram, TOST
    arm moments, CMH cells, DiD cells, stratified-ATE cells) must keep
    map-side partial aggregation — integer quantization exists exactly
    so partial merge is legal."""
    for name in (
        "stats_ks_test", "stats_tost_equivalence", "stats_cmh_stratified",
        "events_did_estimator", "stats_stratified_ate",
    ):
        df = SPECS[name].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert plan.count("HashAggregate") >= 2, (name, plan[:2000])


def test_prefixspan_joins_are_user_equi_joins(spark):
    """The gap-constrained chain joins must plan as equi-joins on
    user_id (gap/order as residual conditions), never a cartesian or
    broadcast nested loop over the event table."""
    df = SPECS["events_prefixspan_gap"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_burst_dp_input_is_staged_and_grouped_once(spark):
    """Kleinberg burst: the DP consumes the staged hour-count spine
    (zero raw parquet scans in the final plan) and the only pandas
    stage is one FlatMapGroupsInPandas keyed by series."""
    df = SPECS["timeseries_burst_kleinberg"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = sum(
        plan.count(f"{t}.parquet")
        for t in ("events", "documents", "orders", "lineitem")
    )
    assert scans == 0, (plan[:2000],)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:2000]


def test_apriori_broadcasts_part_dim(spark):
    """basket_apriori_triples joins lineitem to the part dimension for
    brands — the dim side must broadcast, and the triple build must
    stay equi-join (no cartesian)."""
    df = SPECS["basket_apriori_triples"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_gini_sorts_once(spark):
    """stats_gini_lorenz's only data-sized operation is the single
    (spend, custkey) window sort; the decile join joins the 10-row
    VALUES side against it without re-sorting."""
    df = SPECS["stats_gini_lorenz"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the ranked CTE is consumed twice (gini moments + decile join): the
    # single-partition exchange must be REUSED, giving at most two
    # window-sort instances — never a per-decile multiplication
    assert plan.count("Window") <= 2, plan[:2000]
    assert "ReusedExchange" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_scale_argument_stagings_pinned(spark):
    """r15 VERDICT item 3: four rows deliberately buy local cost
    (compact checkpoint materializations) on a 100 TB argument — pin
    the plan mechanically so later edits can't silently double the
    staging or lose a broadcast without failing here. Ceilings are the
    r16-measured values (final executed plan; the staged subtrees sit
    behind Scan ExistingRDD, so parquet counts are the TAIL's scans and
    Exchange counts bound the tail's shuffle budget)."""
    ceilings = {
        # (max "Scan parquet" in formatted plan, max Exchange in tree)
        "similarity_recall_report": (2, 18),
        "retrieval_mrr_eval": (2, 8),
        "similarity_ann_lsh": (0, 6),
        "basket_association_rules": (0, 14),
    }
    for name, (max_scans, max_exch) in ceilings.items():
        df = SPECS[name].fn(spark, SF_DIR)
        fp = formatted_plan(df)
        tree = df._jdf.queryExecution().executedPlan().toString()
        scans = fp.count("Scan parquet")
        exch = tree.count("Exchange")
        assert scans <= max_scans, (name, scans, fp[:1500])
        assert exch <= max_exch, (name, exch, tree[:1500])
