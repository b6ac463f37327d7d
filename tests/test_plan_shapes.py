"""Physical-plan regression guards: the scale properties the engine promises
(SURVEY.md §4) must be visible in the executed plan — pushed filters, pruned
scans, broadcast dimension joins, partial aggregation, sort+limit fusion,
and no Python evaluation in native paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usedcars_bigdata_spark.plans import QUERIES
from usedcars_bigdata_spark.sources import load_table


def plan_of(df, execute: bool = False) -> str:
    # Scan metadata (PushedFilters/ReadSchema) is truncated by default.
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    if execute:
        # AQE: codegen spans only appear once THIS dataframe's plan is
        # finalized (count() would execute a different derived plan).
        df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_no_data_sized_single_partition_funnels(spark, sf_dir):
    """The r9 SinglePartition audit rewired the last four entries whose
    unpartitioned Sort/Window consumed a DATA-sized frame (customer /
    supplier / order-key axes). Pin them: any Exchange SinglePartition
    in these plans may feed only a scalar aggregate or a bucket-offset
    table (line mentions __b), never a Sort/Window over the data axis.
    The full-registry sweep lives in scripts/audit_single_partition.py
    (run per round; exits 1 on an undeclared site); both use the shared
    walk in usedcars_bigdata_spark.plantools."""
    from usedcars_bigdata_spark.operators.window import release_hubs
    from usedcars_bigdata_spark.plantools import single_partition_funnel_sites

    for name in (
        "rel_above_avg_orders",
        "rel_gini_revenue",
        "rel_key_skew_profile",
        "rel_tpch_q15_top_supplier",
    ):
        plan = plan_of(QUERIES[name](spark, sf_dir))
        sites = single_partition_funnel_sites(plan)
        assert not sites, f"{name}: data-sized funnel survived: {sites}"
        release_hubs()
        spark.catalog.clearCache()


def test_funnel_walk_exempts_only_exact_offset_tokens():
    """The offset-table exemption must match the two-pass internals'
    exact attribute tokens (__b#NN, __bc#NN), not any substring
    containing __b — a query-local __bucket column in a genuine
    data-sized Sort must still be flagged (r9 review finding)."""
    from usedcars_bigdata_spark.plantools import single_partition_funnel_sites

    flagged = (
        "AdaptiveSparkPlan\n"
        "+- Sort [__bucket#12 ASC NULLS FIRST], true, 0\n"
        "   +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=7]\n"
    )
    assert single_partition_funnel_sites(flagged), (
        "__bucket rode the __b exemption"
    )
    exempt = (
        "AdaptiveSparkPlan\n"
        "+- Window [sum(__bc#44) ...], [__b#12 ASC NULLS FIRST]\n"
        "   +- Sort [__b#12 ASC NULLS FIRST], false, 0\n"
        "      +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
    )
    assert not single_partition_funnel_sites(exempt), (
        "bucket-offset window lost its exemption"
    )


def test_r11_funnel_rewires_stay_two_pass(spark, sf_dir):
    """The r11 executed-plan audit rewired four data-sized funnels onto
    two-pass forms; pin the plan shapes here so a regression shows in
    pytest rather than only in the 35-minute audit script.

    - sorted_neighborhood's vocabulary rank must ride
      distributed_row_number (no unpartitioned Sort/Window);
    - greedy coverage's candidate pool must fuse to
      TakeOrderedAndProject (per-partition heaps, no global sort);
    - the vocabulary coverage curve must carry rank+cumulative+total on
      ONE range exchange (no SinglePartition funnel)."""
    import re as _re

    from usedcars_bigdata_spark.ext.dedup import sorted_neighborhood_pairs
    from usedcars_bigdata_spark.operators.window import release_hubs
    from usedcars_bigdata_spark.plantools import single_partition_funnel_sites

    try:
        df = spark.createDataFrame(
            [(i, f"name {i:03d}") for i in range(50)], "id long, v string"
        )
        plan = plan_of(sorted_neighborhood_pairs(df, "id", "v"))
        assert not single_partition_funnel_sites(plan), plan

        # the candidate-pool shortlist inside greedy_coverage_select:
        # orderBy+limit must plan as TakeOrderedAndProject
        from usedcars_bigdata_spark.ext.text import greedy_coverage_select

        pairs = spark.createDataFrame(
            [(i, f"w{i}_{j}") for i in range(20) for j in range(i % 5 + 1)],
            "did long, w string",
        )
        out = greedy_coverage_select(pairs, "did", "w", k=2, candidate_pool=5)
        assert out.count() == 2  # executes; shortlist plan is eager

        plan = plan_of(QUERIES["ext_vocab_coverage_curve"](spark, sf_dir))
        assert not single_partition_funnel_sites(plan), plan
    finally:
        release_hubs()
        spark.catalog.clearCache()


def test_funnel_walk_sees_through_aqe_wrappers():
    """EXECUTED plans (isFinalPlan=true) print ShuffleQueryStage around
    every materialized exchange, so the funnel's real consumer sits one
    wrapper up — the walk must look through the wrapper or the
    executed-plan audit silently passes every funnel (r11: found while
    closing the SKIP_PREFIXES blind spot)."""
    from usedcars_bigdata_spark.plantools import single_partition_funnel_sites

    executed = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   ResultQueryStage 1\n"
        "   +- *(3) Project [r#2]\n"
        "      +- Window [rank(id#0L) ...], [id#0L ASC NULLS FIRST]\n"
        "         +- *(2) Sort [id#0L ASC NULLS FIRST], false, 0\n"
        "            +- ShuffleQueryStage 0\n"
        "               +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=19]\n"
        "                  +- *(1) Range (0, 100, step=1, splits=4)\n"
    )
    sites = single_partition_funnel_sites(executed)
    assert sites and "Sort" in sites[0], (
        f"AQE-wrapped funnel not seen through the wrapper: {sites}"
    )
    # ...and a wrapper whose true consumer is a scalar aggregate stays
    # exempt (no false positive from the look-through).
    scalar = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   ResultQueryStage 1\n"
        "   +- *(2) HashAggregate(keys=[], functions=[sum(x#1)])\n"
        "      +- ShuffleQueryStage 0\n"
        "         +- Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=9]\n"
        "            +- *(1) HashAggregate(keys=[], functions=[partial_sum(x#1)])\n"
    )
    assert not single_partition_funnel_sites(scalar)


def test_filters_push_to_parquet(spark, sf_dir):
    plan = plan_of(QUERIES["ref_range_inlist_filter"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_totalprice,1000.0)" in plan
    assert "In(o_orderpriority" in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = plan_of(QUERIES["rel_tpch_q1_pricing_summary"](spark, sf_dir))
    # 7 of 11 lineitem columns read; orderkey/partkey/suppkey/linenumber pruned
    assert "l_orderkey" not in plan.split("ReadSchema")[-1]
    assert "l_quantity" in plan.split("ReadSchema")[-1]


def test_dim_joins_broadcast(spark, sf_dir):
    plan = plan_of(QUERIES["rel_join_revenue_by_nation"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side


def test_partial_final_aggregation(spark, sf_dir):
    plan = plan_of(QUERIES["ref_q1_avg_price_by_priority"](spark, sf_dir))
    assert "partial_count" in plan or "partial_avg" in plan


def test_topk_fuses_sort_limit(spark, sf_dir):
    plan = plan_of(QUERIES["ref_regexp_extract_ids"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_native_rewrites_avoid_python(spark, sf_dir):
    """U1's native rewrite and the text operators must not plan
    BatchEvalPython / ArrowEvalPython (SURVEY.md §4 'Defeats Catalyst #2')."""
    for name in ["ref_category_native", "ext_text_quality", "ext_text_token_stats"]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell back to Python"


def test_whole_stage_codegen_on_scan_agg(spark, sf_dir):
    plan = plan_of(QUERIES["rel_tpch_q1_pricing_summary"](spark, sf_dir), execute=True)
    # '*(n)' prefixes mark whole-stage-codegen spans in the final AQE plan;
    # both the scan+partial-agg stage and the final-agg stage must be fused.
    assert "*(1)" in plan and "*(2)" in plan


def test_semi_anti_plan_no_row_widening(spark, sf_dir):
    plan = plan_of(QUERIES["rel_semi_join_customers"](spark, sf_dir))
    assert "LeftSemi" in plan
    plan = plan_of(QUERIES["rel_anti_join_customers"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_no_forced_broadcast_of_scaling_sides(spark, sf_dir):
    """Q3/Q5 must not HINT-broadcast customer/supplier: those sides grow
    O(sf), and an explicit hint overrides autoBroadcastJoinThreshold (a
    multi-GB driver build at production scale). Only fixed-cardinality dims
    (nation 25 rows, region 5) may carry hints — AQE is free to broadcast
    the rest when runtime sizes allow."""
    q3 = QUERIES["rel_tpch_q3_shipping_priority"](spark, sf_dir)
    assert "UnresolvedHint" not in str(q3._jdf.queryExecution().logical().toString())
    assert "ResolvedHint" not in str(q3._jdf.queryExecution().analyzed().toString())
    q5 = QUERIES["rel_tpch_q5_local_volume"](spark, sf_dir)
    analyzed = str(q5._jdf.queryExecution().analyzed().toString())
    assert analyzed.count("ResolvedHint") == 2  # nation + region only


def test_contamination_benchmark_broadcasts(spark, sf_dir):
    """The benchmark gram set must broadcast — a shuffle join keyed on grams
    would move the whole corpus at 100 TB."""
    plan = plan_of(QUERIES["ext_contamination_ngram"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_boilerplate_topk_fuses_sort_limit(spark, sf_dir):
    plan = plan_of(QUERIES["ext_boilerplate_ngrams"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_pack_shards_window_is_partitioned(spark, sf_dir):
    """The contract pack_shards query must run the distributed two-pass
    form: the corpus-wide prefix window partitions by the range bucket
    (hash exchange), and the only single-partition exchange feeds the
    tiny per-bucket offset window — never the corpus itself."""
    plan = plan_of(QUERIES["ext_pack_shards"](spark, sf_dir))
    assert "hashpartitioning(__b#" in plan  # r9: internals renamed to __b
    # exactly one SinglePartition exchange: the n_buckets-row offset table
    assert plan.count("Exchange SinglePartition") == 1
    tiny = plan.split("Exchange SinglePartition")[1]
    assert "HashAggregate" in tiny  # fed by the per-bucket aggregate


def test_corpus_hygiene_ops_stay_native(spark, sf_dir):
    """PII redaction / repetition / histogram are pure column expressions —
    no Python evaluation, no shuffle except the histogram's tiny-key agg."""
    for name in ["ext_pii_redaction", "ext_text_repetition", "ext_corpus_length_histogram"]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell back to Python"
    # narrow ops: no exchange at all in the per-row transforms
    for name in ["ext_pii_redaction", "ext_text_repetition"]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "Exchange" not in plan, f"{name} introduced a shuffle"


def test_mixture_sample_is_narrow(spark, sf_dir):
    """Mixture quota sampling is a pure projection: no exchange, no
    Python eval, and only the id/group columns read from the scan."""
    plan = plan_of(QUERIES["ext_mixture_sample"](spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    read = plan.split("ReadSchema")[-1]
    assert "text" not in read and "doc_id" in read


def test_dup_gram_fraction_partial_aggregates(spark, sf_dir):
    """Inter-doc repetition: every groupBy map-side combines (partial
    HashAggregate before each exchange), no pairwise join, no Python."""
    plan = plan_of(QUERIES["ext_dup_gram_fraction"](spark, sf_dir))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan
    # gram doc-frequency joins back with an equi-join on the gram key
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_joins_on_cell(spark, sf_dir):
    """SemDeDup: the pair search must be an equi-join on the cell id
    (never a cartesian product) and never row-at-a-time Python. Since
    the r9 single-materialization fix, the Arrow-batched assignment UDF
    runs ONCE inside the localCheckpoint (the final plan reads the
    materialized RDD — three lazy re-runs of the UDF was the defect),
    so the checkpoint scan, not ArrowEvalPython, is the expected
    downstream shape."""
    plan = plan_of(QUERIES["ext_semantic_dedup"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan  # assignment materialized once
    assert "BatchEvalPython" not in plan  # no row-at-a-time fallback


def test_exists_decorrelates_to_semi_join(spark, sf_dir):
    """TPC-H Q4 shape: the EXISTS entry must plan a LEFT SEMI join with the
    lineitem predicates pushed to the scan — the build side carries only
    qualifying keys, never the full lineitem row set."""
    plan = plan_of(QUERIES["rel_exists_lineitem"](spark, sf_dir))
    assert "LeftSemi" in plan
    pushed = plan.split("PushedFilters")[-1] if "PushedFilters" in plan else plan
    assert "GreaterThan(l_discount" in plan
    assert "GreaterThan(l_quantity" in plan


def test_scalar_correlated_no_cartesian(spark, sf_dir):
    """Q17 shape: the per-part threshold must come back via an equi-join on
    the part key — no cartesian/NLJ blowup, and the brand filter must reach
    the part scan."""
    plan = plan_of(QUERIES["rel_scalar_correlated"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "In(p_brand" in plan  # brand IN-list pushed to the part scan


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """The partitioned-layout entry must read back only the filtered year:
    the scan's PartitionFilters carries the o_year predicate, so at scale
    only one year's directories are planned."""
    import os

    from usedcars_bigdata_spark.plans.registry import scratch_dir

    QUERIES["rel_partitioned_prune"](spark, sf_dir).collect()  # writes layout
    out = scratch_dir(spark, sf_dir, "partitioned_orders")
    back = spark.read.parquet(out).filter(F.col("o_year") == 1996)
    plan = plan_of(back.groupBy("o_orderpriority").count())
    part_meta = plan.split("PartitionFilters")[-1]
    assert "o_year" in part_meta.split("]")[0]
    # partition layout on disk: one directory per year, one file each
    years = [d for d in os.listdir(out) if d.startswith("o_year=")]
    assert len(years) >= 5
    for d in years:
        files = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        assert len(files) == 1, f"small-files guard violated in {d}"


def test_jsonl_roundtrip_preserves_text(spark, sf_dir):
    """JSONL round-trip must be byte-lossless on the text payload (newline /
    quote / unicode escaping) — checked row-for-row, not just via the
    aggregated contract entry."""
    import os
    import tempfile

    from usedcars_bigdata_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = os.path.join(tempfile.gettempdir(), "usedcars_jsonl_fidelity_test")
    docs.write.mode("overwrite").json(out)
    back = spark.read.schema("doc_id BIGINT, text STRING").json(out)
    diff = (
        docs.alias("a")
        .join(back.alias("b"), "doc_id", "full_outer")
        .filter(
            F.col("a.text").isNull()
            | F.col("b.text").isNull()
            | (F.col("a.text") != F.col("b.text"))
        )
        .count()
    )
    assert diff == 0


def test_range_join_avoids_nested_loop(spark, sf_dir):
    """The banded range join must plan a hash equi-join on the bucket id —
    never BroadcastNestedLoopJoin/CartesianProduct (the naive non-equi
    plan)."""
    plan = plan_of(QUERIES["rel_range_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan  # it is still a join, on the integer bucket key


def test_merge_upsert_single_plan(spark, sf_dir):
    """The MERGE entry is one DataFrame plan: a full-outer hash join on the
    key, no Python eval, no cartesian blowup."""
    plan = plan_of(QUERIES["rel_merge_upsert"](spark, sf_dir))
    assert "FullOuter" in plan
    assert "EvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_on_fact_join(spark, sf_dir, tmp_path):
    """Dynamic partition pruning: joining a partitioned fact to a FILTERED
    dim must prune fact partitions at runtime from the dim's filter — the
    plan carries a dynamicpruning subquery on the partition column. At
    100 TB this is the difference between scanning 7 year directories and
    scanning the 2 the dim selects."""
    out = str(tmp_path / "orders_by_year")
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("o_year", F.year("o_orderdate")).write.partitionBy(
        "o_year"
    ).mode("overwrite").parquet(out)

    # DPP preconditions at test scale: the fact side must NOT itself be
    # broadcast (shrink the threshold so only the 2-row dim qualifies) and
    # the dim side needs a selective predicate.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10240")
    try:
        years = spark.createDataFrame(
            [(1995, "old"), (1996, "a"), (1997, "b")], "y int, tag string"
        ).filter(F.col("y") >= 1996)
        fact = spark.read.parquet(out)
        joined = (
            fact.join(years, fact["o_year"] == years["y"])
            .groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plan_of(joined)
        assert "dynamicpruning" in plan.lower(), plan[:2000]
        # correctness of the pruned read
        got = {r["tag"]: r["n"] for r in joined.collect()}
        want = {
            r["tag"]: r["n"]
            for r in orders.withColumn("o_year", F.year("o_orderdate"))
            .filter(F.col("o_year") >= 1996)
            .join(
                spark.createDataFrame(
                    [(1996, "a"), (1997, "b")], "y int, tag string"
                ),
                F.col("o_year") == F.col("y"),
            )
            .groupBy("tag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert got == want and got
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


def test_ohlc_single_aggregate_pass(spark, sf_dir):
    """OHLC bars: all five aggregates (min_by/max_by/min/max/count) must
    run in ONE partial+final aggregate pair — no window functions, no
    second shuffle of the stream."""
    plan = plan_of(QUERIES["ts_ohlc_hourly"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan or "partial_count" in plan


def test_edit_distance_equi_joins_on_fingerprint(spark, sf_dir):
    """Edit-distance candidates come from a hash equi-join on the prefix
    fingerprint — never a cartesian/NLJ over the corpus."""
    plan = plan_of(QUERIES["ext_edit_distance_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan  # levenshtein is JVM-native


def test_lateral_topk_decorrelates_to_window(spark, sf_dir):
    """The LATERAL ORDER BY/LIMIT subquery must decorrelate to a ranked
    window (or equivalent join), never a per-row nested-loop replay."""
    plan = plan_of(QUERIES["rel_lateral_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_recursive_cte_executes_bounded(spark, sf_dir):
    """Recursive month spine: the recursion is calendar-sized; the plan
    must contain the recursive union operator and exactly one data-sized
    aggregate (the monthly revenue roll-up)."""
    df = QUERIES["rel_recursive_cte"](spark, sf_dir)
    assert df.count() >= 12  # multi-year span -> at least a year of months
    plan = plan_of(df)
    assert "UnionLoop" in plan or "Recursion" in plan or "Loop" in plan, plan[:1500]


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Runtime Bloom-filter join pruning: joining a large fact to a
    SELECTIVE dim without broadcast must inject a bloom_filter_agg on the
    creation side and a might_contain probe into the fact scan — at
    100 TB this is the difference between shuffling every fact row and
    shuffling only likely-matching ones. Size thresholds are lowered to
    trigger the rewrite at test scale (production defaults gate it to
    10GB+ scans, where it matters)."""
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan
        assert j.collect()[0]["n"] > 0
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the canonical pushdown probe: the shipdate range, discount
    bounds, and quantity cap must ALL reach the parquet scan."""
    plan = plan_of(QUERIES["rel_tpch_q6_forecast"](spark, sf_dir))
    pushed = plan.split("PushedFilters")[-1].split("]")[0]
    for frag in ["l_shipdate", "l_discount", "LessThan(l_quantity,24.0)"]:
        assert frag in pushed, f"{frag} not pushed: {pushed}"


def test_tpch_q19_hoisted_bounds_push(spark, sf_dir):
    """The OR-of-ANDs itself is not scan-pushable, but the hoisted implied
    bounds (brand IN-list + size/quantity ranges) must be."""
    plan = plan_of(QUERIES["rel_tpch_q19_disjunctive"](spark, sf_dir))
    pushed_all = plan.split("ReadSchema")[0]
    assert "In(p_brand" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert pushed_all  # plan rendered


def test_tpch_q18_aggregates_before_join(spark, sf_dir):
    """The quantity rollup + HAVING must collapse lineitem BEFORE any join:
    the plan's joins consume the aggregated side, not raw lineitem."""
    df = QUERIES["rel_tpch_q18_large_orders"](spark, sf_dir)
    plan = plan_of(df)
    agg_pos = plan.find("sum_qty")
    assert agg_pos != -1
    # the filter on the aggregate exists (HAVING), not a post-join filter
    assert "(sum_qty" in plan or "sum(l_quantity)" in plan


def test_tpch_q13_preserves_orderless_customers(spark, sf_dir):
    """Q13's LEFT join must keep customers with zero qualifying orders —
    a c_count = 0 bucket exists whenever any customer has only URGENT
    orders or none at all (true at every harness SF)."""
    rows = {
        r["c_count"]: r["custdist"]
        for r in QUERIES["rel_tpch_q13_custdist"](spark, sf_dir).collect()
    }
    total = sum(rows.values())
    n_cust = load_table(spark, sf_dir, "customer").count()
    assert total == n_cust  # every customer lands in exactly one bucket


def test_tpch_q22_anti_join_no_row_widening(spark, sf_dir):
    """Q22's NOT EXISTS must plan as a LEFT ANTI join over the pruned
    o_custkey column, never a full outer + filter."""
    plan = plan_of(QUERIES["rel_tpch_q22_idle_customers"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_copurchase_no_cartesian_distinct_first(spark, sf_dir):
    """The basket self-join must be an equi-join over the pre-collapsed
    distinct (order, part) relation — never a cartesian/BNLJ."""
    plan = plan_of(QUERIES["rel_copurchase_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_overlap_no_cartesian(spark, sf_dir):
    plan = plan_of(QUERIES["ext_source_overlap"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_reuses_edge_exchange(spark, sf_dir):
    """The three unrolled iterations must reuse the edge relation's
    exchange rather than rebuilding it per iteration."""
    df = QUERIES["rel_pagerank_copurchase"](spark, sf_dir)
    plan = plan_of(df, execute=True)
    assert "ReusedExchange" in plan
    assert "CartesianProduct" not in plan


def test_new_corpus_ops_stay_native(spark, sf_dir):
    """Gopher/C4/divergence/bigram/zipf must not plan Python evaluation."""
    for name in [
        "ext_gopher_quality",
        "ext_c4_filters",
        "ext_domain_divergence",
        "ext_bigram_logprob",
        "ext_zipf_fit",
    ]:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        assert "EvalPython" not in plan, f"{name} fell back to Python"


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew handling: a sort-merge join where one key holds most of
    the probe side must show skew-split partitions (`skew=true`) in the
    final plan — the runtime complement to the manual salting operator
    (operators.partitioning / rel_salted_join). Thresholds are lowered so
    harness-sized data trips the same code path production data would."""
    overrides = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8192",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8192",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
        # coalescing merges the small partitions first and suppresses the
        # skew reader at harness sizes; production leaves it on because
        # real partitions dwarf the advisory size
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    prev = {k: spark.conf.get(k, None) for k in overrides}
    for k, v in overrides.items():
        spark.conf.set(k, v)
    try:
        # 95% of the fact side lands on key 7. NB: a downstream groupBy on
        # the join key would SUPPRESS the split (AQE won't break a
        # partitioning a later stage needs) — the probe is a global agg.
        fact = spark.range(0, 200_000, 1, 16).selectExpr(
            "IF(id % 20 = 0, CAST(id % 13 AS LONG), 7L) AS k",
            "repeat('x', 128) AS pad",
        )
        dim = spark.range(0, 13).selectExpr("id AS k", "CAST(id * 10 AS LONG) AS v")
        j = fact.join(dim, "k").selectExpr("count(v) AS n")
        assert j.collect()[0]["n"] == 200_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skyline_windows_never_nl_join(spark, sf_dir):
    """The skyline must run as dominance WINDOWS (salted local + grouped
    global), never the quadratic NOT EXISTS rewrite the oracle uses."""
    plan = plan_of(QUERIES["rel_skyline_pareto"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Window") >= 4  # two dominance tests per phase


def test_er_pairs_join_on_block_key(spark, sf_dir):
    """Blocked ER pairs: the self-join must be an EQUI join on the block
    columns (Levenshtein runs post-join inside blocks), not a nested loop
    over the whole table."""
    plan = plan_of(QUERIES["ext_er_blocking_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan  # verification stays JVM-native


def test_interpolate_single_stream_shuffle(spark, sf_dir):
    """Linear interpolation touches the raw stream once: the only
    stream-sized exchange is the bucket pre-aggregation; grid and
    windows operate on |keys|x|buckets| rows."""
    plan = plan_of(QUERIES["ts_interpolate_linear"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # partial aggregation before the exchange (map-side combine)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_seasonal_baseline_broadcasts_back(spark, sf_dir):
    """The |types|x24 baseline table must broadcast onto the hourly
    aggregate — a shuffle join here would re-shuffle the whole series."""
    plan = plan_of(QUERIES["ts_seasonal_baseline"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_association_rules_broadcast_counts(spark, sf_dir):
    """Brand counts (25 rows) and the total (1 row) broadcast; the only
    data-sized shuffles are the distinct and the pair aggregation."""
    plan = plan_of(QUERIES["rel_association_rules"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_max_by_partial_aggregates(spark, sf_dir):
    """max_by top-1 must partial-aggregate (map-side candidate per group)
    and carry NO window/sort over the full table."""
    plan = plan_of(QUERIES["rel_max_by_lookup"](spark, sf_dir))
    assert "Window" not in plan
    assert "max_by" in plan


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """Spark's runtime Bloom-filter injection: a selective dimension side
    of a shuffle join plants a bloom_filter_agg whose might_contain
    pre-filters the fact scan BEFORE the shuffle — the runtime-filter
    pattern that, at 100 TB, keeps non-qualifying fact rows out of the
    exchange entirely. Broadcast is disabled to force the shuffle join
    (broadcast joins get the cheaper DPP/filter pushdown instead), and
    the application-side threshold is zeroed because the harness fact
    table is far below the production default."""
    from usedcars_bigdata_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = (
            load_table(spark, sf_dir, "orders")
            .filter("o_orderpriority = '1-URGENT'")
            .select("o_orderkey")
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("l_linestatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan.lower(), plan[:2000]
        # and the filtered result still matches the plain join
        plain = (
            load_table(spark, sf_dir, "lineitem")
            .join(
                load_table(spark, sf_dir, "orders")
                .filter("o_orderpriority = '1-URGENT'")
                .select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("l_linestatus")
            .count()
        )
        assert sorted(map(tuple, j.collect())) == sorted(map(tuple, plain.collect()))
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_attribution_single_window_exchange(spark, sf_dir):
    """All three attribution models come out of one joined-touch subtree:
    exactly ONE p_id hash exchange (the window stage), not one per model
    — the union-of-branches form re-planned the join 3x."""
    import re

    from usedcars_bigdata_spark.plans import QUERIES

    df = QUERIES["ts_attribution_models"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_exchanges = len(re.findall(r"Exchange hashpartitioning\(p_id", plan))
    assert n_exchanges == 1, f"{n_exchanges} p_id exchanges\n{plan[:1500]}"


def test_quantile_normalize_scans_corpus_twice(spark, sf_dir):
    """The count-table hub is materialized (localCheckpoint), so the
    documents corpus appears in exactly two scans: scoring into the
    counts, and the final map-back join."""
    import re

    from usedcars_bigdata_spark.plans import QUERIES

    df = QUERIES["ext_quantile_normalize"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_scans = len(re.findall(r"Scan parquet[^\n]*documents", plan))
    assert n_scans <= 2, f"{n_scans} documents scans"


@pytest.mark.parametrize(
    "name,table,budget",
    [
        ("ext_curation_v2", "documents", 6),
        ("rel_pagerank_copurchase", "lineitem", 1),
        ("ext_pair_graph_stats", "documents", 2),
        ("ext_remove_dup_spans", "documents", 3),
        ("ext_crosssplit_decontamination", "documents", 2),
        # round-5 single-pass rewrite: the whole funnel is one scan
        ("ts_funnel_stages", "events", 1),
        ("ext_split_lm_gate", "documents", 2),
        ("rel_dq_expectations", "orders", 3),
        ("rel_association_rules", "lineitem", 1),
        ("ext_pmi_cooccurrence", "documents", 2),
        ("ext_line_dedup", "documents", 2),
        ("ext_domain_divergence", "documents", 1),
        ("ts_mad_outliers", "events", 2),
        ("rel_chi_square", "orders", 1),
        ("ts_attribution_models", "events", 2),
        ("ext_quantile_normalize", "documents", 2),
        # round-6 continuation: hub tables localCheckpointed, so the
        # returned plan must carry ZERO residual scans of the hot table
        ("rel_link_prediction_ra", "lineitem", 0),
        ("rel_graph_assortativity", "lineitem", 0),
        ("ml_naive_bayes", "orders", 0),
        ("ml_gini_feature_rank", "orders", 0),
        ("ts_ljung_box", "events", 0),
        ("rel_kmv_set_ops", "orders", 0),
        ("ml_pinball_loss", "orders", 0),
        ("rel_bitemporal_asof", "orders", 0),
        # two-scan-by-design entries (hourly counts + span axis etc.)
        ("ts_periodogram", "events", 2),
        ("ts_rolling_corr", "events", 1),
        ("rel_zonemap_prune_audit", "events", 2),
        ("rel_bloom_join_prune", "orders", 2),
        ("rel_kruskal_wallis", "orders", 1),
        ("ts_jarque_bera", "events", 1),
        ("ext_flesch_readability", "documents", 1),
        ("ext_code_prose_detect", "documents", 1),
        ("rel_simpson_diversity", "lineitem", 1),
        ("ext_video_shot_cuts", "documents", 1),
        ("ext_audio_vad_segments", "documents", 2),
        # batches 18-27: hub-materialized (0 residual) or 2-by-design
        ("rel_t_closeness", "customer", 0),
        ("ts_runs_test", "events", 1),
        ("ts_pattern_vshape", "events", 1),
        ("ml_class_balance", "orders", 0),
        ("ts_did_estimator", "events", 2),
        ("ts_changepoint_binseg", "events", 2),
        ("ts_ar2_fit", "events", 0),
        ("ts_hurst_exponent", "events", 0),
        ("ts_haar_energy", "events", 0),
        ("ml_mrmr_rank", "orders", 0),
        ("ext_coverage_select", "documents", 0),
        ("ext_span_corruption", "documents", 1),
        ("rel_graph_bfs_layers", "lineitem", 0),
        ("rel_table_checksum", "orders", 1),
        ("ext_quality_rule_overlap", "documents", 0),
        # round-7 additions: fs_em is fully behind the pattern-table
        # checkpoint; purged splits behind the (ts, fold) checkpoint;
        # kappa is one map-side-combinable pass; kcore's per-round cuts
        # leave only the edge-derivation scans at build time
        ("ext_fs_em_weights", "part", 0),
        ("ts_purged_splits", "events", 0),
        ("ml_cohens_kappa", "orders", 1),
        ("rel_graph_kcore", "lineitem", 0),
        ("ext_dedup_minhash_md5", "documents", 0),
        # round-8 promotions: single-scan single-shuffle shapes — the
        # md5 twins must keep the scale tiers' plan shape, and the
        # Morton entry is one scan + one grouped agg (the min/max probe
        # executes at build time)
        ("ext_dedup_simhash", "documents", 1),
        ("ext_doc_fingerprint", "documents", 1),
        ("ext_text_langid", "documents", 1),
        ("rows_image_near_dupes", "documents", 0),
        ("ext_audio_frame_features", "documents", 1),
        ("rel_zorder_layout", "orders", 1),
        # r8 scan-audit fixes: hub checkpoints cut these from 9/8/4
        # corpus scans. rouge is the measured exception: its gram table
        # is corpus-sized, and re-exploding twice beat materializing
        # (3.21s vs 3.77s isolated) — budget 3 = pair list + two narrow
        # explode scans, with the structural win being the one-pass
        # left-join-with-marker aggregation.
        ("ts_acf_lags", "events", 0),
        ("ext_doremi_reweight", "documents", 0),
        ("ext_rouge_recall", "documents", 3),
        ("ts_atypical_users", "events", 0),
        ("ts_kendall_tau", "events", 0),
        ("ts_resample_locf", "events", 0),
        ("ts_cohort_ltv", "events", 1),
        ("ts_cusum_changepoints", "events", 0),
        ("ts_mann_whitney", "events", 1),
        ("ts_seasonal_baseline", "events", 0),
        ("ts_current_streaks", "events", 0),
        ("ml_ece", "orders", 0),
        ("ts_stl_strength", "events", 0),
        # r11 (r10 verdict #6): markov's transition matrix is |states|²-
        # bounded and now checkpointed — zero residual corpus scans
        ("ts_markov_entropy", "events", 0),
        # r11 scan-audit fixes: seasonal-anomalies' calendar-grid residual
        # table is checkpointed (was 8 outside-cache events scans);
        # curation is fused to one scan + one min_by shuffle (was 4)
        ("ts_seasonal_anomalies", "events", 0),
        ("ext_curation_pipeline", "documents", 1),
        # r11: measured budgets for every remaining >=3-outside-cache
        # entry, so the class is fully adjudicated (pin = ceiling, not
        # endorsement). fk_audit runs 3 narrow single-key anti-join legs
        # — one column-pruned scan per FK check beats caching a fact
        # projection; the CDC trio reads current/updates(/history) by
        # contract over dimension-sized tables; the ER pipeline reads
        # the entity table for blocks plus two block-pruned pair legs;
        # incremental dedup's old/new splits are pushdown-pruned filters
        # of one table (the delta pattern).
        ("rel_fk_audit", "lineitem", 3),
        ("rel_scd2_merge", "customer", 3),
        ("rel_scd2_pointlookup", "customer", 3),
        ("rel_snapshot_diff", "orders", 3),
        ("ext_er_blocking_pairs", "part", 3),
        ("ext_er_entities", "part", 3),
        ("ext_fs_match_scores", "part", 3),
        ("ext_incremental_dedup", "documents", 3),
        # r12 (r11 verdict #4): vocab_saturation's ONE outside-cache scan
        # is the 1-column doc_id projection feeding global_ntile's range
        # exchange — a column-pruned narrow scan that is CHEAPER than
        # routing it through the text-carrying shingle hub. Raw budget 3
        # because this test counts plan LINES and the lazy persist hub
        # re-prints its cached subtree per consumer (the InMemoryRelation
        # phantom); scripts/scan_audit.py's outside-cache view shows
        # 3 raw / 1 outside-cache — the narrow id leg is the only real
        # I/O beyond the hub fill.
        ("ext_vocab_saturation", "documents", 3),
    ],
)
def test_scan_budget_of_fixed_entries(spark, sf_dir, name, table, budget):
    """Regression guard for the round-4 multi-scan audit: each fixed
    entry's executed plan must stay within its scan budget for the hot
    table (materialized-hub scans execute at entry-build time and do not
    appear in the returned plan — the budget counts what is left)."""
    import re

    from usedcars_bigdata_spark.plans import QUERIES

    plan = QUERIES[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    n = len(re.findall(rf"Scan parquet[^\n]*/{table}\.parquet", plan))
    assert n <= budget, f"{name}: {n} {table} scans (budget {budget})"


@pytest.mark.parametrize(
    "name,table",
    [
        ("ts_resample_gap_fill", "events"),
        ("ext_dsir_weights", "documents"),
        ("ext_bm25_topk", "documents"),
        ("rel_key_skew_profile", "lineitem"),
    ],
)
def test_persist_hub_entries_scan_once(spark, sf_dir, name, table):
    """Round-5 hub policy: these entries share their reduced hub table
    via lazy persist() (lineage kept, no eager materialization job —
    the r4 bench-regression lesson). The printed plan shows the cached
    child once PER consumer (the audit's documented InMemoryRelation
    phantom), so the honest invariant is: every hot-table scan sits
    under an InMemoryRelation cache-build (which executes ONCE — the
    first consumer fills the cache, the rest read it), and none
    outside."""
    import re

    from usedcars_bigdata_spark.plans import QUERIES

    # Hermetic: earlier tests' persisted frames would otherwise be
    # substituted into matching subtrees by the CacheManager and skew
    # the scan/build counts (full-suite-only failure, round 5).
    spark.catalog.clearCache()
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    from usedcars_bigdata_spark.plantools import scans_outside_cache

    assert plan.count("InMemoryRelation") >= 1, f"{name}: hub must be cache-shared"
    # Every hot-table scan must sit INSIDE a cache-build subtree (the
    # cache executes once; additional prints are the documented
    # InMemoryRelation phantom). Equality counting breaks once hubs nest
    # (r9: rel_key_skew_profile persists counts AND
    # distributed_row_number's bucket frame) — "no scan outside a cache"
    # is the real invariant; the walk is shared in plantools.
    escaped = scans_outside_cache(plan, table)
    assert not escaped, (
        f"{name}: {table} scans escaped the shared hub: {escaped}"
    )


@pytest.mark.parametrize(
    "name,table,max_outside",
    [
        # r11 pins for the r10 verdict's ≥5-scan audit flags — each is a
        # cache-shared hub entry where raw scan-line counts are inflated
        # by the InMemoryRelation phantom; the honest invariant is the
        # number of hot-table scans OUTSIDE a cache-build subtree.
        # minhash_lsh: the shingle hub feeds the signature agg and both
        # verification joins — all five prints sit inside the cache.
        ("ext_dedup_minhash_lsh", "documents", 0),
        # inclusion_deps: per-(table, column) distinct key sets are built
        # once and cache-shared across the six candidate pairs.
        ("rel_inclusion_deps", "orders", 0),
        ("rel_inclusion_deps", "lineitem", 0),
        # conformal: the split/fit/calibration lineage is hub-shared; the
        # single residual scan is the test-leg scoring pass (by design —
        # it reads disjoint rows from the calibration lineage).
        ("ml_conformal_intervals", "orders", 1),
        # tail_contribution: the p99 threshold lineage is hub-shared; the
        # single residual scan is the final per-type aggregate over the
        # raw table (one combinable pass, by design).
        ("rel_tail_contribution", "events", 1),
        # corpus_card: hash+tokens+quality fused into one cached
        # projection serving the duplicate aggregate and the card rollup
        ("ext_corpus_card", "documents", 0),
    ],
)
def test_hub_shared_entries_scan_budget(spark, sf_dir, name, table, max_outside):
    """r10 verdict #6: the five entries flagged at ≥5 raw hot-table scans
    are either cache-shared hubs (scans inside the cache build execute
    once) or carry a declared residual pass. Pin the outside-cache count
    so a dropped persist shows up as a budget breach, not a silent 5×
    I/O bill at 100 TB."""
    import re as _re

    from usedcars_bigdata_spark.plans import QUERIES
    from usedcars_bigdata_spark.plantools import scans_outside_cache

    spark.catalog.clearCache()
    plan = (
        QUERIES[name](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    outside = scans_outside_cache(plan, table)
    assert len(outside) <= max_outside, (
        f"{name}: {len(outside)} {table} scans outside the shared hub "
        f"(budget {max_outside}): {outside}"
    )


def test_cbo_join_reorder_with_table_statistics(spark, sf_dir, tmp_path):
    """Cost-based optimization end-to-end: ANALYZE TABLE column statistics
    + cbo.joinReorder let Catalyst join the selective nation-filtered
    dimension BEFORE the big orders fact join, while the written order
    (orders ⋈ customer first) is kept when CBO is off — the stats-driven
    reorder a 100 TB warehouse relies on."""

    def innermost_join_cond(plan: str) -> str:
        # the LAST "Join Inner" line in the printed tree is the innermost
        # (first-executed) join; its condition names the reordered pair
        return plan[plan.rfind("Join Inner"):].splitlines()[0]

    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbodb LOCATION '{tmp_path}/wh'")
    spark.catalog.setCurrentDatabase("cbodb")
    confs = {
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for t in ["customer", "orders", "nation"]:
            load_table(spark, sf_dir, t).write.mode("overwrite").saveAsTable(t)
            spark.sql(f"ANALYZE TABLE {t} COMPUTE STATISTICS FOR ALL COLUMNS")
        sql = """
            SELECT n.n_name, count(*) AS n FROM orders o
            JOIN customer c ON c.c_custkey = o.o_custkey
            JOIN nation n ON n.n_nationkey = c.c_nationkey
            WHERE n.n_name = 'NATION_5'
            GROUP BY 1"""
        for k, v in confs.items():
            spark.conf.set(k, v)
        with_cbo = innermost_join_cond(
            spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "n_nationkey" in with_cbo, with_cbo  # dim joined first
        spark.conf.set("spark.sql.cbo.enabled", "false")
        without = innermost_join_cond(
            spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "o_custkey" in without, without  # written order kept
        # and the answer is conf-independent
        spark.conf.set("spark.sql.cbo.enabled", "true")
        a = sorted(map(tuple, spark.sql(sql).collect()))
        spark.conf.set("spark.sql.cbo.enabled", "false")
        b = sorted(map(tuple, spark.sql(sql).collect()))
        assert a == b and a
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        spark.catalog.setCurrentDatabase("default")


def test_arrow_optimized_python_udf_parity_and_plan(spark, sf_dir):
    """Spark 4's Arrow-optimized Python UDF (@udf(useArrow=True)): same
    answers as the native column expression, and the plan carries
    ArrowEvalPython (vectorized Arrow transfer) rather than the
    row-at-a-time BatchEvalPython — the UDF tier between 'native
    column' and 'pandas_udf' the engine's UDF guidance documents."""
    from pyspark.sql.functions import udf

    @udf("double", useArrow=True)
    def discounted(price: float, disc: float) -> float:
        return price * (1.0 - disc)

    li = load_table(spark, sf_dir, "lineitem").limit(500)
    with_udf = li.select(
        "l_orderkey",
        F.round(discounted("l_extendedprice", "l_discount"), 2).alias("v"),
    )
    plan = with_udf._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan[:800]
    native = li.select(
        "l_orderkey",
        F.round(F.col("l_extendedprice") * (1.0 - F.col("l_discount")), 2).alias(
            "v"
        ),
    )
    a = sorted(map(tuple, with_udf.collect()))
    b = sorted(map(tuple, native.collect()))
    assert a == b


def test_bucketed_join_is_shuffle_free(spark, sf_dir):
    """rel_bucketed_join's whole point: after bucketBy(8, custkey) on
    both sides, the join plan carries NO Exchange (shuffle) on either
    input — the layout eliminated it."""
    import re

    from usedcars_bigdata_spark.plans import QUERIES

    # customer is dimension-sized at test SFs, so Catalyst broadcasts
    # it (also shuffle-free, but that proves nothing about bucketing);
    # disable broadcast to force the sort-merge path the layout serves.
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = QUERIES["rel_bucketed_join"](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    joins = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l or "ShuffledHashJoin" in l
    ]
    assert joins, f"expected a sort-merge join in the plan: {plan[:1500]}"
    # No Exchange on the JOIN keys: the bucketed scans feed the join
    # directly (the groupBy's mktsegment Exchange is expected and
    # unrelated to the layout).
    assert not re.search(r"Exchange hashpartitioning\((o_custkey|c_custkey)", plan), plan[:2000]


def test_inclusion_deps_true_fks_full_containment(spark, sf_dir):
    from usedcars_bigdata_spark.plans import QUERIES

    out = {
        (r.child, r.parent): r.containment
        for r in QUERIES["rel_inclusion_deps"](spark, sf_dir).collect()
    }
    assert out[("orders.o_custkey", "customer.c_custkey")] == 1.0
    assert out[("lineitem.l_orderkey", "orders.o_orderkey")] == 1.0
    # nonsense direction is clearly below 1
    assert out[("orders.o_custkey", "supplier.s_suppkey")] < 1.0


def test_inclusion_deps_one_pass_null_and_shared_keys(spark):
    """r11 rewrite invariants: (a) the marker-join containment counts a
    NULL child key in n_child but never as contained (identical to the
    old semi-join form); (b) the same (table, column) key set serves as
    child and parent off one shared build."""
    from usedcars_bigdata_spark.operators.clean import inclusion_dependencies
    from usedcars_bigdata_spark.operators.window import release_hubs

    child = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "k int"
    )
    parent = spark.createDataFrame([(1,), (3,)], "k int")
    try:
        out = {
            (r.child, r.parent): (
                r.n_child_distinct, r.n_contained, r.containment
            )
            for r in inclusion_dependencies(
                [
                    (child, "k", "c", parent, "k", "p"),
                    # same frames reversed — exercises the shared key-set
                    # cache serving both roles
                    (parent, "k", "p", child, "k", "c"),
                ]
            ).collect()
        }
    finally:
        release_hubs()
    # child distinct = {1, 2, NULL}; only 1 is contained; NULL counts in
    # n_child (it is a distinct child value) but never matches
    assert out[("c", "p")] == (3, 1, round(1 / 3, 6))
    # reversed: parent {1,3}, child-side distinct = {1,2,NULL}: only 1
    assert out[("p", "c")] == (2, 1, 0.5)


def test_auto_refine_floor_fraction_cap():
    """_auto_refine: 8·k floor at small pools, ~20% of the pool in the
    middle, 256·k cap at data-sized pools (keeps the exact rerank
    bounded per query)."""
    from usedcars_bigdata_spark.ext.similarity import _auto_refine

    assert _auto_refine(10.0, 5) == 8  # floor
    assert _auto_refine(3600.0, 10) == 72  # 20% of the pool / k
    assert _auto_refine(10_000_000.0, 10) == 256  # cap


def test_quality_score_passthrough_single_scan(spark):
    from usedcars_bigdata_spark.ext.text import quality_score

    df = spark.createDataFrame(
        [(1, "en", "the cat sat"), (2, "fr", "le chat")],
        "doc_id long, lang string, text string",
    )
    out = quality_score(df, "doc_id", "text", passthrough=("lang",))
    assert set(out.columns) == {
        "doc_id", "lang", "n_tokens", "stopword_ratio", "quality_score"
    }
    got = {r.doc_id: r.lang for r in out.collect()}
    assert got == {1: "en", 2: "fr"}
    # default stays column-compatible with every existing caller
    assert "lang" not in quality_score(df, "doc_id", "text").columns


def test_projection_pipeline_prunes_scan(spark, sf_dir):
    """rel_projection_pipeline (P1-P3/P14): the drop/select/rename chain
    must reach the parquet scan as column pruning — ReadSchema carries
    exactly the three surviving columns, never c_name/c_acctbal — and the
    top-10 must fuse into TakeOrderedAndProject (no global sort)."""
    plan = plan_of(QUERIES["rel_projection_pipeline"](spark, sf_dir))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "c_custkey" in scan[0] and "c_mktsegment" in scan[0]
    assert "c_name" not in scan[0] and "c_acctbal" not in scan[0]
    assert "TakeOrderedAndProject" in plan


def test_collection_dim_join_broadcasts(spark, sf_dir):
    """rel_collection_dim_join (S3/S4): the 5-row collection dim must join
    as BroadcastHashJoin — no shuffle of the nation side on the join key."""
    plan = plan_of(QUERIES["rel_collection_dim_join"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
