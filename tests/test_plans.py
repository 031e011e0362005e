"""Physical-plan assertions — the 100 TB posture checks: pushdown reaches
the scan, dim joins broadcast, shared windows collapse to one shuffle,
top-k plans TakeOrderedAndProject (SURVEY.md §7.3)."""

from __future__ import annotations

from financial_data_lakehouse_pipeline__spark import corpus, plans


def _q(name):
    return corpus.queries()[name]


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = _q("filter_pushdown_purchases")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "PushedFilters" in plan
    # The event_type equality and value threshold must be pushed.
    assert "event_type" in plan.split("PushedFilters")[1].splitlines()[0]


def test_projection_pruned_at_scan(spark, sf_dir):
    df = _q("filter_pushdown_purchases")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    # props (a wide map column) must NOT be read for this 4-column query.
    assert "props" not in read_schema


def test_enrichment_joins_broadcast(spark, sf_dir):
    df = _q("enrich_customer_geo")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_master_supplier_daily_broadcasts_dims(spark, sf_dir):
    df = _q("master_supplier_daily")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_shared_windows_one_exchange(spark, sf_dir):
    """All rolling frames share (partition, order) → exactly one shuffle."""
    df = _q("rolling_sma")(spark, sf_dir)
    assert plans.count_exchanges(df) == 1


def test_topk_plans_take_ordered(spark, sf_dir):
    df = _q("topk_orders")(spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_asof_join_single_exchange(spark, sf_dir):
    """Union + carry-forward as-of join costs one shuffle like any keyed
    window — the property that makes it scale (operators/joins.asof_join)."""
    df = _q("asof_last_purchase")(spark, sf_dir)
    assert plans.count_exchanges(df) <= 2  # union inputs coalesce into one sort


def test_bucketed_join_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Two tables bucketed on the join key with the same bucket count
    sort-merge-join WITHOUT any Exchange — the co-located-join layout
    (sources/writers.write_bucketed_table)."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.sources import read_table
    from financial_data_lakehouse_pipeline__spark.sources.writers import (
        write_bucketed_table,
    )

    base = str(tmp_path_factory.mktemp("bucketed"))
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = read_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed_table(o, "t_bko", ["o_orderkey"], 8, path=base + "/o")
    write_bucketed_table(
        li.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_bkl",
        ["o_orderkey"],
        8,
        path=base + "/l",
    )
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bko").join(spark.table("t_bkl"), "o_orderkey").select(
            "o_orderkey", "o_totalprice", "l_quantity"
        )
        assert plans.count_exchanges(j) == 0
        assert j.count() > 0
        # sanity: the same join over plain (unbucketed) reads shuffles both sides
        pj = o.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        assert plans.count_exchanges(pj) == 2
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bko")
        spark.sql("DROP TABLE IF EXISTS t_bkl")


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salting is a pure execution-strategy change: result set identical
    to the unsalted join (operators/joins.salted_join)."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.operators import joins
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    salted = joins.salted_join(ev, dim, ["user_id"], salt=4)
    plain = ev.join(dim, "user_id")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_recency_anchor_is_broadcast(spark, sf_dir):
    """The global-max anchor joins via broadcast, not a shuffle or collect."""
    df = _q("recency_weighted_value")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_range_join_binned_broadcasts_intervals(spark, sf_dir):
    """The binned range join must plan a broadcast hash join on the bin
    key — never BroadcastNestedLoop/cartesian (the naive theta-join plan)."""
    df = _q("campaign_order_windows")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.has_broadcast_join(df)
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_tfidf_broadcasts_vocabulary(spark, sf_dir):
    """The df (vocabulary) and corpus-size sides broadcast; the only full
    shuffle is the (doc, term) tf aggregation + the top-k window."""
    df = _q("tfidf_top_terms_docs")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_sampling_is_scan_filter_only(spark, sf_dir):
    """Deterministic sampling adds no exchange: pure scan -> filter."""
    df = _q("stratified_sample_docs")(spark, sf_dir)
    assert plans.count_exchanges(df) == 0


def test_contamination_eval_side_broadcasts(spark, sf_dir):
    """Decontamination probes the tiny eval shingle set via broadcast —
    the train side must not shuffle for the overlap join."""
    from financial_data_lakehouse_pipeline__spark import plans
    from financial_data_lakehouse_pipeline__spark.corpus import queries

    df = queries()["decontaminate_docs"](spark, str(sf_dir))
    assert plans.has_broadcast_join(df)


def test_zscore_stats_join_is_broadcast(spark, sf_dir):
    """The 1-row-per-group stats table broadcasts back to the fact side —
    the fact rows never shuffle for the join-back."""
    df = _q("zscore_outlier_prices")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_mixture_resample_broadcasts_thresholds(spark, sf_dir):
    """Per-stratum thresholds (rows = strata) broadcast; the corpus side
    stays a scan + filter."""
    df = _q("mixture_resample_docs")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_indicator_stack_shares_one_sort(spark, sf_dir):
    """VWAP/rolling-corr share the indicator (partition, order): exactly
    ONE exchange (+ sort) feeds the whole window stack."""
    df = _q("rolling_corr_price_qty")(spark, sf_dir)
    assert plans.count_exchanges(df) == 1
    df2 = _q("vwap_supplier_price")(spark, sf_dir)
    assert plans.count_exchanges(df2) == 1


def test_sweep_curve_aggregates_before_global_window(spark, sf_dir):
    """The sweep-line's unpartitioned cumulative window must consume the
    PRE-AGGREGATED curve: the single-partition exchange sits above the
    per-instant aggregation, never above raw intervals."""
    df = _q("session_concurrency")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SinglePartition" in plan
    # the aggregate (per-instant delta sum) must appear below the
    # single-partition exchange in the plan tree
    # formatted plans print upstream nodes first: the per-instant
    # HashAggregate must appear before (upstream of) the single-partition
    # exchange that feeds the cumulative window
    single = plan.index("SinglePartition")
    assert "HashAggregate" in plan[:single]


def test_pagerank_no_cartesian_product(spark, sf_dir):
    """Message passing is keyed equi-joins end to end — the only
    acceptable shape for an iterative algorithm at scale; the 1-row N
    broadcast must not plan as a CartesianProduct either (BroadcastNested
    LoopJoin on a 1-row side is fine)."""
    p = plans.formatted_plan(_q("pagerank_copurchase")(spark, sf_dir))
    assert "CartesianProduct" not in p


def test_vocab_coverage_topk_is_heap_based(spark, sf_dir):
    """The vocabulary top-k must plan TakeOrderedAndProject (per-
    partition heaps), never a single-task global sort of the whole
    vocabulary."""
    p = plans.formatted_plan(_q("vocab_coverage_docs")(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_weighted_sample_total_is_broadcast(spark, sf_dir):
    """The 1-row total-weight aggregate joins in via broadcast — the
    sample filter itself never shuffles the document table."""
    p = plans.formatted_plan(_q("weighted_sample_docs")(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p


def test_exact_k_sample_is_heap_based(spark, sf_dir):
    """Exact-k sampling must plan TakeOrderedAndProject — per-partition
    k-heaps, never a global sort of the corpus."""
    p = plans.formatted_plan(_q("exact_k_sample_docs")(spark, sf_dir))
    assert "TakeOrderedAndProject" in p


def test_cms_estimate_broadcasts_sketch(spark, sf_dir):
    """The sketch side of a CMS probe is depth*width rows at most — it
    must broadcast so probing is map-side (operators/sketches)."""
    df = _q("cms_heavy_users")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_pq_encode_is_pure_projection(spark, sf_dir):
    """PQ encoding embeds the codebooks as literals: the plan over the
    scan must contain NO Exchange and NO Join — the property that lets
    a 100 TB corpus encode in one pass."""
    from financial_data_lakehouse_pipeline__spark.operators import similarity
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    books = similarity.pq_train(emb, m=4, k=8, iters=1, dim=64)
    codes = similarity.pq_encode(emb, books, dim=64)
    p = plans.formatted_plan(codes)
    assert plans.count_exchanges(codes) == 0
    assert "Join" not in p


def test_hist_quantiles_window_runs_over_sketch_not_data(spark, sf_dir):
    """The unpartitioned cumulative window in the histogram-quantile
    plan must sit ABOVE the bin aggregation (<= bins rows), never over
    the raw table — the sketch-then-query order of operations."""
    import re

    df = _q("hist_quantiles_order_totals")(spark, sf_dir)
    p = plans.formatted_plan(df)
    # formatted-mode operator ids number leaf -> root: the bin
    # HashAggregate must carry a SMALLER id than every Window operator.
    ids = {}
    for num, name in re.findall(r"\((\d+)\)\s+(\w+)", p):
        ids.setdefault(name, []).append(int(num))
    assert "Window" in ids and "HashAggregate" in ids
    assert min(ids["HashAggregate"]) < min(ids["Window"])


def test_q5_star_join_broadcasts_dims_and_pushes_region_filter(spark, sf_dir):
    """The TPC-H-Q5-shaped star join must broadcast the small dims
    (supplier/nation/region) and push the region filter into the scan —
    the plan where only the lineitem⋈orders⋈customer chain shuffles."""
    df = _q("regional_revenue_q5")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("r_name" in ln for ln in pushed)


def test_q3_top10_plans_take_ordered_with_broadcast(spark, sf_dir):
    """Q3 shape: final top-10 must plan TakeOrderedAndProject (no global
    sort), the filtered customer dim must broadcast, and the segment
    filter must reach the scan."""
    df = _q("shipping_priority_q3")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("c_mktsegment" in ln for ln in pushed)


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    """The scale posture trusts AQE to split skewed shuffle partitions
    (SCALE.md §3) — prove it fires: a 95%-hot-key sort-merge join run
    with low skew thresholds must show 'skew=true' in the executed
    adaptive plan."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")

        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        joined = left.join(right, "k")
        # collect() executes THIS DataFrame's query execution (count()
        # would build a different one whose adaptive plan never runs)
        assert len(joined.collect()) == 200_000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dpp_partitioned_revenue_corpus_plan(spark, sf_dir):
    """The dpp_partitioned_revenue CORPUS query (not just a synthetic
    fixture) must scan its hive-partitioned lake with a dynamicpruning
    subquery on ship_year — the bench headline that proves the pruned
    path end-to-end (oracle proves values; this proves the plan)."""
    from financial_data_lakehouse_pipeline__spark import corpus

    df = corpus.queries()["dpp_partitioned_revenue"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    assert "PartitionFilters" in plan


def test_dynamic_partition_pruning_on_partitioned_lake(spark, sf_dir, tmp_path):
    """A hive-partitioned fact joined to a filtered dim must plan a
    dynamicpruning subquery on the partition column — at 100 TB this is
    the difference between scanning every date directory and only the
    ones the dim join can reach."""
    import os as _os

    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.sources import (
        write_partitioned_parquet,
    )

    o = spark.read.parquet(_os.path.join(sf_dir, "orders.parquet")).withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    path = str(tmp_path / "orders_by_year")
    write_partitioned_parquet(o, path, ["order_year"])

    fact = spark.read.parquet(path)

    # 1) statically-known dim values constant-fold into a STATIC
    #    PartitionFilter on the scan — no directories listed beyond 1997
    static_dim = (
        spark.range(1995, 2002)
        .select(F.col("id").cast("int").alias("order_year"))
        .filter(F.col("order_year") == 1997)
    )
    static_join = fact.join(static_dim, "order_year")
    static_plan = plans.formatted_plan(static_join)
    assert "PartitionFilters: [(order_year" in static_plan
    assert "= 1997)" in static_plan

    # 2) runtime-only dim values (an aggregate over another scan) must
    #    plan a dynamicpruning subquery on the partition column
    dim = (
        spark.read.parquet(_os.path.join(sf_dir, "orders.parquet"))
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 0)
        .orderBy("order_year")
        .limit(1)
    )
    joined = fact.join(dim.select("order_year"), "order_year").groupBy(
        "order_year"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = plans.formatted_plan(joined)
    assert "dynamicpruning" in plan.lower(), plan[:3000]
    rows = joined.collect()
    assert len(rows) == 1 and rows[0]["order_year"] == 1995


def test_q4_exists_plans_left_semi(spark, sf_dir):
    """Q4's EXISTS must run as a LEFT SEMI join (no lineitem columns
    survive, no distinct needed) with the quarter filter pushed into
    the orders scan."""
    df = _q("order_priority_q4")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)


def test_q17_decorrelated_avg_broadcasts(spark, sf_dir):
    """Q17's correlated AVG subquery must decorrelate into a broadcast
    per-part aggregate — the fact table filters map-side against its
    own statistic, no re-scan, no shuffle of lineitem for the compare."""
    df = _q("small_qty_revenue_q17")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2  # part dim + per-part avg


def test_q18_having_survivors_broadcast_take_ordered(spark, sf_dir):
    """Q18: the post-HAVING big-order set must broadcast into orders and
    the final top-20 must plan TakeOrderedAndProject, not a global sort."""
    df = _q("large_volume_customers_q18")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_q19_quantity_envelope_pushed_to_scan(spark, sf_dir):
    """Q19's OR-of-ANDs: Catalyst must extract the common quantity
    envelope as a pushable conjunct for the lineitem scan (the
    disjunction itself evaluates post-join in codegen)."""
    df = _q("disjunctive_filter_q19")(spark, sf_dir)
    pushed = [
        ln
        for ln in plans.formatted_plan(df).splitlines()
        if "PushedFilters" in ln
    ]
    assert any("l_quantity" in ln for ln in pushed), pushed


def test_q21_semi_anti_self_joins_no_cartesian(spark, sf_dir):
    """Q21's EXISTS/NOT EXISTS pair must plan as semi + anti joins on
    the orderkey — never a cartesian product."""
    df = _q("waiting_suppliers_q21")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q22_anti_join_and_scalar_broadcast(spark, sf_dir):
    """Q22: the NOT EXISTS must plan LEFT ANTI on custkey and the global
    average must arrive via broadcast (1-row aggregate), with the
    recency filter pushed into the orders scan."""
    df = _q("global_avg_balance_q22")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftAnti" in plan
    assert "Broadcast" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed)


def test_target_encode_stats_broadcast(spark, sf_dir):
    """LOO encoding must broadcast the per-key stats and the 1-row
    global mean — the fact side never shuffles."""
    df = _q("target_encode_segment")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_equal_freq_bins_joins_broadcast_edges(spark, sf_dir):
    """Bin edges (distinct-value table) broadcast back onto the rows."""
    df = _q("equal_freq_bins_orders")(spark, sf_dir)
    assert plans.has_broadcast_join(df)


def test_pmi_no_cartesian(spark, sf_dir):
    """Pair generation is a keyed self-join; item counts broadcast."""
    df = _q("pmi_copurchase_parts")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_welch_t_single_aggregation(spark, sf_dir):
    """All six conditional moment sums ride ONE aggregation — exactly
    one exchange, no self-join."""
    df = _q("welch_ab_order_totals")(spark, sf_dir)
    assert plans.count_exchanges(df) == 1
    assert "Join" not in plans.formatted_plan(df)


def test_gini_no_row_level_global_sort(spark, sf_dir):
    """Gini must run over value-level counts (aggregate-then-window),
    never a row-level global sort of the fact table."""
    df = _q("gini_customer_balance")(spark, sf_dir)
    assert plans.count_exchanges(df) <= 3


def test_rfm_bins_broadcast_no_extra_fact_shuffle(spark, sf_dir):
    """RFM: the per-customer aggregate shuffles once; all three bin-edge
    tables and the global max date broadcast onto it."""
    df = _q("rfm_segmentation")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_q2_semi_filters_broadcast_single_fact_shuffle(spark, sf_dir):
    """Q2: part and region-supplier restrictions must reach lineitem as
    broadcast LEFT SEMI joins (map-side pruning before the pair
    aggregate) and the decorrelated per-part MIN must be a window over
    the aggregated pair table, not a self-join re-scan of the fact."""
    df = _q("min_cost_supplier_q2")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plan.count("LeftSemi") >= 2
    assert "CartesianProduct" not in plan
    # one lineitem scan only — the window min must not recompute it
    # (table names appear on the scans' Location detail lines)
    locs = [ln for ln in plan.splitlines() if "Location" in ln]
    assert sum("lineitem" in ln for ln in locs) == 1, locs


def test_q6_all_conjuncts_pushed_to_scan(spark, sf_dir):
    """Q6 is the pure-pushdown query: shipdate, discount, and quantity
    predicates must ALL reach the parquet scan, and the read schema
    must prune to the 4 referenced columns."""
    df = _q("forecast_revenue_q6")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" not in read_schema


def test_q11_single_fact_scan_via_checkpoint(spark, sf_dir):
    """Q11's global-total cross join must feed off the checkpointed
    part-level aggregate — exactly one lineitem scan in the plan."""
    df = _q("important_stock_q11")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    locs = [ln for ln in plan.splitlines() if "Location" in ln]
    assert sum("lineitem" in ln for ln in locs) == 0, (
        "checkpoint should replace the lineitem lineage entirely"
    )
    # the broadcast 1-row total plans as BroadcastNestedLoopJoin, which
    # is fine; an actual CartesianProduct node never is
    assert "CartesianProduct" not in plan


def test_q12_single_shuffle_conditional_counts(spark, sf_dir):
    """Q12: date filter pushed into the lineitem scan; the bucket +
    conditional counts collapse into one aggregate after the join."""
    df = _q("lateness_priority_q12")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("l_shipdate" in ln for ln in pushed)
    assert "CartesianProduct" not in plan


def test_q20_promo_semi_broadcast_window_total(spark, sf_dir):
    """Q20: promo part keys prune lineitem via broadcast LEFT SEMI; the
    per-part total is a window over the aggregated pair table (single
    fact scan); the survivor set broadcasts into the supplier dim."""
    df = _q("promo_suppliers_q20")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    locs = [ln for ln in plan.splitlines() if "Location" in ln]
    assert sum("lineitem" in ln for ln in locs) == 1, locs
    assert "CartesianProduct" not in plan


def test_pareto_two_phase_no_global_sort_of_input(spark, sf_dir):
    """Skyline phase 1 runs frontier scans PARTITIONED by price bucket;
    only the bounded survivor set hits the single-partition phase-2
    window — and dominance never becomes a join (no cartesian)."""
    df = _q("pareto_frontier_parts")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # two frontier passes -> exactly two Window nodes, the first
    # partitioned by the price bucket, the second over survivors only
    import re

    assert len(re.findall(r"\(\d+\) Window", plan)) == 2
    assert "windowspecdefinition(__b#" in plan  # phase 1 bucket-partitioned


def test_prefix_jaccard_no_cartesian_and_semi_bounded_verify(spark, sf_dir):
    """Candidates come from the prefix-posting equi-join; verification is
    semi-join-restricted — all-pairs never materializes."""
    df = _q("prefix_jaccard_pairs_docs")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "LeftSemi" in plan


def test_theilsen_pairs_join_on_group_key(spark, sf_dir):
    """Pair generation is an equi-join on the supplier key (never a
    cartesian): cost stays sum-of-group-squares, calendar-bounded."""
    df = _q("theilsen_weekly_revenue")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_spearman_single_exchange(spark, sf_dir):
    """Both rank passes and the moment aggregation share ONE hash
    partitioning on the supplier key — exactly one shuffle."""
    df = _q("spearman_quantity_price_supplier")(spark, sf_dir)
    assert plans.count_exchanges(df) == 1


def test_grouped_udaf_single_aggregate_exchange(spark, sf_dir):
    """The GROUPED_AGG pandas UDAF plans as AggregateInPandas over
    exactly one hash-partition exchange — the same shuffle shape as a
    built-in aggregate, no extra round-trips."""
    df = _q("grouped_udaf_geomean")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # Spark 4.1 names the node ArrowAggregatePython (AggregateInPandas
    # in 3.x) — accept either.
    assert "ArrowAggregatePython" in plan or "AggregateInPandas" in plan
    assert plans.count_exchanges(df) == 1
    # column pruning reached the scan: only the 4 needed columns
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_kmv_global_bottom_k_is_heap_not_sort(spark, sf_dir):
    """The global KMV register cut plans TakeOrderedAndProject (per-
    partition heap + k-row merge) — never a global sort of the data."""
    df = _q("kmv_quantile_prices")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan


def test_exact_k_per_group_window_group_limit(spark, sf_dir):
    """Per-group exact-k sampling pre-prunes each partition to its local
    top-k via WindowGroupLimit before the shuffle — shuffle volume is
    k-bounded and no global sort exists."""
    df = _q("exact_k_per_group_docs")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert plans.count_exchanges(df) == 1


def test_multiprobe_broadcasts_probe_side(spark, sf_dir):
    """Multi-probe expansion stays on the broadcast query side: the
    candidate join is a broadcast hash join on the bucket key — never
    a cartesian/nested-loop over the corpus."""
    df = _q("signlsh_multiprobe_topk")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_hbos_fact_never_shuffles(spark, sf_dir):
    """HBOS joins are all broadcast (1-row stats, <=n_bins histograms):
    no sort-merge join, no cartesian product — the single exchanges in
    the plan belong to the tiny aggregate subtrees, not the fact."""
    df = _q("hbos_outlier_orders")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plans.has_broadcast_join(df)


def test_bucketed_groupby_is_shuffle_free(spark, sf_dir, tmp_path_factory):
    """Aggregating on the bucket key of a bucketed table needs NO
    exchange: the scan already satisfies the clustered distribution —
    the pre-shuffled-layout payoff for repeated group-bys, same as the
    co-located join."""
    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark.sources import read_table
    from financial_data_lakehouse_pipeline__spark.sources.writers import (
        write_bucketed_table,
    )

    base = str(tmp_path_factory.mktemp("bucketed_gb"))
    o = read_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    write_bucketed_table(o, "t_bgb", ["o_custkey"], 8, path=base + "/o")
    try:
        g = spark.table("t_bgb").groupBy("o_custkey").agg(
            F.sum("o_totalprice").alias("s")
        )
        assert plans.count_exchanges(g) == 0
        # sanity: the same aggregate over the plain read shuffles
        assert plans.count_exchanges(
            o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("s"))
        ) == 1
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bgb")


def test_zipf_fit_rank_window_is_distributed(spark, sf_dir):
    """The vocabulary rank must be the range-partitioned prefix-sum
    shape (per-range row_number behind a hashpartitioning(__pid)
    exchange), not a single-partition window over the full vocabulary —
    the last unbounded-domain single-partition window, retired round 12.
    The only SinglePartition stages left feed the P-row offsets table
    and the final one-row OLS moments (metadata-scale by construction)."""
    df = _q("zipf_fit_docs")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # the data-scale rank window is partitioned by the range id
    assert "hashpartitioning(__pid" in plan
    # row_number (the rank) appears inside a __pid-partitioned
    # windowspecdefinition, never a global one
    rn_specs = [
        ln for ln in plan.splitlines()
        if "row_number()" in ln and "windowspecdefinition" in ln
    ]
    assert rn_specs, "rank window missing from plan"
    assert all("__pid" in ln for ln in rn_specs), rn_specs


def test_incremental_dedup_plan_is_batch_driven(spark, sf_dir, monkeypatch):
    """Round 13 (SCALE.md §19b): the union-shaped incremental plan's
    per-batch wall grew +92% over a 22x base growth on open
    vocabularies — the slope was the base's LINEAR terms (full-union
    bucket self-join, hot-bucket count, tag join, verify semi-joins),
    not candidate volume. The batch-driven plan broadcast-prunes the
    base index to the batch's band keys and broadcasts every
    member/size/same-id lookup, so NO join in the whole lineage
    sort-merges base-scale data: shuffle width tracks the batch's
    collision volume, base contributions are map-side-filtered scans."""
    import re

    from pyspark.sql import functions as F

    from financial_data_lakehouse_pipeline__spark import materialize
    from financial_data_lakehouse_pipeline__spark.operators import (
        dedup,
        sampling,
    )
    from financial_data_lakehouse_pipeline__spark.sources import read_table

    # pins off: the assertions read the full lineage, not LogicalRDD leaves
    monkeypatch.setenv(materialize.PIN_MODE_ENV, "off")
    d = read_table(spark, sf_dir, "documents")
    is_new = sampling.hash_bucket(F.col("doc_id"), salt="incr") < 1000
    base, inc = d.filter(~is_new), d.filter(is_new)
    df = dedup.incremental_minhash_pairs(base, inc, max_bucket_size=50)
    plan = plans.formatted_plan(df)
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # the base prune + member/size/pair filters are broadcast semi-joins
    assert len(re.findall(r"BroadcastHashJoin.*LeftSemi", plan)) >= 5


def test_knn_topk_scores_in_partials_not_nlj(spark, sf_dir):
    """knn_label_eval's stage 1 must be the partial-cut scorer (round
    13): each corpus partition emits its k best per query from numpy,
    so the plan carries a MapInPandas over the corpus scan and NO
    BroadcastNestedLoopJoin producing a |Q| x N scored relation — the
    shape whose interpreted HOF cosine cost ~75 min at sf2. The only
    joins left are the |Q| x k candidate table's broadcast label join."""
    df = _q("knn_label_eval")(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "MapInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cosine HOF fold must not appear anywhere in the plan —
    # scoring happens inside the Python worker, not Catalyst
    assert "zip_with" not in plan and "aggregate(" not in plan.lower()
