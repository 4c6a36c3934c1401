"""Physical-plan quality gates — the 100 TB design assertions.

These tests pin the plan shapes that matter at scale: column pruning
reaching the parquet scan, predicate pushdown, broadcast joins for small
dims, and shuffle-free narrow translate pipelines.  A regression here is
a performance bug even when results stay correct.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def test_scan_project_prunes_columns(spark):
    from pulsar_ingestion_spark.queries_core import scan_project

    plan = _plan(scan_project(spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"}


def test_filter_pred_pushes_down(spark):
    from pulsar_ingestion_spark.queries_core import filter_pred

    plan = _plan(filter_pred(spark, SF))
    assert "PushedFilters: [" in plan
    # the quantity bound must reach the scan, not sit in a post-filter only
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(l_quantity,30.0\)", plan), plan


def test_join_broadcast_is_broadcast(spark):
    from pulsar_ingestion_spark.queries_core import join_broadcast

    plan = _plan(join_broadcast(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_theta_range_join_is_bnlj_broadcast(spark):
    from pulsar_ingestion_spark.queries_core import join_theta_range

    plan = _plan(join_theta_range(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan  # 5-row bounds side broadcast


def test_translator_is_narrow(spark):
    """The translate pipeline itself must be shuffle-free: scan → project →
    filter → project.  (queries_translate adds an explicit fan_out
    repartition for under-split local files; the OPERATOR adds none.)"""
    from pulsar_ingestion_spark.operators.translators import translate_geotab
    from pulsar_ingestion_spark.session import load_tables

    ev = load_tables(spark, SF)["events"]
    payload = F.to_json(F.struct(F.col("event_id").cast("string").alias("Device_ID")))
    df = translate_geotab(ev.withColumn("value", payload))
    plan = _plan(df.select("cmf.vehicleId"))
    assert "Exchange" not in plan, plan


def test_single_parse_per_row(spark):
    """The Generate barrier keeps exactly one from_json evaluation in the
    plan (the translate perf guarantee)."""
    from pulsar_ingestion_spark.operators.translators import translate_geotab
    from pulsar_ingestion_spark.session import load_tables

    ev = load_tables(spark, SF)["events"].withColumn("value", F.col("props"))
    df = translate_geotab(ev)
    plan = _plan(df.select("cmf.vehicleId", "cmf.deviceId", "cmf.epochSource"))
    assert plan.count("from_json") == 1, plan


def test_agg_has_partial_aggregation(spark):
    from pulsar_ingestion_spark.queries_core import agg_group_sum_avg_min_max_count

    plan = _plan(agg_group_sum_avg_min_max_count(spark, SF))
    # partial (map-side) + final HashAggregate pair around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning" in plan


def test_topk_uses_take_ordered(spark):
    from pulsar_ingestion_spark.queries_core import sort_limit_topk

    plan = _plan(sort_limit_topk(spark, SF))
    assert "TakeOrderedAndProject" in plan  # never a global sort for LIMIT k


def test_fleet_dashboard_broadcasts_dim(spark):
    """The composite translate→enrich→rollup plan must broadcast the
    customer dim (never shuffle the fact side for the join)."""
    from pulsar_ingestion_spark.queries_extra import fleet_dashboard

    plan = _plan(fleet_dashboard(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunking_is_narrow(spark):
    """Document chunking must be a narrow map — no shuffle for a per-doc
    explode."""
    from pulsar_ingestion_spark.queries_llm import text_chunk_documents

    plan = _plan(text_chunk_documents(spark, SF))
    assert "Exchange" not in plan, plan


def test_cmf_warehouse_window_without_exchange(spark):
    """Per-vehicle window over the bucketed CMF store: scan satisfies the
    window's hash distribution — no Exchange in the plan; date partition
    pruning shows in the scan's partition filters."""
    from pyspark.sql import Window

    from pulsar_ingestion_spark.operators.storage import write_cmf_warehouse
    from pulsar_ingestion_spark.queries_translate import cmf_translate_geotab

    cmf = cmf_translate_geotab(spark, SF).withColumn(
        "event_date", F.to_date(F.to_timestamp(F.col("date_time")))
    )
    try:
        write_cmf_warehouse(
            cmf, "cmf_store", key_col="partition_key",
            sort_cols=("partition_key", "epoch_source"),
        )
        stored = spark.table("cmf_store")
        w = Window.partitionBy("partition_key").orderBy("epoch_source")
        q = stored.filter(F.col("event_date") >= "2024-01-10").select(
            "partition_key",
            "epoch_source",
            (F.col("epoch_source") - F.lag("epoch_source").over(w)).alias("gap_ms"),
        )
        plan = _plan(q)
        assert "Exchange" not in plan, plan
        assert q.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS cmf_store")


def test_multimodal_resize_prunes_payload(spark):
    """Metadata-only media op must not read the binary payload column."""
    from pulsar_ingestion_spark.queries_llm import q_multimodal_resize

    plan = _plan(q_multimodal_resize(spark, SF))
    assert "payload" not in plan.split("ReadSchema")[-1][:400]


def test_warehouse_vehicle_gaps_no_exchange(spark):
    """The registered warehouse query must plan with zero Exchange — the
    bucketed scan IS the window's distribution (VERDICT r1 item 3)."""
    from pulsar_ingestion_spark.queries_extra import warehouse_vehicle_gaps

    q = warehouse_vehicle_gaps(spark, SF)
    plan = _plan(q)
    assert "Exchange" not in plan, plan
    assert q.count() > 0


def test_decontaminate_broadcasts_eval_side(spark):
    """The eval n-gram side must broadcast: the training-corpus side of a
    decontamination join can never be shuffled at 100 TB."""
    from pulsar_ingestion_spark.queries_llm import q_text_decontaminate

    plan = _plan(q_text_decontaminate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_bucketed_near_dup_plans_never_all_pairs(spark):
    """Regression guard on VERDICT r1's scale-killers: the bucketed
    near-dup paths must plan as equi-joins/grouped maps — a cartesian or
    broadcast-nested-loop join here means an O(n^2) plan came back."""
    from pulsar_ingestion_spark.queries_llm import (
        q_dedup_embedding_blas,
        q_dedup_minhash_banded,
        q_dedup_simhash,
        q_sim_search_lsh_multiprobe,
    )

    for fn in (q_dedup_embedding_blas, q_dedup_simhash,
               q_dedup_minhash_banded, q_sim_search_lsh_multiprobe):
        plan = _plan(fn(spark, SF))
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_banded_range_join_is_equi_shuffle(spark):
    """join_range_banded exists to avoid the O(n*m) plans: it must plan
    as a hash equi-join on the band key, never cartesian/BNLJ."""
    from pulsar_ingestion_spark.queries_events import q_join_range_banded

    plan = _plan(q_join_range_banded(spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rfm_windows_are_all_partitioned(spark):
    """VERDICT r2 item 3: events_rfm_segments must never plan an
    unpartitioned window (single-task global sort at 10^9 users).  Every
    Window node's partition spec (second Arguments list) must be
    non-empty — the range-partitioned row-number path guarantees it."""
    from pulsar_ingestion_spark.queries_events import q_events_rfm_segments

    plan = _plan(q_events_rfm_segments(spark, SF))
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert ", [], [" not in line, line


def test_star_schema_broadcasts_dims(spark):
    """tpch_revenue_by_region: nation + region (and at this SF orders/
    customer via AQE) must broadcast — the fact side is never shuffled
    for a dim join; column pruning must reach the lineitem scan."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_revenue_by_region

    plan = _plan(q_tpch_revenue_by_region(spark, SF))
    assert plan.count("BroadcastExchange") >= 2, plan  # nation + region at least
    m = re.search(r"ReadSchema: struct<l_orderkey[^>]*>", plan)
    assert m and "l_quantity" not in m.group(0), "lineitem scan must prune to 3 cols"


def test_nearest_poi_has_no_pre_agg_shuffle(spark):
    """geo_nearest_poi: the argmin folds into the scan stage map-side —
    the only exchange is the final per-ping partial-agg hash."""
    from pulsar_ingestion_spark.queries_geo import q_geo_nearest_poi

    plan = _plan(q_geo_nearest_poi(spark, SF))
    # one exchange for the groupBy(event_id) agg; nothing else wide
    assert plan.count("Exchange") <= 2, plan
    assert "SortMergeJoin" not in plan
    assert "partial_min" in plan, "argmin must have a map-side partial"


def test_bloom_pruned_join_broadcasts_words(spark):
    """join_bloom_pruned: the ≤64-row word table joins broadcast; the
    customer side is never shuffled for the probe."""
    from pulsar_ingestion_spark.queries_sketch import q_join_bloom_pruned

    plan = _plan(q_join_bloom_pruned(spark, SF))
    assert "BroadcastHashJoin" in plan
    # probe-side customer scan reads only the three needed columns
    m = re.search(r"ReadSchema: struct<c_custkey[^>]*>", plan)
    assert m and "c_name" not in m.group(0), plan


def test_kmeans_assign_is_broadcast_argmin(spark):
    """emb_kmeans_lloyd: centroids broadcast; the corpus is never
    shuffled for assignment (only the k×d recompute agg exchanges)."""
    from pulsar_ingestion_spark.queries_ml import q_emb_kmeans_lloyd

    plan = _plan(q_emb_kmeans_lloyd(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "partial_min" in plan, "per-vector argmin needs a map-side partial"


def test_vocab_coverage_broadcasts_vocab(spark):
    from pulsar_ingestion_spark.queries_ir import q_text_vocab_coverage

    plan = _plan(q_text_vocab_coverage(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_markov_normalizer_is_broadcast(spark):
    """events_markov_transitions: the row-total join replicates the
    ≤|types| side, never reshuffling the pair counts."""
    from pulsar_ingestion_spark.queries_events import q_events_markov_transitions

    plan = _plan(q_events_markov_transitions(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_decorrelated_scalar_sides_broadcast(spark):
    """The correlated-subquery family (TPC-H Q2/Q17/Q20/Q22 shapes) must
    decorrelate into BROADCAST joins of per-group aggregates — never a
    per-row subquery (no BroadcastNestedLoopJoin except Q22's 1-row
    scalar crossJoin) and never an unpartitioned window."""
    from pulsar_ingestion_spark.queries_tpch import (
        q_tpch_global_sales_opportunity,
        q_tpch_min_cost_supplier,
        q_tpch_parts_promo,
        q_tpch_small_qty_revenue,
    )

    for fn in (q_tpch_min_cost_supplier, q_tpch_small_qty_revenue, q_tpch_parts_promo):
        plan = _plan(fn(spark, SF))
        assert "BroadcastHashJoin" in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "Window" not in plan, plan
    # Q22: the global scalar is a one-row aggregate broadcast via
    # crossJoin (BNLJ of a 1-row side), plus an anti join on custkey.
    plan = _plan(q_tpch_global_sales_opportunity(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert re.search(r"Join.*LeftAnti", plan), plan


def test_qualify_topk_window_is_partitioned(spark):
    """win_topk_ties_qualify's rank window must be PARTITIONED (on the
    priority key) — an empty partition spec would funnel all orders
    through one task."""
    from pulsar_ingestion_spark.queries_tpch import q_win_topk_ties_qualify

    plan = _plan(q_win_topk_ties_qualify(spark, SF))
    assert "Window" in plan, plan
    assert re.search(r"partitionBy.*o_orderpriority|\[o_orderpriority[^\]]*\], \[o_totalprice", plan), plan


def test_disjunctive_pred_pushes_residuals(spark):
    """Q19's OR-of-ANDs: Catalyst can't push the cross-side disjunction,
    but the derived per-side residual (quantity bounds on the fact scan)
    must reach the lineitem reader, and part must broadcast."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_disjunctive_pred

    plan = _plan(q_tpch_disjunctive_pred(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    m = re.search(r"PushedFilters: \[([^\]]*l_quantity[^\]]*)\]", plan)
    assert m, plan  # quantity residual pushed to the lineitem scan


def test_top_supplier_scalar_is_broadcast_one_row(spark):
    """Q15's max-revenue scalar must broadcast.  Catalyst even upgrades
    the crossJoin + equality filter into a broadcast HASH join keyed on
    the revenue value — all joins broadcast, no sort-merge, and no
    unpartitioned window anywhere."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_top_supplier

    plan = _plan(q_tpch_top_supplier(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2, plan  # scalar + supplier dim
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_forecast_revenue_full_pushdown(spark):
    """Q6 is the purest pushdown probe: every predicate column reaches the
    scan as a pushed filter, and ReadSchema carries only the four columns
    the query touches — no full-width fact read."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_forecast_revenue

    plan = _plan(q_tpch_forecast_revenue(spark, SF))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_shipmode_priority_filters_before_join(spark):
    """Q12's year filter must prune lineitem at the scan (pushed), so the
    orderkey shuffle carries one year of the fact, not all of it."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_shipmode_priority

    plan = _plan(q_tpch_shipmode_priority(spark, SF))
    assert re.search(r"PushedFilters: \[[^\]]*l_shipdate", plan), plan
    # conditional aggregation, not a pivot: exactly one Expand-free agg pair
    assert "Expand" not in plan


def test_supplier_part_count_anti_join_is_broadcast(spark):
    """Q16: the exclusion list and the part dim are broadcast; the distinct
    pair collapse is the only fact shuffle."""
    from pulsar_ingestion_spark.queries_tpch import q_tpch_supplier_part_count

    plan = _plan(q_tpch_supplier_part_count(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plan), plan
    assert "SortMergeJoin" not in plan


def test_scd2_join_is_single_key_join(spark):
    """SCD2 lookup must remain ONE join on the natural key (broadcast
    here) — the validity interval is a residual predicate, never a
    nested-loop cross product."""
    from pulsar_ingestion_spark.queries_warehouse import q_scd2_point_in_time

    plan = _plan(q_scd2_point_in_time(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_constraint_audit_is_single_scan(spark):
    """Five DQ rules must fold into ONE scan of the fact — a per-rule
    scan would read 100 TB five times."""
    from pulsar_ingestion_spark.queries_warehouse import q_dq_constraint_audit

    plan = _plan(q_dq_constraint_audit(spark, SF))
    # count node-detail entries (the formatted plan prints each node in
    # both the tree and the detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_merge_upsert_is_one_outer_join(spark):
    """MERGE apply = exactly one full-outer join on the primary key."""
    from pulsar_ingestion_spark.queries_warehouse import q_warehouse_merge_upsert

    plan = _plan(q_warehouse_merge_upsert(spark, SF))
    assert re.search(r"SortMergeJoin[^\n]*FullOuter", plan) or re.search(
        r"ShuffledHashJoin[^\n]*FullOuter", plan
    ), plan
    joins = re.findall(
        r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin"
        r"|BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )
    assert len(joins) == 1, joins


def test_bm25_broadcasts_stats_sides(spark):
    """BM25's df and (N, avgdl) sides must broadcast — only the token
    stream itself may shuffle."""
    from pulsar_ingestion_spark.queries_ir import q_text_bm25_topk

    plan = _plan(q_text_bm25_topk(spark, SF))
    assert plan.count("BroadcastExchange") >= 2, plan


def test_reservoir_window_is_partitioned(spark):
    """Bottom-k reservoir must rank within event_type partitions — an
    unpartitioned window would serialize the corpus through one task."""
    from pulsar_ingestion_spark.queries_sketch import q_sample_reservoir_hash

    plan = _plan(q_sample_reservoir_hash(spark, SF))
    assert "WindowGroupLimit" in plan or "Window" in plan
    assert re.search(r"hashpartitioning\(event_type", plan), plan


def test_whiten_stats_side_is_broadcast(spark):
    """The 64-row per-dim stats relation joins back broadcast; the values
    relation shuffles on the 64-key dim only."""
    from pulsar_ingestion_spark.queries_ml import q_emb_whiten_stats

    plan = _plan(q_emb_whiten_stats(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iterations_reuse_cached_edges(spark):
    """The event stream must be scanned/aggregated ONCE: every unrolled
    iteration reads the persisted transition relation (InMemoryRelation
    in the plan), and rank-side joins broadcast — no data-scale shuffle
    per iteration."""
    from pulsar_ingestion_spark.queries_graph import q_graph_pagerank

    plan = _plan(q_graph_pagerank(spark, SF))
    # every iteration consumes the persisted edge/node relations (the
    # formatted plan re-prints the cached build under each InMemoryTableScan,
    # so parquet-scan string counts overstate actual executions)
    assert plan.count("InMemoryTableScan") >= 2 * 3, plan
    assert "BroadcastHashJoin" in plan, plan


def test_kmv_sketch_uses_distributed_topk(spark):
    """Bottom-k selection must plan as TakeOrderedAndProject (local
    top-k + merge), never a global Sort followed by Limit on one task."""
    from pulsar_ingestion_spark.queries_sketch import q_sketch_kmv_intersect

    plan = _plan(q_sketch_kmv_intersect(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_weighted_sample_window_is_partitioned(spark):
    from pulsar_ingestion_spark.queries_sketch import q_sample_weighted_kmv

    plan = _plan(q_sample_weighted_kmv(spark, SF))
    assert re.search(r"hashpartitioning\(event_type", plan), plan


def test_incremental_agg_has_partial_aggregation(spark):
    """Partials must combine map-side (HashAggregate before and after the
    exchange) — the mergeability that makes the IVM pattern O(batch)."""
    from pulsar_ingestion_spark.queries_warehouse import q_warehouse_incremental_agg

    plan = _plan(q_warehouse_incremental_agg(spark, SF))
    assert plan.count("HashAggregate") >= 2, plan


def test_changelog_compact_single_key_shuffle(spark):
    """Latest-wins compaction is ONE window over the key shuffle — no
    join back, no second exchange on the same data."""
    from pulsar_ingestion_spark.queries_warehouse import q_warehouse_changelog_compact

    plan = _plan(q_warehouse_changelog_compact(spark, SF))
    assert re.search(r"hashpartitioning\(key", plan), plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan, plan


def test_interp_linear_windows_are_partitioned(spark):
    from pulsar_ingestion_spark.queries_stats import q_ts_interp_linear

    plan = _plan(q_ts_interp_linear(spark, SF))
    assert re.search(r"hashpartitioning\(event_type", plan), plan


def test_bigram_counts_broadcast_back(spark):
    """The bigram/prefix count tables are vocabulary-sized — they must
    join back broadcast so only the (doc, bigram, tf) stream shuffles."""
    from pulsar_ingestion_spark.queries_llm import q_text_bigram_logprob

    plan = _plan(q_text_bigram_logprob(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Partition-pruning at runtime: a join against a filtered dim must
    plan a dynamicpruning subquery on the fact's partition column, so at
    100 TB only the surviving month directories are read."""
    from pulsar_ingestion_spark.session import load_tables

    orders = load_tables(spark, "/root/testdata/sf0.001")["orders"]
    fact_path = str(tmp_path / "orders_by_month")
    (
        orders.withColumn(
            "o_month", F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM")
        )
        .write.partitionBy("o_month")
        .parquet(fact_path)
    )
    fact = spark.read.parquet(fact_path)
    dim = (
        fact.select("o_month").distinct()
        .filter(F.col("o_month") >= "1997-06")
        .withColumnRenamed("o_month", "d_month")
    )
    prev = spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
    try:
        joined = fact.join(dim.hint("no_broadcast"), fact["o_month"] == dim["d_month"])
        plan = _plan(joined)
        assert "dynamicpruning" in plan.lower(), plan
    finally:
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", prev)


def test_text_dedup_cascade_exact_join_compares_two_digests(spark):
    """The exact stage joins each row to its digest group on the row's
    digest and the group's, two attributes.  Checked with Spark's
    re-resolution of a trivially true self-join predicate (``h = h``)
    turned off, so the query does not lean on it."""
    from pulsar_ingestion_spark.queries_llm import q_text_dedup_cascade

    key = "spark.sql.selfJoinAutoResolveAmbiguity"
    spark.conf.set(key, "false")
    try:
        plan = q_text_dedup_cascade(spark, SF)._jdf.queryExecution().analyzed().toString()
    finally:
        spark.conf.unset(key)
    conds = [ln for ln in plan.splitlines() if "Join Inner" in ln]
    eqs = [m for ln in conds for m in re.findall(r"\((\w+)#(\d+)L? = (\w+)#(\d+)L?\)", ln)]
    digests = [(a, b) for name, a, _, b in eqs if name == "h"]
    assert digests, plan
    assert all(a != b for _, a, _, b in eqs), conds
