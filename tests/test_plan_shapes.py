"""Plan-shape regression guards (round-4, VERDICT r3 #3).

Wall-clock timing is proven non-signal on this host (NOTES.md records
59–97 s swings between identical runs); the PHYSICAL PLAN is the
signal. These tests pin the plan shapes the headline queries must keep:
broadcast joins stay broadcast, pushdown stays pushed, the single-agg
query keeps exactly one data shuffle, and nothing silently degrades to
a cartesian product. A future edit that regresses a plan fails here —
before any benchmark could (not) notice.
"""

from __future__ import annotations

import re

import pytest

from pim_etl_spark.catalog import get_queries


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan))


def test_q1_single_data_shuffle(spark, sf_dir):
    """q1: one partial-agg hash Exchange; the only other Exchange is
    the rangepartitioning required by the output ORDER BY. No joins."""
    plan = _plan(get_queries()["q1_pricing_summary"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:2000]
    assert _count(r"Exchange ", plan) <= 2, plan[:2000]
    assert "Join" not in plan, plan[:2000]


@pytest.mark.parametrize(
    ("name", "min_bhj"),
    [
        ("q3_shipping_priority", 2),
        ("q5_local_supplier_revenue", 5),
        ("supplier_lookup_join", 1),
    ],
)
def test_broadcast_joins_stay_broadcast(spark, sf_dir, name, min_bhj):
    """Dimension-sided joins must plan as BroadcastHashJoin — a
    SortMergeJoin here means a full shuffle of the fact table that a
    1000-executor cluster pays per query."""
    plan = _plan(get_queries()[name](spark, sf_dir))
    assert _count(r"BroadcastHashJoin", plan) >= min_bhj, f"{name}:\n{plan[:2000]}"
    assert "SortMergeJoin" not in plan, f"{name} degraded to SMJ:\n{plan[:2000]}"
    assert "CartesianProduct" not in plan, f"{name}:\n{plan[:2000]}"


def test_filter_and_projection_reach_the_scan(spark, sf_dir):
    """filter_project_pushdown: the predicate must appear in the
    parquet scan's PushedFilters and the scan must read only the
    projected columns (column pruning)."""
    plan = _plan(get_queries()["filter_project_pushdown"](spark, sf_dir))
    # the toString plan truncates long filter lists ("...") so don't
    # require a closing bracket — require a real predicate inside
    m = re.search(r"PushedFilters: \[\s*(IsNotNull|EqualTo|GreaterThan|LessThan)", plan)
    assert m, f"no pushed filters in scan:\n{plan[:2000]}"
    scan = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert scan, plan[:2000]
    cols = {c.split("#")[0] for c in scan.group(1).split(",")}
    assert len(cols) <= 6, f"scan reads unprojected columns {cols}:\n{plan[:2000]}"


# Join-bearing batch entries that must NEVER plan a non-broadcast
# cartesian product. The declared broadcast crossJoins (print-option /
# scalar attaches) legitimately plan BroadcastNestedLoopJoin — that is
# the broadcast form — so only CartesianProduct is outlawed.
_NO_CARTESIAN = (
    "q2_min_cost_supplier",
    "q7_nation_volume",
    "q8_national_market_share",
    "q9_product_type_profit",
    "q17_small_quantity_revenue",
    "q18_large_volume_customers",
    "q20_excess_shipment_suppliers",
    "q21_waiting_suppliers",
    "multi_hop_enrich_join",
    "qty_tier_range_join",
    "priority_decode_join",
    "asof_last_event_before_cutoff",
    "big_spenders_semi",
    "customers_without_orders_anti",
    "pim_full_pipeline",
    "pim_multi_supplier_sync",
    "hybrid_search_rrf",
    # round-8 additions: join-bearing entries of the round-8 driver
    # sampling window that had no individual plan pin yet
    "bitemporal_asof_query",
    "scd2_priority_history",
    "scd2_interval_lookup",
    "scd2_incremental_maintenance",
    "knn_label_vote",
    "shingle_containment_pairs",
    "phrase_proximity_search",
    "golden_record_survivorship",
    "fd_violation_repair",
    "cep_quantified_pattern",
    # round-9: okey-keyed A-priori triple join — every join carries the
    # order key or the full itemset, never an item-only key
    "apriori_triple_itemsets",
)


@pytest.mark.parametrize("name", _NO_CARTESIAN)
def test_no_cartesian_product(spark, sf_dir, name):
    plan = _plan(get_queries()[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, f"{name}:\n{plan[:2500]}"


def test_stream_static_join_is_broadcast_in_streaming_plan(spark, sf_dir):
    """The stream-static enrichment join must plan the static dimension
    as a broadcast (stateless, no join state store, no shuffle of the
    streamed side) — checked on the streaming DataFrame's analyzed
    plan via explain, before any sink starts."""
    from pyspark.sql import functions as F

    from pim_etl_spark.sources import load_table
    from pim_etl_spark.streaming.queries import run_available_now, stream_events

    events = stream_events(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .join(load_table(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("nation"), F.col("c_mktsegment").alias("mktsegment"))
    )
    enriched = events.join(F.broadcast(dim), events.user_id == dim.c_custkey)
    agg = enriched.groupBy("nation", "mktsegment", "event_type").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    # physical plans of streaming queries only exist per micro-batch:
    # run the bounded replay, then read the last executed plan
    q = run_available_now(agg, "memory", mode="complete", query_name="plan_probe_ssj")
    plan = q._jsq.explainInternal(False)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan[:2000]
    assert "StateStore" in plan or "HashAggregate" in plan, plan[:2000]


def test_join_strategy_hints_are_honored(spark, sf_dir):
    """Strategy hints: the escape hatch when the optimizer guesses
    wrong at 100 TB. shuffle_hash must beat the SMJ default (no sort
    of either side), and merge must force SMJ even under the
    broadcast threshold."""
    from pim_etl_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    shj = _plan(orders.hint("shuffle_hash").join(cust, orders.o_custkey == cust.c_custkey))
    assert "ShuffledHashJoin" in shj, shj[:2000]
    assert "SortMergeJoin" not in shj, shj[:2000]

    smj = _plan(orders.join(cust.hint("merge"), orders.o_custkey == cust.c_custkey))
    assert "SortMergeJoin" in smj, smj[:2000]


def test_llm_corpus_pipeline_plan_shape(spark, sf_dir):
    """The fused corpus pipeline must keep: map-side top-1 per hash
    BEFORE the dedup exchange (WindowGroupLimit Partial), exactly two
    hash exchanges (dedup hash + rollup keys), no joins."""
    plan = _plan(get_queries()["llm_corpus_pipeline"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 2, plan[:3000]
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan[:3000]
    assert "Join" not in plan, plan[:3000]


def test_heavy_hitters_exact_pass_is_candidate_bounded(spark, sf_dir):
    """heavy_hitters_sketch: the exact pass must reach the corpus via
    a broadcast LEFT SEMI of the sketch candidates (never a
    full-cardinality shuffle of the raw key), and the only hash
    exchanges are over candidate-bounded rows."""
    plan = _plan(get_queries()["heavy_hitters_sketch"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert _count(r"Exchange hashpartitioning", plan) <= 2, plan[:2000]


def test_bm25_idf_stays_broadcast_topk_no_global_sort(spark, sf_dir):
    """bm25_ranked_search: the 3-row idf side must join broadcast and
    the final ranking must be TakeOrderedAndProject (per-partition
    heaps), not a global sort."""
    plan = _plan(get_queries()["bm25_ranked_search"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]


def test_scd2_runs_on_one_customer_exchange(spark, sf_dir):
    """scd2_priority_history: both row_number windows, the run
    aggregate, and the lead window all key on o_custkey (or a
    superset), so Catalyst reuses ONE hashpartitioning exchange.
    A second data exchange means the interval build re-shuffles
    history per sync — the exact cost SCD2 is meant to amortize."""
    plan = _plan(get_queries()["scd2_priority_history"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_pareto_frontier_avoids_self_join(spark, sf_dir):
    """pareto_frontier_parts: the skyline must NOT plan as the O(n^2)
    NOT EXISTS self-join the oracle uses — both joins are broadcasts
    of coordinate/bucket summaries, and the only single-partition
    exchange feeds the bucket-count-sized cross-bucket cummax."""
    plan = _plan(get_queries()["pareto_frontier_parts"](spark, sf_dir))
    assert _count(r"BroadcastHashJoin", plan) == 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert _count(r"Exchange SinglePartition", plan) == 1, plan[:2000]


def test_bpe_merge_is_one_exchange_topk(spark, sf_dir):
    """bpe_merge_pair_counts: pair counting is one partial-agg hash
    exchange and the top-20 is TakeOrderedAndProject — no global
    sort, no join. This is the plan that survives a 100 TB corpus."""
    plan = _plan(get_queries()["bpe_merge_pair_counts"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:2000]
    assert _count(r"TakeOrderedAndProject", plan) >= 1, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_weighted_sample_prefix_sum_stays_partitioned(spark, sf_dir):
    """weighted_systematic_sample: the cumulative-weight window is
    partitioned by source (stratum) — a SinglePartition exchange here
    would serialize the whole corpus through one task."""
    plan = _plan(get_queries()["weighted_systematic_sample"](spark, sf_dir))
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:2000]


def test_semantic_dedup_centroids_are_broadcast(spark, sf_dir):
    """semantic_dedup_cells: the K-centroid assignment must be a
    broadcast nested-loop (map-side argmax over K scores), never a
    CartesianProduct or a shuffled join of the full vector table."""
    plan = _plan(get_queries()["semantic_dedup_cells"](spark, sf_dir))
    assert _count(r"BroadcastNestedLoopJoin", plan) >= 1, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


@pytest.mark.parametrize(
    "name", ["entity_resolution_clusters", "cross_corpus_lsh_decontamination"]
)
def test_blocked_joins_never_cartesian(spark, sf_dir, name):
    """Both blocked-similarity operators must generate candidate pairs
    through equi-joins on their blocking keys (block token / LSH band
    hash) — a CartesianProduct here is the all-pairs explosion the
    blocking exists to prevent."""
    plan = _plan(get_queries()[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_prefix_filter_join_is_equi_join_on_shingle(spark, sf_dir):
    """The PPJoin candidate stage must plan as an equi-join keyed on
    the prefix shingle (plus the length/position filters applied as
    post-join predicates) — a CartesianProduct or nested-loop here is
    exactly the all-pairs blowup prefix filtering exists to avoid."""
    plan = _plan(get_queries()["prefix_filter_jaccard_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2500]


def test_ewma_windows_collapse_to_one_customer_exchange(spark, sf_dir):
    """All 16 lag() taps + row_number + count share the o_custkey
    partition, so the plan must contain exactly ONE hash Exchange on
    the data path (plus the output sort's range exchange) — a second
    hashpartitioning means the window specs stopped sharing a sort."""
    plan = _plan(get_queries()["ewma_order_value"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:2500]
    assert "Join" not in plan, plan[:2500]


def test_triangle_join_stays_broadcast_no_cartesian(spark, sf_dir):
    """Triangle enumeration joins the sparsified (nation-sized) edge
    set; dimension joins in the edge build must broadcast, and the
    canonical a<b<c joins are equi-joins — no cartesian anywhere."""
    plan = _plan(get_queries()["triangle_count_trade"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2500]
    assert _count(r"BroadcastHashJoin", plan) >= 3, plan[:2500]


def test_poisson_bootstrap_partial_agg_before_exchange(spark, sf_dir):
    """poisson_bootstrap_ci: the 33x explode must collapse into
    map-side partial aggregation BEFORE the shuffle — the exchange
    carries (group, replicate) partials only. One data exchange for
    the replicate agg; everything after operates on replicate-sized
    frames; the base x ci combine is a broadcast join."""
    plan = _plan(get_queries()["poisson_bootstrap_ci"](spark, sf_dir))
    # partial+final pair around the (priority, b) exchange
    assert _count(r"HashAggregate", plan) >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert _count(r"BroadcastHashJoin", plan) >= 1, plan[:2000]


def test_image_ahash_payload_never_shuffles(spark, sf_dir):
    """image_ahash_neardup: payload bytes must stay inside the scan
    tasks — every Exchange in the plan moves only the 3-BIGINT hash
    rows (no 'payload' column may appear below an Exchange's output
    schema), and the bucket window is the single hash exchange."""
    df = get_queries()["image_ahash_neardup"](spark, sf_dir)
    plan = _plan(df)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "payload" not in m.group(1), plan[:2000]
    # the mapInPandas output is (media_id, hash_hi, hash_lo) — payload
    # is consumed before any shuffle boundary
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]


def test_hll_rollup_single_data_exchange(spark, sf_dir):
    """hll_mergeable_rollup: one hash exchange builds the per-nation
    sketches; the region rollup merges 25 sketch rows — dimensions
    stay broadcast, nothing degrades to SMJ."""
    plan = _plan(get_queries()["hll_mergeable_rollup"](spark, sf_dir))
    assert _count(r"BroadcastHashJoin", plan) >= 3, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]


def test_cep_pattern_single_user_exchange(spark, sf_dir):
    """The CEP pattern matcher must keep exactly ONE hash Exchange:
    all three running-state window layers AND the per-user aggregate
    share the user_id partitioning (the groupBy reuses the window
    shuffle). A second hashpartitioning means a window layer broke the
    co-partitioning — at 100 TB that's three extra event-table
    shuffles."""
    plan = _plan(get_queries()["cep_pattern_error_reset"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:3000]
    assert "CartesianProduct" not in plan


def test_theta_overlap_sketches_from_single_buyer_exchange(spark, sf_dir):
    """Theta audience overlap: dimensions broadcast onto the orders
    scan; the per-(region, customer) flag agg is the ONE data shuffle
    (the 25-row region agg rides AQE's coalesced exchange of the same
    keys' prefix is not required — but a SortMergeJoin anywhere means
    a dimension stopped broadcasting)."""
    plan = _plan(get_queries()["theta_audience_overlap"](spark, sf_dir))
    assert _count(r"BroadcastHashJoin", plan) >= 3, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_sql_udf_inlines_no_python_boundary(spark, sf_dir):
    """SQL UDFs must inline into codegen: the plan contains NO Python
    evaluation operator (the whole point of declaring the transform in
    SQL instead of Python), and the tier CASE appears expanded in the
    projection."""
    plan = _plan(get_queries()["sql_udf_inlined_tiers"](spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan[:3000]
    # the UDF bodies appear EXPANDED in the plan (the tax arithmetic
    # inside the aggregate), proving resolution inlined them
    assert "FLOOR" in plan and "1.19" in plan, plan[:3000]


def test_dynamic_partition_pruning_reaches_fact_scan(spark, sf_dir, tmp_path):
    """The DPP star join must plan a dynamicpruning expression into the
    partitioned fact scan's PartitionFilters — proof the runtime dim
    filter, not a manual partition list, prunes the fact read."""
    from pyspark.sql import functions as F

    from pim_etl_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    tbl = str(tmp_path / "dpp_fact")
    orders.write.partitionBy("o_orderpriority").parquet(tbl)
    fact = spark.read.parquet(tbl)
    dim = (
        orders.select("o_orderpriority")
        .distinct()
        .withColumn(
            "tier",
            F.when(
                F.col("o_orderpriority").startswith("1-")
                | F.col("o_orderpriority").startswith("2-"),
                F.lit("fast"),
            ).otherwise(F.lit("slow")),
        )
    )
    joined = fact.join(
        F.broadcast(dim.filter(F.col("tier") == "fast")), "o_orderpriority"
    ).groupBy("o_orderpriority").count()
    plan = _plan(joined)
    assert "dynamicpruning" in plan, plan[:3000]
    assert _count(r"BroadcastHashJoin", plan) >= 1, plan[:3000]


def test_surrogate_key_rank_is_bucket_partitioned(spark, sf_dir):
    """assign_surrogate_keys must rank inside md5 buckets (parallel
    hashpartitioning window), never a global ORDER BY window over the
    data — the single-partition collapse is exactly what the op
    exists to avoid. The only single-partition window allowed is the
    256-row bucket-offset prefix sum."""
    from pyspark.sql import functions as F

    from pim_etl_spark.operators.warehouse import assign_surrogate_keys
    from pim_etl_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k")
    )
    plan = _plan(assign_surrogate_keys(orders, "k"))
    assert _count(r"hashpartitioning\(__b", plan) >= 1, plan[:3000]
    # the data-side rank runs inside buckets: a Window whose partition
    # spec is the bucket column must exist
    assert "row_number()" in plan and "__b" in plan, plan[:3000]


def test_interval_bin_join_point_side_collapses_and_broadcasts(spark, sf_dir):
    """interval_overlap_bin_join: the point side MUST pre-aggregate to
    per-day rows and broadcast — the first cut skipped the day rollup
    and materialized the ~550M raw (interval, point) matches (275 s at
    sf0.1; 3.2 s after). No nested-loop join may appear (the plan an
    inequality-only join would degrade to)."""
    plan = _plan(get_queries()["interval_overlap_bin_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2500]
    assert "CartesianProduct" not in plan, plan[:2500]
    assert _count(r"BroadcastHashJoin", plan) >= 1, plan[:2500]
    # day rollup: an aggregate must run BEFORE the join (partial+final
    # for the per-day counts, plus the hit aggregates)
    assert _count(r"HashAggregate", plan) >= 4, plan[:2500]


def test_er_candidate_join_is_equi_never_cartesian(spark, sf_dir):
    """ER blocking: candidates come from an equi-join on the blocking
    key; the feature join back to records is keyed on rec ids. Nothing
    in the matcher may degrade to a cartesian/nested-loop pair
    enumeration — blocking IS the no-all-pairs guarantee."""
    plan = _plan(get_queries()["er_matched_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2500]


def test_logreg_iterations_exchange_scalars_only(spark, sf_dir):
    """logreg_gd_quality: each GD iteration is a global aggregate
    (partial -> single-partition final), and weights return via
    BroadcastExchange — the plan may contain NO hash-partitioned data
    exchange at all (nothing groups by a key) and no join beyond the
    broadcast-nested-loop that implements the 1-row crossJoin."""
    plan = _plan(get_queries()["logreg_gd_quality"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 0, plan[:2500]
    assert _count(r"BroadcastExchange", plan) >= 2, plan[:2500]


def test_spatial_grid_join_is_equi_on_cell(spark, sf_dir):
    """spatial_grid_neighbor_join: the 3x3 expansion makes the
    distance join an EQUI-join on (cx, cy) — a theta-join on raw
    coordinates would be a nested loop."""
    plan = _plan(get_queries()["spatial_grid_neighbor_join"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan[:2500]
    # the cell equi-join (the 3x3 spine crossJoins are broadcast and
    # scalar-sized; the data join must be hash-based)
    assert (
        _count(r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin", plan) >= 1
    ), plan[:2500]


def test_peak_concurrency_windows_over_day_aggregate(spark, sf_dir):
    """peak_concurrency_sweep: the running sum must window over the
    per-day aggregate (one hash exchange for the day rollup, then a
    single-partition window over ~2.5k rows) — never over raw
    boundary rows."""
    plan = _plan(get_queries()["peak_concurrency_sweep"](spark, sf_dir))
    # exchange COUNT is brittle (the cached day-rollup lineage prints
    # once per consuming branch, and shared-session state shifts it);
    # the load-bearing guards are: a Window exists, the day rollup's
    # map-side partial aggregation exists, and nothing degrades to a
    # cartesian pair enumeration
    assert _count(r"Exchange hashpartitioning", plan) >= 1, plan[:2500]
    assert "Window" in plan, plan[:2500]
    assert "partial_sum" in plan, plan[:2500]
    assert "CartesianProduct" not in plan, plan[:2500]


def test_cep_overlapping_single_user_exchange(spark, sf_dir):
    """cep_overlapping_matches: both match policies (bounded-rows view
    count for SKIP TO NEXT ROW, running maxes for the greedy SKIP PAST
    LAST ROW reduction) must layer over ONE user_id hash Exchange —
    the per-user aggregate reuses the window partitioning."""
    plan = _plan(get_queries()["cep_overlapping_matches"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:3000]
    assert "CartesianProduct" not in plan


def test_blocking_cap_positions_are_distributed_and_slice_materialized(spark, sf_dir):
    """blocking_keys (round 9): positions come from the DISTRIBUTED
    rank + prefix-sum-offset assignment, never a per-raw-block
    single-task sort — (a) NO window may partition by bkey alone and
    order by the data columns (that is the one-task-per-raw-block
    shape the rewrite removed); (b) the local rank windows over
    (pid, bkey); (c) the ranked slice frame is CACHE-MATERIALIZED and
    BOTH consumers (the offsets aggregate and the final rank join)
    read the one InMemoryRelation — the single underlying RDD is what
    makes the nondeterministically sampled range boundaries (and so
    spark_partition_id) structurally consistent across branches;
    relying on AQE stage REUSE instead is a measured race (NOTES
    round 9: explicit-N repartitionByRange flipped the stage-cache
    race and produced 4 different outputs in 4 runs); (d) the offsets
    frame re-attaches via a broadcast join; (e) nothing degrades to a
    cartesian."""
    from pim_etl_spark.operators.entity_resolution import (
        blocking_keys,
        dirty_records,
    )

    df = blocking_keys(dirty_records(spark, sf_dir))
    df.collect()  # materialize so the executed (final) plan is inspected
    plan = _plan(df)
    # (a) the removed shape: windowspecdefinition(bkey#N, cents#... ASC
    assert not re.search(r"windowspecdefinition\(bkey#\d+, cents", plan), plan[:3000]
    # (b) distributed local rank per (pid, bkey)
    assert re.search(r"windowspecdefinition\(pid#\d+, bkey#\d+, cents", plan), plan[:3000]
    # (c) both consumers scan the SAME cached ranked-slice relation
    assert _count(r"InMemoryTableScan", plan) >= 2, plan[:3000]
    assert _count(r"Exchange rangepartitioning", plan) >= 1, plan[:3000]
    # (d)+(e)
    assert _count(r"BroadcastHashJoin", plan) >= 1, plan[:3000]
    assert "CartesianProduct" not in plan


def test_cep_quantified_single_user_exchange(spark, sf_dir):
    """cep_quantified_pattern: the V C+ P quantified match (two
    running maxima + the per-user rollup) must layer over ONE user_id
    hash Exchange — variable-length quantifiers compile to running
    state, never to a match-enumeration join."""
    plan = _plan(get_queries()["cep_quantified_pattern"](spark, sf_dir))
    assert _count(r"Exchange hashpartitioning", plan) == 1, plan[:3000]
    assert "CartesianProduct" not in plan
    assert "Join" not in plan, plan[:3000]


def test_bloom_prune_is_broadcast_semi_before_shuffle_join(spark, sf_dir):
    """bloom_pruned_shuffle_join: the bucket-membership prune must be
    a BROADCAST left-semi join on the fact side (O(buckets) bits
    shipped, never a shuffle of the fact table), and the real join
    must stay the pinned shuffle merge join the entry demonstrates —
    with zero cartesian anywhere (the stats crossJoins are all
    broadcast 1-row frames)."""
    import re

    plan = _plan(get_queries()["bloom_pruned_shuffle_join"](spark, sf_dir))
    assert re.search(r"BroadcastHashJoin .*LeftSemi", plan), plan[:3000]
    assert "SortMergeJoin" in plan, plan[:3000]
    assert "CartesianProduct" not in plan, plan[:3000]


def test_apriori_triple_stage_is_okey_keyed(spark, sf_dir):
    """The A-priori triple-support stage must stay okey-keyed: both
    pruning semi-joins broadcast model-sized sets (frequent pairs,
    candidate triples), and no equi-join keys on an item column alone
    — the round-9 rewrite that removed the |basket|·|cand|/|items|
    item-only intermediate (5.49 s → 0.91 s at sf0.1)."""
    import re

    plan = _plan(get_queries()["apriori_triple_itemsets"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    # two broadcast left-semi prunes (frequent pairs, candidates)
    assert len(re.findall(r"BroadcastHashJoin .*LeftSemi", plan)) >= 2, plan[:3000]
    # the old shape's signature: a broadcast INNER join keyed on i1
    # alone (item-only fanout) — must not reappear
    inner_joins = re.findall(
        r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\], Inner", plan
    )
    # guard against a vacuous pass (round-9 ADVICE): the basket
    # build's partkey broadcast inner join is always present, so a
    # Spark plan-format change that breaks the regex fails loudly
    # instead of skipping the per-join key assertions
    assert inner_joins, plan[:3000]
    for left_keys, _right_keys in inner_joins:
        assert (
            "okey" in left_keys
            or "pokey" in left_keys
            or "p_partkey" in left_keys
            or "l_partkey" in left_keys
        ), plan[:3000]


def test_spark_partition_id_consumers_are_allowlisted():
    """Standing guard for the round-9 nondeterminism class (VERDICT r9
    item 1): spark_partition_id() after a repartitionByRange is only
    consistent across plan branches if ONE materialized relation
    (cache/checkpoint) feeds every consumer — AQE exchange reuse is a
    planner courtesy, not a guarantee, and relying on it produced 4
    different outputs in 4 runs before the blocking_keys cache fix.
    Any NEW operator that reads spark_partition_id must copy the
    cache-materialize pattern (entity_resolution.blocking_keys) and
    register itself here after review — this test fails loudly on an
    unreviewed consumer instead of letting the race ship."""
    import pathlib

    src_root = pathlib.Path(__file__).resolve().parent.parent / "pim_etl_spark"
    allowed = {"operators/entity_resolution.py"}
    offenders = []
    for path in sorted(src_root.rglob("*.py")):
        rel = path.relative_to(src_root).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            code = line.split("#", 1)[0]
            if "spark_partition_id" in code and rel not in allowed:
                offenders.append(f"{rel}:{lineno}: {line.strip()}")
    assert not offenders, (
        "unreviewed spark_partition_id consumer(s) — partition ids are only "
        "branch-consistent over a cache-materialized relation (see "
        "entity_resolution.blocking_keys and NOTES round 9):\n"
        + "\n".join(offenders)
    )


def test_orc_read_pushes_range_predicate(spark, sf_dir, tmp_path):
    """orc_roundtrip_rollup's read side: the range predicate must
    reach the ORC scan as a pushed filter (stripe-level min/max
    skipping at scale), and the scan must prune to the operator's
    actual 4-column set — including the o_orderdate timestamp, whose
    pushdown/pruning path is otherwise untested (round-11 ADVICE)."""
    from pim_etl_spark.sources import load_table

    out = str(tmp_path / "orders_orc")
    load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"
    ).write.mode("overwrite").orc(out)
    df = (
        spark.read.orc(out)
        .filter("o_orderkey > 1000")
        .select("o_orderpriority", "o_totalprice", "o_orderdate")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FileScan orc" in plan, plan[:2000]
    m = re.search(r"PushedFilters: \[[^\]]*GreaterThan\(o_orderkey,1000\)", plan)
    assert m, f"range predicate not pushed into the ORC scan:\n{plan[:2000]}"
    scan = re.search(r"FileScan orc [^\[]*\[([^\]]*)\]", plan)
    assert scan, plan[:2000]
    cols = {c.split("#")[0].strip() for c in scan.group(1).split(",")}
    assert cols <= {"o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate"}, cols
    assert "o_orderdate" in cols, f"timestamp column missing from the ORC scan: {cols}"


def test_literal_partition_dials_are_allowlisted():
    """Standing guard for the round-9/10 constant-dial class (VERDICT
    r10 item 4): a literal ``repartition(8, key)`` inside an iterative
    operator is bit-stable locally but caps loop parallelism at 8 tasks
    on a 1000-executor cluster — the scale bug the conf-derived
    ``tuning.loop_partitions`` dial fixed. The round-10 sweep concluded
    every REMAINING literal site is fixture- or contract-sized by
    design: versioned.py's lifecycle entries construct exact N-file
    table layouts (DV sidecars, Bloom-pruning scatter, month
    partitions, coalesce(1) bootstrap commits — the file count IS the
    fixture), streaming's bootstrap/chunk commits are single-commit
    contracts, relational's export fixture plants 4 files, and
    warehouse's dim-v1 bootstrap plants 2. This test pins that
    conclusion as exact per-file counts: a NEW literal dial (or a
    removed one) fails here until reviewed — either re-expressed via
    tuning.loop_partitions or re-allowlisted with a why."""
    import pathlib
    import re

    src_root = pathlib.Path(__file__).resolve().parent.parent / "pim_etl_spark"
    expected = {
        "streaming/queries.py": 3,      # 2 bootstrap commits + exactly-once chunk files
        "operators/relational.py": 1,   # pim_export sink fixture: 4 task-files
        "operators/warehouse.py": 1,    # late-dim v1 bootstrap: 2-file layout
        "pipeline/versioned.py": 19,    # lifecycle fixtures: exact N-file layouts
    }
    pat = re.compile(r"\.(?:repartition(?:ByRange)?|coalesce)\(\s*\d")
    found: dict[str, list[str]] = {}
    for path in sorted(src_root.rglob("*.py")):
        rel = path.relative_to(src_root).as_posix()
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            code = line.split("#", 1)[0]
            if pat.search(code):
                found.setdefault(rel, []).append(f"{rel}:{lineno}: {line.strip()}")
    counts = {rel: len(lines) for rel, lines in found.items()}
    assert counts == expected, (
        "literal repartition/coalesce(<int>) sites drifted from the reviewed "
        f"allowlist (expected {expected}, found {counts}) — a numeric dial in "
        "a loop or hot path must come from tuning.loop_partitions / session "
        "conf, not a constant; fixture-sized sites get re-allowlisted with a "
        "why:\n" + "\n".join(ln for lines in found.values() for ln in lines)
    )


def test_min_label_loops_go_through_the_kernel():
    """Connected components has one implementation,
    ``operators.graph.min_label_components``: a ``for`` loop that both
    joins and takes ``F.min`` anywhere else is a hand-rolled copy of
    its min-label round. Likewise the trade-graph star join is built
    once, in ``graph._trade_edges``."""
    import ast
    import pathlib

    src_root = pathlib.Path(__file__).resolve().parent.parent / "pim_etl_spark"

    def calls(nodes, attr, on=None):
        return any(
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == attr
            and (on is None or (isinstance(n.func.value, ast.Name) and n.func.value.id == on))
            for stmt in nodes
            for n in ast.walk(stmt)
        )

    def loops(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.For):
                yield fn, child
            yield from loops(child, inner)

    copies = [
        f"{path.relative_to(src_root).as_posix()}:{loop.lineno} in {fn}"
        for path in sorted(src_root.rglob("*.py"))
        for fn, loop in loops(ast.parse(path.read_text()), None)
        if fn != "min_label_components"
        and calls(loop.body, "join")
        and calls(loop.body, "min", on="F")
    ]
    assert copies == [], f"min-label loops outside min_label_components: {copies}"
    graph_src = (src_root / "operators" / "graph.py").read_text()
    assert graph_src.count("li.l_suppkey == sup.s_suppkey") == 1


def test_versioned_reads_take_the_manifest_schema():
    """A versioned read takes its schema from the snapshot's manifest;
    inferring it from file footers (``mergeSchema``) costs a Spark job
    per read. Only two reads may infer it: ``_scan``'s fallback for a
    manifest that records no schema, and ``changes_between``'s
    ``_rows_at``, which reads deletion-vector rows of files common to
    two snapshots."""
    import ast
    import pathlib

    src_root = pathlib.Path(__file__).resolve().parent.parent / "pim_etl_spark"
    path = src_root / "pipeline" / "versioned.py"

    def sites(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)) else fn
            if isinstance(child, ast.Constant) and child.value == "mergeSchema":
                yield fn
            yield from sites(child, inner)

    assert sorted(sites(ast.parse(path.read_text()), None)) == ["_rows_at", "_scan"]


@pytest.mark.parametrize("keys", [["product_id"], ["product_id", "site"]])
def test_merge_resolves_touched_files_with_a_broadcast_semi_join(
    spark, tmp_path, monkeypatch, keys
):
    """``merge_files`` has one planner: the touched-file scan is a LEFT
    SEMI broadcast hash join on every key against the batch's collected
    keys, a local relation. A range join (``BroadcastNestedLoopJoin``)
    or a hash shuffle (a distributed ``distinct``) means a second
    planner is back."""
    from pyspark.sql import functions as F

    from pim_etl_spark.pipeline import versioned as V

    path, ddl = str(tmp_path / "t"), "product_id long, site string, version long"
    rows = spark.createDataFrame([(i, "a", 1) for i in range(40)], ddl)
    V.commit_snapshot(rows.repartitionByRange(4, "product_id"), path, stats_cols=("product_id",))
    plans, real = [], V._files_holding

    def spy(spark, path, files, meta, match, distinct=True):
        plans.append(_plan(match(V._scan(spark, path, files, meta).withColumn(
            "__file", F.input_file_name()))))
        return real(spark, path, files, meta, match, distinct)

    monkeypatch.setattr(V, "_files_holding", spy)
    batch = spark.createDataFrame([(3, "a", 2), (17, "a", 2)], ddl)
    res = V.merge_files(spark, path, batch, keys=keys, order_col="version")
    assert res["files_rewritten"] == 2 and res["files_skipped"] == 2, res
    (plan,) = plans
    join = re.search(r"BroadcastHashJoin \[([^\]]*)\], \[[^\]]*\], LeftSemi", plan)
    assert join and len(join.group(1).split(", ")) == len(keys), plan
    assert "LocalTableScan" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan and "Exchange hashpartitioning" not in plan
