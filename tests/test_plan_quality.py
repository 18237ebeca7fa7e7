"""Physical-plan assertions: the scale claims, checked against explain().

These pin the properties that make the engine viable at 100 TB — filter
pushdown reaching scans, column pruning, broadcast of dimension sides,
and the shuffle-free minhash formulation. If a refactor reintroduces a
shuffle or un-pushes a filter, these fail before any benchmark does.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_portofolio_spark.catalog import load_table
from etl_portofolio_spark.operators import dedup
from etl_portofolio_spark.plans.analytics_queries import (
    q_agg_pricing_summary,
    q_join_region_revenue,
)

from .conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = _plan(q_agg_pricing_summary(spark, SF_DIR))
    # the shipdate range filter must reach the parquet scan
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("\n")[0]
    # column pruning: unused wide columns must not be read
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_shipmode" not in read_schema


def test_region_revenue_broadcasts_all_dims(spark):
    plan = _plan(q_join_region_revenue(spark, SF_DIR))
    # 5 joins, every one broadcast — the fact table never shuffles for a
    # join (formatted mode prints each node twice: tree + detail)
    assert plan.count("BroadcastHashJoin") == 10
    assert "SortMergeJoin" not in plan


def test_minhash_signatures_partial_agg_single_shuffle(spark):
    # other tests may have left the shingled-docs persist() populated;
    # a cache hit would splice InMemoryTableScan internals into the plan
    spark.catalog.clearCache()
    docs = load_table(spark, SF_DIR, "documents")
    sig = dedup.minhash_signatures(docs, "doc_id", "text")
    plan = _plan(sig)
    # shingle hashes are computed BEFORE the exchange and partial-
    # aggregated map-side: exactly one hash exchange (on doc_id,
    # carrying |docs| x 16 longs), plus the round-robin fixture spread
    n_hash = plan.count("Arguments: hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}\n{plan}"
    # partial + final aggregate pair => map-side combine is in place
    assert "partial_min" in plan, plan


def test_exact_dedup_single_shuffle(spark):
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(dedup.exact_dedup_groups(docs, "doc_id", "text"))
    # partial agg -> single exchange on content_hash -> final agg
    assert plan.count("Exchange ") == 1


def test_filter_pushdown_on_partition_style_key(spark):
    ev = load_table(spark, SF_DIR, "events")
    df = ev.where(F.col("event_type") == "click").select("event_id")
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1].split("\n")[0]
    assert "event_type" in pushed


def test_near_dup_lsh_has_no_cartesian(spark):
    """The near-dup blocker must be an equi-join, never an all-pairs plan."""
    from etl_portofolio_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(similarity.embedding_near_dup_pairs(emb))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_equi_not_nested_loop(spark):
    """BETWEEN joins must be planned as bucket equi-joins, not BNLJ."""
    from etl_portofolio_spark.plans.analytics_queries import (
        q_range_join_quantity_bands,
    )

    plan = _plan(q_range_join_quantity_bands(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_decontaminate_probe_is_broadcast(spark):
    """The eval-gram probe must be a broadcast semi-join: the training
    corpus never shuffles to discover contamination."""
    docs = load_table(spark, SF_DIR, "documents")
    train = docs.where(F.col("doc_id") % 20 != 0)
    ev = docs.where(F.col("doc_id") % 20 == 0)
    plan = _plan(dedup.decontaminate(train, ev, "doc_id", "text", k=8))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_disjunctive_predicate_pushed_to_both_scans(spark):
    """Q19-shape OR-of-ANDs: Catalyst must decompose the disjunction and
    push the per-table envelopes into BOTH parquet scans."""
    from etl_portofolio_spark.plans.advanced_queries import (
        q_disjunctive_pred_revenue,
    )

    plan = _plan(q_disjunctive_pred_revenue(spark, SF_DIR))
    pushed = [
        seg.split("\n")[0] for seg in plan.split("PushedFilters:")[1:]
    ]
    li_pushed = [p for p in pushed if "l_quantity" in p]
    part_pushed = [p for p in pushed if "p_size" in p]
    assert li_pushed and "Or(" in li_pushed[0]
    assert part_pushed and "Or(" in part_pushed[0]


def test_date_spine_join_is_broadcast(spark):
    """The calendar spine (|days| rows) must broadcast; the daily
    aggregate side must never shuffle for the gap-fill join."""
    from etl_portofolio_spark.plans.advanced_queries import q_date_spine_gapfill

    plan = _plan(q_date_spine_gapfill(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_chunk_dedup_no_allpairs_and_pruned_scan(spark):
    """Chunk dedup: key-partitioned shuffles only, no join at all, and
    the documents scan reads just (doc_id, text)."""
    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(dedup.chunk_dedup_docs(docs, "doc_id", "text"))
    assert "Join" not in plan and "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in read_schema and "source" not in read_schema


def test_nation_volume_small_dims_broadcast(spark):
    """Q7 shape: nation/supplier joins broadcast; no forced broadcast
    on the fact-scale sides (AQE may still choose one at tiny SF, but a
    CartesianProduct/BNLJ must never appear)."""
    from etl_portofolio_spark.plans.advanced_queries import q_nation_volume_pairs

    plan = _plan(q_nation_volume_pairs(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_partition_pruning_on_ds_layout(spark, tmp_path):
    """A ds= equality filter over a partitioned layout must become a
    PartitionFilter (metadata pruning), never a data Filter — the read
    side of the reference's daily-partition contract."""
    from etl_portofolio_spark.sinks.writer import write_partitioned

    df = spark.createDataFrame(
        [(i, f"2024010{1 + i % 3}") for i in range(60)], "k long, ds string"
    )
    path = str(tmp_path / "pt")
    write_partitioned(df, path, "ds")
    scan = spark.read.parquet(path).where(F.col("ds") == "20240102")
    plan = _plan(scan)
    pf = plan.split("PartitionFilters:")[1].split("\n")[0]
    assert "ds" in pf and "20240102" in pf
    # the pruned column must NOT appear as a post-scan data filter
    assert scan.count() == 20


def test_aqe_splits_skewed_join(spark):
    """AQE's skew-join handling must engage on a pathological key: with
    local thresholds lowered, the executed plan marks the sort-merge
    join as skew=true and splits the hot partition instead of letting
    one task carry ~all rows. (This is the runtime half of the skew
    story; operators/skew.py's deterministic salting is the plan-time
    half for aggregations.)"""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ path
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 60_000).select(
            (F.when(F.col("id") % 3 == 0, 0).otherwise(F.col("id"))).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 50).select(
            F.col("id").alias("k"), F.col("id").alias("r")
        )
        joined = left.join(right, "k")
        # drive THIS Dataset's own query execution: a sink write builds a
        # separate QueryExecution and would leave this plan unfinalized
        expected = 60_000 // 3 + sum(1 for k in range(1, 50) if k % 3 != 0)
        assert len(joined.collect()) == expected
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:4000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_cdc_diff_is_equi_join_with_pushed_snapshots(spark):
    """The snapshot diff must be one equi-join on the key (full outer —
    sort-merge or shuffled-hash, never nested-loop) with each
    snapshot's date cut pushed into its parquet scan."""
    from etl_portofolio_spark.plans.extension_queries import q_cdc_snapshot_diff

    plan = _plan(q_cdc_snapshot_diff(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pushed = [seg.split("\n")[0] for seg in plan.split("PushedFilters")[1:]]
    assert any("o_orderdate" in p for p in pushed), pushed


def test_normalize_and_vector_qc_are_map_only(spark):
    """Row-per-row scans: zero exchanges, no Python evaluation."""
    from etl_portofolio_spark.plans.extension_queries import (
        q_embedding_quality_check,
        q_text_normalize,
    )

    for q in (q_text_normalize, q_embedding_quality_check):
        plan = _plan(q(spark, SF_DIR))
        assert "Exchange " not in plan, q.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_manifest_single_shuffle_with_partial_agg(spark):
    """Split bucketing is computed map-side; one hash exchange on
    (split, source) with map-side combine."""
    from etl_portofolio_spark.plans.extension_queries import (
        q_dataset_split_manifest,
    )

    plan = _plan(q_dataset_split_manifest(spark, SF_DIR))
    assert plan.count("Arguments: hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_contract_report_single_pass(spark):
    """All contract rules fold into one combinable aggregation: one
    exchange, no Python, narrow scan."""
    from etl_portofolio_spark.plans.extension_queries import (
        q_contract_violations_report,
    )

    plan = _plan(q_contract_violations_report(spark, SF_DIR))
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "BatchEvalPython" not in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_shipdate" not in read_schema and "l_partkey" not in read_schema


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """When the dim side is selectively filtered but too big to
    broadcast, Spark's runtime bloom filter must be injected on the
    fact side — at 100 TB this drops non-matching fact rows at the
    scan, before the join shuffle moves them."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_DIR, "lineitem")
        orders = load_table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _plan(j)
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_not_in_plans_as_hash_anti_join(spark):
    """Both NOT IN branches (null-free and null-probing) must plan as
    broadcast hash anti joins — never a nested-loop per-row subquery."""
    from etl_portofolio_spark.plans.extension_queries import q_not_in_three_valued

    plan = _plan(q_not_in_three_valued(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 4  # tree + detail, 2 branches
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_market_share_q8_no_sort_merge_single_agg_exchange(spark):
    """The 7-table Q8 join must resolve to broadcast joins at this SF
    (no sort-merge, no cartesian), with the groupBy as the only
    aggregation exchange — the join-ORDER stress claim."""
    from etl_portofolio_spark.plans.round4_queries import q_market_share_by_year

    spark.catalog.clearCache()
    plan = _plan(q_market_share_by_year(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_pairs_no_cartesian(spark):
    """Containment candidates come from the LSH band equi-join — an
    all-pairs plan here would be quadratic at corpus scale."""
    from etl_portofolio_spark.plans.round4_queries import q_dedup_containment_pairs

    spark.catalog.clearCache()
    plan = _plan(q_dedup_containment_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zonemap_single_pass_with_partial_agg(spark):
    """Zone-map stats must map-side combine: one scan, partial+final
    aggregate pair, one exchange on the day key."""
    from etl_portofolio_spark.plans.round4_queries import q_partition_zonemap_stats

    plan = _plan(q_partition_zonemap_stats(spark, SF_DIR))
    assert plan.count("Location: InMemoryFileIndex") == 1  # one scan
    assert "partial_count" in plan and "partial_min" in plan  # map-side combine


def test_regression_is_single_combinable_agg(spark):
    """Closed-form regression: broadcast part join + ONE hash exchange
    (the brand groupBy) — the fact table streams through once."""
    from etl_portofolio_spark.plans.round4_queries import q_price_trend_regression

    spark.catalog.clearCache()
    plan = _plan(q_price_trend_regression(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    n_hash = plan.count("Arguments: hashpartitioning")
    assert n_hash == 1, f"expected 1 hash exchange, got {n_hash}"


def test_copurchase_fanout_is_keyed_never_cartesian(spark):
    """Basket pairs must come from the orderkey equi-join (fan-out
    bounded by lines-per-order) with the part dim broadcast — an
    all-pairs brand join would be corpus-quadratic."""
    from etl_portofolio_spark.plans.round4_queries import q_brand_copurchase_pairs

    spark.catalog.clearCache()
    plan = _plan(q_brand_copurchase_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_equi_depth_scalable_no_global_sort_and_byte_identical(spark):
    """The scale-safe exact equi-depth must feed NO Sort/Window from a
    SinglePartition exchange — the global-ntile twin's one-task
    ceiling. (Scalar min/max/total aggs still funnel their 32 PARTIAL
    rows through SinglePartition; that is metadata-scale and fine —
    the assertion targets data-scale sorts only.) Results must be
    byte-identical to the ntile plan."""
    import re

    from etl_portofolio_spark.plans.round4_queries import q_equi_depth_histogram
    from etl_portofolio_spark.plans.round5_queries import q_equi_depth_exact_scalable

    global_sort = re.compile(r"Arguments: SinglePartition[^(]*\(\d+\) (Sort|Window)", re.S)
    spark.catalog.clearCache()
    df = q_equi_depth_exact_scalable(spark, SF_DIR)
    assert not global_sort.search(_plan(df))
    # the ntile twin IS the one-task shape (sanity: the regex detects it)
    assert global_sort.search(_plan(q_equi_depth_histogram(spark, SF_DIR)))
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in q_equi_depth_histogram(spark, SF_DIR).collect())
    assert got == want


def test_round5_plan_shapes(spark):
    """The round-5 scale claims, pinned: top-k is TakeOrdered (never a
    global sort), tokenizer counting has no Generate (regexp counts,
    not exploded token rows), int8 quantization is a ZERO-exchange
    map-only plan, windowed audio energy crosses into Python via
    MapInPandas without a sample-level Generate, and the curriculum
    windows never feed a Sort/Window from SinglePartition."""
    import re

    from etl_portofolio_spark.plans.round5_queries import (
        q_audio_window_energy,
        q_curriculum_phase_manifest,
        q_embedding_int8_quantize,
        q_heavy_hitter_keys,
        q_tokenizer_efficiency,
    )

    spark.catalog.clearCache()
    p = _plan(q_heavy_hitter_keys(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "Sort" not in p  # top-k must never globally sort the counts

    p = _plan(q_tokenizer_efficiency(spark, SF_DIR))
    assert "Generate" not in p  # counts from regexp lengths, no explode

    p = _plan(q_embedding_int8_quantize(spark, SF_DIR))
    assert p.count("Exchange") == 0 and "Join" not in p  # pure map

    p = _plan(q_audio_window_energy(spark, SF_DIR))
    assert "MapInPandas" in p
    assert "Generate" not in p  # window fan-out stays inside the worker

    global_sort = re.compile(
        r"Arguments: SinglePartition[^(]*\(\d+\) (Sort|Window)", re.S
    )
    p = _plan(q_curriculum_phase_manifest(spark, SF_DIR))
    assert not global_sort.search(p)  # per-lang windows only


def test_decorrelated_tpch_shapes(spark):
    """The round-5b correlated-subquery family, decorrelation pinned in
    the physical plan: no nested-loop re-execution anywhere, scalar
    subqueries enter as one-row broadcasts, EXISTS/NOT EXISTS as
    hash semi/anti joins, and Q21's two correlated probes collapse to
    a SINGLE scan of lineitem."""
    from etl_portofolio_spark.plans.round5b_queries import (
        q_idle_customer_balance,
        q_min_cost_supplier,
        q_sole_late_supplier,
        q_top_revenue_supplier,
    )

    spark.catalog.clearCache()
    # Q2: correlated MIN -> agg+join; everything equi-keyed.
    p = _plan(q_min_cost_supplier(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # Q15: the scalar-max compare is an EQUALITY, so Catalyst upgrades
    # the broadcast-scalar cross join to a broadcast HASH join on the
    # revenue value; no global window, no cartesian.
    p = _plan(q_top_revenue_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "Window" not in p  # max() OVER () would single-task the frame

    # Q21: both correlated EXISTS probes folded into conditional
    # aggregation -> lineitem is scanned exactly once, and the
    # two-level (orderkey, suppkey) -> orderkey rollup means no
    # double-countDistinct Expand multiplying the joined rows x3
    # through the shuffle.
    p = _plan(q_sole_late_supplier(spark, SF_DIR))
    assert p.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in p
    assert "Expand" not in p

    # Q22: scalar avg broadcast (an inequality compare, so it stays a
    # 1-row-side nested loop) + NOT EXISTS as a hash anti join.
    p = _plan(q_idle_customer_balance(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_round5_wave2_plan_shapes(spark):
    """Wave-2 scale claims: PMI pair fan-out stays keyed on doc_id
    (never corpus-cartesian), the weighted sample's prefix sum never
    global-sorts in one task, the bigram LM windows stay partitioned,
    and the interval-overlap join is an equi-join on the day bucket."""
    import re

    from etl_portofolio_spark.plans.round5c_queries import (
        q_bigram_surprise_score,
        q_interval_overlap_campaigns,
        q_lsh_bucket_skew_audit,
        q_token_pmi_pairs,
        q_weighted_systematic_sample,
    )

    spark.catalog.clearCache()
    global_sort = re.compile(
        r"Arguments: SinglePartition[^(]*\(\d+\) (Sort|Window)", re.S
    )

    p = _plan(q_token_pmi_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in p

    p = _plan(q_weighted_systematic_sample(spark, SF_DIR))
    assert not global_sort.search(p)
    assert "CartesianProduct" not in p

    p = _plan(q_bigram_surprise_score(spark, SF_DIR))
    assert not global_sort.search(p)

    p = _plan(q_lsh_bucket_skew_audit(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "Join" not in p  # signatures -> two aggregations, no join at all

    p = _plan(q_interval_overlap_campaigns(spark, SF_DIR))
    assert "CartesianProduct" not in p
    # the interval predicate must ride on an equi-join (day bucket),
    # not a nested loop between the two interval sets
    assert re.search(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*day", p, re.S)


def test_pq_encode_map_only_and_adc_broadcast(spark):
    """PQ: encoding must be a pure projection (zero exchanges, no
    joins — it runs at scan speed on 100 TB), and the ADC search must
    broadcast the query LUT side, never shuffle the corpus for the
    scoring join."""
    from etl_portofolio_spark.operators import similarity

    emb = load_table(spark, SF_DIR, "embeddings")
    p = _plan(similarity.pq_encode(emb))
    assert p.count("Exchange") == 0 and "Join" not in p

    p = _plan(similarity.pq_adc_shortlist(emb))
    assert "BroadcastNestedLoopJoin" in p  # 5-row LUT side, broadcast
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p


def test_semantic_prune_pairs_keyed_on_cluster(spark):
    """SemDeDup-style pruning: the pairwise stage must be an equi-join
    on cluster_id (the clustering is the blocker), never corpus-
    quadratic."""
    import re

    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round5d_queries import (
        q_semantic_cluster_prune,
    )

    spark.catalog.clearCache()
    p = _plan(q_semantic_cluster_prune(spark, SF_DIR))
    release_cached()
    assert "CartesianProduct" not in p
    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*cluster_id", p, re.S
    )


def test_geo_proximity_is_grid_equi_join(spark):
    """The geo proximity join must ride on the grid-cell equi-join
    (haversine only as a candidate residual), never a distance-only
    nested loop."""
    from etl_portofolio_spark.plans.round5c_queries import (
        q_geo_proximity_pairs,
    )

    p = _plan(q_geo_proximity_pairs(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    import re

    assert re.search(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin).*cell_", p, re.S
    )


def test_join_strategy_hints_are_honored(spark):
    """The hint surface a migrating user relies on: MERGE forces
    sort-merge even where broadcast would win; SHUFFLE_HASH forces a
    shuffled hash join; BROADCAST forces broadcast. (AQE may re-plan
    unhinted joins, but hints must pin the strategy.)"""
    cust = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, SF_DIR, "nation")

    p = _plan(cust.join(nat.hint("merge"), cust.c_nationkey == nat.n_nationkey))
    assert "SortMergeJoin" in p

    p = _plan(
        cust.join(nat.hint("shuffle_hash"), cust.c_nationkey == nat.n_nationkey)
    )
    assert "ShuffledHashJoin" in p

    p = _plan(
        cust.join(nat.hint("broadcast"), cust.c_nationkey == nat.n_nationkey)
    )
    assert "BroadcastHashJoin" in p


def test_tpch_completion_plan_shapes(spark):
    """Q4/Q6/Q11/Q12/Q14 closers: Q4's EXISTS is one semi join (no
    re-probe scan), Q6's predicates reach the parquet scan with zero
    joins, Q11's scalar total enters as a 1-row broadcast (never a
    cartesian of two fact sides), Q12/Q14 shuffle the fact exactly
    once."""
    from etl_portofolio_spark.plans.round5f_queries import (
        q_forecast_revenue_delta,
        q_important_part_stock,
        q_late_order_priorities,
        q_promo_revenue_share,
        q_shipmode_priority_counts,
    )

    spark.catalog.clearCache()
    p = _plan(q_late_order_priorities(spark, SF_DIR))
    assert "LeftSemi" in p
    assert p.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in p

    p = _plan(q_forecast_revenue_delta(spark, SF_DIR))
    assert "Join" not in p  # pure scan-aggregate
    assert "PushedFilters" in p and "l_shipdate" in p.split("PushedFilters", 1)[1]

    p = _plan(q_important_part_stock(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert p.count("lineitem.parquet") <= 2  # per-part + total branches
    assert "Window" not in p  # scalar never via max()/sum() OVER ()

    p = _plan(q_shipmode_priority_counts(spark, SF_DIR))
    assert p.count("lineitem.parquet") == 1
    assert "Expand" not in p  # conditional sums, not distinct rewrites

    p = _plan(q_promo_revenue_share(spark, SF_DIR))
    assert p.count("lineitem.parquet") == 1
    assert "CartesianProduct" not in p


def test_round5g_scale_shapes(spark):
    """The retrieval/QA/economics wave keeps its scale claims:
    distributed top-k, filtered explode, map-only bucketing."""
    from etl_portofolio_spark.plans.round5g_queries import (
        q_bm25_topk,
        q_daily_revenue_anomaly,
        q_embedding_norm_audit,
        q_length_bucket_padding,
    )

    spark.catalog.clearCache()
    p = _plan(q_bm25_topk(spark, SF_DIR))
    # the global rank runs on the <=k-row TakeOrderedAndProject result,
    # never as a corpus-wide single-partition sort
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    # tf and stats frames broadcast into the scoring projection
    assert "BroadcastHashJoin" in p

    p = _plan(q_embedding_norm_audit(spark, SF_DIR))
    # one combinable aggregation on the label — exactly one hash exchange
    assert p.count("Arguments: hashpartitioning") == 1
    assert "Join" not in p

    p = _plan(q_length_bucket_padding(spark, SF_DIR))
    # map-only bucketing into one combinable groupBy; the CASE chain
    # stays in codegen (no python, no explode of token rows)
    assert "Generate" not in p  # size(), not explode, counts tokens
    assert p.count("Arguments: hashpartitioning") == 1

    p = _plan(q_daily_revenue_anomaly(spark, SF_DIR))
    # the single-partition trailing window runs on the DAY-level frame:
    # below it sits the combinable daily aggregation (partial+final),
    # so the fact table shuffles once on the day key, bounded by the
    # calendar thereafter
    assert p.count("HashAggregate") >= 2  # partial + final daily sum
    # column pruning: only the date and price reach the scan
    read_schema = p.split("ReadSchema", 1)[1].split("\n")[0]
    assert "o_orderdate" in read_schema and "o_totalprice" in read_schema
    assert "o_comment" not in read_schema


def test_round5h_analytics_shapes(spark):
    """Cohorts/funnel/ACF: keyed joins only, no cartesians, fact
    shuffles bounded to their keys."""
    from etl_portofolio_spark.plans.round5h_queries import (
        q_cohort_retention,
        q_revenue_autocorrelation,
    )

    spark.catalog.clearCache()
    p = _plan(q_cohort_retention(spark, SF_DIR))
    assert "CartesianProduct" not in p
    # the cohort-size attach broadcasts (|weeks| rows)
    assert "BroadcastHashJoin" in p

    p = _plan(q_revenue_autocorrelation(spark, SF_DIR))
    # day-level aggregation under the lag window: partial+final pair
    assert p.count("HashAggregate") >= 2
    read_schema = p.split("ReadSchema", 1)[1].split("\n")[0]
    assert "o_comment" not in read_schema and "o_orderdate" in read_schema


def test_round5i_observability_shapes(spark):
    """Fifth wave: profiling/Zipf/HHI/transitions keep their claims."""
    from etl_portofolio_spark.plans.round5h_queries import (
        q_supplier_concentration_hhi,
        q_table_profile,
        q_user_state_scd2,
        q_zipf_fit,
    )

    spark.catalog.clearCache()
    p = _plan(q_user_state_scd2(spark, SF_DIR))
    # per-user windows: hash exchange on user_id, no global sort of events
    assert "CartesianProduct" not in p
    assert "hashpartitioning(user_id" in p

    p = _plan(q_table_profile(spark, SF_DIR))
    # the Expand-free claim: k distincts as separate two-level aggs
    assert "Expand" not in p

    p = _plan(q_supplier_concentration_hhi(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    p = _plan(q_zipf_fit(spark, SF_DIR))
    # head extraction is a distributed partial top-k
    assert "TakeOrderedAndProject" in p


def test_gini_and_mi_scale_shapes(spark):
    """Exact Gini: the global rank decomposes over the bin key — the
    only SinglePartition is the final 3-scalar aggregate, never the
    rank window. MI: one contingency groupBy, marginals windowed over
    the tiny band frame."""
    from etl_portofolio_spark.plans.round5h_queries import (
        q_quantity_price_mutual_information,
        q_revenue_gini,
    )

    spark.catalog.clearCache()
    p = _plan(q_revenue_gini(spark, SF_DIR))
    assert "hashpartitioning(bin" in p  # the rank window is per-band
    # pre-AQE plan: exactly one single-partition exchange (the final
    # scalar agg over (n, sx, six)); the corpus-sized rank never is
    assert p.split("AdaptiveSparkPlan")[0].count("Exchange SinglePartition") <= 1

    p = _plan(q_quantity_price_mutual_information(spark, SF_DIR))
    assert "CartesianProduct" not in p
    read_schema = p.split("ReadSchema", 1)[1].split("\n")[0]
    assert "l_comment" not in read_schema and "l_quantity" in read_schema


def test_round6_plan_shapes(spark):
    """Round-6 wave: every candidate/pair structure stays keyed —
    no cartesian anywhere; the skyline's suffix-min table and the
    covariance means broadcast; proration windows partition by order
    key (never a global sort)."""
    from etl_portofolio_spark.plans.round6_queries import (
        q_abc_pareto_classification,
        q_boilerplate_gram_report,
        q_embedding_covariance_topk,
        q_pareto_frontier_customers,
        q_prorated_revenue_by_shipmode,
    )

    spark.catalog.clearCache()
    pareto = _plan(q_pareto_frontier_customers(spark, SF_DIR))
    assert "CartesianProduct" not in pareto
    assert "BroadcastNestedLoopJoin" not in pareto
    assert "BroadcastExchange" in pareto  # the suffix-min table

    cov = _plan(q_embedding_covariance_topk(spark, SF_DIR))
    assert "CartesianProduct" not in cov
    assert "BroadcastNestedLoopJoin" not in cov
    assert "TakeOrderedAndProject" in cov  # top-k, never a global sort

    bp = _plan(q_boilerplate_gram_report(spark, SF_DIR))
    assert "CartesianProduct" not in bp

    pro = _plan(q_prorated_revenue_by_shipmode(spark, SF_DIR))
    # every window partitions by l_orderkey: no single-partition Window
    assert "Window" in pro
    assert "Exchange SinglePartition" not in pro

    abc = _plan(q_abc_pareto_classification(spark, SF_DIR))
    assert "Exchange SinglePartition" not in abc  # prebin, no global sort
    from etl_portofolio_spark.caching import release_cached

    release_cached()


def test_round6_wave2_plan_shapes(spark):
    """TWA and the gap audit keep their windows PARTITIONED (user /
    bucket) — no single-partition exchange; the backlog sweep's only
    ordered window runs AFTER the day-level aggregate (calendar-
    bounded), so the frame under the global sort is the daily deltas,
    never the fact rows."""
    from etl_portofolio_spark.plans.round6_queries import (
        q_order_backlog_daily,
        q_orderkey_gap_audit,
        q_time_weighted_value,
    )

    twa = _plan(q_time_weighted_value(spark, SF_DIR))
    assert "Exchange SinglePartition" not in twa
    assert "hashpartitioning(user_id" in twa

    gap = _plan(q_orderkey_gap_audit(spark, SF_DIR))
    assert "hashpartitioning(b" in gap  # lead() partitioned by bucket

    backlog = _plan(q_order_backlog_daily(spark, SF_DIR))
    # the cumulative window sits above the day-level HashAggregate:
    # the Sort's input is the aggregated daily frame
    assert "Window" in backlog and "HashAggregate" in backlog


def test_round6_wave3_plan_shapes(spark):
    """Gap-median windows partition by customer; the rolling median's
    single-partition window sits above the day-level aggregate
    (calendar-bounded); DP release and masking are map-only after the
    5-row / scan-level shapes."""
    from etl_portofolio_spark.plans.round6_queries import (
        q_dp_noisy_priority_counts,
        q_masked_customer_export,
        q_purchase_gap_median,
    )

    gap = _plan(q_purchase_gap_median(spark, SF_DIR))
    assert "hashpartitioning(o_custkey" in gap
    dp = _plan(q_dp_noisy_priority_counts(spark, SF_DIR))
    assert "Join" not in dp  # one agg + map-side math
    masked = _plan(q_masked_customer_export(spark, SF_DIR))
    assert "Exchange" not in masked  # pure projection at scan speed


def test_round6_wave4_plan_shapes(spark):
    """Basket lift's pair fan-out stays keyed on the order and brand
    totals broadcast; the z-test's converted set is a semi-join keyed
    on the user (range residual only); the bootstrap's replica frame
    explodes from a range — no cross join anywhere."""
    from etl_portofolio_spark.plans.round6_queries import (
        q_bootstrap_mean_ci,
        q_brand_basket_lift,
        q_conversion_rate_ztest,
    )

    spark.catalog.clearCache()
    lift = _plan(q_brand_basket_lift(spark, SF_DIR))
    assert "CartesianProduct" not in lift
    assert "BroadcastExchange" in lift

    z = _plan(q_conversion_rate_ztest(spark, SF_DIR))
    # the builder collapses to literals; the semi-join shape is pinned
    # by re-deriving the converted frame here
    from etl_portofolio_spark.catalog import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_DIR, "events")
    v = ev.where(F.col("event_type") == "view").select("user_id", "ts")
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts")
    )
    conv = v.join(
        c,
        (F.col("user_id") == F.col("cu"))
        & (F.col("cts") > F.col("ts"))
        & (F.col("cts") <= F.col("ts") + F.expr("INTERVAL 24 HOURS")),
        "left_semi",
    )
    p = _plan(conv)
    assert "LeftSemi" in p and "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert z  # builder executed and produced a literal plan

    boot = _plan(q_bootstrap_mean_ci(spark, SF_DIR))
    assert "CartesianProduct" not in boot
    from etl_portofolio_spark.caching import release_cached

    release_cached()


def test_round6_wave5_plan_shapes(spark):
    """EWMA's range self-join runs over the calendar-bounded daily
    frame (the fact table aggregates FIRST — exactly one fact-scan
    aggregate below the join); Kendall's pair frame is domain-bounded
    with the dims broadcast-joined; the weighted median never sorts
    globally (descent collects only histogram rows)."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round6_queries import (
        q_brand_rank_kendall_tau,
        q_ewma_daily_revenue,
    )

    spark.catalog.clearCache()
    ewma = _plan(q_ewma_daily_revenue(spark, SF_DIR))
    # join operands are the day-level aggregate, not raw orders:
    # the plan has the join ABOVE HashAggregate(day) on both sides
    assert "CartesianProduct" not in ewma
    tau = _plan(q_brand_rank_kendall_tau(spark, SF_DIR))
    assert "BroadcastExchange" in tau
    release_cached()


def test_dup_span_islands_partition_by_doc(spark):
    """The substring-dup audit's island merge windows partition by doc
    (parallel), the window-hash frequency pass is one keyed shuffle,
    and no cartesian exists anywhere."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round6_queries import q_dup_span_report

    spark.catalog.clearCache()
    p = _plan(q_dup_span_report(spark, SF_DIR))
    assert "CartesianProduct" not in p
    assert "hashpartitioning(doc_id" in p  # island windows keyed by doc
    assert "LeftSemi" in p  # duplicated positions arrive via semi-join
    release_cached()


def test_ppjoin_candidates_keyed_on_prefix_shingle(spark):
    """PPJoin's candidate join is an equi-join on the prefix shingle
    (never all-pairs) and its prefix-rank window partitions by doc —
    plus a recall cross-check: every pair MinHash-LSH finds at the
    same threshold must also be found (the lossless guarantee)."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.operators.dedup import minhash_candidate_pairs
    from etl_portofolio_spark.plans.round6_queries import q_ppjoin_exact_pairs
    from etl_portofolio_spark.catalog import load_table
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    df = q_ppjoin_exact_pairs(spark, SF_DIR)
    p = _plan(df)
    assert "CartesianProduct" not in p
    assert "hashpartitioning(doc_id" in p  # the prefix-rank window
    exact = {(r["id_a"], r["id_b"]) for r in df.collect()}
    release_cached()
    lsh = minhash_candidate_pairs(
        load_table(spark, SF_DIR, "documents").where(F.col("doc_id") % 10 < 3),
        "doc_id",
        "text",
        threshold=0.5,
    )
    lsh_pairs = {(r["id_a"], r["id_b"]) for r in lsh.collect()}
    release_cached()
    assert lsh_pairs <= exact  # prefix filter is lossless; LSH is not


# ---------------------------------------------------------------------------
# round-7 wave: stats / survival / verify-stage plan shapes
# ---------------------------------------------------------------------------


def _min_node_id(plan: str, node: str) -> int:
    """Smallest formatted-explain node id for `node` — ids grow from the
    leaves toward the root, so `id(Window) > id(HashAggregate)` means
    the window consumes an already-aggregated (domain-bounded) frame,
    never raw fact rows."""
    import re

    ids = [int(m) for m in re.findall(rf"\b{node}[^(\n]* \((\d+)\)", plan)]
    assert ids, f"no {node} node found in plan"
    return min(ids)


def test_chi2_margins_broadcast_single_fact_scan(spark):
    """Contingency margins must come from the 9-cell frame (broadcast),
    never a second scan of the fact table."""
    from etl_portofolio_spark.plans.round7_queries import q_chi2_returns_status

    plan = _plan(q_chi2_returns_status(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # exactly one parquet scan of lineitem feeds the whole plan
    # (formatted mode mentions the path in the tree and the node detail)
    assert plan.count("lineitem.parquet") <= 2


def test_edit_distance_verify_is_blocked_equi_join(spark):
    """The Levenshtein verify stage must join on the block key — an
    all-pairs plan would be quadratic in the corpus."""
    from etl_portofolio_spark.plans.round7_queries import q_edit_distance_verify

    plan = _plan(q_edit_distance_verify(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mannwhitney_aggregates_before_ranking(spark):
    """Rank windows must run over the 50-value quantity domain, not the
    fact rows: the window input is fed by an aggregate, and no global
    sort of fact rows appears."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_mannwhitney_quantity_returns,
    )

    plan = _plan(q_mannwhitney_quantity_returns(spark, SF_DIR))
    assert _min_node_id(plan, "Window") > _min_node_id(plan, "HashAggregate")


def test_km_curve_windows_after_duration_aggregate(spark):
    """KM risk-set windows must operate on the duration-keyed frame
    (calendar-bounded), downstream of the per-order collapse."""
    from etl_portofolio_spark.plans.round7_queries import q_km_time_to_return

    plan = _plan(q_km_time_to_return(spark, SF_DIR))
    assert _min_node_id(plan, "Window") > _min_node_id(plan, "HashAggregate")


def test_dsir_bucket_stats_broadcast_single_corpus_pass(spark):
    """DSIR bucket statistics must broadcast back onto the token stream
    (256-row frame), and the corpus is tokenized from ONE documents
    scan feeding both the stats and the scoring branch via reuse or a
    second scan at most — never a SortMergeJoin on the token stream."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_dsir_importance_weights,
    )

    plan = _plan(q_dsir_importance_weights(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_adamic_adar_no_cartesian(spark):
    """Wedge generation must be keyed equi-joins on order / neighbor —
    an all-pairs brand plan would be quadratic at a real brand
    cardinality."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round7_queries import q_adamic_adar_linkpred

    spark.catalog.clearCache()
    plan = _plan(q_adamic_adar_linkpred(spark, SF_DIR))
    release_cached()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kruskal_wallis_ranks_domain_not_facts(spark):
    """Same contract as Mann-Whitney: the rank window consumes the
    50-value aggregated domain, never fact rows."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_kruskal_wallis_quantity,
    )

    plan = _plan(q_kruskal_wallis_quantity(spark, SF_DIR))
    assert _min_node_id(plan, "Window") > _min_node_id(plan, "HashAggregate")


def test_holt_kernel_consumes_daily_aggregate(spark):
    """The sequential Holt fold must sit ABOVE the daily collapse: the
    Arrow kernel sees the calendar-bounded frame, not order rows."""
    from etl_portofolio_spark.plans.round7_queries import q_holt_trend_forecast

    plan = _plan(q_holt_trend_forecast(spark, SF_DIR))
    assert _min_node_id(plan, "FlatMapGroupsInPandas") > _min_node_id(
        plan, "HashAggregate"
    )


def test_vocab_coverage_broadcast_and_topk(spark):
    """The 1024-row vocab must broadcast onto the token stream, and its
    selection must be TakeOrdered (k rows), never a global sort."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_tokenizer_vocab_coverage,
    )

    plan = _plan(q_tokenizer_vocab_coverage(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_lpa_rounds_are_equi_joins(spark):
    """Each LPA round is label-onto-edges equi-join + per-node window;
    no cartesian or nested-loop anywhere across the unrolled rounds."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round7_queries import (
        q_label_propagation_communities,
    )

    spark.catalog.clearCache()
    plan = _plan(q_label_propagation_communities(spark, SF_DIR))
    release_cached()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_novelty_gram_join_no_cartesian(spark):
    """The first-occurrence reduce joins back on the gram key only."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_ngram_novelty_profile,
    )

    plan = _plan(q_ngram_novelty_profile(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rolling_wau_dedups_before_expansion(spark):
    """The 7x fan-out must multiply the DEDUPLICATED (user, day) frame:
    an aggregate sits below the generate/explode node."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_rolling_7d_distinct_users,
    )

    plan = _plan(q_rolling_7d_distinct_users(spark, SF_DIR))
    assert _min_node_id(plan, "Generate") > _min_node_id(plan, "HashAggregate")
    assert "BroadcastHashJoin" in plan  # calendar restriction broadcast


def test_time_decay_pairing_is_user_equi_join(spark):
    """Purchase-touch pairing joins on the user key with a time-range
    residual — never a time-only nested loop."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_time_decay_attribution,
    )

    plan = _plan(q_time_decay_attribution(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_isotonic_triples_are_domain_bounded(spark):
    """The minimax enumeration must consume the 50-value aggregated
    domain (HashAggregate below every join), never fact rows."""
    from etl_portofolio_spark.plans.round7_queries import q_isotonic_price_curve

    plan = _plan(q_isotonic_price_curve(spark, SF_DIR))
    assert _min_node_id(plan, "BroadcastNestedLoopJoin") > _min_node_id(
        plan, "HashAggregate"
    )


def test_spearman_single_fact_scan_decimal_accumulators(spark):
    """Rank margins and moments all derive from ONE cells aggregate;
    no SortMergeJoin; second moments are decimal-typed."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_spearman_quantity_discount,
    )

    plan = _plan(q_spearman_quantity_discount(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "decimal(38,0)" in plan


def test_quantile_normalization_windows_after_histograms(spark):
    """The fraction-merge windows must consume value-cent HISTOGRAMS
    (aggregates), never raw event rows."""
    from etl_portofolio_spark.plans.round7_queries import (
        q_quantile_normalization,
    )

    plan = _plan(q_quantile_normalization(spark, SF_DIR))
    assert _min_node_id(plan, "Window") > _min_node_id(plan, "HashAggregate")
    assert "CartesianProduct" not in plan


def test_rrf_lists_are_take_ordered(spark):
    """Both retrieval lists must be TakeOrderedAndProject top-k, never
    a global sort of the corpus; the probe side broadcasts."""
    from etl_portofolio_spark.plans.round7_queries import q_hybrid_rrf_fusion

    plan = _plan(q_hybrid_rrf_fusion(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_brand_series_corr_pairs_after_monthly_collapse(spark):
    """The pair join must consume the (brand, month) aggregate, never
    fact rows, and the final top-k rides TakeOrdered."""
    from etl_portofolio_spark.caching import release_cached
    from etl_portofolio_spark.plans.round7_queries import (
        q_brand_series_correlation_topk,
    )

    spark.catalog.clearCache()
    plan = _plan(q_brand_series_correlation_topk(spark, SF_DIR))
    release_cached()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_hll_sketch_single_shuffle_64_groups(spark):
    """The register build must be one map-side-combinable pass: exactly
    one exchange, keyed on the 64-value register — no sort, no join."""
    from etl_portofolio_spark.plans.round7b_queries import (
        q_hll_register_sketch,
    )

    plan = _plan(q_hll_register_sketch(spark, SF_DIR))
    assert "Join" not in plan
    assert "Expand" not in plan  # single distinct-agg, no row multiply
    # formatted explain names each node twice (tree + detail header);
    # count detail headers: the distinct rewrite needs exactly 2
    # exchanges (key-dedup, then 64-register final)
    assert plan.count(") Exchange") <= 2


def test_mrr_probe_panel_broadcasts(spark):
    """Candidate scoring must broadcast the 5-probe panel and rank via
    per-probe windows — never a global sort of the corpus."""
    from etl_portofolio_spark.plans.round7b_queries import (
        q_mrr_label_retrieval,
    )

    plan = _plan(q_mrr_label_retrieval(spark, SF_DIR))
    # the id != pid panel join is a broadcast nested loop over 5 rows —
    # the corpus side never shuffles or sorts globally
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange hashpartitioning" not in plan.split("Window")[0]


def test_source_overlap_join_keyed_on_shingle(spark):
    """The pair join must be an equi-join on the shingle hash (sort- or
    hash-based), never a cartesian over sources x shingles."""
    from etl_portofolio_spark.plans.round7b_queries import (
        q_source_shingle_overlap,
    )

    plan = _plan(q_source_shingle_overlap(spark, SF_DIR))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    assert "sh" in plan


def test_packing_window_partitions_by_source(spark):
    """Sequence packing must window PER SHARD (source), never a global
    single-partition prefix sum, and read only the 3 needed columns."""
    from etl_portofolio_spark.plans.round9_queries import (
        q_token_packing_chunks,
    )

    plan = _plan(q_token_packing_chunks(spark, SF_DIR))
    assert "hashpartitioning(source" in plan, plan[:2000]
    assert "SinglePartition" not in plan.split("Window")[0]
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "lang" not in read_schema and "n_chars" not in read_schema


def test_merkle_diff_never_ships_rows(spark):
    """Replica reconciliation aggregates each replica to 64 bucket
    digests before any join — no cartesian, no fact-row join, scans
    pruned to (key, price)."""
    from etl_portofolio_spark.plans.round9_queries import (
        q_merkle_replica_diff,
    )

    plan = _plan(q_merkle_replica_diff(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "o_comment" not in read_schema and "o_orderdate" not in read_schema
    # both replicas combine map-side (partial bit_xor) and only the
    # 64-row digest frames reach the full-outer diff join
    assert plan.count("partial_bit_xor") >= 2
    assert "FullOuter" in plan


def test_semdedup_prune_stays_banded(spark):
    """SemDeDup pruning must inherit the banded LSH equi-join — never
    an all-pairs cross join over the corpus."""
    from etl_portofolio_spark.plans.round9_queries import (
        q_semdedup_lsh_prune,
    )

    plan = _plan(q_semdedup_lsh_prune(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_audit_histogram_not_fact_sort(spark):
    """The percentile walk must run on the count-of-counts histogram —
    no global Sort over the fact scan (sorts appear only above the
    key-count aggregate)."""
    from etl_portofolio_spark.plans.round9_queries import (
        q_shuffle_key_skew_audit,
    )

    spark.catalog.clearCache()
    plan = _plan(q_shuffle_key_skew_audit(spark, SF_DIR))
    # the only ReadSchema is the single pruned key column
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert read_schema.strip().endswith("struct<l_partkey:bigint>")
    from etl_portofolio_spark.caching import release_cached

    release_cached()


# ---------------------------------------------------------------------------
# round-9b/9c wave plan shapes
# ---------------------------------------------------------------------------


def test_triples_expand_mapside_no_fact_self_join(spark):
    """The Apriori triple census must expand triples from basket arrays
    (one explode), never via a 3-way fact self-join or a cartesian."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9b_queries import (
        q_frequent_triple_itemsets,
    )

    plan = _plan(q_frequent_triple_itemsets(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count(") Generate") >= 1  # the explode


def test_hits_dim_broadcast_and_bounded_shuffles(spark):
    """HITS: the part dim broadcasts; no cartesian; the brand-key
    aggregates carry partial (map-side) combines."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9b_queries import q_hits_two_step_scores

    plan = _plan(q_hits_two_step_scores(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan


def test_mann_kendall_pair_join_is_broadcast(spark):
    """The day-pair census must be a broadcast nested-loop over the
    calendar-bounded panel — never a fact-scale SortMergeJoin."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9c_queries import q_mann_kendall_trend

    plan = _plan(q_mann_kendall_trend(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_stump_histogram_filters_stay_pushed(spark):
    """The stump search reads only the 4 needed lineitem columns."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9c_queries import q_decision_stump_split

    plan = _plan(q_decision_stump_split(spark, SF_DIR))
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read and "l_shipmode" not in read
    assert "CartesianProduct" not in plan


def test_centroid_drift_single_fact_pass(spark):
    """Centroid drift: one Generate (posexplode), partial-aggregated
    before its shuffle, no join at all."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9c_queries import (
        q_embedding_centroid_drift,
    )

    plan = _plan(q_embedding_centroid_drift(spark, SF_DIR))
    # detail headers count nodes once: exactly one Generate (posexplode)
    assert plan.count(") Generate") == 1
    assert "Join" not in plan
    assert "partial_sum" in plan


def test_countmin_sketch_partial_aggregates_and_broadcasts(spark):
    """The CMS counter build must partial-aggregate below its shuffle
    (bounded d*w state crosses the wire, not the exploded stream), and
    the probe side must meet the sketch via broadcast, never a
    fact-scale sort-merge."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import (
        q_countmin_point_estimates,
    )

    plan = _plan(q_countmin_point_estimates(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_no_cartesian_no_fact_join(spark):
    """Sorted-neighborhood pairing is windows + a bounded boundary
    exchange — the corpus must never self-join."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import (
        q_dedup_sorted_neighborhood,
    )

    plan = _plan(q_dedup_sorted_neighborhood(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # pairs come from lead(), not joins


def test_phrase_match_filters_postings_before_join(spark):
    """The positional join's inputs must be pre-filtered to the phrase
    words (broadcast of the 1-row phrase frame under each posting
    scan), so the self-join is posting-list-sized, not corpus-sized."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import (
        q_phrase_match_positions,
    )

    plan = _plan(q_phrase_match_positions(spark, SF_DIR))
    # both posting sides meet the phrase frame via broadcast joins
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_ohlc_single_combinable_aggregate(spark):
    """OHLC bars: one partial-aggregated pass, no window, no join."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import q_ohlc_downsample

    plan = _plan(q_ohlc_downsample(spark, SF_DIR))
    assert "partial_min_by" in plan or "partial_min" in plan
    assert "Window" not in plan
    assert ") Join" not in plan and "Join " not in plan.split("\n")[1]


def test_grace_plan_fanout_stays_in_plan(spark):
    """The fanout scalar folds in as a broadcast — no scalar driver
    action — and the census is partial-aggregated below its shuffle."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import (
        q_grace_hash_join_plan,
    )

    plan = _plan(q_grace_hash_join_plan(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan


def test_walk_forward_spine_broadcasts(spark):
    """The 4-row fold spine crosses the fact scan map-side."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round9d_queries import (
        q_walk_forward_cv_folds,
    )

    plan = _plan(q_walk_forward_cv_folds(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    read = plan.split("ReadSchema")[1].split("\n")[0]
    assert "o_comment" not in read and "o_totalprice" not in read


def test_anova_moments_partial_aggregated(spark):
    """ANOVA: the 5-group moment pass partial-aggregates below its
    shuffle (the shuffle carries group moments, never fact rows), and
    the scalar F arithmetic adds no further fact-side work."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round10_queries import (
        q_anova_oneway_quantity,
    )

    plan = _plan(q_anova_oneway_quantity(spark, SF_DIR))
    assert "partial_sum" in plan and "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_brown_forsythe_median_frame_broadcasts(spark):
    """The 5-row per-group median frame must broadcast back onto the
    fact rows — never a shuffled join against the corpus."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round10_queries import (
        q_brown_forsythe_quantity,
    )

    plan = _plan(q_brown_forsythe_quantity(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_gram_matrix_expansion_is_mapside(spark):
    """The d(d+1)/2 pair expansion happens map-side inside one
    combinable aggregation: no join anywhere in the plan, and the
    only shuffle carries the 136 (i, j) cells."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round10_queries import q_gram_matrix_block

    plan = _plan(q_gram_matrix_block(spark, SF_DIR))
    assert ") Join" not in plan and "SortMergeJoin" not in plan
    assert "partial_sum" in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "embedding" in read_schema and "label" not in read_schema


def test_logrank_collapses_before_duration_window(spark):
    """Log-rank: lineitem collapses to per-order first-return rows
    under a partial aggregate, and the at-risk suffix sums window over
    the duration domain, not fact rows (single final-row output)."""
    spark.catalog.clearCache()
    from etl_portofolio_spark.plans.round10_queries import (
        q_logrank_return_priority,
    )

    plan = _plan(q_logrank_return_priority(spark, SF_DIR))
    assert "partial_min" in plan  # per-order first-return collapse
    assert "CartesianProduct" not in plan
    read_schema = plan.split("ReadSchema")[1].split("\n")[0]
    assert "l_comment" not in read_schema
