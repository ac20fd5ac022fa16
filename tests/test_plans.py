"""Physical-plan assertions: the plans must be the ones that survive a
100x scale-up — pushed filters, pruned columns, broadcast dims, top-k and
rank pushdown, whole-stage codegen."""

from __future__ import annotations

import re

import pytest

from kstreamjs_spark.plans import assert_in_plan, assert_not_in_plan, pushed_filters
from kstreamjs_spark.queries import all_queries

SPECS = all_queries()


@pytest.fixture
def q(spark, sf_smoke):
    """Builds a registered query's frame over the sf0.001 fixtures."""
    return lambda name: SPECS[name].fn(spark, sf_smoke)


def test_filter_pushdown_reaches_scan(q):
    pf = pushed_filters(q("q03_filter_purchases"))
    assert "event_type" in pf and "value" in pf


def test_projection_prunes_columns(q):
    # q02 projects 4 of 11 lineitem columns; the scan must not read the rest
    assert_not_in_plan(q("q02_project_revenue"), "l_shipdate", "l_comment")


def test_join_broadcasts_small_dim(q):
    assert_in_plan(q("q09_revenue_by_nation"), "BroadcastHashJoin")


def test_topk_avoids_global_sort(q):
    assert_in_plan(q("q14_top10_orders"), "TakeOrderedAndProject")


def test_rank_pushdown(q):
    assert_in_plan(q("q12_top3_orders_per_customer"), "WindowGroupLimit")


def test_agg_is_partial_then_final(q):
    assert_in_plan(q("q07_pricing_summary"), "HashAggregate")


def test_codegen_covers_scan_pipeline(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q07_pricing_summary"), mode="codegen")
    assert "WholeStageCodegen" in plan


def test_asof_join_single_shuffle_no_range_explosion(q):
    plan = __import__("kstreamjs_spark.plans", fromlist=["explain_str"]).explain_str(
        q("q39_asof_join")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exactly one exchange partitions by the as-of key
    assert plan.count("hashpartitioning(user_id") >= 1
    assert "Window" in plan


def test_neardup_joins_are_equi_not_cross(q):
    for name in ("q26_jaccard_neardup", "q26b_minhash_neardup",
                 "q26c_simhash_neardup"):
        plan = __import__("kstreamjs_spark.plans", fromlist=["explain_str"]).explain_str(
            q(name)
        )
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_unpivot_plans_single_expand(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q45_unpivot"), mode="simple")
    assert "Expand" in plan
    assert plan.count("FileScan parquet") == 1  # one scan, not one per measure


def test_pivot_plans_single_aggregate_pass(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q38_pivot"), mode="simple")
    assert plan.count("FileScan parquet") == 1


def test_bucketed_join_needs_no_exchange(spark, sf_smoke, tmp_path):
    """The SCALE.md claim for recurring fact-to-fact joins: bucketing both
    tables on the join key at write time removes the join shuffle entirely.
    (Broadcast disabled to force the sort-merge path a 100 TB join takes.)"""
    from kstreamjs_spark.plans import explain_str
    from kstreamjs_spark.tables import load

    orders, lineitem = load(spark, sf_smoke, "orders", "lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    (orders.write.bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("b_orders"))
    (lineitem.write.bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("b_lineitem"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        import pyspark.sql.functions as F

        j = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        ).groupBy("o_orderstatus").count()
        plan = explain_str(j, mode="simple")
        # aggregation still shuffles its tiny partials; the JOIN must not:
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, plan
        assert "SortMergeJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_range_join_is_equi_not_nested_loop(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q43_range_join"), mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_partitioned_ivf_layout_prunes_at_file_level(
    spark, sf_smoke, tmp_path
):
    """The SCALE.md IVF claim: materializing inverted lists as a table
    partitioned by cell id means an n_probe query reads only the probed
    cells' files — partition pruning, not a post-scan filter."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.plans import explain_str
    from kstreamjs_spark.tables import load

    (emb,) = load(spark, sf_smoke, "embeddings")
    path = str(tmp_path / "ivf")
    # cheap stand-in cell assignment (real one: similarity.ivf_topk);
    # the layout property under test is identical
    emb.withColumn("cell", (F.col("vec_id") % 8).cast("int")).write.partitionBy(
        "cell"
    ).mode("overwrite").parquet(path)
    probed = spark.read.parquet(path).filter(F.col("cell").isin(2, 5))
    plan = explain_str(probed)
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    # pruning is observable: only the probed cells' rows are read
    assert probed.count() == emb.filter((F.col("vec_id") % 8).isin(2, 5)).count()


def test_hypertable_rollup_scans_raw_once(q):
    """Three resolutions, ONE raw scan at execution: the static plan prints
    the minute subtree under every union branch, but AQE's exchange reuse
    dedupes them — the executed plan must carry ReusedExchange nodes for
    the hour and day branches (the oracle's UNION ALL really does scan
    three times; ours must not)."""
    df = q("q49_hypertable_rollup")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ReusedExchange") >= 2, executed


def test_sessionize_single_data_shuffle(q):
    """q55: one user_id hash shuffle serves both window passes AND the
    session rollup (user_id clustering satisfies the (user_id,
    session_seq) distribution) — and with no presentation ORDER BY it
    is the ONLY exchange in the plan."""
    plan = q("q55_sessionize")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 1, plan


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_smoke):
    """Runtime row-level filtering: a selective dim-side predicate injects
    a bloom filter (`might_contain`) onto the fact scan side of a
    shuffle join, so fact rows failing the dim filter die before the
    shuffle. At 100 TB this is the difference between shuffling the whole
    fact table and shuffling the ~matching slice. Thresholds are lowered
    here because the feature gates on scan-size estimates sized for real
    clusters (creation side small, application side huge)."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.tables import load

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
        orders, customer = load(spark, sf_smoke, "orders", "customer")
        sel = customer.filter(F.col("c_mktsegment") == "BUILDING")
        j = orders.join(sel, orders.o_custkey == sel.c_custkey).select("o_orderkey")
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_knn_join_rank_pushdown_no_full_shuffle(q):
    """q58: the per-query top-k must plan WindowGroupLimit (partial limit
    before the shuffle) and the scored cross product must reach it via a
    broadcast, not a shuffle of the vector table."""
    plan = q("q58_knn_join")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_incremental_dedup_anti_join_broadcastable(q):
    """q57: the corpus side must reduce to distinct fingerprints BEFORE the
    anti-join (aggregate below the join input) and the join must stay a
    left-anti hash join — at scale the fingerprint set, not the corpus,
    is what ships to the join."""
    plan = (
        q("q57_incremental_ingest_dedup")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "LeftAnti" in plan, plan
    assert "HashAggregate" in plan, plan  # the distinct below the join


def test_aqe_splits_skewed_join_partition(spark):
    """AQE skew-join splitting — the automatic complement to
    operators/skew.py's manual salting (which exists for aggregations and
    AQE-less streaming batches). A 90%-hot-key probe side must show
    `skew=true` on the sort-merge join in the final adaptive plan;
    thresholds are lowered because the defaults are sized for 256MB
    cluster partitions."""
    import pyspark.sql.functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    )
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        for k, v in zip(keys, ("64KB", "16KB", "2", "-1", "-1")):
            spark.conf.set(k, v)
        big = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = big.join(dim, "k").groupBy().agg(F.sum("v").alias("sv"))
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_quota_sample_rank_pushdown(q):
    """q67: the per-stratum quota must plan WindowGroupLimit — each task
    keeps only its top-K per stratum before the shuffle, so the corpus
    never fully sorts."""
    plan = q("q67_quota_sample")._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_bigram_pmi_topk_and_no_cross_join(q):
    """q68: top-20 via TakeOrderedAndProject (no global sort); the only
    nested-loop joins are the two broadcast 1-row scalar totals."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q68_bigram_pmi"), mode="simple")
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_funnel_single_shuffle_no_joins(q):
    """q93: the whole funnel is one user_id aggregation — the min-chain is
    array expressions, so the plan must contain NO join of any kind and
    exactly one hash exchange (the second exchange is the global
    SinglePartition count rollup, which moves 4 longs)."""
    plan = q("q93_event_funnel")._jdf.queryExecution().executedPlan().toString()
    for node in ("Join", "CartesianProduct"):
        assert node not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_containment_join_is_equi_not_cross(q):
    """q90 shares q26's candidate machinery, so it must inherit the same
    no-cross-join guarantee."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q90_containment_pairs"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cluster_balance_rank_pushdown(q):
    """q91: the per-cluster quota trim must plan WindowGroupLimit — each
    task keeps <=M rows per cid before the exchange."""
    assert_in_plan(q("q91_cluster_balanced_sample"), "WindowGroupLimit")


def test_outlier_topk_avoids_global_sort(q):
    """q92: bottom-20 by centroid cosine is TakeOrderedAndProject (k-row
    per-partition heaps), never a global sort."""
    assert_in_plan(q("q92_embedding_outliers"), "TakeOrderedAndProject")
    assert_not_in_plan(q("q92_embedding_outliers"), "CartesianProduct")


def test_length_trim_thresholds_broadcast(q):
    """q88: the per-lang percentile thresholds join back to the document
    scan as broadcasts — the corpus side must not shuffle for them."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q88_length_trim"))
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_bigram_lm_no_cartesian(q):
    """q86: the V scalar joins as a 1-row broadcast; the count-table joins
    are equi-joins on the token key — nothing may plan cartesian."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q86_bigram_lm_score"))
    assert "CartesianProduct" not in plan, plan


def test_gap_percentiles_single_window_no_joins(q):
    """q103 uses the histogram-percentile operator: cumulative count and
    group total come from ONE Window node over the (type, gap) histogram
    and every percentile extracts in one conditional aggregate — zero
    joins, and the gap stream is never reshuffled."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q103_gap_percentiles"), mode="simple")
    assert "Join" not in plan, plan
    # lag window + (cumulative, total) over the histogram — the latter
    # two share one event_type exchange
    assert plan.count("Window [") == 3, plan
    # exactly two event_type-prefixed exchanges: the (type, gap)
    # histogram aggregate and the shared window partitioning
    assert plan.count("hashpartitioning(event_type") == 2, plan


def test_fuzzy_pairs_no_cartesian(q):
    """q104 (exact oracle variant): the all-pairs-within-source join is an
    equi-join on source, never a cartesian, and no longer forces a
    broadcast hint (a forced F.broadcast of the full corpus side OOMs
    past the 8 GB limit instead of degrading to shuffle)."""
    from kstreamjs_spark.plans import explain_str

    df = q("q104_fuzzy_prefix_pairs")
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()


def test_fuzzy_blocked_pairs_shuffle_equi_join(q, spark):
    """q104b: the pigeonhole candidate join must be a pure shuffle
    EQUI-join on (source, chunk_id, chunk_text) — with size-based
    broadcast disabled it plans SortMergeJoin (proving no broadcast of
    either corpus side is required), and nothing may plan cartesian or
    nested-loop. This is the scale-shape assertion of the fuzzy-dedup
    family."""
    from kstreamjs_spark.plans import explain_str

    df = q("q104b_fuzzy_blocked_pairs")
    plan = explain_str(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        shuffled = explain_str(q("q104b_fuzzy_blocked_pairs"))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in shuffled or "ShuffledHashJoin" in shuffled, shuffled
    assert "BroadcastExchange" not in shuffled, shuffled


def test_session_funnel_single_data_shuffle(q):
    """q108: sessionization window, composite-key funnel groupBy, and the
    final rollup all cluster on user_id — one data exchange plus the
    4-long global rollup."""
    plan = (
        q("q108_session_funnel")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cohort_sizes_broadcast(q):
    """q107: per-cohort sizes join back as a broadcast."""
    assert_in_plan(q("q107_cohort_retention"), "BroadcastHashJoin")


def test_repeated_chunks_equi_join_no_cartesian(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q112_repeated_chunks"), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # text must not cross the shuffle: only (lang, cfp, doc_id) do
    assert "Exchange hashpartitioning" in plan
    assert not re.search(r"Exchange hashpartitioning\([^)]*text", plan)


def test_priority_sample_rank_pushdown(q):
    # per-stratum top-k must plan WindowGroupLimit, not a full sort
    from kstreamjs_spark.plans import assert_in_plan

    assert_in_plan(q("q113_priority_sample"), "WindowGroupLimit")


def test_vector_health_zero_shuffle_scan_agg(q):
    # scan-side array math + one label aggregate: exactly one exchange
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q115_vector_health"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_quant_error_zero_join_single_agg(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q119_quant_error"), mode="simple")
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan
    assert "PythonUDF" not in plan


def test_scd2_single_user_shuffle(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q121_scd2_intervals"))
    # both window passes ride ONE hashpartitioning(user_id) exchange
    assert plan.count("hashpartitioning(user_id") >= 1
    assert "Join" not in plan
    n_exchanges = plan.count("+- Exchange") + plan.count(":- Exchange")
    assert n_exchanges == 1, plan


def test_contamination_coverage_equi_join_distinct_probe(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q122_contamination_coverage"), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the train side reduces to distinct shingles before the join
    assert "HashAggregate" in plan


def test_ks_drift_histogram_not_per_doc_window(q):
    # the cumulative window must run over the (lang, length) histogram
    # aggregate, not over per-document rows
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q130_length_ks_drift"), mode="simple")
    assert "CartesianProduct" not in plan
    # the histogram aggregate feeds the window (appears BELOW it in the
    # top-down plan text); the final per-lang max sits above — so the
    # LAST aggregate must be downstream of the window
    assert plan.rindex("HashAggregate") > plan.index("Window")


def test_value_percentiles_histogram_window(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q131_value_percentiles"), mode="simple")
    assert "CartesianProduct" not in plan
    assert "Window" in plan and "HashAggregate" in plan


def test_growth_accounting_single_user_shuffle(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q135_growth_accounting"), mode="simple")
    # min-over-partition and lag share one hashpartitioning(user_id)
    assert plan.count("hashpartitioning(user_id") >= 1
    assert "Join" not in plan


def test_revenue_trend_day_histogram_before_window(q):
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q134_revenue_trend"), mode="simple")
    # the RANGE window runs over the day aggregate, not raw events
    assert plan.index("Window") < plan.index("HashAggregate")


def test_cheapest_supplier_groupwise_min_is_aggregate_not_window(q):
    """q149: the Q2-style groupwise min must compile to a partial-
    aggregating min(struct) — no Window (sort-based, skew-sensitive) and
    no join-back of the winner (the name rides in the struct)."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q149_cheapest_supplier"), mode="simple")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # min(struct(...)) partial-aggregates before the partkey exchange
    assert "partial_min(struct" in plan, plan
    # the pruned supplier chain — not the fact — is the broadcast build
    # side (the gate= fix; without it Catalyst's inflated join estimate
    # left lineitem as the static build choice)
    assert "BroadcastExchange" in plan, plan
    first_bcast = plan.split("BroadcastExchange", 1)[1]
    assert "lineitem" not in first_bcast.split("BroadcastHashJoin")[0], plan


def test_sole_late_supplier_windows_share_orderkey_partitioning(q):
    """q150: both correlated-subquery replacements (supplier count, late
    count) must come from ONE Window node over orderkey — never a
    self-join of the fact."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q150_sole_late_supplier"), mode="simple")
    assert plan.count("Window") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_dormant_customers_anti_join_and_scalar_broadcast(q):
    """q151: the NOT EXISTS must plan as a left-anti equi-join against
    the distinct recent custkeys, with the one-row scalar arriving via a
    broadcast."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q151_dormant_rich_customers"), mode="simple")
    assert "LeftAnti" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hotlist_reuses_partkey_exchange(q):
    """q152: the per-part aggregate feeds BOTH the global scalar and the
    hotlist filter; at runtime AQE must reuse the partkey exchange
    instead of scanning lineitem twice."""
    df = q("q152_part_revenue_hotlist")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_small_qty_revenue_single_partkey_window_no_self_join(q):
    """q153: the per-part average must be a window over the same scan —
    one partkey shuffle, no lineitem self-join."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q153_small_qty_revenue"), mode="simple")
    assert plan.count("hashpartitioning(l_partkey") == 1, plan
    assert "CartesianProduct" not in plan, plan


def test_large_volume_having_filters_before_join(q):
    """q154: the total-quantity HAVING filter must sit in the aggregate
    subtree (below the joins), so only survivors reach the orders fact."""
    from kstreamjs_spark.plans import explain_str
    import re

    plan = explain_str(q("q154_large_volume_customers"), mode="simple")
    assert "CartesianProduct" not in plan, plan
    # top-down text: joins print above their inputs; the tq threshold
    # filter must appear after (deeper than) the first join header
    join_pos = min(m.start() for m in re.finditer(r"Join", plan))
    filt = re.search(r"tq#\d+L > \d+", plan)
    assert filt and filt.start() > join_pos, plan


def test_hard_negatives_rank_pushdown_broadcast_queries(q):
    """q155: same contract as q58 — WindowGroupLimit before the shuffle,
    query batch broadcast, vector table never shuffled whole."""
    plan = (
        q("q155_hard_negatives")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_temperature_mix_reuses_lang_aggregate(q):
    """q156: the lang-sized aggregate feeds both the per-lang rows and
    the scalar totals; AQE must reuse the exchange, not scan documents
    twice."""
    df = q("q156_temperature_mix")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def _assert_no_blob_exchange(df):
    """Multimodal shuffle invariant: the KB-scale
    fixture scan is widened BELOW the synth stage (a round-robin
    exchange of the id/len parameter columns only — the codec chain
    previously ran as ONE task on one core), so the pinned contract is
    no longer "zero exchanges" but the actual scale design: no Exchange
    node may OUTPUT a blob column — payload bytes never cross a
    shuffle."""
    import re as _re

    from kstreamjs_spark.plans import explain_str

    plan = explain_str(df)
    sections = _re.split(
        r"\n\(\d+\) ", "\n" + plan.split("== Physical Plan ==")[-1]
    )
    saw_exchange = False
    for sec in sections:
        head = sec.split("\n", 1)[0]
        if "Exchange" in head:
            saw_exchange = True
            m = _re.search(r"Output(?: \[\d+\])?: \[([^\]]*)\]", sec)
            cols = m.group(1) if m else ""
            assert "blob" not in cols, f"blob crosses an exchange: {sec[:300]}"
    assert saw_exchange, "expected the widen exchange below the synth stage"


def test_audio_decode_pipeline_no_blob_shuffle(q):
    """q40c chains two Arrow mapInPandas stages (WAV synth -> header
    decode) off one scan: blobs must flow through the pipeline without
    ever crossing an exchange (see _assert_no_blob_exchange)."""
    df = q("q40c_audio_decode")
    assert_in_plan(df, "MapInPandas")
    assert_not_in_plan(df, "text#", "lang#")
    _assert_no_blob_exchange(df)


def test_fuzzy_blocked_prefix_derived_before_spread(q):
    """fuzzy_prefix_pairs derives the normalized 40-char prefix
    BELOW the fan-out exchange, so the shuffle carries (id, source, 40
    chars) instead of full document text (A/B: 0.999 s -> 0.681 s at
    sf0.1). Pinned by node order: the normalize expression (lower(text))
    must appear under the doc_id repartition exchange, never above it."""
    df = q("q104b_fuzzy_blocked_pairs")
    plan = df._jdf.queryExecution().executedPlan().toString()
    ex = plan.index("Exchange hashpartitioning(doc_id")
    norm = plan.index("lower(text")
    assert ex < norm, plan[:2000]


def test_png_decode_pipeline_no_shuffle(q):
    """q40d chains two Arrow mapInPandas stages (PNG synth -> full
    decode) off one scan: compressed blobs never cross an exchange
    (refined invariant: _assert_no_blob_exchange), only the two
    parameter-deriving source columns are read."""
    df = q("q40d_image_png_decode")
    assert_in_plan(df, "MapInPandas")
    assert_not_in_plan(df, "text#", "lang#")
    _assert_no_blob_exchange(df)


def test_mp4_decode_pipeline_no_shuffle(q):
    """q40e chains two Arrow mapInPandas stages (MP4 synth -> box-walk
    metadata decode) off one scan: blobs never cross an exchange
    (refined invariant: _assert_no_blob_exchange)."""
    df = q("q40e_video_mp4_decode")
    assert_in_plan(df, "MapInPandas")
    assert_not_in_plan(df, "text#", "lang#")
    _assert_no_blob_exchange(df)


def test_jpeg_decode_pipeline_no_shuffle(q):
    """q40f chains two Arrow mapInPandas stages (JPEG synth -> full
    huffman+IDCT decode) off one scan: same blob-shuffle-free,
    column-pruned shape as the PNG pipeline."""
    df = q("q40f_image_jpeg_decode")
    assert_in_plan(df, "MapInPandas")
    assert_not_in_plan(df, "text#", "lang#")
    _assert_no_blob_exchange(df)


def test_mp4_frame_sample_pipeline_no_shuffle(q):
    """q40g's 1:N frame explode happens INSIDE the second mapInPandas
    stage (partitioned on the input blobs, per its scale note), so the
    exploded output still crosses no blob exchange."""
    df = q("q40g_video_frame_sample")
    assert_in_plan(df, "MapInPandas")
    assert_not_in_plan(df, "text#", "lang#")
    _assert_no_blob_exchange(df)


def test_cooccurrence_reuses_distinct_exchange_at_runtime(q):
    """q125's docstring claims the raw-events distinct shuffle
    materializes once: the static plan prints four copies, but AQE's
    runtime exchange reuse must collapse them — asserted on the EXECUTED
    plan, where ReusedExchange only appears after stage materialization."""
    df = q("q125_event_cooccurrence")
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_bloom_decontaminate_probes_below_verify_join(q):
    """q77b's plan contract: hashing is JVM-side (xxhash64/pmod inside
    the probe's input expression), the Arrow bitset probe + its filter
    sit directly on the corpus scan's explode output BELOW the exact
    verify semi-join, and the corpus branch crosses no exchange before
    that join — the prefilter shrinks the join input, it doesn't add a
    shuffle. (Catalyst additionally infers the probe predicate onto the
    eval side through the join-key constraint — safe precisely because a
    bloom has no false negatives.)"""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q77b_decontaminate_bloom"))
    assert "ArrowEvalPython" in plan
    assert "xxhash64" in plan and "pmod" in plan
    assert "LeftSemi" in plan
    assert "SortMergeJoin" not in plan
    # left (corpus) branch of the semi join: Scan -> Generate -> probe ->
    # Filter -> join, no Exchange. Asserted STRUCTURALLY on the simple
    # tree (not a whole-plan exchange count, which breaks spuriously
    # across Spark/AQE config changes): extract the LeftSemi join's left
    # subtree — the lines under the join whose branch column carries the
    # left-child `:` rail — and require it exchange-free while containing
    # the scan, the shingle Generate, and the Arrow bitset probe.
    tree = explain_str(q("q77b_decontaminate_bloom"), "simple")
    lines = tree.splitlines()
    ji = next(i for i, l in enumerate(lines) if "LeftSemi" in l)
    # Children print 3 columns right of the join's own `+- ` marker:
    # left-subtree lines carry a `:` rail there, the right child a `+`.
    rail = max(lines[ji].find("+- "), lines[ji].find(":- ")) + 3
    left_sub = []
    for line in lines[ji + 1:]:
        if len(line) > rail and line[rail] == ":":
            left_sub.append(line)
        else:
            break
    left = "\n".join(left_sub)
    assert "FileScan parquet" in left and "Generate" in left \
        and "ArrowEvalPython" in left, left
    assert "Exchange" not in left, (
        "unexpected shuffle on the pre-join corpus path:\n" + left
    )


def test_bm25_topk_avoids_global_sort_and_single_corpus_scan(q):
    """q157's plan contract: top-k via TakeOrderedAndProject (never a
    global sort), df/stats broadcast, and — after the tf checkpoint —
    the term-filtered aggregate feeds both tf and df from ONE corpus
    scan (lineage replay would otherwise rescan the corpus for df's
    pruned distinct subtree, which AQE cannot dedupe against tf's count
    exchange)."""
    df = q("q157_bm25_topk")
    df.collect()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in ex
    assert "CartesianProduct" not in ex
    assert "BroadcastHashJoin" in ex
    # r9 shape: tf AND dl come from the one materialized scan-projection
    # (size(filter(tokens)) per term, dl riding along), so the main plan
    # has NO corpus-side join at all — documents appears only in the
    # 1-row stats subtree. The old shape let Catalyst BROADCAST the
    # corpus-sized length table (BuildRight on the documents scan), the
    # exactly wrong build side at 100 TB; with no doc_id join left there
    # is nothing to mis-broadcast.
    assert ex.count("FileScan parquet") <= 2
    assert "hashpartitioning(doc_id" in ex  # only the final score agg


def test_bm25_batch_rank_pushdown_no_per_query_rescan(q):
    """q157b's plan contract (the batched generalization): per-query
    top-k goes through WindowGroupLimit (the k=10 cut runs below the
    rank, partial+final, with only LOCAL sorts — no global sort of the
    score table), the query-term fan-out and df/stats are broadcast
    joins, and the corpus scan count is a CONSTANT — adding queries to
    the batch must not add corpus rescans (24 queries share the same ≤4
    scans q157 uses for one)."""
    df = q("q157b_bm25_batch_topk")
    df.collect()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in ex
    assert "BroadcastHashJoin" in ex
    assert "CartesianProduct" not in ex and "SortMergeJoin" not in ex
    # same r9 single-pass tf+dl shape as q157: corpus only in the stats
    # subtree, constant in the batch size
    assert ex.count("FileScan parquet") <= 2
    # every Sort under the window rank is local (global=false): the only
    # ordering work is per-partition for row_number, never a full sort.
    # (Match on "Sort [" in the line — plan lines are prefixed with tree
    # rails like "+- *(9) ", so a startswith guard matches nothing and
    # asserts nothing, which is how the first version of this check was
    # vacuous.)
    sort_lines = [
        l for l in ex.splitlines()
        if "Sort [" in l and "SortAggregate" not in l
    ]
    assert sort_lines, ex  # the window rank needs at least one local sort
    for line in sort_lines:
        assert "], false, 0" in line, f"global sort leaked in: {line}"


def test_hybrid_rrf_batch_plan_shape(q):
    """q169b's plan contract: both retrieval sides and the fusion rank
    run through WindowGroupLimit-guarded row_number filters with only
    LOCAL sorts (never a global sort of scores), the semantic side is
    the broadcast-batch knn_join (no cartesian between the corpus-sized
    sides), and the corpus/vector scan count is constant in the batch
    size — the lexical side keeps q157b's <=2 corpus scans and the
    semantic side one vector scan + the 24-row broadcast query batch."""
    df = q("q169b_hybrid_rrf_batch")
    df.collect()
    ex = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in ex
    assert "CartesianProduct" not in ex
    # scans: documents (<=2, q157b's pin) + embeddings (vector side and
    # broadcast query side, each printed twice in the AQE plan text) —
    # the claim is the count is CONSTANT in batch size, not the exact
    # number; 24 queries share the same scans one query would use
    assert ex.count("FileScan parquet") <= 6, ex.count("FileScan parquet")
    sort_lines = [
        l for l in ex.splitlines()
        if "Sort [" in l and "SortAggregate" not in l
    ]
    assert sort_lines, ex
    for line in sort_lines:
        assert "], false, 0" in line, f"global sort leaked in: {line}"


def test_materialize_once_prefers_reliable_checkpoint(spark, tmp_path):
    """plans.materialize_once: with no checkpoint dir configured it
    falls back to localCheckpoint (executor-block storage — fine on
    local[]); once the app sets a reliable checkpoint dir (HDFS/S3 on a
    cluster) the SAME call writes a recoverable checkpoint there, so a
    lost executor replays from storage instead of failing the job. Both
    paths must cut lineage (scan subtree replaced by an RDD scan)."""
    from kstreamjs_spark.plans import materialize_once

    sc = spark.sparkContext
    df = spark.range(100).selectExpr("id", "id * 2 AS v")

    assert sc.getCheckpointDir() is None
    local = materialize_once(df)
    assert local.count() == 100
    assert "ExistingRDD" in local._jdf.queryExecution().executedPlan().toString()

    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = materialize_once(df)
        assert reliable.count() == 100
        assert "ExistingRDD" in (
            reliable._jdf.queryExecution().executedPlan().toString()
        )
        # the reliable path actually persisted blocks under the dir
        files = list((tmp_path / "ckpt").rglob("*"))
        assert any(f.is_file() for f in files), files
    finally:
        # conftest's session is shared across the module — restore the
        # no-checkpoint-dir default so later tests see the local path
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )


def test_semdedup_pairwise_is_cell_equi_join(q):
    """q170's plan contract: the SemDeDup
    pairwise search is ONE Arrow-batched grouped kernel on the k-means
    cell key (FlatMapGroupsInPandas over one hash exchange — pair work
    = sum of n_c^2 over cells, never N^2, scored as a numpy matmul
    inside the group) — NO join of any kind in the plan, and the cell
    assignment itself is a codegen'd projection (centroids are plan
    literals)."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q170_semdedup"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, plan  # rollup fused into the kernel
    assert "FlatMapGroupsInPandas" in plan, plan


def test_phash_neardup_bucket_join_is_equi_not_cross(q):
    """q158's plan contract: candidates come from the (cid, cval)
    chunk-pigeonhole EQUI-join — the plan must show the chunk keys in a
    hash-join condition and contain no cross/nested-loop join, so the
    image-dedup cost is shuffle-on-8-byte-keys, never all-pairs."""
    from kstreamjs_spark.plans import explain_str

    for name in ("q158_phash_image_neardup", "q158c_phash_cross_codec",
                 "q158d_phash_quad_codec", "q182_gif_anim_phash_dedup",
                 "q26c_simhash_neardup"):
        # q158d/q182 add the GIF legs; q26c runs the radius-6
        # 2-of-8-chunk COMBINATION keys — same contract: candidates from
        # the (cid, cval) equi-join, never a cross join
        plan = explain_str(q(name), "simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        join_lines = [
            l for l in plan.splitlines()
            if ("SortMergeJoin" in l or "HashJoin" in l) and "cid" in l
        ]
        assert join_lines, (name, plan)
        assert any("cval" in l for l in join_lines), (name, join_lines)


def test_member_semijoin_auto_picks_regime_from_size(spark):
    """The decontamination rule, encoded and pinned: ONE
    entry point (bloom.member_semijoin) plans the broadcast regime when
    Catalyst's size estimate of the member side fits the budget and the
    bloom-prefilter regime when it does not — chosen from sizes alone,
    both regimes returning the identical exact answer."""
    import pyspark.sql.functions as F

    from kstreamjs_spark.operators import bloom as bloom_ops
    from kstreamjs_spark.plans import explain_str

    cands = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("k"), (F.col("id") % 500).cast("string")).alias("g"),
    )
    members = spark.range(0, 100).select(
        F.concat(F.lit("k"), (F.col("id") * 3).cast("string")).alias("g")
    )
    expected = sorted(
        r["doc_id"]
        for r in cands.join(members, "g", "left_semi").collect()
    )

    # generous budget -> auto picks broadcast: hinted semi-join, no probe
    bc = bloom_ops.member_semijoin(cands, members, "g", regime="auto")
    bc_plan = explain_str(bc, "simple")
    assert "BroadcastHashJoin" in bc_plan and "LeftSemi" in bc_plan
    assert "ArrowEvalPython" not in bc_plan
    assert sorted(r["doc_id"] for r in bc.collect()) == expected

    # 1-byte budget -> the same member frame is "too big": auto must
    # plan the bloom shape (Arrow bitset probe BELOW the verify join)
    bl = bloom_ops.member_semijoin(
        cands, members, "g", regime="auto", broadcast_max_bytes=1
    )
    bl_plan = explain_str(bl, "simple")
    assert "ArrowEvalPython" in bl_plan and "LeftSemi" in bl_plan
    assert sorted(r["doc_id"] for r in bl.collect()) == expected


def test_knn_join_lsh_no_broadcast_of_batch_no_cross(q):
    """q159's plan contract: candidates come from the (b, bv) band
    equi-join — the query batch is never broadcast as a whole-vector
    cross join (knn_join's shape) and nothing plans a cartesian/nested
    loop. The broadcast hint is absent by construction; small sides may
    still broadcast-HASH-join on the band key, which is fine — the keys
    are 8-byte, not vectors."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q159_knn_join_lsh"), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    join_lines = [
        l for l in plan.splitlines()
        if ("SortMergeJoin" in l or "HashJoin" in l) and "bv" in l
    ]
    assert join_lines, plan
    assert "WindowGroupLimit" in plan


def test_scene_cuts_single_shuffle_window(q):
    """q161's plan contract: the keyframe pass is ONE doc_id window —
    exactly one hash exchange, a Window over the frame rows, no joins."""
    plan = (
        q("q161_scene_cuts")._jdf.queryExecution().executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window" in plan
    assert "Join" not in plan


def test_disjunctive_predicates_push_to_both_scans(q):
    """q162's plan contract (the TPC-H Q19 pitfall): Catalyst must
    extract the per-table components of the OR-of-conjuncts below the
    join — the lineitem scan carries the l_quantity union envelope and
    the part scan the brand/size disjunction as PushedFilters — with
    only the mixed-table residual left in the join condition. A plan
    that evaluates the whole OR above the join scans everything."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q162_disjunctive_revenue"))
    li = [l for l in plan.splitlines()
          if "PushedFilters" in l and "l_quantity" in l]
    pt = [l for l in plan.splitlines()
          if "PushedFilters" in l and "p_brand" in l]
    assert li, plan
    assert pt, plan
    assert "BroadcastHashJoin" in plan


def test_q172_gram_shuffles_partials_not_rows(q):
    """The Gram pass must exchange only per-partition dim x dim partials
    (one MapInPandas feeding one hashpartitioning exchange on (i, j)) —
    never N rows; and nothing about the plan may depend on corpus size."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q172_embedding_gram"), mode="simple")
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


def test_q172b_projection_is_literal_zero_shuffle(q):
    """q172b's returned frame (the per-vector projection) must be one
    codegen projection over the scan with the direction as a plan
    literal: no exchange other than the final orderBy's range partition,
    no join, no Python in the row path."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q172b_pca_power_iteration"), mode="simple")
    assert "Join" not in plan, plan
    assert "MapInPandas" not in plan, plan  # iteration ran on the driver
    assert plan.count("Exchange") == plan.count("Exchange rangepartitioning"), plan


def test_q173_zorder_is_codegen_single_exchange(q):
    """The z-value must be a pure codegen expression (no Python, no
    join) and the stats aggregate must exchange once on the bucket id
    with map-side partials — 1024-row state per partition at any N."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q173_zorder_layout"), mode="simple")
    assert "Join" not in plan and "InPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final


def test_q227_hilbert_is_codegen_single_exchange(q):
    """q227's packed-fold Hilbert index must stay a pure codegen
    expression (the F.aggregate lambda — no Python, no join) with the
    identical one-exchange stats shape as q173: a sequential 15-level
    state machine that still costs one projection."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q227_hilbert_layout"), mode="simple")
    assert "Join" not in plan and "InPandas" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") == 2, plan  # partial + final


def test_ivfpq_partitioned_codes_serve_with_pruning(spark, sf_smoke, tmp_path):
    """q194's deployment claim, end-to-end with the REAL operators: the
    (cell, id, codes) table persisted partitionBy(cell), a query served
    through pq_query_encoded over the partition-pruned read must (a)
    show PartitionFilters in the scan — file-level pruning, not a
    post-scan filter — and (b) return exactly what the in-memory
    ivfpq_topk composition returns for the same probe set."""
    import numpy as np
    import pyspark.sql.functions as F

    from kstreamjs_spark.operators import similarity
    from kstreamjs_spark.plans import explain_str
    from kstreamjs_spark.tables import load

    (emb,) = load(spark, sf_smoke, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        similarity.as_double(F.col("embedding")).alias("qv")
    )
    # offline: train both codebooks, persist the cell-partitioned codes
    cents = similarity._centroids_from_sample(
        emb, 16, "embedding", "vec_id"
    )
    lits = [F.array(*[F.lit(x) for x in c]) for c in cents]
    sims = F.array(*[
        similarity.cosine(
            similarity.as_double(F.col("embedding")), c
        ) for c in lits
    ])
    cell = F.array_position(sims, F.array_max(sims)).cast("int")
    books = similarity.pq_codebooks(emb, m=16, n_cent=16)
    path = str(tmp_path / "ivfpq_codes")
    similarity.pq_encode(emb, books, dim=64).select(
        "vec_id", "codes", cell.alias("cell")
    ).write.partitionBy("cell").mode("overwrite").parquet(path)

    # online: pick the probe cells exactly as ivfpq_topk does
    C = np.asarray(cents, dtype=np.float64)
    q0 = np.array(
        [float(x) for x in qv.collect()[0]["qv"]], dtype=np.float64
    )
    qu = q0 / np.linalg.norm(q0)
    cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    probe = [int(c) + 1 for c in np.argsort(-(cn @ qu), kind="stable")[:4]]
    pruned = spark.read.parquet(path).filter(F.col("cell").isin(probe))
    plan = explain_str(pruned)
    assert "PartitionFilters: [" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    served = similarity.pq_query_encoded(
        pruned.select("vec_id", "codes"), emb, books, qv, k=10, rerank=8
    ).collect()
    inmem = similarity.ivfpq_topk(emb, qv, k=10).collect()
    assert [(r["vec_id"], r["score"]) for r in served] == [
        (r["vec_id"], r["score"]) for r in inmem
    ]


def test_ccnet_bands_no_corpus_global_sort(q):
    """q197: no NTILE single-task corpus sort.
    Banding is histogram offsets + a score-partitioned tie window, so
    the only global sort left is the 3-row output ORDER BY band; the
    row_number tie-break sorts locally within hashpartitioning(score)."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q197_ccnet_bands"), mode="simple")
    assert "ntile" not in plan.lower()
    assert "row_number()" in plan
    # every GLOBAL sort (third arg `true`) may touch only the 3-row
    # band rollup — never a corpus-sized frame
    for m in re.finditer(r"Sort \[([^\]]*)\], true, 0", plan):
        assert "band#" in m.group(1), m.group(0)
    # the tie window is partitioned by the score, not unpartitioned
    win_line = next(
        line for line in plan.splitlines() if "row_number()" in line
    )
    assert "avg_logprob_kn" in win_line.split("windowspecdefinition")[1]


def test_round12_tpch_shapes_no_cartesian_and_broadcast_dims(q):
    """q199/q200/q201: star joins must stay equi (no cartesian, no
    nested-loop) with at least one broadcast dim in each plan."""
    from kstreamjs_spark.plans import explain_str

    for name in (
        "q199_local_supplier_volume",
        "q200_nation_market_share",
        "q201_product_profit",
    ):
        plan = explain_str(q(name), mode="simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name


def test_round12_rule_queries_no_cartesian(q):
    """q202/q203: the rule funnels are scan projections + equi joins;
    the only allowed nested-loop is none (no 1-row scalar cross here)."""
    from kstreamjs_spark.plans import explain_str

    for name in ("q202_filter_ensemble", "q203_gopher_repetition"):
        plan = explain_str(q(name), mode="simple")
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_round13_q209_q210_semi_anti_shapes(q):
    """q209/q210 (TPC-H Q16/Q20 shapes): the NOT IN / nested EXISTS-IN
    chains must compile to broadcast anti/semi joins over
    pre-aggregates — never a correlated loop, cartesian, or
    nested-loop join."""
    from kstreamjs_spark.plans import explain_str

    p209 = explain_str(q("q209_parts_supplier_relationship"),
                       mode="simple")
    assert "CartesianProduct" not in p209
    assert "BroadcastNestedLoopJoin" not in p209
    # complaints NOT IN -> broadcast ANTI join on the supplier key
    assert re.search(r"BroadcastHashJoin \[l_suppkey.*LeftAnti", p209), p209

    p210 = explain_str(q("q210_potential_part_promotion"),
                       mode="simple")
    assert "CartesianProduct" not in p210
    assert "BroadcastNestedLoopJoin" not in p210
    # parts IN-list and supplier IN -> two LeftSemi joins
    assert len(re.findall(r"LeftSemi", p210)) >= 2, p210
    # one lineitem pass: the half-sum pair aggregate appears as a single
    # hash aggregate keyed by the (partkey, suppkey) pair
    assert len(re.findall(r"Scan parquet.*lineitem", p210)) == 1, p210


def test_round14_q216_wordpiece_pure_codegen(q):
    """q216's application half must stay a pure Catalyst expression:
    no Python evaluation nodes anywhere in the plan (the no-UDF claim
    that distinguishes this tokenizer family), and the vocabulary
    rides as an expression literal, never a join. The word-count
    aggregate is
    checkpointed once and SHARED with the vocab trainer, so the final
    plan applies the greedy fold over a `Scan ExistingRDD` and the
    only exchange left is the output sort's — the aggregate's own
    exchange happens once upstream of the checkpoint, not here."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q216_wordpiece_tokenize"), mode="simple")
    assert "InPandas" not in plan and "EvalPython" not in plan, plan
    assert "Join" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Exchange") == 1 and "rangepartitioning" in plan, plan


def test_round14_minhash_banding_single_fold(spark, sf_smoke):
    """The banded
    projection must evaluate the minhash fold ONCE per document.
    Nesting the signature inside minhash_bands inlines the O(shingles
    x perms) aggregate into every element_at reference — the executed
    plan then contains the shingle hash (xxhash64) once PER REFERENCE
    (64+) instead of once. Counting hash occurrences in the plan pins
    the single-evaluation shape against refactors."""
    from kstreamjs_spark.queries.streaming_q import (
        minhash_banded_projection,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    plan = (
        minhash_banded_projection(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert 1 <= plan.count("xxhash64") <= 4, plan.count("xxhash64")


def test_round14_q217_bucketed_join_no_join_exchange(q):
    """q217's whole point: both sides bucketed by the join key at
    write time -> the SortMergeJoin consumes the bucketed scans
    DIRECTLY, zero exchanges feeding the join. The only hash exchange
    in the plan belongs to the post-join segment aggregate."""
    plan = (
        q("q217_bucketed_colocated_join")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_chunk_dedup_rebuild_text_stays_scan_side(q):
    """q221: the dedup rank shuffle carries (doc_id, st, cfp) only —
    the token array must never enter a hashpartitioning exchange key,
    and no cartesian/broadcast-nested-loop anywhere; reconstruction is
    one equi-join back to the scan."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q221_chunk_dedup_rebuild"), mode="simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not re.search(r"Exchange hashpartitioning\([^)]*\bts\b", plan)


def test_domain_mixture_single_corpus_pass(q):
    """q222: ONE scan of documents (the TTR aggregate) — the 10-round
    MW loop runs on the O(D) domain frame and must not rescan the
    corpus per round."""
    from kstreamjs_spark.plans import explain_str

    plan = explain_str(q("q222_domain_mixture_mw"), mode="simple")
    assert plan.count("documents.parquet") <= 1 or (
        plan.lower().count("filescan") <= 1
    ), plan


def test_npart_memo_is_bounded(spark, monkeypatch):
    """widen_partitions' partition-count memo keeps at most
    _NPART_MEMO_MAX plans, evicting the oldest first."""
    from kstreamjs_spark import plans

    monkeypatch.setattr(plans, "_NPART_MEMO_MAX", 4)
    monkeypatch.setattr(plans, "_NPART_MEMO", {})
    frames = [spark.range(10 + i) for i in range(6)]
    for df in frames:
        plans.widen_partitions(df)
    assert len(plans._NPART_MEMO) <= 4
    app = spark.sparkContext.applicationId
    newest = [(app, df.semanticHash()) for df in frames[-4:]]
    assert list(plans._NPART_MEMO) == newest
