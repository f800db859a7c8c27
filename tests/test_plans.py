"""Plan-shape assertions: the scale properties the engine claims must be
visible in the physical plan (SURVEY.md §4.3; project brief 'push down and
prune / stay JVM-side / minimize shuffles')."""

from __future__ import annotations

import pytest

from pulsar_topic_deduplicator_spark.operators import dedup, relational, textops
from pulsar_topic_deduplicator_spark.plans import (
    count_exchanges,
    formatted_plan,
    has_broadcast_join,
    pushed_filters,
    read_schema_columns,
)
from pulsar_topic_deduplicator_spark.sources.io import load_table, spread_narrow_scan


def test_q1_filter_pushed_to_scan(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters


def test_q1_column_pruning(spark, sf_dir):
    df = relational.q1_pricing_summary(spark, sf_dir)
    (cols,) = read_schema_columns(df)
    # 11-column table, 7 needed
    assert set(cols) == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }, cols


def test_q5_dimensions_broadcast(spark, sf_dir):
    df = relational.q5_local_supplier_volume(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    # only the orders⋈lineitem join may shuffle: 2 exchanges for the join
    # sides + 1 for the final groupBy
    assert count_exchanges(df) <= 3, formatted_plan(df)[:2000]


def test_q3_customer_broadcast(spark, sf_dir):
    assert has_broadcast_join(relational.q3_shipping_priority(spark, sf_dir))


def test_q8_dimensions_broadcast_one_fact_shuffle(spark, sf_dir):
    """q8's five dimension sides must broadcast; only orders⋈lineitem plus
    the final 1-key groupBy may exchange."""
    df = relational.q8_market_share(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 4, plan[:2000]
    assert count_exchanges(df) <= 3, plan[:2000]


def test_q9_dimensions_broadcast(spark, sf_dir):
    df = relational.q9_product_profit(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]
    assert count_exchanges(df) <= 3, plan[:2000]


def test_q11_total_is_broadcast_scalar(spark, sf_dir):
    """The grand total must reach the per-part rows as a broadcast (nested
    loop over 1 row), never a shuffled join."""
    df = relational.q11_important_value(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, (
        plan[:2000]
    )


def test_q12_fact_join_with_pushed_date_filter(spark, sf_dir):
    """q12's ship-date range must reach the lineitem scan; the only
    exchanges are the orders⋈lineitem join sides + the 1-key groupBy."""
    df = relational.q12_late_shipment_priority(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert count_exchanges(df) <= 3, formatted_plan(df)[:2000]


def test_q16_dims_broadcast(spark, sf_dir):
    """q16's part/supplier filters must broadcast; the fact shuffles for
    the distinct-count aggregate only."""
    df = relational.q16_supplier_part_counts(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q2_argmin_no_window_over_fact(spark, sf_dir):
    """q2's min-cost supplier must be a struct-argmin aggregation with
    broadcast dims — no window function anywhere in the plan."""
    df = relational.q2_min_cost_supplier(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan[:2000]
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q15_single_fact_scan(spark, sf_dir):
    """q15's max-over-revenue must come from a window over the per-supplier
    aggregate, NOT a second scan of lineitem (Spark shares no uncached
    subplans, so a scalar-subquery rendering doubles the fact I/O); the
    supplier dim must broadcast."""
    df = relational.q15_top_supplier(spark, sf_dir)
    scans = read_schema_columns(df)
    assert len(scans) == 2, scans  # lineitem once + supplier once
    assert "BroadcastHashJoin" in formatted_plan(df)


def test_q20_aggregate_broadcasts_back(spark, sf_dir):
    """q20's part filter and per-supplier volume aggregate must both reach
    the supplier dim as broadcasts — no shuffle of the dim side."""
    df = relational.q20_heavy_shippers(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]


def test_q21_self_joins_share_orderkey_partitioning(spark, sf_dir):
    """q21's semi + anti self-joins both key on l_orderkey; supplier is
    broadcast. Exchanges stay bounded (late-set build + self-join sides +
    final 1-key agg), with no cartesian anywhere."""
    df = relational.q21_sole_late_supplier(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert has_broadcast_join(df), plan[:2000]
    assert count_exchanges(df) <= 6, plan[:2000]


def test_dedup_single_shuffle_with_partial_agg(spark, sf_dir):
    df = dedup.dedup_exact_keep_first(spark, sf_dir)
    plan = formatted_plan(df)
    # aggregation (not a ranked window): exactly one exchange, with a
    # partial aggregate BEFORE it so duplicates collapse map-side —
    # a window function would shuffle every row
    assert count_exchanges(df) == 1, plan[:2000]
    assert "partial_min_by" in plan, plan[:2000]
    assert "Window" not in plan, "dedup should not need a ranked window"


def test_dedup_stays_jvm_side(spark, sf_dir):
    plan = formatted_plan(dedup.hash_payload(spark, sf_dir))
    # codegen stages are marked "[codegen id : N]" in formatted mode; the
    # hashing expressions are JVM-side (higher-order funcs are interpreted
    # CodegenFallback but never cross into Python)
    assert "codegen id" in plan, plan[:1200]
    assert "BatchEvalPython" not in plan, "no row-at-a-time Python in hot path"
    assert "ArrowEvalPython" not in plan, "no pandas UDF needed for hashing"


def test_text_ops_prune_to_needed_columns(spark, sf_dir):
    df = textops.token_count(spark, sf_dir)
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text"}, cols


def test_warmup_filter_pushdown(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import lineage

    df = lineage.warmup_digest_extract(spark, sf_dir)
    filters = pushed_filters(df)
    assert any("ts" in f for f in filters), filters


def test_orders_topk_no_global_sort(spark, sf_dir):
    df = relational.orders_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_q6_single_exchange_with_pushdown(spark, sf_dir):
    df = relational.q6_forecast_revenue(spark, sf_dir)
    # whole query = scan + partial agg + 1 exchange + final agg
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]
    filters = pushed_filters(df)
    assert any("l_shipdate" in f for f in filters), filters
    assert any("l_quantity" in f for f in filters), filters


def test_q10_broadcast_dim_single_shuffle(spark, sf_dir):
    df = relational.q10_returned_items(spark, sf_dir)
    assert has_broadcast_join(df)
    filters = pushed_filters(df)
    assert any("l_returnflag" in f for f in filters), filters
    assert any("o_orderdate" in f for f in filters), filters


def test_cheapest_supplier_argmin_not_window(spark, sf_dir):
    # struct-min aggregation: one exchange with map-side partial min; the
    # row_number() formulation would shuffle the full fact table unreduced
    df = relational.cheapest_supplier_per_part(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1, plan[:2000]
    assert "partial_min" in plan, plan[:2000]
    assert "Window" not in plan


def test_top_terms_takeordered(spark, sf_dir):
    plan = formatted_plan(textops.top_terms(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan[:1500]


def test_unpivot_zero_shuffle(spark, sf_dir):
    assert count_exchanges(relational.unpivot_part_measures(spark, sf_dir)) == 0


def test_sampling_ops_zero_shuffle(spark, sf_dir):
    """Hash-based selection is a pure scan→filter plan: no exchange, and
    the untouched columns are pruned from the read."""
    from pulsar_topic_deduplicator_spark.operators import sampling

    for df in (
        sampling.hash_sample_events(spark, sf_dir),
        sampling.train_val_test_split(spark, sf_dir),
        sampling.source_mixture_sample(spark, sf_dir),
    ):
        assert count_exchanges(df) == 0, formatted_plan(df)[:1500]
    (cols,) = read_schema_columns(sampling.train_val_test_split(spark, sf_dir))
    assert set(cols) == {"doc_id", "text"}, cols


def test_winnow_zero_shuffle(spark, sf_dir):
    """Winnowing is per-document work: fingerprints come straight out of
    the kernel stage. Since round 15 a NARROW scan (fewer input splits
    than cores — always true on the single-file fixtures) is spread to
    session parallelism first, so the plan carries at most ONE exchange
    and it must sit BELOW the MapInPandas (a pre-kernel spread of
    (doc_id, text), never a shuffle of kernel output)."""
    df = textops.winnow_fingerprints(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 1, plan[:2000]
    if count_exchanges(df) == 1:
        # the exchange feeds the kernel, not the other way around
        assert plan.index("Exchange") > plan.index("MapInPandas"), plan[:2000]


def test_spread_narrow_scan_rejects_shuffled_frame(spark, sf_dir):
    """The partition probe would run a shuffled frame's upstream stages
    eagerly, so only scan-shaped frames are accepted."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    spread = spread_narrow_scan(docs, "doc_id")
    assert spread.columns == ["doc_id", "text"]
    with pytest.raises(ValueError, match="exchange"):
        spread_narrow_scan(docs.groupBy("doc_id").count(), "doc_id")


def test_sessionize_single_shuffle(spark, sf_dir):
    # lag + running session-id sum + per-session rollup all share the
    # user_id partitioning: exactly one exchange end-to-end
    df = relational.sessionize_events(spark, sf_dir)
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_window_analytics_one_shuffle_for_both_windows(spark, sf_dir):
    # both window specs share the partition key, so Catalyst reuses a
    # single hash-partitioning exchange for the two sort orders
    df = relational.window_analytics_demo(spark, sf_dir)
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_range_frame_single_shuffle(spark, sf_dir):
    # the RANGE frame orders by epoch-micros inside the user_id partition:
    # one exchange serves the whole window computation
    df = relational.range_frame_event_counts(spark, sf_dir)
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_bloom_prefilter_broadcast_verify_no_probe_shuffle(spark, sf_dir):
    # probe path is scan → project(hash lanes) → mapInPandas → broadcast
    # verify-join → global agg: the exchanges are the warm-dim distinct
    # (shown inside the PERSISTED warm relation's build plan — the cache
    # means it executes once for all three warm consumers), the single-row
    # final aggregate, and the partial/final agg pair — the probed stream
    # itself never shuffles on a key
    from pulsar_topic_deduplicator_spark.operators import dedup as dedup_ops

    df = dedup_ops.bloom_digest_prefilter(spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan[:1500]
    assert count_exchanges(df) <= 3, plan[:2000]
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan, plan[:1500]


def test_gopher_flags_zero_shuffle(spark, sf_dir):
    """The named quality gates are one codegen'd projection over the scan —
    no exchange, and only doc_id+text are read."""
    df = textops.gopher_quality_flags(spark, sf_dir)
    assert count_exchanges(df) == 0, formatted_plan(df)[:1500]
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text"}, cols


def test_prefix_dedup_single_shuffle_partial_agg(spark, sf_dir):
    """Prefix dedup is the dedup_exact_keep_first plan on the prefix hash:
    ONE exchange with a map-side partial min before it."""
    df = textops.dedup_docs_by_prefix(spark, sf_dir)
    assert count_exchanges(df) == 1, formatted_plan(df)[:1500]
    assert "partial_min" in formatted_plan(df), formatted_plan(df)[:2000]


def test_repetition_stats_aggregations_have_partial_combine(spark, sf_dir):
    """The repetition signals must be explode→partial-agg shapes (map-side
    combine collapses the exploded grams before any shuffle), not per-doc
    quadratic HOF scans."""
    plan = formatted_plan(textops.doc_repetition_stats(spark, sf_dir))
    assert "partial_count" in plan, plan[:2000]


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """AQE's runtime skew handling, demonstrated: a join keyed 90% onto one
    hot key makes one shuffle partition dwarf the rest; with the skew-join
    thresholds scaled to test size (prod defaults: 256 MB / advisory 64 MB),
    OptimizeSkewedJoin must split the hot partition into parallel subtasks —
    visible as skew=true on the executed SortMergeJoin. This is the runtime
    re-plan leg of the skew story (event_type_stats_salted is the static
    salting leg)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        n = 40_000
        hot = spark.range(n).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(n).select(
            F.col("id").alias("k"),
            F.sha2((F.col("id") + 1).cast("string"), 256).alias("attr"),
        )
        joined = hot.join(dim, "k")
        # collect() on THIS DataFrame so its own queryExecution is the one
        # AQE finalizes (count() would execute a separate plan instance)
        assert len(joined.collect()) == n
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan[:500]
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pii_scan_zero_shuffle_pruned(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.pii_scan(spark, sf_dir)
    assert count_exchanges(df) == 0, formatted_plan(df)[:2000]
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text", "source"}, cols


def test_pack_sequences_single_bucket_shuffle(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.pack_sequences(spark, sf_dir)
    assert count_exchanges(df) == 1, formatted_plan(df)[:2000]


def test_decontaminate_broadcasts_benchmark_grams(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.decontaminate_overlap(spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan[:2000]
    # corpus side: scan -> explode -> broadcast probe -> partial agg; the
    # only corpus-sized exchange is the doc_id count shuffle (+ the small
    # bench-side distinct + its broadcast)
    assert count_exchanges(df) <= 3, plan[:2000]


def test_token_budget_mixture_broadcasts_rates(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.token_budget_mixture(spark, sf_dir)
    plan = formatted_plan(df)
    # both the fold scalar and the per-source rates join back via broadcast
    assert plan.count("BroadcastNestedLoopJoin") + plan.count(
        "BroadcastHashJoin"
    ) >= 2, plan[:2000]


def test_cap_docs_per_source_two_bounded_window_exchanges(spark, sf_dir):
    """The salted top-K must shuffle exactly twice — once on (source, salt)
    for the bounded stage-1 windows, once on source for the ≤ salts×cap
    survivors — and read only the columns it projects."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.cap_docs_per_source(spark, sf_dir)
    assert count_exchanges(df) == 2, formatted_plan(df)[:2000]
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"doc_id", "source", "text"}, cols


def test_curriculum_order_broadcasts_offsets_no_global_sort(spark, sf_dir):
    """Global positions without a global sort: the offset table joins back
    via broadcast, and no range-partitioning exchange appears (the
    single-partition window is over the tiers×buckets aggregate only)."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.curriculum_order(spark, sf_dir)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan[:2000]
    assert "rangepartitioning" not in plan.lower(), plan[:2000]


def test_cms_sketch_partial_agg_and_broadcast_readback(spark, sf_dir):
    """Sketch build must map-side combine ahead of its single KB-sized
    exchange; the readback must join user slots against a BROADCAST
    sketch (never shuffling the corpus onto 4x256 rows)."""
    from pulsar_topic_deduplicator_spark.operators import dedup

    sk = dedup.cms_sketch(spark, sf_dir)
    plan = formatted_plan(sk)
    assert plan.count("HashAggregate") >= 2, plan[:2000]  # partial + final
    assert count_exchanges(sk) == 1, plan[:2000]
    assert has_broadcast_join(dedup.cms_user_counts(spark, sf_dir))


def test_rollup_hierarchy_exchanges(spark, sf_dir):
    """Level 1 is one map-side-combined shuffle; level 2 adds at most one
    more exchange over the bucket-cardinality-sized intermediate."""
    from pulsar_topic_deduplicator_spark.operators import relational

    m = relational.minutely_rollup(spark, sf_dir)
    assert count_exchanges(m) == 1, formatted_plan(m)[:2000]
    h = relational.hourly_rollup_from_minutely(spark, sf_dir)
    assert count_exchanges(h) <= 2, formatted_plan(h)[:2000]


def test_semantic_dedup_no_cartesian(spark, sf_dir):
    """The within-cell pair test must ride the cell equi-join — never a
    cartesian/NLJ over the corpus."""
    from pulsar_topic_deduplicator_spark.operators import similarity

    df = similarity.semantic_dedup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_watermark_ttl_kernel_plan_is_jvm_only(spark, sf_dir):
    """The third TTL kernel's whole point: state handled by the JVM
    dedup-within-watermark operator, zero Python/Arrow stages anywhere in
    the streaming plan."""
    from pulsar_topic_deduplicator_spark.streaming.dedup import (
        dedup_stream_ingest_ttl,
    )
    from pulsar_topic_deduplicator_spark.streaming.source import (
        events_message_stream,
    )

    msgs = events_message_stream(spark, sf_dir, glob_filter="events.parquet")
    df = dedup_stream_ingest_ttl(msgs)
    # analyzed, not optimized: a streaming plan only optimizes inside a
    # started query, but the operator/stage inventory is fixed at analysis
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "DeduplicateWithinWatermark" in plan, plan[:2000]
    for python_stage in ("PythonUDF", "MapInPandas", "FlatMapGroupsInPandas",
                         "ArrowEvalPython", "mapInPandas"):
        assert python_stage not in plan, plan[:2000]


def test_lm_bigram_nll_plan_shape(spark, sf_dir):
    """LM scoring must ride equi-joins on gram/w1 with map-side partial
    aggregation — no cartesian, no NLJ, no Python stages."""
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.lm_bigram_nll(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("HashAggregate") >= 2, plan[:2000]  # partial + final


def test_cluster_representatives_no_nlj(spark, sf_dir):
    """The quality join keys on doc_id and the keep decision is one
    cluster-partitioned window — no cartesian/NLJ anywhere."""
    from pulsar_topic_deduplicator_spark.operators import neardup

    df = neardup.cluster_representatives(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_dedup_paragraphs_plan_shape(spark, sf_dir):
    """Span dedup = exactly two exchanges (paragraph-hash window + doc
    reassembly agg), NULL filter pushed to the scan, two-column read, no
    join, no Python stages."""
    from pulsar_topic_deduplicator_spark.plans import count_exchanges

    df = textops.dedup_paragraphs(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 2, plan[:2000]
    assert any("IsNotNull(text)" in f for f in pushed_filters(df)), pushed_filters(df)
    (cols,) = read_schema_columns(df)
    assert set(cols) == {"doc_id", "text"}, cols
    for bad in ("Join", "CartesianProduct", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, plan[:2000]


def test_near_dup_paragraphs_no_nlj_no_python(spark, sf_dir):
    """The fuzzy span tier rides equi-joins only (band-key candidates +
    hash-key verify) with the candidate/size sides broadcast — no
    cartesian, no NLJ, no Python stages."""
    from pulsar_topic_deduplicator_spark.operators import neardup

    df = neardup.near_dup_paragraphs(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    # the span shingle kernel (MapInPandas) is the one sanctioned Python
    # stage since round 14; scalar/row UDF nodes stay forbidden, and the
    # NODE-count pin catches any unintended EXTRA Python stage (ADVICE
    # r14; formatted explain repeats a node's name in its detail and
    # argument lines, so count `(n) MapInPandas` headers, not substrings)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan[:2000]
    assert "BroadcastHashJoin" in plan, plan[:2000]


def test_dedup_docs_incremental_no_nlj_no_python(spark, sf_dir):
    """Incremental classification rides equi-joins only (fingerprint
    semi-join, band-key candidates, hash-key verify) — no cartesian, no
    NLJ, no per-expression Python. The round-14 shingle-hash Arrow kernel
    (_shingle_hashes, a deliberate per-document MapInPandas — see its
    docstring) is the ONE sanctioned Python stage; scalar/row UDF nodes
    stay forbidden."""
    from pulsar_topic_deduplicator_spark.operators import neardup

    df = neardup.dedup_docs_incremental(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # only the sanctioned shingle kernel, no unintended extras (ADVICE
    # r14; node headers counted, not substrings — see
    # test_near_dup_paragraphs_no_nlj_no_python). The kernel feeds BOTH
    # join sides (corpus + incoming batch); whether the planner reuses
    # the subtree or instantiates it per side varies with session state,
    # so 1 or 2 nodes are both the sanctioned shape — 3+ is a regression.
    import re

    assert 1 <= len(re.findall(r"\(\d+\) MapInPandas", plan)) <= 2, plan[:2000]


def test_duplicate_substring_spans_zero_joins_jvm_only(spark, sf_dir):
    """The detection tier is explode + two window families — no joins at
    all, nothing in Python."""
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.duplicate_substring_spans(spark, sf_dir)
    plan = formatted_plan(df)
    for bad in ("Join", "CartesianProduct", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, plan[:2000]


def test_dedup_substrings_global_equi_joins_only(spark, sf_dir):
    """The removal tier rides one position-keyed equi-join; no cartesian,
    no NLJ, no Python stages."""
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.dedup_substrings_global(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_dsir_select_broadcast_model_and_topk(spark, sf_dir):
    """The trained importance model (≤ DSIR_BUCKETS rows) broadcasts onto
    the token stream, and the final cut is a TakeOrdered, never a global
    sort."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.dsir_select(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_decontaminate_fuzzy_equi_joins_only(spark, sf_dir):
    """The band join carries NO broadcast hint (the in-corpus bench split
    is corpus-proportional — strategy is AQE's call); what IS pinned:
    every join is an equi-join (band keys / pair keys / doc ids), the
    verified-hit aggregate broadcasts back onto corpus ids, and nothing
    runs in Python."""
    from pulsar_topic_deduplicator_spark.operators import neardup

    df = neardup.decontaminate_fuzzy(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]  # per_doc/cands side
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    # the shingle-hash Arrow kernel (MapInPandas) is the one sanctioned
    # Python stage since round 14; scalar/row UDF nodes stay forbidden
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_bpe_pair_counts_topk_no_global_sort(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.bpe_pair_counts(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_doc_novelty_zero_joins_jvm_only(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.doc_novelty_scores(spark, sf_dir)
    plan = formatted_plan(df)
    for bad in ("Join", "CartesianProduct", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, plan[:2000]


def test_dsir_resample_same_shape_as_select(spark, sf_dir):
    """The resampling variant must add only a projection + TakeOrdered on
    top of the shared scored frame — broadcast model, no Python."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.dsir_resample(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "TakeOrderedAndProject" in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_sax_single_corpus_shuffle_no_python(spark, sf_dir):
    """The series never materializes raw: one (user, segment) cent-sum
    shuffle; span/range scalars broadcast; no Python, no cartesian blowup
    beyond the scalar broadcasts."""
    from pulsar_topic_deduplicator_spark.operators import analytics

    df = analytics.sax_fingerprints(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "CartesianProduct" not in plan, plan[:2000]


def test_dedup_docs_by_url_single_shuffle_partial_agg(spark, sf_dir):
    """URL keep-first is the dedup_exact_keep_first shape on the derived
    url key: exactly one exchange with a map-side partial struct-min, no
    ranked window, no join, no Python."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.dedup_docs_by_url(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 1, plan[:2000]
    assert "partial_min" in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert bad not in plan, plan[:2000]


def test_domain_attrition_report_equi_joins_only(spark, sf_dir):
    """The per-domain funnel joins survivor-id sets back onto the corpus:
    every join must be an equi-join (doc_id keys) — no cartesian, no NLJ,
    no Python anywhere."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.domain_attrition_report(spark, sf_dir)
    plan = formatted_plan(df)
    for bad in (
        "CartesianProduct",
        "BroadcastNestedLoopJoin",
        "BatchEvalPython",
        "ArrowEvalPython",
        "MapInPandas",
    ):
        assert bad not in plan, plan[:2000]


def test_bpe_encode_broadcast_vocab_no_python(spark, sf_dir):
    """Encode joins per-word token counts back to the corpus explode via a
    BROADCAST of the vocab-sized frame — never a corpus-keyed shuffle join —
    and stays JVM-side end to end."""
    from pulsar_topic_deduplicator_spark.operators import textops

    df = textops.bpe_encode_token_counts(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    for bad in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                "SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, plan[:2000]


# ── round-10 additions ──────────────────────────────────────────────────────


def test_supplier_affinity_sketch_sizes_broadcast(spark, sf_dir):
    """The per-supplier bucket-count frame must BROADCAST onto the
    collision pairs (it is T rows), and nothing may cartesian: the only
    corpus-sized shuffles are the audience distinct and the sketch agg."""
    from pulsar_topic_deduplicator_spark.operators import recommend

    df = recommend.supplier_affinity(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "CartesianProduct" not in plan


def test_contrastive_mining_is_one_arrow_stage(spark, sf_dir):
    """The mining kernel is a broadcast catalog + one mapInPandas — no
    pair-frame join, no window sort, no shuffle at all in the plan."""
    from pulsar_topic_deduplicator_spark.operators import similarity

    df = similarity.contrastive_pair_mining(spark, sf_dir)
    plan = formatted_plan(df)
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan, plan[:2000]
    assert count_exchanges(df) == 0, plan[:2000]
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_contrastive_tiled_fallback_plan_shape(spark, sf_dir):
    """The over-ceiling fallback must stay distributed and join-free:
    tile scoring is a cogroup (FlatMapCoGroupsInPandas), the cross-tile
    merge is ONE hash aggregate — no cartesian, no sort-merge join, no
    join back to the input frame (Catalyst's self-join dedup would
    column-prune the cogroup's right side — round-12 finding)."""
    from pulsar_topic_deduplicator_spark.operators import similarity

    df = similarity.contrastive_pair_mining(
        spark, sf_dir, max_broadcast_bytes=1
    )
    plan = formatted_plan(df)
    assert "FlatMapCoGroupsInPandas" in plan, plan[:2000]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    # struct-typed max lowers to Sort/ObjectHashAggregate, not HashAggregate
    assert "Aggregate" in plan, plan[:2000]
    assert "Join" not in plan, plan[:2000]


def test_shard_plan_serial_window_is_bucket_sized(spark, sf_dir):
    """The two-stage prefix sum may contain EXACTLY ONE single-partition
    exchange — the bucket-offset window over the n_docs/width frame —
    and the doc-sized running sum must be hash-partitioned by bucket."""
    from pulsar_topic_deduplicator_spark.operators import curation

    df = curation.shard_plan_tokens(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("SinglePartition") == 1, plan[:2000]
    assert "hashpartitioning(bucket" in plan, plan[:2000]


def test_hybrid_rrf_both_retrievers_take_ordered(spark, sf_dir):
    """Both retriever legs must end in TakeOrderedAndProject (top-K cut,
    never a global corpus sort)."""
    from pulsar_topic_deduplicator_spark.operators import retrieval

    df = retrieval.hybrid_search_rrf(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("TakeOrderedAndProject") >= 2, plan[:2000]


# ── round-11 additions ──────────────────────────────────────────────────────


def test_phash_near_dup_is_banded_equi_join(spark, sf_dir):
    """The image near-dup join must be an EQUI-join on the band key (no
    cartesian, no theta join) with exactly one Arrow decode stage feeding
    both sides through the scoped persist."""
    from pulsar_topic_deduplicator_spark.operators import multimodal

    df = multimodal.phash_image_near_dup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    # band equi-key visible in a hash-partitioned exchange or join key
    assert "band_val" in plan, plan[:2000]


def test_audio_near_dup_is_banded_equi_join(spark, sf_dir):
    from pulsar_topic_deduplicator_spark.operators import multimodal

    df = multimodal.audio_fingerprint_near_dup(spark, sf_dir)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "band_val" in plan, plan[:2000]


def test_fingerprint_stages_are_exchange_free(spark, sf_dir):
    """image_phash / audio_fingerprint are scan → encode → decode+hash in
    one Arrow pipeline: zero exchanges at any corpus size."""
    from pulsar_topic_deduplicator_spark.operators import multimodal

    for fn in (multimodal.image_phash, multimodal.audio_fingerprint):
        df = fn(spark, sf_dir)
        assert count_exchanges(df) == 0, formatted_plan(df)[:2000]
        assert "MapInPandas" in formatted_plan(df)


def test_content_id_broadcasts_the_catalog_no_frame_shuffle(spark, sf_dir):
    """The content-ID band join must BROADCAST the (banded) image catalog —
    the frame stream is matched map-side, never shuffled on band keys —
    and nothing may cartesian."""
    from pulsar_topic_deduplicator_spark.operators import multimodal

    df = multimodal.video_content_id(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "SortMergeJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_keyframes_is_one_window_sort_no_join(spark, sf_dir):
    """Cut flag + scene counter ride one window partitioning: a single
    hash exchange on asset_id, no join anywhere."""
    from pulsar_topic_deduplicator_spark.operators import multimodal

    df = multimodal.video_keyframes(spark, sf_dir)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan[:2000]
    assert count_exchanges(df) == 1, plan[:2000]
