"""Physical-plan shape assertions: the properties that decide
whether each query survives a 100 TB scale-up, checked against
Catalyst's actual plans (not guessed).

These are regression guards: if a refactor turns the dimension
joins into sort-merge joins, un-prunes a scan, or adds a shuffle,
these tests fail before the benchmark does.
"""

from __future__ import annotations

from cs537_spring2021_p3a_mapreduce_spark import plans as P
from cs537_spring2021_p3a_mapreduce_spark.operators import (
    llm,
    mapreduce_core as mc,
    relational as rel,
)

SF_SMOKE = "/root/testdata/sf0.001"


def test_wordcount_prunes_to_text_and_single_shuffle(spark):
    df = mc.wordcount(spark, SF_SMOKE)
    # column pruning reaches the footer: only `text` is read
    assert P.read_schemas(df) == ["struct<text:string>"]
    # one hash-aggregate shuffle, nothing else
    assert P.shuffle_count(df) == 1
    # map-side partial aggregation: HashAggregate pair around the
    # exchange (partial_count below, final count above)
    assert P.count_nodes(P.plan(df, "simple"), "HashAggregate") >= 2
    assert len(P.codegen_ids(df)) > 0


def test_multiway_region_join_broadcasts_dims(spark):
    df = rel.join_multiway_region(spark, SF_SMOKE)
    # nation (25 rows) and region (5 rows) must broadcast at ANY sf
    assert P.uses_broadcast_join(df)
    assert not P.uses_sort_merge_join(df)
    # join keys push IsNotNull to every parquet scan
    assert all("IsNotNull" in f for f in P.pushed_filters(df))


def test_topk_avoids_global_sort(spark):
    # top-k must plan as TakeOrderedAndProject (per-partition heap +
    # driver merge of k rows), never a full orderBy -> limit sort
    assert "TakeOrderedAndProject" in P.plan(rel.topk_revenue(spark, SF_SMOKE))


def test_pricing_summary_partial_agg_and_pruning(spark):
    df = rel.agg_pricing_summary(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1
    [schema] = P.read_schemas(df)
    # only the columns the query touches, not all 16 lineitem cols
    assert "l_orderkey" not in schema
    assert "l_returnflag" in schema and "l_quantity" in schema


def test_window_queries_single_shuffle(spark):
    # a partitioned window is one hash shuffle + in-partition sort;
    # a global window (no partitionBy) would be a scale bug
    assert P.shuffle_count(rel.window_rank_orders(spark, SF_SMOKE)) == 1
    assert P.shuffle_count(rel.window_running_sum(spark, SF_SMOKE)) == 1


def test_semi_anti_stay_joins_not_subquery_scans(spark):
    df = rel.semi_anti_orders(spark, SF_SMOKE)
    simple = P.plan(df, "simple")
    assert "LeftSemi" in simple
    assert "LeftAnti" in simple


def test_similarity_topk_is_single_pass(spark):
    df = llm.similarity_topk(spark, SF_SMOKE)
    # brute-force cosine baseline: the pairwise compare is a join +
    # one shuffle for the per-query top-k window; no extra exchanges
    assert P.shuffle_count(df) <= 2


def test_asof_join_is_single_shuffle(spark):
    # the union-tag as-of implementation must cost exactly one hash
    # exchange on user_id — no range-join row explosion, no second
    # shuffle for the window
    df = rel.asof_purchase_attribution(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1
    assert "Join" not in P.plan(df, "simple")


def test_tokenizer_stays_jvm_side(spark):
    # the flatMap hot path must be Generate(explode), not a Python
    # UDF (BatchEvalPython) — Python in the per-token loop is the
    # 10-100x slow path (SURVEY §4.2)
    simple = P.plan(mc.wordcount(spark, SF_SMOKE), "simple")
    assert "Generate explode" in simple
    assert "BatchEvalPython" not in simple
    assert "ArrowEvalPython" not in simple


def test_minhash_band_keys_are_longs_not_strings(spark):
    """Round-2 band-key optimization: the LSH self-join must key on
    xxhash64 longs; a concat_ws string key shuffles ~4x the bytes."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.dedup import (
        minhash_candidates,
    )

    text = P.plan(minhash_candidates(spark, SF_SMOKE), "extended")
    assert "concat_ws" not in text
    assert "xxhash64" in text


def test_ivf_centroid_selection_is_topk_not_global_sort(spark):
    """Fixed-K centroids pick via per-partition top-K merge
    (TakeOrderedAndProject), never a full sort of the corpus."""
    df = llm.similarity_ann_ivf(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in P.plan(df, "simple")


def test_salted_join_query_joins_on_salt(spark):
    """The registered skew query must actually shard on the salt
    column (salting that optimizes away would silently restore the
    hot-key straggler)."""
    df = rel.skew_salted_join_agg(spark, SF_SMOKE)
    assert "__salt" in P.plan(df, "simple")


def test_embedding_centroids_single_shuffle_no_pre_agg_explode(spark):
    """Per-dim sums are aggregate EXPRESSIONS: one hash-agg shuffle
    of |labels| wide rows; the (label,dim) unpivot happens above the
    aggregate, so no n x dim row stream ever shuffles."""
    df = llm.embedding_centroids(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1
    assert P.read_schemas(df) == ["struct<embedding:array<float>,label:int>"]


def test_inverted_index_is_one_stage(spark):
    """Postings are unique per document before the shuffle and one
    token aggregate builds the list: one exchange."""
    df = mc.inverted_index(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1


def test_q3_pushes_all_three_filters_and_heaps_topk(spark):
    """TPC-H Q3: the segment/orderdate/shipdate predicates must reach
    their parquet scans (row-group pruning at 100 TB), and the top-10
    must be a per-partition heap, not a global sort of all orders."""
    df = rel.q3_shipping_priority(spark, SF_SMOKE)
    pushed = " ".join(P.pushed_filters(df))
    assert "c_mktsegment" in pushed
    assert "o_orderdate" in pushed
    assert "l_shipdate" in pushed
    assert "TakeOrderedAndProject" in P.plan(df)


def test_q18_prunes_lineitem_and_heaps_topk(spark):
    """Q18: the qualifying-orders aggregate must be map-side partial
    (shuffle O(orders), not O(lineitems)) and the top-100 a heap."""
    df = rel.q18_large_orders(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "TakeOrderedAndProject" in P.plan(df)
    assert P.count_nodes(p, "HashAggregate") >= 2  # partial + final
    # lineitem scan reads only the two columns the aggregate needs
    assert any(
        "l_orderkey" in s and "l_quantity" in s and "l_extendedprice" not in s
        for s in P.read_schemas(df)
    )


def test_funnel_stage_predicates_push_to_scans(spark):
    """Each funnel stage scans events with its event_type predicate
    pushed; per-user state is a min timestamp, never a list."""
    df = rel.funnel_conversion(spark, SF_SMOKE)
    pushed = " ".join(P.pushed_filters(df))
    assert "event_type" in pushed
    assert "CollectList" not in P.plan(df) and "collect_list" not in P.plan(df)


def test_bucketed_join_has_no_exchange_under_join(spark):
    """Co-bucketed tables join without shuffling either side: the
    only exchange in the whole plan is the final aggregate's.
    Broadcast is disabled for the assertion — at sf0.001 AQE would
    broadcast the tiny table, which avoids a shuffle for the wrong
    reason; the property under test is that a SORT-MERGE join of
    co-bucketed facts needs no exchange (the 100 TB case, where
    neither side broadcasts)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = rel.bucketed_join_revenue(spark, SF_SMOKE)
        assert P.uses_sort_merge_join(df)
        assert P.shuffle_count(df) == 1  # the groupBy only
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_mix_corpora_single_window_shuffle(spark):
    """Budget mixing costs exactly one exchange (the per-lang
    window); the token counting stays narrow in the scan stage."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.mix_corpora(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1


def test_retention_joins_and_aggs_stay_keyed(spark):
    """First-touch agg and re-join share the user_id partitioning;
    final rollup is weeks²-bounded. No more than 3 exchanges."""
    df = rel.retention_cohorts(spark, SF_SMOKE)
    assert P.shuffle_count(df) <= 3


def test_correlated_subquery_decorrelates_to_one_join(spark):
    """Catalyst must rewrite the per-row scalar subquery into one
    aggregate joined back on the correlation key — a plan with a
    re-executed inner query per outer row would be quadratic."""
    df = rel.above_avg_orders(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "Join" in p
    assert P.shuffle_count(df) <= 2  # agg exchange (+ join exchange at scale)


def test_q5_broadcasts_dims_no_cartesian(spark):
    """TPC-H Q5: nation/region broadcast at any sf; the 6-table join
    must plan as equi-joins (no BroadcastNestedLoop/cartesian from
    the local-supplier condition)."""
    df = rel.q5_region_volume(spark, SF_SMOKE)
    p = P.plan(df)
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_q7_pushes_nation_pair_filters_and_broadcasts_names(spark):
    df = rel.q7_nation_volume(spark, SF_SMOKE)
    p = P.plan(df, "formatted")
    # the pair predicate reaches BOTH small-side scans as pushed filters
    assert p.count("In(s_nationkey") + p.count("In(c_nationkey") >= 2 or (
        "s_nationkey" in p and "PushedFilters: [IsNotNull" in p
    )
    assert "BroadcastHashJoin" in p


def test_q2_correlated_subquery_decorrelates_to_one_aggregate_join(spark):
    """The correlated min-cost subquery must plan as a per-part
    aggregate joined back (decorrelation), never a re-executed
    subplan per row."""
    df = rel.q2_min_cost_supplier(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "Subquery" not in p  # no per-row scalar subquery survives
    assert "Join" in p


def test_decontaminate_is_semi_join_probe(spark):
    df = llm.decontaminate_ngram(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "LeftSemi" in p


def test_chunk_documents_zero_shuffle(spark):
    df = llm.chunk_documents(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 0


def test_pii_scrub_zero_shuffle(spark):
    df = llm.pii_scrub(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 0


def test_q21_exists_pair_plans_as_semi_plus_anti(spark):
    df = rel.q21_waiting_suppliers(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "Subquery" not in p


def test_q16_not_in_plans_null_aware_anti_join(spark):
    df = rel.q16_supplier_counts(spark, SF_SMOKE)
    p = P.plan(df, "formatted")
    assert "LeftAnti" in p
    # the NOT IN exclusion stays a join-based anti form; no per-row
    # subquery survives planning
    assert "Subquery" not in P.plan(df, "simple")


def test_partitioned_pruned_scan_prunes_partitions(spark):
    df = mc.partitioned_pruned_scan(spark, SF_SMOKE)
    p = P.plan(df, "formatted")
    # the event_type predicate must appear as a partition filter on
    # the re-read scan, not a post-scan row filter
    assert "PartitionFilters: [isnotnull(event_type" in p.replace("#", "").replace(
        "]", ""
    ) or "PartitionFilters: [" in p and "event_type" in p.split("PartitionFilters")[1][:120]


def test_heavy_hitters_recount_is_broadcast_semi_join(spark):
    df = mc.heavy_hitters(spark, SF_SMOKE)
    p = P.plan(df)
    # the candidate filter must reach the recount as a broadcast
    # (LEFT SEMI) join — shuffling the corpus against a KB-sized
    # candidate set would be the wrong plan at any scale
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_fuzzy_join_is_equi_join_no_cartesian(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup as dd

    df = dd.fuzzy_join_customers(spark, SF_SMOKE)
    p = P.plan(df)
    # deletion-neighborhood candidates come from an EQUI join on the
    # variant — a cartesian/BNLJ product over names would be the
    # quadratic plan this operator exists to avoid
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_trailing_sum_single_shuffle_running_window(spark):
    df = rel.window_trailing_sum(spark, SF_SMOKE)
    assert P.shuffle_count(df) == 1
    assert "RunningWindowFunction" in P.plan(df) or "Window" in P.plan(df)


def test_gapfill_shares_one_user_partitioning(spark):
    df = rel.gapfill_locf(spark, SF_SMOKE)
    # agg → grid join → LOCF window: the hourly agg shuffles on
    # (user, bucket); grid + window reuse user-keyed exchanges. The
    # load-bearing bound: exchanges stay O(1), they don't stack per
    # stage (4 = hourly agg, min/max agg, grid join side, window).
    assert P.shuffle_count(df) <= 4
    assert "CartesianProduct" not in P.plan(df)


def test_pagerank_iterations_are_keyed_joins(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators.graph import (
        pagerank_part_supplier,
    )

    df = pagerank_part_supplier(spark, SF_SMOKE)
    p = P.plan(df)
    # the 1-row vertex-count side must broadcast; the per-iteration
    # rank⋈edges joins must be equi-joins (never nested-loop over
    # the edge set)
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_sql_udf_inlines_into_codegen(spark):
    """The SQL UDF must disappear into the plan as its substituted
    expression — a function-call boundary would make SQL-defined
    metric libraries pay per-row overhead at scale."""
    df = rel.sql_udf_doc_scores(spark, SF_SMOKE)
    p = P.plan(df)
    # no python-udf eval node anywhere, and codegen spans exist
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert len(P.codegen_ids(df)) > 0


def test_bloom_prefilter_is_broadcast_probes_then_semi_join(spark):
    """The Bloom stage must cost three BROADCAST probes of the tiny
    bitmap (never a shuffle of the fact side per probe), and the
    exactness re-check must remain a real semi-join."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.bloom import (
        bloom_prefilter_join,
    )

    df = bloom_prefilter_join(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert P.count_nodes(p, "BroadcastHashJoin") >= 3
    assert "LeftSemi" in p
    # fact side shuffles at most once (the final 1-row aggregate);
    # the three bitmap probes add none
    assert P.shuffle_count(df) <= 4


def test_zorder_rescan_pushes_both_range_predicates(spark, tmp_path):
    """Both halves of the 2-D predicate must reach the parquet scan
    as pushed filters — that is what turns the z-layout's tight
    min-max stats into skipped row groups."""
    import os

    from pyspark.sql import functions as F

    from cs537_spring2021_p3a_mapreduce_spark.operators.layout import (
        Z_HOUR_HI,
        Z_HOUR_LO,
        Z_USER_HI,
        Z_USER_LO,
        write_zordered_events,
    )

    path = os.path.join(str(tmp_path), "events_z")
    write_zordered_events(spark, SF_SMOKE, path)
    back = spark.read.parquet(path).where(
        F.col("user_id").between(Z_USER_LO, Z_USER_HI)
        & F.col("hour_id").between(Z_HOUR_LO, Z_HOUR_HI)
    )
    pushed = " ".join(P.pushed_filters(back))
    assert "user_id" in pushed and "hour_id" in pushed


def test_cms_sketch_join_is_broadcast(spark):
    """The probe side joins the DEPTH×WIDTH sketch by broadcast —
    the sketch is O(grid), never a fact-sized shuffle."""
    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        cms_user_frequencies,
    )

    df = cms_user_frequencies(spark, SF_SMOKE)
    assert P.uses_broadcast_join(df)


def test_scd2_rebuild_is_single_window_shuffle(spark):
    """The SCD2 version chain costs one window shuffle on the
    dimension key — no joins, no extra exchanges."""
    from pyspark.sql import functions as F

    from cs537_spring2021_p3a_mapreduce_spark.operators.relational import (
        _scd2_versions,
    )

    from cs537_spring2021_p3a_mapreduce_spark.catalog import table

    changes = table(spark, SF_SMOKE, "orders").select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("change_id"),
        F.lit(1).cast("long").alias("value_cents"),
        F.col("o_orderdate").alias("ts"),
    )
    df = _scd2_versions(changes)
    assert P.shuffle_count(df) == 1


def test_duplicate_span_fraction_has_no_cartesian(spark):
    """Span dedup must stay equi-join shaped: no cartesian or
    broadcast-nested-loop anywhere in the plan."""
    df = llm.duplicate_span_fraction(spark, SF_SMOKE)
    p = P.plan(df, "simple")
    assert "Cartesian" not in p and "BroadcastNestedLoop" not in p


def test_bpe_pair_counts_aggregates_have_partials(spark):
    """Both aggregates (word counts, pair counts) carry map-side
    partial aggregation."""
    df = llm.bpe_pair_counts(spark, SF_SMOKE)
    assert P.count_nodes(P.plan(df, "simple"), "HashAggregate") >= 4


def test_unpivot_is_expand_zero_shuffle(spark):
    df = rel.unpivot_part_metrics(spark, SF_SMOKE)
    assert "Expand" in P.plan(df, "simple")
    assert P.shuffle_count(df) == 0


def test_lateral_topk_plans_ranked_join_not_per_row_subquery(spark):
    df = rel.lateral_topk_suppliers(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    # Catalyst decorrelates the LATERAL ORDER BY ... LIMIT into one
    # broadcast join over a rank window with group-limit pushdown —
    # one pass, not a subquery execution per outer row
    assert P.uses_broadcast_join(df)
    assert "WindowGroupLimit" in plan
    assert "Subquery" not in plan


def test_skyline_single_window_over_levels_broadcast_semi(spark):
    df = rel.skyline_parts(spark, SF_SMOKE)
    # one window (over price LEVELS, domain-bounded), broadcast
    # semi-join back to rows, level agg + window sort = 2 exchanges
    assert P.plan(df, "simple").count("Window") == 1
    assert P.uses_broadcast_join(df)
    assert P.shuffle_count(df) == 2


def test_triangle_count_no_cartesian(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import graph

    plan = P.plan(graph.triangle_count_suppliers(spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_arrow_profile_is_map_in_arrow_not_pandas(spark):
    df = llm.arrow_doc_profile(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "MapInArrow" in plan
    assert "MapInPandas" not in plan


def test_market_basket_window_bound_no_fact_broadcast_no_collect(spark):
    import inspect

    from cs537_spring2021_p3a_mapreduce_spark.operators import mining

    df = mining.market_basket_rules(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    # the basket-size bound is a WINDOW over l_orderkey, never a join
    # against a broadcast per-order sizes relation (r3 scale-killer)
    assert "Window" in plan
    # n_orders rides the plan as a 1-row broadcast scalar crossJoin
    assert "BroadcastNestedLoopJoin" in plan
    # and nothing collects to the driver (the old `.count()` literal)
    src = inspect.getsource(mining.market_basket_rules)
    assert ".count()" not in src and ".collect()" not in src


def test_oov_and_skew_topk_plan_as_heaps_not_global_sort(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm, profiling

    # the vocabulary / heavy-key selections must be per-partition
    # heaps + driver merge of K rows, never a full orderBy sort
    assert "TakeOrderedAndProject" in P.plan(llm.oov_rate(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in P.plan(
        profiling.key_skew_audit(spark, SF_SMOKE)
    )


def test_winnow_and_feature_hash_are_narrow(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    # winnowing is one codegen'd array pass: the only exchanges are
    # the output range sort (and nothing else)
    assert P.shuffle_count(llm.winnow_fingerprints(spark, SF_SMOKE)) <= 1
    # the hashing-trick vectorizer is wordcount-shaped: one hash
    # aggregate + the output sort
    assert P.shuffle_count(llm.feature_hash_vectors(spark, SF_SMOKE)) <= 2


def test_open_orders_sweepline_no_interval_explode(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal

    df = temporal.open_orders_timeline(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    # sweep-line: no per-day explode/sequence fan-out in the plan
    assert "Explode" not in plan and "Generate" not in plan
    # one running-sum window over the day-delta aggregate
    assert plan.count("Window") == 1


def test_embedding_drift_no_wide_aggregate(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.embedding_drift(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    # the narrow unpivot shape: posexplode generate + two hash
    # aggregates, with map-side partials on the (label, dim) agg
    assert "Generate" in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_gopher_rules_zero_shuffle(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    # rule filter is per-row: nothing but the output range sort
    assert P.shuffle_count(llm.gopher_quality_rules(spark, SF_SMOKE)) <= 1


def test_train_split_single_tiny_aggregate(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    # split assignment is narrow; one agg exchange + output sort
    assert P.shuffle_count(llm.train_split_manifest(spark, SF_SMOKE)) <= 2


def test_exact_median_selection_never_sorts_the_column(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling

    plan = P.plan(profiling.exact_median_selection(spark, SF_SMOKE))
    # the selection's windows run on the bucket histogram and the one
    # selected bucket; a global Sort over the full cents column would
    # appear as a sort above a scan-sized exchange. Assert the plan
    # keeps the scan side sort-free: every Sort in the plan sits
    # above a Window (tiny relations), none above the raw scan.
    simple = P.plan(profiling.exact_median_selection(spark, SF_SMOKE), "simple")
    # 3 selection passes (stats, histogram, bucket filter) + the
    # 1-row stats subtree re-derived under the final branch = 4 scan
    # nodes, never more (a sort-based median would be 1 scan + a
    # full-column Sort — the thing this operator exists to avoid)
    assert simple.count("Scan parquet") <= 4
    assert "Sort" in simple  # windows over the TINY relations only
    # the broadcast of the 1-row target descriptor must be a
    # BroadcastExchange, not a shuffle join
    assert "BroadcastExchange" in plan


def test_link_prediction_plans_heap_topk_and_no_cartesian(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import graph

    plan = P.plan(graph.link_prediction_ra(spark, "/root/testdata/sf0.01"))
    assert "TakeOrderedAndProject" in plan  # global top-k as heaps
    assert "CartesianProduct" not in plan  # pk-blocked equi-join only


def test_ohlc_single_aggregate_with_partial_minby(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal

    df = temporal.ohlc_bars(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    # one agg shuffle + the output sort, nothing else; min_by merges
    # partially (map-side combine) — no per-group row materialization
    assert plan.count("Exchange") <= 2
    assert "min_by" in plan


def test_cooccurrence_and_curriculum_plan_as_heaps(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    assert "TakeOrderedAndProject" in P.plan(
        llm.term_cooccurrence_lift(spark, SF_SMOKE)
    )
    assert "TakeOrderedAndProject" in P.plan(
        llm.curriculum_schedule(spark, SF_SMOKE)
    )


def test_table_profile_approx_no_expand(spark):
    """The sketch-based profile must plan as ONE partial-aggregated
    pass — no Expand (the exact profile's multi-count(DISTINCT)
    multiplies the scan ~x25 through Expand; the HLL twin exists
    precisely to avoid that at scale)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling

    approx = profiling.table_profile_approx(spark, SF_SMOKE)
    plan = P.plan(approx, "simple")
    assert "Expand" not in plan
    # HLL buffers plan as SortAggregate (object buffer, no codegen)
    # but still carry the map-side partial pass
    assert "partial_approx_count_distinct" in plan
    # the exact twin DOES expand — the contrast that justifies both
    exact = profiling.table_profile(spark, SF_SMOKE)
    assert "Expand" in P.plan(exact, "simple")


def _df_ceiling_on_broadcast_fold(plan: str, pct: int) -> bool:
    """True iff the df-ceiling predicate
    ``(df * 100) <= (n_docs * pct)`` appears as the condition ON a
    join line (the 1-row broadcast stats fold that builds the
    kept-df relation) — not merely as a substring anywhere in the
    plan. Catalyst may render either operand order."""
    import re

    pred = (
        rf"\(df#\d+L? \* 100\) <= \((n_docs#\d+L? \* {pct}|"
        rf"{pct} \* n_docs#\d+L?)\)"
    )
    return any(
        "Join" in line and re.search(pred, line) for line in plan.splitlines()
    )


def test_sparse_dot_topk_broadcasts_df_and_prunes_probes(spark):
    """The document-frequency relation must broadcast (|vocab| rows,
    never a shuffle join against the posting list), and the probe
    filter must sit below the match join so the join is probe-sized,
    not corpus x corpus."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.sparse_dot_topk(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    # the probe-side pruning predicate reaches a scan/filter, not
    # post-join: doc_id < SPARSE_TOPK_QUERIES appears as a filter
    assert "20" in plan
    # impact pruning sits BELOW the posting join: the df-ceiling
    # predicate (df * 100 <= SPARSE_DF_CEIL_PCT * n_docs) is the
    # join condition of the 1-row broadcast stats fold inside the
    # weight relation — i.e. it executes while building the kept-df
    # relation, before any token match happens. Pin the predicate ON
    # that join line (not mere substring presence anywhere).
    wplan = P.plan(llm._sparse_weights(spark, SF_SMOKE), "simple")
    assert _df_ceiling_on_broadcast_fold(wplan, llm.SPARSE_DF_CEIL_PCT)


def test_containment_join_probe_side_is_prefix_only(spark):
    """One-sided prefix filtering: the probe side of the candidate
    join is rank-bounded (rk <= n - ceil(t*n) + 1), the indexed side
    is the full posting — and the verify join is candidate-bounded
    (no all-pairs shape anywhere: every join is an equi-join)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup as dd

    df = dd.containment_join(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_template_prefix_audit_single_aggregate_no_join(spark):
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.template_prefix_audit(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.shuffle_count(df) <= 2  # one agg exchange + final order
    assert "Join" not in plan


def test_table_checksum_single_pass_with_partials(spark):
    """One scan, map-side partial aggregation, no Expand (the sums
    are plain aggregates, not multi-distinct)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling

    df = profiling.table_checksum(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Expand" not in plan
    assert plan.count("FileScan") == 1 or plan.count("Scan parquet") == 1


def test_bm25_broadcasts_stats_and_no_cartesian(spark):
    """BM25's df and corpus-stats relations must broadcast (|vocab|
    and 1-row), the match join stays a token equi-join, and nothing
    plans as a cartesian/BNL over the posting list (the 1-row stats
    crossJoin is the sanctioned broadcast scalar)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.bm25_topk(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # the df-ceiling cut (df * 100 <= SPARSE_DF_CEIL_PCT * n_docs)
    # is the condition of the broadcast stats fold feeding the
    # kept-df relation — below the posting join, pinned on the join
    # line itself
    assert _df_ceiling_on_broadcast_fold(plan, llm.SPARSE_DF_CEIL_PCT)


def test_similarity_pq_int_broadcasts_codebook_and_lut(spark):
    """The integer-PQ twin's codebook (16 rows) and ADC lookup table
    (queries x 16 x 8 rows) must broadcast; the encode pass must not
    shuffle the corpus before its (vec_id, m) aggregate; no
    cartesian over corpus-sized relations (the only crossJoins carry
    broadcast constant-size sides)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.similarity_pq_int(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_ivf_int_broadcast_fold_no_cartesian(spark):
    """The integer IVF twin's K-centroid relation folds to ONE
    broadcast row (assignment is narrow — zero shuffle of the n×K
    product); the probe is a cell equi-join; no cartesian between
    corpus-sized sides (the only BNL carries the 1-row fold)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.similarity_ann_ivf_int(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)
    assert P.shuffle_count(df) <= 2  # probe equi-join + top-k window


def test_dup_span_stats_partial_agg_no_window_no_cartesian(spark):
    """Span-duplication audit must count span occurrences with
    map-side PARTIAL aggregation and an equi-join-back — never a
    window over the span hash (a window groups each boilerplate
    5-gram onto ONE task; partial aggregation absorbs the skew
    map-side and AQE can split/broadcast the join). Pin: no Window
    node, partial aggregation on both the (doc,sh) and sh counts,
    scan/tokenize once (the per-(doc,sh) exchange reused), and no
    cartesian anywhere."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.dup_span_stats(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan
    assert "partial_count" in plan and "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert P.shuffle_count(df) <= 5
    # one scan of documents: the (doc_id, sh) aggregate's exchange
    # feeds both the span-total aggregate and the join probe — AQE
    # only materializes the reuse at runtime, so pin the FINAL plan
    fplan = P.final_plan(df, "simple")
    assert "ReusedExchange" in fplan or fplan.count("Scan parquet") <= 1


def test_remove_dup_spans_partial_agg_no_window_no_cartesian(spark):
    """The span-removal pass shares dup_span_stats' skew-proof
    shape: the global first-occurrence is a partial-aggregated
    struct-min (never a window over the span hash), joined back as
    an equi-join; no cartesian anywhere."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.remove_dup_spans(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_bpe_encode_broadcast_rules_scan_bound(spark):
    """The apply pass must be scan-bound: the learned rules ride a
    1-row broadcast (BNL of a 1-row fold is the sanctioned scalar
    crossJoin), the encoding is a narrow per-row transform — no
    Window, no shuffle beyond the output sort and the (eagerly
    checkpointed) trainer's own aggregates."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.bpe_encode(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rrf_ann_composition_no_cartesian(spark):
    """The ANN-fed fusion composes IVF probe + sparse posting join +
    fusion aggregate — no cartesian product anywhere in the composed
    plan; the posting join and probe join stay equi-joins."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.rank_fusion_rrf_ann(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_semdedup_planes_broadcast_and_cell_equijoin(spark):
    """Sign-projection assignment joins a constant-size broadcast
    plane relation; candidate pairs come from an equi-join on cell
    (cell-bounded, never all-pairs): no cartesian, no BNL between
    corpus-sized sides."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.semdedup_prune(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_rank_fusion_inputs_stay_topk_bounded(spark):
    """RRF fuses two already-top-k-bounded inputs: the fusion layer
    adds only aggregates/windows, never a join between corpus-sized
    relations (no cartesian, no BNL beyond the dense retriever's
    sanctioned broadcast query join)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm

    df = llm.rank_fusion_rrf(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan


def test_dsir_broadcast_ratio_join_and_partial_aggs(spark):
    """DSIR's scale contract: the ≤DSIR_BUCKETS-row ratio relation
    broadcasts back onto the per-doc counts (never a second corpus
    shuffle), aggregates combine map-side, and nothing goes
    cartesian."""
    df = llm.dsir_importance_weights(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    # partial + final pairs on the doc/bucket count and the score agg
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_ivfpq_broadcasts_every_small_relation_no_cartesian(spark):
    """IVF-PQ composition: centroid fold, residual-centroid join,
    codebook and ADC relations all ride broadcasts; no
    CartesianProduct anywhere (the only nested-loop shapes are
    1-row/16-row broadcast folds)."""
    df = llm.similarity_ann_ivfpq_int(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.uses_broadcast_join(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") + plan.count(
        "ReusedExchange"
    ) >= 4  # carr fold, cents (resid + probes), codebook, lut


def test_hard_negatives_positives_join_is_broadcast_anti(spark):
    """The positives exclusion must be a BROADCAST left-anti join —
    a shuffle anti join on (query, neighbor) would move the whole
    score relation for a tiny exclusion set."""
    df = llm.hard_negative_mining(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "LeftAnti, BuildRight" in plan or (
        "LeftAnti" in plan and "BroadcastExchange" in plan
    )
    assert "CartesianProduct" not in plan


def test_t5_span_corruption_is_scan_bound(spark):
    """The example constructor's 100 TB claim: everything happens
    inside the token array — the ONLY exchange is the output sort's
    range partitioning."""
    import re

    df = llm.t5_span_corruption(spark, SF_SMOKE)
    exchanges = re.findall(r"Exchange (\w+)", P.plan(df, "simple"))
    assert all(e == "rangepartitioning" for e in exchanges), exchanges


def test_matryoshka_single_corpus_pass_broadcast_queries(spark):
    """Both rankings score off ONE pass: the query side broadcasts
    (BroadcastNestedLoopJoin for the != predicate — bounded by
    |queries|·corpus, the similarity_topk shape), and no
    CartesianProduct appears."""
    df = llm.matryoshka_overlap(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_cross_source_matrix_is_aggregate_only(spark):
    """The arithmetic-pair-count promise: NO join of any kind in the
    plan — two hash aggregates and a fold, so a million-doc
    boilerplate fingerprint can never become a join blow-up."""
    df = llm.cross_source_dup_matrix(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    for node in (
        "Join", "CartesianProduct", "BroadcastNestedLoop", "SortMergeJoin"
    ):
        assert node not in plan, node
    assert P.count_nodes(plan, "HashAggregate") >= 4  # two partial/final pairs


def test_l_diversity_two_aggregates_no_expand(spark):
    """Two map-side-combinable aggregates, no Expand (a count
    DISTINCT rewrite would insert one) and no join before the
    violating filter."""
    df = mc.l_diversity_audit(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Expand" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_image_phash_dedup_joins_distinct_hashes_only(spark):
    """The phash report's scale contract: ONE Arrow decode pass feeds
    both report branches through the persisted distinct-fingerprint
    relation (exact mass + banded near-pairs), the candidate join
    runs on DISTINCT hashes (aggregate BELOW the join), and nothing
    goes cartesian — a doc-pair join would melt on a million
    byte-identical thumbnails."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import multimodal as mm

    df = mm.image_dedup_phash(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    # both branches read the CACHED groups relation (the single
    # decode+collapse), not two fresh decode pipelines
    assert P.count_nodes(plan, "InMemoryTableScan") >= 2


def test_unigram_encode_vocab_bounded_no_cartesian(spark):
    """Unigram encode's scale contract: the only nested-loop shape is
    the 1-row broadcast vocab fold (never CartesianProduct), the
    word-keyed map join is an equi-join, and the corpus collapses
    through hash aggregates with map-side partials."""
    df = llm.unigram_encode(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_ivf_retrain_loop_broadcast_assignment_no_cartesian(spark):
    """The maintenance loop's scale contract: every assignment rides
    the 1-row broadcast centroid fold, the probe join is an
    equi-join, and no stage goes cartesian (the exact baseline is
    the bounded broadcast-query scan)."""
    import tempfile

    df = llm.ivf_retrain_loop(
        spark, SF_SMOKE, index_path=tempfile.mkdtemp(prefix="ivf_pin_")
    )
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)


def test_ks_test_value_grain_no_row_sort(spark):
    """KS shares Mann-Whitney's scale contract: rank work happens at
    VALUE grain (group-by-cents aggregate below the window), the
    customer dim broadcasts, and no sort-merge join appears."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.ks_test_revenue(spark, SF_SMOKE)
    assert P.uses_broadcast_join(df)
    assert not P.uses_sort_merge_join(df)
    plan = P.plan(df, "simple")
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_t_closeness_grid_is_domain_bounded(spark):
    """The dense QI×value grid builds from two AGGREGATED relations
    (never by expanding customer rows): aggregates sit below the
    grid join and nothing goes cartesian except the tiny broadcast
    value/total folds."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core as mcx

    df = mcx.t_closeness_audit(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_decontaminate_embedding_is_blocked_gemm_tiles(spark):
    """The semantic decon runs the dedup_embedding tile discipline:
    train blocks × ONE broadcast eval row (BroadcastNestedLoopJoin of
    the 1-row fold — never CartesianProduct, never a doc-grain
    join), the scoring is Arrow-batched mapInPandas, and the only
    exchanges are the block collect, the 1-row eval fold and the
    output sort."""
    df = llm.decontaminate_embedding(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert "MapInPandas" in plan
    assert P.shuffle_count(df) <= 3


def test_wordpiece_encode_vocab_bounded_no_cartesian(spark):
    """WordPiece encode inherits the unigram contract: the greedy
    fold rides the 1-row broadcast vocab row (never
    CartesianProduct) and the corpus collapses via hash aggregates
    with map-side partials."""
    df = llm.wordpiece_encode(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_mmr_pool_bounded_no_cartesian(spark):
    """MMR's scale contract: the per-round selections are
    localCheckpointed (each greedy round materializes its 1-row-per-
    query pick, keeping the K-round plan shallow — the
    bpe_train_merges discipline), so the FINAL plan is a scan of the
    checkpointed RDD plus the output sort: no cartesian, no join, no
    aggregate may reappear above the checkpoint."""
    df = llm.similarity_topk_mmr(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan


def test_bradley_terry_grid_rounds_broadcast(spark):
    """Every MM round joins the 625-row grid against broadcast π
    relations; the comparison generator is the within-order
    equi-join; nothing cartesian, no sort-merge join."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import mining

    df = mining.bradley_terry_rating(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)


def test_theil_sen_pairs_on_monthly_aggregate(spark):
    """The pair join's inputs are MONTHLY aggregates (hash aggregate
    below the self-join) — the T²-bounded shape — and the corpus is
    touched by exactly one aggregation pipeline per side of the
    reused exchange."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.theil_sen_trend(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_chi_square_single_pass_dense_grid(spark):
    """χ² touches the corpus in ONE (segment, priority) aggregate;
    the dense grid builds from aggregated relations with broadcast
    joins; verdict totals ride a 1-row broadcast."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.chi_square_independence(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_dedup_recall_report_candidates_below_verify(spark):
    """The recall report's scale contract: the banded candidate join
    and the all-pairs truth join both run on aggregated/distinct
    relations (aggregates below joins), and the overall stats ride a
    1-row broadcast — no cartesian anywhere."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    df = dedup.dedup_recall_report(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_int_minhash_folds_string_shingles_without_distinct(spark):
    """The integer-MinHash twins fold the RAW exploded string
    shingles to md5 longs: the signature min is duplicate-insensitive
    and the verify deduplicates candidate docs only, so no aggregate
    may group on the string-shingle column before the fold (a
    shadowing helper once added a corpus-wide string distinct
    here)."""
    import re

    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    for fn in (dedup.dedup_minhash_int, dedup.dedup_recall_report):
        plan = P.plan(fn(spark, SF_SMOKE), "simple")
        strings = set(
            re.findall(
                r"Generate explode\(.*concat_ws.*\), \[[^\]]*\], "
                r"(?:true|false), \[(\w+#\d+)\]",
                plan,
            )
        )
        assert strings, "expected the string-shingle explode in the plan"
        keys = re.findall(r"HashAggregate\(keys=\[([^\]]*)\]", plan)
        assert keys
        grouped = {k for ks in keys for k in ks.split(", ")}
        assert not strings & grouped, (fn.__name__, strings & grouped)


def test_holt_winters_fold_on_monthly_aggregate(spark):
    """The recurrence folds per-segment ordered ARRAYS built from the
    monthly hash aggregate — no corpus-sized window, no cartesian
    (the horizon expansion is a 12-row broadcast)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tp

    df = tp.holt_winters_forecast(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2
    assert not P.uses_sort_merge_join(df)


def test_cdc_chunk_dedup_single_chunk_aggregate(spark):
    """CDC is one Arrow-vectorized chunking pass (MapInPandas — the
    per-char hot loop) + ONE chunk-grain hash aggregate: no join of
    any kind, nothing but the aggregate exchanges."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    df = dedup.cdc_chunk_dedup(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Join" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_token_chi2_grid_from_aggregates(spark):
    """The χ² feature grid builds from aggregated relations (distinct
    presence collapses the corpus first); the top-K is a limit over
    the df aggregate; no sort-merge join, no cartesian beyond 1-row
    broadcasts."""
    df = llm.token_label_chi2(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_kmv_sketch_bounded_before_pair_grid(spark):
    """The per-source sketch is K-row-bounded BEFORE the pair grid
    (rank filter below the collect), and the pair join is the tiny
    broadcast sources² grid — never a doc-grain join."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import dedup

    df = dedup.source_overlap_kmv(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    # the inequality pair grid plans as a BROADCAST nested-loop of
    # the |sources|-row sketch relation — bounded by the source
    # domain, never doc-grain
    assert "BroadcastNestedLoopJoin" in plan
    assert not P.uses_sort_merge_join(df)


def test_mann_kendall_shares_theil_sen_shape(spark):
    """Pairwise signs on the MONTHLY aggregate (T²-bounded), tie
    groups from a value-grain aggregate — no row-grain global sort,
    dims broadcast."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.mann_kendall_test(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_rake_phrase_extraction_narrow_no_window(spark):
    """RAKE's phrase extraction is narrow array arithmetic — no
    per-doc window, no appending fold pathology (the boundary-slice
    construction), word scores broadcast back onto phrase words."""
    df = llm.rake_keywords(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_kruskal_wallis_value_grain_shape(spark):
    """Ranks live at VALUE grain: customer broadcast onto the fact,
    the only window runs over the distinct-value relation, and the
    5-segment pivot is one aggregate row — no row-grain global sort,
    no cartesian."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.kruskal_wallis_test(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)
    assert not P.uses_sort_merge_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_anova_oneway_is_wordcount_shaped(spark):
    """ONE map-side-combinable aggregate over the broadcast-joined
    fact — no window, no extra shuffle beyond the single agg."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.anova_oneway(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_spearman_grid_ranks_broadcast_back(spark):
    """Moments aggregate over the domain-bounded (x, y) grid; the
    per-axis rank maps join back by BROADCAST (never a fact-grain
    shuffle join on the value columns)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.spearman_corr(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)
    assert not P.uses_sort_merge_join(df)


def test_kendall_tau_pairs_on_monthly_aggregate(spark):
    """The pair generator touches only the month-grain aggregate
    (theil_sen contract): the corpus feeds ONE hash aggregate; the
    T^2-bounded pair join never sort-merges."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.kendall_tau_segments(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert not P.uses_sort_merge_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 3


def test_permutation_test_single_agg_pass(spark):
    """All R+1 relabelings ride ONE aggregate over the joined fact
    (the bootstrap one-agg+stack rule) — never R scans: exactly one
    scan of orders in the plan, no sort-merge join."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.permutation_test_hash(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert plan.count("orders.parquet") <= 1 or (
        P.plan(df, "formatted").count("orders.parquet") <= 2
    )
    assert not P.uses_sort_merge_join(df)
    assert "Window" not in plan


def test_zipf_slope_window_is_vocab_bounded(spark):
    """One wordcount aggregate touches the corpus; the rank window
    runs over the frequency relation only (post-aggregate)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.zipf_slope_fit(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert P.count_nodes(plan, "HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    # the window's input is the aggregated frequency relation: the
    # wordcount HashAggregate prints BELOW the Window node
    win_pos = plan.find("Window")
    assert win_pos != -1 and win_pos < plan.rfind("HashAggregate")


def test_seasonal_decompose_bounded_self_join(spark):
    """The 13-month MA window is a broadcast self-join ON the
    month-grain aggregate — the corpus feeds one hash aggregate; no
    sort-merge join, no cartesian."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tp

    df = tp.seasonal_decompose(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert P.uses_broadcast_join(df)


def test_image_entropy_narrow_decode(spark):
    """One Arrow-batched decode pass, one row per image — no join,
    no aggregate shuffle before the output sort."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import multimodal as mm

    df = mm.image_entropy_real(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_kappa_shares_scan_class_no_cartesian(spark):
    """Both filter verdicts are per-row narrow; the doc_id join and
    the 1-row confusion reduce are the only shuffles."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm as L

    df = L.filter_agreement_kappa(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2


def test_acf_pairs_on_monthly_aggregate(spark):
    """The corpus feeds one hash aggregate; lag pairs and moments
    live on the T-month relation with 1-row broadcasts."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tp

    df = tp.autocorrelation_monthly(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 3


def test_stupid_backoff_counts_broadcast(spark):
    """Every n-gram count relation (type-bounded) joins back onto the
    persisted trigram stream by BROADCAST — the fact is never
    shuffle-joined on n-gram keys."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm as L

    df = L.stupid_backoff_score(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert not P.uses_sort_merge_join(df)
    assert P.uses_broadcast_join(df)


def test_kaplan_meier_folds_on_bounded_grid(spark):
    """The corpus feeds two aggregates (first-ship, week grid); the
    survival folds run on ONE collected array row whose length is
    week-domain-bounded — no corpus-sized window, no cartesian."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tp

    df = tp.kaplan_meier_shipping(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 3


def test_log_rank_shares_km_bounded_shape(spark):
    """Two corpus aggregates + windows over the bounded week grid +
    one 1-row reduce; customer broadcasts; no cartesian."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import temporal as tp

    df = tp.log_rank_test(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.uses_broadcast_join(df)
    assert P.count_nodes(plan, "HashAggregate") >= 3


def test_mcnemar_and_burstiness_bounded_shapes(spark):
    """McNemar shares the kappa confusion shape (no cartesian);
    burstiness is two hash aggregates + a top-K heap, never a global
    sort of the vocabulary."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm as L

    m = L.mcnemar_test(spark, SF_SMOKE)
    assert "CartesianProduct" not in P.plan(m, "simple")
    b = L.token_burstiness(spark, SF_SMOKE)
    plan = P.plan(b, "simple")
    assert "TakeOrderedAndProject" in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_jb_and_bf_bounded_shapes(spark):
    """JB is one wordcount-shaped aggregate; Brown-Forsythe's median
    lives on the value-grain relation with the 5-row median map
    broadcast back — no sort-merge join, no cartesian."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    jb = prof.jarque_bera_normality(spark, SF_SMOKE)
    p1 = P.plan(jb, "simple")
    assert "Window" not in p1 and "CartesianProduct" not in p1
    bf = prof.brown_forsythe_test(spark, SF_SMOKE)
    p2 = P.plan(bf, "simple")
    assert "CartesianProduct" not in p2
    assert not P.uses_sort_merge_join(bf)
    assert P.uses_broadcast_join(bf)


def test_mmd_never_builds_kernel_matrix(spark):
    """The pairwise-kernel sum collapses to Gram-moment arithmetic:
    no join of any kind (an n x m kernel matrix would be one), one
    d^2-cell aggregate + a 1-row reduce."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import llm as L

    df = L.mmd_drift_poly(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 4


def test_audio_cdc_dedup_candidate_join_never_cartesian(spark):
    """Shift-invariant audio dedup: the pair report is an EQUI-join
    on the segment identity over distinct (clip, segment) rows gated
    by the co-occurrence/hot-cap filter — never a clip-pair cross
    join; decode stays a narrow Arrow map (no sample rows shuffled)."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import multimodal as mm

    df = mm.audio_cdc_dedup(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the frequency gate + the pair join are both key-equi joins
    assert (
        P.count_nodes(plan, "SortMergeJoin")
        + P.count_nodes(plan, "ShuffledHashJoin")
        + P.count_nodes(plan, "BroadcastHashJoin")
    ) >= 2


def test_concurrent_writers_final_read_is_manifest_scan(spark):
    """The multi-writer query's returned plan reads only the
    manifest-listed part files and aggregates — the transaction
    protocol runs driver-side at build time, leaving no join or
    collect in the returned plan."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import mapreduce_core as mc2

    df = mc2.concurrent_writers_conflict(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "HashAggregate") >= 2  # partial + final


def test_binary_rerank_narrow_scan_and_bounded_windows(spark):
    """1-bit ANN tier: queries broadcast (10 rows), corpus scan stays
    narrow (pack + XOR + popcount per row), and the only exchanges
    are for the per-query shortlist/rerank windows."""
    df = llm.similarity_binary_rerank(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Broadcast" in plan  # query side broadcast, corpus never
    assert P.shuffle_count(df) <= 2


def test_target_encode_and_kfold_no_row_windows(spark):
    """Both ML-prep encoders must be group-aggregate shapes: no
    row-grain window, no cartesian, broadcast for the group stats."""
    df = rel.target_encode_loo(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "Window" not in plan and "CartesianProduct" not in plan
    assert "Broadcast" in plan
    df2 = rel.group_kfold_split(spark, SF_SMOKE)
    plan2 = P.plan(df2, "simple")
    assert "Window" not in plan2 and "CartesianProduct" not in plan2


def test_bh_battery_windows_are_domain_bounded(spark):
    """The step-up runs on an m-row relation (m = strata count), so
    the unpartitioned windows are domain-bounded by construction —
    and the per-stratum pairing window partitions by stratum."""
    from cs537_spring2021_p3a_mapreduce_spark.operators import profiling as prof

    df = prof.benjamini_hochberg_battery(spark, SF_SMOKE)
    plan = P.plan(df, "simple")
    assert "CartesianProduct" not in plan
    assert P.count_nodes(plan, "Window") >= 2  # rank + step-up levels


def test_dv_read_is_broadcast_antijoin_no_rewrite_shapes(spark, tmp_path):
    """The deletion-vector read path: DV application must plan as ONE
    scan anti-joined against a BROADCAST of the tiny sidecar (the
    Delta DV scan shape) — never a shuffled join of the data by
    (file, pos), never a cartesian. A clean table must read as a
    plain scan with no join at all."""
    from cs537_spring2021_p3a_mapreduce_spark.sources.manifest_sink import (
        ManifestParquetSink,
        delete_where_dv,
        read_manifest_table,
    )

    try:
        spark.dataSource.register(ManifestParquetSink)
    except Exception:
        pass
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, i % 4) for i in range(400)], "k long, shard long"
    ).repartition("shard").write.format("mr_manifest").option(
        "path", path
    ).mode("append").save()
    clean = P.plan(read_manifest_table(spark, path))
    assert "Join" not in clean  # no-DV fast path: plain scan
    delete_where_dv(spark, path, "k % 3 = 0")
    p = P.plan(read_manifest_table(spark, path))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # sidecar must never shuffle the scan


def test_stream_sig_prefilter_never_inlines_fold_pipeline(spark):
    """The streaming dedup signature stage must filter on the TOKEN
    count BEFORE projecting the md5-fold array: a post-projection
    size(hs) >= 1 filter gets pushed below the projection with the
    whole fold pipeline substituted in, re-evaluating the tokenizer
    inside per-element lambdas (measured 0.4 s -> 7.5 s on 10k docs).
    Pin: no Filter node's condition may contain md5 (the filter is
    size(split(...)) >= SHINGLE_K; the folds live in a Project)."""
    import re

    from cs537_spring2021_p3a_mapreduce_spark import streaming as st

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = P.plan(st._lsh_band_rows(docs, st.LSH_WATERMARK))
    conds = re.findall(r"Condition : .*", p)
    assert conds, "expected the token-count pre-filter in the plan"
    assert all("md5" not in c for c in conds)
    # and the fold pipeline itself must appear exactly once per
    # projection stage (1 shingle fold + one fold per band), never
    # duplicated below a filter — derive the count from the config
    # so a N_HASHES/BAND_ROWS change moves the pin with it
    from cs537_spring2021_p3a_mapreduce_spark.operators.dedup import (
        BAND_ROWS,
        N_HASHES,
    )

    assert len(re.findall(r"md5\(", p)) == 1 + N_HASHES // BAND_ROWS
