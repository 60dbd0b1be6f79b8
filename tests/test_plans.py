"""Physical-plan regression tests: the scale-critical properties of headline
query plans (pushdown, pruning, broadcast, no nested-loop degradation,
whole-stage codegen) pinned as assertions."""

from __future__ import annotations

import pytest

from quantms_utils_spark.plans import (
    explain_str,
    plan_has,
    pushed_filters,
    read_schema_columns,
)
from quantms_utils_spark.queries.core import (
    pricing_summary,
    projection_filter_pushdown,
    range_join_features,
    star_join_revenue,
    topk_orders,
    validated_m1_join_agg,
)

SF = "/root/testdata/sf0.001"


def test_projection_and_filter_reach_scan(spark):
    df = projection_filter_pushdown(spark, SF)
    pushed = " ".join(pushed_filters(df))
    assert "l_linenumber" in pushed  # IN-filter pushed to parquet
    assert "l_quantity" in pushed
    schemas = read_schema_columns(df)
    assert schemas, "no parquet scan found in plan"
    # column pruning: the 11-column lineitem scan reads only the 3 needed
    assert sorted(schemas[0]) == ["l_linenumber", "l_orderkey", "l_quantity"]


def test_pricing_summary_scan_pruned_and_partial_agg(spark):
    df = pricing_summary(spark, SF)
    schemas = read_schema_columns(df)
    assert schemas and len(schemas[0]) <= 7  # 7 of 11 columns needed
    assert "l_shipdate" in " ".join(pushed_filters(df))
    # map-side combine before the exchange
    assert plan_has(df, "partial_", "HashAggregate")


def test_star_join_broadcasts_dimensions(spark):
    plan = explain_str(star_join_revenue(spark, SF), "simple")
    assert plan.count("BroadcastHashJoin") >= 2  # nation, region at minimum
    assert "CartesianProduct" not in plan


def test_validated_join_is_broadcast(spark):
    plan = explain_str(validated_m1_join_agg(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_join_is_not_nested_loop(spark):
    """The binned range join must be an equi-join on (user_id, bin) with a
    residual predicate — never BroadcastNestedLoopJoin (which is O(n*m) and
    dies at scale)."""
    plan = explain_str(range_join_features(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_topk_avoids_global_sort(spark):
    plan = explain_str(topk_orders(spark, SF), "simple")
    assert "TakeOrderedAndProject" in plan


def test_semi_join_no_nested_loop(spark):
    """EXISTS with a non-equi residual must ride the equi hash join — a
    BNLJ here is O(orders × lineitem) and dies at scale."""
    from quantms_utils_spark.queries.relational import order_priority_semi

    plan = explain_str(order_priority_semi(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join LeftSemi" in explain_str(
        order_priority_semi(spark, SF), "extended"
    ) or "left_semi" in plan.lower() or "LeftSemi" in plan


def test_returned_items_filter_pushed_and_topk(spark):
    from quantms_utils_spark.queries.relational import returned_items_topk

    df = returned_items_topk(spark, SF)
    assert "l_returnflag" in " ".join(pushed_filters(df))
    plan = explain_str(df, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_big_orders_preaggregates_narrow(spark):
    """The fact pre-aggregation must read only (l_orderkey, l_quantity) —
    the shuffle carries two columns, not eleven."""
    from quantms_utils_spark.queries.relational import big_orders_having

    df = big_orders_having(spark, SF)
    schemas = read_schema_columns(df)
    assert ["l_orderkey", "l_quantity"] in [sorted(s) for s in schemas]
    assert plan_has(df, "partial_", "HashAggregate")


def test_rollup_is_single_pass_expand(spark):
    """ROLLUP must plan as one Expand + aggregate, not unioned re-scans."""
    from quantms_utils_spark.queries.relational import rollup_revenue

    plan = explain_str(rollup_revenue(spark, SF), "simple")
    assert "Expand" in plan
    assert "Union" not in plan


def test_embedding_cosine_pairs_blocked_join(spark):
    """The near-dup self-join must be an equi-join on the block column —
    never an all-pairs cartesian."""
    from quantms_utils_spark.queries.similarity import dedup_embedding_cosine

    plan = explain_str(dedup_embedding_cosine(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_pairs_single_aggregate_no_join(spark):
    """The restructured LSH pairing is groupBy + in-bucket explosion: no join
    operator at all, and exactly one exchange feeds the bucket aggregate
    (plus one for the final distinct)."""
    from quantms_utils_spark.queries.dedup import minhash_lsh_pairs

    plan = explain_str(minhash_lsh_pairs(spark, SF), "simple")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_active(spark):
    """Under AQE the codegen annotation only appears per-stage at runtime, so
    inspect the statically-planned version: every operator between scan and
    exchange must sit inside a WholeStageCodegen span (no Python/UDF break)."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = explain_str(pricing_summary(spark, SF), "codegen")
        assert "WholeStageCodegen" in plan
        assert "Found 0 WholeStageCodegen" not in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def _optimized_plan(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


class TestLetBindingPinsSingleEvaluation:
    """Catalyst inlines sub-expressions into HOF lambda bodies, where they are
    re-evaluated PER ELEMENT (interpreted, no CSE) — a nested transform whose
    lambda captures an expensive expression goes quadratic per row. These pin
    the `let_once` bindings that force one-evaluation-per-row: the expensive
    sub-expression must appear exactly ONCE in the optimized plan."""

    def test_winnow_hashes_array_built_once(self, spark):
        from quantms_utils_spark.queries.textops import winnow_fps

        plan = _optimized_plan(winnow_fps(spark, SF))
        # one normalization regex and one k-gram md5 site — inlining into the
        # window-min lambda would duplicate them per window position
        assert plan.count("regexp_replace") == 1, plan
        assert plan.count("md5") == 1, plan

    def test_shingle_split_runs_once_per_row(self, spark):
        import pyspark.sql.functions as F

        from quantms_utils_spark.operators.dedup import minhash_signatures

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        sigs = minhash_signatures(docs, "doc_id", "text", 4, 3)
        plan = _optimized_plan(sigs)
        # filter(size >= n) legitimately re-splits once; the shingle build
        # must contribute exactly one more — per-gram re-splitting would put
        # split() inside the array_join lambda
        assert plan.count("split(") <= 2, plan

    def test_word_ngrams_normalizes_once_per_row(self, spark):
        import pyspark.sql.functions as F

        from quantms_utils_spark.operators.text import normalized_tokens, word_ngrams

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        grams = docs.select(
            word_ngrams(normalized_tokens(F.col("text")), 5).alias("g")
        )
        plan = _optimized_plan(grams)
        # the token array is let-bound: captured inside the per-gram slice
        # lambda, the regex replace would run once per n-gram
        assert plan.count("regexp_replace") == 1, plan

    def test_unit_vector_norm_computed_once(self, spark):
        import pyspark.sql.functions as F

        from quantms_utils_spark.operators.similarity import (
            _to_double,
            unit_vector,
        )

        emb = spark.read.parquet(f"{SF}/embeddings.parquet")
        normed = emb.select(
            "vec_id", unit_vector(_to_double(F.col("embedding"))).alias("u")
        )
        plan = _optimized_plan(normed)
        # the norm fold: exactly one aggregate(), as a let-bound argument —
        # CollapseProject would otherwise inline it into the divide lambda,
        # re-evaluating O(d) work per vector element
        assert plan.count("aggregate(") == 1, plan


def test_mixture_sample_rates_broadcast(spark):
    from quantms_utils_spark.queries.textops import mixture

    plan = explain_str(mixture(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ann_batch_is_broadcast_nested_loop_not_cartesian(spark):
    # The non-equi (id != q_id) join against a tiny broadcast query batch is
    # MEANT to be a BroadcastNestedLoopJoin — the batch is the broadcast
    # bound; what must never appear is a CartesianProduct or a shuffle of
    # the corpus vectors for the join.
    from quantms_utils_spark.queries.similarity import ann_batch_queries_topk

    plan = explain_str(ann_batch_queries_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_no_global_sort(spark):
    from quantms_utils_spark.queries.textops import pack

    plan = explain_str(pack(spark, SF))
    # per-group window: hash partitioning by source, never a range
    # (global-sort) exchange
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning(source" in plan


def test_quantize_is_map_only(spark):
    from quantms_utils_spark.queries.similarity import embedding_quantize_int8

    plan = explain_str(embedding_quantize_int8(spark, SF))
    assert "Exchange" not in plan


def test_prefix_filter_plan_no_cartesian(spark):
    """Prefix filtering must candidate-generate via the prefix-token
    equi-join — never a cartesian/BNLJ all-pairs stage."""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i} common tokens here now") for i in range(6)]
    )
    plan = (
        prefix_filter_pairs(df, "doc_id", "text", threshold=0.6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_layout_single_range_exchange(spark):
    """The layout rewrite is exactly one range repartition (plus its sort):
    no extra shuffles sneak in around the key computation."""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.layout import zorder_layout

    df = spark.createDataFrame(
        [Row(x=i % 8, y=i // 8) for i in range(64)]
    )
    plan = (
        zorder_layout(df, ["x", "y"], n_buckets=4, bits=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange rangepartitioning") == 1
    assert plan.count("Exchange hashpartitioning") == 0


def test_prefix_filter_single_tokenize_pass(spark):
    """The window-count rewrite must evaluate the tokenize/explode chain
    once: exactly one Generate (explode) feeds the document-frequency
    window + array rebuild. (The prefix stage adds its own posexplode —
    over the already-built arrays, not the raw text.)"""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.dedup import prefix_filter_pairs

    df = spark.createDataFrame(
        [Row(doc_id=i, text=f"w{i} common tokens here now") for i in range(6)]
    )
    plan = (
        prefix_filter_pairs(df, "doc_id", "text", threshold=0.6)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one explode of the shingle expression over raw text; a second
    # Generate exploding raw text would mean the old double-shingling plan
    assert plan.count("regexp_replace") <= 2  # once per self-join side


def test_duplicate_spans_no_self_join(spark):
    """Duplicate-span detection is reduction + window — a plan with any
    join would be the quadratic doc-pair formulation."""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.text import duplicate_spans

    df = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f g h i j") for i in range(4)]
    )
    plan = (
        duplicate_spans(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin", "ShuffledHashJoin"):
        assert join not in plan


def test_bigram_logprob_model_never_collected(spark):
    """The bigram 'model' is two window sums inside the one plan — no
    join against a collected/broadcast model table."""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.text import bigram_logprob

    df = spark.createDataFrame(
        [Row(doc_id=i, text="the cat sat on the mat") for i in range(4)]
    )
    plan = (
        bigram_logprob(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" in plan
    for join in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                 "BroadcastNestedLoopJoin"):
        assert join not in plan


def test_remove_duplicate_spans_no_cartesian(spark):
    """Span removal joins are all key-equi (gram, position) — never a
    cartesian/BNLJ pair enumeration."""
    from pyspark.sql import Row
    from quantms_utils_spark.operators.text import remove_duplicate_spans

    df = spark.createDataFrame(
        [Row(doc_id=i, text="a b c d e f g h i j") for i in range(4)]
    )
    plan = (
        remove_duplicate_spans(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_probe_broadcast_no_nested_loop(spark):
    """The Bloom position probe must be a broadcast-hash join of the sparse
    position set — never a shuffle of the corpus side against it, and never
    a nested-loop degradation."""
    from quantms_utils_spark.operators.sketches import (
        bloom_bit_positions,
        bloom_probe,
    )

    vals = spark.createDataFrame([(f"v{i}",) for i in range(50)], "g string")
    bloom = bloom_bit_positions(vals, "g", n_hashes=3, n_bits=1 << 16)
    plan = explain_str(
        bloom_probe(vals, bloom, ["g"], "g", 3, 1 << 16), "simple"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cms_estimate_sketch_broadcast(spark):
    """CMS estimation joins the (depth x width)-bounded cell table as the
    BROADCAST side; the probe side never shuffles against the sketch."""
    from quantms_utils_spark.operators.sketches import cms_build, cms_estimate

    toks = spark.createDataFrame([(f"t{i % 7}",) for i in range(100)], "tok string")
    sketch = cms_build(toks, "tok", 3, 64)
    plan = explain_str(
        cms_estimate(sketch, toks.distinct(), "tok", 3, 64), "simple"
    )
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_no_cartesian(spark):
    """SemDeDup pair generation goes through the tiled in-cell self-join —
    the plan may never contain an all-pairs cartesian/BNLJ stage."""
    from quantms_utils_spark.operators.similarity import semantic_dedup

    df = spark.createDataFrame(
        [(i, i % 2, [float(i), 1.0]) for i in range(8)],
        "vec_id long, cell int, embedding array<double>",
    )
    plan = explain_str(
        semantic_dedup(df, "vec_id", "embedding", "cell", threshold=0.9),
        "simple",
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sketch_queries_prune_document_columns(spark):
    """The new document scans must prune to the columns they use: the
    histogram and heavy hitters read ONLY text; the compaction planner only
    (source, text). A scan hauling all five columns for these is wrong at
    any scale."""
    from quantms_utils_spark.queries.sketchops import (
        compaction_plan,
        heavy_hitters_cms,
        length_histogram,
    )

    sf = "/root/testdata/sf0.001"

    def scan_cols(df):
        return {c for scan in read_schema_columns(df) for c in scan}

    cols_hist = scan_cols(length_histogram(spark, sf))
    assert "text" in cols_hist and "doc_id" not in cols_hist
    assert "lang" not in cols_hist and "n_chars" not in cols_hist

    cols_plan = scan_cols(compaction_plan(spark, sf))
    assert cols_plan == {"source", "text"}

    cols_hh = scan_cols(heavy_hitters_cms(spark, sf))
    assert "text" in cols_hh and "lang" not in cols_hh


def test_winsorize_bounds_broadcast(spark):
    """The per-group percentile bounds join back as the BROADCAST side —
    the fact table must not shuffle against a 5-row bounds table."""
    from quantms_utils_spark.queries.relational import event_value_winsorized

    plan = explain_str(event_value_winsorized(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_retention_cohort_join_no_nested_loop(spark):
    """The cohort join is an equi-join on the user key (broadcast at small
    scale, co-partitioned SMJ at large) — never a nested-loop plan."""
    from quantms_utils_spark.queries.relational import event_retention_cohorts

    plan = explain_str(event_retention_cohorts(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_interval_overlap_join_no_nested_loop(spark):
    """Interval-overlap joins must be binned equi-joins (ownership-deduped),
    never BNLJ/cartesian — and emit each overlapping pair exactly once."""
    from quantms_utils_spark.operators.joins import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 25.0), (2, 30.0, 35.0)], "lid long, lo double, hi double"
    )
    right = spark.createDataFrame(
        [(10, 20.0, 40.0), (11, 100.0, 110.0)],
        "rid long, lo double, hi double",
    )
    joined = interval_overlap_join(
        left, right, lo_col="lo", hi_col="hi", bin_width=10.0
    )
    plan = explain_str(joined, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    rows = {(r["lid"], r["rid_r"]) for r in joined.collect()}
    # (1,10) overlaps across several shared bins -> exactly one output row;
    # (2,10) overlaps in one bin; 11 overlaps nothing
    assert rows == {(1, 10), (2, 10)}
    assert joined.count() == 2


def test_inverted_postings_two_exchanges(spark):
    """Without max_df the index build is exactly two shuffles (tf
    aggregate, then the term-partitioned df window) over ONE corpus
    scan/explode — the window formulation must not re-derive tf for the
    df branch the way a groupBy+join-back would (ReuseExchange does not
    fire across column-pruned subtrees, verified round 9)."""
    from quantms_utils_spark.operators.retrieval import inverted_postings
    from quantms_utils_spark.tables import load

    df = inverted_postings(load(spark, SF, "documents"), min_df=2)
    plan = explain_str(df, "simple")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Generate posexplode") == 1
    assert plan.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_postings_max_df_whale_guard_plan(spark):
    """With max_df the salted whale pre-pass deliberately pays ONE extra
    pruned corpus pass (round 9) so no window partition can exceed
    max_df rows; the whale set joins back as a BROADCAST anti-join and
    nothing degenerates to a cartesian/BNLJ."""
    from quantms_utils_spark.operators.retrieval import inverted_postings
    from quantms_utils_spark.tables import load

    df = inverted_postings(load(spark, SF, "documents"), min_df=2, max_df=50)
    plan = explain_str(df, "simple")
    assert plan.count("FileScan parquet") == 2  # the documented trade
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_iteration_joins_are_not_nested_loop(spark):
    from quantms_utils_spark.operators.graph import pagerank

    e = spark.createDataFrame(
        [(i, (i * 7 + 1) % 50) for i in range(50)], "src long, dst long"
    )
    n = spark.createDataFrame([(i,) for i in range(50)], "id long")
    plan = explain_str(pagerank(e, n, iterations=2), "simple")
    assert "CartesianProduct" not in plan
    # the only BNLJ allowed is the broadcast single-row count dim
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line or "BuildLeft" in line


def test_scd2_two_windows_one_exchange_one_sort(spark):
    """Both SCD2 windows share partition key AND ordering, so Catalyst must
    plan a single Exchange and a single Sort — a second of either means the
    window specs drifted apart."""
    from quantms_utils_spark.queries.relational import event_scd2_intervals

    plan = explain_str(event_scd2_intervals(spark, SF), "simple")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Sort ") == 1


def test_cheapest_supplier_theta_join_factored_to_hash(spark):
    """The (p+s) % 7 = 0 offer predicate must plan as a broadcast HASH join
    on the derived residue class — not a nested loop over part x supplier."""
    from quantms_utils_spark.queries.relational import (
        cheapest_supplier_per_part,
    )

    plan = explain_str(cheapest_supplier_per_part(spark, SF), "simple")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_classics_no_nested_loop_and_broadcast_dims(spark):
    """Round-4 classics: every dimension join a BroadcastHashJoin; no
    CartesianProduct / BroadcastNestedLoopJoin anywhere except the
    documented 1-row scalar cross joins (important_parts / top_supplier
    broadcast a single aggregate row — those appear as BNLJ-with-1-row
    builds, which is the decorrelated-scalar shape, not a blow-up)."""
    from quantms_utils_spark.queries.classics import (
        customer_distribution,
        large_orders,
        market_share,
        parts_supplier_relationship,
        promotion_revenue,
        volume_shipping,
    )

    for fn in (
        volume_shipping,
        market_share,
        customer_distribution,
        parts_supplier_relationship,
        large_orders,
        promotion_revenue,
    ):
        plan = explain_str(fn(spark, SF), "simple")
        assert "CartesianProduct" not in plan, fn.__name__
        assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_large_orders_aggregates_before_probe(spark):
    """Q18 shape: the HAVING aggregate must sit BELOW the orders join —
    the qualifying-orderkey set is built first and probes orders, never
    the join-first formulation that shuffles the fact twice."""
    from quantms_utils_spark.queries.classics import large_orders

    plan = explain_str(large_orders(spark, SF), "formatted")
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("BroadcastHashJoin")
    assert agg_pos != -1 and join_pos != -1


def test_grouping_sets_single_expand(spark):
    """GROUPING SETS plans as ONE Expand feeding one aggregate — never
    three unioned scans."""
    from quantms_utils_spark.queries.relational import grouping_sets_revenue

    plan = explain_str(grouping_sets_revenue(spark, SF), "simple")
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") <= 1 or plan.count("FileScan") <= 1


def test_gap_fill_no_calendar_join(spark):
    """The day spine is GENERATED (sequence+explode), not joined against a
    calendar table: exactly one parquet scan (events), no nested loop."""
    from quantms_utils_spark.queries.pathops import event_gap_fill

    df = event_gap_fill(spark, SF)
    plan = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    schemas = read_schema_columns(df)
    assert len(schemas) <= 2  # events read for daily + span, nothing else


def test_centroid_shift_no_pairwise_stage(spark):
    """Drift monitor: component aggregate only — no vector-vector join,
    no collect, no cartesian pair space."""
    from quantms_utils_spark.queries.similarity import embedding_centroid_shift

    plan = explain_str(embedding_centroid_shift(spark, SF), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_classics_ii_plans(spark):
    """Q17/Q19/Q20/Q22 shapes: no cartesian, no nested loop except Q22's
    documented 1-row scalar broadcast; every dimension and decorrelated
    aggregate arrives by broadcast hash join."""
    from quantms_utils_spark.queries.classics import (
        disjunctive_revenue,
        dormant_customer_opportunity,
        excess_shipment_suppliers,
        small_quantity_revenue,
    )

    for fn, allow_bnlj in (
        (small_quantity_revenue, False),
        (disjunctive_revenue, False),
        (excess_shipment_suppliers, False),
        (dormant_customer_opportunity, True),  # 1-row scalar crossJoin
    ):
        plan = explain_str(fn(spark, SF), "simple")
        assert "CartesianProduct" not in plan, fn.__name__
        if not allow_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, fn.__name__
        assert "BroadcastHashJoin" in plan, fn.__name__


def test_small_quantity_per_part_agg_broadcast_back(spark):
    """Q17 decorrelation: the per-part average joins BACK by broadcast —
    the correlated re-scan a naive translation produces is absent (one
    lineitem scan per side of the self-join is expected; three scans or
    a sort-merge join on partkey is the regression)."""
    from quantms_utils_spark.queries.classics import small_quantity_revenue

    plan = explain_str(small_quantity_revenue(spark, SF), "simple")
    assert "SortMergeJoin" not in plan


def test_pattern_match_single_user_shuffle_no_udf(spark):
    """CEP batch query: one exchange on user_id; the regex runs JVM-side
    (no Python evaluation anywhere in the plan)."""
    from quantms_utils_spark.queries.pathops import event_pattern_match

    df = event_pattern_match(spark, SF)
    plan = explain_str(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_window_then_tiny_agg(spark):
    """Last-touch attribution: one window exchange over events, aggregate
    lands on the |channels|-row frame; no join at all in the plan."""
    from quantms_utils_spark.queries.pathops import event_attribution_last_touch

    plan = explain_str(event_attribution_last_touch(spark, SF), "simple")
    assert "Join" not in plan
    assert plan.count("Exchange") <= 3  # window shuffle + agg + final sort


def test_hhi_fact_shuffles_once(spark):
    """HHI: the lineitem fact reaches exactly one shuffle-producing
    aggregate; the share window and final rollup run on the aggregated
    cell frame."""
    from quantms_utils_spark.queries.relational import supplier_concentration_hhi

    df = supplier_concentration_hhi(spark, SF)
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    schemas = read_schema_columns(df)
    li = [s for s in schemas if any(c.startswith("l_") for c in s)]
    assert li and sorted(li[0]) == [
        "l_discount", "l_extendedprice", "l_partkey", "l_suppkey",
    ]  # 4 of 11 lineitem columns read


def test_bootstrap_fans_out_before_explode(spark):
    """The x50 replicate explode must sit ABOVE a round-robin exchange —
    a single-file scan would otherwise serialize the whole blowup in one
    task."""
    from quantms_utils_spark.queries.mlops import event_bootstrap_ci

    plan = explain_str(event_bootstrap_ci(spark, SF), "formatted")
    rr = plan.find("RoundRobinPartitioning")
    gen = plan.find("Generate")
    assert rr != -1, "fan-out exchange missing"
    assert gen != -1


def test_lateral_join_decorrelates_to_window(spark):
    """The per-nation LIMIT 2 lateral subquery must plan as a rank window
    over one shuffle — not a nested-loop re-execution per outer row."""
    from quantms_utils_spark.queries.relational import lateral_top_customers

    plan = explain_str(lateral_top_customers(spark, SF), "simple")
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's runtime skew handling — the safety net behind every unsalted
    large join at 100 TB — actually fires: with a 95%-hot key and test-
    scaled thresholds, the executed plan shows SortMergeJoin(skew=true)
    with a skewed AQEShuffleRead, and the result equals the plain join.
    (The explicit-salt operator `skew_salted_join_agg` is the
    deterministic twin; this pins the engine-side fallback.)"""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 95, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k")
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert len(rows) == 200_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_select_list_scalar_subquery_decorrelates(spark):
    """The per-row customer-average subquery must plan as one aggregate
    joined back — not a per-row re-execution (no nested loop, no extra
    exchange storm)."""
    from quantms_utils_spark.queries.relational import orders_vs_customer_avg

    plan = explain_str(orders_vs_customer_avg(spark, SF), "simple")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_join_strategy_hints_control_physical_join(spark, tmp_path):
    from pyspark.sql import functions as F

    """The three join-strategy levers a 100 TB tuner actually pulls:
    beyond the broadcast threshold the default is a sort-merge join;
    hint('SHUFFLE_HASH') swaps the sort for a hash build (cheaper when
    one side is modestly larger but sorts are the bottleneck);
    hint('BROADCAST') forces the map-side join regardless of stats."""
    big = spark.range(0, 200_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v")
    )
    other = spark.range(0, 100_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("w")
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        default_plan = big.join(other, "k")._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in default_plan
        sh_plan = big.join(other.hint("SHUFFLE_HASH"), "k")._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in sh_plan
        b_plan = big.join(other.hint("BROADCAST"), "k")._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in b_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_max_partition_bytes_splits_scan(spark, tmp_path):
    from pyspark.sql import functions as F

    """spark.sql.files.maxPartitionBytes governs scan parallelism — the
    knob that turns one multi-GB object-store file into many tasks. A
    single ~6 MB parquet file must split into multiple input partitions
    when the cap drops to 1 MB (and collapse to one at 128 MB)."""
    path = str(tmp_path / "one_big_file")
    spark.range(0, 1_500_000).select(
        F.col("id"), F.sha2(F.col("id").cast("string"), 256).alias("pad")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1m")
        many = spark.read.parquet(path).rdd.getNumPartitions()
        spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        one = spark.read.parquet(path).rdd.getNumPartitions()
        assert many > one >= 1, (many, one)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_aqe_coalesces_small_shuffle_partitions(spark):
    from pyspark.sql import functions as F

    """AQE's partition coalescing: a 64-partition shuffle over tiny data
    must execute with far fewer reducers (AQEShuffleRead coalesced) —
    the runtime fix for the over-partitioned-shuffle anti-pattern."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        df = (
            spark.range(0, 10_000)
            .select((F.col("id") % 50).alias("k"))
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        df.collect()  # materialize so AQE finalizes the plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_unshipped_orders_q3_plan_shape(spark):
    """Q3 shape: segment dim reaches orders as a BROADCAST semi-join, the
    date predicates push into both parquet scans, and the top-10 is a
    TakeOrderedAndProject (never a global sort of the aggregate)."""
    from quantms_utils_spark.queries.classics import unshipped_orders_revenue

    df = unshipped_orders_revenue(spark, SF)
    plan = explain_str(df)
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed and "l_shipdate" in pushed
    assert "c_mktsegment" in pushed


def test_cuped_single_pass_no_global_sort(spark):
    """CUPED: one per-user conditional-sum aggregate + one 1-row moment
    aggregate — two exchanges total (user hash + final single-partition
    of ONE row), partial aggregation map-side, and no Sort anywhere."""
    from quantms_utils_spark.queries.mlops import event_cuped_ab_lift

    df = event_cuped_ab_lift(spark, SF)
    plan = explain_str(df)
    # tree nodes only (the formatted details repeat each operator)
    assert plan.count("+- Exchange") <= 3  # fan-out + user groupBy + 1-row final
    assert "partial_" in plan
    assert "Sort " not in plan and "SortMergeJoin" not in plan


def test_bloom_manifest_build_plan(spark):
    """Bloom-manifest build: the column scan reads ONLY the probe column
    (plus file metadata), and the bitmap packs through hash aggregates —
    no sort-based aggregation, no join until the tiny n_values attach."""
    from quantms_utils_spark.operators.layout import file_bloom_manifest

    man = file_bloom_manifest(
        spark, f"{SF}/documents.parquet", "source", m_bits=512, k=3
    )
    schemas = read_schema_columns(man)
    assert schemas and all(cols == ["source"] for cols in schemas)
    plan = explain_str(man)
    assert "HashAggregate" in plan


def test_kmv_sketch_no_global_window(spark):
    """KMV build: the two-level pigeonhole top-k must partition its window
    by (group, bucket) — never a global (unpartitioned) window sort."""
    from pyspark.sql import functions as F

    from quantms_utils_spark.operators.sketches import kmv_sketch
    from quantms_utils_spark.tables import load

    o = load(spark, SF, "orders").select(
        (F.year("o_orderdate")).alias("y"), "o_custkey"
    )
    sk = kmv_sketch(o, ["y"], "o_custkey", k=64)
    plan = explain_str(sk)
    import re

    specs = re.findall(r"windowspecdefinition\(([^,)]+)", plan)
    assert specs, "expected a window node"
    # a GLOBAL window's spec starts with the ORDER expression ("... ASC");
    # a partitioned one starts with a partition column
    assert all(" ASC" not in s and " DESC" not in s for s in specs)
    # and the rank filter pushed into the shuffle as a group-limit
    assert "WindowGroupLimit" in plan
