"""Physical-plan regression tests: the scale properties the engine is
designed around must survive refactors — single-window reconstruction,
broadcast (not shuffle) joins against small live tables, and filter/column
pushdown into parquet scans. These assert on the executed plan text, which
is the same surface `.explain("formatted")` prints."""

import re

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted(df) -> str:
    """Full `explain("formatted")` text — node toString() truncates long
    PushedFilters lists, this does not."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_delta_reconstruction_is_single_window_plus_broadcast(spark):
    from audit_star_spark.queries_audit import q_audit_delta

    plan = _plan(q_audit_delta(spark, SF_DIR))
    # one Window node for ALL per-column next-before lookups (the B2
    # rewrite), one for the live-side latest-row derivation
    assert plan.count("+- Window [") <= 2, plan
    # live table joins via broadcast; a shuffled join here would add a
    # full exchange of the log on every query
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_reconstruction_window_carries_all_columns(spark):
    """Per-column withColumn would emit one Window node each; the single
    node must carry every __nb_* expression."""
    from audit_star_spark.operators.reconstruct import delta_view
    from audit_star_spark.plans.logstore import cached_users_log

    log, live, spec = cached_users_log(spark, SF_DIR)
    plan = _plan(delta_view(log, live, spec))
    window_nodes = [ln for ln in plan.splitlines() if "+- Window [" in ln]
    # the growing frame (newest version down to the row before this one)
    reconstruction = [
        ln for ln in window_nodes if "unboundedpreceding$(), -1)" in ln
    ]
    assert len(reconstruction) == 1, window_nodes
    # all four user-table columns resolved inside that one node
    assert reconstruction[0].count("last(") == len(spec.columns)


def test_filter_and_column_pushdown_reach_parquet_scan(spark):
    from audit_star_spark.sources.testdata import load_table

    df = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_shipdate") > "1995-01-01")
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    scan = plan[plan.index("FileScan") :]
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in scan
    # column pruning: the scan must not read the full 16-column schema
    m = re.search(r"ReadSchema: struct<([^>]*)", scan)
    assert m and len(m.group(1).split(",")) <= 3, m.group(0)


def test_small_dimension_joins_broadcast(spark):
    from audit_star_spark.queries_relational import q5_local_supplier

    plan = _plan(q5_local_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_topk_uses_window_group_limit(spark):
    """Per-group top-k must run the rank-pushdown WindowGroupLimit (a
    partial top-k before the shuffle), not a full sort of every group."""
    from audit_star_spark.queries_relational import q_top_orders_per_segment

    plan = _plan(q_top_orders_per_segment(spark, SF_DIR))
    assert "WindowGroupLimit" in plan


def test_q6_predicates_push_into_scan_and_no_shuffle_of_rows(spark):
    """The whole Q6 WHERE clause must reach the parquet scan; the only
    exchange in the plan is the single-row partial/final agg handoff."""
    from audit_star_spark.queries_relational import q_revenue_forecast

    plan = _formatted(q_revenue_forecast(spark, SF_DIR))
    scan = plan[plan.index("PushedFilters") :]
    for pushed in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.04)",
        "LessThanOrEqual(l_discount,0.06)",
        "LessThan(l_quantity,24.0)",
    ):
        assert pushed in scan, scan[:800]
    m = re.search(r"ReadSchema: struct<([^>]*)", scan)
    assert m and len(m.group(1).split(",")) <= 4, m.group(0)


def test_q19_common_conjuncts_push_below_join(spark):
    """Catalyst must extract the predicates common to all OR branches
    (quantity and size bounds) and push them into both scans rather than
    evaluating the whole disjunction post-join."""
    from audit_star_spark.queries_relational import q_branded_revenue

    df = q_branded_revenue(spark, SF_DIR)
    assert "BroadcastHashJoin" in _plan(df)
    plan = _formatted(df)
    li_scan = plan[plan.index("Location") :]  # lineitem scan section
    li_scan = li_scan[: li_scan.index("part.parquet")]
    # the full per-side disjunction is pushed, not just min/max bounds
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in li_scan
    assert "LessThanOrEqual(l_quantity,30.0)" in li_scan
    p_scan = plan[plan.index("part.parquet") :]
    assert "GreaterThanOrEqual(p_size,1)" in p_scan
    assert "Or(Or(And(EqualTo(p_brand,Brand#12)" in p_scan


def test_global_topk_avoids_total_sort(spark):
    from audit_star_spark.queries_relational import q_top_orders_global

    plan = _plan(q_top_orders_global(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan  # no global sort node


def test_not_in_exclusion_is_broadcast_anti_join(spark):
    from audit_star_spark.queries_relational import q_supplier_part_variety

    plan = _plan(q_supplier_part_variety(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_scalar_max_equality_is_broadcast_not_window(spark):
    """Q15 shape: the global max joins back as a 1-row broadcast; a window
    over a single partition would serialize the whole aggregate on one
    task."""
    from audit_star_spark.queries_relational import q_top_revenue_supplier

    plan = _plan(q_top_revenue_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "Window [" not in plan


def test_global_scalar_having_is_one_row_nested_loop(spark):
    """Q11 shape: the inequality join against the 1-row threshold must be
    a broadcast nested loop over one row, not a cartesian product."""
    from audit_star_spark.queries_relational import q_important_parts

    plan = _plan(q_important_parts(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_large_volume_reuses_single_lineitem_agg(spark):
    """Q18 shape: grouped totals are computed once and reused as both the
    semi-filter and the output column — exactly one lineitem scan."""
    from audit_star_spark.queries_relational import q_large_volume_customers

    plan = _plan(q_large_volume_customers(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1, plan


def test_min_cost_filters_before_window(spark):
    """Q2 shape: the broadcast part-filter join must run below the
    min-window so the shuffle carries only size-15 parts."""
    from audit_star_spark.queries_relational import q_min_cost_supplier

    plan = _plan(q_min_cost_supplier(spark, SF_DIR))
    w = plan.index("Window [")
    assert "BroadcastHashJoin" in plan[w:], "part filter join must be below the window"


def test_blamed_suppliers_single_scan_no_expand(spark):
    """Q21 shape: EXISTS + NOT EXISTS collapse into a two-level grouped
    pass — lineitem is scanned ONCE (the textbook correlated form scans it
    four times), and no Expand node (the countDistinct formulation would
    double every shuffled row)."""
    from audit_star_spark.queries_relational import q_blamed_suppliers

    plan = _plan(q_blamed_suppliers(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1, plan
    assert "Expand" not in plan, plan


def test_nation_pair_disjunction_stays_above_broadcast_joins(spark):
    """Q7 shape: the OR-of-nation-pairs predicate cannot become a join
    key; the big joins stay equi-joins and the nation sides broadcast —
    no nested-loop or cartesian fallback."""
    from audit_star_spark.queries_relational import q_nation_trade_volume

    plan = _plan(q_nation_trade_volume(spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_market_share_is_single_aggregate(spark):
    """Q8 shape: numerator and denominator come from ONE aggregation with
    a conditional sum — not a self-join of two aggregates."""
    from audit_star_spark.queries_relational import q_nation_market_share

    plan = _plan(q_nation_market_share(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1, plan


def test_token_topk_partial_aggregates_before_shuffle(spark):
    """Vocabulary induction: the exploded token stream must partial-count
    per partition before the shuffle, and the global top-k must be
    TakeOrderedAndProject (per-partition heaps), not a full sort."""
    from audit_star_spark.analytics.text import token_topk
    from audit_star_spark.sources.testdata import load_table

    plan = _plan(token_topk(load_table(spark, SF_DIR, "documents")))
    assert "partial_count" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_like_predicate_pushes_as_string_contains(spark):
    """Q9 shape: p_name LIKE '%red%' must reach the part scan as a
    StringContains parquet filter, and the filtered dimension broadcasts."""
    from audit_star_spark.queries_relational import q_part_type_profit

    df = q_part_type_profit(spark, SF_DIR)
    plan = _formatted(df)
    p_scan = plan[plan.index("part.parquet") :]
    assert "StringContains(p_name,red)" in p_scan, p_scan[:600]
    assert "BroadcastHashJoin" in _plan(df)


def test_latest_state_is_single_aggregation_no_window_no_join(spark):
    """Log-only rebuild: ONE keyed aggregation (partial + final) over one
    shuffle — no window, no join. Struct-valued max() buffers are not
    hash-map-mutable, so Spark plans SortAggregate rather than
    HashAggregate; the partial side still combines map-side, which is the
    property that matters at log scale."""
    from audit_star_spark.operators.reconstruct import latest_state
    from audit_star_spark.plans.logstore import cached_users_log

    log, _, spec = cached_users_log(spark, SF_DIR, payload=True)
    plan = _plan(latest_state(log, spec))
    assert "Window" not in plan
    assert "Join" not in plan
    assert plan.count("SortAggregate") == 2, plan  # partial + final
    assert "partial_max" in plan


def test_dominant_suppliers_reaggregates_not_rescans(spark):
    """Q20 shape: part totals re-aggregate the PERSISTED (supplier, part)
    rollup — both consumers must read InMemoryTableScan (the plan text
    prints the cached lineage twice, but execution scans lineitem once)."""
    from audit_star_spark.queries_relational import q_dominant_suppliers

    plan = _plan(q_dominant_suppliers(spark, SF_DIR))
    assert plan.count("InMemoryTableScan") == 2, plan


def test_returned_items_broadcasts_dims_and_pushes_filters(spark):
    """Q10 shape: the returnflag filter reaches the lineitem scan, the date
    range reaches the orders scan, and customer/nation join via broadcast —
    the only exchange is the final groupBy on the customer key."""
    from audit_star_spark.queries_relational import q_returned_item_customers

    df = q_returned_item_customers(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") == 3, plan
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject(limit=20" in plan
    fmt = _formatted(df)
    assert "EqualTo(l_returnflag,R)" in fmt
    assert "GreaterThanOrEqual(o_orderdate,1996-01-01" in fmt


def test_ship_latency_single_exchange_after_partial_agg(spark):
    """Q12 shape: the date range lands on the lineitem scan, the CASE
    bucketing happens pre-shuffle, and only partial aggregates cross the
    single exchange (3 groups x 2 sums, not the joined rows)."""
    from audit_star_spark.queries_relational import q_ship_latency_priority

    df = q_ship_latency_priority(spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_sum" in plan
    fmt = _formatted(df)
    assert "GreaterThanOrEqual(l_shipdate,1996-01-01" in fmt
    m = re.search(r"lineitem.*?ReadSchema: struct<([^>]*)", fmt, re.S)
    assert m and len(m.group(1).split(",")) == 2, m.group(0)


def test_grouping_sets_is_single_expand_single_exchange(spark):
    """Three grouping sets = one Expand node (3 projections) feeding one
    partial/final agg pair — not three scans or three aggregations."""
    from audit_star_spark.queries_relational import q_priority_year_sets

    plan = _plan(q_priority_year_sets(spark, SF_DIR))
    assert plan.count("+- Expand") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan


def test_unpivot_expands_in_row_without_join(spark):
    """Unpivot is a per-row Expand; no join or union of per-measure scans."""
    from audit_star_spark.queries_relational import q_quantity_discount_long

    plan = _plan(q_quantity_discount_long(spark, SF_DIR))
    assert plan.count("+- Expand") == 1, plan
    assert "Join" not in plan and "Union" not in plan, plan
    # single lineitem scan, two measure columns + keys only
    assert plan.count("FileScan parquet") == 1


def test_simhash_packed_is_arrow_eval_no_shuffle(spark):
    """The r2 SimHash winner: token hashing in codegen'd Project nodes, the
    majority vote in ONE ArrowEvalPython stage, and no Exchange anywhere —
    the operator must stay embarrassingly parallel."""
    from audit_star_spark.analytics.dedup import simhash_fingerprints
    from audit_star_spark.sources.testdata import load_table

    docs = load_table(spark, SF_DIR, "documents")
    plan = _plan(simhash_fingerprints(docs))
    assert "ArrowEvalPython" in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    # row-at-a-time python eval must never appear
    assert "BatchEvalPython" not in plan, plan


def test_label_nn_salted_join_keys_include_salt(spark):
    """Hot-label guard (opt-in): with salt_buckets > 1 the within-label
    self-join must key on (label, salt) so one hot label spreads over
    salt_buckets tasks. The default path relies on AQE skew-join instead
    (balanced-case tax measured 3x, see similarity.py docstring)."""
    from audit_star_spark.analytics.similarity import label_nearest_neighbor
    from audit_star_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(label_nearest_neighbor(emb, salt_buckets=8))
    join_lines = [ln for ln in plan.splitlines() if "Join [" in ln]
    assert join_lines, plan
    # every equi-join key list must carry salt alongside label (small-SF
    # plans may broadcast; at scale the same keys drive the shuffle)
    assert any("salt" in ln and "label" in ln for ln in join_lines), join_lines


def test_label_nn_unsalted_has_no_generate_and_partial_agg(spark):
    """Default (salt_buckets=1) label-NN: no Generate node may appear —
    the r02 bench showed the vestigial explode(sequence(0,0)) costs 3×
    by breaking codegen over the B-side scan. The argmax must be a
    partial-aggregated HashAggregate (max_by struct), not a row_number
    window, so the post-join exchange carries one row per vec_id."""
    from audit_star_spark.analytics.similarity import label_nearest_neighbor
    from audit_star_spark.sources.testdata import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    plan = _plan(label_nearest_neighbor(emb))
    assert "Generate" not in plan, plan
    assert "Window" not in plan, plan
    assert "partial_max" in plan or "HashAggregate" in plan, plan


def test_approx_percentiles_broadcasts_and_never_sorts(spark):
    """The scale-path percentile contract check: the tiny per-flag approx
    values must broadcast back onto lineitem (never shuffle the fact
    table), and no Sort may appear anywhere — the entire point of the
    approx variant is that no per-group value buffer or sort exists."""
    from audit_star_spark.queries_relational import q_price_percentiles_approx

    plan = _plan(q_price_percentiles_approx(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Sort [" not in plan, plan


def test_jpeg_gate_stays_narrow(spark):
    """jpeg_meta: synth + encode + decode are all mapInPandas over the
    documents scan — no Exchange may appear after the initial spread
    repartition; the codec work is embarrassingly parallel."""
    from audit_star_spark.queries_analytics import q_jpeg_meta

    plan = _plan(q_jpeg_meta(spark, SF_DIR))
    # the only exchange is spread()'s round-robin of the single-file scan
    assert plan.count("Exchange") <= 1, plan
    assert "BatchEvalPython" not in plan, plan  # Arrow path only


def test_span_dedup_single_scan_no_join(spark):
    """Span-level dedup: ONE corpus scan, at most three keyed exchanges
    ((doc,span) distinct, span window, doc rollup), and NO join — the
    join formulation rescanned the corpus and doubled the exchanges."""
    from audit_star_spark.queries_analytics import q_span_dedup

    plan = _plan(q_span_dedup(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 3, plan
    assert "Join" not in plan, plan


def test_source_tfidf_broadcasts_df_side(spark):
    """Per-source TF-IDF: the document-frequency table is vocab-sized —
    it must broadcast onto the (source, term) aggregate, never shuffle
    it; the only corpus-sized exchange is the term-count aggregate's."""
    from audit_star_spark.queries_analytics import q_source_tfidf

    plan = _plan(q_source_tfidf(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_contamination_broadcasts_probe_side(spark):
    """Decontamination: the probe (eval-set) side must broadcast — the
    corpus side never shuffles before its map-side-combined count."""
    from audit_star_spark.queries_analytics import q_benchmark_contamination

    plan = _plan(q_benchmark_contamination(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_boilerplate_partial_aggregates_before_shuffle(spark):
    """Boilerplate phrase counting must partial-aggregate map-side: the
    shuffle carries per-partition distinct phrases, not the exploded
    phrase stream."""
    from audit_star_spark.queries_analytics import q_boilerplate_phrases

    plan = _plan(q_boilerplate_phrases(spark, SF_DIR))
    agg_nodes = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    partial = [ln for ln in agg_nodes if "partial_count" in ln]
    assert partial, agg_nodes
    exch = plan.index("Exchange hashpartitioning")
    assert plan.index(partial[0]) > exch  # partial agg is BELOW the exchange


def test_repetition_stats_is_zero_shuffle_projection(spark):
    """Repetition signals are per-document: the whole operator must be a
    scan + projections — no key-partitioned exchange, no aggregate, no
    join (the in-row sorted-run rewrite; an explode+groupBy shape would
    shuffle the corpus's entire gram stream to compute a row-local stat)."""
    from audit_star_spark.queries_analytics import q_repetition_stats

    plan = _plan(q_repetition_stats(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Join" not in plan, plan


def test_quality_gate_is_zero_shuffle_single_scan(spark):
    """The gopher gate composes only per-row signals: one scan, no join
    of the corpus against itself, no exchange."""
    from audit_star_spark.queries_analytics import q_quality_flags

    plan = _plan(q_quality_flags(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan


def test_pii_scan_is_pure_projection_no_exchange(spark):
    """PII scanning is per-row regexp algebra — a key-partitioned shuffle
    here would be a scale bug (the operator must scan-project without
    re-keying; the explicit round-robin `spread` of a one-split local scan
    is allowed, and is a no-op on a many-split production scan)."""
    from audit_star_spark.queries_analytics import q_pii_scan

    plan = _plan(q_pii_scan(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "HashAggregate" not in plan, plan


def test_semantic_dedup_broadcasts_centroids_no_allpairs(spark):
    """SemDeDup: the centroid table joins via broadcast (never shuffled)
    and the only self-join is cell-blocked — no cartesian product."""
    from audit_star_spark.queries_analytics import q_semantic_dedup

    plan = _plan(q_semantic_dedup(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_char_entropy_partial_aggregates_before_shuffle(spark):
    """Char counting partial-aggregates map-side: the shuffle carries
    (doc, char) counts, not one row per character of the corpus."""
    from audit_star_spark.queries_analytics import q_char_entropy

    plan = _plan(q_char_entropy(spark, SF_DIR))
    agg_nodes = [ln for ln in plan.splitlines() if "HashAggregate" in ln]
    partial = [ln for ln in agg_nodes if "partial_count" in ln]
    assert partial, agg_nodes
    assert "Exchange hashpartitioning" in plan


def test_doc_chunks_is_narrow_explode_no_exchange(spark):
    """Chunking is an in-row 1:N fan-out: scan -> generate/explode ->
    project. Any key-partitioned exchange would mean the operator shuffles
    the corpus to slice rows it already holds."""
    from audit_star_spark.queries_analytics import q_doc_chunks

    plan = _plan(q_doc_chunks(spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Generate explode" in plan, plan


def test_sequence_packing_single_split_keyed_exchange(spark):
    """Packing needs exactly ONE shuffle (the split-keyed window sort);
    the cumulative sum must not add a second exchange."""
    from audit_star_spark.queries_analytics import q_sequence_packing

    plan = _plan(q_sequence_packing(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Window [" in plan, plan


def test_orders_profile_two_pruned_scans_no_corpus_sort(spark):
    """The multi-distinct Expand branch must HASH-aggregate (all its
    buffers are fixed-width), which caps the plan at exactly TWO scans:
    the Expand branch and the string-min/max branch (whose var-length
    buffers would otherwise force the whole Expand through a
    SortAggregate with a full sort of rows x |cols|+1 on every grouping
    key — r14). The string branch is column-pruned to the string
    columns and keyless, so NO Sort node appears anywhere; per-column
    rows still come from one in-plan struct explode, never a scan per
    column."""
    from audit_star_spark.queries_analytics import q_orders_profile

    plan = _plan(q_orders_profile(spark, SF_DIR))
    assert plan.count("FileScan parquet") == 2, plan
    assert "Sort [" not in plan, plan
    assert "Expand" in plan, plan
    # the Expand feeds a hash aggregate, not a sort aggregate
    import re

    m = re.search(r"(\w+Aggregate)[^\n]*\n[^\n]*Expand", plan)
    assert m and m.group(1) == "HashAggregate", plan


def test_heavy_hitters_topk_no_total_sort(spark):
    """The top-k is TakeOrderedAndProject over the keyed counts plus a
    1-row broadcast of the totals — no global Sort node."""
    from audit_star_spark.queries_analytics import q_event_heavy_hitters

    plan = _plan(q_event_heavy_hitters(spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan, plan


def test_html_extract_stays_jvm_side(spark):
    """The regex pipeline is pure expression algebra: no Python worker
    node (mapInPandas/BatchEvalPython) and no exchange — one projection
    over the scan."""
    from audit_star_spark.queries_analytics import q_html_extract

    plan = _plan(q_html_extract(spark, SF_DIR))
    assert "Exchange" not in plan, plan
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in plan, plan


def test_resample_aggregates_before_densify(spark):
    """The LOCF window and spine join run over the aggregated bucket
    grid: the window input side must contain the hash aggregate, and the
    raw scan feeds an aggregate before any join."""
    from audit_star_spark.queries_analytics import q_event_resample

    plan = _plan(q_event_resample(spark, SF_DIR))
    assert "Window [" in plan, plan
    assert "HashAggregate" in plan, plan
    # gap-filled series joins spine<->agg; the 1-row bounds cross join is
    # the sanctioned BroadcastNestedLoopJoin, never a CartesianProduct
    assert "CartesianProduct" not in plan, plan


# ------------------------------------------------- round-4 operator locks
def test_script_profile_is_zero_shuffle_codegen(spark):
    """Unicode-script census: one scan, pure expression projection — no
    exchange of any kind."""
    from audit_star_spark.analytics.text import script_profile
    from audit_star_spark.sources.testdata import load_table

    plan = _plan(script_profile(load_table(spark, SF_DIR, "documents")))
    assert "Exchange" not in plan, plan
    # toString spells whole-stage codegen as the "*(n)" stage prefix
    assert "*(1) Project" in plan, plan


def test_url_census_is_single_keyed_exchange(spark):
    """Canonical-URL census: normalization is in-row; the only exchange
    is the normalized-key aggregate (plus map-side partial combine)."""
    from audit_star_spark.analytics.html import url_census

    links = spark.createDataFrame(
        [(1, "http://A.com:80/x?utm_a=1")], "doc_id long, url string"
    )
    plan = _plan(url_census(links))
    # two hash exchanges: the (url_norm, url) partial of the two-phase
    # COUNT DISTINCT, then the url_norm-keyed final — both map-side
    # combined; no join, no window
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "partial_count" in plan, plan


def test_multiband_simhash_join_is_hash_join_no_nested_loop(spark):
    """Multi-band blocking must stay an equi join on (band, val)."""
    from audit_star_spark.analytics.dedup import simhash_near_pairs
    from audit_star_spark.sources.testdata import load_table

    plan = _plan(simhash_near_pairs(load_table(spark, SF_DIR, "documents")))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_video_operators_are_narrow(spark):
    """Container parse and frame decode are mapInPandas over the scan —
    no shuffle anywhere in either plan."""
    from audit_star_spark.analytics.multimodal import (
        encode_avi_mjpeg,
        video_frame_means,
        video_meta,
    )
    import numpy as np

    media = spark.createDataFrame(
        [(0, bytearray(encode_avi_mjpeg([np.zeros((8, 8, 1), dtype=np.uint8)])))],
        "doc_id long, payload binary",
    )
    for df in (video_meta(media), video_frame_means(media)):
        plan = _plan(df)
        assert "Exchange" not in plan, plan


def test_retention_cohorts_single_scan_two_exchanges(spark):
    """collect_set single-pass: one events scan, one user-keyed exchange
    plus the tiny cohort-grid aggregate — no window, no join."""
    from audit_star_spark.analytics.timeseries import retention_cohorts
    from audit_star_spark.sources.testdata import load_table

    plan = _plan(retention_cohorts(load_table(spark, SF_DIR, "events")))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("events.parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
