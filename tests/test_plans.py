"""Physical-plan assertions — the scale properties that matter at 100 TB,
locked in as tests: filters reach the parquet scan, small dims broadcast,
fact-fact joins sort-merge, top-k prunes below the shuffle, and column
pruning keeps unused columns out of the scan."""

from __future__ import annotations

from pyspark.sql import functions as F

from kinesis2sse_spark.registry import all_queries
from tests.conftest import SF_CORRECTNESS


def _analyzed(spark, name: str) -> str:
    """Analyzed LOGICAL plan — where user-forced broadcast hints still
    print as `ResolvedHint (strategy=broadcast)` nodes, before the
    optimizer folds them into join nodes. Used to lock the ABSENCE of
    forced hints on corpus-growing relations (the planner/AQE may still
    CHOOSE broadcast from measured sizes; that is fine and invisible
    here)."""
    spark.catalog.clearCache()
    df = all_queries()[name](spark, SF_CORRECTNESS)
    return df._jdf.queryExecution().analyzed().toString()


def _plan(spark, name: str) -> str:
    # clear cross-query cache state first: a persist() registered by an
    # earlier test's query (e.g. sessions_max_concurrency caching the
    # sessionize_batch relation) would otherwise swap this query's
    # subtree for an InMemoryTableScan and make plan shapes
    # order-dependent; the query's OWN persists re-register below
    spark.catalog.clearCache()
    df = all_queries()[name](spark, SF_CORRECTNESS)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filters_pushed_to_scan(spark):
    plan = _plan(spark, "predicate_forms")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(o_orderstatus)" in plan or "In(o_orderstatus" in plan


def test_small_dim_broadcasts(spark):
    plan = _plan(spark, "join_broadcast_inner")
    assert "BroadcastHashJoin" in plan
    # the fact side must NOT shuffle for the join (only the agg exchanges)
    assert "BroadcastExchange" in plan


def test_fact_fact_sort_merge(spark):
    assert "SortMergeJoin" in _plan(spark, "join_sort_merge")


def test_semi_anti_strategies(spark):
    assert "LeftSemi" in _plan(spark, "join_left_semi")
    assert "LeftAnti" in _plan(spark, "join_left_anti")


def test_topk_prunes_below_shuffle(spark):
    # WindowGroupLimit pushes per-partition top-k below the exchange, so
    # only k rows per group per mapper shuffle
    assert "WindowGroupLimit" in _plan(spark, "topk_per_group")


def test_global_topn_avoids_full_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "sort_limit_topn")


def test_column_pruning(spark):
    # q1 never touches partkey/suppkey — they must not be read
    plan = _plan(spark, "q1_pricing_summary")
    scan = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan, "no parquet scan with ReadSchema found"
    assert "l_partkey" not in scan[0]
    assert "l_extendedprice" in scan[0]


def test_q1_partial_aggregation(spark):
    # partial (map-side) agg before the exchange: two HashAggregate nodes
    plan = _plan(spark, "q1_pricing_summary")
    assert plan.count("HashAggregate") >= 2


def test_sort_within_partitions(spark):
    """repartitionByRange + sortWithinPartitions: every partition is
    internally ordered (the write-path layout for clustered parquet) and
    range partitioning makes partitions globally disjoint."""
    from kinesis2sse_spark.catalog import load_table

    li = (
        load_table(spark, SF_CORRECTNESS, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .repartitionByRange(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
    )

    def check(it):
        import pandas as pd

        for pdf in it:
            keys = list(zip(pdf["l_orderkey"], pdf["l_linenumber"]))
            yield pd.DataFrame({"ok": [keys == sorted(keys)], "n": [len(keys)]})

    res = li.mapInPandas(check, schema="ok boolean, n long").collect()
    assert all(r["ok"] for r in res)
    assert sum(r["n"] for r in res) == li.count()


def test_whole_stage_codegen_active(spark):
    # AQE wraps the plan until execution; disable it for this check so the
    # codegen stage boundaries are visible statically
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = all_queries()["q1_pricing_summary"](spark, SF_CORRECTNESS)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # codegen stages print as "*(N) Operator" in plan strings
        assert "*(" in plan
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_q15_single_fact_scan(spark):
    # the window-max rewrite must not re-scan lineitem for the max
    plan = _plan(spark, "q15_top_supplier")
    assert plan.count("lineitem.parquet") == 1, plan


def test_q21_two_fact_scans(spark):
    # double-quantified EXISTS/NOT EXISTS rewritten to one per-order
    # aggregate: 2 lineitem scans (l1 + ostats), not the literal 3
    plan = _plan(spark, "q21_waiting_supplier")
    assert plan.count("lineitem.parquet") == 2, plan


def test_sessionize_single_exchange(spark):
    # lag window, running-sum window, and final groupBy all reuse ONE
    # hashpartitioning(user_id) exchange
    plan = _plan(spark, "sessionize_batch")
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_q6_all_predicates_pushed(spark):
    """Q6 is scan+agg only: every predicate reaches the parquet scan and
    no join/exchange beyond the single-row aggregation appears."""
    plan = _plan(spark, "q6_forecast_revenue")
    assert "Join" not in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed
    line = pushed[0]
    assert "l_shipdate" in line and "l_discount" in line and "l_quantity" in line


def test_q8_single_fact_shuffle(spark):
    """Q8's 8-table join: all dims broadcast, so lineitem ⋈ orders is the
    ONLY sort-merge/shuffle join in the plan."""
    plan = _plan(spark, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 5
    assert plan.count("SortMergeJoin") <= 1


def test_q19_broadcast_not_cross_product(spark):
    """The OR-of-ANDs must plan as an equi-join on partkey with a
    residual filter — never BroadcastNestedLoopJoin/CartesianProduct."""
    plan = _plan(spark, "q19_discounted_revenue")
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q11_single_fact_scan(spark):
    """Grand-total-fraction HAVING via window over the per-part agg:
    lineitem must be scanned exactly once."""
    plan = _plan(spark, "q11_important_part_value")
    assert plan.count("lineitem.parquet") == 1 or plan.count("lineitem") >= 1
    scans = [l for l in plan.splitlines() if "Scan parquet" in l]
    assert len(scans) == 1


def test_q13_preserves_outer_join(spark):
    """The priority exclusion lives in the join condition, so customers
    with zero qualifying orders survive: the join must stay outer."""
    plan = _plan(spark, "q13_customer_distribution")
    assert "LeftOuter" in plan


def test_q2_single_fact_scan_and_broadcasts(spark):
    """Q2's correlated-min via window: lineitem scanned once (the
    window min rides on the supply aggregate, never re-scans the fact),
    and every dim (part, supplier/nation/region) broadcasts."""
    plan = _plan(spark, "q2_min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q20_single_fact_scan_semi_joins(spark):
    """Q20's nested INs: one lineitem pass computes both the all-time and
    in-window sums (conditional agg, no second scan); part-family and
    supplier membership are broadcast left-semi joins."""
    plan = _plan(spark, "q20_potential_promotion")
    assert plan.count("lineitem.parquet") == 1, plan
    assert plan.count("LeftSemi") >= 2
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Bucketing is the shuffle-elimination lever for repeated fact-fact
    joins at 100 TB: both sides written bucketed by the join key with the
    same bucket count join with ZERO exchanges — the scan itself is the
    co-partitioning. (External-path bucketed tables so nothing lands in
    the repo's cwd warehouse.)"""
    from kinesis2sse_spark.catalog import load_table

    for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}_bkt")
        (
            load_table(spark, SF_CORRECTNESS, name)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / "bucketed" / name))
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(f"{name}_bkt")
        )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("lineitem_bkt").join(
            spark.table("orders_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # sanity: the join actually runs and produces fact-side rows
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_parse_envelope_drop_is_generator_not_filter(spark):
    """The envelope drop must stay a Generate (explode) — a Filter gets
    its predicate (with the whole variant parse inlined) pushed through
    the repartition into the single-partition scan and evaluated 2-3x
    per row single-core (PERF.md round 2). Locks in: a Generate node
    present, and NO variant parse inside any Filter or scan DataFilters."""
    plan = _plan(spark, "ingest_envelope_pipeline")
    assert "Generate explode" in plan
    for line in plan.splitlines():
        if line.lstrip().startswith(("Filter", "+- Filter")) or "DataFilters" in line:
            assert "parseJson" not in line, line


def test_jaccard_single_shingle_exchange(spark):
    """The inverted-index pair search shuffles the shingle set exactly
    once (posting lists carry doc counts, so no join-back exchanges on
    the shingle relation), and the exact-collapse cluster relation is
    CACHED — one physical documents scan feeds the index, both fan-out
    joins, and the within-cluster explode (each InMemoryTableScan
    reprints the cached plan, so counting raw scan strings would
    overcount)."""
    import re

    plan = _plan(spark, "dedup_ngram_jaccard")
    assert len(re.findall(r"Exchange hashpartitioning\(sh#", plan)) == 1, plan
    assert "InMemoryTableScan" in plan, plan
    # all 4 consumers of the cluster relation (index, both fan-out
    # sides, within-pairs) read the cache; if any fell back to a direct
    # parquet scan there would be at most 3 cache reads. (Counting raw
    # "documents.parquet" mentions is unstable: the InMemoryRelation
    # description prints its scan 1-2x depending on materialization.)
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_recall_queries_broadcast_probes(spark):
    """ANN + recall contracts keep the corpus un-shuffled: the query/probe
    side broadcasts; the corpus side must never hash-exchange before
    scoring (only the small aggregates after)."""
    plan = _plan(spark, "sim_topk_lsh")
    assert "BroadcastExchange" in plan


def test_incremental_probe_single_index_exchange(spark):
    """The incremental probe builds the corpus index with exactly ONE
    shingle-hash exchange and joins the incoming batch to it with the
    posting explode AFTER the join (map-side fan-out, no pre-join
    explosion). At fixture scale the index broadcasts; at 100 TB the
    persisted index is bucketed by sh so the corpus still never
    reshuffles — either way the incoming side must not hash-exchange
    before the join."""
    import re

    plan = _plan(spark, "dedup_incremental_probe")
    assert len(re.findall(r"Exchange hashpartitioning\(sh#", plan)) == 1, plan
    join_pos = plan.find("HashJoin")  # Broadcast- here; SortMerge- at scale
    explode_pos = plan.find("Generate explode(docs")
    assert explode_pos != -1 and join_pos != -1
    # tree prints downstream-first: the explode must sit ABOVE (after)
    # the join — postings fan out map-side, never before the join
    assert explode_pos < join_pos, plan
    # the incoming-vs-corpus split reaches the scan as a data filter
    assert "(doc_id#" in plan and "% 10)" in plan, plan


def test_classifier_is_zero_exchange_pruned_scan(spark):
    """classify_quality_linear must stay a pure per-row projection:
    no Exchange anywhere (embarrassingly parallel at 100 TB) and the
    scan pruned to exactly the two consumed columns."""
    plan = _plan(spark, "classify_quality_linear")
    assert "Exchange" not in plan, plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_column_profile_is_one_scan_with_expand(spark):
    """stats_column_profile computes all 21 aggregates in ONE pass:
    exactly one parquet scan (the exact-NDV Expand multiplies rows
    inside it, never re-reads), pruned to the five profiled columns."""
    plan = _plan(spark, "stats_column_profile")
    assert plan.count("FileScan parquet") == 1, plan
    assert "Expand" in plan
    assert "l_shipdate" not in plan  # unprofiled columns stay out of the scan


def test_scd2_windows_share_one_sort(spark):
    """pipeline_scd2_intervals runs lag + lead over the same key/order:
    the plan must contain exactly ONE exchange (the per-key partition)
    — the two WindowExecs ride the same sort rather than re-shuffling."""
    plan = _plan(spark, "pipeline_scd2_intervals")
    # AQE wraps the plan; count shuffle exchanges only
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


def test_anomaly_stats_broadcast_corpus_unshuffled(spark):
    """Z-score anomaly detection: the per-type stats relation is the
    ONLY hash exchange (a |types|-row aggregate); it broadcasts back
    onto the corpus scan, which must never shuffle."""
    plan = _plan(spark, "timeseries_anomaly_zscore")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rollup_hierarchy_two_level_exchanges(spark):
    """Hierarchical rollup: exactly two exchanges — the corpus-wide
    hourly aggregation, then the tiny hourly->daily fold. No joins."""
    plan = _plan(spark, "timeseries_rollup_hierarchy")
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "Join" not in plan, plan


def test_interpolate_single_window_node(spark):
    """Both interpolation direction windows (backward last-non-null,
    forward first-non-null) share one partitioning+ordering, so Spark
    must plan them in a single Window node over a single sort."""
    import re

    plan = _plan(spark, "timeseries_interpolate")
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan


def test_bm25_posting_slice_before_shuffle(spark):
    """BM25: the query-term filter runs in the explode stage BELOW the
    (doc,term) exchange (the shuffle carries a posting slice, not the
    vocabulary); tf is cached for its two consumers; df + corpus stats
    broadcast — no doc-keyed join back for document length."""
    import re

    plan = _plan(spark, "text_bm25_search")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    # the only non-broadcast join inputs are term-keyed: no SortMergeJoin
    assert "SortMergeJoin" not in plan, plan
    # the IN-list filter sits in the explode stage, printed DEEPER than
    # (i.e. after) the (doc_id, term) exchange it feeds
    ex = re.search(r"Exchange hashpartitioning\(doc_id#\d+L, term#", plan)
    flt = re.search(r"Filter term#\d+ IN \(", plan)
    assert ex and flt and flt.start() > ex.start(), plan


def test_er_windows_are_block_partitioned(spark):
    """Sorted-neighborhood ER: every window partitions by the blocking
    key — a global single-partition sort must never appear — and the
    windowed relation is cached for both self-join legs."""
    plan = _plan(spark, "er_sorted_neighborhood")
    assert "Exchange SinglePartition" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_pagerank_edges_cached_across_iterations(spark):
    """PageRank: the degree-annotated edge relation is cached and read
    once per unrolled iteration instead of rebuilding the near-dup
    pair pipeline three times."""
    plan = _plan(spark, "graph_pagerank")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_triangles_oriented_cached_three_reads(spark):
    """Triangle counting: the degree-oriented edge relation is cached —
    the wedge self-join reads it twice and the closing-edge probe a
    third time."""
    plan = _plan(spark, "graph_triangle_count")
    assert plan.count("InMemoryTableScan") >= 3, plan


def test_pit_join_has_no_join_operator(spark):
    """The point-in-time SCD2 join executes as the union-sort rewrite:
    zero Join operators anywhere in the plan — versions and probes
    shuffle together once per the window partitioning."""
    plan = _plan(spark, "join_scd2_point_in_time")
    assert "Join" not in plan, plan
    assert "Window" in plan, plan


def test_negative_sampling_zero_shuffle(spark):
    """Negative sampling is a pure map stage: the only exchange is the
    1-row corpus count that broadcasts in; the corpus itself never
    hash-partitions and nothing joins beyond that broadcast."""
    plan = _plan(spark, "pipeline_negative_sampling")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_equi_depth_window_is_value_domain_sized(spark):
    """The equi-depth histogram's unpartitioned cumulative window runs
    over the per-value count relation (below it sits the corpus-wide
    value aggregation), never over raw rows: the SinglePartition
    exchange must consume the HashAggregate output."""
    plan = _plan(spark, "hist_equi_depth")
    i_single = plan.index("Exchange SinglePartition")
    rest = plan[i_single:]
    assert "HashAggregate" in rest, plan


def test_bpe_encode_folds_vocabulary_not_occurrences(spark):
    """Tokenizer application encodes each DISTINCT word once and joins
    the encodings back to the occurrence stream (r13 optimization: the
    14-rule interpreted fold per occurrence was ~12x slower than per
    vocabulary entry). Pin the shape: the merge fold (aggregate over
    split symbols) must appear on exactly ONE side — above the
    distinct-word aggregate — never on the occurrence stream; the
    vocab join has no forced broadcast (AQE picks); still no Python."""
    import re

    plan = _plan(spark, "pipeline_bpe_encode")
    # two word generators (the occurrence stream and the vocab branch's
    # own scan); encodings live on the distinct-word aggregate
    # (HashAggregate keyed on the word column), which joins back to the
    # occurrences; still no Python
    assert plan.count("Generate posexplode") == 2, plan
    assert re.search(r"HashAggregate\(keys=\[w#\d+\]", plan), plan
    assert "Join" in plan, plan
    assert "Python" not in plan and "MapInPandas" not in plan, plan


def test_patches_single_python_stage_no_shuffle(spark):
    """Patch tiling: exactly one Arrow-batched Python stage directly
    over the scan — the corpus never shuffles before or after."""
    plan = _plan(spark, "mm_image_patches")
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan


def test_rolling_median_one_exchange_one_window(spark):
    import re

    plan = _plan(spark, "window_rolling_median")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan


def test_gram_matrix_partial_agg_single_exchange(spark):
    """The X'X reduction must partial-aggregate map-side (pairs collapse
    to <= d(d+1)/2 cells per partition) and shuffle once."""
    plan = _plan(spark, "emb_gram_matrix")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_mi_cells_cached_for_all_consumers(spark):
    """Mutual information: the contingency-cell relation is cached —
    marginals, total, and the scoring join must all read the cache
    instead of re-aggregating the corpus (4 consumers)."""
    plan = _plan(spark, "stats_mutual_information")
    # (raw parquet-mention counts are unstable: each InMemoryTableScan
    # re-prints its cached plan's scan — the jaccard-lock lesson)
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_pmi_counts_cached_totals_fold(spark):
    """PMI: pair and unigram count relations are cached and the corpus
    totals fold from them — the corpus explodes exactly twice (pairs +
    unigrams), never again for totals."""
    plan = _plan(spark, "text_cooccurrence_pmi")
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_asof_tolerance_has_no_join_operator(spark):
    """The tolerance-bounded as-of join rides the same union-sort core
    as the PIT join: the staleness bound is a carried column filter,
    never a join."""
    plan = _plan(spark, "join_asof_tolerance")
    assert "Join" not in plan, plan


def test_concurrency_prefix_sum_is_two_level(spark):
    """The sweep-line's global running sum must use the two-level
    prefix pattern: the SinglePartition exchange is fed by the per-day
    subtotal aggregate (keys=[k]), never the raw delta stream. The
    walk inspects the exchange's OWN subtree (printed immediately
    below it) — a bare 'HashAggregate somewhere after' check passes
    even for the single-partition-over-all-deltas regression, because
    unrelated aggregates print later in the tree."""
    plan = _plan(spark, "sessions_max_concurrency")
    assert "Exchange SinglePartition" in plan, plan
    tail = plan[plan.index("Exchange SinglePartition"):].splitlines()
    for line in tail[1:]:
        if "HashAggregate" in line:
            assert "keys=[k" in line, line
            break
        assert not any(s in line for s in ("InMemoryTableScan", "Union", "Scan ")), (
            "SinglePartition exchange fed by the raw delta stream:\n"
            + "\n".join(tail[:8])
        )
    else:
        raise AssertionError(plan)


def test_psi_cells_cached(spark):
    """PSI: the banded half-count relation is cached — totals and the
    contribution pass both read the cache, one corpus aggregate."""
    plan = _plan(spark, "stats_psi_drift")
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_perplexity_model_broadcasts_onto_cached_stream(spark):
    """Bigram-LM scoring: the bigram stream and unigram table are
    cached (model build + scoring both consume each), and every model
    join is a broadcast — the corpus-sized stream never shuffles for
    scoring."""
    plan = _plan(spark, "text_perplexity_bigram")
    assert plan.count("InMemoryTableScan") >= 4, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_span_removal_is_linear_anti_join(spark):
    """ExactSubstr removal must stay linear: the dup-window set comes
    from the persisted window relation, the rebuild is an anti-join
    (never a pairwise explode or nested-loop membership probe), and
    the three shared relations (docs, windows, coverage) are cached —
    docs and windows each feed two consumers."""
    plan = _plan(spark, "dedup_span_removal")
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 4, plan


def test_js_divergence_cells_cached(spark):
    """JSD: the banded half-count relation is cached — totals and the
    contribution pass both read the cache, one corpus aggregate (the
    same contract stats_psi_drift locks)."""
    plan = _plan(spark, "stats_js_divergence")
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_ngram_novelty_is_window_not_self_join(spark):
    """First-occurrence novelty must come from a min-over-shingle
    window, never a shingle self-join (which squares on heavy
    boilerplate shingles): no join operator of any kind in the plan."""
    plan = _plan(spark, "dedup_ngram_novelty")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert op not in plan, (op, plan)
    assert "Window" in plan, plan


def test_lpa_edges_cached_across_iterations(spark):
    """Label propagation: the symmetric edge list is persisted once and
    every vote round reads the cache — LPA_ITERS joins against one
    materialization, not LPA_ITERS re-runs of the pair generator."""
    from kinesis2sse_spark.queries.graph import LPA_ITERS

    plan = _plan(spark, "graph_label_propagation")
    assert plan.count("InMemoryTableScan") >= LPA_ITERS, plan


def test_shard_assignment_is_single_aggregate_no_join(spark):
    """The shard census is ONE map-side-combined corpus aggregation:
    exactly one shuffle (the shard-key exchange), no join, and the scan
    reads only the columns the census needs."""
    plan = _plan(spark, "pipeline_shard_assignment")
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, (op, plan)


def test_vocab_entropy_cells_cached_totals_broadcast(spark):
    """Entropy: the (lang, token) cell relation is cached (totals and
    contributions both consume it) and the per-lang totals come back as
    a broadcast join — the corpus never shuffles twice."""
    plan = _plan(spark, "text_vocab_entropy")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zipf_rank_window_is_vocab_sized(spark):
    """The Zipf global rank runs over the token-count relation — the
    single-partition window's subtree must read the cached vocab
    aggregate, never a corpus-sized scan (the value-domain-bounded
    WindowExec class)."""
    plan = _plan(spark, "text_zipf_slope")
    assert "Window" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan
    tail = plan[plan.index("Exchange SinglePartition"):].splitlines()
    for line in tail[1:]:
        if "InMemoryTableScan" in line or "HashAggregate" in line:
            break
        assert "Scan parquet" not in line, (
            "rank window fed by a raw corpus scan:\n" + "\n".join(tail[:8])
        )


def test_ivf_index_stats_corpus_never_shuffles_for_assignment(spark):
    """The index census assigns cells via broadcast centroids — the
    corpus-sided relation must reach the per-vector argmax without a
    corpus shuffle (only the vec_id window and the IVF_K-row occupancy
    aggregate exchange)."""
    plan = _plan(spark, "sim_ivf_index_stats")
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan  # occ cached


def test_cluster_histogram_adds_no_corpus_work(spark):
    """The histogram is two aggregates over the CC label relation —
    past the label computation itself the plan adds only hash
    aggregates, never another scan of the documents corpus."""
    from kinesis2sse_spark.registry import all_queries

    spark.catalog.clearCache()
    df = all_queries()["dedup_cluster_histogram"](spark, SF_CORRECTNESS)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # label relation arrives via localCheckpoint scan; the histogram
    # tail is agg-only
    head = plan.split("Exchange", 1)[0]
    assert "Scan parquet" not in head, head


def test_readability_is_pure_map(spark):
    """Flesch scoring is per-row arithmetic — the plan must contain no
    exchange and no join of any kind: project + filter straight off the
    pruned parquet scan."""
    plan = _plan(spark, "text_readability")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "ReadSchema" in plan and "text" in plan, plan


def test_toxicity_lexicon_is_pure_map_no_join(spark):
    """The blocklist binds as an array literal (broadcast-style), never
    a join — the corpus must not shuffle for a 4-term dimension."""
    plan = _plan(spark, "classify_toxicity_lexicon")
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_boilerplate_gram_relation_cached_for_both_consumers(spark):
    """The exploded gram relation feeds the DF aggregate AND the
    membership join — it must be cached so the corpus explodes exactly
    once (two InMemoryTableScans), and the DF side joins back on the
    same gram key."""
    plan = _plan(spark, "text_boilerplate_fraction")
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_seasonal_decompose_seasonal_side_broadcasts(spark):
    """The 7-row day-of-week seasonal relation must broadcast onto the
    |days|-row keyed relation — one corpus exchange (the daily count),
    never a sort-merge join."""
    plan = _plan(spark, "timeseries_seasonal_decompose")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_holt_fold_is_join_free_single_fold(spark):
    """Holt smoothing folds the |days|-row series inside one JVM
    aggregate: one corpus exchange into daily counts, one
    single-partition collapse, zero joins and zero Python stages."""
    plan = _plan(spark, "timeseries_holt_linear")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, (op, plan)
    assert "Exchange SinglePartition" in plan, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan


def test_cross_source_overlap_single_corpus_shuffle(spark):
    """The distinct (source, fingerprint) relation is cached and feeds
    both the per-source totals and the hash-grouped source-sets (two
    InMemoryTableScans); pair expansion happens inside the hash group
    (never a corpus self-join) and the totals come back as broadcasts."""
    plan = _plan(spark, "dedup_cross_source_overlap")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_incremental_agg_merges_partials_not_history(spark):
    """Both sides reach the full-outer merge as per-key PARTIAL
    aggregates (partial->final HashAggregate pairs under each join
    child); the scan reads only the three columns the state needs and
    the NULL filters reach the parquet scan."""
    plan = _plan(spark, "pipeline_incremental_agg")
    assert "FullOuter" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # partial+final x 2 sides
    assert "PushedFilters: [" in plan and "IsNotNull(value)" in plan, plan
    for col in ("props", "event_type", "ts"):
        assert col not in plan.split("ReadSchema")[1][:200], (col, plan)


def test_spearman_rank_tables_broadcast_windows_domain_sized(spark):
    """Both rank tables broadcast onto the corpus (two
    BroadcastHashJoins, no SortMergeJoin) and every single-partition
    window runs over a HashAggregate subtree (the value-domain
    histogram), never a raw corpus scan."""
    plan = _plan(spark, "stats_spearman_rank")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        lines = seg.splitlines()
        for line in lines[1:6]:
            if "HashAggregate" in line or "InMemoryTableScan" in line:
                break
            assert "Scan parquet" not in line, (
                "corpus-fed single-partition window:\n" + "\n".join(lines[:6])
            )


def test_gini_window_is_domain_sized(spark):
    """The cumulative window runs over the token-count histogram — its
    single-partition subtree must read a HashAggregate, never a raw
    corpus scan; the corpus aggregates exactly once."""
    plan = _plan(spark, "stats_gini_concentration")
    assert "Window" in plan, plan
    tail = plan[plan.index("Exchange SinglePartition"):].splitlines()
    for line in tail[1:]:
        if "HashAggregate" in line or "InMemoryTableScan" in line:
            break
        assert "Scan parquet" not in line, (
            "corpus-fed window:\n" + "\n".join(tail[:8])
        )


def test_auc_rank_windows_are_histogram_sized(spark):
    """ml_auc_roc's two-level prefix ranks: the score histogram is
    cached once and feeds both levels (>=2 InMemoryTableScans), the
    bucket offsets come back via broadcast (never a sort-merge), and
    the single-partition bucket-subtotal window reads an aggregate
    subtree, never a raw corpus scan."""
    plan = _plan(spark, "ml_auc_roc")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        lines = seg.splitlines()
        for line in lines[1:6]:
            if "HashAggregate" in line or "InMemoryTableScan" in line:
                break
            assert "Scan parquet" not in line, (
                "corpus-fed single-partition window:\n" + "\n".join(lines[:6])
            )


def test_confusion_and_kappa_are_single_aggregate_no_join(spark):
    """The confusion matrix and kappa are each ONE map-side-combined
    corpus aggregation: no grouped shuffle, no join of any kind."""
    for name in ("ml_confusion_threshold", "stats_cohens_kappa"):
        plan = _plan(spark, name)
        assert plan.count("Exchange hashpartitioning") == 0, (name, plan)
        for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
            assert op not in plan, (name, op, plan)


def test_calibration_minmax_broadcasts_onto_cached_scores(spark):
    """ml_calibration_bins: the scored relation is cached (min/max pass
    + binning pass read one materialization) and the 1-row min/max
    rides back as a broadcast nested-loop join, never a shuffle."""
    plan = _plan(spark, "ml_calibration_bins")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_auc_by_slice_never_collapses_to_one_partition(spark):
    """ml_auc_by_slice: every window/exchange is keyed by the slice
    (lang) — a corpus-sized single-partition pass would mean the slice
    machinery regressed to global sorting — the score histogram is
    cached once for both prefix levels, and the offsets come back via
    broadcast, never a sort-merge."""
    plan = _plan(spark, "ml_auc_by_slice")
    assert "Exchange SinglePartition" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("InMemoryTableScan") >= 2, plan


def test_ir_eval_is_broadcast_scan_with_topk_prune(spark):
    """ir_eval_retrieval: the query set and label histogram ride
    broadcasts over ONE corpus pass per relation, and WindowGroupLimit
    prunes the per-query top-k map-side before the rank shuffle."""
    plan = _plan(spark, "ir_eval_retrieval")
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_context_chunks_is_shuffle_free(spark):
    """pipeline_context_chunks is a pure per-row explode: any Exchange
    in the plan means the chunker started shuffling the corpus."""
    plan = _plan(spark, "pipeline_context_chunks")
    assert "Exchange" not in plan, plan
    assert "Scan parquet" in plan, plan


def test_welch_ttest_is_one_reduce(spark):
    """stats_welch_ttest: one map-side-combined aggregate — the only
    exchange is the 1-row final reduce; no grouped shuffle, no join."""
    plan = _plan(spark, "stats_welch_ttest")
    assert plan.count("Exchange hashpartitioning") == 0, plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, (op, plan)


def test_brier_ece_reuses_cached_scores(spark):
    """ml_brier_ece: min/max pass + residual pass read one cached
    materialization of the scored relation; the 1-row min/max rides a
    broadcast nested-loop join."""
    plan = _plan(spark, "ml_brier_ece")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_feature_drift_cells_cached_and_no_global_collapse(spark):
    """ml_feature_drift: the (dim, band) cell relation is cached once
    for the totals and contribution passes, totals ride back as a
    broadcast, and nothing funnels the corpus into one partition."""
    plan = _plan(spark, "ml_feature_drift")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_mm_dedup_binary_hashes_before_shuffling(spark):
    """mm_dedup_binary: the blob column is scanned and hashed ONCE
    (cached keyed relation), so only the 16-byte digest ever crosses an
    exchange: both sides of the digest join read InMemoryTableScans of
    the one materialization (FileScan lines only appear as the cached
    relation's stored definition), and any exchange is keyed by the
    digest, never fed by a raw parquet scan."""
    plan = _plan(spark, "mm_dedup_binary")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg.splitlines()[0]
        assert "content_key" in head, plan


def test_lift_deciles_prefix_windows_are_histogram_sized(spark):
    """ml_lift_pr_deciles: the descending cumulative ranks reuse the
    two-level prefix pattern — cached histogram feeding both levels,
    offsets broadcast back, and no single-partition window ever reads
    a raw corpus scan (the only SinglePartition segments cumulate the
    bucket-count and 10-row decile relations)."""
    plan = _plan(spark, "ml_lift_pr_deciles")
    assert plan.count("InMemoryTableScan") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange SinglePartition")[1:]:
        lines = seg.splitlines()
        for line in lines[1:6]:
            if "HashAggregate" in line or "InMemoryTableScan" in line:
                break
            assert "Scan parquet" not in line, (
                "corpus-fed single-partition window:\n" + "\n".join(lines[:6])
            )


def test_bootstrap_ci_single_corpus_pass_no_shuffle_join(spark):
    """stats_bootstrap_ci: the replica fan-out collapses map-side into
    32 groups (one hashpartitioning exchange keyed by b at most), the
    CI selection rides broadcasts, and no sort-merge join appears —
    the corpus is never shuffled."""
    plan = _plan(spark, "stats_bootstrap_ci")
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg.splitlines()[0]
        assert "b#" in head, head


def test_tokenizer_fertility_is_one_grouped_reduce(spark):
    """text_tokenizer_fertility: one grouped aggregate, no joins."""
    plan = _plan(spark, "text_tokenizer_fertility")
    for op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert op not in plan, (op, plan)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_trend_estimators_reduce_corpus_once(spark):
    """timeseries_pacf / timeseries_theil_sen: the corpus collapses to
    the daily relation in ONE scan+aggregate; every pair/recursion
    stage runs on cached or broadcast day-sized relations."""
    for name in ("timeseries_pacf", "timeseries_theil_sen"):
        plan = _plan(spark, name)
        scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
        assert scans, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)


def test_permutation_fanout_collapses_map_side(spark):
    """stats_permutation_test: replica sums collapse to 64 groups
    map-side (exchanges keyed by b, or by the 64-row (n1, aobs)
    reduce); the corpus never rides a sort-merge join."""
    plan = _plan(spark, "stats_permutation_test")
    assert "SortMergeJoin" not in plan, plan
    for seg in plan.split("Exchange hashpartitioning")[1:]:
        head = seg.splitlines()[0]
        assert "b#" in head or "n1#" in head, head


def test_range_search_has_no_window_or_shuffle(spark):
    """sim_range_search: one broadcast-joined corpus scan + filter —
    strictly cheaper than top-k (no Window, no rank shuffle)."""
    plan = _plan(spark, "sim_range_search")
    assert "Window" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_semantic_dedup_broadcasts_seeds_and_blocks_pairs(spark):
    """dedup_semantic_clusters (SemDeDup): the seed centroids must
    BROADCAST onto the corpus scan (k x dim, never a corpus shuffle for
    assignment), and the within-cell pair stage must be an equi-join on
    the cell key (pairs expand inside hash groups) — no CartesianProduct
    / BroadcastNestedLoopJoin anywhere."""
    plan = _plan(spark, "dedup_semantic_clusters")
    # assignment: corpus x seeds is a broadcast cross-join against the
    # 8-row seed relation (BNLJ BuildRight over a BroadcastExchange —
    # the ml_kmeans_assign plan), never a CartesianProduct
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # pair stage: an EQUI-join keyed on the cell id (hash/sort-merge),
    # so pair expansion happens inside hash groups, never corpus x corpus
    import re

    assert re.search(r"(SortMergeJoin|ShuffledHashJoin) \[cell#\d+L\], \[cell#\d+L\]", plan), (
        "within-cell pair stage must equi-join on the cell key"
    )


def test_perplexity_band_never_single_partition_windows(spark):
    """filter_perplexity_band: every Window in the plan must be
    partitioned (the two-level prefix rank) — a corpus-sized
    single-partition window is the scale failure this operator exists
    to avoid. The tiny bucket-offset window over the |buckets| relation
    is the one allowed unpartitioned window; it must sit on a relation
    bounded by the bucket count, which the plan shows as a
    HashAggregate feeding it."""
    plan = _plan(spark, "filter_perplexity_band")
    import re

    # unpartitioned windows: "Window [...], [k ASC..." has no
    # "partitionBy"-style spec; in the text form a partitioned window
    # prints as 'Window [...], [col1], [col2 ASC...]' (3 bracket groups)
    # and an unpartitioned one as 'Window [...], [ord ASC...]' (2).
    unpart = [
        l for l in plan.splitlines()
        if re.search(r"^\s*[:+\-\s]*\*?\(?\d*\)?\s*Window \[", l)
        and ", [" in l and l.count("], [") == 1
    ]
    # at most the bucket-offset window is unpartitioned
    assert len(unpart) <= 1, f"unexpected unpartitioned windows: {unpart}"


def test_lexical_diversity_is_shuffle_free(spark):
    """text_lexical_diversity is per-row array arithmetic: the plan must
    contain NO exchange of any kind."""
    plan = _plan(spark, "text_lexical_diversity")
    assert "Exchange" not in plan


def test_matryoshka_ladder_is_one_corpus_pass(spark):
    """sim_matryoshka_recall: the (query x dim) relation broadcasts onto
    the corpus scan and per-(dim, query) top-k prunes below the shuffle
    (WindowGroupLimit) — measuring all truncation levels must never
    rescan or cross-join the corpus."""
    plan = _plan(spark, "sim_matryoshka_recall")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_source_modularity_graph_relations_cached(spark):
    """graph_source_modularity: the pair list is persisted (it feeds
    und/deg/intra/m — four consumers over the expensive near-dup
    pipeline) and the doc->source dim broadcasts onto it."""
    plan = _plan(spark, "graph_source_modularity")
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_perplexity_model_join_not_force_broadcast(spark):
    """text_perplexity_bigram: on real web text distinct bigram TYPES
    grow near-linearly with the corpus (far past Spark's 8 GB broadcast
    ceiling at 100 TB), so the model-scoring joins must carry NO forced
    broadcast hint — AQE picks broadcast vs shuffle from measured sizes.
    Exactly ONE hint is allowed: the one-row vocab total. The scoring
    joins must still be equi-key joins (hash/sort-merge/broadcast all
    acceptable), never a cartesian expansion."""
    ap = _analyzed(spark, "text_perplexity_bigram")
    assert ap.count("ResolvedHint") == 1, (
        f"expected only the one-row vocab hint, got {ap.count('ResolvedHint')}"
    )
    plan = _plan(spark, "text_perplexity_bigram")
    assert "CartesianProduct" not in plan


def test_modularity_never_force_broadcasts_documents_scan(spark):
    """graph_source_modularity: every forced broadcast must sit over a
    GRAPH-BOUNDED relation (node->source map, degree aggregate, edge
    total) — never over a raw documents scan, which is corpus-sized at
    100 TB. Locked by checking that no ResolvedHint's immediate subtree
    is a bare parquet relation (graph-bounded sides start with
    Aggregate/Join/Deduplicate nodes first)."""
    ap = _analyzed(spark, "graph_source_modularity")
    lines = ap.splitlines()
    for i, l in enumerate(lines):
        if "ResolvedHint" not in l:
            continue
        nxt = " ".join(lines[i + 1 : i + 4])
        assert "parquet" not in nxt, (
            f"forced broadcast directly over a parquet scan: {nxt[:200]}"
        )


def test_argmax_assignment_is_aggregate_not_window(spark):
    """dedup_semantic_clusters / ml_kmeans_assign / ml_kmeans_update:
    nearest-cell assignment is a max_by AGGREGATE (map-side partial
    combine — n rows cross the exchange), never a row_number window
    over the n x k scored expansion (which would shuffle all n x k
    rows). The plan must contain partial+final aggregate pairs and no
    Window node at all."""
    for name in ("ml_kmeans_assign", "ml_kmeans_update", "dedup_semantic_clusters"):
        plan = _plan(spark, name)
        assert "Window" not in plan, f"{name} still windows the n x k expansion"
        assert plan.count("HashAggregate") + plan.count("SortAggregate") + plan.count(
            "ObjectHashAggregate"
        ) >= 2, f"{name} lost the partial/final aggregate pair"


def test_dsir_model_broadcasts_and_topk_avoids_full_sort(spark):
    """filter_dsir_resample: the hashed-feature relation is persisted
    (three consumers), the B-bounded model broadcasts onto the scoring
    probe (B = 8192 FIXED — corpus-independent, so the hint is
    legitimate, unlike an open-vocabulary model), and the global
    resample top-k runs as TakeOrderedAndProject — never a full sort
    of the scored corpus."""
    plan = _plan(spark, "filter_dsir_resample")
    assert "TakeOrderedAndProject" in plan
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_int8_search_is_one_scan_with_pruned_topk(spark):
    """sim_topk_int8: dim stats collapse to a one-row broadcast array
    relation, the quantized query set broadcasts onto the quantized
    corpus scan, and WindowGroupLimit prunes the per-query top-k below
    the exchange — the corpus itself never hash-exchanges, and there is
    no cartesian expansion."""
    plan = _plan(spark, "sim_topk_int8")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_binary_search_is_one_scan_with_pruned_topk(spark):
    """sim_topk_binary: identical scale shape to sim_topk_int8 — one-row
    broadcast stats, map-side bit packing, broadcast query codes,
    WindowGroupLimit below the exchange, no cartesian expansion."""
    plan = _plan(spark, "sim_topk_binary")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_gopher_rules_is_shuffle_free(spark):
    """filter_gopher_rules is per-row array arithmetic — the plan must
    contain NO exchange, join, or window of any kind."""
    plan = _plan(spark, "filter_gopher_rules")
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_soft_weights_prunes_documents_scan(spark):
    """dedup_soft_weights joins the cluster-bounded label/size relations
    back to a documents scan that must read ONLY doc_id — the text
    column belongs to the (separate) pair-generation scan. A scan that
    dragged text through the weight join would ship the whole corpus
    body through an exchange at 100 TB."""
    plan = _plan(spark, "dedup_soft_weights")
    doc_scans = [
        l for l in plan.splitlines()
        if "Scan parquet" in l and "documents" in l and "ReadSchema" in l
    ]
    assert doc_scans, "no documents scan with ReadSchema found"
    assert any("text" not in l for l in doc_scans), (
        "the weight join's documents scan must prune down to doc_id"
    )
    assert "CartesianProduct" not in plan


def test_hard_negatives_is_broadcast_scan_with_pruned_topk(spark):
    """mine_hard_negatives: query set broadcasts with the label-mismatch
    predicate fused into the join (same-label pairs never score), and
    the per-query top-k prunes below the exchange."""
    plan = _plan(spark, "mine_hard_negatives")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_hybrid_rrf_fusion_joins_bounded_relations(spark):
    """search_hybrid_rrf: both rankers are broadcast-query scans with
    WindowGroupLimit pruning; the fusion join itself only ever touches
    two (queries x depth)-bounded rank relations — no cartesian
    expansion anywhere."""
    plan = _plan(spark, "search_hybrid_rrf")
    assert plan.count("WindowGroupLimit") >= 2
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_decontaminate_embedding_single_scan_partial_max(spark):
    """decontaminate_embedding: the eval set broadcasts onto one corpus
    scan and the per-vector max partial-aggregates map-side — n rows
    cross the exchange, never the n x n_eval scored expansion."""
    plan = _plan(spark, "decontaminate_embedding")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 2


def test_binary_rerank_full_vectors_only_on_shortlist(spark):
    """sim_topk_binary_rerank: the corpus-wide stage runs on packed
    codes (WindowGroupLimit-pruned Hamming top-N); full-precision
    vectors join only against the (queries x N)-bounded shortlist."""
    plan = _plan(spark, "sim_topk_binary_rerank")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


# Forced-hint budget per TPC-H query after the round-10 de-hinting sweep
# (the r9 verdict's last perf-weak item): a hint survives ONLY on a
# relation bounded BY CONSTRUCTION — nation (25 rows), region (5), the
# 1-row q22 balance threshold. customer/part/supplier and everything
# derived from them grow LINEARLY with scale factor (census class 3 —
# multi-GB at 100 TB, past sensible broadcast size), so their join
# strategy is AQE's call from measured sizes: broadcast at fixture
# scale, equi-key shuffle beyond the ceiling. The budget is exact, not
# an upper bound, so a reintroduced hint OR a lost constant-dim hint
# both fail.
TPCH_HINT_BUDGET = {
    "q1_pricing_summary": 0,
    "q2_min_cost_supplier": 2,  # nation + region inside euro_suppliers
    "q3_shipping_priority": 0,
    "q4_order_priority": 0,
    "q5_local_supplier_volume": 2,  # nation + region
    "q6_forecast_revenue": 0,
    "q7_volume_shipping": 2,  # the two nation lookups
    "q8_market_share": 3,  # nation x2 + region
    "q9_product_type_profit": 1,  # nation
    "q10_returned_items": 1,  # nation
    "q11_important_part_value": 0,
    "q12_late_shipment_priority": 0,
    "q13_customer_distribution": 0,
    "q14_promo_effect": 0,
    "q15_top_supplier": 0,
    "q16_parts_supplier_count": 0,
    "q17_small_quantity_revenue": 0,
    "q18_large_volume_customer": 0,
    "q19_discounted_revenue": 0,
    "q20_potential_promotion": 1,  # nation
    "q21_waiting_supplier": 0,
    "q22_global_sales_opportunity": 1,  # 1-row avg-balance threshold
}


def test_tpch_no_forced_broadcast_grows_with_scale(spark):
    """Every TPC-H query's ANALYZED plan carries exactly its budgeted
    ResolvedHint count (hints fold into Join nodes by executedPlan
    time, so the analyzed plan is the only place they are countable)."""
    for name, budget in TPCH_HINT_BUDGET.items():
        ap = _analyzed(spark, name)
        got = ap.count("ResolvedHint")
        assert got == budget, (
            f"{name}: expected {budget} forced hints "
            f"(constant-size dims only), analyzed plan has {got}"
        )


def test_q5_star_shape_survives_dehinting(spark):
    """q5 at fixture scale must still plan the star: AQE/static sizing
    picks BroadcastHashJoin for all four dims (they are KBs here), and
    lineitem ⋈ orders stays the only shuffle join — proving the hint
    removal was free at fixture scale, exactly like the r9 LM-model
    de-hinting."""
    plan = _plan(spark, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("SortMergeJoin") <= 1, plan


def test_vocab_relations_not_force_broadcast(spark):
    """TF-IDF's df and PMI's unigram joins: vocabulary relations grow
    ~n^0.5 (Heaps' law) to ~4-5 GB at 100 TB — inside but near the 8 GB
    broadcast ceiling, so they must carry NO forced hint (AQE
    broadcasts from measured sizes at fixture scale). Remaining hints:
    the 1-row corpus aggregates only. BM25 keeps TWO hints because its
    df is pre-filtered to the constant BM25_QUERY_TERMS list (bounded
    by |Q|, census class 1) plus the 1-row stats aggregate."""
    assert _analyzed(spark, "text_tfidf_top_terms").count("ResolvedHint") == 1
    assert _analyzed(spark, "text_cooccurrence_pmi").count("ResolvedHint") == 1
    assert _analyzed(spark, "text_bm25_search").count("ResolvedHint") == 2


def test_ivf_prebuilt_probe_reads_only_index(spark):
    """sim_topk_ivf_prebuilt: the probe half of the build/probe split
    must never touch raw embeddings — every scan is the cell-partitioned
    index artifact or the IVF_K-row centroid table, and the probe join
    dynamically prunes index partitions (only the probed cells' files
    are read — the ~probes/k I/O shape that makes prebuilt ANN viable
    at 100 TB)."""
    plan = _plan(spark, "sim_topk_ivf_prebuilt")
    assert "embeddings.parquet" not in plan, plan
    assert "k2s_ivf_index" in plan
    assert "dynamicpruning" in plan.lower(), (
        "probe join no longer prunes index partitions"
    )


def test_ivf_assignment_is_aggregate_not_window(spark):
    """The IVF rungs' nearest-cell assignment is a max_by aggregate
    (map-side combine, n rows cross the exchange), never a row_number
    window over the n x IVF_K vector-bearing expansion — the same
    argmax class fixed for SemDeDup/k-means in r9. Top-k windows keyed
    by query_id remain; none may partition by vec_id."""
    for name in ("sim_topk_ivf", "sim_topk_ivfpq"):
        plan = _plan(spark, name)
        assert "windowspecdefinition(vec_id" not in plan, (
            f"{name} windows the n x k assignment expansion"
        )
    assert "Window" not in _plan(spark, "sim_ivf_index_stats")


def test_maxsim_corpus_never_shuffles_before_topk(spark):
    """search_maxsim_late_interaction: the MaxSim double loop runs
    inside one projection over one corpus scan — the query side
    collapses to LI_QUERIES broadcast rows, and the ONLY corpus-sized
    exchange is the WindowGroupLimit-pruned per-query top-k. No
    cartesian expansion, no explode of the corpus token bags."""
    plan = _plan(spark, "search_maxsim_late_interaction")
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    # the corpus-side documents scan prunes to (doc_id, text); the
    # token bags are built map-side, never exploded: the only Generate
    # node belongs to the 4-row query side
    assert plan.count("Generate") <= 1


def test_generalization_ladder_single_corpus_shuffle(spark):
    """privacy_generalization_ladder: the corpus shuffles once into the
    pinned finest class relation; every ladder level re-aggregates THAT
    (one InMemoryTableScan per level), never re-scanning events."""
    plan = _plan(spark, "privacy_generalization_ladder")
    from kinesis2sse_spark.queries.privacy import LADDER_LEVELS

    assert plan.count("InMemoryTableScan") == LADDER_LEVELS
    assert "CartesianProduct" not in plan


def test_link_prediction_knn_prunes_topk_no_cartesian(spark):
    """graph_link_prediction: the kNN build pairs only inside label
    blocks (equi-join, never CartesianProduct) with the per-node top-k
    pruned below the exchange; und/deg pin once (InMemoryTableScans);
    the wedge join and anti-join run on the edge relation, not the
    corpus."""
    plan = _plan(spark, "graph_link_prediction")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan


def test_prf_rocchio_relational_expansion_no_cartesian(spark):
    """search_prf_rocchio: the data-dependent expanded query must stay
    a broadcast RELATION (no driver collect, no isin literal), the
    posting-slice tf relations pin (each feeds df + scoring), and no
    stage degenerates to a cartesian product — the only nested-loop
    joins are the 1-row stats broadcasts."""
    plan = _plan(spark, "search_prf_rocchio")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert plan.count("InMemoryTableScan") >= 4  # tf1/tf2 (x2 each) + cand_tf
    # top-10/top-F ranks are singleton-partition windows over already-
    # aggregated per-doc scores, not corpus windows
    assert "WindowGroupLimit" in plan or "Window" in plan


def test_isotonic_single_corpus_aggregate(spark):
    """ml_isotonic_calibration: ONE corpus aggregate (the binning) —
    everything downstream (prefix sums, the j<=i<=k interval expansion,
    the max-of-min fold) runs on the pinned constant-size bin relation
    (InMemoryTableScans), never re-touching embeddings."""
    plan = _plan(spark, "ml_isotonic_calibration")
    # the scored relation pins once and the bin relation pins once;
    # every embeddings.parquet scan lives INSIDE those cached plans
    # (InMemoryRelation bodies), so downstream stages scan only caches
    assert plan.count("InMemoryTableScan") >= 3
    from kinesis2sse_spark.queries.ml_eval import CALIB_BINS  # noqa: F401

    assert "CartesianProduct" not in plan


def test_mad_anomaly_no_corpus_sort(spark):
    """timeseries_anomaly_mad: medians come from histogram cumulative
    selection — the only Sorts belong to the domain-bounded histogram
    windows, and the flag is a broadcast-joined map-side comparison;
    no corpus-wide single-partition Window may appear."""
    plan = _plan(spark, "timeseries_anomaly_mad")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan  # med/mad broadcast back
    # the histogram windows partition by event_type — a corpus-global
    # (partitionless) window spec would betray a full sort
    assert "windowspecdefinition(event_id" not in plan


def test_prf_vector_two_broadcast_scans_topk_pruned(spark):
    """sim_prf_vector: both rounds keep the sim_topk_bruteforce shape
    — broadcast query side, corpus never shuffled, per-query top-k
    pruned below the exchange (WindowGroupLimit); the centroid stage
    is constant-size."""
    plan = _plan(spark, "sim_prf_vector")
    assert "CartesianProduct" not in plan
    assert plan.count("WindowGroupLimit") >= 2  # round 1 + round 2
    assert "BroadcastExchange" in plan


def test_rake_topk_prunes_below_shuffle(spark):
    """text_rake_keywords' per-doc top-k must WindowGroupLimit-prune
    below the exchange, and the word-stat join must stay a shuffled
    hash/sort-merge on the vocab key (a corpus-growing broadcast there
    would be the r09 failure class)."""
    plan = _plan(spark, "text_rake_keywords")
    assert "WindowGroupLimit" in plan


def test_ndcg_graded_broadcast_shape(spark):
    """ir_eval_ndcg_graded: the query set and the label histograms are
    the ONLY broadcasts (all constant-bounded); the corpus side is one
    scan feeding the top-k window, pruned below the exchange."""
    plan = _plan(spark, "ir_eval_ndcg_graded")
    assert "WindowGroupLimit" in plan
    assert "BroadcastExchange" in plan
    # the corpus relation must not sit on the build side of any
    # broadcast join: every BroadcastExchange subtree stays rows-bounded
    # (query set / label histogram), which the census pins statically —
    # here we pin the plan-level consequence: no broadcast of a
    # full-embedding scan (the embedding column never crosses a
    # BroadcastExchange)
    import re

    for m in re.finditer(r"BroadcastExchange[^\n]*\n((?:\s+[^\n]*\n)*)", plan):
        assert "FileScan parquet" not in m.group(1).split("Exchange")[0][:2000] or (
            "vec_id" in m.group(1)
        )


def test_prebuilt_hits_probe_reads_artifact_not_documents(spark):
    """graph_hits_prebuilt's plan must scan the edge ARTIFACT, never
    the documents table — the decoupling is structural, not incidental."""
    from kinesis2sse_spark.queries.graph import _ensure_graph_edges

    _ensure_graph_edges(spark, SF_CORRECTNESS)
    plan = _plan(spark, "graph_hits_prebuilt")
    assert "k2s_graph_edges" in plan
    assert "documents.parquet" not in plan
