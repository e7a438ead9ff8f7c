"""Plan-quality regression guards: the properties that make the engine
viable at 100 TB must be visible in the physical plans, not just intended.

Each test inspects the formatted/simple explain output of a real query:
filters reach the parquet scan, only needed columns are read, small sides
broadcast, top-k never global-sorts, and no row-at-a-time Python appears
in validation plans.
"""

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

import __spark_entry__ as entry
from manufacturing_data_integration_tool_spark import load_config, validate


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def raw_plan_of(df) -> str:
    """Tree-ordered physical plan with inline node arguments (e.g.
    ``Exchange hashpartitioning(k#1L, 8)``) — formatted explain splits
    arguments away from node names, so substring/tree-order assertions
    about exchange KEYS need this string instead."""
    return df._jdf.queryExecution().executedPlan().toString()


def test_range_filter_pushed_to_scan(spark):
    plan = plan_of(entry.q02_range_filter(spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_quantity,5.0)" in plan
    # column pruning: only the 5 projected columns are read
    assert "l_shipdate" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_semi_join_broadcasts_dim(spark):
    plan = plan_of(entry.q10_lookup_semi_join(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_anti_join_broadcasts_dim(spark):
    plan = plan_of(entry.q09_referential_anti_join(spark, "/root/testdata/sf0.001"))
    assert "Broadcast" in plan and "LeftAnti" in plan


def test_topk_uses_take_ordered_not_global_sort(spark):
    plan = plan_of(entry.q12_top_k(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_validation_plan_has_no_python_eval(spark, golden_csv, mapping_config_path):
    """Rules must stay JVM-side Column expressions — a BatchEvalPython /
    ArrowEvalPython node in the validation plan means someone snuck a
    Python UDF into the hot path."""
    cfg = load_config(mapping_config_path)
    df = spark.read.csv(golden_csv, header=True)
    res = validate(df, cfg)
    plan = plan_of(res.annotated)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_zscore_uses_broadcast_not_window(spark):
    """Two-pass global stats must broadcast the 1-row aggregate; an
    unpartitioned Window node would be the single-task bottleneck."""
    plan = plan_of(entry.q08_zscore_outliers(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_shipping_priority_broadcasts_customer_and_takeordered(spark):
    """TPC-H Q3 shape: the filtered BUILDING customer side must broadcast
    (never shuffle orders for a dim-sized side) and the top-10 must be
    TakeOrderedAndProject, not a global sort."""
    plan = plan_of(entry.q43_shipping_priority(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_pivot_with_pinned_values_scans_once(spark):
    """Pinning pivot values must avoid the extra distinct-values job: the
    final plan reads the orders parquet exactly once."""
    plan = plan_of(entry.q40_pivot(spark, "/root/testdata/sf0.001"))
    assert plan.count(") Scan parquet") == 1


def test_cube_is_expand_plus_agg(spark):
    """CUBE must plan as Expand + hash aggregate over one scan — not a
    union of per-grouping scans."""
    plan = plan_of(entry.q39_cube(spark, "/root/testdata/sf0.001"))
    assert "Expand" in plan
    assert plan.count(") Scan parquet") == 1


def test_salted_join_result_matches_plain_join(spark):
    """Salting only changes shuffle distribution, never the result."""
    from manufacturing_data_integration_tool_spark.functions.skew import salted_join

    orders = entry.read_table(spark, "/root/testdata/sf0.001", "orders")
    customer = entry.read_table(spark, "/root/testdata/sf0.001", "customer")
    large = orders.select(F.col("o_custkey").alias("custkey"), "o_totalprice")
    dim = customer.select(F.col("c_custkey").alias("custkey"), "c_mktsegment")
    salted = salted_join(large, dim, ["custkey"], n_salts=4)
    plain = large.join(dim, "custkey")
    assert salted.count() == plain.count()
    assert salted.subtract(plain).count() == 0
    assert plain.subtract(salted).count() == 0


def test_q5_shape_broadcasts_dims(spark):
    """The 6-table join must broadcast the dim-sized sides (supplier,
    nation x region) rather than shuffling lineitem against them. Only
    nation x region is hint-forced (fixed 25 x 5 rows); supplier/customer
    broadcasts come from size estimation, which is the point — at 100 TB
    they degrade to shuffled hash joins instead of OOMing the build side."""
    plan = plan_of(entry.q46_local_supplier_volume(spark, "/root/testdata/sf0.001"))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "PushedFilters" in plan  # date/region filters reach the scans


def test_q52_candidate_path_has_no_cartesian(spark):
    """The production near-dup path must never plan an all-pairs join over
    the corpus: no CartesianProduct, and the only nested-loop joins allowed
    are the two bounded fan-outs against the 48-row broadcast plane table
    (one per self-join side) — candidate generation is an equi-join on
    (table, bucket), scoring an equi-join on the candidate ids."""
    plan = plan_of(entry.q52_near_dup_candidates(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    # formatted explain lists every node twice (tree + detail block), so 2
    # plane fan-out nodes -> at most 4 textual occurrences
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    # the corpus-sized joins are hash joins
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_q55_simhash_band_join_has_no_cartesian(spark):
    """SimHash Hamming-band near-dup must be an equi-join on (band, sub) —
    a BroadcastNestedLoopJoin/CartesianProduct would mean the pigeonhole
    banding degenerated to all-pairs."""
    plan = plan_of(entry.q55_simhash_near_dups(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sampling_is_pure_filter_no_exchange(spark):
    """hash/stratified sampling must add NO shuffle of its own: on an
    already-parallel input the plan is scan -> filter (the md5 threshold
    comparison), nothing else."""
    from manufacturing_data_integration_tool_spark.ops.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 1000, 1, 8).selectExpr(
        "id AS doc_id", "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END AS lang"
    )
    plan = plan_of(stratified_sample(df, "lang", "doc_id", {"en": 0.5, "de": 1.0}))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_broadcasts_df_table(spark):
    """The per-term document-frequency table is vocab-sized and must come
    back as a broadcast, never a shuffled join against the tf table."""
    plan = plan_of(entry.q59_tfidf(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_vocab_id_window_is_bounded_by_limit(spark):
    """build_vocab may use a single-partition window ONLY over the
    TakeOrdered-bounded top-N — the plan must show the global limit below
    the window, not a corpus-wide global sort."""
    plan = plan_of(entry.q60_vocab(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan


def test_vocab_coverage_window_is_bounded_by_limit(spark):
    """q113 (r7 fix): vocab_coverage must take the top-N page with
    TakeOrderedAndProject BEFORE the rank/cumsum window — the distinct-term
    table of a web-scale corpus is 1e8-1e9 rows and must never funnel
    through one unpartitioned-window task. Mirrors build_vocab's pattern."""
    plan = plan_of(entry.q113_vocab_coverage(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    # the window must sit above the global limit: no full Sort of the
    # term table outside the TakeOrdered operator
    assert "CartesianProduct" not in plan


def test_rolling_time_window_partitioned_by_key(spark):
    """The trailing-time frame must be keyed on user_id (no unpartitioned
    window — that would be the one-task bottleneck)."""
    ev_plan = plan_of(entry.q61_rolling_time(spark, "/root/testdata/sf0.001"))
    assert "Window" in ev_plan
    # an unpartitioned window logs 'No Partition Defined'; structurally,
    # partition spec shows up as hashpartitioning on user_id
    assert "hashpartitioning" in ev_plan and "user_id" in ev_plan


def test_quality_cutoff_broadcasts_per_group_stats(spark):
    """q72: the per-language percentile table must broadcast back onto the
    corpus scan (languages x 1 row), never shuffle the corpus by lang."""
    plan = plan_of(entry.q72_quality_cutoff(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan


def test_partitioned_sink_prunes_partitions_on_read(spark, tmp_path):
    """The corpus-at-rest layout must support partition pruning: a write
    partitioned by lang, read back with a lang filter, shows the filter in
    PartitionFilters (whole directories skipped) — at 100 TB this is the
    difference between scanning one language and scanning the corpus."""
    docs = spark.createDataFrame(
        [(i, f"text {i}", ["en", "de", "fr"][i % 3]) for i in range(60)],
        ["doc_id", "text", "lang"],
    )
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)
    back = spark.read.parquet(path).filter(F.col("lang") == "en").select("doc_id")
    plan = plan_of(back)
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "lang" in seg  # the lang predicate prunes directories, not rows
    assert back.count() == 20


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """Pre-bucketed storage must give shuffle-free co-located joins: two
    tables bucketed by the join key on disk join with ZERO Exchange nodes
    — the at-rest layout SCALING.md prescribes for repeated big-big joins
    (each side reads its bucket files already hash-distributed)."""
    left = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS b")
    left.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bleft")
    right.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("t_bright")
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force the big-big join shape (broadcast would hide the point)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("t_bleft").join(spark.table("t_bright"), "k").select("k", "a", "b")
        plan = plan_of(j)
        assert "SortMergeJoin" in plan
        # bucket layout IS the partitioning: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
        spark.sql("DROP TABLE IF EXISTS t_bleft")
        spark.sql("DROP TABLE IF EXISTS t_bright")


def test_q81_nation_filter_pushed_and_no_nested_loop(spark):
    """Q7 shape: the nation-pair IN filter must reach both nation scans and
    the whole join tree must stay hash-based (no BroadcastNestedLoopJoin /
    CartesianProduct from the inequality filter)."""
    plan = plan_of(entry.q81_volume_shipping(spark, "/root/testdata/sf0.001"))
    assert "In(n_name, [NATION_3,NATION_8])" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q84_aggregates_lineitem_before_join(spark):
    """Q18 shape: the per-order quantity rollup must sit BELOW the joins —
    an aggregate over lineitem feeding the join, never a join feeding one
    giant aggregate."""
    plan = plan_of(entry.q84_large_volume_customers(spark, "/root/testdata/sf0.001"))
    agg_pos = plan.find("HashAggregate")
    join_pos = plan.find("Join")
    assert agg_pos != -1 and join_pos != -1
    # formatted explain prints the tree root-first: joins (near the root)
    # must appear before the lineitem aggregate (a leaf-side subtree).
    assert join_pos < agg_pos


def test_q85_anti_join_and_scalar_broadcast(spark):
    plan = plan_of(entry.q85_idle_customers(spark, "/root/testdata/sf0.001"))
    assert "LeftAnti" in plan
    assert "Broadcast" in plan
    assert "CartesianProduct" not in plan


def test_disjunctive_pred_is_hash_join_not_nested_loop(spark):
    """q92 (Q19 shape): the OR-of-ANDs must stay one equi-join on
    p_partkey with a residual condition — never BroadcastNestedLoopJoin."""
    plan = plan_of(entry.q92_disjunctive_pred(spark, "/root/testdata/sf0.001"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_waiting_suppliers_single_lineitem_scan(spark):
    """q94 (Q21 shape): the windowed rewrite must scan lineitem ONCE
    (the EXISTS form re-scans it three times) and keep top-20 as
    TakeOrderedAndProject (no global sort)."""
    plan = plan_of(entry.q94_waiting_suppliers(spark, "/root/testdata/sf0.001"))
    # each scan node lists its Location once in the formatted details —
    # exactly one mention of the lineitem file means exactly one scan
    assert plan.count("lineitem.parquet") == 1, plan.count("lineitem.parquet")
    assert "TakeOrderedAndProject" in plan


def test_top_supplier_broadcasts_scalar_max(spark):
    """q95 (Q15 shape): the one-row max joins back via broadcast."""
    plan = plan_of(entry.q95_top_supplier(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_q121_lsh_knn_no_corpus_broadcast(spark):
    """The large-query-set kNN route must never broadcast a corpus-sized
    side or plan a cartesian: candidate generation is an equi-join on
    (table, bucket), scoring two hash joins on ids. The only nested-loop
    joins allowed are the two bounded fan-outs against the 32-row
    broadcast plane table (formatted explain mentions each node twice)."""
    plan = plan_of(entry.q121_knn_classify_lsh(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_q29_lsh_ann_no_corpus_broadcast(spark):
    """q29's r6 rewrite onto the deterministic sign-LSH route must keep
    the q121 shape: candidates from a (table, bucket) equi-join, exact
    cosine via two hash joins on ids — no cartesian, and nested-loop
    joins only for the bounded broadcast plane-table fan-outs."""
    plan = plan_of(entry.q29_lsh_ann(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_q189_duplicate_spans_no_cartesian_one_scan_pair(spark):
    """ExactSubstr-lite must stay linear: hash-key equi-joins only, and
    the per-doc coverage window partitions by doc (never unpartitioned)."""
    plan = plan_of(entry.q189_duplicate_spans(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q190_countmin_sketch_is_broadcast_side(spark):
    """The CMS estimate join must broadcast the bounded cell table, never
    shuffle the probe list against an un-broadcast sketch."""
    plan = plan_of(entry.q190_countmin_frequency(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q33_ivf_deterministic_no_corpus_broadcast(spark):
    """Deterministic IVF keeps ivf_search's shape: centroid table (<=2^p
    rows) broadcasts, candidates come from a cell equi-join — no
    cartesian, no corpus-sized broadcast."""
    plan = plan_of(entry.q33_ivf_ann(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    # the only nested-loop fan-outs allowed are the bounded broadcast
    # tables: the 3-row plane table (cell tagging — the assigned pipeline
    # appears twice: centroid build + candidate join) and the <=2^p-row
    # centroid probe table; formatted explain mentions each node twice
    assert plan.count("BroadcastNestedLoopJoin") <= 8
    # candidate scoring itself must be hash joins
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan or (
        "ShuffledHashJoin" in plan
    )


def test_q124_exists_is_one_semi_join(spark):
    """Q4 shape: EXISTS must collapse to one left-semi join with the
    quarter filter pushed to the orders scan — never a re-executed
    per-row subquery or an extra aggregate."""
    plan = plan_of(entry.q124_order_priority_counts(spark, "/root/testdata/sf0.001"))
    assert "LeftSemi" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan


def test_q125_all_predicates_reach_scan(spark):
    """Q6 shape: the whole query is the scan, so discount/quantity/date
    predicates must appear in PushedFilters and only the 3 needed columns
    may be read."""
    plan = plan_of(entry.q125_forecast_revenue(spark, "/root/testdata/sf0.001"))
    pushed = plan.split("PushedFilters")[1].splitlines()[0]
    assert "l_discount" in pushed and "l_quantity" in pushed and "l_shipdate" in pushed
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_returnflag" not in read


def test_q128_global_total_broadcasts(spark):
    """Q11 shape: the 1-row global total must come back as a broadcast
    (two-pass stats), never an unpartitioned window over parts."""
    plan = plan_of(entry.q128_important_parts(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "Window" not in plan


def test_q122_repetition_gate_not_inlined_into_filter(spark):
    """The dup_gram_frac gate must evaluate MATERIALIZED repetition
    columns: if predicate pushdown substitutes the trigram transform into
    the filter condition, interpreted HOF evaluation re-tokenizes the
    document once per gram (measured 45 s -> >9 min pathologies at
    sf0.1). The shuffle-array fence in with_repetition_cols pins this."""
    import re

    opt = (
        entry.q122_corpus_ingest_batch(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    for m in re.finditer(r"Filter (.+)", opt):
        assert "transform(" not in m.group(1), m.group(1)[:200]


def test_budget_fill_window_is_sub_bucketed(spark):
    """q107: the corpus-wide running-sum window must partition on
    (stratum, sub-bucket) — a per-stratum-only window streams the whole
    hottest language through one task at 100 TB. The only per-stratum
    window allowed is the offsets pass over the tiny subtotal table,
    which sits under a BroadcastExchange."""
    import re

    plan = plan_of(entry.q107_token_budget_fill(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(lang#\d+, __tprs_sub#\d+", plan), plan
    # the wide window (the one ordered by the md5 bucket) partitions on
    # the sub-bucket too — its windowspecdefinition carries both keys
    wide = re.search(r"windowspecdefinition\(lang#\d+, __tprs_sub#\d+, __bkt", plan)
    assert wide, plan


def test_shard_pack_window_is_sub_bucketed(spark):
    """q70: same two-phase guarantee for the doc_id-ordered shard packer."""
    import re

    plan = plan_of(entry.q70_shard_pack(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(lang#\d+, __tprs_sub#\d+", plan), plan


def test_q137_running_share_window_is_sub_bucketed(spark):
    """q137: the fact-table cumulative sum must partition on
    (o_year, sub-bucket), never the year alone."""
    import re

    plan = plan_of(entry.q137_revenue_running_share(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(o_year#\d+L?, __tprs_sub#\d+", plan), plan


def test_q139_bigram_lm_broadcasts_vocab(spark):
    """q139: the 1-row vocab count must broadcast; the unigram table is
    vocab-sized and must come back as a (broadcastable) hash join against
    the bigram aggregate, never a corpus-wide extra shuffle."""
    plan = plan_of(entry.q139_bigram_lm(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_source_caps_no_global_sort(spark):
    """q89: the per-group cap is a keyed window (hashpartitioning on
    source), never an unpartitioned global sort."""
    plan = plan_of(entry.q89_source_caps(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan and "hashpartitioning(source" in plan
    assert "Exchange SinglePartition" not in plan


def test_q143_ntile_window_is_sub_bucketed(spark):
    """q143: the table-wide rank window must partition on the sub-bucket
    (never 'Exchange SinglePartition' under the wide Window) — the only
    global window allowed is the offsets pass over the tiny per-bucket
    count table, which sits under a BroadcastExchange."""
    import re

    plan = plan_of(entry.q143_equidepth_deciles(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(__tprs_sub#\d+", plan), plan


def test_q141_containment_no_cartesian(spark):
    """q141: candidate generation must be the fingerprint equi-join — no
    CartesianProduct; the only nested-loop joins allowed are the 1-row
    doc-count broadcasts feeding the corpus-relative hot-fp cap (one per
    appearance of the capped index subtree; formatted explain prints each
    node twice, tree + detail block)."""
    plan = plan_of(entry.q141_containment_dedup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_q148_packing_window_is_sub_bucketed(spark):
    """q148: the sequence-packing running sum must partition on
    (lang, sub-bucket) like every other two-phase window."""
    import re

    plan = plan_of(entry.q148_sequence_packing(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(lang#\d+, __tprs_sub#\d+", plan), plan


def test_gopher_and_entropy_plans_have_no_exchange(spark):
    """q150/q151 claim zero shuffle — no Exchange of any kind and no
    Python eval may appear."""
    import re

    for q in (entry.q150_gopher_quality, entry.q151_char_entropy):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        assert not re.search(r"^\(\d+\) Exchange", plan, re.M), plan
        assert "hashpartitioning" not in plan, plan
        assert "rangepartitioning" not in plan, plan
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_segment_dedup_shuffles_on_hash_and_doc_only(spark):
    """q149: election groups on the segment md5 and reassembly on doc_id —
    no global sort, no cartesian."""
    plan = plan_of(entry.q149_segment_dedup(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "Sort [" not in plan.split("Exchange rangepartitioning")[-1] or \
        "rangepartitioning" not in plan  # no range-partitioned global sort


def test_frequent_terms_recount_is_semi_join_on_candidates(spark):
    """q154: the exact recount must semi-join the token stream against the
    candidate set (broadcast at this size), never shuffle the full vocab
    without pruning."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from manufacturing_data_integration_tool_spark.ops.text import frequent_terms

    plan = plan_of(frequent_terms(docs, min_count=50))
    assert "LeftSemi" in plan
    assert "Broadcast" in plan


def test_dsir_admission_single_token_pass_no_python(spark):
    """q153: both LMs come from ONE token-stream groupBy; no Python eval
    nodes anywhere in the plan."""
    plan = plan_of(entry.q153_dsir_admission(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_q157_bm25_topk_is_take_ordered(spark):
    plan = plan_of(entry.q157_bm25_retrieval(spark, "/root/testdata/sf0.001"))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # the df/stats sides broadcast — no shuffle join against tiny dims
    assert "BroadcastExchange" in plan


def test_q158_c4_and_q159_encoding_have_no_exchange(spark):
    """Line filtering and the encoding screen are per-row HOF folds — any
    Exchange means a shuffle snuck into a scan-speed op."""
    for q in (entry.q158_c4_line_filter, entry.q159_encoding_screen):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        n_exchange = plan.count("Arguments: ") and len(
            [l for l in plan.splitlines() if l.strip().startswith("(") and ") Exchange" in l]
        )
        assert n_exchange == 0, q.__name__
        assert "hashpartitioning" not in plan and "SinglePartition" not in plan, q.__name__
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q160_overlap_and_q163_prefix_jaccard_no_cartesian(spark):
    for q in (entry.q160_source_overlap, entry.q163_prefix_jaccard):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan, q.__name__
        assert "BroadcastNestedLoopJoin" not in plan, q.__name__


def test_q163_prefix_index_smaller_than_full_index(spark):
    """The point of prefix filtering: the inverted index the self-join
    runs on must be strictly smaller than the full shingle index."""
    from manufacturing_data_integration_tool_spark.ops.dedup import (
        shingles_from_tokens,
    )
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit(""))
    base = docs.select(F.col("doc_id").alias("doc"), toks.alias("__tk")).select(
        "doc", shingles_from_tokens("__tk", 3).alias("sh")
    )
    full_index = base.select(F.explode("sh")).count()
    # at t=0.5 each doc contributes ~half its shingles to the prefix
    from fractions import Fraction

    sizes = base.select(F.size("sh").alias("n")).collect()
    expected_prefix = sum(n.n - (n.n + 1) // 2 + 1 for n in sizes if n.n > 0)
    assert expected_prefix < 0.6 * full_index


def test_q164_rfm_ntile_windows_are_sub_bucketed(spark):
    """All three RFM quartile windows must partition on their sub-bucket
    — an empty PARTITION BY would serialize the customer table through
    one task per metric."""
    plan = plan_of(entry.q164_rfm_segments(spark, "/root/testdata/sf0.001"))
    import re

    for m in re.finditer(r"partitionBy=\[([^\]]*)\]", plan):
        assert m.group(1).strip() != "", "unpartitioned window in RFM plan"


def test_q165_weighted_median_collapses_before_window(spark):
    """The cumulative-weight window must run over the per-(group, value)
    collapsed table: a HashAggregate (partial+final on group+value) has
    to appear BELOW the Window node in the plan."""
    plan = plan_of(entry.q165_weighted_median(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan
    win_pos = plan.index("Window")
    assert "HashAggregate" in plan
    # at least one aggregate is produced before the window consumes it:
    # the window's child subtree (printed after in formatted output)
    # contains the collapse aggregate
    assert plan.count("HashAggregate") >= 2


def test_q168_negative_rank_window_is_sub_bucketed(spark):
    """q168: the md5-shuffle global rank must ride the two-phase running
    sum (window partitioned on the md5-prefix sub-bucket), never an
    unpartitioned ROW_NUMBER over the corpus."""
    import re

    plan = plan_of(entry.q168_contrastive_negatives(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(__tprs_sub#\d+", plan), "rank window not sub-bucketed"


def test_q169_ewma_tail_filters_before_aggregate(spark):
    """The EWMA depth filter must run BEFORE the final aggregate (bounded
    per-key work) and the whole plan must stay JVM-side with exactly one
    per-key window."""
    plan = plan_of(entry.q169_ewma_user_value(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # two-phase top-k: a (user, hash-bucket) pre-rank window precedes the
    # final per-user window, so no task sorts a full user history
    assert "pmod" in plan and "xxhash64" in plan
    assert plan.count("row_number()") >= 2
    assert "__rn" in plan


def test_q170_and_q171_have_no_unpartitioned_window(spark):
    """MAD is two-pass broadcast stats (no window at all); CUSUM windows
    must be partitioned by the key — a global window would serialize."""
    plan = plan_of(entry.q170_mad_price_outliers(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan
    plan2 = plan_of(entry.q171_cusum_drift(spark, "/root/testdata/sf0.001"))
    assert "Window" in plan2
    import re

    for m in re.findall(r"partitionBy=\[([^\]]*)\]", plan2):
        assert "event_type" in m


def test_q172_pmi_and_q176_centroids_have_no_cartesian(spark):
    for q in (entry.q172_token_pmi, entry.q176_centroid_similarity):
        plan = plan_of(q(spark, "/root/testdata/sf0.001"))
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        assert "BatchEvalPython" not in plan


def test_q175_postings_collect_is_two_level(spark):
    """The posting-list collect must aggregate per (token, bucket) before
    the per-token merge — two HashAggregate pairs / two exchanges, not a
    single corpus-wide collect_list per token."""
    plan = plan_of(entry.q175_inverted_postings(spark, "/root/testdata/sf0.001"))
    assert "pmod" in plan
    assert "BatchEvalPython" not in plan


def test_q178_streak_distinct_runs_before_window(spark):
    """The day-level distinct must run below the gaps-and-islands window
    so window partitions are active-day-sized, never raw-event-sized."""
    plan = plan_of(entry.q178_longest_streak(spark, "/root/testdata/sf0.001"))
    import re

    for m in re.findall(r"partitionBy=\[([^\]]*)\]", plan):
        assert "user_id" in m
    assert "BatchEvalPython" not in plan


def test_q180_attribution_join_is_user_keyed_no_cartesian(spark):
    plan = plan_of(entry.q180_decay_attribution(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q181_trend_collapses_to_daily_before_window(spark):
    import re

    plan = plan_of(entry.q181_percentile_trend(spark, "/root/testdata/sf0.001"))
    for m in re.findall(r"partitionBy=\[([^\]]*)\]", plan):
        assert "event_type" in m


def test_no_df_rdd_probe_anywhere_in_package():
    """Lint: no `.rdd` access in package code (r4 verdict #4). Under AQE a
    `df.rdd` probe materializes the query stages — the exact trap
    `sources/readers.py` documents. Docstrings/comments may mention it;
    code may not, so the scan runs on the token stream."""
    import io
    import pathlib
    import tokenize

    root = pathlib.Path(__file__).resolve().parents[1] / (
        "manufacturing_data_integration_tool_spark"
    )
    offenders = []
    for path in sorted(root.rglob("*.py")):
        toks = list(tokenize.generate_tokens(
            io.StringIO(path.read_text()).readline))
        for prev, cur in zip(toks, toks[1:]):
            if (
                prev.type == tokenize.OP
                and prev.string == "."
                and cur.type == tokenize.NAME
                and cur.string == "rdd"
            ):
                offenders.append(f"{path.name}:{cur.start[0]}")
    assert not offenders, f".rdd access in package code: {offenders}"


def test_q196_auc_rank_window_is_sub_bucketed(spark):
    """q196: the cumulative below-count must ride the two-phase running
    sum (window partitioned on the score sub-bucket), never an
    unpartitioned window over the distinct-score table; and the whole
    rank pipeline stays JVM-side."""
    import re

    plan = plan_of(entry.q196_quality_auc(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(.*__tprs_sub#\d+", plan), (
        "AUC below-count window not sub-bucketed"
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q197_rrf_inputs_are_take_ordered(spark):
    """Both fused rankings must be distributed top-k
    (TakeOrderedAndProject), and the fusion itself tiny — no global
    sort, no cartesian."""
    plan = plan_of(entry.q197_rrf_fusion(spark, "/root/testdata/sf0.001"))
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q198_basket_lift_joins_are_keyed(spark):
    """The pair self-join keys on the basket column; the only
    nested-loop join allowed is the 1-row basket-total broadcast."""
    plan = plan_of(entry.q198_brand_basket_lift(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    # formatted explain prints each node twice (tree + detail): one
    # BNLJ node == 2 mentions, and it must be the 1-row Cross build
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("Join type: Cross") <= 1
    assert "BatchEvalPython" not in plan


def test_q199_calibration_stats_are_one_row_broadcast(spark):
    """Bin edges come from a broadcast 1-row min/max aggregate (the
    two-pass stats shape) — no window at all in the plan."""
    plan = plan_of(entry.q199_calibration_bins(spark, "/root/testdata/sf0.001"))
    assert "Window" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert plan.count("Join type: Cross") <= 1
    assert "CartesianProduct" not in plan


def test_q200_concurrency_collapses_before_window(spark):
    """The sweep must aggregate raw rows to per-day deltas BEFORE any
    window, and the running sum must be sub-bucketed (two-phase), so no
    task ever streams the raw fact table through a sort."""
    import re

    plan = plan_of(entry.q200_open_order_concurrency(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(.*__tprs_sub#\d+", plan), (
        "concurrency running sum not sub-bucketed"
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q201_pr_curve_windows_are_sub_bucketed(spark):
    """Both cumulative counts must ride the two-phase running sum; the
    totals are the 1-row broadcast cross."""
    import re

    plan = plan_of(entry.q201_pr_curve(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(.*__tprs_sub#\d+", plan)
    assert "CartesianProduct" not in plan
    assert plan.count("Join type: Cross") <= 1
    assert "BatchEvalPython" not in plan


def test_q202_twap_window_is_day_partitioned(spark):
    """The lead() window partitions by (event_type, day) — window tasks
    stay day-sized; no global window, no Python."""
    import re

    plan = plan_of(entry.q202_event_twap(spark, "/root/testdata/sf0.001"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "no window found"
    for m in specs:
        assert "event_type" in m and "day" in m
    assert "BatchEvalPython" not in plan


def test_q203_bloom_words_join_is_broadcast(spark):
    """The probe joins the ~KB word table by broadcast; nothing about
    the probe side shuffles for the membership check."""
    plan = plan_of(entry.q203_bloom_prefilter(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q204_chisq_marginals_broadcast_no_cartesian(spark):
    plan = plan_of(entry.q204_lang_source_chisq(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join type: Cross") <= 1
    assert "BatchEvalPython" not in plan


def test_q205_kmv_sketch_rank_is_two_phase(spark):
    """The per-source k-smallest must pre-rank within (source,
    hash-prefix sub-bucket) before the per-source rank — two row_number
    windows, the first keyed by the sub-bucket; no cartesian anywhere
    (the pair matrix is a broadcast of the tiny group dim)."""
    import re

    plan = plan_of(entry.q205_source_vocab_jaccard(spark, "/root/testdata/sf0.001"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert any("__sub" in m for m in specs), "k-smallest not sub-bucketed"
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q206_hdr_histogram_collapses_before_window(spark):
    """The histogram groupBy runs below the cumulative window (bucket
    table, not raw rows) and the running sum is sub-bucketed."""
    import re

    plan = plan_of(entry.q206_price_hdr_quantiles(spark, "/root/testdata/sf0.001"))
    assert re.search(r"hashpartitioning\(.*__tprs_sub#\d+", plan)
    assert "CartesianProduct" not in plan
    assert plan.count("Join type: Cross") <= 2  # targets + totals, both 1-row/broadcast literals
    assert "BatchEvalPython" not in plan


def test_q207_sn_rank_is_two_phase_and_join_is_keyed(spark):
    """The global sort-order rank must ride the two-phase running sum
    (sub-bucketed window) and the neighborhood join must be an equi-join
    on the rank bucket — never a rank-range theta/cross join."""
    import re

    plan = plan_of(entry.q207_sorted_neighborhood(spark, "/root/testdata/sf0.001"))
    # the localCheckpoint truncates the visible lineage, so assert the
    # rank stage's sub-bucketing on the op's own ranking pipeline
    from manufacturing_data_integration_tool_spark.ops.sampling import (
        two_phase_running_sum,
    )
    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    names = (
        read_table(spark, "/root/testdata/sf0.001", "part")
        .select(F.col("p_name").alias("__k"))
        .distinct()
    )
    rank_plan = plan_of(
        two_phase_running_sum(
            names, [], [F.asc("__k")], F.lit(1), F.substring("__k", 1, 1)
        )
    )
    assert re.search(r"hashpartitioning\(.*__tprs_sub#\d+", rank_plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q208_corr_collapses_to_daily_before_window(spark):
    """Raw events aggregate to (type, day) before the rolling frame; the
    frame windows partition by the key."""
    import re

    plan = plan_of(entry.q208_rolling_corr(spark, "/root/testdata/sf0.001"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("__key" in m for m in specs)  # the key alias
    assert "BatchEvalPython" not in plan


def test_q209_repair_windows_are_custkey_partitioned(spark):
    import re

    plan = plan_of(entry.q209_fd_repair(spark, "/root/testdata/sf0.001"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs and all("o_custkey" in m for m in specs)
    assert "CartesianProduct" not in plan


def test_q210_multipass_er_no_cartesian(spark):
    """Three blocked pair passes + star-contraction clustering: every
    join equi-keyed (block key / soundex code / rank bucket / node id),
    no cross join, no Python."""
    plan = plan_of(entry.q210_entity_clusters(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_q211_diff_shuffles_hashes_not_payload(spark):
    """The full-outer diff join must consume pre-hashed (key, md5)
    projections — the md5 is computed below the join exchange, and no
    payload column crosses the shuffle."""
    plan = plan_of(entry.q211_snapshot_diff(spark, "/root/testdata/sf0.001"))
    assert "md5" in plan
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_q212_and_q213_windows_are_bounded_partitions(spark):
    """q212's argmin windows partition by the endpoint name (bounded
    candidate lists); q213's lag windows partition by (event_type,
    weekday) after the daily collapse."""
    import re

    plan = plan_of(entry.q212_mutual_best_match(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    plan2 = plan_of(entry.q213_seasonal_residuals(spark, "/root/testdata/sf0.001"))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan2)
    assert specs and all("event_type" in m and "__wd" in m for m in specs)
    assert "BatchEvalPython" not in plan2


def test_window_funnel_joins_stay_user_keyed(spark):
    """q218's stage joins must be hash equi-joins on the user key with
    range residuals — a cartesian product here means the range predicate
    swallowed the equi-key."""
    plan = plan_of(entry.q218_window_funnel(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_blocking_audit_materializes_no_pairs(spark):
    """q219 is counting arithmetic over grouped counts: its only joins are
    the documented 1-row broadcast aggregates (BNLJ on a 1-row build side),
    never a pair join between row-cardinality frames."""
    plan = plan_of(entry.q219_blocking_audit(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # nothing row-sized joins anything


def test_abc_xyz_ranking_is_two_phase(spark):
    """q222's global revenue ranking must come from the sub-bucketed
    two-phase running sum: the wide window partitions on the sub-bucket
    column, and no TakeOrdered/global Sort over the part table appears."""
    from manufacturing_data_integration_tool_spark.ops.inventory import abc_xyz
    from pyspark.sql import Row

    rev = spark.createDataFrame([Row(k=i, rc=i * 100) for i in range(1, 200)])
    per = spark.createDataFrame([Row(k=i, q=10) for i in range(1, 200)])
    plan = plan_of(abc_xyz(rev, "k", "rc", per, "q"))
    assert "CartesianProduct" not in plan
    # the row-cardinality window is keyed by the sub-bucket
    assert "__tprs_sub" in plan


def test_ks_pairwise_grid_join_is_bounded_broadcast(spark):
    """q231's only cross join completes the (values x groups) grid with a
    broadcast of the group list — CartesianProduct must never appear."""
    plan = plan_of(entry.q231_source_ks_drift(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan


def test_fixed_width_scan_has_no_python(spark):
    plan = plan_of(entry.q226_fixed_width_scan(spark, "/root/testdata/sf0.001"))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_partitioned_scan_prunes_partitions(spark):
    """q377's month filter must reach the parquet scan as a
    PartitionFilter (directory pruning), not a post-scan Filter —
    at 100 TB that is the difference between touching 3/12ths of the
    files and a full scan."""
    plan = plan_of(entry.q377_partitioned_scan(spark, "/root/testdata/sf0.001"))
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_month" in m.group(1), plan[:2000]


def test_bucketed_join_no_exchange_on_join_key(spark):
    """q395's orders-lineitem join reads two tables bucketed 8-ways on
    the order key: BOTH sides arrive pre-hashed into the same bucket
    scheme, so the join must run with ZERO Exchange on the join key —
    the amortized-shuffle layout contract this query exists to certify.
    Broadcast is disabled for the probe so AQE can't hide a missing
    bucket-read behind a small-scale broadcast."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = raw_plan_of(
            entry.q395_bucketed_join(spark, "/root/testdata/sf0.001")
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    import re

    # the only hash exchange allowed is the final groupBy on
    # o_orderpriority — never one feeding the join on the order key
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "orderkey" not in m.group(1), plan[:2500]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_q397_bucketed_q3_zero_shuffle_end_to_end(spark):
    """q397 (the bucketed-layout twin of q43 / TPC-H Q3, r11 verdict
    item #7) must run with ZERO shuffle Exchange under the DEFAULT
    config: the orders-lineitem join reads co-located buckets, the
    filtered customer dim is broadcast, and the groupBy keys
    (l_orderkey, o_orderdate) contain the bucket key so the aggregation
    inherits its distribution from the at-rest layout — the whole plan
    down to TakeOrderedAndProject is exchange-free. A second pin with
    broadcast DISABLED forces the big-big SortMergeJoin shape and
    asserts no single-key exchange on the order key ever feeds it (the
    custkey exchange that appears under forced-SMJ is the non-bucketed
    dimension join, broadcast in the real plan)."""
    import re

    plan = raw_plan_of(
        entry.q397_bucketed_shipping_priority(spark, "/root/testdata/sf0.001")
    )
    assert "Exchange hashpartitioning" not in plan, plan[:2500]
    assert "TakeOrderedAndProject" in plan

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = raw_plan_of(
            entry.q397_bucketed_shipping_priority(
                spark, "/root/testdata/sf0.001"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        keys = [k.strip() for k in m.group(1).split(",")[:-1]]  # drop numPartitions
        solo_orderkey = len(keys) == 1 and "orderkey" in keys[0]
        assert not solo_orderkey, plan[:2500]


def test_q398_bloom_prefilter_drops_rows_before_probe_shuffle(spark):
    """q398 (Bloom semi-join reduction, r12): the md5-lane bloom
    predicate must evaluate BELOW the probe-side exchange, so
    guaranteed-non-member lineitem rows never pay the join shuffle.
    Forced big-big SMJ exposes the probe exchange; the bloom check (its
    conv(substring(md5 fingerprint) must appear deeper in the tree than
    the Exchange on l_orderkey, and the only nested-loop join is the
    documented 1-row filter-map broadcast."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = raw_plan_of(
            entry.q398_bloom_semijoin_reduction(
                spark, "/root/testdata/sf0.001"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    ex = plan.find("Exchange hashpartitioning(l_orderkey")
    bloom = plan.find("conv(substring(md5")
    assert ex != -1 and bloom != -1, plan[:2500]
    assert ex < bloom, "bloom predicate must sit below the probe exchange"
    assert "CartesianProduct" not in plan
    # default config: the exact join broadcasts the selective order side,
    # so NO hash exchange on either join key appears anywhere
    import re

    plan = raw_plan_of(
        entry.q398_bloom_semijoin_reduction(spark, "/root/testdata/sf0.001")
    )
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "orderkey" not in m.group(1), plan[:2500]


def test_q400_dynamic_partition_pruning_fires(spark):
    """q400 (r12): the ship-month partitioned fact scan must carry a
    RUNTIME partition filter derived from the filtered dim join — the
    dynamicpruning subquery in the physical plan. Without DPP the scan
    reads every month directory and the join does the discarding; with
    it the scan skips non-qualifying partitions entirely (the
    star-schema lever at 100 TB). Also: no row-at-a-time Python, no
    cartesian."""
    plan = raw_plan_of(
        entry.q400_dynamic_partition_pruning(spark, "/root/testdata/sf0.001")
    )
    assert "dynamicpruning" in plan.lower(), plan[:2500]
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_granger_lag_join_is_pinned_broadcast(spark):
    """q388's lag alignment is a dense-index self-join on the BOUNDED
    daily table — the broadcast is pinned (q358/q367 sweep lesson: the
    upstream size estimate grows with raw input even though the daily
    table is bounded by calendar), so SortMergeJoin must never appear."""
    plan = plan_of(entry.q388_granger_lag1(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pettitt_no_cartesian_no_python(spark):
    """q389 replaces Pettitt's O(n^2) double sum with rank windows over
    the bounded daily table: no cross/cartesian join, no Python eval."""
    plan = plan_of(entry.q389_pettitt(spark, "/root/testdata/sf0.001"))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_bmp_and_wav_decode_single_scan_arrow_no_shuffle(spark):
    """q386/q387 run synth + REAL codec decode as back-to-back Arrow
    kernels riding one documents scan — zero exchanges, zero
    row-at-a-time Python: the 100 TB multimodal posture (parallelism =
    partition count, Python boundary crossed per batch)."""
    import re

    for fn in (entry.q386_bmp_decode, entry.q387_wav_decode):
        plan = plan_of(fn(spark, "/root/testdata/sf0.001"))
        assert "MapInPandas" in plan
        assert "BatchEvalPython" not in plan
        # no exchange at all: the decode is embarrassingly parallel
        exchanges = re.findall(
            r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (\w+)",
            plan, re.M,
        )
        assert exchanges == [], plan[:1500]
        assert "hashpartitioning" not in plan
        assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_png_decode_single_scan_arrow_no_shuffle(spark):
    """q393 (compressed image, zlib + filter reconstruction) keeps the
    q386/q387 posture: one documents scan, back-to-back Arrow kernels —
    deflate/inflate cost scales with the partition count, no shuffle, no
    per-row Python."""
    import re

    plan = plan_of(entry.q393_png_decode(spark, "/root/testdata/sf0.001"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_avi_decode_single_scan_arrow_no_shuffle(spark):
    """q390 (video container) keeps the q386/q387 posture: one scan,
    Arrow kernels, no shuffle."""
    import re

    plan = plan_of(entry.q390_avi_frames(spark, "/root/testdata/sf0.001"))
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
    assert "hashpartitioning" not in plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_diebold_mariano_lag_joins_are_pinned_broadcast(spark):
    plan = plan_of(entry.q392_diebold_mariano(spark, "/root/testdata/sf0.001"))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2  # lag-1 and lag-7 sides


def test_q403_aqe_skew_join_splits_hot_partition(spark):
    """q403 (r12): under the query's AQE confs the runtime re-plan must
    actually FLAG and SPLIT the hot partition — the final adaptive plan
    shows SortMergeJoin(skew=true) with a skewed AQEShuffleRead (the
    no-rewrite answer to skew at 100 TB). Executed (not just explained):
    skew handling only appears in the final plan after stage stats
    exist. Confs are restored afterward regardless."""
    confs = entry._q403_confs("/root/testdata/sf0.001")
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        df = entry._q403_skew_plan(spark, "/root/testdata/sf0.001")
        df.collect()
        plan = raw_plan_of(df)
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "skew=true" in plan, plan[:2500]
    assert "skewed" in plan  # AQEShuffleRead split of the hot partition
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_q403_confs_remote_path_keeps_spark_default(monkeypatch, tmp_path):
    """A remote or missing sf_dir cannot be sized by a local stat: the
    advisory size is Spark's 64 MB default, not the 4 KB floor, and a
    remote path is never touched."""
    from pathlib import Path

    def no_io(*args, **kwargs):
        raise AssertionError("local file I/O on a remote path")

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    with monkeypatch.context() as m:
        for name in ("exists", "is_dir", "is_file", "stat", "rglob"):
            m.setattr(Path, name, no_io)
        for remote in ("s3a://bucket/sf", "hdfs://nn:8020/sf"):
            assert entry._q403_confs(remote)[key] == str(64 * 1024 * 1024)
    assert entry._q403_confs(str(tmp_path / "absent"))[key] == str(64 * 1024 * 1024)
    local = int(entry._q403_confs("/root/testdata/sf0.001")[key])
    assert 4096 <= local < 64 * 1024 * 1024


def test_read_table_adds_no_exchange(spark):
    """read_table returns the bare parquet scan: partitioning is left to
    the operators downstream, whatever the table or its file layout."""
    import re

    from manufacturing_data_integration_tool_spark.sources.readers import read_table

    for name in ("lineitem", "orders", "documents", "events", "embeddings"):
        plan = plan_of(read_table(spark, "/root/testdata/sf0.001", name))
        assert not re.search(r"^\(\d+\) Exchange", plan, re.M), (name, plan)


def test_q406_bucket_pruning_reads_subset_of_buckets(spark):
    """q406 (r12): the IN-list filter on the bucket key must prune
    bucket FILES at the scan — SelectedBucketsCount strictly below the
    8 written — on both bucketed sides, and the join between them must
    stay Exchange-free on the join key (the q397 co-location, intact
    under pruning)."""
    import re as _re

    df = entry.q406_bucket_pruning(spark, "/root/testdata/sf0.001")
    plan = raw_plan_of(df)
    counts = [
        int(m.group(1))
        for m in _re.finditer(r"SelectedBucketsCount: (\d+) out of 8", plan)
    ]
    assert len(counts) == 2, plan[:2500]  # both bucketed scans pruned
    assert all(c < 8 for c in counts), counts
    join_zone = plan.split("SortMergeJoin")[-1]
    assert "Exchange hashpartitioning(o_orderkey" not in join_zone
    assert "Exchange hashpartitioning(l_orderkey" not in join_zone
