"""Plan-shape tests: lock in the physical-plan properties the engine is
designed around (predicate pushdown, column pruning, broadcast joins,
single-shuffle operators). A correctness-green query whose plan regresses
to a full scan / extra shuffle / sort-merge of a dimension table is a
scale bug even when local results match — these tests fail it early.
"""

import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    # hash/range repartitions only — BroadcastExchange is not a shuffle
    return len(re.findall(r"Exchange (hash|range)partitioning", plan))


@pytest.fixture(scope="module")
def queries():
    from parkour_spark.queries import QUERIES

    return QUERIES


def test_q1_single_shuffle_partial_agg(spark, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan
    # partial (map-side) + final aggregate — the combiner the reference
    # attaches explicitly (graph.clj:239-248) must be automatic here
    assert plan.count("HashAggregate") >= 2, plan


def test_q1_column_pruning(spark, queries):
    plan = _plan(queries["q1_pricing_summary"](spark, SF_DIR))
    # ReadSchema gets truncated in toString(); the FileScan output list
    # carries the same pruned column set
    m = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    cols = {c.split("#")[0] for c in m.group(1).split(",") if c}
    # only the aggregated/grouped columns reach the scan, never all 16
    assert cols <= {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate",
    }, cols


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = _plan(queries["active_automobile_customers"](spark, SF_DIR))
    assert "PushedFilters: [" in plan, plan
    assert re.search(r"PushedFilters: \[[^\]]*IsNotNull", plan) or re.search(
        r"PushedFilters: \[[^\]]*EqualTo", plan
    ), plan


def test_dimension_joins_broadcast_not_sortmerge(spark, queries):
    plan = _plan(queries["region_customer_counts"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_asof_join_single_shuffle(spark, queries):
    """The union-sort as-of join's whole point: one shuffle on the key,
    never a join or per-key pandas pass."""
    plan = _plan(queries["asof_purchase_view"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_knn_broadcasts_queries_not_corpus(spark, queries):
    plan = _plan(queries["knn_cosine"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    # the corpus side must not shuffle before the join; the only
    # repartitioning allowed is the per-query ranking window afterwards
    assert _shuffles(plan) <= 1, plan


def test_ivf_probe_join_broadcasts_probes(spark, queries):
    plan = _plan(queries["ivf_topk_cosine"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_exact_dedup_single_shuffle(spark, queries):
    plan = _plan(queries["dedup_exact"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_word_count_partial_agg_before_shuffle(spark, queries):
    plan = _plan(queries["word_count"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_range_join_is_equi_not_nested_loop(spark, queries):
    plan = _plan(queries["range_join_quantity_bands"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tfidf_single_text_scan(spark, queries):
    """r4 plan-regression guard (r3 verdict #7): tfidf tokenizes the
    corpus EXACTLY once — one scan reads the text column; the only
    other scan of documents is the zero-column n_docs count (parquet
    row-group counts, ReadSchema struct<>). The r2 regression class
    (duplicated tf subtree re-tokenizing the corpus) would show a
    second text:string scan here."""
    plan = _plan(queries["tfidf_top_terms"](spark, SF_DIR))
    assert plan.count("documents.parquet") == 2, plan
    assert plan.count("text:string") == 1, plan
    assert "ReadSchema: struct<>" in plan, plan


def test_pmi_single_text_scan_via_cache(spark, queries):
    """r4 plan-regression guard: every scan of documents in the pmi
    plan sits under an InMemoryTableScan of the persisted
    vocabulary-sized count table — the corpus is tokenized once at
    cache fill, and unigram counts, bigram counts, and both totals all
    derive from the cache. Dropping the persist (the r2 5x-retokenize
    regression) makes InMemoryTableScan vanish while raw scans remain,
    breaking the equality."""
    plan = _plan(queries["pmi_collocations"](spark, SF_DIR))
    n_scans = plan.count("documents.parquet")
    assert n_scans >= 1
    assert plan.count("InMemoryTableScan") == n_scans, plan


def test_repetition_profile_zero_shuffle(spark, queries):
    """The Gopher repetition filters are scan-side Column folds — the
    plan must contain no Exchange and no Generate (no explode)."""
    plan = _plan(queries["repetition_profile"](spark, SF_DIR))
    assert _shuffles(plan) == 0, plan
    assert "Generate" not in plan, plan


def test_pii_scrub_zero_shuffle(spark, queries):
    plan = _plan(queries["pii_scrub"](spark, SF_DIR))
    assert _shuffles(plan) == 0, plan


def test_line_dedup_no_window_partial_agg_first_occurrence(spark, queries):
    """First-occurrence resolution must be a partial-agg groupBy, not a
    window over partitionBy(line): a boilerplate line in half the
    corpus would make the window's hot key a single-task straggler,
    while min(struct) combines map-side."""
    plan = _plan(queries["line_dedup_boiler"](spark, SF_DIR))
    assert "Window" not in plan, plan
    assert "partial_min" in plan, plan


def test_decontaminate_broadcasts_eval_side(spark, queries):
    plan = _plan(queries["decontaminate_ngram_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_dedup_no_cartesian(spark, queries):
    """Cluster blocking must keep the pair generation an equi-join /
    bucket-explode plan — never an all-pairs join."""
    plan = _plan(queries["semantic_dedup_kmeans"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_delta_dedup_no_corpus_self_join(spark, queries):
    plan = _plan(queries["dedup_delta_ingest"](spark, SF_DIR))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# --- TPC-H-adapted plan shapes (r4 session: q6/q7/q10/q14/q18/q19) ----------


def test_q6_pushdown_and_pruning_no_join(spark, queries):
    plan = _plan(queries["q6_forecast_revenue"](spark, SF_DIR))
    # pure scan+agg: no join operator of any kind, exactly one (1-row) merge
    assert "Join" not in plan, plan
    # all four predicates reach the parquet scan
    m = re.search(r"PushedFilters: \[([^\]]*)", plan)
    assert m, plan
    pushed = m.group(1)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    # only the 4 referenced columns are read
    s = re.search(r"FileScan parquet \[([^\]]*)\]", plan)
    cols = {c.split("#")[0] for c in s.group(1).split(",") if c}
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_q7_both_nation_decodes_broadcast(spark, queries):
    plan = _plan(queries["q7_volume_shipping"](spark, SF_DIR))
    # supplier + 2 aliased nation sides all broadcast — never sort-merged
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q10_topk_is_take_ordered(spark, queries):
    plan = _plan(queries["q10_returned_items"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    # the returnflag filter pushes to the lineitem scan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan), plan


def test_q14_no_groupby_shuffle(spark, queries):
    plan = _plan(queries["q14_promo_effect"](spark, SF_DIR))
    # conditional agg: broadcast join + global partial agg, zero wide shuffle
    assert _shuffles(plan) == 0, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q18_having_keys_semi_join(spark, queries):
    plan = _plan(queries["q18_large_volume_customers"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan


def test_q19_derived_domain_predicates_pushed(spark, queries):
    plan = _plan(queries["q19_disjunctive_predicates"](spark, SF_DIR))
    # the OR spans both tables, but Catalyst derives per-side domain
    # disjunctions; the lineitem quantity bound must reach that scan
    m = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("l_quantity" in p for p in m), m
    assert any("p_brand" in p or "p_size" in p for p in m), m
    assert "BroadcastHashJoin" in plan, plan


# --- TPC-H-adapted plan shapes, continued (q4/q13/q15/q17/q21/q22) ----------


def test_q4_exists_is_semi_join_on_filtered_scan(spark, queries):
    plan = _plan(queries["q4_priority_check"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    # the EXISTS probe is a raw filtered scan: returnflag pushes to it,
    # and the date window pushes to the orders scan
    m = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("l_returnflag" in p for p in m), m
    assert any("o_orderdate" in p for p in m), m


def test_q13_filter_stays_in_outer_join_condition(spark, queries):
    plan = _plan(queries["q13_order_count_distribution"](spark, SF_DIR))
    # the priority predicate must NOT reach the orders scan as a
    # pushed filter's post-scan Filter above the join — it lives in the
    # join itself (pushing into the null-supplying side pre-join is
    # fine and outer-join-preserving; a Filter ABOVE the join would
    # silently drop the c_count=0 customers)
    assert "LeftOuter" in plan, plan
    above = plan.split("LeftOuter")[0]  # operators above the join
    assert "1-URGENT" not in above.split("Join")[0], plan


def test_q15_argmax_is_broadcast_not_sort(spark, queries):
    plan = _plan(queries["q15_top_supplier"](spark, SF_DIR))
    # revenue = max(revenue) via a broadcast 1-row aggregate — the plan
    # must contain no global Sort at all (argmax-by-join, not order+limit)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan or plan.count("Sort ") <= 1, plan


def test_q17_decorrelated_agg_rejoin(spark, queries):
    plan = _plan(queries["q17_small_quantity_revenue"](spark, SF_DIR))
    # the correlated avg decorrelates to aggregate-then-rejoin: two
    # lineitem scans, the part filter broadcast, and the integer
    # threshold evaluated post-join (no division anywhere)
    assert plan.count("FileScan parquet") >= 2, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q21_semi_and_anti_on_same_fact(spark, queries):
    plan = _plan(queries["q21_waiting_supplier"](spark, SF_DIR))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    # supplier decode broadcasts
    assert "BroadcastHashJoin" in plan, plan


def test_q22_scalar_gate_broadcast_anti_join(spark, queries):
    plan = _plan(queries["q22_sales_opportunity"](spark, SF_DIR))
    # the 1-row balance aggregate broadcasts (nested-loop over 1 row is
    # fine); the NOT EXISTS is an anti join; the urgent-priority filter
    # pushes to the orders scan so the anti probe side is pre-shrunk
    assert "LeftAnti" in plan, plan
    m = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("o_orderpriority" in p for p in m), m


def test_q8_pruned_part_broadcasts_and_filters_push(spark, queries):
    plan = _plan(queries["q8_market_share"](spark, SF_DIR))
    # the selective p_type filter + date window push to their scans
    m = re.findall(r"PushedFilters: \[([^\]]*)", plan)
    assert any("p_type" in p for p in m), m
    assert any("o_orderdate" in p for p in m), m
    # part + both nation decodes + region + supplier broadcast; never a
    # nested loop
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert "BroadcastNestedLoop" not in plan and "Cartesian" not in plan


# ------------------------------------------------------------------
# Round-8 operators: single-pass / TakeOrdered / no-corpus-shuffle
# ------------------------------------------------------------------

def test_golden_record_single_shuffle_partial_agg(spark, queries):
    """k struct-max fields ride ONE aggregate pass: one exchange,
    partial + final HashAggregate (or objectagg), no window/join."""
    plan = _plan(queries["golden_record_customers"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan
    assert "Window" not in plan and "Join" not in plan, plan


def test_attrition_single_aggregate_pass(spark, queries):
    """All stages' conditional sums compile into one scan + one 1-row
    merge — N stages must never mean N scans."""
    plan = _plan(queries["attrition_docs_pipeline"](spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_ess_single_shuffle_with_pushdown(spark, queries):
    plan = _plan(queries["ess_event_value_by_type"](spark, SF_DIR))
    assert _shuffles(plan) == 1, plan


def test_kappa_margins_broadcast_over_cells(spark, queries):
    """Margins and the chance-product sum join the CELL table via
    broadcast — a SortMergeJoin would shuffle margin tables keyed on
    category values."""
    plan = _plan(queries["kappa_lang_annotators"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_zipf_head_is_takeordered_no_global_sort(spark, queries):
    plan = _plan(queries["zipf_slope_docs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan


def test_llr_head_is_takeordered_margins_broadcast(spark, queries):
    plan = _plan(queries["llr_collocations_docs"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_dedup_decode_fanback_joins_are_key_sized_broadcast(spark, queries):
    """The decoded-columns fan-back must reach the (id, fp) table as
    broadcast hash joins — payload bytes never enter a shuffle."""
    plan = _plan(queries["multimodal_dhash_dedup_decode"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


def test_pq_probe_reads_only_codes_no_join(spark, queries):
    """The persisted-PQ serving path (pq_probe_adc): the plan must be
    codes-scan → Arrow score → window top-k — NO join of any kind (the
    query tables live in the closure) and exactly the one final-rank
    shuffle. A corpus-side join or extra shuffle here is the
    100 TB-scale bug this entry exists to prevent."""
    plan = _plan(queries["pq_probe_persisted"](spark, SF_DIR))
    assert "Join" not in plan, plan
    # codes scan only: the vector column never reaches the probe scan
    m = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    for cols in m:
        assert "embedding" not in cols, plan
    # one exchange for the per-query rank window (+ the widen_scan
    # round-robin rebalance, which is not a hash/range shuffle)
    assert _shuffles(plan) <= 1, plan


def test_ivf_probe_after_compact_keeps_partition_pruning(spark, queries):
    """Compaction restores the canonical cell= layout — the probe's
    static cell filter must still prune partitions (PartitionFilters
    non-empty), and the probe side stays broadcast."""
    plan = _plan(queries["ivf_probe_after_compact"](spark, SF_DIR))
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ivfpq_probe_prunes_partitions_no_join(spark, queries):
    """The persisted composite index's serving plan: static cell
    PartitionFilters (only probed lists' files open), NO join (tables
    live in the closure), vectors never scanned, one rank shuffle."""
    plan = _plan(queries["ivfpq_probe_persisted"](spark, SF_DIR))
    assert re.search(r"PartitionFilters: \[[^\]]*cell", plan), plan
    assert "Join" not in plan, plan
    m = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    for cols in m:
        assert "embedding" not in cols, plan
    assert _shuffles(plan) <= 1, plan


def test_text_probe_prunes_buckets_and_pushes_terms(spark, queries):
    """The persisted text index's serving plan: static tbucket
    PartitionFilters (only the query terms' buckets open), the term
    IN-list pushed to the postings scan, the 1-row stats side
    broadcast, and NO scan of the documents table (tokenization was
    paid at build)."""
    plan = _plan(queries["text_probe_persisted"](spark, SF_DIR))
    assert re.search(r"PartitionFilters: \[[^\]]*tbucket", plan), plan
    assert re.search(r"PushedFilters: \[[^\]]*In\(term", plan), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    m = re.findall(r"FileScan parquet \[([^\]]*)\]", plan)
    assert m, plan
    for cols in m:
        assert "text" not in cols.split(","), plan
