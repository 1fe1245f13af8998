"""Physical-plan regression tests: the scale-critical plan properties
(broadcast dims, filter pushdown, column pruning, no cartesian products)
are asserted, not assumed — a change that silently degrades a plan fails
CI even while results stay correct."""

from __future__ import annotations

import contextlib
import io

import pytest

from iceberg_demo_spark import registry
from tests.conftest import SF_MED

registry.load_all()


def _plan(spark, name: str) -> str:
    df = registry.QUERIES[name](spark, SF_MED)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_plan_broadcasts_all_dims(spark):
    plan = _plan(spark, "flagship_revenue_by_region")
    # tree lines read "BroadcastHashJoin Inner BuildRight"; the details
    # section repeats each operator without the join type
    assert plan.count("BroadcastHashJoin Inner") == 4  # orders/customer/nation/region
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_flagship_plan_pushes_shipdate_filter(spark):
    plan = _plan(spark, "flagship_revenue_by_region")
    assert "PushedFilters" in plan
    # the selective predicate reaches the lineitem scan
    assert "GreaterThanOrEqual(l_shipdate" in plan


def test_flagship_plan_prunes_columns(spark):
    plan = _plan(spark, "flagship_revenue_by_region")
    # lineitem scan must not read all 11 columns — the ReadSchema for the
    # fact table carries only join key + filter + measure columns
    for line in plan.splitlines():
        if "ReadSchema" in line and "l_extendedprice" in line:
            assert "l_comment" not in line and "l_tax" not in line
            assert line.count(",") <= 4, line  # ≤5 columns read
            break
    else:
        pytest.fail("no lineitem ReadSchema found")


@pytest.mark.parametrize("name", [
    "q3_top_unshipped_orders", "q5_local_supplier_volume",
    "q10_returned_items", "q19_brand_size_revenue",
])
def test_star_joins_never_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan


def test_q19_pushes_quantity_bounds(spark):
    """The OR-of-ANDs must still push a usable quantity range to the fact
    scan (Catalyst extracts the common bounds)."""
    plan = _plan(spark, "q19_brand_size_revenue")
    assert "PushedFilters" in plan
    assert "l_quantity" in plan.split("PushedFilters")[1][:400]


def test_salted_agg_has_two_aggregate_stages(spark):
    plan = _plan(spark, "skew_salted_agg")
    # phase-1 (key, salt) agg + phase-2 key agg, each partial+final
    assert plan.count("HashAggregate") >= 4


def test_asof_join_is_single_window_no_join(spark):
    """The as-of composition must not contain ANY join operator — its whole
    point is replacing the inequality join with a window."""
    plan = _plan(spark, "asof_click_attribution")
    assert "Join" not in plan
    assert "Window" in plan


@pytest.mark.parametrize("name", [
    "doc_repetition_metrics", "doc_tfidf_top_terms",
    "events_funnel_conversion", "orders_cohort_retention",
])
def test_analytics_plans_never_cartesian(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_is_joinless_single_user_shuffle(spark):
    """The funnel is one conditional-MIN groupBy per user plus scalar work —
    a join or a second wide shuffle would mean the shape regressed."""
    plan = _plan(spark, "events_funnel_conversion")
    assert "Join" not in plan
    # partial+final for the per-user agg, then the global 4-counter agg
    assert plan.count("HashAggregate") >= 4


def test_tfidf_ranks_with_window_per_doc(spark):
    plan = _plan(spark, "doc_tfidf_top_terms")
    assert "Window" in plan
    assert "TakeOrderedAndProject" in plan  # top-20 never globally sorts


def test_cohort_scan_prunes_to_two_columns(spark):
    """Both orders scans must read only (o_custkey, o_orderdate)."""
    plan = _plan(spark, "orders_cohort_retention")
    for chunk in plan.split("ReadSchema: ")[1:]:
        schema_line = chunk.splitlines()[0]
        assert "o_totalprice" not in schema_line
        assert "o_orderstatus" not in schema_line


def test_redaction_is_joinless_single_source_shuffle(spark):
    """Redaction is per-row higher-order functions + one groupBy(source)."""
    plan = _plan(spark, "doc_pii_redaction")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan
    # exactly one wide (hash) exchange — the source-key agg; the only other
    # exchange is the 20-row range partition for the final ORDER BY
    assert plan.count("hashpartitioning(") == 1


def test_shard_assignment_is_joinless(spark):
    plan = _plan(spark, "doc_shard_assignment")
    assert "Join" not in plan


def test_decontamination_broadcasts_benchmark_shingles(spark):
    """The eval-suite shingle set must broadcast; a shuffled semi-join here
    means the 100 TB train-side scan would shuffle on shingle."""
    plan = _plan(spark, "doc_decontamination")
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "SortMergeJoin LeftSemi" not in plan
    assert "CartesianProduct" not in plan


def test_quantization_broadcasts_dim_stats(spark):
    """The 64-row per-dim maxabs aggregate joins back as a broadcast —
    shuffling the exploded vectors on dim would be the wrong shape."""
    plan = _plan(spark, "emb_int8_quantization")
    assert "BroadcastHashJoin Inner" in plan
    assert "SortMergeJoin" not in plan


def test_kmeans_assignments_broadcast_centroids(spark):
    """Both Lloyd assignment passes are BNLJ against k=8 centroid rows —
    the deliberate broadcast-tiny-side shape (like sim_cosine_topk); a
    CartesianProduct would mean the broadcast was lost. Three tree
    occurrences, not two: the iter-1 assignment subtree feeds both the
    centroid update and the cluster-size rollup (see docstring)."""
    plan = _plan(spark, "emb_kmeans_clusters")
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 3
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # the 8-row rollup joins broadcast
    # the fold-argmin assignment is a pure map: the corpus is NEVER
    # shuffled on vec_id and there is no window sort
    assert "hashpartitioning(vec_id" not in plan
    assert "Window" not in plan


def test_bucketed_join_has_no_exchange_below_the_join(spark):
    """Both sides are bucketed on the join key, so the sort-merge join must
    run exchange-free — the entire point of the layout. Only the rollup
    above the join may shuffle."""
    plan = _plan(spark, "bucketed_colocated_join")
    tree = plan.split("\n\n")[0]
    assert "SortMergeJoin Inner" in tree
    join_at = tree.index("SortMergeJoin Inner")
    assert "Exchange" not in tree[join_at:], "join input was shuffled"
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount: 8 out of 8" in plan


def test_partition_pruned_scan_prunes_directories(spark):
    plan = _plan(spark, "partition_pruned_scan")
    assert "PartitionFilters" in plan
    assert "(l_returnflag" in plan.split("PartitionFilters")[1].splitlines()[0]
    # the partition column lives in directory names, not file bytes
    for chunk in plan.split("ReadSchema: ")[1:]:
        assert "l_returnflag" not in chunk.splitlines()[0]


def test_ivf_assignment_never_shuffles_the_corpus(spark):
    """IVF cell assignment is a fold over one broadcast centroid row — the
    corpus must not be row-multiplied and shuffled on vec_id (the audit
    caught the earlier broadcast-join + window form doing exactly that).
    Remaining exchanges are on query_id (8 rows)."""
    plan = _plan(spark, "sim_ann_ivf_topk")
    assert "hashpartitioning(vec_id" not in plan


def test_q18_preaggregates_lineitem_below_the_joins(spark):
    """The canonical Q18 shape: lineitem pre-aggregates to qualifying
    orderkeys (HAVING filter) BEFORE joining orders/customer, shrinking the
    join input ~1000x — the HashAggregate must sit below both joins and the
    lineitem scan must read only (l_orderkey, l_quantity)."""
    plan = _plan(spark, "q18_large_volume_orders")
    tree = plan.split("\n\n")[0]
    agg_at = tree.index("HashAggregate")
    join_at = tree.index("BroadcastHashJoin")
    assert join_at < agg_at  # joins appear ABOVE (before, in tree text)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_percentiles_window_sits_above_value_counts_aggregate(spark):
    """Round-5 reshape: the discrete-percentile gate must run its
    cumulative-coverage window over the ~150-row (flag, quantity)
    value-counts frame, never over the fact table — the fact-wide
    aggregate therefore sits BELOW every Window in the tree."""
    plan = _plan(spark, "quantity_percentiles_by_flag")
    tree = plan.split("\n\n")[0]
    assert "Window" in tree
    # deepest HashAggregate (the value-counts pass) is below the window
    assert tree.index("Window") < tree.rindex("HashAggregate")
    for line in plan.splitlines():
        if "windowspecdefinition" in line:
            assert "flag" in line  # partitioned — never a global window


def test_rfm_quartiles_have_no_global_window(spark):
    """Round-5 reshape: NTILE is computed distributed (literal range
    boundaries + per-range row_number + literal offsets); the plan must
    contain no ntile and no window without a partition spec."""
    plan = _plan(spark, "orders_rfm_segments")
    assert "ntile" not in plan
    wsd = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert len(wsd) == 3  # one row_number per metric
    for line in wsd:
        assert "_pid" in line  # every window partitions by the range-pid


def test_market_basket_has_no_cartesian_and_single_basket_key(spark):
    """Pair expansion must be the JVM transform over per-order baskets —
    never a parts×parts cartesian; final top-k is TakeOrderedAndProject."""
    plan = _plan(spark, "orders_market_basket")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "Generate" in plan  # the explode of basket pairs
    # every join is broadcast (dictionary-sized sides at this SF)
    assert "SortMergeJoin" not in plan


def test_feature_norm_stats_is_single_dim_exchange(spark):
    """One partial-aggregated groupBy on dim (64 output rows at any corpus
    size) + the final order — nothing else may shuffle."""
    plan = _plan(spark, "emb_feature_norm_stats")
    tree = plan.split("\n\n")[0]
    import re as _re
    n_exchange = len(_re.findall(r"\+- Exchange|:- Exchange", tree))
    assert n_exchange == 2  # hash(dim) + final range sort
    assert "partial_count" in plan or "HashAggregate" in tree


def test_ivf_bucketed_probe_is_partition_pruned(spark):
    """The persisted IVF index is read with cell_id PartitionFilters (only
    probed cells' directories) and the candidate join is a broadcast of
    the tiny probe set — the corpus side has NO exchange."""
    import re as _re

    plan = _plan(spark, "sim_ann_ivf_bucketed")
    assert "PartitionFilters" in plan
    assert "cell_id" in plan.split("PartitionFilters")[1][:300]
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the corpus side feeds the join straight from the pruned scan —
    # never a hash repartition of the corpus on cell_id
    assert not _re.search(r"Exchange hashpartitioning\(cell_id", plan)


@pytest.mark.parametrize("name", [
    "events_moving_avg", "orders_repeat_interval",
])
def test_new_window_gates_have_no_global_window(spark, name):
    """Both round-6 window gates must keep every Window partitioned —
    one key exchange, never a single-partition global sort of the fact
    rows."""
    plan = _plan(spark, name)
    assert "Window" in plan
    # a global window materializes as Exchange SinglePartition feeding
    # the Window operator — forbid any SinglePartition exchange here
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_chunk_dedup_shuffles_digests_only(spark):
    """The chunk-dedup groupBy must shuffle md5 digests, not text: the
    aggregate's exchange key is chunk_hash and the text column is gone
    from every post-scan projection."""
    plan = _plan(spark, "doc_chunk_dedup")
    assert "hashpartitioning(chunk_hash" in plan
    assert "CartesianProduct" not in plan


def test_zipf_slope_window_is_partitioned(spark):
    plan = _plan(spark, "doc_zipf_slope")
    assert "Window" in plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_quality_yield_has_no_join(spark):
    """Thresholds explode from a literal array — the plan must contain
    no join operator of any kind."""
    plan = _plan(spark, "doc_quality_yield")
    for op in ("Join", "CartesianProduct", "BroadcastNestedLoop"):
        assert op not in plan, op


def test_bm25_prunes_postings_before_any_exchange(spark):
    """The query-term IN-filter must sit map-side (between the token
    Generate and the first Exchange) so the tf shuffle carries candidate
    postings only — the property that makes relational BM25 an
    inverted-index probe rather than a corpus-wide shuffle."""
    plan = _plan(spark, "doc_bm25_search")
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert "CartesianProduct" not in plan
    # every Generate (token explode) is immediately guarded by the
    # IN-filter before data reaches an exchange: in the formatted tree
    # the Filter node appears above each Generate
    tree = plan.split("(1) Scan")[0]
    gen_lines = [i for i, l in enumerate(tree.splitlines()) if "Generate" in l]
    assert gen_lines, "no token explode found"
    lines = tree.splitlines()
    for i in gen_lines:
        above = "\n".join(lines[max(0, i - 3):i])
        assert "Filter" in above, f"Generate at line {i} not filter-guarded"


def test_pareto_windows_are_region_partitioned(spark):
    plan = _plan(spark, "orders_pareto_share")
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "Window" in line and "partition" in line.lower():
            assert "r_name" in line, line


def test_column_profile_prunes_to_single_columns_no_expand(spark):
    """Each unioned profile branch must scan exactly one parquet column,
    and the exact-distinct plan must NOT use the multi-distinct Expand
    (the per-column-aggregate design exists to avoid it)."""
    plan = _plan(spark, "lineitem_column_profile")
    assert "Expand" not in plan
    prof = [l for l in plan.splitlines()
            if "ReadSchema" in l and "struct<l_" in l]
    assert len(prof) >= 4
    for line in prof:
        assert line.count(",") == 0, line  # exactly one field in the struct


@pytest.mark.parametrize("name", [
    "q2_min_cost_supplier", "q9_product_profit", "q11_important_stock",
    "q16_supplier_part_counts", "q20_promotion_suppliers",
    "q21_suppliers_kept_waiting",
])
def test_partsupp_queries_never_cartesian(spark, name):
    """Round-7 gates: no cartesian product anywhere (the q11 threshold is
    a 1-row BroadcastNestedLoopJoin — constant frame, allowed); dims
    broadcast; filters reach a scan."""
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [" in plan


def test_q9_prefilters_both_facts_before_composite_join(spark):
    """Both composite-key join inputs (lineitem, partsupp) are shrunk by
    a broadcast of the selective part list BEFORE the shuffle — the SMJ
    moves only '%red%' rows."""
    plan = _plan(spark, "q9_product_profit")
    # the composite join itself shuffles: SortMergeJoin (or shuffled hash)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # part's name filter is pushed into its scan
    assert "p_name" in plan and "PushedFilters" in plan


def test_q21_semi_and_anti_self_joins(spark):
    """EXISTS → left semi, NOT EXISTS → left anti, both present as real
    join operators (the reference q21 shape), no global sort below the
    final order."""
    plan = _plan(spark, "q21_suppliers_kept_waiting")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q11_threshold_is_one_row_broadcast(spark):
    """The grand-total threshold joins as a broadcast of a single-row
    aggregate — never a shuffle of the grouped frame against itself."""
    plan = _plan(spark, "q11_important_stock")
    assert "BroadcastNestedLoopJoin BuildRight" in plan \
        or "BroadcastNestedLoopJoin" in plan
    # exactly one scan of partsupp feeds both the groups and the total
    assert plan.count("glacier_partsupp") >= 1


def test_dup_span_coverage_plan_properties(spark):
    """doc_dup_span_coverage: the n_chars >= 64 gate reaches the parquet
    scan; every shuffle carries digests/ids, never text (text is gone
    from all post-hash projections); no cartesian product; the
    block-union count is a single countDistinct exchange, not a
    distinct-then-count double shuffle."""
    plan = _plan(spark, "doc_dup_span_coverage")
    assert "GreaterThanOrEqual(n_chars,64)" in plan
    assert "hashpartitioning(wh" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # text survives only up to the md5 projection: no partitioning key or
    # exchange argument lists it (formatted mode puts the Arguments on
    # their own line, so match on 'hashpartitioning', not the node name)
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_incremental_batch_dedup_plan_properties(spark):
    """dedup_incremental_batch: documents is read exactly TWICE (one
    batch pass, one corpus pass) — the persisted batch/flagged frames
    feed every downstream consumer from cache; the corpus probe is a
    broadcast semi-join (corpus side never shuffles); no Expand (the
    per-window distinct is two-phase, not a double countDistinct); no
    cartesian product."""
    plan = _plan(spark, "dedup_incremental_batch")
    assert plan.count("InMemoryFileIndex") == 2
    assert "BroadcastHashJoin LeftSemi" in plan
    assert "InMemoryTableScan" in plan  # cache reuse is in the plan
    assert "Expand" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_distribution_drift_plan_single_scan(spark):
    """events_distribution_drift: ONE scan of the fact — totals come
    from a window over the aggregated |event_type|-row frame (a tiny
    SinglePartition exchange), not a scalar subquery that re-derives
    the lineage and reads events twice."""
    plan = _plan(spark, "events_distribution_drift")
    assert plan.count("InMemoryFileIndex") == 1
    assert "SinglePartition" in plan
    assert "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_bigram_vocab_plan_properties(spark):
    """doc_bigram_vocab: single documents scan reading only
    doc_id+text, map-side partial aggregation before the bigram
    shuffle, and a TakeOrderedAndProject top-k — never a global sort."""
    plan = _plan(spark, "doc_bigram_vocab")
    assert plan.count("InMemoryFileIndex") == 1
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert ", 200]" not in plan  # no default-parallelism exchange
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "struct<doc_id:bigint,text:string>" in line, line


def test_indexed_incremental_dedup_plan_properties(spark):
    """dedup_incremental_indexed: the probe sort-merge join reads the
    bucketed hash index with ZERO exchange — the only exchange below the
    join is the batch side shuffling into the bucket partitioning."""
    plan = _plan(spark, "dedup_incremental_indexed")
    tree = plan.split("\n\n")[0]
    i = tree.index("SortMergeJoin LeftOuter")
    j = tree.index("glacier_dedup_idx")
    assert tree[i:j].count("Exchange") == 1, tree[i:j]
    assert "Bucketed: true" in plan
    assert "BroadcastHashJoin" not in tree[i:j]
    assert "CartesianProduct" not in plan


def test_compacted_dedup_index_probe_keeps_zero_index_exchange(spark):
    """dedup_index_compact: the probe over the COMPACTED index keeps the
    bucketed sort-merge shape — zero exchange on the index side (the
    only exchange below the join shuffles the batch into the bucket
    partitioning), bucket spec honored. Compaction must not cost the
    probe its layout."""
    plan = _plan(spark, "dedup_index_compact")
    tree = plan.split("\n\n")[0]
    i = tree.index("SortMergeJoin LeftOuter")
    j = tree.index("glacier_dedup_idxcmp")
    assert tree[i:j].count("Exchange") == 1, tree[i:j]
    assert "Bucketed: true" in plan
    assert "BroadcastHashJoin" not in tree[i:j]
    assert "CartesianProduct" not in plan


def test_streaming_ann_index_probe_is_partition_pruned(spark):
    """streaming_ann_ingest: the probe over the STREAMED index reads
    through the file sink's MetadataLogFileIndex and still partition-
    prunes to the probed cells — continuous ingest does not cost the
    query side its pruning."""
    plan = _plan(spark, "streaming_ann_ingest")
    i = plan.index("MetadataLogFileIndex")
    seg = plan[i:i + 600]
    assert "PartitionFilters" in seg
    assert "INSET" in seg
    assert "CartesianProduct" not in plan


def test_compacted_ann_index_probe_is_partition_pruned(spark):
    """sim_ann_index_compact: after bin-packing the streamed tier into
    one file per cell, the probe still partition-prunes to the probed
    cells — compaction must not cost the query side its pruning."""
    plan = _plan(spark, "sim_ann_index_compact")
    i = plan.index("glacier_stream_ann_compact")
    seg = plan[max(0, i - 900):i + 600]
    assert "PartitionFilters" in seg
    assert "INSET" in seg
    assert "CartesianProduct" not in plan


def test_session_window_plan_single_session_shuffle(spark):
    """events_session_window_stats: Spark's native MergingSessions
    operator runs after ONE user-keyed exchange, and the per-user
    rollup reuses that partitioning — the only other exchange is the
    final ORDER BY range partition."""
    plan = _plan(spark, "events_session_window_stats")
    tree = plan.split("\n\n")[0]
    assert "MergingSessions" in tree
    assert tree.count("Exchange") == 2


def test_pivot_matrix_plan_carries_partials_not_events(spark):
    """events_pivot_hourly_matrix: both aggregate exchanges sit above
    map-side partial aggregation (the shuffle carries hour×type
    partials, never event rows) and the unpivot is a pure-map Expand —
    no extra exchange between the pivot fold and the final sort."""
    plan = _plan(spark, "events_pivot_hourly_matrix")
    tree = plan.split("\n\n")[0]
    assert "Expand" in tree
    assert tree.count("Exchange") == 3  # two agg levels + final sort
    assert "partial_count" in plan or "partial_first" in plan


def test_cross_source_matrix_plan_digest_only_shuffles(spark):
    """dedup_cross_source_matrix: text dies at the md5 projection — no
    exchange carries it; the self-join is digest-keyed, never a
    cartesian product."""
    import re

    plan = _plan(spark, "dedup_cross_source_matrix")
    assert re.search(r"hashpartitioning\([^)]*wh", plan)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_fuzzy_name_pairs_plan_key_blocked_no_cartesian(spark):
    """dedup_fuzzy_name_pairs (round-8 symmetric-delete form): the
    candidate self-join runs on the delete-1 key — every exchange before
    the pair aggregates is hash(k) or pair/id-keyed, never a cartesian
    or nested-loop over the corpus."""
    plan = _plan(spark, "dedup_fuzzy_name_pairs")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(k" in plan
    # the Levenshtein filter runs inside the join stage, JVM-side
    assert "levenshtein" in plan


def test_fuzzy_recall_plan_equi_join_ground_truth(spark):
    """dedup_fuzzy_recall: the exact ground truth is length-KEYED equi
    joins with the sample broadcast — no cartesian, no nested-loop."""
    plan = _plan(spark, "dedup_fuzzy_recall")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_pq_encode_plan_zero_corpus_shuffle(spark):
    """emb_pq_codes: the codebook is one broadcast row and encoding is a
    pure map — the ONLY hash exchange carries (subspace, code) partial
    rows; the corpus is never hash-partitioned."""
    plan = _plan(spark, "emb_pq_codes")
    import re
    keys = re.findall(r"hashpartitioning\(([a-z_]+)", plan)
    assert keys and set(keys) <= {"subspace"}, keys
    assert "CartesianProduct" not in plan


def test_pq_adc_recall_plan_broadcast_queries(spark):
    """sim_pq_adc_recall: all three candidate streams (exact, seeded,
    trained) join the corpus against BROADCAST queries. Exchanges are
    query/pair-keyed plus the Lloyd-training partials, which key on the
    (m, code[, pos]) codebook coordinates — M·K·SUB-row frames, never
    the corpus (no vec_id-keyed exchange anywhere)."""
    plan = _plan(spark, "sim_pq_adc_recall")
    import re
    keys = re.findall(r"hashpartitioning\((query_id|neighbor_id)", plan)
    assert keys, "expected query-keyed exchanges"
    other = re.findall(
        r"hashpartitioning\((?!query_id|neighbor_id)([a-z_]+)", plan)
    assert set(other) <= {"m"}, other  # training partials only
    assert "hashpartitioning(vec_id" not in plan  # corpus never shuffled
    assert "CartesianProduct" not in plan


def test_scd2_windows_share_one_custkey_exchange(spark):
    """orders_scd2_history: LAG change-detection, LEAD range-closing and
    the version ROW_NUMBER all ride ONE hashpartitioning(o_custkey) —
    the filter between the windows preserves distribution and ordering,
    so the only other exchange is the final presentation sort."""
    plan = _plan(spark, "orders_scd2_history")
    import re
    hash_keys = re.findall(r"hashpartitioning\(([a-zA-Z0-9_]+)", plan)
    # round 9: the bounded audit adds ONE histogram-sized exchange on
    # n_versions; the per-customer rollup must REUSE the windows' single
    # o_custkey partitioning (zero new corpus-sized exchange)
    assert set(hash_keys) == {"o_custkey", "n_versions"}, hash_keys
    args = [l for l in plan.splitlines() if l.startswith("Arguments: ")]
    assert sum("hashpartitioning(o_custkey" in l for l in args) == 1, args
    assert sum("hashpartitioning(n_versions" in l for l in args) == 1, args
    assert sum("rangepartitioning(" in l for l in args) == 1, args
    assert "CartesianProduct" not in plan
    # column pruning: the scan reads only key/status/date/tiebreak
    for line in plan.splitlines():
        if "ReadSchema" in line:
            assert "o_totalprice" not in line and "o_comment" not in line
            break
    else:
        pytest.fail("no orders ReadSchema found")


def test_lm_quality_plan_two_scans_no_third_pass(spark):
    """doc_lm_quality_score: the bigram stream is derived twice (train +
    score) and the unigram denominator is a window over the LM frame —
    NOT a groupBy-join that would re-derive the corpus lineage a third
    time. Pinned: exactly two document ReadSchemas, the training one
    pruned to text-only; exchanges keyed on bigram/doc/group keys only."""
    plan = _plan(spark, "doc_lm_quality_score")
    scans = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert len(scans) == 2, scans
    assert sum("text:string>" in l and "doc_id" not in l for l in scans) == 1
    import re
    keys = set(re.findall(r"hashpartitioning\(([a-zA-Z0-9_]+)", plan))
    assert keys <= {"w1", "w2", "doc_id", "lang", "source"}, keys
    assert "CartesianProduct" not in plan


def test_cascade_cosine_only_on_candidates(spark):
    """dedup_cascade_lsh_cosine: the semantic stage is two id-keyed hash
    joins re-attaching normalized vectors to the LSH candidate frame —
    never an all-pairs vector join (no cartesian / nested-loop); the
    dot product folds JVM-side (no Python stage in the confirm)."""
    plan = _plan(spark, "dedup_cascade_lsh_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # embeddings are scanned exactly twice (a/b sides), pruned to id+vec
    emb = [l for l in plan.splitlines()
           if "ReadSchema" in l and "embedding" in l]
    assert len(emb) == 2, emb
    assert all("label" not in l for l in emb)


def test_mixture_materialize_window_keyed_on_source(spark):
    """doc_mixture_materialize: the pick is ONE source-keyed window
    cumsum over a narrow (source, hash, n_tok) stream; budgets ride a
    broadcast — no cartesian, no data-scale exchange on anything but
    the source key (the weights subplan's SinglePartition step is the
    #sources-row normalization, not corpus data)."""
    plan = _plan(spark, "doc_mixture_materialize")
    import re
    keys = set(re.findall(r"hashpartitioning\(([a-zA-Z0-9_]+)", plan))
    assert keys <= {"source"}, keys
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_hard_negatives_broadcast_anchors_no_corpus_shuffle(spark):
    """emb_hard_negatives: anchors broadcast, similarity is a pure map;
    the only hash exchange keys the rank window on query_id."""
    plan = _plan(spark, "emb_hard_negatives")
    import re
    keys = set(re.findall(r"hashpartitioning\(([a-zA-Z0-9_]+)", plan))
    assert keys <= {"query_id"}, keys
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_survivorship_shuffles_ids_not_text(spark):
    """dedup_cluster_survivorship: downstream of pair-finding everything
    is (id, cluster_root, n_chars) — the documents side of the
    election join reads doc_id+n_chars only, never text; election and
    the removal ledger share the cluster_root partitioning."""
    plan = _plan(spark, "dedup_cluster_survivorship")
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(cluster_root" in plan
    stats_scans = [l for l in plan.splitlines()
                   if "ReadSchema" in l and "n_chars" in l]
    assert stats_scans and all("text" not in l for l in stats_scans)


def test_prefix_filter_join_keys_are_tokens_and_pairs(spark):
    """dedup_prefix_filter_pairs: candidate generation joins on prefix
    shingles, verification on pair keys — no cartesian, no
    nested-loop; the rank window is doc-partitioned. At SF_MED the
    candidate fan-out is ~12 mult-bound pairs/doc, far under _PREFIX_MULT_CAP,
    so the gate must pick the candidate-bound array_intersect verifier
    (the round-9 fix: verification cost ∝ candidates, never corpus²)."""
    plan = _plan(spark, "dedup_prefix_filter_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "array_intersect" in plan  # candidate-bound path chosen
    import re
    keys = set(re.findall(r"hashpartitioning\(([a-zA-Z0-9_]+)", plan))
    assert keys <= {"s", "doc_id", "id_a", "id_b"}, keys


def test_prefix_filter_candidate_verify_has_no_shingle_exchange(spark):
    """The candidate-bound verifier NEVER re-joins the full co-shingle
    match stream: given the candidate pairs and the per-doc sorted
    shingle arrays, its whole plan is two id-keyed joins + an
    array_intersect projection — zero joins or exchanges keyed on the
    shingle token, zero Generate (no shingle re-explosion), zero
    aggregates (no co-shingle count)."""
    import contextlib
    import io
    import re

    from pyspark.sql import functions as F

    from iceberg_demo_spark.operators.dedup import (
        _prefix_verify_candidates, shingles_col)
    from iceberg_demo_spark.sources import load_tables

    docs = load_tables(spark, SF_MED, ("documents",))["documents"]
    sh = docs.select("doc_id", F.explode(shingles_col()).alias("s"))
    arrs = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("s")).alias("arr"),
        F.count(F.lit(1)).alias("n_sh"))
    cand = spark.createDataFrame([(1, 2)], "id_a bigint, id_b bigint")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        _prefix_verify_candidates(cand, arrs, 0.2).explain("formatted")
    plan = buf.getvalue()
    assert "array_intersect" in plan
    join_keys = re.findall(r"(?:Left|Right) keys \[\d+\]: \[(\w+)#", plan)
    assert join_keys and set(join_keys) <= {"id_a", "id_b", "doc_id"}, join_keys
    assert not re.search(r"hashpartitioning\(s#", plan)


def test_split_leakage_audit_is_pair_bound(spark):
    """doc_split_leakage_audit: the audit joins the pair list to the
    (doc_id, split) projection — pair-count-bound, no new quadratic,
    split sizes broadcast."""
    plan = _plan(spark, "doc_split_leakage_audit")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastExchange" in plan


def test_bloom_filter_join_injects_fact_side_prefilter(spark):
    """events_bloom_pruned_join: Catalyst injects the runtime bloom
    filter — a bloom_filter_agg over the filtered dim's join keys and a
    might_contain filter evaluated on the FACT side before its
    exchange — and the join stays a shuffle join (no broadcast of the
    dim). The in-gate assert already proves injection; this pins the
    placement."""
    import re

    from pyspark.sql import functions as F

    from iceberg_demo_spark.sources import load_tables

    t = load_tables(spark, SF_MED, ("events", "orders"))
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        dim = (t["orders"]
               .filter((F.col("o_orderstatus") == "F")
                       & (F.col("o_totalprice") > 200000)))
        j = (t["events"].join(dim, F.col("user_id") == F.col("o_custkey"))
             .groupBy("event_type").count())
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert "bloom_filter_agg" in plan
    # the might_contain filter applies to the fact's join key (user_id),
    # i.e. the probe runs fact-side before the exchange
    m = re.search(r"might_contain\([^)]*xxhash64\((\w+)", plan)
    assert m and m.group(1) == "user_id", plan[:2000]
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_kmv_sketch_bottom_k_is_map_side_group_limited(spark):
    """dedup_kmv_overlap_matrix: the per-source bottom-k runs as a
    partial WindowGroupLimit BEFORE the source exchange (each task
    forwards ≤ k rows per source) plus the final one after — the
    property that keeps the sketch-build shuffle O(tasks·k), not
    O(corpus). Text never reaches an exchange."""
    plan = _plan(spark, "dedup_kmv_overlap_matrix")
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_priority_sample_rank_is_map_side_group_limited(spark):
    """doc_priority_sample: the rank-≤-k+1 filter executes as a partial
    WindowGroupLimit before the source exchange — the sampling shuffle
    is O(tasks·k) per source; the exact audit is an ordinary partial
    aggregate; text never reaches an exchange."""
    plan = _plan(spark, "doc_priority_sample")
    assert plan.count("WindowGroupLimit") >= 2
    assert "CartesianProduct" not in plan
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_regression_is_one_partial_aggregated_exchange(spark):
    """lineitem_price_qty_regression: sufficient statistics partial-
    aggregate map-side — exactly one hash exchange (on the 3-value
    group key) plus the final sort; no join, no window."""
    plan = _plan(spark, "lineitem_price_qty_regression")
    assert plan.count("hashpartitioning(") == 1  # + 1 range for ORDER BY
    assert "SortMergeJoin" not in plan and "Window" not in plan


def test_triangles_shuffle_int_pairs_only(spark):
    """graph_doc_triangles: every exchange carries doc ids / counts —
    text dies at the md5 projection; no cartesian products."""
    plan = _plan(spark, "graph_doc_triangles")
    assert "CartesianProduct" not in plan
    # the only nested-loop joins are the two final single-row broadcast
    # combines (stats x n_edges x n_triangles) -- never corpus-sized;
    # formatted plans print each node twice (tree + details)
    assert plan.count("BroadcastNestedLoopJoin") <= 4
    for line in plan.splitlines():
        if "hashpartitioning" in line:
            assert "text" not in line, line


def test_window_rank_matrix_shares_one_nationkey_exchange(spark):
    """customer_balance_window_ranks: all five ranking windows run on a
    single c_nationkey exchange (the SCD2 pattern)."""
    plan = _plan(spark, "customer_balance_window_ranks")
    import re
    n = len(re.findall(r"hashpartitioning\(c_nationkey", plan))
    # formatted plans print each node twice (tree shows Exchange, details
    # repeat the arguments) -- one exchange = at most 2 textual hits
    assert 1 <= n <= 2, plan[:1500]
    assert "CartesianProduct" not in plan


def test_bm25_indexed_probe_is_partition_pruned(spark):
    """doc_bm25_indexed: the postings scan prunes to the query terms'
    bucket DIRECTORIES (PartitionFilters) and pushes the exact-term
    filter — the corpus is never rescanned or re-tokenized."""
    plan = _plan(spark, "doc_bm25_indexed")
    seg = plan.split("PartitionFilters")[1].splitlines()[0]
    assert "tok_bucket" in seg and " IN " in seg
    assert "In(tok" in plan.split("PushedFilters")[1].splitlines()[0]
    assert "documents.parquet" not in plan  # no corpus scan in the probe


def test_bpe_merges_final_plan_rescans_no_corpus(spark):
    """doc_bpe_merges: every merge round runs on the checkpointed
    vocab-sized symbol frame and the ≤(16×rounds)-row result is
    assembled from the loop's bounded collects — the output plan
    contains no parquet (re)scan of documents, no exchange, and no
    distributed work at all (round 12: previously the plan carried 8
    stats subtrees over the checkpointed frames; corpus work still
    happened exactly once, behind the round-1 checkpoint)."""
    plan = _plan(spark, "doc_bpe_merges")
    assert "documents" not in plan
    assert "Scan parquet" not in plan
    assert "ExistingRDD" in plan  # driver-assembled bounded result


def test_code_covariance_never_shuffles_vectors(spark):
    """emb_code_covariance: maxabs folds in as a broadcast array, pair
    products explode JVM-side, and no exchange carries vec_id — the
    only wide shuffles are the 2016-key (i, j) partials and the 64-row
    dim sums."""
    plan = _plan(spark, "emb_code_covariance")
    assert "hashpartitioning(vec_id" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # the dim-sum joins broadcast


def test_ivfpq_indexed_probe_reads_only_probed_cell_partitions(spark):
    """sim_ivfpq_indexed (round 10): the serving read of the persisted
    code tier carries cell_id PartitionFilters (only the nprobe cells'
    directories are scanned); candidates join the broadcast probe frame;
    the corpus is never hash-repartitioned on cell_id."""
    import re as _re

    plan = _plan(spark, "sim_ivfpq_indexed")
    i = plan.index("/codes]")  # the codes tier's scan location line
    seg = plan[i:i + 500]
    assert "PartitionFilters" in seg
    assert "INSET" in seg
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert not _re.search(r"Exchange hashpartitioning\(cell_id", plan)


def test_ivfpq_compacted_probe_still_partition_pruned(spark):
    """sim_ivfpq_index_compact (round 11): after bin-packing the
    epoch-fragmented code tier, the probe still carries cell_id
    PartitionFilters over the COMPACTED root — maintenance must not
    cost the serving read its pruning — and the probe plan keeps the
    sim_ivfpq_indexed shape (broadcast candidates, no cell_id
    exchange)."""
    import re as _re

    plan = _plan(spark, "sim_ivfpq_index_compact")
    assert "glacier_ivfpq_idxcomp" in plan  # probing the COMPACTED tier
    i = plan.index("/codes]")  # the codes tier's scan location line
    seg = plan[i:i + 500]
    assert "PartitionFilters" in seg
    assert "INSET" in seg
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert not _re.search(r"Exchange hashpartitioning\(cell_id", plan)


def test_quantile_sample_filter_precedes_exchange(spark):
    """sketch_quantile_sample: the hash-keep predicate is a map-side
    filter BEFORE the sample branch's source exchange (the sample
    shuffles 1/8 of rows, the scan is never widened); the only
    exchanges are the two source-keyed windows + the final sort."""
    plan = _plan(spark, "sketch_quantile_sample")
    assert plan.count("hashpartitioning(source") == 2
    assert "CartesianProduct" not in plan
    # the keep predicate is a real map-side Filter on the md5-derived
    # hash (it feeds the sample window, so it cannot sit above its
    # exchange); the scan itself is shared by both branches
    assert "Filter" in plan and "md5(" in plan and "conv(" in plan


def test_quantile_advance_reads_state_not_corpus(spark):
    """sketch_quantile_advance: the estimate branch ranks the PERSISTED
    advanced state (already keep-filtered — no md5/hash recompute
    anywhere in the final plan, Catalyst prunes hv away), the corpus
    appears only as the audit branch's scan; same two source-keyed
    window exchanges as the one-shot gate."""
    plan = _plan(spark, "sketch_quantile_advance")
    assert "glacier_qsample_state_" in plan
    assert plan.count("hashpartitioning(source") == 2
    assert "md5(" not in plan  # the state is pre-filtered at advance time
    assert "CartesianProduct" not in plan


def test_bm25_compacted_probe_still_partition_pruned(spark):
    """doc_bm25_index_compact: after bin-packing the epoch-fragmented
    postings, the probe still reads only the query terms' tok_bucket
    directories — compaction must not cost the probe its pruning."""
    import re as _re

    plan = _plan(spark, "doc_bm25_index_compact")
    assert "glacier_text_idxcomp" in plan  # probing the COMPACTED tier
    assert _re.search(
        r"PartitionFilters: \[tok_bucket#\d+ IN", plan), plan[:400]
    assert "CartesianProduct" not in plan


def test_connected_components_small_graph_iterations_never_shuffle(
        spark, monkeypatch):
    """connected_components under the small-graph gate: the collapsed
    single-partition edge and label frames satisfy every join, aggregate
    and convergence-count distribution, so no iteration plans a shuffle
    Exchange (broadcast exchanges are not shuffles). Plans are taken
    from each iteration's pinned label frame and convergence count."""
    import re

    from iceberg_demo_spark.operators import dedup

    plans: list[str] = []

    def spy(real):
        def wrapped(df):
            plans.append(df._jdf.queryExecution().executedPlan().toString())
            return real(df)
        return wrapped

    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5)],
                                  "id_a long, id_b long")
    monkeypatch.setattr(dedup, "_pin", spy(dedup._pin))
    monkeypatch.setattr(type(edges), "count", spy(type(edges).count))
    got = {r["id"]: r["cluster_root"]
           for r in dedup.connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}
    # bidir pin, the gate's bidir count and the initial labels pin come
    # first; then a label pin and a convergence count per iteration (the
    # 1-2-3 chain needs three)
    iterations = plans[3:]
    assert len(iterations) == 6, len(plans)
    for plan in iterations:
        assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
