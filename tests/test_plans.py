"""Physical-plan quality assertions (SURVEY.md §2.D D5; brief: pushdown,
broadcast, codegen are graded, not assumed).

These tests pin the *shape* of the plan, not timings: a regression that
turns a broadcast join into a shuffle join, or lifts a filter off the scan,
passes value-checks at sf0.01 but melts down at 100 TB — plan asserts are
the only cheap guard for that class of bug.
"""

from __future__ import annotations

from data_pipeline_cursor_spark.plans import executed_plan as _plan
from data_pipeline_cursor_spark.registry import get_queries
from tests.conftest import SF_SMOKE


def test_broadcast_join_is_broadcast(spark):
    """q_join_broadcast: both dims must arrive via BroadcastExchange —
    no shuffle exchange for nation/region (D5 plan-assert)."""
    df = get_queries()["q_join_broadcast"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_star_join_broadcasts_dims(spark):
    """q_join_star: dims broadcast; at most the fact⋈fact join shuffles."""
    df = get_queries()["q_join_star"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_date_series_broadcasts_aggregated_facts(spark):
    """q_date_series: the spine joins the PRE-AGGREGATED per-day fact rows,
    and that aggregate must broadcast — Spark cannot broadcast the
    preserved side of an outer join, so hinting the spine itself is a
    silent no-op (round-2 ADVICE)."""
    df = get_queries()["q_date_series"](spark, SF_SMOKE)
    df.collect()  # finalize AQE so the chosen join strategy is real
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_time_range_filter_pushes_down(spark):
    """q_time_range: the ts bounds must reach the parquet scan as
    PushedFilters (row-group min/max skipping), not live only in a
    post-scan Filter."""
    df = get_queries()["q_time_range"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "ts" in pushed, plan


def test_scan_project_prunes_columns(spark):
    """q_scan_project: ReadSchema carries only the 3 projected columns —
    a scan reading all columns for a narrow projection is wrong."""
    df = get_queries()["q_scan_project"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "ReadSchema" in plan, plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "value" in read_schema and "event_type" in read_schema
    # props is a wide JSON column on events; pruning must drop it
    assert "props" not in read_schema, read_schema


def test_groupby_runs_whole_stage_codegen(spark):
    """q_groupby_avg: scan→partial agg→final agg stays inside
    WholeStageCodegen (no Python/interpreted eval in the hot path).

    AQE materializes the final plan only on execution, so run the query
    (noop sink) before inspecting."""
    df = get_queries()["q_groupby_avg"](spark, SF_SMOKE)
    # collect() executes THIS DataFrame's QueryExecution (a noop write would
    # spawn its own and leave df's plan un-finalized); result is |keys| rows.
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan, plan
    # codegen'd operators carry the `*(stageId)` marker in the plan string
    assert "*(" in plan, plan
    assert "BatchEvalPython" not in plan, plan


def test_groupby_has_partial_aggregation(spark):
    """q_groupby_avg: map-side combine (two HashAggregate levels) so the
    shuffle moves |keys| rows, not |input| rows."""
    df = get_queries()["q_groupby_avg"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2, plan


def test_bucketed_fact_join_has_no_exchange(spark):
    """q_join_bucketed: lineitem⋈orders committed as manifest bucket
    tables on orderkey must plan with ZERO shuffle exchanges — join AND
    the per-orderkey aggregation both reuse the bucket distribution.
    This is the layout that keeps the one non-broadcastable join in the
    schema shuffle-free at 100 TB."""
    df = get_queries()["q_join_bucketed"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    assert df.count() > 0


def test_unpivot_has_no_shuffle(spark):
    """q_unpivot: melt is a narrow map-side Expand — any Exchange means
    the plan regressed into a shuffle it never needs."""
    df = get_queries()["q_unpivot"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_sessionize_single_exchange(spark):
    """q_sessionize: both window passes and the final aggregate must
    reuse ONE hash exchange on event_type — a second exchange means a
    window lost the partitioning."""
    df = get_queries()["q_sessionize"](spark, SF_SMOKE)
    plan = _plan(df)
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, f"{n_hash_exchanges} exchanges:\n{plan}"


def test_seq_pack_shuffles_only_on_shard(spark):
    """x_seq_pack: exactly one exchange, keyed on the shard column."""
    df = get_queries()["x_seq_pack"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "shard" in plan.split("Exchange hashpartitioning", 1)[1].split(
        ")", 1
    )[0], plan


def test_contamination_broadcasts_benchmark(spark):
    """x_contamination must be an inverted-index join with the benchmark
    gram set BROADCAST — a shuffled benchmark side (or worse, a doc×doc
    comparison) would not survive a 100 TB corpus."""
    from data_pipeline_cursor_spark.registry import get_queries

    df = get_queries()["x_contamination"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_repetition_filter_has_no_shuffle(spark):
    """x_repetition_filter is pure per-row expression work — any Exchange
    in the plan means the scoring accidentally aggregates."""
    from data_pipeline_cursor_spark.registry import get_queries

    df = get_queries()["x_repetition_filter"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_domain_mix_broadcasts_plan(spark):
    """x_domain_mix: the corpus joins the O(|sources|) mixing plan by
    broadcast — the corpus itself must not shuffle before the audit agg."""
    from data_pipeline_cursor_spark.registry import get_queries

    df = get_queries()["x_domain_mix"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_embed_quantize_has_no_shuffle(spark):
    """x_embed_quantize quantizes per row inside the scan's projection —
    an Exchange would mean the audit accidentally aggregates."""
    from data_pipeline_cursor_spark.registry import get_queries

    df = get_queries()["x_embed_quantize"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_split_assign_has_no_shuffle(spark):
    """x_split_assign is a pure projection of a hash residue — an Exchange
    would mean the split assignment accidentally aggregates/shuffles."""
    df = get_queries()["x_split_assign"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_doc_chunk_has_no_shuffle(spark):
    """x_doc_chunk tokenizes, generates chunk offsets, and slices inside
    the scan's projection (explode is per-row, not a shuffle)."""
    df = get_queries()["x_doc_chunk"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_embed_gram_shuffles_only_partials(spark):
    """x_embed_gram_int8 must shuffle the DIM²/2 per-task partial cells,
    never corpus rows: exactly one Exchange, sitting ABOVE the Python
    (mapInPandas) partial-Gramian stage in the physical plan."""
    df = get_queries()["x_embed_gram_int8"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Exchange") == 1, plan
    py = plan.find("MapInPandas")
    ex = plan.find("Exchange")
    assert py != -1 and ex != -1
    # explain prints consumers above producers: the Exchange line must
    # precede (consume) the MapInPandas stage, i.e. partials shuffle
    assert ex < py, plan


def test_tpch_local_supplier_broadcasts_dims(spark):
    """q_tpch_local_supplier (Q5-shape): supplier/nation/region arrive via
    BroadcastExchange — only the lineitem⋈orders⋈customer chain may
    shuffle.  At 100 TB a sort-merge against a dim table is a plan bug."""
    df = get_queries()["q_tpch_local_supplier"](spark, SF_SMOKE)
    df.collect()  # finalize AQE so the chosen strategies are real
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_pricing_pushes_shipdate(spark):
    """q_tpch_pricing (Q1-shape): the l_shipdate bound must reach the
    parquet scan as a PushedFilter (row-group skipping on the date-sorted
    fact), not survive only as a post-scan Filter."""
    df = get_queries()["q_tpch_pricing"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed, plan


def test_tpch_large_orders_aggregates_before_join(spark):
    """q_tpch_large_orders (Q18-shape): the quantity HAVING-aggregate runs
    on lineitem BEFORE the joins — the HashAggregate must sit below the
    first join in the plan, so the join input is the filtered key set."""
    df = get_queries()["q_tpch_large_orders"](spark, SF_SMOKE)
    plan = _plan(df)
    agg = plan.find("HashAggregate")
    join = plan.find("Join")
    assert agg != -1 and join != -1
    # explain prints consumers above producers: the first Join line must
    # precede the aggregate that feeds it only if agg runs pre-join
    assert join < agg, plan


def test_join_salted_broadcasts_exploded_dim(spark):
    """q_join_salted: the S-way exploded dim must still broadcast (dim×S
    stays tiny) — if it ever falls to a shuffle join the salt has made
    the plan WORSE, not better."""
    df = get_queries()["q_join_salted"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_analyze_stats_single_scan(spark):
    """q_analyze_stats: all columns' statistics fold in ONE aggregate over
    ONE FileScan (stack-unpivoted afterwards) — the UNION-of-aggregates
    formulation reads the table once per column, which ANALYZE at 100 TB
    cannot afford."""
    df = get_queries()["q_analyze_stats"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan


def test_anomaly_zscore_broadcasts_stats(spark):
    """q_anomaly_zscore: the per-key stats side must broadcast — the fact
    scan never shuffles for an O(keys) statistics join."""
    df = get_queries()["q_anomaly_zscore"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_cooccurrence_broadcasts_vocab(spark):
    """x_cooccurrence_pmi: the capped top-K vocabulary must broadcast into
    the token stream — a shuffled vocab join would move the corpus for a
    20-row dim."""
    df = get_queries()["x_cooccurrence_pmi"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_bpe_train_no_sort_merge_join(spark):
    """x_bpe_train: every join in the merge chain is a broadcast of the
    single winning pair — a SortMergeJoin anywhere means a 1-row side got
    shuffled."""
    df = get_queries()["x_bpe_train"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan


def test_xml_roundtrip_single_scan(spark):
    """q_xml_roundtrip: the returned plan reads ONLY the materialized XML
    output (one scan) — re-reading the parquet source would make the
    round-trip check vacuous."""
    df = get_queries()["q_xml_roundtrip"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("FileScan") == 1, plan
    assert "xml" in plan.lower(), plan


def test_tpch_disjunctive_stays_hash_join(spark):
    """q_tpch_disjunctive: the OR-of-ANDs predicate spans both join sides
    but the join key itself is a clean equi-predicate — the plan must be a
    (broadcast) hash join with the disjunction as a filter, never the
    BroadcastNestedLoopJoin that results from folding the disjunction
    into the join condition."""
    df = get_queries()["q_tpch_disjunctive"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_tpch_forecast_revenue_pushes_all_predicates(spark):
    """q_tpch_forecast_revenue: all four predicates are plain column
    comparisons and must reach the parquet scan as PushedFilters."""
    df = get_queries()["q_tpch_forecast_revenue"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, plan


def test_dedup_incremental_broadcasts_delta(spark):
    """x_dedup_incremental: the NEW-batch side must broadcast into the
    band joins — cost independent of corpus size is the whole point."""
    df = get_queries()["x_dedup_incremental"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_tpch_small_qty_broadcasts_threshold(spark):
    """q_tpch_small_qty: the per-part threshold aggregate (O(|brand's
    parts|) rows) broadcasts back onto the fact scan; the fact side must
    not shuffle for that join."""
    df = get_queries()["q_tpch_small_qty"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_media_phash_has_no_shuffle(spark):
    """x_media_phash: pure projection — payload bytes never leave the
    scan, no Exchange anywhere."""
    df = get_queries()["x_media_phash"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "Exchange" not in plan, plan


def test_drift_kl_single_corpus_pass(spark):
    """q_drift_kl: both week-half distributions come from ONE scan of
    events (conditional sums), not a scan per half."""
    df = get_queries()["q_drift_kl"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 1, plan


def test_minhash_wide_bands_are_equi_joins(spark):
    """x_dedup_minhash_wide: both 4-hash band joins must plan as hash
    equi-joins — an OR-of-conjunctions formulation degenerates to
    BroadcastNestedLoopJoin (O(n²) compares, the PLANS.md load-bearing
    rewrite), which the per-band UNION exists to prevent."""
    df = get_queries()["x_dedup_minhash_wide"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _window_nodes_without_partition(plan: str) -> list[str]:
    """Window physical nodes whose spec has NO partition list.

    A partitioned node renders as `Window [funcs], [partSpec], [ordSpec]`
    (3 top-level bracket groups after the node name); an unpartitioned one
    as `Window [funcs], [ordSpec]` (2 groups) and funnels its whole input
    through ONE task."""
    bad = []
    for line in plan.splitlines():
        if "Window [" not in line:
            continue
        rest = line.split("Window ", 1)[1]
        groups, depth = 0, 0
        for ch in rest:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups < 3:
            bad.append(line.strip())
    return bad


def test_gap_detect_windows_are_partitioned(spark):
    """q_gap_detect (round-7 rewrite): the corpus-sized lag runs per
    id-bucket (hash-partitioned window); the ONLY unpartitioned window
    consumes the 65536x-reduced per-bucket (min,max) summary — it may
    reference the bucket grain but never the raw id grain."""
    df = get_queries()["q_gap_detect"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "hashpartitioning(bucket" in plan, plan
    bad = _window_nodes_without_partition(plan)
    assert bad, plan  # the summary handoff window must exist
    for node in bad:
        assert "bucket" in node and "event_id" not in node, node


def test_curriculum_order_has_no_global_sort_window(spark):
    """x_curriculum_order (round-7 rewrite): the per-doc rank runs in a
    window PARTITIONED BY score (hash-parallel); the ONLY unpartitioned
    window cumulates the vocabulary-sized per-score summary — the corpus
    is never funneled through a single-task ntile sort (no doc-grain
    column in any unpartitioned window)."""
    df = get_queries()["x_curriculum_order"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "row_number()" in plan, plan
    bad = _window_nodes_without_partition(plan)
    assert bad, plan  # the per-score cumulative window must exist
    for node in bad:
        assert "score" in node and "doc_id" not in node, node


def test_weighted_sample_zero_shuffle_top_k(spark):
    """x_weighted_sample: orderBy+limit must compile to the distributed
    TakeOrderedAndProject (per-partition top-k, no Exchange) — a global
    sort here would shuffle the whole corpus to rank 50 rows."""
    df = get_queries()["x_weighted_sample"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_rank_fusion_rankers_end_in_take_ordered(spark):
    """x_rank_fusion: both rankers cut to top-20 via TakeOrdered BEFORE
    any windowed rank assignment (windows run on 20 rows by contract);
    the cosine side joins the one-row query via broadcast, never a
    shuffle join."""
    df = get_queries()["x_rank_fusion"](spark, SF_SMOKE)
    plan = _plan(df)
    # three TakeOrdered cuts: bm25 top-20, cosine top-20, fused top-10 —
    # every Window and the full-outer fusion join (SMJ: Spark cannot
    # broadcast a full outer) consume only post-cut 20-row inputs
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "BatchEvalPython" not in plan, plan  # zip_with dot, no UDF
    # the corpus-sized side (cosine scan) joins the one-row query via
    # broadcast nested loop, never a shuffle of the corpus
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_zorder_layout_stays_in_codegen(spark):
    """x_zorder_layout: Morton interleave is pure integer/bit expressions
    (no Python eval) and the only shuffle is the 32-group aggregate."""
    df = get_queries()["x_zorder_layout"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_bloom_prefilter_never_shuffles_the_fact(spark):
    """x_bloom_prefilter: both bit probes and the exact verification are
    BROADCAST joins (the whole point: ship a bitset, not a shuffle) —
    no SortMergeJoin anywhere, and lineitem is scanned exactly once."""
    df = get_queries()["x_bloom_prefilter"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("lineitem.parquet") == 1, plan


def test_knn_graph_mutual_check_is_equi_join(spark):
    """x_knn_graph: neighbours come from the per-bucket pandas scorer
    (one FlatMapGroupsInPandas — asserted on the pre-checkpoint scorer
    plan, since the round-9 eager localCheckpoint truncates it out of
    the final lineage), and the mutuality check is a hash equi-join of
    the k·n checkpointed directed survivors — never a nested-loop or
    cartesian product."""
    from data_pipeline_cursor_spark.sources import load_table
    from data_pipeline_cursor_spark.vectors.similarity import (
        KNN_K,
        _block_topk,
        _prep_unit_bucket,
        derived_n_planes,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    scorer = _block_topk(
        _prep_unit_bucket(emb, derived_n_planes(emb.count())), "bucket", KNN_K
    )
    assert "FlatMapGroupsInPandas" in _plan(scorer), _plan(scorer)

    df = get_queries()["x_knn_graph"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_hard_negatives_scans_corpus_once(spark):
    """x_hard_negatives: scan-once scatter-gather — the corpus feeds one
    MapInPandas scorer (queries ride in the closure), and the only
    window ranks the tiny per-partition survivor set, partitioned by
    query_id (never unpartitioned)."""
    df = get_queries()["x_hard_negatives"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "MapInPandas" in plan, plan
    assert plan.count("embeddings.parquet") == 1, plan
    assert not _window_nodes_without_partition(plan), plan


def test_kmv_distinct_windows_are_partitioned(spark):
    """x_kmv_distinct: the rank window is partitioned by lang and runs
    over the hash-space pre-cut survivors — no unpartitioned window,
    and the NDV side joins back via broadcast."""
    df = get_queries()["x_kmv_distinct"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_cms_heavy_probe_join_broadcasts_cells(spark):
    """x_cms_heavy: the sketch is D×W rows and must arrive at the probe
    join via broadcast; the sketch path stays in hash aggregation
    (partial agg collapses each partition before the shuffle)."""
    df = get_queries()["x_cms_heavy"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ks_drift_windows_bounded_to_value_grain(spark):
    """x_ks_drift: the cumulative/total windows are the deliberate
    bounded single-partition pass over the |distinct n_chars|-row
    summary — they must reference only value-grain columns (v/c_a/c_b),
    never a doc-grain column, and the corpus is scanned once."""
    df = get_queries()["x_ks_drift"](spark, SF_SMOKE)
    plan = _plan(df)
    bad = _window_nodes_without_partition(plan)
    assert bad, plan  # the value-grain pass must exist
    for node in bad:
        assert "doc_id" not in node and "text" not in node, node
    assert plan.count("documents.parquet") == 1, plan


def test_dp_clip_window_partitioned_by_customer(spark):
    """x_dp_clip: the contribution-bound rank partitions by customer
    (bounded groups) and nation arrives via broadcast — no
    unpartitioned window anywhere."""
    df = get_queries()["x_dp_clip"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_source_quota_rank_is_partitioned_and_counts_broadcast(spark):
    """x_source_quota: the quota rank partitions by source over pre-cut
    survivors; the per-source count joins back via broadcast; no
    unpartitioned window."""
    df = get_queries()["x_source_quota"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan
    assert "BroadcastHashJoin" in plan, plan


def test_bitmap_users_pushes_value_filter_and_no_python(spark):
    """x_bitmap_users: the value predicate reaches every events scan
    (PushedFilters), all bit math stays in codegen (no Python eval),
    and no window exists at any grain."""
    df = get_queries()["x_bitmap_users"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Window" not in plan, plan
    import re

    scans = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln
    ]
    assert scans, plan
    for ln in scans:
        assert re.search(r"GreaterThan\(value,", ln), ln


def test_kmv_jaccard_windows_partitioned_and_sketch_grain(spark):
    """x_kmv_jaccard: both rank windows are partitioned (per source /
    per pair) — doc grain never enters an unpartitioned window."""
    df = get_queries()["x_kmv_jaccard"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan


def test_psi_drift_windows_bounded_to_summary_grains(spark):
    """x_psi_drift: unpartitioned windows exist only over the value-grain
    and bucket-grain summaries (never doc grain); the 9-row cutpoint
    table joins via broadcast; one corpus scan."""
    df = get_queries()["x_psi_drift"](spark, SF_SMOKE)
    plan = _plan(df)
    bad = _window_nodes_without_partition(plan)
    assert bad, plan
    for node in bad:
        assert "doc_id" not in node and "text" not in node, node
    assert plan.count("documents.parquet") == 1, plan


def test_tokenizer_fertility_joins_vocab_sized_table(spark):
    """x_tokenizer_fertility: the corpus token stream joins the word-type
    symbol counts via broadcast (vocabulary-sized side), never a
    shuffle of the stream against it."""
    df = get_queries()["x_tokenizer_fertility"](spark, SF_SMOKE)
    df.collect()  # finalize AQE so the join strategy is real
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_recursive_cte_runs_as_union_loop(spark):
    """q_recursive_cte / x_graph_bfs: the recursion must execute as
    Spark's native UnionLoop (frontier re-joined per level), not fall
    back to anything materializing the closure at once.  Asserted on the
    LAZY statement — the round-9 scoped-recursion-limit fix executes the
    registered query eagerly into a checkpoint, truncating the loop out
    of the returned lineage."""
    from data_pipeline_cursor_spark.operators.subqueries import (
        _views,
        recursive_chain_statement,
    )

    _views(spark, SF_SMOKE, "customer")
    plan = _plan(recursive_chain_statement(spark))
    assert "UnionLoop" in plan, plan


def test_dsir_vocab_joins_broadcast_and_rank_after_limit(spark):
    """x_dsir_weights: the log-ratio table and the one-row totals are
    vocabulary-/scalar-sized — they must broadcast onto the tf table
    (the corpus-sized side never re-shuffles for them), and the only
    window sits above the 100-row TakeOrdered prefix."""
    df = get_queries()["x_dsir_weights"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_winnowing_windows_partitioned_by_doc(spark):
    """x_winnowing: both window passes (frame min, per-doc count) are
    doc_id-partitioned — no global single-partition window touches the
    shingle grain."""
    import re

    df = get_queries()["x_winnowing"](spark, SF_SMOKE)
    plan = _plan(df)
    for m in re.finditer(r"Window \[", plan):
        tail = plan[m.start() : m.start() + 400]
        assert "doc_id" in tail, tail


def test_hll_register_agg_is_two_level(spark):
    """x_hll_distinct: the register table folds through partial
    HashAggregates (map-side combine before the lang/bucket exchange) —
    the property that ships 64 register rows per group, not shingles."""
    df = get_queries()["x_hll_distinct"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 4, plan


def test_embed_drift_joins_are_label_grain(spark):
    """x_embed_drift: after the posexplode, everything is (label, pos)
    grain; the size lookups broadcast."""
    df = get_queries()["x_embed_drift"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan


def test_interpolate_linear_single_user_exchange(spark):
    """q_interpolate_linear: all four IGNORE-NULLS window reads run
    partitioned by user_id — no unpartitioned window, no join anywhere
    (the whole query is one keyed window pass)."""
    df = get_queries()["q_interpolate_linear"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan
    assert "Join" not in plan, plan


def test_auc_signal_window_bounded_to_value_grain(spark):
    """x_auc_signal: the cumulative-negatives window is the deliberate
    bounded pass over |distinct n_chars| rows — it must reference only
    value-grain columns, and the corpus is scanned once."""
    df = get_queries()["x_auc_signal"](spark, SF_SMOKE)
    plan = _plan(df)
    bad = _window_nodes_without_partition(plan)
    assert bad, plan  # the value-grain pass must exist
    for node in bad:
        assert "doc_id" not in node and "text" not in node, node
    assert plan.count("documents.parquet") == 1, plan


def test_perplexity_buckets_no_doc_grain_window(spark):
    """x_perplexity_buckets: the tercile windows partition by lang and
    run over the (lang, milli-nat) VALUE summary — never over doc_id or
    text — and the NLL table arrives at the tf join via broadcast."""
    df = get_queries()["x_perplexity_buckets"](spark, SF_SMOKE)
    plan = _plan(df)
    # the order-less n_lang total renders as `Window [funcs], [lang]` (2
    # groups) which the 3-group heuristic miscounts — check the spec
    # itself: every window node must carry the lang partition column
    for node in _window_nodes_without_partition(plan):
        assert "lang#" in node, node
    for line in plan.splitlines():
        if "Window [" in line:
            assert "doc_id" not in line and "text" not in line, line
    assert "BroadcastHashJoin" in plan, plan


def test_dsir_sample_rank_after_limit(spark):
    """x_dsir_sample: the Gumbel-key top-K runs as TakeOrderedAndProject
    (per-partition K-heaps); the only unpartitioned window ranks the K
    survivors AFTER the limit; vocab joins broadcast."""
    df = get_queries()["x_dsir_sample"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_line_dedup_frequent_segments_broadcast_anti(spark):
    """x_line_dedup: the frequent-segment drop is a BROADCAST left-anti
    join (the frequent table shrinks with the df threshold), and
    segmentation generates rows without any pre-join shuffle of the
    segment table (no SortMergeJoin anywhere)."""
    df = get_queries()["x_line_dedup"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin LeftAnti" in plan or (
        "BroadcastHashJoin" in plan and "LeftAnti" in plan
    ), plan
    assert "SortMergeJoin" not in plan, plan


def test_pit_join_broadcasts_versions(spark):
    """q_pit_join: the interval-versioned dimension arrives via
    BroadcastExchange (versions-sized); the fact side never sort-merges."""
    df = get_queries()["q_pit_join"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_mmr_topk_pairs_are_candidate_grain(spark):
    """x_mmr_topk: the pairwise-sim table joins CANDIDATES to vectors —
    the corpus must appear only in x_sim_topk's scan-once scorer, never
    in a corpus×corpus join; greedy stages are candidate-grain windows
    partitioned by query_id."""
    df = get_queries()["x_mmr_topk"](spark, SF_SMOKE)
    plan = _plan(df)
    assert not _window_nodes_without_partition(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_mv_incremental_pushes_cutoff_to_both_scans(spark):
    """q_mv_incremental: the refresh watermark reaches BOTH branch scans
    as PushedFilters on ts — the delta branch scanning history is
    exactly the failure incremental maintenance exists to avoid."""
    df = get_queries()["q_mv_incremental"](spark, SF_SMOKE)
    plan = _plan(df)
    scans = [
        line
        for line in plan.splitlines()
        if "FileScan parquet" in line and "DataFilters: [" in line
    ]
    bounded = [
        line
        for line in scans
        if "(ts#" in line.split("DataFilters: [", 1)[1]
    ]
    assert len(bounded) >= 2, plan


def test_embed_outliers_broadcasts_centroids(spark):
    """x_embed_outliers: the |labels|·DIM centroid table must broadcast
    back to the corpus-grain distance join (a shuffled join would move
    the exploded corpus twice), and the grouped top-k must run as the
    two-level tournament — two Window operators in the plan, not one
    one-label sort."""
    df = get_queries()["x_embed_outliers"](spark, SF_SMOKE)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Window") >= 2, plan


def test_attribution_single_window_single_scan(spark):
    """q_attribution: both IGNORE-NULLS touch reads must land in ONE
    Window operator over one events scan — the per-model
    aggregate-and-join spelling recomputed the window branch per model
    (two scans, two user_id shuffles; the bug this pins out)."""
    df = get_queries()["q_attribution"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Window") == 1, plan
    assert plan.count("Scan parquet") == 1, plan


def test_zipf_fit_regression_at_vocab_grain(spark):
    """x_zipf_fit: exactly one corpus-sized aggregate (lang, token) with
    a partial_count map-side combine; the rank window and regression
    run after it, at vocabulary grain."""
    df = get_queries()["x_zipf_fit"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    assert "partial_count" in plan, plan
    assert plan.count("Window") == 1, plan


def test_mrl_recall_single_corpus_scan_for_all_dims(spark):
    """x_mrl_recall: the whole dimension sweep must ride ONE embeddings
    scan through the mapInPandas scorer (plus x_sim_topk's own scan for
    the truth side and the driver-side query draw) — one scan per
    prefix length would be the regression."""
    df = get_queries()["x_mrl_recall"](spark, SF_SMOKE)
    plan = _plan(df)
    # truth leg + sweep leg + query-draw legs; the sweep itself adds ONE
    assert plan.count("Scan parquet") <= 4, plan
    assert plan.count("MapInPandas") == 2, plan  # sweep + truth scorer


def test_mor_read_applies_deletes_as_broadcast_anti(spark):
    """q_delete_vectors: the merge-on-read path must apply the delete
    set as a BROADCAST anti-join over the data scan — a shuffled anti
    (or a missing anti) is the 100 TB regression this pins out."""
    df = get_queries()["q_delete_vectors"](spark, SF_SMOKE)
    df.collect()  # finalize AQE so the chosen strategy is real
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_ab_test_no_event_grain_join(spark):
    """q_ab_test: scan → two-level aggregate; the corpus scan is paid
    ONCE (inside the eager 2-row variant checkpoint — the returned plan
    reads the checkpointed rows, so at most one residual scan may
    appear), and joins exist only at variant grain (broadcast of the
    1-row stats frame) — an event-grain shuffle join would break the
    billions-of-users shape."""
    df = get_queries()["q_ab_test"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_encoding_advisor_single_scan(spark):
    """q_encoding_advisor: the k-column stack must ride ONE lineitem
    scan (Generate over the struct array), not one scan per column."""
    df = get_queries()["q_encoding_advisor"](spark, SF_SMOKE)
    plan = _plan(df)
    assert plan.count("Scan parquet") <= 2, plan  # plain + distinct legs
    assert "Generate" in plan, plan


def test_mv_snapshot_refresh_scans_delta_and_mv_only(spark):
    """q_mv_snapshot_refresh: the refresh plan must read ONLY the stored
    MV parquet and the version-2→3 delta files — a scan touching
    commit-1/commit-2 data means the 'incremental' refresh silently
    recomputes the base, the O(table) regression this pins out."""
    df = get_queries()["q_mv_snapshot_refresh"](spark, SF_SMOKE)
    files = df.inputFiles()
    assert files, "expected a non-empty scan set"
    for f in files:
        assert ("mv_v2" in f) or ("commit-3" in f), (
            f"refresh scanned a base data file: {f}"
        )


def test_time_travel_sql_view_pins_file_list(spark):
    """q_time_travel_sql: the SQL view must plan exactly the pinned
    version-2 file list — commit-3 leaking into the scan breaks
    snapshot isolation through the SQL surface."""
    df = get_queries()["q_time_travel_sql"](spark, SF_SMOKE)
    files = df.inputFiles()
    assert files and all("commit-3" not in f for f in files), files
    assert any("commit-1" in f for f in files), files
    assert any("commit-2" in f for f in files), files


def test_gdpr_stream_read_is_broadcast_anti(spark):
    """s_gdpr_deletes: after the streamed delete commits, the final
    snapshot read must subtract the accumulated key set via a BROADCAST
    anti-join (same contract as q_delete_vectors' plan pin)."""
    df = get_queries()["s_gdpr_deletes"](spark, SF_SMOKE)
    df.collect()  # finalize AQE
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_partition_evolution_prunes_each_generation_at_own_grain(spark):
    """q_partition_evolution: the [2024-01-14, 2024-01-18) read spans
    the hour->day regrain; the scanned file set must (1) contain files
    from BOTH generations, (2) contain NO hour-generation dir outside
    the range's hours, (3) contain NO day-generation dir outside its
    days — i.e. each generation was pruned by ITS OWN transform, from
    manifest metadata alone."""
    df = get_queries()["q_partition_evolution"](spark, SF_SMOKE)
    files = df.inputFiles()
    hour_files = [f for f in files if "commit-1-" in f]
    day_files = [f for f in files if "commit-2-" in f]
    assert hour_files and day_files, files

    def pval(f):
        seg = [s for s in f.split("/") if s.startswith("_part=")][0]
        return seg.split("=", 1)[1]

    for f in hour_files:  # hour grain: 2024-01-14-00 .. 2024-01-15-23
        assert "2024-01-14-00" <= pval(f) <= "2024-01-15-23", f
    for f in day_files:   # day grain: 2024-01-16 .. 2024-01-17
        assert "2024-01-16" <= pval(f) <= "2024-01-17", f


def test_bucketed_merge_clause_join_has_no_exchange(spark):
    """q_merge_bucketed: the COW merge's clause join (full-outer SMJ of
    touched bucket files vs the bucketed source stage) must plan with
    ZERO Exchange nodes — at 100 TB that join is the merge's only
    shuffle on a plain layout.  Also pins the composition with bounds
    pruning: the merge carried most files by reference."""
    import json
    import os

    from data_pipeline_cursor_spark import catalog as C
    from data_pipeline_cursor_spark.sources.formats import _work_dir
    from data_pipeline_cursor_spark.sources.tables import (
        table_path,
        tree_fingerprint,
    )

    # reset the capture so a fixture REUSE (merge already committed in a
    # prior call) cannot satisfy the assert with a stale plan
    C.LAST_BUCKETED_MERGE_PLAN = None
    fp = tree_fingerprint(table_path(SF_SMOKE, "events")).replace("-", "_")
    table_dir = _work_dir(SF_SMOKE, f"snapbktmrg-{fp}")
    import shutil

    shutil.rmtree(table_dir, ignore_errors=True)  # force a fresh merge
    df = get_queries()["q_merge_bucketed"](spark, SF_SMOKE)
    assert df.count() > 0
    plan = C.LAST_BUCKETED_MERGE_PLAN
    assert plan is not None
    assert "SortMergeJoin" in plan, plan
    assert "Exchange" not in plan, plan
    m = C._load_manifest(table_dir, C.snapshot_versions(table_dir)[-1])
    last_v = m["version"]
    carried = [f for f in m["files"] if m["file_seqs"][f] != last_v]
    rewritten = [f for f in m["files"] if m["file_seqs"][f] == last_v]
    # bounds pruning composed: most of the 8 range-clustered commits
    # carried by reference, only the touched low-range buckets rewritten
    assert len(carried) > len(rewritten), (carried, rewritten)


def test_bucket_pruned_lookup_selects_buckets(spark):
    """q_bucket_pruned: the key-IN lookup over the bucketed snapshot
    must BUCKET-PRUNE — the scan reports SelectedBucketsCount < total
    (3 keys can hash to at most 3 of the 4 buckets), reading only the
    matching buckets' files.  Guards the autoBucketedScan conf too: the
    planner silently downgrading the scan to non-bucketed would drop
    the pruning line entirely."""
    import re

    df = get_queries()["q_bucket_pruned"](spark, SF_SMOKE)
    df.collect()
    plan = _plan(df)
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, plan
    assert int(m.group(1)) <= 3 < int(m.group(2)) + 1, m.group(0)
    assert int(m.group(1)) < int(m.group(2)), m.group(0)
