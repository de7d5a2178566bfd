"""Oracle parity AT SCALE (round 6, extended round 7): the driver's
correctness gate runs at sf0.01; this module re-runs the same
Spark-vs-DuckDB hash comparison at sf1 (~6 M lineitem rows, 10x the
bench fixture) and sf10 (~60 M) for a representative slice, so
correctness is evidenced at the scales the bench curves measure — not
only speed.  Before round 7, sf10 correctness was only INFERRED from
bench completion (round-6 VERDICT item 4).

Skipped per scale when the derived fixtures are absent (regenerate with
`python scripts/make_scale_data.py 10` / `... 100`); they are
.gitignored build artifacts (~170 MB / ~1.7 GB).

OPT-IN ONLY (round-14 VERDICT item 1): this tier is ~165 sized
comparisons measured at ~33 minutes — far past the driver's pytest
window, so fixtures merely EXISTING on disk must not un-skip it (that
is exactly what made VERIFY_r13 report tests_ok:false on an all-green
tail).  Run it explicitly with `RUN_SCALE_PARITY=1 python -m pytest
tests/test_scale_parity.py` after regenerating fixtures; the default
collection skips regardless of what .scaledata/ holds.

Slice selection: one per plan family that the sized runs exercise —
scan+agg (tpch pricing), multi-way broadcast join (market share),
window/as-of, exact percentile, the two-level gap detector, the
scale-path dedup pipeline end to end (wide candidates -> verified pairs
-> CC labels), and the trained language profiler (the heaviest linear
text op).  Streaming jobs are excluded here: their drain cost at scale
is minutes each; tests/test_streaming_scale.py covers them with a
RocksDB state store at sf1.
"""

from __future__ import annotations

import os

import pytest

from data_pipeline_cursor_spark.registry import get_oracles, get_queries
from tests.oracle_harness import compare_query

SF1 = "/root/repo/.scaledata/sf1"
SF10 = "/root/repo/.scaledata/sf10"

SCALE_SLICE = [
    "q_tpch_pricing",
    "q_tpch_market_share",
    "q_join_asof",
    "q_percentile",
    # boundary-handoff branch of the two-level gap detector only fires at
    # sf1+ (first bucket-edge id dropped by the %97 slice is 327679)
    "q_gap_detect",
    "x_dedup_minhash_wide",
    "x_dedup_minhash_verified",
    "x_dedup_cluster",
    # the two repointed capstones: CC + PageRank + pick, and the
    # injected-duplicate leakage check (round-7 defaults)
    "x_canonical_pick",
    "x_split_leakage",
    "x_lang_ngram_profile",
    # round-8 additions: the hash-grain boilerplate report (linear window
    # explode), the zero-shuffle weighted top-k, and the containment
    # scorer riding the same wide-band candidate family as the capstones
    "x_boilerplate_windows",
    "x_weighted_sample",
    "x_dedup_containment",
    # round-8 batch 2: the broadcast-bitset join pruner and the two
    # bounded-state sketches (vocab-grain cost, corpus-independent state)
    "x_bloom_prefilter",
    "x_kmv_distinct",
    "x_cms_heavy",
    "x_ks_drift",
    "x_dp_clip",
    "x_source_quota",
    "x_bitmap_users",
    "x_kmv_jaccard",
    "x_psi_drift",
    # round-8 batch 3: native recursive traversal (frontier joins, depth
    # grows log10 with keyspace) and the integer-exact DSIR selection
    # (vocab-grain LM joins — the rank order must hold at any SF)
    "q_recursive_cte",
    "x_dsir_weights",
    # bounded-radius BFS rides the same verified-pair family as the
    # capstones; recursion depth is radius-bounded, not data-bounded
    "x_graph_bfs",
    # winnowing: local fingerprint density is ~2/(w+1) of shingle
    # positions — linear corpus cost; the df cap bounds the pair join
    "x_winnowing",
    # HLL: register math must stay exact as NDV grows (the scaled-integer
    # fold is the point); the estimate branches differ by scale
    "x_hll_distinct",
    # threshold sweep rides the wide-band candidate family; centroid
    # drift's (label, pos) grain must stay fixed as the corpus grows
    "x_dedup_threshold_sweep",
    "x_embed_drift",
    "x_cross_source_dup",
    # the nightly promote gate: one scan + one broadcast at any SF
    "x_dq_rules",
    # round-8 session 3: per-key interpolation (window envelope), the
    # value-grain AUC (codomain-bounded window must hold as docs grow),
    # CCNet terciles (vocab-grain LM + value-grain bucketing), the
    # Gumbel-top-k sample (selection ORDER must be scale-invariant),
    # and the corpus-rewriting line dedup (reassembly at any doc count)
    "q_interpolate_linear",
    "x_auc_signal",
    "x_perplexity_buckets",
    "x_dsir_sample",
    "x_line_dedup",
    # PIT backfill: versions-sized broadcast + interval match must stay
    # unique as the event log grows
    "q_pit_join",
    # round-10: snapshot read must return exactly the manifest's files at
    # any table size (the residue oracle catches any leakage), and the
    # keyed interval join is C14's at-size member — its per-batch
    # foreachBatch partials must sum to the batch self-join at any
    # density (the test drives the FULL streaming drain)
    "q_time_travel",
    "s_stream_join_keyed",
    # round-10 session 2: the incremental read must return exactly the
    # manifest delta at any table size; the centroid-outlier tournament
    # must stay exact as per-label populations grow; the composed
    # IVF-PQ replay must hold once cells carry 25k vectors each
    "q_snapshot_changes",
    "x_embed_outliers",
    "x_ann_ivf_pq",
    # the composed recall gate: exact-truth leg is the one brute-force
    # pass, must stay runnable at 200k vectors in BOTH engines
    "x_ivf_pq_recall",
    # the rewrite commit must stay lossless at 10M rows and leave the
    # explicit-version readers untouched
    "q_snapshot_compaction",
    # the full commit->compact->expire lifecycle must survive 10M rows
    # (and its destructive fixture must stay isolated from the shared one)
    "q_snapshot_expire",
    # round-10 session 3: attribution's one keyed sort-window pass must
    # hold as per-user histories deepen; the Zipf fit's vocab-grain
    # regression must agree as frequencies grow; the MRL sweep's
    # single-scan multi-dim scatter-gather at 200k vectors; the MERGE
    # full-outer clause resolution at 10M keys; the evolved read's
    # footer-union over hundreds of mixed-schema files
    "q_attribution",
    "x_zipf_fit",
    "x_mrl_recall",
    "q_merge_upsert",
    "q_schema_evolution",
    # purity rides the kmeans training chain: the unrolled-CTE replay
    # must keep matching once cells hold 25k vectors
    "x_cluster_purity",
    # merge-on-read: the stacked delete files must subtract exactly at
    # 10M keys and the anti-join must stay broadcast
    "q_delete_vectors",
    # both time axes must hold jointly at 10M rows: commit-residue
    # isolation AND the per-(user,type) interval chain under deep keys
    "q_bitemporal",
    # the set-based CDF diff must recover exactly the merge's clauses
    # when the two versioned scans carry 10M keys each
    "q_change_feed",
    # pigeonhole blocking: 24-bit band space must keep candidates ~linear
    # at 500k media rows (the derived-width rule's Hamming sibling)
    "x_phash_near_dup",
    # modularity rides the shared verified-pair chain; the |sources|
    # window sum must agree as the edge set grows
    "x_graph_modularity",
    # the z statistic's pooled variance must agree at 150k users; the
    # advisor's distinct-grain aggregate at 60M stacked values
    "q_ab_test",
    "q_encoding_advisor",
    # round-11: the pruned COW merge must keep carrying ~7/8 of the table
    # by reference at 10M keys (bounds skip + touched-file join); the
    # sequence-scoped visibility algebra must hold across four commits at
    # size; the SQL view must pin the same snapshot the DataFrame path reads
    "q_merge_pruned",
    "q_mor_reinsert",
    "q_time_travel_sql",
    # the lifecycle completions: rollback must restore 10M rows
    # metadata-only; orphan reconciliation must spare every referenced
    # file at size; WAP's reject→re-stage→publish loop must keep the
    # gate algebra exact; the streamed delete feed's stacked MOR commits
    # must subtract exactly across micro-batches
    "q_snapshot_rollback",
    "q_orphan_cleanup",
    "q_wap_publish",
    "s_gdpr_deletes",
    # incremental ≡ full must hold when the delta carries 3.3M rows;
    # the one-scan history audit must reconstruct counts at 10M rows
    "q_mv_snapshot_refresh",
    "q_snapshot_history",
    # the sort rewrite must stay lossless at 10M rows AND still enable
    # the post-compaction merge to carry files (the fail-stop fires
    # inside the builder if not)
    "q_sort_compact_merge",
    # round-12: ref isolation (main pinned / audit advanced) must hold
    # at 10M rows; the two-generation time-range read must stay exact
    # when each generation carries thousands of partitions; the
    # bucketed merge's zero-exchange clause join + bounds-skip
    # composition must survive 10M keys (its builder fail-stops on any
    # Exchange in the clause plan)
    "q_branch_read",
    "q_partition_evolution",
    "q_merge_bucketed",
    # the streaming merge feed's three stacked per-batch COW commits
    # must stay clause-exact and carried-file-lossless at 10M keys
    "s_merge_stream",
    # the Python-data-source change feed's per-commit Arrow delivery
    # must stay exactly-once with right version stamps at 10M rows
    "s_snapshot_feed",
    # round-13: the three metadata tables must reconstruct counts /
    # growth / partition populations from manifest stats alone at 10M
    # rows (one miscounted or mis-stamped file flips them); the paced
    # feed must stay exactly-once when each capped batch carries ~3.3M
    # rows; the tolerance as-of must hold where the staleness cap
    # bites at density
    "q_metadata_count",
    "q_snapshot_metadata",
    "q_partitions_metadata",
    "q_join_asof_tolerance",
    "s_feed_paced",
    # refs are SF-invariant pointers — the parity run still pins that
    # the governance workflow creates the same pointer set at size
    "q_refs_metadata",
]


_OPTED_IN = os.environ.get("RUN_SCALE_PARITY") == "1"


@pytest.mark.skipif(
    not _OPTED_IN, reason="sized tier is opt-in: set RUN_SCALE_PARITY=1"
)
@pytest.mark.skipif(not os.path.isdir(SF1), reason="sf1 fixtures not generated")
@pytest.mark.parametrize("name", SCALE_SLICE)
def test_scale_parity_sf1(spark, name):
    compare_query(spark, name, get_queries()[name], get_oracles()[name], SF1)


@pytest.mark.skipif(
    not _OPTED_IN, reason="sized tier is opt-in: set RUN_SCALE_PARITY=1"
)
@pytest.mark.skipif(not os.path.isdir(SF10), reason="sf10 fixtures not generated")
@pytest.mark.parametrize("name", SCALE_SLICE)
def test_scale_parity_sf10(spark, name):
    compare_query(spark, name, get_queries()[name], get_oracles()[name], SF10)


def test_drain_state_parts_derived_widths(tmp_path):
    """The state-store width each drain derives from the events
    footprint (about 1 MB per partition, clamped to [2, 8]) is pinned at
    the sizes the sized runs validated, without needing sized fixtures:
    sparse files of the fixtures' real byte counts stand in for them.
    sf10's events (~205 MB of part files) derive 8, sf0.1's single
    2 MB file derives 2, and an empty events dir derives the floor 2."""
    from pathlib import Path

    from data_pipeline_cursor_spark.sources.tables import table_path
    from data_pipeline_cursor_spark.streaming.jobs import _drain_state_parts

    def sf_dir(name: str, sizes: list[int], single_file: bool = False) -> str:
        events = Path(table_path(str(tmp_path / name), "events"))
        if single_file:
            events.parent.mkdir()
            paths = [events]
        else:
            events.mkdir(parents=True)
            paths = [events / f"part-{i}.parquet" for i in range(len(sizes))]
        for path, size in zip(paths, sizes):
            path.touch()
            os.truncate(path, size)
        return str(events.parent)

    assert _drain_state_parts(sf_dir("sf10", [205 * (1 << 20) // 16] * 16)) == 8
    assert _drain_state_parts(sf_dir("sf0.1", [2_045_762], single_file=True)) == 2
    assert _drain_state_parts(sf_dir("mid", [5 << 20])) == 5
    assert _drain_state_parts(sf_dir("empty", [])) == 2
