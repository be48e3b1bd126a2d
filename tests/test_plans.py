"""Physical-plan assertions: the scale properties SURVEY.md §4 promises
must be visible in the executed plan, not just hoped for.

  * filters/projections reach the parquet scan (PushedFilters/ReadSchema);
  * small dimensions broadcast (BroadcastHashJoin, no shuffle of the fact
    side for dim joins);
  * aggregates are partial+final HashAggregate (map-side combine);
  * no CartesianProduct anywhere except the intended 1-row broadcasts.
"""

from __future__ import annotations

import pytest

from usgs_lidar_spark.plans.queries import QUERIES
from tests.conftest import SF_SMALL


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF_SMALL)
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "f1_range_filter")
    assert "PushedFilters: [" in plan
    # The quantity range and linenumber predicates must be pushed.
    assert "l_linenumber" in plan.split("PushedFilters")[1][:300]


def test_column_pruning_reaches_scan(spark):
    plan = _plan(spark, "f1_range_filter")
    read = plan.split("ReadSchema")[1][:300]
    # Only the 4 projected columns are read — intensity of the reference's
    # late Python projection (SURVEY.md §4 "column pruning") done right.
    assert "l_extendedprice" in read and "l_returnflag" not in read


def test_dim_joins_broadcast(spark):
    plan = _plan(spark, "j1_broadcast_lookup")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_aggregate_is_partial_final_hash(spark):
    plan = _plan(spark, "flagship_voxel_subsample")
    # Two HashAggregates (partial + final) around one shuffle.
    assert plan.count("HashAggregate") >= 2
    assert "SortAggregate" not in plan


def test_no_cartesian_products(spark):
    for name in ("flagship_voxel_subsample", "j3_star_join_agg", "m2_grid_keys"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "o3_topk")
    assert "TakeOrderedAndProject" in plan  # heap top-k, not a global sort


# --- Plan-digest regression guard -----------------------------------------
#
# Shape digests for every bench headliner: counts of the node types that
# determine scale behavior (shuffles, broadcast exchanges, join strategies,
# Python eval placement). A regression that introduces a new Exchange, a
# BroadcastNestedLoopJoin where a hash join belongs, or a row-at-a-time
# BatchEvalPython shows up here as a digest diff instead of as an
# unattributable bench delta on a noisy shared box.
#
# The digests count NODE NAMES, not pretty-printed plan text, so they are
# robust to formatting changes; a Spark version bump that genuinely changes
# planning will fail loudly and the pins get re-reviewed (that is the
# point — the new plan must be re-audited, not silently accepted).

_DIGEST_NODES = (
    "BroadcastExchange",
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "TakeOrderedAndProject",
    "SortAggregate",
)


def plan_digest(plan: str) -> dict[str, int]:
    """Count scale-relevant physical nodes. ``shuffle_exchange`` counts only
    shuffle exchanges (hash/range/single/round-robin partitioning), never
    BroadcastExchange."""
    import re

    d = {
        "shuffle_exchange": len(
            re.findall(r"\bExchange (hash|range|Single|RoundRobin)", plan)
        )
    }
    for node in _DIGEST_NODES:
        c = plan.count(node)
        if c:
            d[node] = c
    return d


#: Reviewed-and-pinned digests (Spark 4.1, sf0.001). Each was audited once:
#: the BroadcastNestedLoopJoin entries are intended 1-row bounds/query
#: broadcasts, not accidents; dedup_minhash_lsh's 17 shuffles are the banded
#: LSH pipeline (shingle agg + 4 band self-join legs + verify).
HEADLINE_DIGESTS = {
    "flagship_voxel_subsample": {
        "shuffle_exchange": 2,
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,  # 1-row dataset-bounds broadcast
    },
    "q1_pricing_summary": {"shuffle_exchange": 1},
    "j3_star_join_agg": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    "j2_theta_containment_join": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    "w1_running_sum": {"shuffle_exchange": 1},
    "r1_session_window": {"shuffle_exchange": 1},
    "asof_purchase_before_click": {"shuffle_exchange": 1},
    # dedup_minhash_lsh is the banded LSH pipeline (shingle agg + 4
    # band self-join legs + verify). An Arrow kernel twin (1 shuffle)
    # measured SLOWER steady-state and was deleted: only this
    # pure-Catalyst form is plan-equal across constructions and reuses
    # its cached shingle/band frames (see minhash_lsh_pairs docstring).
    # array_distinct-before-explode deleted the exploded-pair
    # `.distinct()` exchange from every shingle leg (17 -> 11
    # shuffles; same legs, same joins).
    "dedup_minhash_lsh": {
        "shuffle_exchange": 11,
        "BroadcastExchange": 5,
        "BroadcastHashJoin": 5,
    },
    # Iterative CC: digest covers the returned (final-join) stage; the
    # per-iteration plans are pinned behaviorally in test_operators.
    # Re-audited r6 after the touched-vertices-only iteration change:
    # the ONE-TIME singleton split (touched distinct + left-anti vs the
    # vertex set + union) now sits in the returned lineage alongside the
    # collapse join — all |V|-bounded, none per-round; per-round shuffles
    # HALVED (changed-count folded into the label aggregate).
    "dedup_cluster_collapse": {"shuffle_exchange": 6, "SortMergeJoin": 3},
    "sim_topk_bruteforce": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,  # 1-row query-set broadcast
    },
    "sim_topk_ivf": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    "text_quality_score": {"shuffle_exchange": 0},
    # The exact crop is one column expression in the scan's map stage.
    "f3_point_in_polygon": {"shuffle_exchange": 0},
    # Round-4 headliners. m3's zero shuffles IS the claim: the whole
    # Krüger series runs in one codegen map stage.
    "m3_utm_reproject": {"shuffle_exchange": 0},
    # Re-audited after the round-4 single-pass rewrite: the left-join
    # marker + one aggregate removed 3 shuffles and a join vs the
    # original hits/sizes/join composition. Round 9: the fractional df
    # cap resolves from a count-distinct rider over the checkpoint-
    # pinned distinct-pairs frame, so the pairs shuffle (and the former
    # SECOND corpus scan) moved into the one-time pin job. Round 10: the
    # denominator no longer collect()s at plan-construction time — it
    # rides a one-row broadcast (BroadcastNestedLoopJoin) into the df-cap
    # comparison, so the WHOLE query is one lazy plan with zero eager
    # jobs. The count-distinct's 2 exchanges (expand partial+final) are
    # now VISIBLE here instead of hidden in the eager job — same shuffled
    # bytes (both sides read the same localCheckpoint pin), one fewer
    # job, and construction is free.
    "pipe_contamination": {
        "shuffle_exchange": 5,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    "pipe_pack_sequences": {"shuffle_exchange": 1},
    # Round-5 headliners. q2: part/supplier semi-joins push below the
    # aggregate (group-key filters), so the cost groupBy shuffles only
    # restricted rows; groupBy + per-part window = 2 shuffles, and the
    # tiny dim chain broadcasts on both the semi and the label side (7
    # constant-size broadcasts — the shuffle shrink is the scale lever).
    # q18: one orderkey shuffle; the HAVING survivors and customer dim
    # broadcast. sim_ivf_drift: both quantizer argmaxes are map-side
    # expressions — the only shuffle is the per-cell groupBy.
    "q2_min_cost_supplier": {
        "shuffle_exchange": 2,
        "BroadcastExchange": 7,
        "BroadcastHashJoin": 7,
    },
    "q18_large_volume_customers": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    "sim_ivf_drift": {"shuffle_exchange": 1},
    # Round-5 (cont.) headliners. Incremental minhash mirrors the full
    # LSH pipeline (shingle agg + band join legs + candidate verify) plus
    # the is_batch flag joins — the SortMergeJoin is the band-table probe
    # (both sides data-sized, correctly NOT broadcast). Snapshot diff's
    # SMJ is the full-outer hash-compare join: full outer cannot
    # broadcast, two key shuffles is its floor. Cohort retention re-keys
    # through user -> (user,cohort,offset) -> (cohort,offset) with the
    # size table broadcast.
    # Re-audited in optimization round 16: array_distinct BEFORE the
    # shingle explode makes (doc_id, shingle) rows distinct by
    # construction, deleting the exploded-pair `.distinct()` exchange
    # from every shingle leg (19 -> 13 shuffles here; same legs, same
    # joins otherwise).
    "dedup_minhash_incremental": {
        "shuffle_exchange": 13,
        "BroadcastExchange": 8,
        "BroadcastHashJoin": 8,
        "SortMergeJoin": 1,
    },
    "cdc_snapshot_diff": {"shuffle_exchange": 2, "SortMergeJoin": 1},
    "events_cohort_retention": {
        "shuffle_exchange": 5,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    # SQ8: broadcast query set (the 1-row BNLJ is the bounds-free cross
    # of corpus x broadcast queries), one shuffle = the top-k window.
    "sim_topk_sq8": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # gram doc-freq agg + dup-position semi join + per-doc window/agg.
    "dedup_substring_spans": {
        "shuffle_exchange": 3,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    # Iteration-INVARIANT frames (edges/nodes/degrees) are checkpointed
    # once; the 3 rank iterations then chain linearly over those scans
    # instead of re-expanding the edge-build lineage per iteration (105
    # shuffle exchanges measured without the checkpoints). Optimization
    # round 16: the capped co-purchase build emits pairs map-side from
    # per-basket lists (both basket-keyed self-join legs gone), 13
    # shuffles / 9 SMJ -> 8 / 5 with the contribution joins turning
    # broadcastable. Rank-vs-edge joins stay SMJ by design: at scale
    # neither side is broadcastable.
    "graph_pagerank_parts": {
        "shuffle_exchange": 8,
        "BroadcastExchange": 4,
        "BroadcastHashJoin": 4,
        "SortMergeJoin": 5,
    },
    # Round-6 headliners. Triangles: the ORIENTED edge frame (degree
    # attach + re-orientation) is localCheckpointed at construction; the
    # returned plan is wedge self-join on the low endpoint + (b,c)
    # closure semi-join + the corner-explode aggregate. Optimization
    # round 16: with the map-side capped pair build the edge frame
    # estimate shrinks, so both legs plan as broadcast joins over the
    # checkpointed oriented frame (5 shuffles / 2 SMJ -> 1 / 2 BHJ);
    # the one remaining exchange is the corner aggregate.
    # pipe_pack_streams: the Lehmer stream derivation is map-only; the
    # ONE shuffle is the per-stream running-sum window.
    "graph_triangles_parts": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
    },
    "pipe_pack_streams": {"shuffle_exchange": 1},
    # Round-6 (cont.) headliners. BM25: postings agg + df window + doc
    # agg over query-filtered postings only, plus the single-partition
    # corpus-stats aggregate whose 1-row result broadcasts back (the
    # BNLJ); top-k is TakeOrdered. Hybrid RRF: the BM25 legs + the
    # cosine ranker's one top-k window; the full-outer fusion of two
    # <=20-row short lists is the SMJ (full outer cannot broadcast —
    # and at 20 rows a side, needn't).
    "search_bm25_topk": {
        "shuffle_exchange": 4,
        "BroadcastExchange": 1,
        "BroadcastNestedLoopJoin": 1,
        "TakeOrderedAndProject": 1,
    },
    "search_hybrid_rrf": {
        "shuffle_exchange": 7,
        "BroadcastExchange": 2,
        "SortMergeJoin": 1,
        "BroadcastNestedLoopJoin": 2,
        "TakeOrderedAndProject": 2,
    },
    # Round-8 (cont.) text tier. Skipgram: THE claim is the digest — one
    # map-combined shuffle (pair vocab) + TakeOrdered, no positional
    # self-join. Classifier: broadcast weight table + per-doc agg; the
    # SMJ is the row-preserving base left join. Chunk reassembly:
    # election/total/kept aggregates (the SortAggregates are the
    # min(struct) election and collect_list reassembly — struct aggs
    # don't hash-agg); keep-join + two base joins AQE-broadcast at this
    # size (data-x-data SMJ at scale, by design). Surprisal: the LM
    # bigram table is localCheckpoint-pinned so the head/tail tier
    # branches re-read a vocab-bounded table instead of re-scanning the
    # corpus (pre-fix audit: 10 shuffles and the whole LM pipeline
    # twice); the two TakeOrdered are the per-branch hot-vocab lists —
    # vocab-bounded by construction. Keyness: vocab-domain aggregates +
    # 1-row grand-total BNLJ + per-class rank window.
    "text_skipgram_pairs": {
        "shuffle_exchange": 1,
        "TakeOrderedAndProject": 1,
    },
    "text_hashed_classifier": {
        "shuffle_exchange": 2,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
        "SortMergeJoin": 1,
    },
    "dedup_chunk_reassemble": {
        "shuffle_exchange": 3,
        "BroadcastExchange": 3,
        "BroadcastHashJoin": 3,
        "SortAggregate": 2,
    },
    "text_bigram_surprisal": {
        "shuffle_exchange": 7,
        "BroadcastExchange": 5,
        "BroadcastHashJoin": 4,
        "SortMergeJoin": 1,
        "BroadcastNestedLoopJoin": 1,
        "TakeOrderedAndProject": 2,
    },
    "text_class_keyness": {
        "shuffle_exchange": 8,
        "BroadcastExchange": 3,
        "BroadcastHashJoin": 2,
        "BroadcastNestedLoopJoin": 1,
    },
    # Round-8 (cont.) second wave, audited like the first. Bootstrap:
    # ONE replicate-keyed shuffle (the whole design) + the broadcast
    # base join. Gram: one MapInPandas (the deliberate batch-reducing
    # Arrow kernel) + the (i,j) partial-sum shuffle. RP embedding: one
    # (doc,dim) aggregate; the BNLJ is the 16-row dims broadcast cross.
    # Leakage: the minhash pipeline's pinned 17 shuffles + the split
    # attach. Funnel: three per-stage aggregates + user-equi joins
    # (events scanned once per stage with the type filter pushed down
    # — the standard chained-funnel shape). Chunk-incremental: the
    # reassembly SortAggregates (struct election/collect_list) over
    # anti-joined fresh chunks; joins AQE-broadcast at this size.
    "stats_poisson_bootstrap": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    "sim_embedding_gram": {"shuffle_exchange": 1, "MapInPandas": 1},
    "text_rp_embedding": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 1,
        "BroadcastNestedLoopJoin": 1,
    },
    # Re-audited in optimization round 16 (array_distinct-before-
    # explode, see dedup_minhash_lsh): 18 -> 12 shuffles.
    "pipe_split_leakage": {
        "shuffle_exchange": 12,
        "BroadcastExchange": 7,
        "BroadcastHashJoin": 7,
    },
    "events_funnel_ordered": {
        "shuffle_exchange": 8,
        "BroadcastExchange": 3,
        "BroadcastHashJoin": 3,
    },
    "dedup_chunk_incremental": {
        "shuffle_exchange": 5,
        "BroadcastExchange": 5,
        "BroadcastHashJoin": 5,
        "SortAggregate": 2,
    },
    # text_bpe_learn_merges (a bench headliner) has no digest pin: its
    # returned frame is a driver-assembled merges table — the trainer's
    # per-round plans run at CONSTRUCTION (like dedup_cluster_collapse's
    # iterations) and are pinned behaviorally in test_operators.
    # Round-10 headliners. text_rules_filter's ZERO shuffles IS the
    # claim: every rule is a per-row expression. v6's 4 shuffles are
    # the chunk election agg, the two per-doc rollups, and the pack
    # window; its joins broadcast at this size (data-sized SMJ at
    # scale). trained-serving's digest covers SERVING (training + index
    # build run once at construction into the snapshot cache): the one
    # shuffle is the per-query top-k window, the broadcast is the probe
    # side — the index scan itself is partition-pruned to probed cells.
    "text_rules_filter": {"shuffle_exchange": 0},
    "pipe_end_to_end_v6": {
        "shuffle_exchange": 4,
        "BroadcastExchange": 3,
        "BroadcastHashJoin": 3,
        "SortAggregate": 2,
    },
    "sim_ivf_trained_serving": {
        "shuffle_exchange": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    # Round-11 headliners. dedup_source_overlap's 7 shuffles are the
    # shingle distinct + fractional-cap window + per-source distinct
    # (pinned once via localCheckpoint — an unpinned draft showed the
    # cap-window subtree replicated into 17 shuffles across the three
    # gsh references) + the shingle self-join legs and the two size
    # joins (SMJ at this size; the sizes table is #sources rows and
    # broadcasts under AQE at scale). semdedup's two shuffles are the
    # within-cell pair aggregate and the per-id dup rollup; assignment
    # is map-side (no corpus shuffle — the IVF contract).
    # Re-audited in optimization round 16: per-shingle collect_set +
    # map-side pair emission replaced the (source, shingle) distinct
    # and the shingle self-join (7 shuffles/3 SMJ -> 5/2; the two
    # remaining SMJ are the #sources-row size joins, AQE-broadcast at
    # runtime).
    "dedup_source_overlap": {
        "shuffle_exchange": 5,
        "SortMergeJoin": 2,
    },
    # semdedup: the assignment subtree sits behind the lazy
    # localCheckpoint (a LogicalRDD leaf), so the digest covers the
    # pair search: cell self-join + per-id dup rollup + the audit left
    # join. Re-audited in optimization round 16 after ivf_assign's
    # Arrow-kernel assignment: the checkpointed frame's size estimate
    # now lets the static planner take the audit join as a
    # BroadcastHashJoin (it WAS an AQE runtime rescue), dropping two
    # exchanges — 4 shuffles/2 SMJ -> 2 shuffles/1 SMJ/1 BHJ.
    "dedup_semantic_semdedup": {
        "shuffle_exchange": 2,
        "SortMergeJoin": 1,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
    },
    # Round-13 headliners (r12 verdict item 6: every tier gets a bench
    # presence). cdc_apply_changelog's SortAggregates are the
    # latest-change-per-key max_by over struct buffers (struct agg
    # buffers are not hash-aggregable — intended, not a regression);
    # sketch_hll_mergeable's 4 shuffles are the per-group partial
    # sketch + merge levels; dedup_semdedup_hotcell digests fewer nodes
    # than the unguarded form because its assigned frame is
    # localCheckpoint-pinned (the digest covers the post-checkpoint
    # pair-join stages: the hot-cell broadcast + the cell self-join).
    "cdc_apply_changelog": {"shuffle_exchange": 1, "SortAggregate": 2},
    "sketch_hll_mergeable": {"shuffle_exchange": 4},
    "search_proximity": {"shuffle_exchange": 1},
    "rollup_incremental_refresh": {"shuffle_exchange": 2},
    "dedup_semdedup_hotcell": {
        "shuffle_exchange": 2,
        "BroadcastExchange": 1,
        "BroadcastHashJoin": 1,
        "SortMergeJoin": 1,
    },
    # repcollapse adds the jammed-bucket stats aggregate (1 shuffle) and
    # its broadcast back onto the b side (1 BroadcastExchange/HashJoin)
    # over the hotcell shape.
    "dedup_semdedup_repcollapse": {
        "shuffle_exchange": 3,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
        "SortMergeJoin": 1,
    },
    # Round-13 composition headliner. The cluster-collapse subtree runs
    # at construction (CC rounds + the keeper aggregate behind the
    # lazy-localCheckpointed keepers frame — the dedup_cluster_collapse
    # precedent), so the digest covers the post-checkpoint stages:
    # decon corpus semi-join + the flagged anti-join + the n_tokens
    # output join. Re-audited twice in optimization round 16:
    # ivf_assign's Arrow kernel replaced both one-row
    # broadcast-quantizer riders (the 2 BroadcastNestedLoopJoins are
    # GONE, 5 shuffles -> 4), then the fused semantic_contamination
    # kernel removed the packed-bench build and its joins outright
    # (4 -> 2 shuffles; the decon stage is now a map-only MapInArrow
    # over the keeper semi-join).
    # +1: spread_for_kernel's round-robin ahead of the decon kernel,
    # counted since the digest matches RoundRobinPartitioning.
    "pipe_end_to_end_v7": {
        "shuffle_exchange": 3,
        "BroadcastExchange": 2,
        "BroadcastHashJoin": 2,
        "SortMergeJoin": 1,
    },
    # Hot-pack-guarded semantic decon. Re-audited in optimization round
    # 16: the fused semantic_contamination Arrow kernel packs the
    # driver-collected bench in the task closure and runs assignment +
    # hot-pack gating + hit counting in ONE MapInArrow over the corpus
    # scan — the former bench-side pack shuffles and broadcasts are
    # gone and the whole query is map-only (1.6 s -> 0.45 s isolated).
    # 1: spread_for_kernel's round-robin ahead of the kernel, counted
    # since the digest matches RoundRobinPartitioning.
    "pipe_semantic_decon_hotbench": {
        "shuffle_exchange": 1,
    },
}


@pytest.mark.parametrize("name", sorted(HEADLINE_DIGESTS))
def test_headliner_plan_digest(spark, name):
    # The cache manager substitutes InMemoryTableScan into any plan whose
    # subtree matches a cached DataFrame from an earlier test, which would
    # make digests order-dependent; start each digest from an empty cache.
    spark.catalog.clearCache()
    got = plan_digest(_plan(spark, name))
    want = HEADLINE_DIGESTS[name]
    assert got == want, (
        f"{name}: plan shape drifted.\n  pinned: {want}\n  actual: {got}\n"
        "If the new plan is intentional, re-audit it (explain('formatted')) "
        "and update HEADLINE_DIGESTS."
    )


@pytest.mark.parametrize("name", sorted(HEADLINE_DIGESTS))
def test_headliner_no_row_python_or_cartesian(spark, name):
    """Hard floors independent of the pins: no row-at-a-time Python eval and
    no unbroadcast cartesian product in any headliner, ever."""
    plan = _plan(spark, name)
    assert "BatchEvalPython" not in plan, name
    assert "CartesianProduct" not in plan, name


#: Queries whose CONSTRUCTION runs jobs (iterative fixpoints, driver-side
#: seed collects of >1 job) — excluded from the cheap whole-registry sweep;
#: each has its own digest pin or behavioral tests.
_SWEEP_EXCLUDED = {
    "dedup_cluster_collapse",  # CC iterations run at construction
    "z3_flow_accumulation",    # fixpoint rounds run at construction
    # BPE trainer rounds (argmax collect per merge) run at construction;
    # per-round plans are vocab-bounded aggregates, pinned behaviorally.
    "text_bpe_learn_merges",
    "text_bpe_compression",
    "text_bpe_tokenize",
    "pipe_pack_by_bpe",     # trainer rounds at construction
    "pipe_budget_select",   # per-score totals collect at construction
    "sim_kmeans_two_steps",  # round-1 stats collect at construction
}


def test_registry_wide_plan_floors(spark):
    """Hard floors swept across EVERY registered query: no row-at-a-time
    Python eval and no CartesianProduct anywhere in the surface. Python
    runs only in the documented Arrow kernels (multimodal's MapInPandas,
    the MapInArrow kernels); the exact polygon crop is a plain column
    expression."""
    spark.catalog.clearCache()
    failures = []
    for name, fn in QUERIES.items():
        if name in _SWEEP_EXCLUDED:
            continue
        try:
            plan = fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"construction failed: {e}"))
            continue
        if "BatchEvalPython" in plan:
            failures.append((name, "row-at-a-time BatchEvalPython"))
        if "CartesianProduct" in plan:
            failures.append((name, "CartesianProduct"))
    assert not failures, failures


def test_runtime_bloom_filter_injected_for_selective_shuffle_join(spark, tmp_path):
    """When a fact-dim join can't broadcast, Catalyst's runtime-filter
    rule builds a bloom filter from the filtered dim side and pushes
    might_contain() onto the fact scan — rows that can't join are
    dropped BEFORE the shuffle. This is the semi-join reduction the
    100 TB plans rely on; pin that the rule stays active under the
    engine's session confs."""
    fact_p = str(tmp_path / "fact")
    dim_p = str(tmp_path / "dim")
    spark.range(0, 500_000).selectExpr("id AS k", "id % 97 AS v").write.parquet(fact_p)
    spark.range(0, 50_000).selectExpr("id AS k", "id % 13 AS tag").write.parquet(dim_p)
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # local test files are far below the 10GiB default fact-side bar
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        fact = spark.read.parquet(fact_p)
        dim = spark.read.parquet(dim_p).filter("tag = 3")
        j = fact.join(dim, "k")
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        # and the filtered join still returns exactly the semi-joined rows
        assert j.count() == 50_000 // 13 + (1 if 3 < 50_000 % 13 else 0)
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Scale posture: when a selective dim side is too big to broadcast
    (the 100 TB regime — autoBroadcastJoinThreshold forced off here),
    Spark's runtime bloom-filter optimization must inject a
    bloom_filter_agg/might_contain pair that pre-filters the fact scan
    with the dim's join keys. The engine leaves the optimization ON
    (Spark default) and this pins that a plain equi-join actually
    receives it — a silent conf regression would drop fact-side row
    pruning at scale."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # sf0.01's fact scan is tiny; drop the application-side floor so
        # the optimizer treats it as bloom-worthy (at real scale the
        # default 10GB floor is what makes this fire).
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1KB",
        )
        assert (
            spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled")
            == "true"
        )
        li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        # and the filter sits on the FACT (lineitem) side's key
        assert "l_orderkey" in plan.split("might_contain")[1][:200]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_image_text_gate_is_map_only(spark):
    """The gate's 100-TB claim (round 15): the scoring itself adds NO
    exchange — the only exchange in `mm_image_text_gate`'s plan is the
    fixture's pair-BUILD broadcast; the cosine + verdict are projections
    that fuse into the scan. No row-Python, no cartesian."""
    plan = _plan(spark, "mm_image_text_gate")
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan


def test_hard_negatives_partial_topk_before_shuffle(spark):
    """`sim_hard_negatives` (round 15): anchors broadcast (never the
    corpus), and the per-anchor top-k runs as WindowGroupLimit — the
    partial pass caps each map task's output at k rows per anchor
    BEFORE the single anchor-keyed exchange, so shuffled bytes are
    O(anchors x k), not O(corpus)."""
    plan = _plan(spark, "sim_hard_negatives")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_knn_label_gate_map_only(spark):
    """`sim_knn_label_gate` (optimization round 16): the whole top-k +
    vote + majority runs as ONE Arrow kernel over the pruned (id, vec)
    corpus scan — no key exchange, no window, no join (the seed set
    rides the task closure; bit-parity with the expression form is
    pinned by test_knn_label_vote_arrow_expr_parity). The only
    allowed exchange is the scale-adaptive round-robin spread that
    engages when the scan has fewer splits than the cluster has slots
    (always true at this fixture size, never at real scale)."""
    plan = _plan(spark, "sim_knn_label_gate")
    assert "MapInArrow" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Window" not in plan
    assert "Join" not in plan
    # column pruning reaches the scan despite the opaque kernel
    read = plan.split("ReadSchema")[1][:200]
    assert "vec_id" in read and "label" not in read


def test_fuzzy_decon_single_scan_map_only(spark):
    """`pipe_contamination_fuzzy` (optimization round 16): the fused
    decon kernel runs banding + candidate probing + exact verification
    in ONE MapInArrow over the corpus scan — no shingle explode, no
    band self/cross join, no aggregate, no key exchange (bit-parity
    with the expression form is pinned by
    test_minhash_decon_arrow_expr_parity). The benchmark side is
    collected+broadcast at construction; the only allowed exchange is
    the tiny-input round-robin spread."""
    plan = _plan(spark, "pipe_contamination_fuzzy")
    assert "MapInArrow" in plan
    assert plan.count("Exchange hashpartitioning") == 0
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "Generate explode" not in plan
    # column pruning reaches the scan despite the opaque kernel
    read = plan.split("ReadSchema")[1][:200]
    assert "text" in read and "lang" not in read


def test_bloom_prefilter_runs_before_probe_exchange(spark):
    """`j4_bloom_prefilter_join` (round 16): the might_contain filter
    (xxhash64 probe bits) evaluates in the probe scan's stage, BELOW
    any exchange of the lineitem side — the whole point of the
    reduction. At sf0.001 AQE broadcasts the build side (no probe
    exchange at all), so the assertion is structural: the bitmap
    arrives by broadcast, and the bloom filter's hash probes sit in
    the same stage as the lineitem scan with no exchange between."""
    plan = _plan(spark, "j4_bloom_prefilter_join")
    # the probe filter exists and references the bitmap words
    assert "shiftright" in plan
    scan_pos = plan.find("Scan parquet")  # first scan in the tree print
    filt_pos = plan.find("shiftright")
    assert filt_pos != -1 and scan_pos != -1
    # no exchange may sit between the probe-side filter and its scan:
    # in the printed tree the filter node appears above its child scan
    # with only map-side nodes (Project/Filter/ColumnarToRow) between.
    seg = plan[filt_pos:plan.find("Scan parquet", filt_pos)]
    assert "Exchange" not in seg
