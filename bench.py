"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:
    {"metric": ..., "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Timing is end-to-end per query: plan construction + execution + a count()
to force materialization (results are not collected to the driver — the
engine's own rule); queries in HASH_FORCED use an all-column hash
aggregate instead because count() would let Catalyst prune their output
expressions (see HASH_FORCED note). A warmup flagship run amortizes session/JIT setup
out of the per-query numbers, mirroring how a long-lived cluster behaves.

Bench hygiene (round 3): each query runs N_RUNS (>=3) times and the
reported number is the per-query MEDIAN — a single run on a shared box
produced ±40% swings on sub-second queries with unchanged plans
(j3_star_join_agg r01→r02), which is attribution noise, not signal. The
JSON also carries per-query min/max spread under "spread" so a noisy run
is visible in the artifact itself.

Round 6 additions (VERDICT r5 items 3 and 7):
* "calibration": fixed-work probes run before and after the timed
  rounds — a constant whole-stage-codegen aggregate over
  spark.range(1e8) (all cores; proxies JVM/box throughput) and a
  single-core pure-Python loop. Round-over-round comparisons should
  normalize by these: r5's uniform ~1.8x inflation on unchanged pinned
  plans could not be separated from a plan regression without them.
* warmup now runs each headline query once at SF_DIR itself (recorded
  under "first_run", not in the medians): the first execution pays any
  .cache() materialization (dedup_minhash_* spreads hit 3x their median
  in BENCH_r05 because run 1 filled the shingle cache), so the timed
  rounds measure the steady state the artifact claims to measure.

Baseline context (BASELINE.md): the reference subsamples 401K points in
<=34 s single-process and converts rows at 8.2K rows/s; the flagship query
here does the equivalent voxel aggregation over ~600K rows and must land
in seconds.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from usgs_lidar_spark.plans.queries import QUERIES  # noqa: E402
from usgs_lidar_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_RUNS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))

#: Headline queries: the reference-lifecycle flagship plus one
#: representative per operator family (join, window, event-time, dedup,
#: similarity, text, UDF-spatial).
HEADLINE = [
    "flagship_voxel_subsample",
    "q1_pricing_summary",
    "j3_star_join_agg",
    "j2_theta_containment_join",
    "w1_running_sum",
    "r1_session_window",
    "asof_purchase_before_click",
    "dedup_minhash_lsh",
    "dedup_cluster_collapse",
    "sim_topk_bruteforce",
    "sim_topk_ivf",
    "text_quality_score",
    "f3_point_in_polygon",
    # round 4 additions: expression-only reprojection, the contamination
    # shingle join, and the packing window.
    "m3_utm_reproject",
    "pipe_contamination",
    "pipe_pack_sequences",
    # round 5 additions: correlated-subquery classic, HAVING-driven
    # fact-to-fact join, and incremental-index drift metrics.
    "q2_min_cost_supplier",
    "q18_large_volume_customers",
    "sim_ivf_drift",
    # round 5 (cont.) additions: incremental near-dup (batch probes the
    # band index), hash-reduced snapshot reconciliation, and the cohort
    # retention matrix.
    "dedup_minhash_incremental",
    "cdc_snapshot_diff",
    "events_cohort_retention",
    # round 5 (cont. 2) additions: compressed-domain ANN, substring-span
    # dedup, and integer-exact iterative PageRank.
    "sim_topk_sq8",
    "dedup_substring_spans",
    "graph_pagerank_parts",
    # round 6 additions: degree-ordered triangle counting and the
    # scale-safe bucketed packing default.
    "graph_triangles_parts",
    "pipe_pack_streams",
    # round 6 (cont.) additions: the retrieval tier — integer-exact BM25
    # and the hybrid keyword+vector RRF fusion (BM25 + cosine ANN).
    "search_bm25_topk",
    "search_hybrid_rrf",
    # round 8 additions: the persisted serving paths (index/edge-table
    # builds are cached per sf-dir snapshot, so steady-state runs
    # measure SERVING — the first warmup pass pays any build).
    "search_bm25_from_index",
    "sim_topk_from_ivf_index",
    "graph_pagerank_from_edges",
    "graph_triangles_from_edges",
    # round 8 (cont.) additions: the text-tier trainer loop, passage
    # dedup + reassembly, and the integer LM-surprisal filter.
    "text_bpe_learn_merges",
    "dedup_chunk_reassemble",
    "text_bigram_surprisal",
    # round 8 (cont. 2): the cross-engine-exact k-means iteration
    # (round-1 stats + update run at construction, round-2 at count).
    "sim_kmeans_two_steps",
    # round 10 additions: the TRAINED-quantizer serving path (train +
    # index build cached per sf-dir snapshot — steady state measures
    # serving from trained cells) and the ingest composition (passage
    # dedup -> reassembly -> sequence packing).
    "sim_ivf_trained_serving",
    "pipe_end_to_end_v6",
    # round 11 additions: the scale-stable fractional-cap overlap matrix
    # (the absolute cap measurably thinned answers at 10x) and semantic
    # cluster-then-dedup over embeddings (SemDeDup).
    "dedup_source_overlap",
    "dedup_semantic_semdedup",
    # round 13 additions (r12 verdict item 6 — every tier gets a bench
    # presence): CDC changelog replay, mergeable HLL sketch rollup,
    # positional proximity search, incremental materialized-view
    # refresh, and the hot-cell-guarded SemDeDup (the suite's designed
    # quadratic regime — exactly what the bench should watch).
    "cdc_apply_changelog",
    "sketch_hll_mergeable",
    "search_proximity",
    "rollup_incremental_refresh",
    "dedup_semdedup_hotcell",
    # round 13 (cont.): the representative-collapse rung above the
    # hot-cell guard, benched in its engaged regime (sub_bits=2 buckets
    # over the cap at sf0.1).
    "dedup_semdedup_repcollapse",
    # round 13 (cont. 2): the CURATION composition (quality-keeper
    # near-dup collapse -> semantic decon -> length gate) — every stage
    # affects output cardinality, so count() forces the full chain.
    "pipe_end_to_end_v7",
    # round 13 (cont. 3): semantic decon under the hot-pack guard in
    # its engaged regime (fixed k=8, bench = every 3rd vector — the
    # designed clustered-benchmark worst case the bench should watch).
    "pipe_semantic_decon_hotbench",
    # round 14: perceptual image near-dup — dHash banding + CC over
    # documents' bytes plus the perturbed re-upload slice; every stage
    # (hash, band join, components) changes cardinality, so count()
    # forces the full chain.
    "mm_near_dedup",
    # round 14 (cont.): the INGEST + DECON composition (passage dedup
    # -> semantic decon gate -> packing) — the batch twin the streaming
    # decon drain is pinned against; every stage changes cardinality,
    # so count() forces the full chain.
    "pipe_end_to_end_v8",
    # round 15: the TWO-TIER media dedup (dHash banded candidates ->
    # embedding-cosine verify -> CC) — the candidates-cheap/verify-exact
    # composition; every stage changes cardinality, count() forces all.
    "mm_near_dedup_semantic",
    # round 15 (cont.): the MULTIMODAL pipeline composition — two-tier
    # dedup -> image-text gate -> byte-shard packing; the v-series
    # headliner convention (v7, v8) one modality up.
    "pipe_end_to_end_v9",
    # round 16: the MMC4-style interleave (curated images placed into
    # documents by bucketed caption x passage cosine — two ranking
    # windows over the LSH-bucket equi-join) and the shard byte mover
    # (payloads join their assignment once, slices shuffle once, blobs
    # assemble per shard) — both move real bytes, both should be
    # watched round over round.
    "pipe_end_to_end_v10",
    "mm_shard_bytes",
    # round 16 (cont.): the two curation gates (fuzzy cross-set decon —
    # the heaviest new plan, uncapped signature frames are the designed
    # linear term — and the map-only kNN label vote) plus the bloom
    # prefilter join (watching the bitmap build + probe overhead ride
    # the plain join's wall). Every stage in all three changes
    # cardinality; count() forces the chains.
    "pipe_contamination_fuzzy",
    "sim_knn_label_gate",
    "j4_bloom_prefilter_join",
    # round 16 (cont. 2): the v-series closes the loop — v9's curation
    # chain through the loader's stride-scheduled read plan.
    "pipe_end_to_end_v11",
]

#: Queries whose expensive work lives in OUTPUT expressions (reassembled
#: text, per-doc scores) that a bare count() lets Catalyst prune out of
#: the plan — forced with an all-column hash aggregate instead so the
#: timed number covers the work the query claims to do. Existing
#: headliners keep count() forcing for round-over-round comparability.
HASH_FORCED = {
    # round 16: count() would prune the whole blob assembly (the
    # aggregate's only consumers are output columns), timing just a
    # distinct over the group keys.
    "mm_shard_bytes",
    "dedup_chunk_reassemble",
    "text_bigram_surprisal",
    "pipe_end_to_end_v6",
    # the within-cell pair join feeds a LEFT join whose right side is
    # unique per key — a bare count() would let Catalyst ELIMINATE the
    # whole dedup subtree (join elimination), timing only the scan.
    "dedup_semantic_semdedup",
    "dedup_semdedup_hotcell",  # same left-join shape as the unguarded form
    "dedup_semdedup_repcollapse",
    # packs are unique per (cell, key), so the decon left join never
    # changes cardinality and a bare count() would join-eliminate the
    # whole fold — hash-force it like the semdedup family above.
    "pipe_semantic_decon_hotbench",
    # same packed-bench left join, not a headliner: forced this way by
    # tools/sf1_bench.py, which shares this set.
    "pipe_semantic_decontamination",
}


def _force(df, name: str) -> int:
    if name in HASH_FORCED:
        from pyspark.sql import functions as F

        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1_000_000_007))).alias(
                "h"
            ),
        ).collect()[0]
        return int(row["n"])
    return df.count()


def _calibrate(spark) -> dict[str, float]:
    """Fixed-work probes whose cost is independent of the engine's query
    plans: normalize round-over-round totals by these to separate box
    state drift from plan regressions."""
    from pyspark.sql import functions as F

    def jvm_once() -> float:
        t0 = time.perf_counter()
        spark.range(10**8).select(
            F.sum((F.col("id") % 7) * 3).alias("s")
        ).collect()
        return time.perf_counter() - t0

    def py_once() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(5 * 10**6):
            acc ^= i * 31 + (i >> 3)
        assert acc >= 0
        return time.perf_counter() - t0

    # Each probe runs twice and reports the faster: the first JVM run
    # pays codegen/JIT compile (~3.5 s observed vs 0.27 s steady), which
    # is warmup, not box state — the quantity being calibrated.
    return {
        "jvm_range_agg_sec": round(min(jvm_once(), jvm_once()), 3),
        "py_loop_sec": round(min(py_once(), py_once()), 3),
    }


def main() -> None:
    spark = get_spark(app_name="usgs-lidar-spark-bench")
    sf = SF_DIR.rstrip("/").split("sf")[-1]

    calib_pre = _calibrate(spark)

    # Warmup: run every headline query once AT SF_DIR — this compiles
    # each plan shape (whole-stage codegen, Python workers for UDF
    # queries), warms the page cache, and — crucially — materializes any
    # .cache() the operator declares, so the timed runs measure
    # steady-state execution, the regime a long-lived cluster operates
    # in. The cold first-run times are recorded separately.
    first_run: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        _force(QUERIES[name](spark, SF_DIR), name)
        first_run[name] = round(time.perf_counter() - t0, 3)

    # Interleaved rounds (run 1 of every query, then run 2, ...) rather
    # than back-to-back repeats: a transient load spike on a shared box
    # lands on ONE round of many queries instead of all runs of one query,
    # so per-query medians stay attributable.
    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    for _ in range(N_RUNS):
        for name in HEADLINE:
            t0 = time.perf_counter()
            n = _force(QUERIES[name](spark, SF_DIR), name)
            dt = time.perf_counter() - t0
            runs[name].append(dt)
            print(f"# {name}: {dt:.3f}s ({n} rows)", file=sys.stderr)

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        m = len(s) // 2
        return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2

    calib_post = _calibrate(spark)

    timings = {name: round(median(xs), 3) for name, xs in runs.items()}
    spread = {
        name: [round(min(xs), 3), round(max(xs), 3)] for name, xs in runs.items()
    }
    total = round(sum(timings.values()), 3)
    # Per-run detail (min/max spread, cold first-run walls) goes to a
    # sidecar file, NOT the stdout JSON: the round driver keeps only the
    # TAIL of bench stdout, and r6's long one-liner lost its head (the
    # first 4 medians). The artifact line stays short and is printed
    # LAST so tail-capture always preserves a complete, parseable JSON.
    detail = {
        "spread": spread,
        "first_run": first_run,
        "n_runs": N_RUNS,
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail_last.json"),
            "w",
        ) as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass  # detail is advisory; never fail the artifact over it
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "calibration": {"pre": calib_pre, "post": calib_post},
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                # The session the run actually got (numbers from boxes of
                # different core counts are not comparable).
                "master": spark.sparkContext.master,
                "default_parallelism": spark.sparkContext.defaultParallelism,
                "spark_version": spark.version,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
