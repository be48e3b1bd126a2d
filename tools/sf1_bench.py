"""The scale harness (SCALE.md): the most expensive queries one order of
magnitude above the bench scale (sf0.1).

Builds an sf1-equivalent dataset under the temp dir (the test data is
read-only) by 10x-replicating ONLY the tables the queries read —
lineitem (~6 M rows), documents, embeddings — and symlinking the rest
from sf0.1, then runs each query at sf0.1 (1x) and sf1 (10x) in its own
SparkSession with an event log, reporting wall seconds and total shuffle
bytes per scenario.

Replication semantics (reported as measured, not as an
independent-replica approximation):
  * lineitem: replica k offsets l_orderkey by k*(max+1); part/supplier
    keys unchanged, so per-part/supplier fan-out grows 10x — a
    harder-than-linear input for the grouping queries;
  * documents: replica k rotates the token list by 7k — most shingles
    survive, so the near-dup pair graph DENSIFIES superlinearly;
  * embeddings: replica k rescales components by (1 + 1e-4 k) — cell
    geometry preserved, population x10.

Sessions come from ``usgs_lidar_spark.session.get_spark`` plus an event
log, so SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM size them
(``SPARK_GRAFT_CPUS=32 SPARK_GRAFT_DRIVER_MEM=16g`` is the local[32] / 16g
setup of the SCALE.md rows); every JSON line records the master,
default parallelism and Spark version the scenario actually ran with.
Work files (the sf1 build, event logs) go under ``$TMPDIR/sf1_bench``.

Usage: python tools/sf1_bench.py [query ...]   # one JSON line per scenario
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import _force  # noqa: E402
from usgs_lidar_spark.session import get_spark  # noqa: E402

SF01 = Path("/root/testdata/sf0.1")
WORK = Path(tempfile.gettempdir()) / "sf1_bench"
SF1 = WORK / "sf1"
FACTOR = 10

QUERIES_UNDER_TEST = [
    "dedup_cluster_collapse",
    "pipe_contamination",
    "dedup_minhash_lsh",
    "sim_topk_ivf",
    "flagship_voxel_subsample",
    "f3_point_in_polygon",
    # round 6: the re-planned graph pair (degree-ordered triangles,
    # degree-capped co-purchase build)
    "graph_triangles_parts",
    "graph_pagerank_parts",
    # round 13: the new curation tier at the sf1 point — quality-aware
    # keeper collapse and semantic decon run on the DENSIFIED near-dup
    # graph / replicated embeddings, and the v7 composition pays both.
    "dedup_cluster_keep_best",
    "pipe_semantic_decontamination",
    "pipe_end_to_end_v7",
    # round 14 (r13 verdict item 5): sf1 points for the two tiers with
    # the densest shuffles that previously had only 1x/10x SCALE rows —
    # retrieval (BM25 build-per-call + hybrid RRF fusion) and the
    # persisted-edge graph serving pair.
    "search_bm25_topk",
    "search_hybrid_rrf",
    "graph_pagerank_from_edges",
    "graph_triangles_from_edges",
    # round 14 (cont.): the two new compositions at the sf1 point —
    # perceptual near-dup over the token-rotated document replicas and
    # the ingest+decon pipeline.
    "mm_near_dedup",
    "pipe_end_to_end_v8",
    # round 15 (r14 verdict item 6): sf1 points for the round-14 queries
    # that previously had only synthetic-scale evidence — the audio /
    # video near-dup tiers, the quality-aware keeper, and the
    # bench-self-dedup decon composition, all over the token-rotated
    # document replicas / rescaled embedding replicas.
    "mm_audio_near_dedup",
    "mm_video_near_dedup",
    "mm_near_dedup_keep_best",
    "pipe_decon_dedup_bench",
    # round 15 (cont.): the new two-tier verify and pair gate at sf1.
    "mm_near_dedup_semantic",
    "mm_image_text_gate",
    # round 16 (r15 verdict item 5): sf1 points for the round-15/16
    # queries with only sf0.1 evidence — the v9/v10 multimodal
    # compositions, hard-negative mining, the kmeanspp-seeded two-level
    # assignment, and the shard byte mover (payload bytes move once).
    "pipe_end_to_end_v9",
    "pipe_end_to_end_v10",
    "sim_hard_negatives",
    "sim_assign_two_level_kmeanspp",
    "mm_shard_bytes",
    # round 16 (cont.): the fuzzy cross-set decon (near-dup graph
    # densifies under token rotation on BOTH sides of the corpus x
    # benchmark split) and the map-only kNN label gate (seed set grows
    # 10x with the corpus here — the worst case for the broadcast
    # array; a real deployment holds it fixed).
    "pipe_contamination_fuzzy",
    "sim_knn_label_gate",
    # round 16 (cont. 2): v11 = v9 + the shard-count-sized schedule
    # tail — its scale behavior should be v9's within noise.
    "pipe_end_to_end_v11",
    # round 17: the overlap matrix at sf1 — its shingle frame now comes
    # from the Arrow shingle kernel (char_shingles impl="kernel"), and
    # the token-rotated replicas keep most shingles, so the per-shingle
    # source sets densify — the worst case for the collect_set bound.
    "dedup_source_overlap",
]

#: Queries whose CLAIM is steady-state serving from a persisted
#: artifact (the bucketed edge table): warm at the TARGET sf_dir so the
#: timed run measures serving, not the iteration-invariant build the
#: from_edges split exists to amortize (SCALE.md's round-8 rows measured
#: the build separately). Everything else keeps the sf0.001 warmup
#: (plan compile only) so existing rows stay comparable.
WARM_AT_TARGET = {
    "graph_pagerank_from_edges",
    "graph_triangles_from_edges",
}


def make_session(name: str, log_dir: Path):
    """The engine session with an uncompressed, unrolled event log in
    ``log_dir`` — the file `shuffle_bytes` reads back."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return get_spark(
        name,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )


def shuffle_bytes(log_dir: Path) -> tuple[int, int]:
    """(read_bytes, write_bytes) summed over every task in the app log."""
    rd = wr = 0
    for f in log_dir.rglob("*"):
        if f.is_dir() or f.name.startswith(".") or f.suffix == ".crc":
            continue
        for line in f.read_text(errors="ignore").splitlines():
            if '"SparkListenerTaskEnd"' not in line:
                continue
            ev = json.loads(line)
            tm = ev.get("Task Metrics") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            swm = tm.get("Shuffle Write Metrics") or {}
            rd += srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
            wr += swm.get("Shuffle Bytes Written", 0)
    return rd, wr


def build_sf1() -> None:
    if (SF1 / "_BUILT").exists():
        return
    SF1.mkdir(parents=True, exist_ok=True)
    spark = make_session("sf1-build", WORK / "log_build")

    def replicate(name: str, id_shift: dict[str, str], mutate=None) -> None:
        src = spark.read.parquet(str(SF01 / f"{name}.parquet"))
        maxes = {
            c: src.agg(F.max(c)).collect()[0][0] + 1 for c in id_shift.values()
        }
        parts = []
        for k in range(FACTOR):
            p = src
            if k:
                for out_col, key in id_shift.items():
                    p = p.withColumn(out_col, F.col(key) + k * maxes[key])
                if mutate is not None:
                    p = mutate(p, k)
            parts.append(p)
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        u.repartition(32).write.mode("overwrite").parquet(
            str(SF1 / f"{name}.parquet")
        )

    def rotate_text(df, k):
        toks = F.split(F.col("text"), " ")
        n = F.size(toks)
        rot = F.lit(k * 7) % n
        return df.withColumn(
            "text",
            F.array_join(
                F.concat(F.slice(toks, rot + 1, n), F.slice(toks, 1, rot)), " "
            ),
        )

    replicate("lineitem", {"l_orderkey": "l_orderkey"})
    replicate("documents", {"doc_id": "doc_id"}, rotate_text)
    replicate(
        "embeddings",
        {"vec_id": "vec_id"},
        lambda df, k: df.withColumn(
            "embedding", F.transform("embedding", lambda x: x * (1.0 + 1e-4 * k))
        ),
    )
    spark.stop()
    for f in SF01.glob("*.parquet"):
        dst = SF1 / f.name
        if not dst.exists():
            dst.symlink_to(f)
    (SF1 / "_BUILT").touch()


def run_query(name: str, sf_dir: str, tag: str) -> dict:
    from usgs_lidar_spark.plans.queries import QUERIES

    log_dir = WORK / f"log_{name}_{tag}"
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = make_session(f"{name}-{tag}", log_dir)
    # One untimed warmup at the smallest SF compiles the plan shape, so
    # the timed run measures steady-state execution (bench.py convention).
    # Persisted-artifact serving queries (WARM_AT_TARGET) additionally
    # warm at the TARGET dir in a SEPARATE session first, so the build
    # lands in neither the timed wall NOR this log's shuffle totals —
    # the timed session re-registers the existing files (the external-
    # table DDL branch) and measures pure serving.
    if name in WARM_AT_TARGET:
        spark.stop()
        warm_log = WORK / f"log_{name}_{tag}_warm"
        shutil.rmtree(warm_log, ignore_errors=True)
        wspark = make_session(f"{name}-{tag}-warm", warm_log)
        _force(QUERIES[name](wspark, sf_dir), name)
        wspark.stop()
        spark = make_session(f"{name}-{tag}", log_dir)
    _force(QUERIES[name](spark, str(SF01.parent / "sf0.001")), name)
    t0 = time.perf_counter()
    n_rows = _force(QUERIES[name](spark, sf_dir), name)
    dt = time.perf_counter() - t0
    sc = spark.sparkContext
    session = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_version": spark.version,
    }
    spark.stop()
    rd, wr = shuffle_bytes(log_dir)
    return {
        "scenario": f"{name}_{tag}",
        "n_rows": n_rows,
        "sec": round(dt, 2),
        "shuffle_read_mb": round(rd / 1e6, 1),
        "shuffle_write_mb": round(wr / 1e6, 1),
        **session,
    }


def main() -> None:
    WORK.mkdir(parents=True, exist_ok=True)
    build_sf1()
    names = sys.argv[1:] or QUERIES_UNDER_TEST
    for name in names:
        for sf_dir, tag in ((str(SF01), "1x"), (str(SF1), "10x")):
            print(json.dumps(run_query(name, sf_dir, tag)), flush=True)


if __name__ == "__main__":
    main()
