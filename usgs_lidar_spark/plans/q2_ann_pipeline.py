"""Remaining relational surface; hashed dedup; LSH/IVF/PQ ANN tiers; split/sample/pack pipeline; terrain oracle builders.

Mechanically split from plans/queries.py (round 11) — query function
source text is byte-identical to the single-file original, so every
REPLICA fingerprint (sha256 of query source + oracle SQL) is unchanged.
Registration happens at import time via `registry.query`; the import
order is fixed by plans/queries.py (the aggregator), preserving the
original definition order and every backward ORACLE[...] reference.
"""

from __future__ import annotations

from usgs_lidar_spark.plans.registry import (
    DEC_SUM,
    DataFrame,
    F,
    ORACLE,
    SparkSession,
    Window,
    _t,
    dec_sum,
    query,
)
from usgs_lidar_spark.plans.q1_classic import (
    _COSINE_SQL,
    _SHINGLE_CTE,
    _grid_cte,
    _price_qty_grid,
    _slot_name,
)

# =====================================================================
# Remaining relational surface: full outer join, conditional aggregation,
# HAVING, pivot, array functions
# =====================================================================


@query(
    "j3_full_outer",
    oracle="""
    WITH big_cust AS (
        SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0
    ), big_ord AS (
        SELECT o_custkey, count(*) AS n_big
        FROM orders WHERE o_totalprice > 400000.0 GROUP BY o_custkey
    )
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_acctbal, o.n_big
    FROM big_cust c FULL OUTER JOIN big_ord o ON c.c_custkey = o.o_custkey
    """,
)
def j3_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join — both-sides-preserved merge of two filtered sets
    (rich customers vs customers with big orders), nulls on either side."""
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000.0)
        .select("c_custkey", "c_acctbal")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000.0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "full_outer").select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        "c_acctbal",
        "n_big",
    )


@query(
    "a6_conditional_agg",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CASE WHEN l_returnflag = 'R'
                    THEN CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    ELSE 0 END) AS DOUBLE) / 100.0 AS returned_revenue,
           count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS n_returned,
           count(*) AS n_total
    FROM lineitem
    GROUP BY 1
    """,
)
def a6_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (TPC-H Q14 shape): CASE inside SUM/COUNT —
    one pass computing a filtered metric alongside the total."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    is_r = F.col("l_returnflag") == "R"
    return li.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        (F.sum(F.when(is_r, cents).otherwise(F.lit(0))) / F.lit(100.0)).alias(
            "returned_revenue"
        ),
        F.count(F.when(is_r, F.lit(1))).alias("n_returned"),
        F.count(F.lit(1)).alias("n_total"),
    )


@query(
    "having_large_volume",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_spent
    FROM orders
    GROUP BY o_custkey
    HAVING SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) > 250000000
    """,
)
def having_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING clause (TPC-H Q18 shape): post-aggregation predicate on the
    exact integer sum (threshold 2.5M in currency units)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("__cents"),
        )
        .filter(F.col("__cents") > 250000000)
        .select(
            "o_custkey",
            "n_orders",
            (F.col("__cents") / F.lit(100.0)).alias("total_spent"),
        )
    )


@query(
    "pivot_status_by_segment",
    oracle="""
    SELECT c_mktsegment,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS status_F,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS status_O,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS status_P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def pivot_status_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order-status counts spread to columns per market segment
    (Spark's pivot with explicit values compiles to the same conditional
    aggregation as the oracle)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            F.coalesce("F", F.lit(0)).alias("status_F"),
            F.coalesce("O", F.lit(0)).alias("status_O"),
            F.coalesce("P", F.lit(0)).alias("status_P"),
        )
    )


@query(
    "array_ops_tokens",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    )
    SELECT doc_id,
           len(list_distinct(tokens)) AS n_distinct_tokens,
           array_to_string(list_sort(list_distinct(tokens))[1:3], ',')
               AS first3_sorted,
           CASE WHEN len(tokens) > 0
                THEN list_sort(tokens)[len(tokens)] ELSE NULL END AS max_token
    FROM toks
    """,
)
def array_ops_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-function surface: distinct/sort/slice/join over token arrays
    (array_distinct, sort_array, slice, array_join, array_max)."""
    from usgs_lidar_spark.functions.textstats import ws_tokens

    d = _t(spark, sf_dir, "documents")
    toks = ws_tokens("text")
    distinct_sorted = F.sort_array(F.array_distinct(toks))
    return d.select(
        "doc_id",
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.array_join(F.slice(distinct_sorted, 1, 3), ",").alias("first3_sorted"),
        F.array_max(toks).alias("max_token"),
    )


# =====================================================================
# Round-2 additions: hash-first exact dedup, SimHash Hamming join,
# multi-probe ANN, salted skew aggregation.
# =====================================================================


@query(
    "dedup_exact_hashed",
    oracle="""
    SELECT min(doc_id) AS keep_id, count(*) AS n_copies,
           CAST(1 AS BIGINT) AS n_variants
    FROM documents GROUP BY text
    """,
)
def dedup_exact_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-first exact dedup: the shuffle carries (hash, hash, id), never
    the text. The oracle groups by the text itself and emits a literal
    n_variants=1 — so a primary-hash collision (which would merge two
    texts and raise Spark's count_distinct(h2) above 1) hash-mismatches."""
    from usgs_lidar_spark.operators.dedup import exact_dedup_hashed

    return exact_dedup_hashed(_t(spark, sf_dir, "documents"), "text", "doc_id")


# (dedup_simhash_near retired in round 10: superseded by
# `dedup_simhash_portable_pairs`, the same pigeonhole block join +
# popcount verify under a HARD all-pairs-Hamming oracle; the xxhash64
# pair path keeps `test_simhash_near_dup_blocked_equals_bruteforce`.)


@query(
    "sim_topk_lsh_multiprobe",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                  + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                  + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                  + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                  + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                  + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS BIGINT)
                   AS bucket
        FROM embeddings
    ), q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
             FROM b WHERE vec_id < 5),
    c AS (SELECT vec_id, embedding, bucket FROM b),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 1
                     AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: each query probes its sign-LSH bucket plus all
    1-bit-flip neighbors (Hamming<=1 complete). The oracle joins on
    bit_count(xor(bucket_a, bucket_b)) <= 1 — exactly the probe set."""
    from usgs_lidar_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_bits=8, hamming=1,
    )


def _cos4(a: str, b: str) -> str:
    """DuckDB rounded-cosine expression between two list operands."""
    return f"""ROUND(
          list_sum(list_transform(list_zip({a}, {b}),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform({a},
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform({b},
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)"""


@query(
    "sim_topk_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), csim AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim WHERE vec_id < 5) WHERE rn <= 2
    ), sims AS (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               {_cos4("a.embedding", "p.qv")} AS sim
        FROM assigned a JOIN probes p
          ON a.cid = p.cid AND a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: 8 coarse cells seeded from the first corpus vectors
    (a deterministic quantizer the oracle can reproduce), corpus assigned
    to cells by a literal-expression argmax (no shuffle), queries probe
    their 2 nearest cells. The oracle replays assignment + probing with
    window argmax over the same rounded cosines."""
    from usgs_lidar_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    # `or` placeholder: on an EMPTY corpus there are no seeds; a 1-dim
    # zero centroid lets the plan still build (nothing executes over an
    # empty scan), so the query returns an empty frame with the correct
    # schema instead of an AnalysisException.
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ] or [(0, [0.0])]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(
        emb, queries_df, cents, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_probe=2,
    )


@query(
    "sim_ivf_append_parity",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), csim AS (
        SELECT e.vec_id, c.cid, {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT vec_id, cid, csim FROM (
        SELECT vec_id, cid, csim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS rn
        FROM csim) WHERE rn = 1
    """,
)
def sim_ivf_append_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: assign the first 400 vectors, then
    APPEND the remaining 100 through ivf_append (assign-only, no k-means
    re-run, base untouched). The oracle assigns the WHOLE corpus from
    scratch with the same quantizer — the append path must be
    indistinguishable from a full re-assign (same cells, same
    quantization cosines), which is exactly the invariant that makes
    incremental appends safe on a streaming corpus."""
    from usgs_lidar_spark.operators.similarity import ivf_append, ivf_assign

    emb = _t(spark, sf_dir, "embeddings")
    # `or` placeholder: on an EMPTY corpus there are no seeds; a 1-dim
    # zero centroid lets the plan still build (nothing executes over an
    # empty scan), so the query returns an empty frame with the correct
    # schema instead of an AnalysisException.
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ] or [(0, [0.0])]
    base = ivf_assign(
        emb.filter(F.col("vec_id") < 400), cents, keep_sim=True
    )
    appended = ivf_append(base, emb.filter(F.col("vec_id") >= 400), cents)
    return appended.select(
        "vec_id", F.col("__cid").alias("cid"), F.col("__csim").alias("csim")
    )


@query(
    "sim_ivf_drift",
    oracle="""
    WITH qe AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ), cold AS (
        SELECT vec_id AS cid, qv AS qc,
               CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nq
        FROM qe WHERE vec_id < 8
    ), cnew AS (
        SELECT vec_id AS cid, qv AS qc,
               CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nq
        FROM qe WHERE vec_id >= 8 AND vec_id < 16
    ), dold AS (
        SELECT e.vec_id, c.cid, c.nq,
               CAST(list_sum(list_transform(list_zip(e.qv, c.qc),
                                            p -> p[1] * p[2])) AS BIGINT)
                   AS qdot
        FROM qe e CROSS JOIN cold c
    ), aold AS (
        SELECT vec_id, cid, qdot FROM (
            SELECT vec_id, cid, qdot,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY CASE WHEN nq = 0 THEN 0.0
                                ELSE CAST(qdot AS DOUBLE)
                                     / sqrt(CAST(nq AS DOUBLE)) END DESC,
                                cid) AS rn
            FROM dold) WHERE rn = 1
    ), dnew AS (
        SELECT e.vec_id, c.cid, c.nq,
               CAST(list_sum(list_transform(list_zip(e.qv, c.qc),
                                            p -> p[1] * p[2])) AS BIGINT)
                   AS qdot
        FROM qe e CROSS JOIN cnew c
    ), anew AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY CASE WHEN nq = 0 THEN 0.0
                                ELSE CAST(qdot AS DOUBLE)
                                     / sqrt(CAST(nq AS DOUBLE)) END DESC,
                                cid) AS rn
            FROM dnew) WHERE rn = 1
    )
    SELECT aold.cid, count(*) AS n,
           CAST(SUM(aold.qdot) AS BIGINT) AS sum_qdot,
           CAST(SUM(CASE WHEN anew.cid <> aold.cid THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved
    FROM aold JOIN anew USING (vec_id)
    GROUP BY aold.cid
    """,
)
def sim_ivf_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild-decision metrics for an incrementally-maintained IVF
    index: per current cell, occupancy, the exact integer sum of
    quantized dots-to-centroid, and how many vectors a candidate
    quantizer (a disjoint seed set, deterministically reproducible by
    the oracle; in production a `kmeans_train_centroids` output) would
    reassign.

    Uses `ivf_drift_metrics_exact`: an earlier float form's summed
    ROUND(cos, 4) was driver-red for two rounds (a last-ulp environment
    difference in ANY corpus dot product flips a half-way decimal
    rounding and shifts the sum) — this form quantizes vectors with
    floor(x·2^20) (power-of-two multiply + floor: NO rounding decision
    exists anywhere), so every output column is exact BIGINT arithmetic
    and the cross-engine hash is stable by construction. Both
    assignments ride one scan; shuffle is one row per cell."""
    from usgs_lidar_spark.operators.similarity import ivf_drift_metrics_exact

    emb = _t(spark, sf_dir, "embeddings")

    def seeds(lo: int, hi: int):
        return [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
            )
            .select("vec_id", "embedding")
            .collect()
        ] or [(lo, [0.0])]  # empty-corpus placeholder (see sim_topk_ivf)

    return ivf_drift_metrics_exact(emb, seeds(0, 8), seeds(8, 16))


@query(
    "dedup_cluster_collapse",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    walk(id, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    cc AS (SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id),
    csize AS (SELECT cluster_id, count(*) AS cluster_size
              FROM cc GROUP BY cluster_id)
    SELECT cc.doc_id, cc.cluster_id, csize.cluster_size,
           cc.doc_id = cc.cluster_id AS is_kept
    FROM cc JOIN csize USING (cluster_id)
    """,
)
def dedup_cluster_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster collapse over the MinHash near-dup pair graph: connected
    components by iterative min-label propagation (operators/graph.py),
    every document labeled with its cluster representative and size.
    The oracle computes the same components with a recursive CTE
    (transitive closure + min reachable id) — feasible because the
    sf0.01 pair graph is small; the Spark side is the scale path."""
    from usgs_lidar_spark.operators.dedup import minhash_lsh_pairs
    from usgs_lidar_spark.operators.graph import collapse_clusters

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "text", "doc_id", k=8, num_perm=64, bands=32,
        threshold=0.6, max_df=20,
    )
    return collapse_clusters(d, pairs, id_col="doc_id")


@query(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {_SHINGLE_CTE},
    pairs AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.6),
    edges AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b AS u, id_a AS v FROM pairs),
    walk(id, reach) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT w.id, e.v FROM walk w JOIN edges e ON e.u = w.reach
    ),
    cc AS (SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id),
    scored AS (SELECT cc.doc_id, cc.cluster_id, d.n_chars
               FROM cc JOIN documents d USING (doc_id)),
    best AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size,
                    first(doc_id ORDER BY n_chars DESC, doc_id) AS keeper_id
             FROM scored GROUP BY cluster_id)
    SELECT s.doc_id, s.cluster_id, b.cluster_size, b.keeper_id,
           s.doc_id = b.keeper_id AS is_kept
    FROM scored s JOIN best b USING (cluster_id)
    """,
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster collapse with QUALITY-AWARE keeper selection
    (`operators/graph.collapse_clusters_keep_best`): same MinHash pair
    graph and connected components as `dedup_cluster_collapse`, but the
    retained document per cluster is the argmax of a per-doc quality
    signal (here n_chars — longest version wins; ties -> min id), the
    production choice over first-crawled-wins. Keeper selection is one
    extra cluster-keyed max_by-style aggregate ((score, -id) struct
    max — map-side combinable, no per-cluster window sort); the oracle
    replays it with an ordered-set min over (n_chars DESC, doc_id)."""
    from usgs_lidar_spark.operators.dedup import minhash_lsh_pairs
    from usgs_lidar_spark.operators.graph import collapse_clusters_keep_best

    d = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        d, "text", "doc_id", k=8, num_perm=64, bands=32,
        threshold=0.6, max_df=20,
    )
    return collapse_clusters_keep_best(
        d, pairs, score_col="n_chars", id_col="doc_id"
    )


@query(
    "skew_salted_count_distinct",
    oracle="""
    SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS n_distinct
    FROM documents GROUP BY lang
    """,
)
def skew_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact COUNT(DISTINCT source) per lang: the distinct set
    of a hot key is hash-spread over 16 salt buckets, each bucket counts
    its disjoint slice, and the per-key sum of bucket counts is exact
    (operators/skew.py salted_count_distinct). The oracle is the plain
    COUNT(DISTINCT) — salting must not change the answer."""
    from usgs_lidar_spark.operators.skew import salted_count_distinct

    return salted_count_distinct(
        _t(spark, sf_dir, "documents"), ["lang"], "source", salt_buckets=16
    )


# =====================================================================
# ANN accuracy metric (round-4 item): recall@k of the approximate
# similarity paths against the exact brute-force baseline. An accuracy
# regression in probe logic (multiprobe neighbor set, IVF probe count)
# now reaches the hard oracle signal, not just plan/unit tests.
# =====================================================================

_LSH_BUCKET_SQL = """CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                  + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END)
                  + (CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END)
                  + (CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END)
                  + (CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END)
                  + (CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS BIGINT)"""


@query(
    "sim_recall_at_k",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {_LSH_BUCKET_SQL} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv, bucket
        FROM base WHERE vec_id < 5
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_cos4("c.embedding", "q.qv")} DESC, c.vec_id)
                       AS rank
            FROM base c, q WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ), mp AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_cos4("c.embedding", "q.qv")} DESC, c.vec_id)
                       AS rank
            FROM base c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 1
                              AND c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ), cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), csim AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, embedding, cid FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim WHERE vec_id < 5) WHERE rn <= 2
    ), ivf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY p.query_id
                       ORDER BY {_cos4("a.embedding", "p.qv")} DESC, a.vec_id)
                       AS rank
            FROM assigned a JOIN probes p
              ON a.cid = p.cid AND a.vec_id <> p.query_id
        ) WHERE rank <= 5
    ), nex AS (
        SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id
    ), mph AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM exact e JOIN mp m
          ON e.query_id = m.query_id AND e.neighbor_id = m.neighbor_id
        GROUP BY e.query_id
    ), ivfh AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM exact e JOIN ivf i
          ON e.query_id = i.query_id AND e.neighbor_id = i.neighbor_id
        GROUP BY e.query_id
    )
    SELECT 'lsh_multiprobe' AS method, nex.query_id,
           CAST(COALESCE(mph.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(nex.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(mph.n_hit, 0) AS DOUBLE) / nex.n_exact AS recall
    FROM nex LEFT JOIN mph USING (query_id)
    UNION ALL
    SELECT 'ivf' AS method, nex.query_id,
           CAST(COALESCE(ivfh.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(nex.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(ivfh.n_hit, 0) AS DOUBLE) / nex.n_exact AS recall
    FROM nex LEFT JOIN ivfh USING (query_id)
    """,
)
def sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the two approximate similarity paths against the exact
    brute-force baseline, per query and method (operators/similarity.py
    recall_at_k). Same corpus/query/quantizer construction as
    sim_topk_lsh_multiprobe and sim_topk_ivf; the oracle replays all three
    searches and the hit-set intersection in SQL. The division n_hit/5 is
    exact in binary, so recall is hash-safe."""
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
        ivf_topk,
        recall_at_k,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5,
    )
    mp = cosine_topk_lsh(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_bits=8, hamming=1,
    )
    # `or` placeholder: on an EMPTY corpus there are no seeds; a 1-dim
    # zero centroid lets the plan still build (nothing executes over an
    # empty scan), so the query returns an empty frame with the correct
    # schema instead of an AnalysisException.
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ] or [(0, [0.0])]
    ivf = ivf_topk(
        emb, queries_df, cents, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_probe=2,
    )
    r_mp = recall_at_k(mp, exact).withColumn("method", F.lit("lsh_multiprobe"))
    r_ivf = recall_at_k(ivf, exact).withColumn("method", F.lit("ivf"))
    return r_mp.unionByName(r_ivf).select(
        "method", "query_id", "n_hit", "n_exact", "recall"
    )


# =====================================================================
# Training-data pipeline ops (north-star extension): splits, sampling,
# contamination, sequence packing — operators/pipeline.py
# =====================================================================

#: SQL twin of operators/pipeline.portable_hash_bucket (two Lehmer/MINSTD
#: rounds; every intermediate < 2^47, so portable BIGINT arithmetic).
def _LEHMER_BUCKET(id_expr: str, seed: int = 0) -> str:
    # Positive remainder on the first step (DuckDB's % also follows the
    # dividend sign), mirroring the Spark side's pmod for negative ids.
    x = f"((((({id_expr}) + {1 + seed}) % 2147483647) + 2147483647) % 2147483647)"
    for _ in range(2):
        x = f"(({x}) * 48271) % 2147483647"
    return f"(({x}) % 10000)"


@query(
    "pipe_split_train_val_test",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, lang, {_LEHMER_BUCKET("doc_id")} AS bucket
        FROM documents
    ), s AS (
        SELECT lang,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split,
               doc_id
        FROM b
    )
    SELECT split, lang, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM s GROUP BY split, lang
    """,
)
def pipe_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by portable id-hash
    (operators/pipeline.split_by_hash): stable across reruns, engines and
    repartitioning, unlike randomSplit. Aggregated to (split, lang) counts
    + an id checksum that pins the exact membership of every split."""
    from usgs_lidar_spark.operators.pipeline import split_by_hash

    d = _t(spark, sf_dir, "documents")
    return (
        split_by_hash(d, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(
    "pipe_sample_stratified",
    oracle=f"""
    SELECT lang, count(*) AS n_sampled, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM documents
    WHERE {_LEHMER_BUCKET("doc_id", seed=7)} < 1000
    GROUP BY lang
    """,
)
def pipe_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample (operators/pipeline.sample_stratified,
    seed=7), aggregated per language stratum with an id checksum. The
    id-hash rule makes membership reproducible and per-stratum share
    converge to the target fraction with zero shuffles."""
    from usgs_lidar_spark.operators.pipeline import sample_stratified

    d = _t(spark, sf_dir, "documents")
    return (
        sample_stratified(d, "doc_id", fraction=0.1, seed=7)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(
    "pipe_contamination",
    oracle="""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 <> 0
    ), bench AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 97 = 0
    ), csh0 AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 8))) AS shingle
            FROM corpus)
    ), cap AS (
        SELECT CAST(ceil(0.04 * count(DISTINCT doc_id)) AS BIGINT) AS max_df
        FROM csh0
    ), freq AS (
        SELECT shingle FROM csh0, cap
        GROUP BY shingle, max_df HAVING count(*) <= max_df
    ), csh AS (
        SELECT csh0.doc_id, csh0.shingle FROM csh0 JOIN freq USING (shingle)
    ), bsh AS (
        SELECT DISTINCT shingle FROM (
            SELECT unnest(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 8))) AS shingle
            FROM bench)
    ), sizes AS (
        SELECT doc_id, count(*) AS n_shingles FROM csh GROUP BY doc_id
    ), hits AS (
        SELECT csh.doc_id, count(*) AS n_hit
        FROM csh JOIN bsh USING (shingle) GROUP BY csh.doc_id
    )
    SELECT h.doc_id, s.n_shingles, h.n_hit,
           CAST(h.n_hit AS DOUBLE) / s.n_shingles AS hit_frac
    FROM hits h JOIN sizes s USING (doc_id)
    WHERE CAST(h.n_hit AS DOUBLE) / s.n_shingles >= 0.2
    """,
)
def pipe_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan (operators/pipeline.contaminated_docs):
    every 97th document plays the held-out eval set; corpus documents
    sharing >=20% of their df-capped char-8 shingles with it are flagged.
    One shingle equi-join (tiny benchmark side -> AQE broadcast), bounded
    aggregates — the decontamination pass of an LLM data pipeline.

    The df cap is the SCALE-STABLE fractional form (max_df_frac=0.04:
    drop shingles in >4% of shingle-bearing corpus docs —
    ceil(0.04 * 494) = 20 at sf0.01, identical to the old absolute cap
    here but invariant in meaning as the corpus grows; SCALE.md measured
    the absolute max_df=20 silently cutting flagged docs 1194 -> 501 at
    10x corpus). The fraction resolves with ZERO extra corpus passes:
    the distinct-pairs frame is checkpoint-pinned, the denominator is a
    count(distinct doc_id) rider over the pin, and the df-cap window
    reads the same pin (r8 spent a second column-pruned corpus scan
    here). The absolute form stays available and unit-tested."""
    from usgs_lidar_spark.operators.pipeline import contaminated_docs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contaminated_docs(
        corpus, bench, "text", "doc_id", k=8, max_df=None,
        max_df_frac=0.04, min_frac=0.2,
    ).select("doc_id", "n_shingles", "n_hit", "hit_frac")


@query(
    "pipe_contamination_fuzzy",
    oracle="""
    WITH bench AS (
        SELECT doc_id AS bench_id, text FROM documents WHERE doc_id % 11 = 0
    ), corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 11 <> 0
    ), c_sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 8))) AS shingle
            FROM corpus)
    ), b_sh AS (
        SELECT DISTINCT bench_id, shingle FROM (
            SELECT bench_id,
                   unnest(list_transform(range(1, greatest(length(text) - 7, 0) + 1),
                          i -> substr(text, CAST(i AS INTEGER), 8))) AS shingle
            FROM bench)
    ), sizes_c AS (
        SELECT doc_id, count(*) AS n_a FROM c_sh GROUP BY doc_id
    ), sizes_b AS (
        SELECT bench_id, count(*) AS n_b FROM b_sh GROUP BY bench_id
    ), inter AS (
        SELECT c.doc_id, b.bench_id, count(*) AS n_inter
        FROM c_sh c JOIN b_sh b ON c.shingle = b.shingle
        GROUP BY 1, 2
    )
    SELECT doc_id, bench_id,
           CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) AS jaccard
    FROM inter JOIN sizes_c USING (doc_id) JOIN sizes_b USING (bench_id)
    WHERE CAST(n_inter AS DOUBLE) / (n_a + n_b - n_inter) >= 0.6
    """,
)
def pipe_contamination_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY benchmark decontamination (round 16 —
    `operators/dedup.minhash_decon_pairs`): every 11th document plays
    the eval suite; corpus documents NEAR-duplicating one (exact char-8
    shingle Jaccard >= 0.6) are flagged with the benchmark doc they
    leak. The middle rung of the decon ladder: `pipe_contamination`
    catches verbatim shared n-grams, `pipe_semantic_decon_hotbench`
    catches paraphrase by embedding cosine — this catches the
    lightly-edited near-verbatim leak (reformatted whitespace, a
    dropped sentence) that slips between them.

    Plan: MinHash-band BOTH sides with `dedup_minhash_lsh`'s exact
    construction (64 perms, 32 bands x 2 rows), equi-join corpus bands
    x broadcast benchmark bands — linear in corpus, never a self-join
    — then exact-Jaccard verify restricted to candidates. The oracle
    is the exact cross-set Jaccard join: the band-miss probability for
    J >= 0.6 is (1-0.36)^32 ~ 6e-7 and verification removes all false
    positives, so LSH output == exact output on this data."""
    from usgs_lidar_spark.operators.dedup import minhash_decon_pairs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 11 == 0)
    corpus = d.filter(F.col("doc_id") % 11 != 0)
    return minhash_decon_pairs(
        corpus, bench, "text", "doc_id",
        k=8, num_perm=64, bands=32, threshold=0.6,
    ).select("doc_id", "bench_id", "jaccard")


@query(
    "pipe_pack_sequences",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
        FROM documents
    ), packed AS (
        SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_start,
               CAST(sum(n_tokens) OVER w AS BIGINT) AS token_end
        FROM toks
        WINDOW w AS (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT doc_id, lang, n_tokens, token_start,
           CAST(floor(token_start / 2048.0) AS BIGINT) AS pack_id,
           token_start % 2048 AS pack_offset,
           token_end > (floor(token_start / 2048.0) + 1) * 2048 AS split_across
    FROM packed
    """,
)
def pipe_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing (operators/pipeline.pack_sequences):
    per-language document streams concatenated into 2048-token packs,
    boundary-straddling docs flagged split_across — the pretraining
    loader's packing pass as one window over one shuffle."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return pack_sequences(
        d, "doc_id", token_count("text"), budget=2048, stream_col="lang"
    ).select(
        "doc_id", "lang", "n_tokens", "token_start", "pack_id",
        "pack_offset", "split_across",
    )


def _LEHMER_STREAM(id_expr: str, n_streams: int, seed: int = 0) -> str:
    """SQL twin of pack_sequences' default stream derivation:
    portable_hash_long(id, seed) % n_streams (full-range Lehmer, no
    10k bucket fold)."""
    x = f"((((({id_expr}) + {1 + seed}) % 2147483647) + 2147483647) % 2147483647)"
    for _ in range(2):
        x = f"(({x}) * 48271) % 2147483647"
    return f"(({x}) % {n_streams})"


@query(
    "pipe_pack_streams",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
               {_LEHMER_STREAM("doc_id", 8)} AS pack_stream
        FROM documents
    ), packed AS (
        SELECT doc_id, pack_stream, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_start,
               CAST(sum(n_tokens) OVER w AS BIGINT) AS token_end
        FROM toks
        WINDOW w AS (PARTITION BY pack_stream ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT doc_id, pack_stream, n_tokens, token_start,
           CAST(floor(token_start / 1024.0) AS BIGINT) AS pack_id,
           token_start % 1024 AS pack_offset,
           token_end > (floor(token_start / 1024.0) + 1) * 1024 AS split_across
    FROM packed
    """,
)
def pipe_pack_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pack_sequences' scale-safe DEFAULT: no caller stream key, so docs
    route into n_streams deterministic Lehmer-hash bucket streams
    (engine-portable — the oracle reproduces stream, offset, and split
    flags exactly) and each stream packs independently under one
    per-stream running-sum window. The pre-r6 global-window default was
    a single-task sort; this is what replaced it (VERDICT r5 item 5)."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pack_sequences(
        d, "doc_id", token_count("text"), budget=1024, n_streams=8
    ).select(
        "doc_id", "pack_stream", "n_tokens", "token_start", "pack_id",
        "pack_offset", "split_across",
    )


@query(
    "pipe_pack_stats",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
               {_LEHMER_STREAM("doc_id", 8)} AS pack_stream
        FROM documents
    ), packed AS (
        SELECT doc_id, pack_stream, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_start,
               CAST(sum(n_tokens) OVER w AS BIGINT) AS token_end
        FROM toks
        WINDOW w AS (PARTITION BY pack_stream ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), rows_ AS (
        SELECT doc_id, pack_stream, n_tokens,
               CAST(floor(token_start / 1024.0) AS BIGINT) AS pack_id,
               token_end > (floor(token_start / 1024.0) + 1) * 1024
                   AS split_across
        FROM packed
    )
    SELECT pack_stream, pack_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS tokens_begun,
           CAST(sum(CASE WHEN split_across THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM rows_ GROUP BY pack_stream, pack_id
    """,
)
def pipe_pack_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard QA rollup over the packing pass: per (stream,
    pack), how many documents BEGIN there, their total tokens, how many
    straddle the boundary, and the id span — the census a loader team
    reads before training (empty-ish packs, split hotspots, id ordering
    sanity). One extra group-by on the packed frame's own keys — the
    pack window already shuffled on pack_stream, so the rollup is a
    cheap re-aggregation, and the output is bounded by total tokens /
    budget. Same parameters as `pipe_pack_streams` (budget=1024, 8
    Lehmer streams)."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import pack_sequences

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    packed = pack_sequences(
        d, "doc_id", token_count("text"), budget=1024, n_streams=8
    )
    return packed.groupBy("pack_stream", "pack_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_begun"),
        F.sum(F.col("split_across").cast("long")).cast("long").alias("n_split"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


# =====================================================================
# Product quantization (north-star extension): compressed-domain ANN
# =====================================================================

def _sqd4(a: str, b: str) -> str:
    """DuckDB rounded squared-L2 expression between two list operands."""
    return f"""ROUND(
          list_sum(list_transform(list_zip({a}, {b}),
                   p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                        * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 4)"""


@query(
    "sim_pq_adc_topk",
    oracle=f"""
    WITH js AS (
        SELECT CAST(unnest(range(4)) AS INTEGER) AS j
    ), cb AS (
        SELECT js.j, CAST(s.vec_id AS INTEGER) AS code,
               list_slice(s.embedding, js.j * 16 + 1, (js.j + 1) * 16) AS cvec
        FROM embeddings s CROSS JOIN js WHERE s.vec_id < 8
    ), enc AS (
        SELECT vec_id AS neighbor_id, j, code FROM (
            SELECT e.vec_id, cb.j, cb.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, cb.j
                       ORDER BY {_sqd4("list_slice(e.embedding, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} ASC,
                                cb.code ASC) AS rn
            FROM embeddings e CROSS JOIN cb)
        WHERE rn = 1
    ), lut AS (
        SELECT q.vec_id AS query_id, cb.j, cb.code,
               CAST(ROUND({_sqd4("list_slice(q.embedding, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} * 10000) AS BIGINT)
                   AS d_scaled
        FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 5
    ), scored AS (
        SELECT l.query_id, e.neighbor_id,
               CAST(sum(l.d_scaled) AS BIGINT) AS adc_scaled
        FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.code
        WHERE e.neighbor_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_scaled / 10000.0 AS adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_scaled, neighbor_id) AS BIGINT)
               AS rank
    FROM scored QUALIFY rank <= 5
    """,
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: 4 subspaces x 16 dims, 8 codes per
    subspace seeded from the first corpus vectors (deterministic quantizer,
    same trick as sim_topk_ivf), asymmetric-distance top-5 per query.
    The corpus is consumed map-side (expression argmin encode, no shuffle
    of vectors); per-query LUTs broadcast; ADC sums ride scaled BIGINTs so
    the hash matches the oracle exactly. 64 floats -> 4 bytes per vector:
    the compressed-domain scan that makes 100 TB of embeddings rankable
    from memory."""
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # empty-corpus placeholder (see the cents comment in sim_topk_ivf);
    # dim 4 keeps pq_codebooks_from_rows' n_sub=4 divisibility contract
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ] or [[0.0] * 4]
    cbs = pq_codebooks_from_rows(seeds, n_sub=4)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(
        emb, queries_df, cbs, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5,
    )


@query(
    "sim_pq_recall",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        WHERE vec_id < 5
    ), exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, c.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY {_cos4("c.embedding", "q.qv")} DESC, c.vec_id)
                       AS rank
            FROM embeddings c, q WHERE c.vec_id <> q.query_id
        ) WHERE rank <= 5
    ), js AS (
        SELECT CAST(unnest(range(4)) AS INTEGER) AS j
    ), cb AS (
        SELECT js.j, CAST(s.vec_id AS INTEGER) AS code,
               list_slice(s.embedding, js.j * 16 + 1, (js.j + 1) * 16) AS cvec
        FROM embeddings s CROSS JOIN js WHERE s.vec_id < 8
    ), enc AS (
        SELECT vec_id AS neighbor_id, j, code FROM (
            SELECT e.vec_id, cb.j, cb.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, cb.j
                       ORDER BY {_sqd4("list_slice(e.embedding, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} ASC,
                                cb.code ASC) AS rn
            FROM embeddings e CROSS JOIN cb)
        WHERE rn = 1
    ), lut AS (
        SELECT q.query_id, cb.j, cb.code,
               CAST(ROUND({_sqd4("list_slice(q.qv, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} * 10000) AS BIGINT)
                   AS d_scaled
        FROM q CROSS JOIN cb
    ), pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT l.query_id, e.neighbor_id,
                   row_number() OVER (
                       PARTITION BY l.query_id
                       ORDER BY sum(l.d_scaled), e.neighbor_id) AS rank
            FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.code
            WHERE e.neighbor_id <> l.query_id
            GROUP BY l.query_id, e.neighbor_id
        ) WHERE rank <= 5
    ), nex AS (
        SELECT query_id, count(*) AS n_exact FROM exact GROUP BY query_id
    ), hit AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM exact e JOIN pq p
          ON e.query_id = p.query_id AND e.neighbor_id = p.neighbor_id
        GROUP BY e.query_id
    )
    SELECT nex.query_id,
           CAST(COALESCE(hit.n_hit, 0) AS BIGINT) AS n_hit,
           CAST(nex.n_exact AS BIGINT) AS n_exact,
           CAST(COALESCE(hit.n_hit, 0) AS DOUBLE) / nex.n_exact AS recall
    FROM nex LEFT JOIN hit USING (query_id)
    """,
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the product-quantization ADC search against the exact
    cosine baseline — the accuracy guard for the compressed-domain path
    (PQ ranks by quantized L2, exact ranks by cosine; on these unit-scale
    synthetic embeddings the orderings line up well enough for a stable
    recall signal)."""
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
        pq_adc_topk,
        pq_codebooks_from_rows,
        recall_at_k,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5,
    )
    # empty-corpus placeholder (see the cents comment in sim_topk_ivf);
    # dim 4 keeps pq_codebooks_from_rows' n_sub=4 divisibility contract
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ] or [[0.0] * 4]
    pq = pq_adc_topk(
        emb, queries_df, pq_codebooks_from_rows(seeds, n_sub=4),
        id_col="vec_id", vec_col="embedding", query_id_col="query_id", k=5,
    )
    return recall_at_k(pq, exact)


@query(
    "sim_topk_ivf_pq",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8
    ), csim AS (
        SELECT e.vec_id, e.embedding, c.cid,
               {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim) WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, cid FROM (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim WHERE vec_id < 5) WHERE rn <= 2
    ), js AS (
        SELECT CAST(unnest(range(4)) AS INTEGER) AS j
    ), cb AS (
        SELECT js.j, CAST(s.vec_id AS INTEGER) AS code,
               list_slice(s.embedding, js.j * 16 + 1, (js.j + 1) * 16) AS cvec
        FROM embeddings s CROSS JOIN js WHERE s.vec_id < 8
    ), enc AS (
        SELECT vec_id AS neighbor_id, j, code FROM (
            SELECT e.vec_id, cb.j, cb.code,
                   row_number() OVER (
                       PARTITION BY e.vec_id, cb.j
                       ORDER BY {_sqd4("list_slice(e.embedding, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} ASC,
                                cb.code ASC) AS rn
            FROM embeddings e CROSS JOIN cb)
        WHERE rn = 1
    ), lut AS (
        SELECT q.vec_id AS query_id, cb.j, cb.code,
               CAST(ROUND({_sqd4("list_slice(q.embedding, cb.j * 16 + 1, (cb.j + 1) * 16)", "cb.cvec")} * 10000) AS BIGINT)
                   AS d_scaled
        FROM embeddings q CROSS JOIN cb WHERE q.vec_id < 5
    ), cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM assigned a JOIN probes p ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    ), scored AS (
        SELECT c.query_id, c.neighbor_id,
               CAST(sum(l.d_scaled) AS BIGINT) AS adc_scaled
        FROM cand c
        JOIN enc e ON e.neighbor_id = c.neighbor_id
        JOIN lut l ON l.query_id = c.query_id AND l.j = e.j AND l.code = e.code
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, adc_scaled / 10000.0 AS adc_dist,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_scaled, neighbor_id) AS BIGINT)
               AS rank
    FROM scored QUALIFY rank <= 5
    """,
)
def sim_topk_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN: the coarse quantizer (8 cells, n_probe=2 — same seeded
    construction as sim_topk_ivf) restricts candidates, and ranking inside
    the probed cells runs in the compressed domain (PQ asymmetric
    distance, same codebooks as sim_pq_adc_topk). Full vectors are read
    exactly once, at encode time; the canonical billion-scale layout."""
    from usgs_lidar_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks_from_rows,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # empty-corpus placeholder (see the cents comment in sim_topk_ivf);
    # dim 4 keeps pq_codebooks_from_rows' n_sub=4 divisibility contract
    seeds = [
        [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ] or [[0.0] * 4]
    cents = [(i, v) for i, v in enumerate(seeds)]
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(
        emb, queries_df, pq_codebooks_from_rows(seeds, n_sub=4),
        id_col="vec_id", vec_col="embedding", query_id_col="query_id",
        k=5, centroids=cents, n_probe=2,
    )


def _flow_oracle() -> str:
    """Recursive-CTE replay of D8 flow accumulation: edges = steepest
    rounded drop (ties by stencil preference index, exactly the struct-max
    order in operators/terrain.d8_flow_directions); acc(c) = number of
    cells whose flow path reaches c (including itself)."""
    from usgs_lidar_spark.operators.terrain import D8_OFFSETS

    cands = []
    for idx, (dx, dy) in enumerate(D8_OFFSETS):
        s = _slot_name(dx, dy)
        dist = 1.4142135623730951 if dx != 0 and dy != 0 else 1.0
        cands.append(
            f"SELECT ix, iy, {dx} AS dx, {dy} AS dy, {idx} AS idx,\n"
            f"       ROUND((v_00 - {s}) / {dist!r}, 9) AS drp\n"
            f"FROM realc WHERE {s} IS NOT NULL"
        )
    cand_union = "\n        UNION ALL\n        ".join(cands)
    return f"""
    WITH RECURSIVE {_grid_cte()},
    cand AS (
        {cand_union}
    ), edges AS (
        SELECT ix, iy, ix + dx AS tix, iy + dy AS tiy FROM (
            SELECT ix, iy, dx, dy, drp,
                   row_number() OVER (PARTITION BY ix, iy
                                      ORDER BY drp DESC, idx ASC) AS rn
            FROM cand) WHERE rn = 1 AND drp > 0
    ), walk(sx, sy, cx, cy) AS (
        SELECT ix, iy, ix, iy FROM cells
        UNION
        SELECT w.sx, w.sy, e.tix, e.tiy
        FROM walk w JOIN edges e ON e.ix = w.cx AND e.iy = w.cy
    )
    SELECT cx AS ix, cy AS iy, count(*) AS acc
    FROM walk GROUP BY 1, 2
    """


@query("z3_flow_accumulation", oracle=None)
def z3_flow_accumulation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z3: full iterative D8 flow accumulation over the voxel grid — the
    upstream-area computation the TWI one-hop proxy (z1) approximates,
    closing SCALE.md's 'iterative flow accumulation' item. Fixpoint
    rounds = longest drainage path; the oracle replays it as a recursive
    CTE (reachability count over the flow forest)."""
    from usgs_lidar_spark.operators.terrain import flow_accumulation

    return flow_accumulation(_price_qty_grid(spark, sf_dir))


ORACLE["z3_flow_accumulation"] = _flow_oracle()


# =====================================================================
# Classic star-schema analytics, round 4: q6 / q4-late / q14 shapes
# =====================================================================


@query(
    "q6_forecast_revenue",
    oracle=f"""
    SELECT {DEC_SUM("l_extendedprice * l_discount", 4)} AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE year(l_shipdate) = 1996
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-pass filtered aggregate, the classic scan-
    dominated query — predicates push to parquet, one partial+final agg,
    revenue summed as scaled BIGINTs (price*discount carries 4 decimals)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.year("l_shipdate") == 1996)
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_discount"), 4).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q4_late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q4_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of orders with at least one
    late-shipped line — a correlated EXISTS realized as a left-semi hash
    join on orderkey with the lateness predicate as a join condition
    (no distinct, no double-count)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"] > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "q14_promo_revenue",
    oracle=f"""
    SELECT
        100.0 * ({DEC_SUM("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4)})
              / ({DEC_SUM("l_extendedprice * (1 - l_discount)", 4)}) AS promo_pct,
        count(*) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE year(l_shipdate) = 1997
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share — broadcast dim join plus
    a conditional/total aggregate pair; both sums ride scaled BIGINTs so
    the ratio is bit-deterministic at any partitioning."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1997)
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    disc = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    return j.agg(
        (
            F.lit(100.0) * dec_sum(promo, 4) / dec_sum(disc, 4)
        ).alias("promo_pct"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey AS partkey, l_suppkey AS suppkey,
               MIN(l_extendedprice) AS cost
        FROM lineitem GROUP BY 1, 2
    ), rc AS (
        SELECT c.partkey, c.suppkey, c.cost, s.s_name, n.n_name
        FROM cost c
        JOIN supplier s ON s.s_suppkey = c.suppkey
        JOIN nation n   ON n.n_nationkey = s.s_nationkey
        JOIN region r   ON r.r_regionkey = n.n_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT p.p_partkey, rc.suppkey AS s_suppkey, rc.s_name, rc.n_name,
           rc.cost AS min_cost
    FROM part p JOIN rc ON rc.partkey = p.p_partkey
    WHERE p.p_size <= 5
      AND rc.cost = (SELECT MIN(rc2.cost) FROM rc rc2
                     WHERE rc2.partkey = rc.partkey)
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the EUROPE supplier(s) whose
    offer cost equals the per-part minimum — the classic correlated
    MIN-subquery. No partsupp table in this schema, so the part-supplier
    cost relation is derived as MIN(l_extendedprice) per (part, supplier)
    from lineitem (reference has no supplier dimension at all; this is
    the engine-surface form of its per-group-argmin idiom,
    /root/reference/scripts/usgs_lidar.py catalog min-year selection).

    Spark realization: both restrictions land on GROUP KEYS (partkey,
    suppkey), so they push BELOW the aggregate — lineitem is semi-joined
    against the broadcast size-filtered part set and the broadcast
    EUROPE supplier set before anything shuffles, shrinking the
    aggregate's input (and its shuffle) by the filters' combined
    selectivity (~10x here). The correlated subquery is then a per-part
    MIN window over the small restricted cost relation — one more
    (tiny) shuffle keyed by partkey replaces the rejoin a naive
    translation would add; lineitem is the only big table and is
    touched once.
    """
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    supp = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "n_name")
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey")
    )
    restricted = li.join(
        F.broadcast(p.select("p_partkey")),
        li["l_partkey"] == F.col("p_partkey"),
        "left_semi",
    ).join(
        F.broadcast(supp.select("s_suppkey")),
        li["l_suppkey"] == F.col("s_suppkey"),
        "left_semi",
    )
    cost = restricted.groupBy(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).agg(F.min("l_extendedprice").alias("cost"))
    w = Window.partitionBy("partkey")
    return (
        cost.withColumn("__min_cost", F.min("cost").over(w))
        .filter(F.col("cost") == F.col("__min_cost"))
        .join(F.broadcast(supp), F.col("suppkey") == supp["s_suppkey"])
        .select(
            F.col("partkey").alias("p_partkey"),
            F.col("suppkey").alias("s_suppkey"),
            "s_name",
            "n_name",
            F.col("cost").alias("min_cost"),
        )
    )


@query(
    "q11_part_value_share",
    oracle=f"""
    WITH val AS (
        SELECT l_partkey AS partkey,
               {DEC_SUM("l_extendedprice * l_quantity", 4)} AS part_value
        FROM lineitem GROUP BY 1
    ), tot AS (SELECT SUM(part_value) AS total_value FROM val)
    SELECT v.partkey, v.part_value,
           v.part_value / t.total_value AS share
    FROM val v CROSS JOIN tot t
    WHERE v.part_value > 0.0008 * t.total_value
    """,
)
def q11_part_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value vs a fraction of the
    GLOBAL total — group aggregate compared against a global aggregate.

    Spark realization: the global total is a 1-row aggregate cross-joined
    back with an explicit broadcast (the a1_global_minmax scalar pattern)
    — no collect. The per-part aggregate feeds BOTH the total and the
    output, so it is localCheckpoint-materialized (part-level cardinality
    — tiny next to lineitem): without that, Catalyst plans two full
    lineitem scans (exchange reuse did not fire on this shape, verified
    on the executed plan), and the alternative — an unpartitioned window
    for the total — funnels every part row through one partition. One
    lineitem scan, then two cheap aggregates over part-level rows. Value
    sums ride scaled BIGINTs (dec_sum) so the share division and the
    threshold comparison are bit-deterministic at any partitioning.
    """
    li = _t(spark, sf_dir, "lineitem")
    val = (
        li.groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            dec_sum(F.col("l_extendedprice") * F.col("l_quantity"), 4).alias(
                "part_value"
            )
        )
        .localCheckpoint(eager=False)
    )
    tot = val.agg(F.sum("part_value").alias("total_value"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("part_value") > 0.0008 * F.col("total_value"))
        .select(
            "partkey",
            "part_value",
            (F.col("part_value") / F.col("total_value")).alias("share"),
        )
    )


@query(
    "q16_supplier_count",
    oracle="""
    WITH ps AS (
        SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 16, 25, 36, 49)
      AND ps.suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY 1, 2, 3
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, type, size)
    with a NOT-IN supplier exclusion. The NOT IN realizes as a broadcast
    LEFT ANTI join against the (tiny) excluded-supplier set — correct
    here because s_suppkey is non-null; a nullable NOT-IN column would
    need the null-aware variant. The part predicate lives in a broadcast
    dim join; COUNT(DISTINCT) runs on the already-distinct (part,
    supplier) pairs, a two-phase hash aggregate with map-side partials.
    """
    li = _t(spark, sf_dir, "lineitem")
    ps = (
        li.select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .distinct()
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("suppkey"))
    )
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        ps.join(F.broadcast(bad), "suppkey", "left_anti")
        .join(F.broadcast(p), ps["partkey"] == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH pq AS (
        SELECT l_partkey AS partkey,
               SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq,
               count(*) AS c
        FROM lineitem GROUP BY 1
    )
    SELECT {DEC_SUM("l.l_extendedprice", 2)} / 7.0 AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq    ON pq.partkey   = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND CAST(ROUND(l.l_quantity * 100) AS BIGINT) * 5 * pq.c < pq.sq
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lines under 20% of their part's
    average quantity — the correlated AVG subquery. The per-part average
    is a groupBy over lineitem re-joined on partkey (2-phase hash agg,
    then an equi-join AQE broadcasts when the part-stats side is small);
    the 20%-of-average comparison is EXACT integer arithmetic
    (qty_scaled * 5 * count < sum_scaled), so no float threshold can
    disagree between engines at any partitioning."""
    li = _t(spark, sf_dir, "lineitem")
    pq = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sq"),
        F.count(F.lit(1)).alias("c"),
    )
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    qs = F.round(F.col("l_quantity") * 100).cast("long")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(pq, li["l_partkey"] == pq["partkey"])
        .filter(qs * 5 * F.col("c") < F.col("sq"))
        .agg(
            (dec_sum("l_extendedprice", 2) / 7.0).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey,
               {DEC_SUM("l_quantity", 2)} AS sum_qty
        FROM lineitem GROUP BY 1
        HAVING SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) > 25000
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice, big.sum_qty
    FROM big
    JOIN orders o   ON o.o_orderkey = big.l_orderkey
    JOIN customer c ON c.c_custkey  = o.o_custkey
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest-volume orders — a
    HAVING-filtered aggregate driving a fact-to-fact join. The per-order
    quantity sum shuffles lineitem by orderkey once; the HAVING filter
    shrinks that side to the big orders BEFORE the orders join (AQE
    broadcasts the survivors), and the customer dim joins broadcast.
    Quantity sums ride scaled BIGINTs, and the HAVING threshold compares
    the scaled integer itself — bit-deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("__sq")
        )
        .filter(F.col("__sq") > 25000)
        .select(
            "l_orderkey", (F.col("__sq") / F.lit(100.0)).alias("sum_qty")
        )
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate",
            "o_totalprice", "sum_qty",
        )
    )


@query(
    "asof_salted_purchase_before_click",
    oracle="""
    WITH e AS (
        SELECT event_id, date_trunc('microseconds', ts) AS ts,
               user_id, event_type, value
        FROM events
    ), c AS (SELECT * FROM e WHERE event_type = 'click'),
       p AS (SELECT * FROM e WHERE event_type = 'purchase')
    SELECT c.event_id AS click_id, c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
           p.value AS asof_value
    FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_salted_purchase_before_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key (time-bucket-salted) as-of over the same click/purchase
    semantics as asof_purchase_before_click — one hour buckets, identical
    oracle, so the skew path carries the same hard signal as the plain
    path (operators/asof.py::asof_join_salted)."""
    from usgs_lidar_spark.operators.asof import asof_join_salted

    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    joined = asof_join_salted(
        clicks,
        purchases,
        partition_keys=["user_id"],
        ts_col="ts",
        payload_cols=["value"],
        bucket_width_seconds=3600,
        tie_break="event_id",
    )
    return joined.select(
        "click_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("click_ts"),
        F.date_format("asof_ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("asof_ts"),
        F.col("asof_value"),
    )


def _fp_sql(col: str, prefix: int = 64, mod: int = 1000000007) -> str:
    """DuckDB twin of functions/textstats.fingerprint over any column."""
    return f"""CASE WHEN length({col}) < 1 THEN CAST(0 AS BIGINT) ELSE
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                 list_transform(range(1, least(length({col}), {prefix}) + 1),
                   i -> CAST(ord(substr({col}, CAST(i AS INTEGER), 1)) AS BIGINT))),
               (acc, x) -> (acc * 31 + x) % {mod})
           END"""


@query(
    "pipe_split_by_source",
    oracle=f"""
    WITH b AS (
        SELECT doc_id, source,
               {_LEHMER_BUCKET(_fp_sql("source"))} AS bucket
        FROM documents
    ), s AS (
        SELECT source, doc_id,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM b
    )
    SELECT split, count(DISTINCT source) AS n_sources, count(*) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM s GROUP BY split
    """,
)
def pipe_split_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe group split (operators/pipeline.split_by_group): the
    whole `source` domain moves together, so origin-correlated near-dups
    cannot straddle train/test. Aggregated per split with a doc-id
    checksum pinning exact membership; sources-per-split counts make the
    grouping visible (each source appears under exactly one split)."""
    from usgs_lidar_spark.operators.pipeline import split_by_group

    d = _t(spark, sf_dir, "documents")
    return (
        split_by_group(d, "source")
        .groupBy("split")
        .agg(
            F.countDistinct("source").alias("n_sources"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(
    "sim_topk_lsh_multiprobe2",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, embedding, {_LSH_BUCKET_SQL} AS bucket FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv, bucket
        FROM base WHERE vec_id < 5
    ), sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_cos4("c.embedding", "q.qv")} AS sim
        FROM base c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 2
                          AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_lsh_multiprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-2 multi-probe LSH top-k: the widest rung of the probe
    ladder (home + 1-bit + 2-bit flip buckets = 37/256 of the corpus per
    query). The oracle joins on bit_count(xor) <= 2 — exactly the probe
    set."""
    from usgs_lidar_spark.operators.similarity import cosine_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_topk_lsh(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_bits=8, hamming=2,
    )


@query(
    "pipe_end_to_end",
    oracle=f"""
    WITH keeps AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
    ), d AS (
        SELECT doc_id, text FROM documents JOIN keeps USING (doc_id)
    ), s AS (
        SELECT doc_id, text,
               CASE WHEN {_LEHMER_BUCKET("doc_id")} < 9000 THEN 'train'
                    WHEN {_LEHMER_BUCKET("doc_id")} < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM d
    ), toks AS (
        SELECT doc_id, split,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
        FROM s
    ), packed AS (
        SELECT doc_id, split, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_start
        FROM toks
        WINDOW w AS (PARTITION BY split ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(floor(token_start / 2048.0)) + 1 AS BIGINT) AS n_packs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM packed GROUP BY split
    """,
)
def pipe_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data pipeline composed end to end: exact dedup keeps
    one representative per text, the survivors split 90/5/5 by portable
    hash, and each split's stream packs into 2048-token sequences — three
    operators chained exactly as a corpus build would run them, verified
    as one oracle (per-split doc/token/pack counts + id checksum)."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.dedup import exact_dedup
    from usgs_lidar_spark.operators.pipeline import pack_sequences, split_by_hash

    d = _t(spark, sf_dir, "documents")
    keeps = exact_dedup(d, "text", "doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = d.join(keeps, "doc_id").select("doc_id", "text")
    packed = pack_sequences(
        split_by_hash(survivors, "doc_id"),
        "doc_id",
        token_count("text"),
        budget=2048,
        stream_col="split",
    )
    return packed.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max(F.floor(F.col("token_start") / 2048.0)) + 1)
        .cast("long")
        .alias("n_packs"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "ts1_resample_gap_fill",
    oracle=f"""
    WITH e AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS b, value FROM events
    ), agg AS (
        SELECT event_type, b, count(*) AS n_events,
               {DEC_SUM("value")} AS value_sum
        FROM e GROUP BY 1, 2
    ), rng AS (
        SELECT event_type, min(b) AS b0, max(b) AS b1 FROM agg GROUP BY 1
    ), dense AS (
        SELECT event_type, unnest(range(b0, b1 + 1)) AS b FROM rng
    ), j AS (
        SELECT d.event_type, d.b, a.n_events, a.value_sum,
               a.value_sum IS NULL AS is_gap
        FROM dense d LEFT JOIN agg a USING (event_type, b)
    )
    SELECT event_type,
           strftime(make_timestamp(b * 3600000000), '%Y-%m-%d %H:%M:%S')
               AS bucket_start,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           last_value(value_sum IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS value_sum,
           is_gap
    FROM j
    """,
)
def ts1_resample_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TS1: hourly resample of the event stream per type, densified over
    each key's observed span with forward-filled value sums and zeroed
    counts on gap rows (operators/resample.py) — the regular-grid step
    between raw events and windowed model inputs. One aggregate shuffle,
    an output-proportional sequence() explode, one running window."""
    from usgs_lidar_spark.operators.resample import gap_fill, resample_events

    ev = _t(spark, sf_dir, "events")
    res = resample_events(
        ev,
        "ts",
        ["event_type"],
        {"n_events": F.count(F.lit(1)), "value_sum": dec_sum("value")},
        step_seconds=3600,
    )
    filled = gap_fill(res, ["event_type"], ["value_sum"], step_seconds=3600)
    return filled.select(
        "event_type",
        F.date_format("bucket_start", "yyyy-MM-dd HH:mm:ss").alias(
            "bucket_start"
        ),
        F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
        "value_sum",
        "is_gap",
    )


@query(
    "w2_range_rolling_sum",
    oracle=f"""
    SELECT event_id, user_id,
           strftime(date_trunc('microseconds', ts), '%Y-%m-%d %H:%M:%S.%f')
               AS ts_s,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
               / 100.0 AS value_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def w2_range_rolling_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: RANGE-framed rolling window — per user, the count and exact
    value sum of events in the trailing hour of EVENT TIME (a range frame
    over timestamps, not a row frame; the form w1 doesn't cover). Spark
    side orders by epoch seconds with rangeBetween(-3600, 0); scaled-long
    sums keep the rolling values hash-exact."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")).over(w)
            / F.lit(100.0)
        ).alias("value_last_hour"),
    )


@query(
    "w1_ntile_cume",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           cume_dist() OVER w AS cd,
           percent_rank() OVER w AS pr
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def w1_ntile_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 family completion: ntile / cume_dist / percent_rank per priority
    partition, ordered with a unique tie-break so every rank value is
    engine-deterministic. cume_dist and percent_rank are exact binary
    ratios of integers — hash-safe without rounding."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).alias("quartile"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
    )


@query(
    "a7_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid,
           count(*) AS n,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), (o_orderstatus), ())
    """,
)
def a7_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: explicit GROUPING SETS with grouping_id — the generalized
    rollup/cube form (all four set shapes in one pass, one shuffle).
    The gid column distinguishes a real NULL group key from a superset
    placeholder; money totals stay scaled BIGINTs."""
    o = _t(spark, sf_dir, "orders")
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid,
               count(*) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
        FROM {o}
        GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                                (o_orderpriority), (o_orderstatus), ())
        """,
        o=o,
    )


@query(
    "a8_ordered_listagg",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names,
           count(*) AS n
    FROM nation GROUP BY n_regionkey
    """,
)
def a8_ordered_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: deterministic list aggregation — names per region joined in
    SORTED order (collect_list alone is partition-order-nondeterministic;
    sort_array makes it engine-comparable, DuckDB's ORDER BY inside
    string_agg is the SQL twin)."""
    n = _t(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "z5_voxel_pyramid",
    oracle="""
    WITH mins AS (SELECT min(l_extendedprice) AS mp, min(l_quantity) AS mq
                  FROM lineitem),
    base AS (
        SELECT CAST(floor((l_extendedprice - mp) / 5000.0) AS BIGINT) AS ix,
               CAST(floor((l_quantity - mq) / 5.0) AS BIGINT) AS iy,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS sx,
               CAST(ROUND(l_quantity) AS BIGINT) AS sy
        FROM lineitem, mins
    ), lv AS (SELECT CAST(unnest([0, 1, 2]) AS BIGINT) AS level)
    SELECT lv.level,
           CAST(floor(ix / power(2, lv.level)) AS BIGINT) AS ix,
           CAST(floor(iy / power(2, lv.level)) AS BIGINT) AS iy,
           CAST(SUM(sx) AS DOUBLE) / (100.0 * count(*)) AS cx,
           CAST(SUM(sy) AS DOUBLE) / (1.0 * count(*)) AS cy,
           count(*) AS n_points
    FROM base CROSS JOIN lv
    GROUP BY 1, 2, 3
    """,
)
def z5_voxel_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z5: 3-level LOD voxel pyramid over the price/quantity grid — the
    EPT-octree-levels analog, built bottom-up (one raw scan + grid-sized
    merges). The oracle aggregates every level DIRECTLY from the raw rows;
    hash equality proves the hierarchical merge is exact, which only the
    scaled-integer-sum state makes possible."""
    from usgs_lidar_spark.operators.voxel import voxel_pyramid

    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice", "l_quantity")
    pyr = voxel_pyramid(
        li,
        axes=["l_extendedprice", "l_quantity"],
        resolutions=[5000.0, 5.0],
        levels=3,
        exact_decimals=[2, 0],
    )
    return pyr.select(
        "level",
        F.col("il_extendedprice").alias("ix"),
        F.col("il_quantity").alias("iy"),
        F.col("cl_extendedprice").alias("cx"),
        F.col("cl_quantity").alias("cy"),
        "n_points",
    )


@query(
    "pipe_sample_weighted",
    oracle=f"""
    SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM (
        SELECT doc_id, lang,
               least(greatest(CAST(n_chars AS DOUBLE) / 800.0, 0.0), 1.0) AS w
        FROM documents
    )
    WHERE {_LEHMER_BUCKET("doc_id", seed=3)} < w * 10000
    GROUP BY lang
    """,
)
def pipe_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted deterministic sampling: keep probability scales
    with document length (n_chars/800, clamped to 1) — longer documents
    always survive, short ones proportionally (operators/pipeline.
    sample_weighted). Aggregated per language with an id checksum."""
    from usgs_lidar_spark.operators.pipeline import sample_weighted

    d = _t(spark, sf_dir, "documents")
    w = F.col("n_chars").cast("double") / 800.0
    return (
        sample_weighted(d, "doc_id", w, seed=3)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("id_sum"),
        )
    )


@query(
    "pipe_token_quota",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS t
        FROM documents
    ), cum AS (
        SELECT doc_id, source, t,
               sum(t) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS c
        FROM toks
    )
    SELECT source, count(*) AS n_docs, CAST(max(c) AS BIGINT) AS tokens_used,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM cum WHERE c <= 20000 GROUP BY source
    """,
)
def pipe_token_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing quota (operators/pipeline.cap_tokens_per_group): each
    source contributes at most 20k tokens, documents admitted in id order
    until the cap — the mixing-control step that stops one domain from
    dominating a corpus. Per-source kept-doc counts, tokens used, and an
    id checksum pin exact membership."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import cap_tokens_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    kept = cap_tokens_per_group(
        d, "doc_id", token_count("text"), "source", max_tokens_per_group=20000
    )
    toks = token_count("text")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(toks).alias("tokens_used"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "pipe_global_shuffle",
    oracle="""
    WITH keyed AS (
        SELECT doc_id,
               ((((doc_id % 2147483647) + 1) % 2147483647)
                 * 48271 % 2147483647) * 48271 % 2147483647 AS k
        FROM documents
    )
    SELECT doc_id, CAST(k % 8 AS INTEGER) AS shard,
           CAST(row_number() OVER (PARTITION BY k % 8 ORDER BY k, doc_id)
                AS BIGINT) AS shard_pos
    FROM keyed
    """,
)
def pipe_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle into 8 shards
    (operators/pipeline.global_shuffle): every document gets a
    reproducible pseudo-random shard and in-shard position — no
    orderBy(rand()), no global sort; shards order independently. The
    oracle replays the Lehmer key chain in plain 64-bit SQL arithmetic,
    so every document's exact (shard, position) must agree."""
    from usgs_lidar_spark.operators.pipeline import global_shuffle

    d = _t(spark, sf_dir, "documents").select("doc_id")
    return global_shuffle(d, "doc_id", n_shards=8).select(
        "doc_id", "shard", "shard_pos"
    )


@query(
    "dedup_exact_incremental",
    oracle="""
    WITH seen AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ), batch AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id >= 250
    )
    SELECT CAST(min(doc_id) AS BIGINT) AS keep_id,
           count(*) AS n_copies
    FROM batch ANTI JOIN seen USING (h)
    GROUP BY h
    """,
)
def dedup_exact_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest exact dedup
    (operators/pipeline.exact_dedup_incremental): the first 250 documents
    are the already-ingested corpus (represented ONLY by md5 digests —
    the historical text never moves); the rest arrive as a new batch,
    drop anything already seen, and collapse within-batch duplicates to
    (keep_id, n_copies). md5, not xxhash64, so the whole operator is
    SQL-reproducible."""
    from usgs_lidar_spark.operators.pipeline import exact_dedup_incremental

    d = _t(spark, sf_dir, "documents")
    return exact_dedup_incremental(
        d.filter(F.col("doc_id") >= 250), d.filter(F.col("doc_id") < 250)
    )


@query(
    "q20_dominant_part_suppliers",
    oracle="""
    WITH ps AS (
        SELECT l_suppkey, l_partkey,
               SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS sq
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
          AND year(l_shipdate) = 1997
        GROUP BY 1, 2
    ), shares AS (
        SELECT l_suppkey, sq,
               SUM(sq) OVER (PARTITION BY l_partkey) AS tq
        FROM ps
    )
    SELECT s.s_suppkey, s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
        SELECT l_suppkey FROM shares WHERE sq * 5 > tq
    )
    """,
)
def q20_dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: the nested-IN pipeline — suppliers who ship more
    than 20% of some PROMO part's 1997 volume. Part set membership is a
    broadcast semi-join (the inner IN), the per-(part, supplier) volumes
    aggregate once, the part total is a window over that aggregate (NOT a
    second lineitem scan), and the dominance test is exact integer
    arithmetic (sq * 5 > tq). The qualifying-supplier set feeds a
    broadcast left-semi join against the supplier dim (the outer IN).
    One lineitem scan, two shuffles (agg + window), everything else
    broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    base = li.filter(F.year("l_shipdate") == 1997).join(
        F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi"
    )
    ps = base.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("sq")
    )
    w = Window.partitionBy("l_partkey")
    dominant = (
        ps.withColumn("tq", F.sum("sq").over(w))
        .filter(F.col("sq") * 5 > F.col("tq"))
        .select("l_suppkey")
        .distinct()
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(dominant), s["s_suppkey"] == dominant["l_suppkey"], "left_semi")
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_suppkey", "s_name", "n_name")
    )


@query(
    "pipe_end_to_end_v2",
    oracle=r"""
    WITH seen AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 250
    ), batch AS (
        SELECT doc_id, text, md5(text) AS h FROM documents WHERE doc_id >= 250
    ), fresh AS (
        SELECT min(doc_id) AS doc_id
        FROM batch ANTI JOIN seen USING (h)
        GROUP BY h
    ), d AS (
        SELECT b.doc_id, b.text,
               ((((b.doc_id % 2147483647) + 1) % 2147483647)
                 * 48271 % 2147483647) * 48271 % 2147483647 AS k
        FROM batch b JOIN fresh USING (doc_id)
    ), sharded AS (
        SELECT doc_id, text, CAST(k % 4 AS INTEGER) AS shard,
               row_number() OVER (PARTITION BY k % 4 ORDER BY k, doc_id)
                   AS shard_pos
        FROM d
    ), toks AS (
        SELECT doc_id, shard, shard_pos,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END
                   AS n_tokens
        FROM sharded
    ), packed AS (
        SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
               CAST(sum(n_tokens) OVER w - n_tokens AS BIGINT) AS token_start
        FROM toks
        WINDOW w AS (PARTITION BY shard ORDER BY shard_pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT shard, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(max(floor(token_start / 512.0)) + 1 AS BIGINT) AS n_packs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM packed GROUP BY shard
    """,
)
def pipe_end_to_end_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5 ingest pipeline composed end to end: an incoming batch
    (doc_id >= 250) dedups against the already-ingested corpus by md5
    digest, survivors shuffle deterministically into 4 training shards,
    and each shard packs into 512-token sequences IN SHARD ORDER
    (pack_sequences keyed by shard_pos, so pack boundaries follow the
    training order, not raw ids) — ingest-dedup -> shuffle -> pack as one
    oracle (per-shard doc/token/pack counts + id checksum)."""
    from usgs_lidar_spark.functions.textstats import token_count
    from usgs_lidar_spark.operators.pipeline import (
        exact_dedup_incremental,
        global_shuffle,
        pack_sequences,
    )

    d = _t(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") >= 250).select("doc_id", "text")
    seen = d.filter(F.col("doc_id") < 250)
    keeps = exact_dedup_incremental(batch, seen).select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = batch.join(keeps, "doc_id")
    sharded = global_shuffle(survivors, "doc_id", n_shards=4)
    packed = pack_sequences(
        sharded, "shard_pos", token_count("text"), budget=512,
        stream_col="shard",
    )
    return packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        (F.max(F.floor(F.col("token_start") / 512.0)) + 1)
        .cast("long")
        .alias("n_packs"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "dedup_levenshtein",
    oracle="""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS lev
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(length(a.text) // 16 - length(b.text) // 16) <= 1
    WHERE levenshtein(a.text, b.text) <= 40
    """,
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs (operators/dedup.
    levenshtein_near_dup_pairs): language + length-bucket blocking, then
    JVM-side Levenshtein verify at distance <= 40 — the dedup modality
    that catches small in-place mutations (typos, template fills) that
    shingle Jaccard over-penalizes. The probe-side bucket expansion
    {b-1, b, b+1} is exactly the oracle's |bucket diff| <= 1 join; both
    engines run the classic edit-distance, so the distances themselves
    hash-match."""
    from usgs_lidar_spark.operators.dedup import levenshtein_near_dup_pairs

    d = _t(spark, sf_dir, "documents")
    return levenshtein_near_dup_pairs(
        d, "text", "doc_id", max_distance=40, block_cols=["lang"],
        bucket_width=16,
    )


@query(
    "events_zscore_outliers",
    oracle="""
    WITH stats AS (
        SELECT event_type, count(*) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS s,
               SUM(CAST(ROUND(value * 100) AS BIGINT)
                   * CAST(ROUND(value * 100) AS BIGINT)) AS q
        FROM events GROUP BY event_type
    ), z AS (
        SELECT e.event_id, e.event_type, e.value,
               (e.value - CAST(st.s AS DOUBLE) / (100.0 * st.n))
               / sqrt(CAST(st.q AS DOUBLE) / (10000.0 * st.n)
                      - (CAST(st.s AS DOUBLE) / (100.0 * st.n))
                        * (CAST(st.s AS DOUBLE) / (100.0 * st.n))) AS z
        FROM events e JOIN stats st USING (event_type)
    )
    SELECT event_id, event_type, value, z FROM z WHERE abs(z) > 3.0
    """,
)
def events_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group outlier detection: events more than 3 population
    standard deviations from their event_type's mean. Moments are EXACT
    scaled-BIGINT sums (value carries 2 decimals; the squared sum stays
    in 64 bits up to ~4e9 rows per group — past that, widen to
    decimal(38)), so mean/variance/z are bit-identical on any
    partitioning and engine; the 5-row stats table broadcasts back onto
    the scan. One shuffle (the stats aggregate), map-only scoring."""
    e = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    vs = F.round(F.col("value") * 100).cast("long")
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(vs).alias("s"),
        F.sum(vs * vs).alias("q"),
    )
    mean = F.col("s").cast("double") / (F.lit(100.0) * F.col("n"))
    mean2 = F.col("q").cast("double") / (F.lit(10000.0) * F.col("n"))
    var = mean2 - mean * mean
    # Zero-variance groups (constant value, or a single row) have no
    # outliers by definition; without the guard the division is 0/0 —
    # an ArithmeticException under ANSI mode. The oracle needs no twin:
    # its x/0.0 yields NaN/inf, which abs(z) > 3 filters the same way.
    z = F.when(var > 0, (F.col("value") - mean) / F.sqrt(var))
    return (
        e.join(F.broadcast(stats), "event_type")
        .withColumn("z", z)
        .filter(F.abs(F.col("z")) > 3.0)
        .select("event_id", "event_type", "value", "z")
    )


@query(
    "events_funnel",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t_view
          AND e.ts <= v.t_view + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          AND e.ts <= c.t_click + INTERVAL 24 HOUR
        GROUP BY e.user_id
    )
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked AFTER
    their first view, then purchased AFTER that first qualifying click —
    the sequential-pattern shape (each stage anchors on the previous
    stage's timestamp, not mere event presence). Three per-user min
    aggregates chained by joins; each stage's frame shrinks, AQE
    broadcasts the survivor sets, and nothing needs a per-user ordered
    buffer. Ties on the anchor timestamp use strict >, matching the
    oracle exactly."""
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") > F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 24 HOURS"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = [
        df.agg(F.count(F.lit(1)).alias(name))
        for df, name in ((v, "n_view"), (c, "n_view_click"),
                         (p, "n_view_click_purchase"))
    ]
    out = counts[0]
    for one in counts[1:]:
        out = out.crossJoin(F.broadcast(one))
    return out




@query(
    "sim_assign_two_level_trained",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 48
    ), csim AS (
        SELECT e.vec_id, c.cid, {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS rn
        FROM csim) WHERE rn = 1
    """,
)
def sim_assign_two_level_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level assignment with a TRAINED coarse split (round 14 —
    `derive_coarse_quantizer(method="trained")`: stride seeds refined
    by exact Lloyd iterations over the fine-centroid FRAME, k*dim
    bounded shuffle per iteration, never data) probing ALL coarse
    cells. The oracle is deliberately the FLAT assignment SQL: probe-
    all two-level is pinned bit-identical to flat `ivf_assign`
    regardless of how the coarse split carves the packs — same rounded
    cosines, same (max sim, min cid) tie rule — so a hash match here
    proves the trained split changes WHERE fine centroids live, not
    what anything assigns to. The fine quantizer is a 48-row DataFrame
    (never collected); the coarse collect is its ~sqrt — the two-level
    memory contract. Recall at n_probe_coarse < all is the measured
    IMI approximation (SCALE.md round 14: trained vs stride agreement
    curves on clumped quantizers)."""
    from usgs_lidar_spark.operators.similarity import (
        derive_coarse_quantizer,
        ivf_assign_two_level,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cdf = emb.filter(F.col("vec_id") < 48).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    coarse = derive_coarse_quantizer(cdf, method="trained")
    out = ivf_assign_two_level(
        emb, cdf, coarse=coarse, n_probe_coarse=len(coarse)
    )
    return out.select("vec_id", F.col("__cid").cast("long").alias("cid"))


@query(
    "sim_assign_two_level_kmeanspp",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 48
    ), csim AS (
        SELECT e.vec_id, c.cid, {_cos4("e.embedding", "c.cvec")} AS csim
        FROM embeddings e CROSS JOIN cent c
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY csim DESC, cid) AS rn
        FROM csim) WHERE rn = 1
    """,
)
def sim_assign_two_level_kmeanspp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level assignment with a k-means++-SEEDED coarse split
    (round 15 — `derive_coarse_quantizer(seeding="kmeanspp")`:
    deterministic farthest-point over the fine-centroid frame, no RNG,
    no Lloyd iterations) probing ALL coarse cells. Same deliberate
    oracle as `sim_assign_two_level_trained`: the FLAT assignment SQL —
    probe-all two-level is pinned bit-identical to flat `ivf_assign`
    under ANY coarse split, so a hash match proves the seeding changes
    pack ownership only. The seeding's recall-at-low-probe win over
    stride (clump coverage without paying Lloyd) is the measured
    round-15 A/B in SCALE.md; its cost is sqrt(k) scans of the k-row
    centroid frame, never the corpus."""
    from usgs_lidar_spark.operators.similarity import (
        derive_coarse_quantizer,
        ivf_assign_two_level,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cdf = emb.filter(F.col("vec_id") < 48).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    coarse = derive_coarse_quantizer(cdf, seeding="kmeanspp")
    out = ivf_assign_two_level(
        emb, cdf, coarse=coarse, n_probe_coarse=len(coarse)
    )
    return out.select("vec_id", F.col("__cid").cast("long").alias("cid"))


@query(
    "sim_hard_negatives",
    oracle=f"""
    WITH a AS (
        SELECT vec_id AS anchor_id, embedding AS av, label AS anchor_label
        FROM embeddings WHERE vec_id < 8 AND label IS NOT NULL
    ), c AS (
        SELECT vec_id AS neg_id, embedding AS cv, label AS neg_label
        FROM embeddings WHERE label IS NOT NULL
    ), sims AS (
        SELECT a.anchor_id, CAST(a.anchor_label AS INTEGER) AS anchor_label,
               c.neg_id, CAST(c.neg_label AS INTEGER) AS neg_label,
               {_cos4("c.cv", "a.av")} AS sim
        FROM c, a
        WHERE c.neg_id <> a.anchor_id AND c.neg_label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label, sim,
           CAST(row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY sim DESC, neg_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (round 15 —
    `operators/similarity.hard_negative_mining`): per anchor, the top-5
    most-similar corpus vectors with a DIFFERENT label — the near-the-
    boundary pairs an embedding-model trainer batches against each
    anchor (random negatives are trivially separable and carry no
    gradient). Broadcast-anchors x one corpus scan, label-mismatch
    predicate inside the scan, (rounded sim DESC, id ASC) rank —
    `sim_topk_bruteforce`'s plan with the supervision predicate; NULL
    labels are excluded on both sides (an unlabeled vector can't be
    certified a negative)."""
    from usgs_lidar_spark.operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"), "embedding", "label"
    )
    out = hard_negative_mining(
        emb, anchors, id_col="vec_id", vec_col="embedding",
        label_col="label", anchor_id_col="anchor_id", k=5,
    )
    return out.select(
        "anchor_id",
        F.col("anchor_label").cast("int").alias("anchor_label"),
        "neg_id",
        F.col("neg_label").cast("int").alias("neg_label"),
        "sim", "rank",
    )


@query(
    "sim_knn_label_gate",
    oracle=f"""
    WITH s AS (
        SELECT vec_id AS seed_id, embedding AS sv,
               CAST(label AS INTEGER) AS seed_label
        FROM embeddings WHERE vec_id % 7 = 0 AND label IS NOT NULL
    ), c AS (
        SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id % 7 <> 0
    ), sims AS (
        SELECT c.vec_id, s.seed_id, s.seed_label,
               {_cos4("c.cv", "s.sv")} AS sim
        FROM c, s WHERE c.vec_id <> s.seed_id
    ), topk AS (
        SELECT * FROM sims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, seed_id) <= 5
    ), votes AS (
        SELECT vec_id, seed_label, count(*) AS n_votes, max(sim) AS top_sim
        FROM topk GROUP BY vec_id, seed_label
    ), tot AS (
        SELECT *, sum(n_votes) OVER (PARTITION BY vec_id) AS n_considered,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY n_votes DESC, seed_label) AS mrk
        FROM votes
    )
    SELECT vec_id, seed_label AS pred_label, n_votes,
           CAST(n_considered AS BIGINT) AS n_considered,
           CAST(n_votes AS DOUBLE) / n_considered AS vote_frac, top_sim
    FROM tot
    WHERE mrk = 1 AND CAST(n_votes AS DOUBLE) / n_considered >= 0.6
    """,
)
def sim_knn_label_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote label gate (round 16 —
    `operators/similarity.knn_label_vote`): every 7th embedding plays a
    hand-LABELED seed set (quality tier / domain label); each remaining
    corpus vector takes its 5 nearest seeds by rounded cosine and is
    kept only when >= 60% of them agree on a label — the model-based
    curation gate of a training-data pipeline, with the labeled seed
    set AS the model (no classifier shipped into the engine).

    The seed set collapses to ONE broadcast array row and the whole
    top-k + vote + majority runs as array expressions inside the
    corpus scan — ZERO shuffle, zero window (the inverse of
    `sim_knn_classify`, whose bounded side is the query probe). Both
    tie-breaks ((sim DESC, seed_id ASC) and (votes DESC, label ASC))
    are total orders realized by ascending struct sort on exactly
    negated values, so the gate is bit-replayable and the DuckDB
    oracle pins it exactly."""
    from usgs_lidar_spark.operators.similarity import knn_label_vote

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    out = knn_label_vote(
        corpus, seeds, id_col="vec_id", vec_col="embedding",
        label_col="label", k=5, min_frac=0.6,
    )
    return out.select(
        "vec_id",
        F.col("pred_label").cast("int").alias("pred_label"),
        "n_votes",
        "n_considered",
        "vote_frac",
        "top_sim",
    )


@query(
    "pipe_loader_schedule",
    oracle=f"""
    WITH manifest AS (
        SELECT lang AS stream,
               {_LEHMER_BUCKET("doc_id")} % 6 AS shard_id,
               CAST(sum(n_chars) AS BIGINT) AS n_bytes
        FROM documents
        GROUP BY 1, 2
    ), wq AS (
        SELECT stream,
               CAST(floor(sqrt(CAST(sum(n_bytes) AS DOUBLE)) * 1048576.0)
                    AS BIGINT) AS wq
        FROM manifest GROUP BY stream
        HAVING CAST(floor(sqrt(CAST(sum(n_bytes) AS DOUBLE)) * 1048576.0)
                    AS BIGINT) > 0
    ), tot AS (
        SELECT CAST(sum(wq) AS BIGINT) AS totq FROM wq
    ), vt AS (
        SELECT m.stream, m.shard_id, m.n_bytes,
               CAST(2 * (row_number() OVER (PARTITION BY m.stream
                                            ORDER BY m.shard_id) - 1) + 1
                    AS DOUBLE)
               * CAST(t.totq AS DOUBLE)
               / CAST(2 * w.wq AS DOUBLE) AS vtime
        FROM manifest m JOIN wq w USING (stream) CROSS JOIN tot t
    )
    SELECT CAST(row_number() OVER (ORDER BY vtime, stream, shard_id)
                AS BIGINT) AS step,
           stream, shard_id, n_bytes AS shard_bytes, vtime
    FROM vt
    """,
)
def pipe_loader_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted shard read order (round 16 —
    `operators/pipeline.loader_schedule`): stride scheduling of the
    per-(lang, shard) manifest with sqrt-temperature weights — every
    prefix of the schedule holds each language's share within one
    shard of its T=2 byte-share weight, which is what a training
    loader actually wants from a mixture (epoch-level proportioning
    and round-robin both fail it). Shards here are the 6
    portable-hash buckets per language over `documents`; vtime is
    exact-integer arithmetic divided once, so the whole schedule
    hash-matches the DuckDB replay bit for bit. Everything is
    manifest-sized — the corpus contributes one aggregation."""
    from usgs_lidar_spark.operators.pipeline import (
        loader_schedule,
        portable_hash_bucket,
    )

    d = _t(spark, sf_dir, "documents")
    manifest = (
        d.groupBy(
            F.col("lang").alias("stream"),
            (portable_hash_bucket("doc_id") % 6).alias("shard_id"),
        )
        .agg(F.sum("n_chars").alias("n_bytes"))
    )
    return loader_schedule(
        manifest, "stream", "shard_id", "n_bytes", temperature=2.0
    )


@query(
    "sim_knn_gate_calibration",
    oracle=f"""
    WITH s AS (
        SELECT vec_id AS seed_id, embedding AS sv,
               CAST(label AS INTEGER) AS seed_label
        FROM embeddings WHERE vec_id % 7 = 0 AND label IS NOT NULL
    ), c AS (
        SELECT vec_id, embedding AS cv, CAST(label AS INTEGER) AS true_label
        FROM embeddings WHERE vec_id % 7 <> 0 AND label IS NOT NULL
    ), sims AS (
        SELECT c.vec_id, c.true_label, s.seed_id, s.seed_label,
               {_cos4("c.cv", "s.sv")} AS sim
        FROM c, s WHERE c.vec_id <> s.seed_id
    ), topk AS (
        SELECT * FROM sims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, seed_id) <= 5
    ), votes AS (
        SELECT vec_id, true_label, seed_label, count(*) AS n_votes
        FROM topk GROUP BY 1, 2, 3
    ), maj AS (
        SELECT vec_id, true_label, seed_label AS pred_label, n_votes
        FROM votes
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY n_votes DESC, seed_label) = 1
    )
    SELECT n_votes, CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM maj GROUP BY n_votes
    """,
)
def sim_knn_gate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve for the kNN label gate (round 16 — the eval
    loop over `sim_knn_label_gate`): corpus vectors that carry a
    ground-truth label are voted on by the same fixed seed set, and
    the vote outcomes bin into (n_votes, n_eval, n_correct) — the
    apparatus a curation pipeline reads before trusting a min_frac
    threshold (accuracy should RISE with vote concentration; a flat
    curve means the representation carries no label signal at that k).
    On this synthetic corpus the curve IS flat at the 10-class chance
    floor — labels are assigned independently of embedding geometry —
    which is exactly what the apparatus should report; the unit test
    plants a clustered fixture and pins the rising curve. Same
    map-only plan as the gate (one broadcast seed array, zero
    shuffle until the final bin aggregate); all-integer output,
    hash-stable."""
    from usgs_lidar_spark.operators.similarity import knn_label_vote

    emb = _t(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") % 7 == 0)
    labeled = emb.filter(
        (F.col("vec_id") % 7 != 0) & F.col("label").isNotNull()
    )
    voted = knn_label_vote(
        labeled, seeds, id_col="vec_id", vec_col="embedding",
        label_col="label", k=5,
    )
    truth = labeled.select(
        "vec_id", F.col("label").cast("int").alias("true_label")
    )
    return (
        voted.join(truth, "vec_id")
        .groupBy("n_votes")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(
                    F.col("pred_label").cast("int")
                    == F.col("true_label"),
                    1,
                ).otherwise(0)
            ).alias("n_correct"),
        )
    )


@query(
    "sim_knn_label_gate_ivf",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cid, embedding AS cvec FROM embeddings
        WHERE vec_id < 8
    ), s AS (
        SELECT vec_id AS seed_id, embedding AS sv,
               CAST(label AS INTEGER) AS seed_label
        FROM embeddings WHERE vec_id % 7 = 0 AND label IS NOT NULL
    ), scell AS (
        SELECT seed_id, sv, seed_label, cid FROM (
            SELECT s.seed_id, s.sv, s.seed_label, c.cid,
                   row_number() OVER (PARTITION BY s.seed_id
                       ORDER BY {_cos4("s.sv", "c.cvec")} DESC, c.cid) AS rn
            FROM s CROSS JOIN cent c) WHERE rn = 1
    ), c AS (
        SELECT vec_id, embedding AS cv FROM embeddings WHERE vec_id % 7 <> 0
    ), probes AS (
        SELECT vec_id, cv, cid FROM (
            SELECT c.vec_id, c.cv, ct.cid,
                   row_number() OVER (PARTITION BY c.vec_id
                       ORDER BY {_cos4("c.cv", "ct.cvec")} DESC, ct.cid)
                       AS rn
            FROM c CROSS JOIN cent ct) WHERE rn <= 2
    ), sims AS (
        SELECT p.vec_id, sc.seed_id, sc.seed_label,
               {_cos4("p.cv", "sc.sv")} AS sim
        FROM probes p JOIN scell sc
          ON sc.cid = p.cid AND sc.seed_id <> p.vec_id
    ), topk AS (
        SELECT * FROM sims
        QUALIFY row_number() OVER (PARTITION BY vec_id
                                   ORDER BY sim DESC, seed_id) <= 5
    ), votes AS (
        SELECT vec_id, seed_label, count(*) AS n_votes, max(sim) AS top_sim
        FROM topk GROUP BY vec_id, seed_label
    ), tot AS (
        SELECT *, sum(n_votes) OVER (PARTITION BY vec_id) AS n_considered,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY n_votes DESC, seed_label) AS mrk
        FROM votes
    )
    SELECT vec_id, seed_label AS pred_label, n_votes,
           CAST(n_considered AS BIGINT) AS n_considered,
           CAST(n_votes AS DOUBLE) / n_considered AS vote_frac, top_sim
    FROM tot
    WHERE mrk = 1 AND CAST(n_votes AS DOUBLE) / n_considered >= 0.6
    """,
)
def sim_knn_label_gate_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kNN label gate's UNBOUNDED-SEED scale path (round 16 —
    `operators/similarity.knn_label_vote_ivf`): same seed split and
    vote semantics as `sim_knn_label_gate`, but seeds live in 8
    deterministic coarse cells and each corpus row votes over the
    top-5 seeds within its 2 probed cells — the plan for a labeled
    reference set past the broadcast-array budget (cell equi-join
    instead of a broadcast, WindowGroupLimit-capped id-keyed exchange
    of O(corpus x k) vote tuples). The oracle replays cell
    assignment, probing, the probe-limited top-k, and the vote — the
    IVF recall approximation is part of the pinned semantics."""
    from usgs_lidar_spark.operators.similarity import knn_label_vote_ivf

    emb = _t(spark, sf_dir, "embeddings")
    cents = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding")
        .collect()
    ] or [(0, [0.0])]
    seeds = emb.filter(F.col("vec_id") % 7 == 0)
    corpus = emb.filter(F.col("vec_id") % 7 != 0)
    out = knn_label_vote_ivf(
        corpus, seeds, cents, id_col="vec_id", vec_col="embedding",
        label_col="label", k=5, n_probe=2, min_frac=0.6,
    )
    return out.select(
        "vec_id",
        F.col("pred_label").cast("int").alias("pred_label"),
        "n_votes",
        "n_considered",
        "vote_frac",
        "top_sim",
    )
