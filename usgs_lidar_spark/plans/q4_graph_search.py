"""Range search + SQ8; capped co-purchase graph (PageRank, triangles); sketches; terrain (hillshade, MAD); text entropy/PMI; mixtures.

Mechanically split from plans/queries.py (round 11) — query function
source text is byte-identical to the single-file original, so every
REPLICA fingerprint (sha256 of query source + oracle SQL) is unchanged.
Registration happens at import time via `registry.query`; the import
order is fixed by plans/queries.py (the aggregator), preserving the
original definition order and every backward ORACLE[...] reference.
"""

from __future__ import annotations

from usgs_lidar_spark.plans.registry import (
    DataFrame,
    F,
    ORACLE,
    SparkSession,
    Window,
    _t,
    query,
)
from usgs_lidar_spark.plans.q1_classic import (
    _COSINE_SQL,
    _SHINGLE_CTE,
    _grid_cte,
    _price_qty_grid,
)
from usgs_lidar_spark.plans.q2_ann_pipeline import (
    _cos4,
)

# =====================================================================
# Range search + SQ8 scalar-quantization tier (round 5 cont.)
# =====================================================================

_SIGN_BUCKET_SQL = """CAST((CASE WHEN {e}[1] > 0 THEN 1 ELSE 0 END)
                  + (CASE WHEN {e}[2] > 0 THEN 2 ELSE 0 END)
                  + (CASE WHEN {e}[3] > 0 THEN 4 ELSE 0 END)
                  + (CASE WHEN {e}[4] > 0 THEN 8 ELSE 0 END)
                  + (CASE WHEN {e}[5] > 0 THEN 16 ELSE 0 END)
                  + (CASE WHEN {e}[6] > 0 THEN 32 ELSE 0 END)
                  + (CASE WHEN {e}[7] > 0 THEN 64 ELSE 0 END)
                  + (CASE WHEN {e}[8] > 0 THEN 128 ELSE 0 END) AS BIGINT)"""


@query(
    "sim_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim FROM sims WHERE sim >= 0.30
    """,
)
def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range search — all pairs with cosine >= tau (the dual of
    top-k when k is unknowable: "every semantic duplicate above 0.30").
    Broadcast query set, no window stage; each corpus partition emits
    only its over-threshold pairs, so output size (not corpus size)
    bounds the shuffle."""
    from usgs_lidar_spark.operators.similarity import cosine_range_search

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_range_search(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", threshold=0.30,
    )


@query(
    "sim_range_search_lsh",
    oracle=f"""
    WITH b AS (
        SELECT vec_id, embedding,
               {_SIGN_BUCKET_SQL.format(e='embedding')} AS bucket
        FROM embeddings
    ), q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
             FROM b WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding, bucket FROM b),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c JOIN q ON bit_count(xor(c.bucket, q.bucket)) <= 1
                     AND c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim FROM sims WHERE sim >= 0.30
    """,
)
def sim_range_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate range search: multi-probe sign-LSH candidates (home
    bucket + Hamming-1 neighbors), threshold filter on exact cosine
    within probed buckets only — each query touches ~9/256 of the corpus
    at scale. Oracle replays the identical probe set via
    bit_count(xor()) <= 1, so this pins the bucketed path exactly (its
    recall vs sim_range_search is visible as the row-count delta)."""
    from usgs_lidar_spark.operators.similarity import cosine_range_search

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return cosine_range_search(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", threshold=0.30, n_bits=8,
    )


@query(
    "sim_topk_sq8",
    oracle="""
    WITH pos AS (SELECT unnest(range(1, 65)) AS i),
    dims AS (
        SELECT i,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, pos GROUP BY i
    ),
    dimarr AS (
        SELECT list(mn ORDER BY i) AS mns,
               list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                         ELSE 0.0 END ORDER BY i) AS scales
        FROM dims
    ),
    recon AS (
        SELECT e.vec_id,
               list_transform(range(1, 65), i ->
                 d.mns[i] + ((CASE WHEN d.scales[i] = 0.0 THEN 0.0
                   ELSE LEAST(255.0, GREATEST(0.0,
                     FLOOR((CAST(e.embedding[i] AS DOUBLE) - d.mns[i])
                           / d.scales[i]))) END)
                   + 0.5) * d.scales[i]) AS rv
        FROM embeddings e, dimarr d
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 5),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        ROUND(
          list_sum(list_transform(list_zip(c.rv, q.qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(c.rv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS sim
        FROM recon c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 compressed-domain top-k: corpus quantized to one byte per
    dimension (4x smaller at rest than float32), queries stay full
    precision, candidates ranked by cosine over the reconstructed
    (bucket-midpoint) values. Bounds come from one tiny posexplode agg
    (d rows collected — the IVF-seeding contract); encode + reconstruct
    are map-side expressions, so the corpus never shuffles. The oracle
    replays quantization bit-for-bit: min/max, floor, midpoint recon and
    the rounded cosine are the same double arithmetic in both engines.
    The exact-re-rank path (sq8_topk(rerank=R)) is pinned by pytest
    against brute force."""
    from usgs_lidar_spark.operators.similarity import sq8_bounds, sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    mins, scales = sq8_bounds(emb, "embedding")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq8_topk(
        emb, queries_df, mins, scales, id_col="vec_id",
        vec_col="embedding", query_id_col="query_id", k=5,
    )


@query(
    "dedup_substring_spans",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS t
        FROM documents
    ), base AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(greatest(len(t) - 7, 0) AS BIGINT) AS n_grams, t
        FROM toks
    ), grams AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(t[u.i:u.i+7], ' ') AS gram
        FROM base, LATERAL (
            SELECT unnest(range(1, CAST(n_grams AS INTEGER) + 1)) AS i
        ) u
        WHERE n_grams > 0
    ), dupg AS (
        SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
        GROUP BY gram HAVING count(*) >= 2
    ), dup_pos AS (
        SELECT g.doc_id, g.pos FROM grams g SEMI JOIN dupg d ON g.gram = d.gram
    ), spans AS (
        SELECT doc_id, pos, pos + 7 AS end_,
               coalesce(max(pos + 7) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev_end
        FROM dup_pos
    ), per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_grams,
               CAST(sum(greatest(end_ - greatest(pos - 1, prev_end), 0))
                    AS BIGINT) AS dup_tokens_covered
        FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.n_grams,
           coalesce(p.n_dup_grams, 0) AS n_dup_grams,
           coalesce(p.dup_tokens_covered, 0) AS dup_tokens_covered,
           CASE WHEN b.n_tokens = 0 THEN 0.0
                ELSE CAST(coalesce(p.dup_tokens_covered, 0) AS DOUBLE)
                     / CAST(b.n_tokens AS DOUBLE) END AS dup_token_fraction
    FROM base b LEFT JOIN per_doc p ON b.doc_id = p.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level dedup (Lee et al. 2022, distributed n-gram form):
    per document, the fraction of tokens covered by the UNION of 8-token
    windows whose gram appears in >= 2 distinct documents. Candidate
    marking is a SEMI join against the shared-gram set (fan-out 1 — a
    boilerplate gram can be arbitrarily hot without exploding any join);
    span coverage is one running-max window per doc."""
    from usgs_lidar_spark.operators.dedup import duplicate_ngram_spans

    return duplicate_ngram_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n=8, min_docs=2
    )


def _LEHMER_LONG(id_expr: str, seed: int = 0) -> str:
    """SQL twin of operators/pipeline.portable_hash_long (full-range
    two-round Lehmer, no bucket fold)."""
    x = f"((((({id_expr}) + {1 + seed}) % 2147483647) + 2147483647) % 2147483647)"
    for _ in range(2):
        x = f"(({x}) * 48271) % 2147483647"
    return f"({x})"


def _FOLD64(id_expr: str) -> str:
    """SQL twin of `operators/stats.poisson_multiplicity`'s 64-bit id
    fold: residues mod two distinct 31-bit primes combined mod the
    Lehmer modulus, so ids differing by a multiple of 2^31-1 draw
    independent values (collisions only past lcm(M, M2) ~ 2^62). Both
    residues are non-negative after the double-% idiom, so the combined
    sum needs no further sign normalization."""
    lo = f"(((({id_expr}) % 2147483647) + 2147483647) % 2147483647)"
    hi = f"(((({id_expr}) % 2147483629) + 2147483629) % 2147483629)"
    return f"(({lo} + 48271 * {hi}) % 2147483647)"


#: SQL mirror of copurchase_edges(max_basket=8)'s deterministic
#: truncation — shared by the pagerank and triangle oracles. The cap
#: BINDS on this synthetic lineitem (baskets up to 13 distinct parts
#: per order at sf0.01), so the oracles must replay it exactly.
_CAPPED_LI_CTE = f"""li0 AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), liranked AS (
        SELECT l_orderkey, l_partkey,
               row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY {_LEHMER_LONG("l_partkey")}, l_partkey
               ) AS rn
        FROM li0
    ), li AS (
        SELECT l_orderkey, l_partkey FROM liranked WHERE rn <= 8
    )"""


@query(
    "graph_pagerank_parts",
    oracle=f"""
    WITH {_CAPPED_LI_CTE}, pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), edges AS (
        SELECT pa AS src, pb AS dst FROM pairs
        UNION ALL
        SELECT pb AS src, pa AS dst FROM pairs
    ), nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), nn AS (SELECT count(*) AS n FROM nodes),
    deg AS (SELECT src AS node, count(*) AS d FROM edges GROUP BY src),
    r0 AS (
        SELECT node, CAST(1000000000000 AS BIGINT) // n AS r
        FROM nodes, nn
    ),
    s1 AS (
        SELECT e.dst AS node, sum(r0.r // deg.d) AS s
        FROM edges e JOIN deg ON e.src = deg.node
                     JOIN r0 ON e.src = r0.node
        GROUP BY e.dst
    ),
    r1 AS (
        SELECT nodes.node,
               CAST(15000000000000 AS BIGINT) // (100 * n)
               + (85 * coalesce(s1.s, 0)) // 100 AS r
        FROM nodes CROSS JOIN nn LEFT JOIN s1 ON nodes.node = s1.node
    ),
    s2 AS (
        SELECT e.dst AS node, sum(r1.r // deg.d) AS s
        FROM edges e JOIN deg ON e.src = deg.node
                     JOIN r1 ON e.src = r1.node
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT nodes.node,
               CAST(15000000000000 AS BIGINT) // (100 * n)
               + (85 * coalesce(s2.s, 0)) // 100 AS r
        FROM nodes CROSS JOIN nn LEFT JOIN s2 ON nodes.node = s2.node
    ),
    s3 AS (
        SELECT e.dst AS node, sum(r2.r // deg.d) AS s
        FROM edges e JOIN deg ON e.src = deg.node
                     JOIN r2 ON e.src = r2.node
        GROUP BY e.dst
    ),
    r3 AS (
        SELECT nodes.node,
               CAST(15000000000000 AS BIGINT) // (100 * n)
               + (85 * coalesce(s3.s, 0)) // 100 AS r
        FROM nodes CROSS JOIN nn LEFT JOIN s3 ON nodes.node = s3.node
    )
    SELECT node, CAST(r AS BIGINT) AS rank_scaled
    FROM r3
    """,
)
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 fixed iterations, damping 0.85) over the part
    co-purchase graph (pairs sharing >= 2 orders, symmetrized). Ranks
    are scaled BIGINTs and every step is integer arithmetic — exact
    under any partitioning, so an iterative graph algorithm gets a full
    value-hash oracle (the chained-CTE replay) instead of a rows-only
    check. Each iteration is one edge-rank equi-join + sum-by-dst.
    The pair build goes through copurchase_edges with max_basket=8,
    bounding per-basket pair fan-out at C(8,2) (VERDICT r5 item 9); the
    synthetic lineitem has baskets up to 13 parts, so the cap binds and
    the oracle mirrors the truncation rule (_CAPPED_LI_CTE)."""
    from usgs_lidar_spark.operators.graph import copurchase_edges, pagerank_fixed

    pairs = copurchase_edges(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=2,
        max_basket=8,
    ).select(F.col("src").alias("pa"), F.col("dst").alias("pb"))
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionAll(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    # Oracled projection is BIGINT-only: the library's derived DOUBLE
    # `rank` (rank_scaled/1e12) was the only non-integer surface and the
    # one suspect in the r6 driver hash-fail; rank_scaled carries the
    # full information, so the convenience column stays library-side.
    return pagerank_fixed(edges, "src", "dst", iterations=3).select(
        "node", "rank_scaled"
    )


@query(
    "pipe_curriculum_order",
    oracle="""
    WITH st AS (
        SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents
    ), keyed AS (
        SELECT doc_id, n_chars,
               least(((n_chars - mn) * 4) // (mx - mn + 1),
                     3) AS stage,
               ((((((doc_id + 1) % 2147483647) + 2147483647) % 2147483647)
                 * 48271 % 2147483647) * 48271 % 2147483647) AS shuffle_key
        FROM documents, st
    )
    SELECT doc_id, n_chars, CAST(stage AS BIGINT) AS stage,
           CAST(shuffle_key AS BIGINT) AS shuffle_key,
           CAST(row_number() OVER (PARTITION BY stage
                                   ORDER BY shuffle_key, doc_id) - 1
                AS BIGINT) AS stage_pos,
           CAST((row_number() OVER (PARTITION BY stage
                                    ORDER BY shuffle_key, doc_id) - 1) * 4
                + stage AS BIGINT) AS global_step
    FROM keyed
    """,
)
def pipe_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic interleaved curriculum: documents binned into 4
    equal-width difficulty stages by n_chars, MINSTD-shuffled within
    stage, and scheduled round-robin across stages via
    global_step = stage_pos * 4 + stage. Reproducible on any engine /
    partitioning (integer binning against broadcast min/max scalars,
    seeded portable hash, per-stage windows)."""
    from usgs_lidar_spark.operators.pipeline import curriculum_order

    return curriculum_order(
        _t(spark, sf_dir, "documents"), "doc_id", "n_chars", n_stages=4
    )


@query(
    "dq_profile_lineitem",
    oracle="""
    WITH pairs AS (
        SELECT 'l_quantity' AS col_name, CAST(l_quantity AS DOUBLE) AS value
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', CAST(l_extendedprice AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_discount', CAST(l_discount AS DOUBLE) FROM lineitem
        UNION ALL
        SELECT 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem
    )
    SELECT col_name, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null,
           CAST(count(DISTINCT value) AS BIGINT) AS n_distinct,
           min(value) AS min_value, max(value) AS max_value
    FROM pairs GROUP BY col_name
    """,
)
def dq_profile_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan numeric profiling of four lineitem measures: the inline
    struct-array explode turns N per-column scans into one table pass
    plus a per-column hash aggregate (min/max/null/distinct are all
    partial-aggregable, so the shuffle carries only partial states)."""
    from usgs_lidar_spark.operators.dq import profile_numeric

    return profile_numeric(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    )


@query(
    "sim_sq8_clip_drift",
    oracle="""
    WITH pos AS (SELECT unnest(range(1, 65)) AS i),
    dims AS (
        SELECT i,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, pos WHERE vec_id < 400 GROUP BY i
    ),
    bounds AS (
        SELECT i, mn,
               CASE WHEN mx > mn
                    THEN mn + 255.0 * ((mx - mn) / 255.0)
                    ELSE mn END AS hi
        FROM dims
    ),
    newbatch AS (
        SELECT e.vec_id, b.i, CAST(e.embedding[b.i] AS DOUBLE) AS x,
               b.mn, b.hi
        FROM embeddings e, bounds b WHERE e.vec_id >= 400
    )
    SELECT CAST(i - 1 AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE x < mn) AS BIGINT) AS n_below,
           CAST(count(*) FILTER (WHERE x > hi) AS BIGINT) AS n_above,
           CAST(count(*) FILTER (WHERE x < mn OR x > hi) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS clip_rate
    FROM newbatch GROUP BY i
    """,
)
def sim_sq8_clip_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 index maintenance: append a new vector batch under FROZEN
    quantization bounds (old codes stay valid — no rebuild) and report
    per-dimension clip counts. Rising clip_rate is the re-quantize
    signal; the oracle replays the frozen-bounds arithmetic exactly
    (hi = mn + 255*scale in the same doubles)."""
    from usgs_lidar_spark.operators.similarity import sq8_bounds, sq8_clip_metrics

    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    mins, scales = sq8_bounds(old, "embedding")
    return sq8_clip_metrics(new, mins, scales, "embedding")


@query(
    "pipe_quality_filter",
    oracle="""
    WITH med AS (
        SELECT lang,
               quantile_cont(CAST(n_chars AS BIGINT), 0.5) AS group_median
        FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars, m.group_median
    FROM documents d JOIN med m ON d.lang = m.lang
    WHERE CAST(d.n_chars AS DOUBLE) >= m.group_median
    """,
)
def pipe_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality pruning: keep each language's top half by
    n_chars against the EXACT group median (integer-valued percentile —
    engine-reproducible threshold; the group-median frame is one row per
    language and broadcast back onto the scan)."""
    from usgs_lidar_spark.operators.pipeline import filter_above_group_median

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return filter_above_group_median(d, "lang", "n_chars")


@query(
    "w4_rolling_distinct",
    oracle="""
    SELECT user_id, event_id,
           CAST(count(DISTINCT event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_types_5
    FROM events
    """,
)
def w4_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling DISTINCT count over a row frame (distinct event types in
    each user's last 5 events): Spark has no distinct window aggregate,
    so the engine form is size(collect_set() OVER frame) — per-frame
    state is bounded by the frame length (5), not the partition, so
    memory stays O(frame) per row at any scale. Ties on ts are broken
    by event_id so the frame contents are deterministic."""
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return e.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias("n_types_5"),
    )


@query(
    "mm_dedup_binary",
    oracle="""
    SELECT min(doc_id) AS keeper_id,
           CAST(count(*) AS BIGINT) AS n_copies,
           md5(text) AS content_md5
    FROM documents GROUP BY md5(text)
    """,
)
def mm_dedup_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup by content digest: md5 over the binary payload
    (JVM-side), min-id keeper per digest. Payloads never shuffle — only
    16-byte digests and ids move, the whole point at media scale.
    (DuckDB's md5 is VARCHAR-only; the texts are ASCII, so md5(text)
    equals md5 of the UTF-8 payload — same equivalence
    mm_binary_features documents.)"""
    from usgs_lidar_spark.multimodal import to_media_table
    from usgs_lidar_spark.multimodal.binary_ops import dedup_media_by_content

    d = _t(spark, sf_dir, "documents")
    return dedup_media_by_content(to_media_table(d, "doc_id", "text"))


@query(
    "graph_triangles_parts",
    oracle=f"""
    WITH {_CAPPED_LI_CTE}, e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), tri AS (
        SELECT e1.a, e1.b, e2.b AS c
        FROM e e1
        JOIN e e2 ON e1.b = e2.a
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ), corners AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    """,
)
def graph_triangles_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle membership in the co-purchase graph:
    degree-ordered wedge join + semi-join closure finds each triangle
    exactly once (no dedup stage); counts per corner node. Pair build
    via copurchase_edges with max_basket=8 (binding on this synthetic
    lineitem — baskets up to 13 parts; oracle mirrors the rule)."""
    from usgs_lidar_spark.operators.graph import copurchase_edges, triangle_count

    edges = copurchase_edges(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=2,
        max_basket=8,
    )
    return triangle_count(edges)


@query(
    "graph_copurchase_capped",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), ranked AS (
        SELECT l_orderkey, l_partkey,
               row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY {_LEHMER_LONG("l_partkey")}, l_partkey
               ) AS rn
        FROM li
    ), capped AS (
        SELECT l_orderkey, l_partkey FROM ranked WHERE rn <= 3
    )
    SELECT a.l_partkey AS src, b.l_partkey AS dst,
           CAST(count(*) AS BIGINT) AS support
    FROM capped a JOIN capped b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    """,
)
def graph_copurchase_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The degree-capped co-purchase build with the cap BINDING
    (max_basket=3 < TPC-H's up-to-7 lines per order): baskets over the
    cap contribute only their 3 items ranked first by (Lehmer hash,
    item) — the deterministic truncation rule the oracle replays
    exactly. This pins the rule itself; pagerank/triangles use the same
    builder with a non-binding cap."""
    from usgs_lidar_spark.operators.graph import copurchase_edges

    # min_support=1 and the support column exposed: every surviving pair
    # (and its possibly-undercounted support) is value-checked.
    return copurchase_edges(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=1,
        max_basket=3,
        keep_support=True,
    )


@query("sketch_hll_mergeable")
def sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches — the 100 TB rollup story that
    approx_count_distinct alone doesn't give you: per-(year, status)
    Datasketches HLL built once (hll_sketch_agg), then the per-year and
    global tiers derived by UNIONING THE SKETCHES (hll_union_agg), never
    rescanning the fact table. Exact distinct counts ride alongside at
    this scale to expose the sketch error in the result itself.

    No SQL oracle by design (Datasketches binary format; DuckDB's HLL is
    a different sketch) — pinned instead by pytest golden equality
    against exact counts' tolerance (test_hll_mergeable_tiers), the same
    weak-check handling as sketch_approx_stats.
    """
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("year"),
        F.col("o_orderstatus").alias("status"),
        "o_custkey",
    )
    leaf = o.groupBy("year", "status").agg(
        F.hll_sketch_agg("o_custkey").alias("sk"),
        F.countDistinct("o_custkey").alias("exact_nd"),
    )
    per_year = leaf.groupBy("year").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_nd"),
        F.sum("exact_nd").alias("sum_leaf_exact"),
    )
    leaf_out = leaf.select(
        "year",
        "status",
        F.hll_sketch_estimate("sk").alias("approx_nd"),
        F.col("exact_nd").cast("long").alias("exact_nd"),
    )
    year_out = per_year.select(
        "year",
        F.lit("ALL").alias("status"),
        "approx_nd",
        F.lit(None).cast("long").alias("exact_nd"),
    )
    return leaf_out.unionByName(year_out)


@query(
    "cdc_snapshot_asof",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value
        FROM events
        WHERE ts <= TIMESTAMP '2024-01-16 00:00:00'
    ), ranked AS (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn
        FROM log
    )
    SELECT user_id,
           strftime(date_trunc('microseconds', ts),
                    '%Y-%m-%d %H:%M:%S.%f') AS ts,
           value
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC time travel: the per-user state as of 2024-01-16 — the
    changelog collapse behind a pushed-down timestamp cut (historical
    snapshots cost the same one hash aggregate as current state)."""
    from usgs_lidar_spark.operators.cdc import snapshot_asof

    log = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "value",
    )
    snap = snapshot_asof(
        log, "2024-01-16 00:00:00", "user_id", "ts", "op", ["value"],
        tie_col="event_id",
    )
    return snap.select(
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "value",
    )


@query(
    "pipe_priority_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, lang, n_chars,
               ((CAST(((((((doc_id + 1) % 2147483647) + 2147483647)
                       % 2147483647)
                   * 48271 % 2147483647) * 48271 % 2147483647) AS DOUBLE)
                 + 0.5) / 2147483647.0)
               / CAST(n_chars AS DOUBLE) AS priority
        FROM documents
        WHERE n_chars IS NOT NULL AND n_chars > 0
    )
    SELECT doc_id, lang, n_chars, priority,
           CAST(row_number() OVER (PARTITION BY lang
                                   ORDER BY priority, doc_id) AS BIGINT)
               AS sample_rank
    FROM keyed QUALIFY sample_rank <= 20
    """,
)
def pipe_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k weighted sampling per language (priority sampling,
    u/w order statistics): 20 docs per lang with inclusion odds
    proportional to n_chars. Deterministic on any engine — the uniform
    is the seeded MINSTD hash and both divisions are correctly-rounded
    IEEE ops the oracle replays identically."""
    from usgs_lidar_spark.operators.pipeline import priority_sample_k_per_group

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return priority_sample_k_per_group(d, "doc_id", "lang", "n_chars", k=20)


@query(
    "sim_topk_sq8_rerank",
    oracle="""
    WITH pos AS (SELECT unnest(range(1, 65)) AS i),
    dims AS (
        SELECT i,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, pos GROUP BY i
    ),
    dimarr AS (
        SELECT list(mn ORDER BY i) AS mns,
               list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                         ELSE 0.0 END ORDER BY i) AS scales
        FROM dims
    ),
    recon AS (
        SELECT e.vec_id,
               list_transform(range(1, 65), i ->
                 d.mns[i] + ((CASE WHEN d.scales[i] = 0.0 THEN 0.0
                   ELSE LEAST(255.0, GREATEST(0.0,
                     FLOOR((CAST(e.embedding[i] AS DOUBLE) - d.mns[i])
                           / d.scales[i]))) END)
                   + 0.5) * d.scales[i]) AS rv
        FROM embeddings e, dimarr d
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id < 5),
    approx AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        ROUND(
          list_sum(list_transform(list_zip(c.rv, q.qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(c.rv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS asim
        FROM recon c, q WHERE c.vec_id <> q.query_id
    ),
    shortlist AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY asim DESC, neighbor_id) AS rk
        FROM approx QUALIFY rk <= 25
    ),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
        ROUND(
          list_sum(list_transform(list_zip(c.embedding, q.qv),
                   p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
          / (sqrt(list_sum(list_transform(c.embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
             * sqrt(list_sum(list_transform(q.qv,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4)
               AS sim
        FROM shortlist s
        JOIN embeddings c ON c.vec_id = s.neighbor_id
        JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM exact QUALIFY rank <= 5
    """,
)
def sim_topk_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production SQ8 path: compressed-domain candidate generation
    (top-25 by reconstructed cosine) followed by exact re-rank of the
    short list — full vectors touched only for nq*25 rows. The oracle
    replays BOTH stages (quantize -> approx rank -> exact rerank), so
    the recall-recovery path carries a full value-hash check, not just
    the pytest parity floor."""
    from usgs_lidar_spark.operators.similarity import sq8_bounds, sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    mins, scales = sq8_bounds(emb, "embedding")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq8_topk(
        emb, queries_df, mins, scales, id_col="vec_id",
        vec_col="embedding", query_id_col="query_id", k=5, rerank=25,
    )


@query(
    "sim_topk_ivf_sq8",
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
    ), pos AS (SELECT unnest(range(1, 65)) AS i),
    dims AS (
        SELECT i,
               min(CAST(embedding[i] AS DOUBLE)) AS mn,
               max(CAST(embedding[i] AS DOUBLE)) AS mx
        FROM embeddings, pos GROUP BY i
    ),
    dimarr AS (
        SELECT list(mn ORDER BY i) AS mns,
               list(CASE WHEN mx > mn THEN (mx - mn) / 255.0
                         ELSE 0.0 END ORDER BY i) AS scales
        FROM dims
    ),
    recon AS (
        SELECT a.vec_id, a.cid,
               list_transform(range(1, 65), i ->
                 d.mns[i] + ((CASE WHEN d.scales[i] = 0.0 THEN 0.0
                   ELSE LEAST(255.0, GREATEST(0.0,
                     FLOOR((CAST(a.embedding[i] AS DOUBLE) - d.mns[i])
                           / d.scales[i]))) END)
                   + 0.5) * d.scales[i]) AS rv
        FROM assigned a, dimarr d
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding AS qv, cid FROM (
            SELECT vec_id, embedding, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY csim DESC, cid) AS rn
            FROM csim WHERE vec_id < 5) WHERE rn <= 2
    ), sims AS (
        SELECT p.query_id, r.vec_id AS neighbor_id,
               {_cos4("r.rv", "p.qv")} AS sim
        FROM recon r JOIN probes p
          ON r.cid = p.cid AND r.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, sim,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS BIGINT)
               AS rank
    FROM sims QUALIFY rank <= 5
    """,
)
def sim_topk_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 composition: coarse-cell probing (2 of 8 deterministic
    seed cells) with SQ8-compressed scoring inside the probed cells —
    the byte-code sibling of sim_topk_ivf_pq. Oracle replays cell
    assignment, probe selection, quantization, and the rounded-cosine
    ranking end to end."""
    from usgs_lidar_spark.operators.similarity import sq8_bounds, sq8_topk

    emb = _t(spark, sf_dir, "embeddings")
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 8).collect()
    ] or [(0, [0.0])]
    mins, scales = sq8_bounds(emb, "embedding")
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return sq8_topk(
        emb, queries_df, mins, scales, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, centroids=seeds, n_probe=2,
    )


def _hillshade_oracle() -> str:
    import math

    z = math.radians(45.0)  # 90 - altitude(45)
    a = math.radians(315.0)
    cz, sz = math.cos(z), math.sin(z)
    ca, sa = math.cos(a), math.sin(a)
    dzdx = "((v_p0 - v_m0) / 2.0)"
    dzdy = "((v_0p - v_0m) / 2.0)"
    # Sun-vector dot surface-normal for a y-up/north grid (azimuth
    # clockwise from north): (-sin a * dzdx - cos a * dzdy).
    raw = (
        f"(({cz!r}) + ({sz!r}) * (({-sa!r}) * {dzdx} + ({-ca!r}) * {dzdy}))"
        f" / sqrt(1.0 + ({dzdx} * {dzdx} + {dzdy} * {dzdy}))"
    )
    return f"""
    WITH {_grid_cte()}
    SELECT ix, iy,
           greatest(0.0, least(1.0, {raw})) * 255.0 AS hillshade
    FROM realc
    WHERE v_m0 IS NOT NULL AND v_p0 IS NOT NULL
      AND v_0m IS NOT NULL AND v_0p IS NOT NULL
    """


@query("z6_hillshade", oracle=None)
def z6_hillshade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytical hillshade over the voxel grid — the cartographic
    companion of z1_twi_grid, algebraically reduced so only +,*,/ and
    sqrt touch data (sun-angle trig is Python-computed constants shared
    verbatim with the oracle); bit-reproducible in any engine."""
    from usgs_lidar_spark.operators.terrain import hillshade_grid

    return hillshade_grid(_price_qty_grid(spark, sf_dir))


ORACLE["z6_hillshade"] = _hillshade_oracle()


@query(
    "ts2_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id, CAST(ts AS DATE) AS day, ts, value,
               lead(ts) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts, event_id) AS next_ts
        FROM events
    ), spans AS (
        SELECT user_id, day,
               CAST(ROUND(value * 100) AS BIGINT) AS cents,
               date_diff('microsecond', ts, next_ts) AS dur_us
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id, CAST(day AS VARCHAR) AS day,
           CAST(sum(cents * dur_us) AS DOUBLE)
               / (100.0 * CAST(sum(dur_us) AS DOUBLE)) AS twap,
           CAST(count(*) AS BIGINT) AS n_spans
    FROM spans GROUP BY user_id, day HAVING sum(dur_us) > 0
    """,
)
def ts2_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per (user, day) — each reading holds
    until the next one, so its weight is that duration (the last reading
    of a day carries no span and is excluded): the TWAP shape irregular
    telemetry needs, where a plain AVG over-weights bursts. Exact
    arithmetic: integer cents x integer microseconds summed as BIGINTs
    (order-independent), one double division at the end; one lead()
    window + one aggregate."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", F.to_date("ts")).orderBy(
        "ts", "event_id"
    )
    seq = e.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.lead("ts").over(w).alias("next_ts"),
    ).filter(F.col("next_ts").isNotNull())
    # events.ts loads as TIMESTAMP_NTZ (the nanos-normalization path);
    # unix_micros needs TIMESTAMP. The session runs UTC, and only the
    # DIFFERENCE is used, so the cast is offset-free either way.
    spans = seq.withColumn(
        "dur_us",
        F.unix_micros(F.col("next_ts").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp")),
    )
    return (
        spans.groupBy("user_id", "day")
        .agg(
            F.sum(F.col("cents") * F.col("dur_us")).alias("__num"),
            F.sum("dur_us").alias("__den"),
            F.count(F.lit(1)).alias("n_spans"),
        )
        .filter(F.col("__den") > 0)
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            (
                F.col("__num").cast("double")
                / (F.lit(100.0) * F.col("__den").cast("double"))
            ).alias("twap"),
            F.col("n_spans").cast("long").alias("n_spans"),
        )
    )


@query(
    "events_mad_outliers",
    oracle="""
    WITH base AS (
        SELECT event_id, user_id, event_type,
               CAST(ROUND(value * 100) AS BIGINT) AS cents
        FROM events
    ), med AS (
        SELECT event_type,
               quantile_cont(cents, 0.5) AS med_cents
        FROM base GROUP BY event_type
    ), dev AS (
        SELECT b.event_id, b.user_id, b.event_type, b.cents, m.med_cents,
               abs(CAST(b.cents AS DOUBLE) - m.med_cents) AS adev
        FROM base b JOIN med m ON b.event_type = m.event_type
    ), mad AS (
        SELECT event_type, quantile_cont(adev, 0.5) AS mad_cents
        FROM dev GROUP BY event_type
    )
    SELECT d.event_id, d.user_id, d.event_type,
           CAST(d.cents AS DOUBLE) / 100.0 AS value,
           d.med_cents / 100.0 AS type_median,
           m.mad_cents / 100.0 AS type_mad
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE m.mad_cents > 0 AND d.adev > 6.0 * m.mad_cents
    """,
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from their
    type's MEDIAN by more than 6x the median absolute deviation — the
    MAD form survives the heavy tails that inflate stddev and mute
    z-scores. Two exact-percentile aggregates over integer cents (the
    interpolated midpoint of two longs is the identical double in any
    engine), each a one-row-per-type frame broadcast back onto the
    scan; zero-MAD types (constant values) are excluded explicitly."""
    e = _t(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    med = base.groupBy("event_type").agg(
        F.percentile(F.col("cents"), F.lit(0.5)).alias("med_cents")
    )
    dev = base.join(med, "event_type").withColumn(
        "adev", F.abs(F.col("cents").cast("double") - F.col("med_cents"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.col("adev"), F.lit(0.5)).alias("mad_cents")
    )
    return (
        dev.join(mad, "event_type")
        .filter(
            (F.col("mad_cents") > 0)
            & (F.col("adev") > F.lit(6.0) * F.col("mad_cents"))
        )
        .select(
            "event_id",
            "user_id",
            "event_type",
            (F.col("cents").cast("double") / 100.0).alias("value"),
            (F.col("med_cents") / 100.0).alias("type_median"),
            (F.col("mad_cents") / 100.0).alias("type_mad"),
        )
    )


@query(
    "graph_2hop_reach",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), seeds AS (
        SELECT DISTINCT src AS node FROM e WHERE src % 100 = 0
    ), hop1 AS (
        SELECT DISTINCT e.dst AS node FROM e SEMI JOIN seeds s ON e.src = s.node
    ), frontier AS (
        SELECT node FROM hop1
        UNION SELECT node FROM seeds
    ), hop2 AS (
        SELECT DISTINCT e.dst AS node FROM e SEMI JOIN frontier f ON e.src = f.node
    ), reach AS (
        SELECT node FROM frontier UNION SELECT node FROM hop2
    )
    SELECT CAST(count(*) AS BIGINT) AS n_reachable,
           CAST((SELECT count(*) FROM seeds) AS BIGINT) AS n_seeds,
           CAST((SELECT count(*) FROM hop1) AS BIGINT) AS n_hop1
    FROM reach
    """,
)
def graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded BFS: parts reachable within 2 hops of the seed set (part
    ids divisible by 100) over the symmetric co-purchase graph. Each hop
    is one SEMI join frontier expansion + distinct — the per-round cost
    model of any distributed BFS; rounds are fixed so the whole traversal
    is one declarative plan (unbounded reachability is
    connected_components' job)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= 2)
        .select("src", "dst")
        # Pin the edge build and each frontier tier ONCE (optimization
        # round 16): e feeds three semi-join probes, seeds/hop1 feed
        # both the next tier and their tier-count aggregate — unpinned,
        # the lineitem self-join re-expanded per consumer (47 shuffle
        # exchanges -> 7).
        .localCheckpoint(eager=False)
    )
    seeds = (
        e.filter(F.col("src") % 100 == 0)
        .select(F.col("src").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    hop1 = (
        e.join(seeds, e["src"] == seeds["node"], "left_semi")
        .select(F.col("dst").alias("node"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    frontier = hop1.union(seeds).distinct().localCheckpoint(eager=False)
    hop2 = (
        e.join(frontier, e["src"] == frontier["node"], "left_semi")
        .select(F.col("dst").alias("node"))
        .distinct()
    )
    reach = frontier.union(hop2).distinct()
    # tier counts ride broadcast 1-row frames — no driver round-trip
    return (
        reach.agg(F.count(F.lit(1)).alias("n_reachable"))
        .crossJoin(
            F.broadcast(seeds.agg(F.count(F.lit(1)).alias("n_seeds")))
        )
        .crossJoin(
            F.broadcast(hop1.agg(F.count(F.lit(1)).alias("n_hop1")))
        )
    )


@query(
    "text_token_entropy",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS tok
        FROM documents WHERE trim(text) <> ''
    ), tf AS (
        SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               sum(CAST(ROUND(c * ln(c) * 1000000) AS BIGINT)) AS s_scaled
        FROM tf GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_types,
           ln(n_tokens) - (CAST(s_scaled AS DOUBLE) / 1000000.0)
                          / CAST(n_tokens AS DOUBLE) AS entropy,
           CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE)
               AS type_token_ratio
    FROM per_doc
    """,
)
def text_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution entropy per document (plus type-token ratio) —
    the information-theoretic quality signal: template/repetitive docs
    score low even when repetition_metrics' exact-duplicate windows miss
    them. Uses H = ln(n) - (1/n) * sum(c * ln(c)): each c*ln(c) term is
    rounded to a scaled BIGINT before summation, so the per-doc sum is
    partition-order-independent and both engines agree bit-for-bit (a
    raw double sum over hash-grouped terms would drift with order).
    Empty docs are excluded (entropy of nothing is undefined, not 0)."""
    from usgs_lidar_spark.functions.textstats import ws_tokens

    d = _t(spark, sf_dir, "documents")
    toks = (
        d.filter(F.trim(F.col("text")) != "")
        .select("doc_id", F.explode(ws_tokens("text")).alias("tok"))
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(
            F.round(
                F.col("c").cast("double")
                * F.log(F.col("c").cast("double"))
                * 1000000
            ).cast("long")
        ).alias("s_scaled"),
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "n_types",
        (
            F.log(F.col("n_tokens").cast("double"))
            - (F.col("s_scaled").cast("double") / 1000000.0)
            / F.col("n_tokens").cast("double")
        ).alias("entropy"),
        (
            F.col("n_types").cast("double") / F.col("n_tokens").cast("double")
        ).alias("type_token_ratio"),
    )


@query(
    "dedup_cluster_collapse_incremental",
    oracle=f"""
    WITH RECURSIVE {{shingle_cte}},
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
def dedup_cluster_collapse_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental cluster maintenance end to end: the corpus's first
    400 docs are the already-clustered base (labels computed once); the
    rest arrive as a batch whose MinHash pairs are folded in via
    connected_components_incremental — old components participate as
    contracted super-nodes, so the merge step's cost is O(new edges +
    touched components), never a base re-cluster. The oracle is the
    FULL-graph recursive-CTE closure: incremental must equal
    from-scratch bit-for-bit (labels are component-min ids, canonical
    under merging)."""
    from usgs_lidar_spark.operators.dedup import minhash_lsh_pairs
    from usgs_lidar_spark.operators.graph import (
        connected_components,
        connected_components_incremental,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 400)
    new = d.filter(F.col("doc_id") >= 400)
    old_pairs = minhash_lsh_pairs(
        old, "text", "doc_id", k=8, num_perm=64, bands=32,
        threshold=0.6, max_df=20,
    )
    old_labels = connected_components(
        old.select(F.col("doc_id").alias("id")),
        old_pairs.select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        ),
    ).select("id", F.col("cluster_id").alias("label"))

    all_pairs = minhash_lsh_pairs(
        d, "text", "doc_id", k=8, num_perm=64, bands=32,
        threshold=0.6, max_df=20,
    )
    new_edges = all_pairs.filter(
        (F.col("id_a") >= 400) | (F.col("id_b") >= 400)
    ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))

    labels = connected_components_incremental(
        old_labels, new.select(F.col("doc_id").alias("id")), new_edges
    )
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, "label")
        .select(
            F.col("id").alias("doc_id"),
            F.col("label").alias("cluster_id"),
            "cluster_size",
            (F.col("id") == F.col("label")).alias("is_kept"),
        )
    )


ORACLE["dedup_cluster_collapse_incremental"] = ORACLE[
    "dedup_cluster_collapse_incremental"
].replace("{shingle_cte}", _SHINGLE_CTE)


@query(
    "pipe_mixture_schedule",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY ((((((doc_id + 1) % 2147483647) + 2147483647)
                             % 2147483647)
                         * 48271 % 2147483647) * 48271 % 2147483647),
                            doc_id) - 1 AS BIGINT) AS src_pos
        FROM documents WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT doc_id, source, src_pos,
           (CAST(src_pos AS DOUBLE) + 0.5)
           / (CASE source WHEN 'src0' THEN 3.0
                          WHEN 'src1' THEN 2.0
                          ELSE 1.0 END) AS priority
    FROM keyed
    """,
)
def pipe_mixture_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixing schedule over three sources (3:2:1): MINSTD
    in-source shuffle, priority = (pos + 0.5)/weight — weighted fair
    queueing, so every prefix of the priority order consumes sources
    proportionally. Deterministic on any engine/partitioning."""
    from usgs_lidar_spark.operators.pipeline import mixture_schedule

    d = _t(spark, sf_dir, "documents").select("doc_id", "source")
    return mixture_schedule(
        d, "doc_id", "source", {"src0": 3.0, "src1": 2.0, "src2": 1.0}
    )


@query(
    "sim_embed_moments",
    oracle="""
    WITH pos AS (SELECT unnest(range(1, 65)) AS i),
    ex AS (
        SELECT i - 1 AS dim,
               CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS xs
        FROM embeddings, pos
    ), agg AS (
        SELECT dim, CAST(count(*) AS BIGINT) AS n,
               sum(xs) AS s1, sum(xs * xs) AS s2
        FROM ex GROUP BY dim
    )
    SELECT CAST(dim AS BIGINT) AS dim, n,
           CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000) AS mean,
           sqrt(greatest(0.0,
               CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000 * 1000000)
               - (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000))
                 * (CAST(s1 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000))))
               AS std
    FROM agg
    """,
)
def sim_embed_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding mean/std in exact fixed-point moments
    (1e-6 components, BIGINT sums — order-independent, engine-exact):
    the statistics feeding embed_standardize's map-side whitening."""
    from usgs_lidar_spark.operators.similarity import embed_moments

    return embed_moments(_t(spark, sf_dir, "embeddings"), "embedding")


@query(
    "text_langid_confusion",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    ), hits AS (
        SELECT doc_id, lang,
            CAST(len(list_filter(tokens, t -> list_contains(['the','and','of','to','in','is','that','it'], t))) AS BIGINT) AS en_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['der','die','und','das','ist','nicht','ein','zu'], t))) AS BIGINT) AS de_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['le','la','et','les','des','est','une','dans'], t))) AS BIGINT) AS fr_hits,
            CAST(len(list_filter(tokens, t -> list_contains(['el','la','de','que','y','los','es','una'], t))) AS BIGINT) AS es_hits
        FROM toks
    ), pred AS (
        SELECT lang AS true_lang,
           CASE WHEN en_hits > 0 AND en_hits >= de_hits AND en_hits >= fr_hits AND en_hits >= es_hits THEN 'en'
                WHEN de_hits > 0 AND de_hits > en_hits AND de_hits >= fr_hits AND de_hits >= es_hits THEN 'de'
                WHEN fr_hits > 0 AND fr_hits > en_hits AND fr_hits > de_hits AND fr_hits >= es_hits THEN 'fr'
                WHEN es_hits > 0 AND es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es'
                ELSE 'und' END AS pred_lang
        FROM hits
    )
    SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
    FROM pred GROUP BY 1, 2
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a query: the lang-id heuristic's
    confusion matrix against the corpus's labeled `lang` column — one
    extra aggregate over the already-oracled predictor, the shape every
    model-quality dashboard needs (per-class precision/recall fall out
    of this table). The heuristic's known blind spots (markers shared
    across languages, 'und' on zero hits) become visible counts instead
    of anecdotes."""
    from usgs_lidar_spark.functions import textstats as TS

    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.col("lang").alias("true_lang"),
            TS.lang_id("text").alias("pred_lang"),
        )
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "pipe_end_to_end_v3",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS t
        FROM documents
    ), base AS (
        SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(greatest(len(t) - 7, 0) AS BIGINT) AS n_grams, t
        FROM toks
    ), grams AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               array_to_string(t[u.i:u.i+7], ' ') AS gram
        FROM base, LATERAL (
            SELECT unnest(range(1, CAST(n_grams AS INTEGER) + 1)) AS i
        ) u
        WHERE n_grams > 0
    ), dupg AS (
        SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM grams)
        GROUP BY gram HAVING count(*) >= 2
    ), dup_pos AS (
        SELECT g.doc_id, g.pos FROM grams g SEMI JOIN dupg d ON g.gram = d.gram
    ), spans AS (
        SELECT doc_id, pos, pos + 7 AS end_,
               coalesce(max(pos + 7) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS prev_end
        FROM dup_pos
    ), per_doc AS (
        SELECT doc_id,
               CAST(sum(greatest(end_ - greatest(pos - 1, prev_end), 0))
                    AS BIGINT) AS covered
        FROM spans GROUP BY doc_id
    ), survivors AS (
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        JOIN base b ON d.doc_id = b.doc_id
        LEFT JOIN per_doc p ON d.doc_id = p.doc_id
        WHERE b.n_tokens > 0
          AND CAST(coalesce(p.covered, 0) AS DOUBLE)
              / CAST(b.n_tokens AS DOUBLE) < 0.5
    ), med AS (
        SELECT lang, quantile_cont(CAST(n_chars AS BIGINT), 0.5) AS m
        FROM survivors GROUP BY lang
    ), kept AS (
        SELECT s.doc_id, s.lang, s.source, s.n_chars
        FROM survivors s JOIN med ON s.lang = med.lang
        WHERE CAST(s.n_chars AS DOUBLE) >= med.m
    ), keyed AS (
        SELECT doc_id, lang, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY ((((((doc_id + 1) % 2147483647) + 2147483647)
                             % 2147483647)
                         * 48271 % 2147483647) * 48271 % 2147483647),
                            doc_id) - 1 AS BIGINT) AS src_pos
        FROM kept WHERE source IN ('src0', 'src1', 'src2')
    )
    SELECT doc_id, lang, source, src_pos,
           (CAST(src_pos AS DOUBLE) + 0.5)
           / (CASE source WHEN 'src0' THEN 3.0
                          WHEN 'src1' THEN 2.0
                          ELSE 1.0 END) AS priority
    FROM keyed
    """,
)
def pipe_end_to_end_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-5-continuation pipeline composed end to end under ONE
    oracle: substring-span dedup gate (drop docs with >= 50% of tokens
    under cross-doc duplicated 8-gram windows) -> per-language median
    quality pruning over the survivors -> weighted mixture schedule
    (3:2:1 over three sources). Each stage is individually oracled
    (dedup_substring_spans / pipe_quality_filter /
    pipe_mixture_schedule); this pins that they COMPOSE — thresholds
    computed on post-dedup survivors, the schedule over post-filter
    rows — which is where pipeline bugs actually live."""
    from usgs_lidar_spark.operators.dedup import duplicate_ngram_spans
    from usgs_lidar_spark.operators.pipeline import (
        filter_above_group_median,
        mixture_schedule,
    )

    d = _t(spark, sf_dir, "documents")
    spans = duplicate_ngram_spans(d, "text", "doc_id", n=8, min_docs=2)
    survivors = (
        d.join(
            spans.select("doc_id", "n_tokens", "dup_token_fraction"),
            "doc_id",
        )
        .filter(
            (F.col("n_tokens") > 0) & (F.col("dup_token_fraction") < 0.5)
        )
        .select("doc_id", "lang", "source", "n_chars")
    )
    # Pin ONCE (optimization round 16): kept feeds both the mixture
    # schedule and the language lookup join — unpinned, the whole
    # span-dedup + median-filter chain re-expanded per consumer
    # (19 shuffle exchanges -> 3).
    kept = (
        filter_above_group_median(survivors, "lang", "n_chars")
        .drop("group_median")
        .localCheckpoint(eager=False)
    )
    sched = mixture_schedule(
        kept, "doc_id", "source", {"src0": 3.0, "src1": 2.0, "src2": 1.0}
    )
    lang_lookup = kept.select("doc_id", "lang")
    return sched.join(lang_lookup, "doc_id").select(
        "doc_id", "lang", "source", "src_pos", "priority"
    )


@query(
    "text_bigram_pmi",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS t
        FROM documents
    ), uni AS (
        SELECT unnest(t) AS tok FROM toks
    ), ucnt AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY tok
    ), tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM ucnt),
    bi AS (
        SELECT t[u.i] AS w1, t[u.i + 1] AS w2
        FROM toks, LATERAL (
            SELECT unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
        ) u
        WHERE len(t) >= 2
    ), bcnt AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS cab
        FROM bi GROUP BY w1, w2 HAVING count(*) >= 5
    )
    SELECT b.w1, b.w2, b.cab, a.c AS c1, c.c AS c2, t.n
    FROM bcnt b
    JOIN ucnt a ON b.w1 = a.tok
    JOIN ucnt c ON b.w2 = c.tok
    CROSS JOIN tot t
    """,
)
def text_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information for adjacent
    token bigrams seen >= 5 times — PMI = ln(c_ab * N / (c_a * c_b)),
    the statistic that separates genuine phrases from chance adjacency.
    Bigrams come from one zip of the token array with its tail (no
    self-join over positions); the unigram table joins back twice
    (AQE broadcasts it at dimension size) and the corpus total rides a
    broadcast one-row frame. The ORACLED surface is the exact integer
    sufficient statistics (cab, c1, c2, N) — PMI itself is ln over their
    ratio, a float whose cross-engine hash can turn on a libm ulp (the
    failure class sim_ivf_drift hit in r5), and it is exactly derivable
    from the returned counts: pmi = ln(cab*n / (c1*c2))."""
    from usgs_lidar_spark.functions.textstats import ws_tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(ws_tokens("text").alias("t")).filter(F.size("t") >= 2)
    bi = toks.select(
        F.explode(
            F.zip_with(
                F.slice("t", 1, F.size("t") - 1),
                F.slice("t", 2, F.size("t") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bcnt = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= 5)
    )
    uni = (
        d.select(F.explode(ws_tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = uni.agg(F.sum("c").cast("long").alias("n"))
    a = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    b = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    return (
        bcnt.join(a, "w1")
        .join(b, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "cab", "c1", "c2", "n")
    )




@query(
    "graph_link_prediction",
    oracle=f"""
    WITH {_CAPPED_LI_CTE}, e AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), adj AS (
        SELECT src AS node, dst AS nb FROM e
        UNION ALL SELECT dst, src FROM e
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS degree
        FROM adj GROUP BY node
    ), common AS (
        SELECT a.node AS src, b.node AS dst,
               CAST(count(*) AS BIGINT) AS n_common
        FROM adj a JOIN adj b
          ON a.nb = b.nb AND a.node < b.node
        GROUP BY 1, 2 HAVING count(*) >= 2
    ), unlinked AS (
        SELECT c.* FROM common c
        ANTI JOIN e ON e.src = c.src AND e.dst = c.dst
    )
    SELECT u.src, u.dst, u.n_common,
           CAST(u.n_common AS DOUBLE)
               / (da.degree + db.degree - u.n_common) AS jaccard
    FROM unlinked u
    JOIN deg da ON da.node = u.src
    JOIN deg db ON db.node = u.dst
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph
    (round 16 — `operators/graph.link_prediction_jaccard`): unconnected
    part pairs sharing >= 2 co-purchase neighbors, scored by
    neighborhood Jaccard — the "bought X, also bought Y" candidate
    generator (Liben-Nowell & Kleinberg's baseline). Wedge join (the
    `graph_triangles_parts` cost class), exact integer counts, one
    anti-join, one division; the same max_basket=8 capped edge build
    every graph query here shares, replayed by the oracle."""
    from usgs_lidar_spark.operators.graph import (
        copurchase_edges,
        link_prediction_jaccard,
    )

    edges = copurchase_edges(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        min_support=2,
        max_basket=8,
    )
    return link_prediction_jaccard(edges, min_common=2)
