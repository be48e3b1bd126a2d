"""Keyword retrieval (TF-IDF/BM25/WAND), persisted-index serving (BM25/IVF/IVF-PQ), trained-IVF serving, hybrid RRF, paths/EWMA, kNN classify.

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
    _cached_index_path,
    _t,
    query,
)
from usgs_lidar_spark.plans.q1_classic import (
    _COSINE_SQL,
)
from usgs_lidar_spark.plans.q2_ann_pipeline import (
    _cos4,
)
from usgs_lidar_spark.plans.q4_graph_search import (
    _LEHMER_LONG,
)

# =====================================================================
# Keyword retrieval (operators/retrieval.py) — round 6
# =====================================================================

#: Fixed probe query for the retrieval oracles: one rare term (df~25 at
#: sf0.01), two common ones, and one absent from the corpus entirely.
_SEARCH_TERMS = ["dup", "join", "vector", "quantum"]


@query(
    "search_tfidf_topk",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    ), postings AS (
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
        FROM toks
        WHERE term IN ({", ".join(f"'{t}'" for t in sorted(_SEARCH_TERMS))})
        GROUP BY 1, 2
    ), dfs AS (
        SELECT term, CAST(count(*) AS BIGINT) AS df FROM postings GROUP BY 1
    ), scored AS (
        SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
               CAST(sum(p.tf * (1000000000 // d.df)) AS BIGINT) AS score
        FROM postings p JOIN dfs d USING (term) GROUP BY 1
    )
    SELECT doc_id, n_hit_terms, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM scored QUALIFY rank <= 10
    """,
)
def search_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-terms document retrieval under INTEGER-exact TF-IDF
    (operators/retrieval.tfidf_topk): score = sum tf * (1e9 div df) —
    monotone in df exactly like ln(N/df) but bit-reproducible in any
    64-bit-integer engine (no libm). One corpus pass: postings filtered
    to the query's terms under the scan, df joined back broadcast,
    TakeOrdered top-10 with the (score DESC, id ASC) tie contract. A
    term absent from the corpus ('quantum') contributes nothing rather
    than erroring."""
    from usgs_lidar_spark.operators.retrieval import tfidf_topk

    return tfidf_topk(
        _t(spark, sf_dir, "documents"), _SEARCH_TERMS, k=10
    )


@query(
    "search_term_postings",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
        FROM documents
    )
    SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
    FROM toks WHERE term IN ('dup', 'merge')
    GROUP BY 1, 2
    """,
)
def search_term_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted-index posting list (operators/retrieval.
    term_doc_index) restricted to two probe terms — the materializable
    index a repeated-query workload would write bucketed by term; one
    explode + one (term, doc) aggregate, text never shuffles."""
    from usgs_lidar_spark.operators.retrieval import term_doc_index

    idx = term_doc_index(_t(spark, sf_dir, "documents"))
    return idx.filter(F.col("term").isin(["dup", "merge"]))


@query(
    "pipe_threshold_sweep",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    ), stats AS (
        SELECT doc_id,
               len(tokens) AS n_tokens,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tokens, t -> list_contains(
                         ['the','and','of','to','in','is','that','it'], t)))
                         AS DOUBLE) / len(tokens) END AS stop_ratio,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tokens, t -> length(t)))
                         AS DOUBLE) / len(tokens) END AS avg_token_len
        FROM toks
    ), scored AS (
        SELECT CAST(floor(((stop_ratio * 0.4)
                   + (least(n_tokens, 100) / 100.0 * 0.3)
                   + (least(avg_token_len, 10.0) / 10.0 * 0.3)) * 1000)
                   AS BIGINT) AS score_bucket,
               CAST(n_tokens AS BIGINT) AS w
        FROM stats
    ), per_bucket AS (
        SELECT score_bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS wsum
        FROM scored GROUP BY score_bucket
    )
    SELECT score_bucket, n_docs,
           CAST(sum(n_docs) OVER sfx AS BIGINT) AS n_kept,
           CAST(sum(wsum) OVER sfx AS BIGINT) AS weight_kept
    FROM per_bucket
    WINDOW sfx AS (ORDER BY score_bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def pipe_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter calibration (operators/textquality.threshold_sweep):
    per observed permille score bucket, how many documents and tokens a
    `quality >= threshold` filter keeps — the table a pipeline reads to
    choose its cutoff. The quality expression is text_quality_score's,
    bucketed to integers BEFORE any aggregation, so the sweep itself is
    exact-integer; the suffix-sum window runs over the bounded bucket
    domain (<= 1001 rows), never the corpus."""
    from usgs_lidar_spark.functions import textstats as TS
    from usgs_lidar_spark.operators.textquality import threshold_sweep

    d = _t(spark, sf_dir, "documents")
    toks = TS.ws_tokens("text")
    n_tokens = F.size(toks).cast("long")
    stop_ratio = TS.stopword_ratio("text")
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    avg_token_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        tok_len_sum.cast("double") / n_tokens
    )
    quality = (
        (stop_ratio * 0.4)
        + (F.least(n_tokens, F.lit(100)) / 100.0 * 0.3)
        + (F.least(avg_token_len, F.lit(10.0)) / 10.0 * 0.3)
    )
    scored = d.select(quality.alias("q"), n_tokens.alias("w"))
    return threshold_sweep(scored, "q", "w")


@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), trig AS (
        SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE e3 IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT e1, e2, e3, n,
           CAST(row_number() OVER (ORDER BY n DESC, e1, e2, e3) AS BIGINT)
               AS rank
    FROM trig QUALIFY rank <= 10
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the 10 most common consecutive
    event-type TRIGRAMS across all user sessions — the product-analytics
    "what do users actually do" query (the 3-step generalization of the
    first-order transition matrix). One user-keyed sequence window, a
    trigram count whose domain is at most |event_types|^3 cells, and a
    TakeOrdered top-10 with full-column tie-break — no corpus-sized sort
    anywhere."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    trig = (
        seq.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        trig.orderBy(
            F.col("n").desc(), F.col("e1"), F.col("e2"), F.col("e3")
        )
        .limit(10)
        .select(
            "e1",
            "e2",
            "e3",
            "n",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("n").desc(), F.col("e1"), F.col("e2"), F.col("e3")
                )
            )
            .cast("long")
            .alias("rank"),
        )
    )


@query(
    "pipe_pii_redaction",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@mail-' || lang
                    || '.com ip 10.0.' || (doc_id % 256)
                    || '.7 call 555-123-' || lpad(CAST(doc_id % 10000
                       AS VARCHAR), 4, '0') AS t
        FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(t,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '[PII-email]', 'g'),
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
               '[PII-ipv4]', 'g'),
             '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b',
             '[PII-phone]', 'g') AS text_redacted,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
               AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
               AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(t,
               '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
               AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
             + len(regexp_extract_all(t,
               '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b'))
             + len(regexp_extract_all(t,
               '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b'))
               AS BIGINT) AS n_redactions
    FROM injected
    """,
)
def pipe_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/redact.redact_pii) over a corpus with
    deterministic synthetic PII injected per document (the testdata
    corpus is PII-free word salad, so the query plants one email, one
    IPv4 and one phone per doc from doc_id/lang — both engines build the
    identical string). Redaction and per-kind counts are pure JVM-side
    regex in a dialect subset with identical Java/RE2 semantics — no
    UDF, map-only, zero shuffle. Note DuckDB's regexp_replace needs the
    'g' flag to match Spark's replace-all."""
    from usgs_lidar_spark.operators.redact import redact_pii

    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id"),
            F.lit("@mail-"),
            F.col("lang"),
            F.lit(".com ip 10.0."),
            (F.col("doc_id") % 256),
            F.lit(".7 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    return redact_pii(injected, "t").select(
        "doc_id", "text_redacted", "n_email", "n_ipv4", "n_phone",
        "n_redactions",
    )


@query(
    "pipe_end_to_end_v4",
    oracle=r"""
    WITH injected AS (
        SELECT doc_id,
               text || ' contact u' || doc_id || '@mail-' || lang
                    || '.com ip 10.0.' || (doc_id % 256)
                    || '.7 call 555-123-' || lpad(CAST(doc_id % 10000
                       AS VARCHAR), 4, '0') AS t
        FROM documents
    ), red AS (
        SELECT doc_id,
               regexp_replace(
                 regexp_replace(
                   regexp_replace(t,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                     '[PII-email]', 'g'),
                   '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                   '[PII-ipv4]', 'g'),
                 '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b',
                 '[PII-phone]', 'g') AS tr
        FROM injected
    ), toks AS (
        SELECT doc_id,
               CASE WHEN trim(tr) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(tr), '\s+') END AS tokens
        FROM red
    ), stats AS (
        SELECT doc_id,
               len(tokens) AS n_tokens,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tokens, t -> list_contains(
                         ['the','and','of','to','in','is','that','it'], t)))
                         AS DOUBLE) / len(tokens) END AS stop_ratio,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tokens, t -> length(t)))
                         AS DOUBLE) / len(tokens) END AS avg_token_len
        FROM toks
    ), scored AS (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS w,
               CAST(floor(((stop_ratio * 0.4)
                   + (least(n_tokens, 100) / 100.0 * 0.3)
                   + (least(avg_token_len, 10.0) / 10.0 * 0.3)) * 1000)
                   AS BIGINT) AS score_bucket
        FROM stats
    ), per_bucket AS (
        SELECT score_bucket, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(w) AS BIGINT) AS wsum
        FROM scored GROUP BY score_bucket
    ), sweep AS (
        SELECT score_bucket,
               CAST(sum(n_docs) OVER sfx AS BIGINT) AS n_kept
        FROM per_bucket
        WINDOW sfx AS (ORDER BY score_bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), tot AS (SELECT max(n_kept) AS N FROM sweep),
    cut AS (
        SELECT max(CASE WHEN s.n_kept * 10 >= 6 * t.N
                        THEN s.score_bucket END) AS c
        FROM sweep s, tot t
    ), kept AS (
        SELECT doc_id, w FROM scored, cut WHERE score_bucket >= cut.c
    ), streams AS (
        SELECT doc_id, w,
               (((((((doc_id) + 1) % 2147483647) + 2147483647) % 2147483647)
                 * 48271 % 2147483647) * 48271 % 2147483647) % 4
                   AS pack_stream
        FROM kept
    ), packed AS (
        SELECT pack_stream, doc_id, w,
               CAST(sum(w) OVER pw - w AS BIGINT) AS token_start
        FROM streams
        WINDOW pw AS (PARTITION BY pack_stream ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT pack_stream, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS total_tokens,
           CAST(max(floor(token_start / 512.0)) + 1 AS BIGINT) AS n_packs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM packed GROUP BY pack_stream
    """,
)
def pipe_end_to_end_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ROUND-6 pipeline composed end to end under one oracle:
    PII-redact the (synthetically injected) corpus -> score quality on
    the REDACTED text -> pick the keep-threshold FROM THE DATA via the
    threshold sweep (largest permille bucket still keeping >= 60% of
    docs, exact-integer comparison) -> pack the survivors into 512-token
    sequences on the scale-safe default Lehmer streams. Each stage is
    individually oracled (pipe_pii_redaction / pipe_threshold_sweep /
    pipe_pack_streams); this pins that they COMPOSE — quality computed
    post-redaction, the cutoff computed on the sweep of the actual
    corpus, packing over the post-filter survivors — where pipeline bugs
    actually live."""
    from usgs_lidar_spark.functions import textstats as TS
    from usgs_lidar_spark.operators.pipeline import pack_sequences
    from usgs_lidar_spark.operators.redact import redact_pii
    from usgs_lidar_spark.operators.textquality import threshold_sweep

    d = _t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id"),
            F.lit("@mail-"),
            F.col("lang"),
            F.lit(".com ip 10.0."),
            (F.col("doc_id") % 256),
            F.lit(".7 call 555-123-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ).alias("t"),
    )
    red = redact_pii(injected, "t")
    toks = TS.ws_tokens("text_redacted")
    n_tokens = F.size(toks).cast("long")
    stop_ratio = TS.stopword_ratio("text_redacted")
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    avg_token_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        tok_len_sum.cast("double") / n_tokens
    )
    quality = (
        (stop_ratio * 0.4)
        + (F.least(n_tokens, F.lit(100)) / 100.0 * 0.3)
        + (F.least(avg_token_len, F.lit(10.0)) / 10.0 * 0.3)
    )
    # The sweep gets the RAW quality double (its own floor(q*1000) then
    # matches scored's bucket exactly); re-deriving q from the integer
    # bucket (bucket/1000.0*1000) can mis-floor by one ulp for some
    # bucket values.
    scored = red.select(
        "doc_id",
        n_tokens.alias("w"),
        quality.alias("q"),
        F.floor(quality * 1000).cast("long").alias("score_bucket"),
    )
    sweep = threshold_sweep(scored.select("doc_id", "q", "w"), "q", "w")
    total = sweep.agg(F.max("n_kept").alias("N"))
    cut = (
        sweep.crossJoin(F.broadcast(total))
        .agg(
            F.max(
                F.when(
                    F.col("n_kept") * 10 >= 6 * F.col("N"),
                    F.col("score_bucket"),
                )
            ).alias("c")
        )
    )
    kept = scored.crossJoin(F.broadcast(cut)).filter(
        F.col("score_bucket") >= F.col("c")
    )
    packed = pack_sequences(
        kept.select("doc_id", "w"), "doc_id", "w", budget=512, n_streams=4
    )
    return packed.groupBy("pack_stream").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("w").alias("total_tokens"),
        (F.max(F.floor(F.col("token_start") / 512.0)) + 1)
        .cast("long")
        .alias("n_packs"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "search_bm25_topk",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
        FROM toks
    ), consts AS (
        SELECT CAST((n_docs * 1000000) // total_tokens AS BIGINT)
                   AS inv_avgdl_q6
        FROM stats
    ), post0 AS (
        SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
               unnest(list_filter(tokens,
                   t -> t IN ('merge', 'spark', 'stream', 'vector')))
                   AS term
        FROM toks
    ), postings AS (
        SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        FROM post0 GROUP BY term, doc_id, dl
    ), with_df AS (
        SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM postings
    ), scored AS (
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_hit_terms,
               CAST(sum((1000000000 // df) *
                    ((22 * tf * 1000000 * 1000000) //
                     (10 * tf * 1000000 + 3 * 1000000
                      + 9 * dl * inv_avgdl_q6))) AS BIGINT) AS score
        FROM with_df, consts
        GROUP BY doc_id
    )
    SELECT doc_id, n_hit_terms, score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC)
                AS BIGINT) AS rank
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT 10
    """,
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25-style retrieval (operators/retrieval.bm25_topk):
    TF-saturation + length normalization as exact int64 rationals
    (k1=6/5, b=3/4, 1/avgdl at fixed q6 resolution), reciprocal integer
    idf — zero libm, so the DuckDB oracle reproduces every score bit.
    Query = {merge, spark, stream, vector}, top-10 (score DESC, id)."""
    from usgs_lidar_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["merge", "spark", "stream", "vector"],
        k=10,
    )


@query("search_bm25_from_index", oracle=ORACLE["search_bm25_topk"])
def search_bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION serving path under the same hard oracle as
    `search_bm25_topk`: materialize the term-bucket-partitioned inverted
    index (`write_term_index`), then serve the identical query from it
    (`bm25_topk_from_index`) — the index is an access path, not a
    semantic change, so the expected output is bit-identical to the
    on-the-fly ranker's. At scale this is the form a user actually runs:
    the corpus is tokenized once at build time; each query reads only
    its terms' hash buckets (partition pruning + pushed term filter)
    and corpus stats come from the sidecar. The index builds ONCE into
    a deterministic per-(sf_dir, source snapshot) cache path and later
    invocations reuse it — repeated bench runs measure the serving
    path, and no per-call tempdirs accumulate."""
    from usgs_lidar_spark.operators.retrieval import (
        bm25_topk_from_index,
        write_term_index,
    )

    path, complete = _cached_index_path(
        sf_dir, "term_idx", "documents", "_corpus_stats"
    )
    if not complete:
        write_term_index(_t(spark, sf_dir, "documents"), path)
    return bm25_topk_from_index(
        spark, path, ["merge", "spark", "stream", "vector"], k=10
    )


@query("sim_topk_from_ivf_index", oracle=ORACLE["sim_topk_ivf"])
def sim_topk_from_ivf_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-ANN serving path under the same hard oracle as
    `sim_topk_ivf`: materialize the cell-partitioned IVF index
    (`write_ivf_index`), then run the identical probe query from it
    (`ivf_topk_from_index`) — same quantizer, same (sim DESC, id) rank
    contract, so the expected output matches the in-memory form
    row-for-row. The stored layout turns each probe into a
    partition-pruned scan of n_probe cell directories. The index builds
    ONCE into a deterministic per-(sf_dir, source snapshot) cache path
    and later invocations reuse it — repeated bench runs measure the
    serving path, and no per-call tempdirs accumulate."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_topk_from_index,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path, complete = _cached_index_path(
        sf_dir, "ivf_idx", "embeddings", "_centroids"
    )
    if not complete:
        cents = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        ] or [(0, [0.0])]  # empty-corpus placeholder (see sim_topk_ivf)
        write_ivf_index(emb, cents, path)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_from_index(spark, path, queries_df, k=5, n_probe=2)


@query(
    "sim_ivf_trained_serving",
    oracle=f"""
    WITH qe AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 1048576.0) AS BIGINT))
                   AS qv
        FROM embeddings
    ), cent1 AS (
        SELECT vec_id AS cid, qv AS qc,
               CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT) AS nq
        FROM qe WHERE vec_id < 8
    ), dots1 AS (
        SELECT e.vec_id, e.qv, c.cid, c.nq,
               CAST(list_sum(list_transform(list_zip(e.qv, c.qc),
                                            p -> p[1] * p[2])) AS BIGINT)
                   AS qdot
        FROM qe e CROSS JOIN cent1 c
    ), a1 AS (
        SELECT vec_id, qv, cid FROM (
            SELECT vec_id, qv, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY CASE WHEN nq = 0 THEN 0.0
                                ELSE CAST(qdot AS DOUBLE)
                                     / sqrt(CAST(nq AS DOUBLE)) END DESC,
                                cid) AS rn
            FROM dots1) WHERE rn = 1
    ), step1 AS (
        SELECT cid, i AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qv[i]) AS BIGINT) AS cs
        FROM a1, unnest(range(1, len(qv) + 1)) AS t(i)
        GROUP BY cid, i
    ), cent2d AS (
        -- round-1 UPDATE as doubles: double(cs)/n then /2^20 — the same
        -- two correctly-rounded IEEE ops the engine's
        -- _kmeans_update_exact performs, so the doubles are identical.
        SELECT cid,
               list(CAST(cs AS DOUBLE) / n / 1048576.0 ORDER BY dim) AS cvec
        FROM step1 GROUP BY cid
    ), cent2n AS (
        -- round-2 candidate set = ALL seed cids: a cell empty in
        -- round 1 keeps its SEED centroid as the round-2 candidate
        -- (kmeans_train_centroids keeps empty cells' previous
        -- centroids in the candidate list every iteration) — building
        -- this from cent2d alone would drop such cells and assign
        -- round 2 against a smaller candidate set than the engine's.
        SELECT s.cid,
               list_transform(
                   coalesce(c2.cvec,
                            list_transform(s.svec,
                                           x -> CAST(x AS DOUBLE))),
                   x -> CAST(floor(x * 1048576.0) AS BIGINT)) AS qc
        FROM (SELECT vec_id AS cid, embedding AS svec
              FROM embeddings WHERE vec_id < 8) s
        LEFT JOIN cent2d c2 ON s.cid = c2.cid
    ), cent2q AS (
        SELECT cid, qc,
               CAST(list_sum(list_transform(qc, v -> v * v)) AS BIGINT) AS nq
        FROM cent2n
    ), dots2 AS (
        SELECT e.vec_id, e.qv, c.cid, c.nq,
               CAST(list_sum(list_transform(list_zip(e.qv, c.qc),
                                            p -> p[1] * p[2])) AS BIGINT)
                   AS qdot
        FROM qe e CROSS JOIN cent2q c
    ), a2 AS (
        SELECT vec_id, qv, cid FROM (
            SELECT vec_id, qv, cid,
                   row_number() OVER (PARTITION BY vec_id
                       ORDER BY CASE WHEN nq = 0 THEN 0.0
                                ELSE CAST(qdot AS DOUBLE)
                                     / sqrt(CAST(nq AS DOUBLE)) END DESC,
                                cid) AS rn
            FROM dots2) WHERE rn = 1
    ), step2 AS (
        SELECT cid, i AS dim,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(qv[i]) AS BIGINT) AS cs
        FROM a2, unnest(range(1, len(qv) + 1)) AS t(i)
        GROUP BY cid, i
    ), cent3d AS (
        SELECT cid,
               list(CAST(cs AS DOUBLE) / n / 1048576.0 ORDER BY dim) AS cvec
        FROM step2 GROUP BY cid
    ), trained AS (
        -- empty-cell keep, replayed: a cell empty in round 2 keeps its
        -- round-1 centroid; empty in round 1 keeps the seed vector.
        SELECT s.cid,
               coalesce(c3.cvec, c2.cvec,
                        list_transform(s.svec, x -> CAST(x AS DOUBLE)))
                   AS cvec
        FROM (SELECT vec_id AS cid, embedding AS svec
              FROM embeddings WHERE vec_id < 8) s
        LEFT JOIN cent2d c2 ON s.cid = c2.cid
        LEFT JOIN cent3d c3 ON s.cid = c3.cid
    ), csim AS (
        SELECT e.vec_id, e.embedding, t.cid,
               {_cos4("e.embedding", "t.cvec")} AS csim
        FROM embeddings e CROSS JOIN trained t
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
def sim_ivf_trained_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CLOSED training->serving loop under one hard oracle: TRAIN the
    coarse quantizer with two full exact Lloyd iterations
    (`operators/similarity.kmeans_train_centroids` — the distributed
    work per iteration is one `kmeans_step_exact` scan whose shuffle is
    bounded by k*dim), persist the TRAINED centroids as the
    cell-partitioned IVF index (`write_ivf_index`), and serve the probe
    query from the store (`ivf_topk_from_index`). Unlike
    `sim_topk_ivf`/`sim_topk_from_ivf_index` — which seed cells from the
    first 8 corpus vectors — every cell here is a trained centroid, so
    the oracle replays the whole pipeline: quantized-argmax training
    rounds, the two-IEEE-op centroid updates (bit-identical doubles in
    any engine), empty-cell keeps, rounded-cosine assignment of the
    corpus to the trained cells, 2-cell probing, and the (sim DESC, id)
    top-5 rank."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_topk_from_index,
        kmeans_train_centroids,
        write_ivf_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path, complete = _cached_index_path(
        sf_dir, "ivf_trained_idx", "embeddings", "_centroids"
    )
    if not complete:
        seeds = [
            (int(r["vec_id"]), [float(x) for x in r["embedding"]])
            for r in emb.filter(F.col("vec_id") < 8)
            .select("vec_id", "embedding")
            .collect()
        ] or [(0, [0.0])]  # empty-corpus placeholder (see sim_topk_ivf)
        trained = kmeans_train_centroids(emb, seeds, n_iter=2)
        write_ivf_index(emb, trained, path)
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk_from_index(spark, path, queries_df, k=5, n_probe=2)


@query(
    "search_phrase_match",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS term,
               generate_subscripts(tokens, 1) AS p
        FROM toks
    ), m AS (
        SELECT a.doc_id, a.p
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
                   AND b.term = 'hash'
        JOIN pos c ON a.doc_id = c.doc_id AND c.p = a.p + 2
                   AND c.term = 'agg'
        WHERE a.term = 'table'
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(p) - 1 AS BIGINT) AS first_pos
    FROM m GROUP BY doc_id
    """,
)
def search_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact consecutive-phrase search ("table hash agg") via filtered
    positional postings + a per-document lead window
    (operators/retrieval.phrase_match). The oracle deliberately uses a
    DIFFERENT algorithm — a positional self-join — so the window
    formulation's adjacency arithmetic is checked against an independent
    derivation, not an echo of itself."""
    from usgs_lidar_spark.operators.retrieval import phrase_match

    return phrase_match(
        _t(spark, sf_dir, "documents"), ["table", "hash", "agg"]
    )


@query(
    "search_proximity",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS term,
               generate_subscripts(tokens, 1) AS p
        FROM toks
    ), f AS (
        SELECT doc_id, term, p FROM pos
        WHERE term IN ('hash', 'join', 'window')
    ), anchors AS (
        SELECT a.doc_id, a.p, count(DISTINCT b.term) AS nt
        FROM f a JOIN f b
          ON a.doc_id = b.doc_id AND b.p >= a.p AND b.p <= a.p + 5
        GROUP BY a.doc_id, a.p
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(p) - 1 AS BIGINT) AS first_pos
    FROM anchors WHERE nt = 3 GROUP BY doc_id
    """,
)
def search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered proximity search ({hash, join, window} within a 6-token
    span, any order) via filtered positional postings + a RANGE-frame
    coverage window (operators/retrieval.proximity_match). The oracle is
    an independent derivation — a positional self-join counting distinct
    covered terms per anchor — so the window formulation's coverage
    arithmetic is cross-checked, not echoed. 1-based generate_subscripts
    maps to the matcher's 0-based token offsets via p-1."""
    from usgs_lidar_spark.operators.retrieval import proximity_match

    return proximity_match(
        _t(spark, sf_dir, "documents"), ["hash", "join", "window"], window=6
    )


@query(
    "events_ewma_dyadic",
    oracle=r"""
    WITH c AS (
        SELECT user_id, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), w AS (
        SELECT user_id, event_id,
               list(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 31 PRECEDING AND CURRENT ROW)
                   AS win
        FROM c
    )
    SELECT user_id, event_id,
           CAST(list_sum(list_transform(win,
                (x, i) -> x * (CAST(1 AS BIGINT) << (31 - len(win) + i))))
                AS BIGINT) AS ewma_q32
    FROM w
    """,
)
def events_ewma_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event value,
    EXACT: alpha = 1/2 truncated at 32 trailing events makes every
    weight a dyadic rational, so the numerator scaled by 2^32 is a pure
    int64 —

        ewma_q32(row n) = sum_{i} cents_i * 2^(31 - m + i)

    over the trailing window of m <= 32 events (i 1-based oldest-first;
    newest weight 2^31 = 1/2 of scale). No double ever enters: cents
    (exact 2-decimal money) times power-of-two weights sums far inside
    int64 (cents <= ~10^6, * 2^31 * 32 terms ~ 7*10^16). Cross-engine
    bit-identical where a float EWMA would differ in the last ulp.

    Plan: one shuffle (user partition), a ROWS-frame collect_list whose
    order is the frame order (ts, event_id — total order), then a
    map-side higher-order aggregate. Window is 32 elements max, so the
    per-row array is O(1) regardless of corpus size."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-31, 0)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            "user_id",
            "event_id",
            F.collect_list(cents).over(w).alias("win"),
        )
        .select(
            "user_id",
            "event_id",
            F.expr(
                "aggregate(transform(win, (x, i) ->"
                " x * shiftleft(CAST(1 AS BIGINT), 32 - size(win) + i)),"
                " CAST(0 AS BIGINT), (a, b) -> a + b)"
            ).alias("ewma_q32"),
        )
    )


@query(
    "search_hybrid_rrf",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
        FROM toks
    ), consts AS (
        SELECT CAST((n_docs * 1000000) // total_tokens AS BIGINT)
                   AS inv_avgdl_q6
        FROM stats
    ), post0 AS (
        SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
               unnest(list_filter(tokens,
                   t -> t IN ('merge', 'spark', 'stream', 'vector')))
                   AS term
        FROM toks
    ), postings AS (
        SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        FROM post0 GROUP BY term, doc_id, dl
    ), with_df AS (
        SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM postings
    ), scored_kw AS (
        SELECT doc_id,
               CAST(sum((1000000000 // df) *
                    ((22 * tf * 1000000 * 1000000) //
                     (10 * tf * 1000000 + 3 * 1000000
                      + 9 * dl * inv_avgdl_q6))) AS BIGINT) AS kscore
        FROM with_df, consts
        GROUP BY doc_id
    ), kw AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY kscore DESC, doc_id) AS r
        FROM scored_kw ORDER BY kscore DESC, doc_id LIMIT 20
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id = 0
    ), c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT c.vec_id AS doc_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    ), vec AS (
        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM sims ORDER BY sim DESC, doc_id LIMIT 20
    ), fused AS (
        SELECT coalesce(kw.doc_id, vec.doc_id) AS doc_id,
               coalesce(1000000 // (60 + kw.r), 0)
                   + coalesce(1000000 // (60 + vec.r), 0) AS score
        FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM fused ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid keyword + vector retrieval with integer-exact
    reciprocal-rank fusion (operators/retrieval.rrf_fuse): the BM25
    top-20 for {merge, spark, stream, vector} fused with the exact
    cosine top-20 neighbors of document 0's embedding, each
    contribution = 10^6 div (60 + rank), absent-from-a-ranker = 0.
    Both rankers keep their own candidates-only scale shapes; the
    fusion itself joins two 20-row short lists. Oracle recomposes the
    whole thing — BM25 CTEs + cosine CTEs + fusion — independently."""
    from usgs_lidar_spark.operators.retrieval import bm25_topk, rrf_fuse
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kw = bm25_topk(
        docs, ["merge", "spark", "stream", "vector"], k=20
    ).select("doc_id", "rank")
    queries_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=20,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([kw, vec], id_col="doc_id", k=10)


@query(
    "a10_equidepth_histogram",
    oracle="""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem
    ), ranked AS (
        SELECT cents,
               CAST(row_number() OVER (ORDER BY cents, l_orderkey,
                                       l_linenumber) AS BIGINT) AS r,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM v
    )
    SELECT CAST(((r - 1) * 16) // n AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(cents) AS BIGINT) AS lo,
           CAST(max(cents) AS BIGINT) AS hi
    FROM ranked GROUP BY 1
    """,
)
def a10_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 16-bucket equi-depth histogram of l_extendedprice (cents) —
    the ANALYZE-style optimizer statistic — computed DISTRIBUTED-exact
    via operators/ranking.global_rank: range repartition, bounded
    per-partition count collect, per-slice row_number + broadcast
    offsets. No single-task global window anywhere; the oracle uses the
    naive global row_number (fine in DuckDB) so the two derivations are
    independent. Tie-break (l_orderkey, l_linenumber) makes the order
    total, so bucket contents are layout-independent."""
    from usgs_lidar_spark.operators.ranking import histogram_equidepth

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    return histogram_equidepth(
        li, "cents", ["l_orderkey", "l_linenumber"], buckets=16
    ).select(
        "bucket",
        "n_rows",
        F.col("lo").cast("long").alias("lo"),
        F.col("hi").cast("long").alias("hi"),
    )


@query(
    "pipe_top_quartile_cut",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, lang,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(text), '\s+') END AS tokens
        FROM documents
    ), stats AS (
        SELECT doc_id, lang,
               len(tokens) AS n_tokens,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(len(list_filter(tokens, t -> list_contains(
                         ['the','and','of','to','in','is','that','it'], t)))
                         AS DOUBLE) / len(tokens) END AS stop_ratio,
               CASE WHEN len(tokens) = 0 THEN 0.0
                    ELSE CAST(list_sum(list_transform(tokens, t -> length(t)))
                         AS DOUBLE) / len(tokens) END AS avg_token_len
        FROM toks
    ), scored AS (
        SELECT doc_id, lang,
               CAST(floor(((stop_ratio * 0.4)
                   + (least(n_tokens, 100) / 100.0 * 0.3)
                   + (least(avg_token_len, 10.0) / 10.0 * 0.3)) * 1000)
                   AS BIGINT) AS sb
        FROM stats
    ), ranked AS (
        SELECT doc_id, lang, sb,
               CAST(row_number() OVER (ORDER BY sb, doc_id) AS BIGINT) AS r,
               CAST(count(*) OVER () AS BIGINT) AS n
        FROM scored
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(sb) AS BIGINT) AS min_bucket,
           CAST(max(sb) AS BIGINT) AS max_bucket,
           CAST(sum(doc_id) AS BIGINT) AS id_sum
    FROM ranked WHERE r * 4 > 3 * n
    GROUP BY lang
    """,
)
def pipe_top_quartile_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-quartile curation cut: keep the documents whose quality
    score ranks in the top 25% of the CORPUS — by exact global rank
    (operators/ranking.global_rank), not a bucketed threshold. Where
    pipe_threshold_sweep answers "what does a cutoff keep",
    this answers "cut at an exact fraction" with a rank*4 > 3*n integer
    comparison and the total (score, doc_id) order deciding boundary
    ties deterministically. No single-task window; the oracle uses the
    naive global row_number. Output is the per-lang census of the kept
    quartile plus an id checksum.

    Scale note: global_rank's parallelism is bounded by the leading
    value's cardinality — the permille score here has <= 1001 distinct
    values, so at extreme corpus sizes one bucket's row_number slice is
    ~n/1001 rows; rank on a finer score resolution (floor(q * 10^6))
    when n/1001 stops fitting a task."""
    from usgs_lidar_spark.functions import textstats as TS
    from usgs_lidar_spark.operators.ranking import global_rank

    d = _t(spark, sf_dir, "documents")
    toks = TS.ws_tokens("text")
    n_tokens = F.size(toks).cast("long")
    stop_ratio = TS.stopword_ratio("text")
    tok_len_sum = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    avg_token_len = F.when(n_tokens == 0, F.lit(0.0)).otherwise(
        tok_len_sum.cast("double") / n_tokens
    )
    quality = (
        (stop_ratio * 0.4)
        + (F.least(n_tokens, F.lit(100)) / 100.0 * 0.3)
        + (F.least(avg_token_len, F.lit(10.0)) / 10.0 * 0.3)
    )
    scored = d.select(
        "doc_id", "lang", F.floor(quality * 1000).cast("long").alias("sb")
    )
    ranked = global_rank(scored, ["sb", "doc_id"], rank_col="r")
    total = ranked.agg(F.max("r").alias("n"))
    kept = ranked.crossJoin(F.broadcast(total)).filter(
        F.col("r") * 4 > 3 * F.col("n")
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("sb").alias("min_bucket"),
        F.max("sb").alias("max_bucket"),
        F.sum("doc_id").alias("id_sum"),
    )


@query(
    "search_hybrid_rrf3",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), post0 AS (
        SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
               unnest(list_filter(tokens,
                   t -> t IN ('merge', 'spark', 'stream', 'vector')))
                   AS term
        FROM toks
    ), postings AS (
        SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        FROM post0 GROUP BY term, doc_id, dl
    ), with_df AS (
        SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM postings
    ), t_scored AS (
        SELECT doc_id,
               CAST(sum(tf * (1000000000 // df)) AS BIGINT) AS tscore
        FROM with_df GROUP BY doc_id
    ), kw1 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tscore DESC, doc_id) AS r
        FROM t_scored ORDER BY tscore DESC, doc_id LIMIT 20
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
        FROM toks
    ), consts AS (
        SELECT CAST((n_docs * 1000000) // total_tokens AS BIGINT)
                   AS inv_avgdl_q6
        FROM stats
    ), b_scored AS (
        SELECT doc_id,
               CAST(sum((1000000000 // df) *
                    ((22 * tf * 1000000 * 1000000) //
                     (10 * tf * 1000000 + 3 * 1000000
                      + 9 * dl * inv_avgdl_q6))) AS BIGINT) AS bscore
        FROM with_df, consts
        GROUP BY doc_id
    ), kw2 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bscore DESC, doc_id) AS r
        FROM b_scored ORDER BY bscore DESC, doc_id LIMIT 20
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id = 0
    ), c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT c.vec_id AS doc_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    ), vec AS (
        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM sims ORDER BY sim DESC, doc_id LIMIT 20
    ), fused AS (
        SELECT coalesce(kw1.doc_id, kw2.doc_id, vec.doc_id) AS doc_id,
               coalesce(1000000 // (60 + kw1.r), 0)
                   + coalesce(1000000 // (60 + kw2.r), 0)
                   + coalesce(1000000 // (60 + vec.r), 0) AS score
        FROM kw1
        FULL JOIN kw2 ON kw1.doc_id = kw2.doc_id
        FULL JOIN vec
          ON coalesce(kw1.doc_id, kw2.doc_id) = vec.doc_id
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM fused ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-ranker reciprocal-rank fusion — TF-IDF, BM25, and exact
    cosine, all over the same query ({merge, spark, stream, vector} +
    document 0's embedding) — pinning rrf_fuse's N-way full-outer chain
    (coalesced ids, absent-ranker zero contributions) beyond the 2-way
    case. The keyword rankers share one postings scan; each leg stays
    candidates-only; the fusion joins three 20-row short lists."""
    from usgs_lidar_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
        tfidf_topk,
    )
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    terms = ["merge", "spark", "stream", "vector"]
    kw1 = tfidf_topk(docs, terms, k=20).select("doc_id", "rank")
    kw2 = bm25_topk(docs, terms, k=20).select("doc_id", "rank")
    queries_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=20,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    return rrf_fuse([kw1, kw2, vec], id_col="doc_id", k=10)


@query("graph_pagerank_from_edges", oracle=ORACLE["graph_pagerank_parts"])
def graph_pagerank_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted-graph serving path under the same hard oracle as
    `graph_pagerank_parts`: materialize the co-purchase edge list as a
    src-BUCKETED (src, dst)-sorted table (`write_edge_table`,
    symmetrize=True), then run `pagerank_fixed(...,
    edges_materialized=True)` over the bucketed scan — an access path,
    not a semantic change, so the expected ranks are bit-identical to
    the build-per-query form.

    This is the shape SCALE.md flags for the graph headliners: the
    within-basket self-join edge BUILD (~0.5-1.8 GB shuffle at sf1) is
    iteration-invariant and shared by every graph query over the same
    edges — paying it once at write time leaves serving with a zero
    build cost bucketed scan, a shuffle-free degree aggregate, and
    per-iteration joins that never re-exchange the edge side
    (`test_edge_table_pagerank_parity_and_shuffle`). The table builds
    ONCE into a deterministic per-(sf_dir, source snapshot) external
    path; later invocations in the same session reuse the catalog
    entry, and later processes re-register the existing files as an
    external bucketed table (DDL) without rebuilding."""
    import os

    from usgs_lidar_spark.operators.graph import (
        copurchase_edges,
        pagerank_fixed,
        read_edge_table,
        write_edge_table,
    )

    path, complete = _cached_index_path(
        sf_dir, "pr_edges", "lineitem", ""
    )
    tbl = os.path.basename(path)
    if not spark.catalog.tableExists(tbl):
        if complete:
            # Re-register the existing bucketed files (written by a
            # previous process's saveAsTable) as an external table; the
            # spec must match write_edge_table's layout exactly or the
            # bucket metadata would lie about the file contents.
            spark.sql(
                f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT) "
                "USING PARQUET CLUSTERED BY (src) "
                "SORTED BY (src, dst) INTO 32 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            pairs = copurchase_edges(
                _t(spark, sf_dir, "lineitem"),
                "l_orderkey",
                "l_partkey",
                min_support=2,
                max_basket=8,
            )
            write_edge_table(
                pairs, tbl, n_buckets=32, path=path, symmetrize=True
            )
    return pagerank_fixed(
        read_edge_table(spark, tbl),
        iterations=3,
        edges_materialized=True,
    ).select("node", "rank_scaled")


@query("graph_triangles_from_edges", oracle=ORACLE["graph_triangles_parts"])
def graph_triangles_from_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting served from the SAME persisted co-purchase edge
    table as `graph_pagerank_from_edges`, under `graph_triangles_parts`'
    oracle — the second graph headliner whose dominant cost is the
    shared, iteration-invariant edge BUILD (SCALE.md: the within-basket
    self-join). The table stores both orientations (pagerank's layout);
    the unique (src < dst) pairs triangle_count wants fall out of a
    bucketed-scan filter with no extra shuffle. Degree re-orientation
    inside triangle_count shuffles either way, so the serving win here
    is exactly the build cost — measured in SCALE.md, "Round 8:
    persisted edge table & index serving" (build median 13.8 s vs serve
    8.2 s at the sf1 point, interleaved n=3). The localCheckpoint matters: triangle_count references its
    edge input ~6x (degree agg, two orientation joins, two wedge sides,
    closing semi-join) and bucketing buys those joins nothing after the
    degree re-orientation reshuffles anyway — without it the table
    re-scans per reference (407 MB read from a 21 MB table, measured)."""
    import os

    from usgs_lidar_spark.operators.graph import (
        copurchase_edges,
        read_edge_table,
        triangle_count,
        write_edge_table,
    )

    path, complete = _cached_index_path(
        sf_dir, "pr_edges", "lineitem", ""
    )
    tbl = os.path.basename(path)
    if not spark.catalog.tableExists(tbl):
        if complete:
            spark.sql(
                f"CREATE TABLE {tbl} (src BIGINT, dst BIGINT) "
                "USING PARQUET CLUSTERED BY (src) "
                "SORTED BY (src, dst) INTO 32 BUCKETS "
                f"LOCATION '{path}'"
            )
        else:
            pairs = copurchase_edges(
                _t(spark, sf_dir, "lineitem"),
                "l_orderkey",
                "l_partkey",
                min_support=2,
                max_basket=8,
            )
            write_edge_table(
                pairs, tbl, n_buckets=32, path=path, symmetrize=True
            )
    uniq = (
        read_edge_table(spark, tbl)
        .filter(F.col("src") < F.col("dst"))
        .localCheckpoint()
    )
    return triangle_count(uniq)


@query(
    "search_hybrid_rrf4",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), post0 AS (
        SELECT doc_id, CAST(len(tokens) AS BIGINT) AS dl,
               unnest(list_filter(tokens,
                   t -> t IN ('merge', 'spark', 'stream', 'vector')))
                   AS term
        FROM toks
    ), postings AS (
        SELECT term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
        FROM post0 GROUP BY term, doc_id, dl
    ), with_df AS (
        SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
        FROM postings
    ), t_scored AS (
        SELECT doc_id,
               CAST(sum(tf * (1000000000 // df)) AS BIGINT) AS tscore
        FROM with_df GROUP BY doc_id
    ), kw1 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY tscore DESC, doc_id) AS r
        FROM t_scored ORDER BY tscore DESC, doc_id LIMIT 20
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(tokens)) AS BIGINT) AS total_tokens
        FROM toks
    ), consts AS (
        SELECT CAST((n_docs * 1000000) // total_tokens AS BIGINT)
                   AS inv_avgdl_q6
        FROM stats
    ), b_scored AS (
        SELECT doc_id,
               CAST(sum((1000000000 // df) *
                    ((22 * tf * 1000000 * 1000000) //
                     (10 * tf * 1000000 + 3 * 1000000
                      + 9 * dl * inv_avgdl_q6))) AS BIGINT) AS bscore
        FROM with_df, consts
        GROUP BY doc_id
    ), kw2 AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bscore DESC, doc_id) AS r
        FROM b_scored ORDER BY bscore DESC, doc_id LIMIT 20
    ), q AS (
        SELECT vec_id AS query_id, embedding AS qv
        FROM embeddings WHERE vec_id = 0
    ), c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT c.vec_id AS doc_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    ), vec AS (
        SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r
        FROM sims ORDER BY sim DESC, doc_id LIMIT 20
    ), pos AS (
        SELECT doc_id, unnest(tokens) AS term,
               generate_subscripts(tokens, 1) AS p
        FROM toks
    ), pm AS (
        SELECT a.doc_id, a.p
        FROM pos a
        JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
                   AND b.term = 'hash'
        JOIN pos c2 ON a.doc_id = c2.doc_id AND c2.p = a.p + 2
                   AND c2.term = 'agg'
        WHERE a.term = 'table'
    ), p_scored AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS pscore
        FROM pm GROUP BY doc_id
    ), ph AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY pscore DESC, doc_id) AS r
        FROM p_scored ORDER BY pscore DESC, doc_id LIMIT 20
    ), fused AS (
        SELECT coalesce(kw1.doc_id, kw2.doc_id, vec.doc_id, ph.doc_id)
                   AS doc_id,
               coalesce(1000000 // (60 + kw1.r), 0)
                   + coalesce(1000000 // (60 + kw2.r), 0)
                   + coalesce(1000000 // (60 + vec.r), 0)
                   + coalesce(1000000 // (60 + ph.r), 0) AS score
        FROM kw1
        FULL JOIN kw2 ON kw1.doc_id = kw2.doc_id
        FULL JOIN vec
          ON coalesce(kw1.doc_id, kw2.doc_id) = vec.doc_id
        FULL JOIN ph
          ON coalesce(kw1.doc_id, kw2.doc_id, vec.doc_id) = ph.doc_id
    )
    SELECT doc_id, CAST(score AS BIGINT) AS score,
           CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
    FROM fused ORDER BY score DESC, doc_id LIMIT 10
    """,
)
def search_hybrid_rrf4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-ranker RRF with a PHRASE-BOOST leg (VERDICT r7 stretch):
    TF-IDF + BM25 + exact cosine (the `search_hybrid_rrf3` legs,
    unchanged) + exact-phrase matches for "table hash agg" ranked by
    occurrence count (n_matches DESC, doc_id) — documents containing
    the literal phrase get a reciprocal-rank boost on top of their
    bag-of-words scores, the classic precision lever hybrid stacks add
    last. Every leg keeps its candidates-only shape (the phrase leg is
    `phrase_match`'s filtered positional postings); the fusion joins
    four <= 20-row short lists, integer contributions throughout."""
    from usgs_lidar_spark.operators.retrieval import (
        _rank_topk,
        bm25_topk,
        phrase_match,
        rrf_fuse,
        tfidf_topk,
    )
    from usgs_lidar_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    terms = ["merge", "spark", "stream", "vector"]
    kw1 = tfidf_topk(docs, terms, k=20).select("doc_id", "rank")
    kw2 = bm25_topk(docs, terms, k=20).select("doc_id", "rank")
    queries_df = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = cosine_topk_bruteforce(
        emb, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=20,
    ).select(F.col("neighbor_id").alias("doc_id"), "rank")
    ph = _rank_topk(
        phrase_match(docs, ["table", "hash", "agg"]).select(
            "doc_id", F.col("n_matches").alias("score")
        ),
        "doc_id",
        20,
        [],
    ).select("doc_id", "rank")
    return rrf_fuse([kw1, kw2, vec, ph], id_col="doc_id", k=10)


@query("search_bm25_pruned", oracle=ORACLE["search_bm25_topk"])
def search_bm25_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WAND-family max-score pruned BM25 ranker under the SAME hard
    oracle as `search_bm25_topk` — `bm25_topk_pruned` is row-identical
    to the exhaustive ranker by contract (θ from the rarest term's
    exact top-k, per-term upper bounds, left-semi survivor scoring;
    unit-pinned by `test_bm25_pruned_parity`), so the driver's
    value-hash proves the pruning is lossless on the real corpus, not
    just the unit fixtures. Same query, same k as the exhaustive form."""
    from usgs_lidar_spark.operators.retrieval import bm25_topk_pruned

    return bm25_topk_pruned(
        _t(spark, sf_dir, "documents"),
        ["merge", "spark", "stream", "vector"],
        k=10,
    )


@query(
    "text_bpe_pair_counts",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                    ELSE list_transform(
                        string_split_regex(trim(text), '\s+'),
                        t -> lower(t)) END AS tokens
        FROM documents
    ), words AS (
        SELECT w, CAST(count(*) AS BIGINT) AS freq
        FROM (SELECT unnest(tokens) AS w FROM toks)
        GROUP BY w
    ), pairs AS (
        SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, freq
        FROM words, unnest(range(1, CAST(length(w) AS BIGINT))) AS t(i)
        WHERE length(w) >= 2
    ), scored AS (
        SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        FROM pairs GROUP BY pair
    )
    SELECT pair, n,
           CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT)
               AS rank
    FROM scored ORDER BY n DESC, pair LIMIT 30
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary induction statistic: the top-30 adjacent
    character pairs a BPE trainer would consider for its next merge,
    counted over the word-frequency dictionary (each distinct word's
    pairs weighted by its corpus frequency) — the aggregation trick
    that makes vocab training corpus-size-independent past the first
    token count. `operators/textquality.bpe_pair_counts`; integer
    counts, (n DESC, pair) deterministic rank."""
    from usgs_lidar_spark.operators.textquality import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"), top_k=30)


@query("sim_topk_ivf_pq_from_index", oracle=ORACLE["sim_topk_ivf_pq"])
def sim_topk_ivf_pq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPRESSED persisted-ANN serving path under the same hard
    oracle as `sim_topk_ivf_pq`: materialize the IVF-PQ index
    (`write_ivf_pq_index` — cells as hive partitions, vectors stored as
    PQ code arrays, codebooks as a sidecar), then serve the identical
    probe query from it (`ivf_pq_topk_from_index`). The probe scan is
    partition-pruned to its cells AND reads codes only — at 100 TB this
    form reads ~n_probe/k of a 16x-smaller-at-rest dataset, with full
    vectors touched exactly once, at build time. Same builds-once
    snapshot cache as the other index-served queries."""
    from usgs_lidar_spark.operators.similarity import (
        ivf_pq_topk_from_index,
        pq_codebooks_from_rows,
        write_ivf_pq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path, complete = _cached_index_path(
        sf_dir, "ivf_pq_idx", "embeddings", "_codebooks"
    )
    if not complete:
        seeds = [
            [float(x) for x in r["embedding"]]
            for r in emb.filter(F.col("vec_id") < 8)
            .orderBy("vec_id")
            .collect()
        ] or [[0.0] * 4]  # empty-corpus placeholder (see sim_topk_ivf_pq)
        write_ivf_pq_index(
            emb,
            [(i, v) for i, v in enumerate(seeds)],
            pq_codebooks_from_rows(seeds, n_sub=4),
            path,
        )
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_pq_topk_from_index(
        spark, path, queries_df, id_col="vec_id", vec_col="embedding",
        query_id_col="query_id", k=5, n_probe=2,
    )


@query(
    "pipe_negative_samples",
    oracle=f"""
    WITH ring AS (
        SELECT doc_id AS neg_id,
               row_number() OVER (
                   ORDER BY {_LEHMER_LONG("doc_id")}, doc_id
               ) AS pos
        FROM documents
    ), n AS (SELECT count(*) AS n FROM documents),
    probes AS (
        SELECT d.doc_id AS anchor_id,
               ({_LEHMER_LONG("d.doc_id * 1000003 + i.i", seed=1)})
                   % n.n + 1 AS pos
        FROM documents d
        CROSS JOIN n
        CROSS JOIN (SELECT unnest(range(1, 5)) AS i) i
        WHERE d.doc_id < 20 AND n.n > 0
    )
    SELECT DISTINCT p.anchor_id, r.neg_id
    FROM probes p JOIN ring r USING (pos)
    WHERE r.neg_id <> p.anchor_id
    """,
)
def pipe_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-ring negative sampling
    (`operators/pipeline.negative_samples`): 4 pseudo-random corpus
    negatives per anchor (anchors = doc_id < 20) for contrastive-pair
    construction — engine-reproducible (two-round Lehmer ring
    positions, `global_rank` dense ranks with no single-task window,
    one position-keyed equi-join; the probe side is |anchors|*k rows,
    the corpus never cross-joins)."""
    from usgs_lidar_spark.operators.pipeline import negative_samples

    docs = _t(spark, sf_dir, "documents")
    return negative_samples(
        docs, docs.filter(F.col("doc_id") < 20), k=4
    )


@query(
    "sim_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id < 50),
    c AS (SELECT vec_id, embedding FROM embeddings),
    sims AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
        {_COSINE_SQL}
        FROM c, q WHERE c.vec_id <> q.query_id
    ), nb AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sim DESC, neighbor_id) AS r
            FROM sims) WHERE r <= 5
    ), votes AS (
        SELECT nb.query_id, e.label AS nl, count(*) AS v
        FROM nb JOIN embeddings e ON nb.neighbor_id = e.vec_id
        GROUP BY 1, 2
    ), pred AS (
        SELECT query_id, nl AS pred_label FROM (
            SELECT query_id, nl,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY v DESC, nl) AS rn
            FROM votes) WHERE rn = 1
    )
    SELECT CAST(t.label AS BIGINT) AS true_label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(sum(CASE WHEN p.pred_label = t.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred p JOIN embeddings t ON p.query_id = t.vec_id
    GROUP BY t.label
    """,
)
def sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe: 5-NN majority-vote classification of
    the first 50 vectors against the labeled corpus
    (`operators/similarity.knn_classify` — deterministic (votes DESC,
    label ASC) winner over exact cosine neighbors), aggregated to a
    per-true-label accuracy report (true_label, n_eval, n_correct) —
    all integer columns, hash-stable. The neighbor stage is the
    already-oracled brute-force ranking; labels attach to nq*k rows."""
    from usgs_lidar_spark.operators.similarity import knn_classify

    emb = _t(spark, sf_dir, "embeddings")
    eval_q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    pred = knn_classify(emb, eval_q, k=5)
    truth = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
    )
    return (
        pred.join(truth, "query_id")
        .groupBy(F.col("true_label").cast("long").alias("true_label"))
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(
                    F.col("pred_label") == F.col("true_label"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
        )
    )


@query(
    "pipe_temperature_mix",
    oracle=f"""
    WITH sizes AS (
        SELECT lang AS g, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY lang
    ), weights AS (
        SELECT g, n,
               CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0) AS BIGINT)
                   AS w
        FROM sizes
    ), tot AS (SELECT CAST(sum(w) AS BIGINT) AS wsum FROM weights),
    quotas AS (
        SELECT g, n,
               CAST(CAST(200 AS BIGINT) * w // wsum AS BIGINT) AS q
        FROM weights, tot
    ), ranked AS (
        SELECT lang AS g, doc_id,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY {_LEHMER_LONG("doc_id")}, doc_id
               ) AS rn
        FROM documents
    ), kept AS (
        SELECT r.g, r.doc_id
        FROM ranked r JOIN quotas q ON r.g = q.g
        WHERE r.rn <= q.q
    )
    SELECT q.g AS lang, q.n AS n_docs, q.q AS quota,
           CAST(coalesce(k.cnt, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.sid, 0) AS BIGINT) AS kept_id_sum
    FROM quotas q
    LEFT JOIN (
        SELECT g, count(*) AS cnt, sum(doc_id) AS sid
        FROM kept GROUP BY g
    ) k ON q.g = k.g
    """,
)
def pipe_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (T = 2, alpha = 1/2) source mixing over the
    skewed per-language corpus: quotas proportional to sqrt(group size)
    upweight tail languages vs proportional sampling
    (`operators/pipeline.temperature_mix_sqrt`, budget 200). Weights
    are floor(sqrt(n)*2^20) BIGINTs (correctly-rounded sqrt +
    power-of-two multiply: no rounding decision), quotas integer
    division, selection the per-group Lehmer order — the REPORT pins
    the selected set via kept_id_sum, all bit-reproducible."""
    from usgs_lidar_spark.operators.pipeline import temperature_mix_sqrt

    return temperature_mix_sqrt(
        _t(spark, sf_dir, "documents"), budget=200, group_col="lang"
    )


