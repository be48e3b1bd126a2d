"""Engine operators: voxel aggregation, spatial predicates/joins, as-of
joins, dedup, similarity search, terrain derivatives, skew utilities.
Each module documents the reference behavior it re-expresses (file:line
into /root/reference) and the Spark physical plan it produces at scale."""

from usgs_lidar_spark.operators.asof import asof_join, nearest_join  # noqa: F401
from usgs_lidar_spark.operators.cdc import (  # noqa: F401
    apply_changelog,
    attribute_history,
    snapshot_diff,
)
from usgs_lidar_spark.operators.dedup import (  # noqa: F401
    char_shingles,
    duplicate_ngram_spans,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_lsh_pairs_incremental,
    ngram_jaccard_pairs,
)
from usgs_lidar_spark.operators.graph import (  # noqa: F401
    collapse_clusters,
    connected_components,
    copurchase_edges,
    pagerank_fixed,
    triangle_count,
)
from usgs_lidar_spark.operators.pipeline import curriculum_order  # noqa: F401
from usgs_lidar_spark.operators.redact import PII_PATTERNS, redact_pii  # noqa: F401
from usgs_lidar_spark.operators.ranking import (  # noqa: F401
    global_rank,
    histogram_equidepth,
)
from usgs_lidar_spark.operators.retrieval import (  # noqa: F401
    append_to_term_index,
    bm25_topk,
    bm25_topk_from_index,
    bm25_topk_pruned,
    phrase_match,
    proximity_match,
    rrf_fuse,
    term_doc_index,
    tfidf_topk,
    write_term_index,
)
from usgs_lidar_spark.operators.rollup import merge_rollup, rollup_state  # noqa: F401
from usgs_lidar_spark.operators.textquality import (  # noqa: F401
    chunk_documents,
    corpus_freq_score,
    repetition_metrics,
)
from usgs_lidar_spark.operators.similarity import (  # noqa: F401
    cosine_range_search,
    cosine_topk_bruteforce,
    cosine_topk_lsh,
    embed_moments,
    embed_standardize,
    append_to_ivf_index,
    ivf_topk_from_index,
    read_ivf_centroids,
    write_ivf_index,
    sq8_bounds,
    sq8_clip_metrics,
    sq8_encode,
    sq8_topk,
)
from usgs_lidar_spark.operators.skew import salted_count_distinct, salted_sum  # noqa: F401
from usgs_lidar_spark.operators.spatial import (  # noqa: F401
    bbox_contains,
    filter_within_polygon,
    point_in_polygon,
    polygon_bbox,
)
from usgs_lidar_spark.operators.terrain import idw_regrid, neighbor_pivot, twi_grid  # noqa: F401
from usgs_lidar_spark.operators.voxel import voxel_downsample, voxel_keys  # noqa: F401
