"""rindex_spark — a PySpark-native spatial-join + kNN-graph engine.

A from-scratch distributed re-architecture of the capabilities of
azizkayumov/rindex (an SS/RdNN-tree dynamic kNN-graph library, see
/root/reference/lib/src/rindex.rs): instead of a mutable in-memory tree,
the engine indexes points on a flat integer cell grid (H3/S2-style, but
zero-dependency), expresses every query as DataFrame joins + window
top-k, and maintains the kNN graph incrementally over insert/delete
micro-batches.

Public surface (reference parity, SURVEY.md §2):
  - build_knn_graph / knn_for_queries  (insert-time kNN maintenance +
    query_neighbors, rindex.rs:92-109 / :197-214)
  - range_join                         (query, rindex.rs:153-180)
  - reverse_knn                        (query_reverse, rindex.rs:231-241)
  - neighbors_of / knn_dist_of         (rindex.rs:272-288 / :306-313)
  - cell_stats / index_stats           (debug dump, rindex.rs:349-360)
  - apply_ops_batches                  (insert/delete, rindex.rs:92-135)
plus the training-data pipeline layer: dedup (exact / minhash-LSH /
simhash / n-gram jaccard / embedding), ANN search, text analysis,
URL/host analysis (Zipfian-host profiling + per-host caps),
multimodal plumbing, tiling (point-in-polygon), raster<->vector.
"""

from rindex_spark.config import EngineConfig, GridSpec
from rindex_spark.functions.web import (
    canonical_url,
    hot_hosts,
    host_stats,
    host_stats_approx,
    per_host_cap,
    registered_domain,
    url_host,
)
from rindex_spark.grid import (
    cluster_by_zorder,
    grid_and_extent,
    infer_grid,
    z_order_key,
)
from rindex_spark.operators.ann import (
    cosine_topk,
    embedding_near_dup,
    ivf_cosine_topk,
    lsh_cosine_topk,
)
from rindex_spark.operators.dedup import (
    benchmark_contamination,
    connected_components,
    decontaminate,
    dedup_canonical,
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from rindex_spark.operators.knn import build_knn_graph, knn_for_queries
from rindex_spark.operators.range_query import range_join
from rindex_spark.operators.raster import (
    raster_to_cells_vector,
    rasterize_points,
    rasterize_polygons,
)
from rindex_spark.operators.rknn import reverse_knn, rknn_stats
from rindex_spark.operators.sampling import sample_to_token_budget
from rindex_spark.operators.sessions import session_stats, sessionize
from rindex_spark.operators.temporal import asof_join, interval_join
from rindex_spark.operators.tiling import assign_tiles, tile_pyramid
from rindex_spark.operators.stats import cell_stats, index_stats, knn_dist_of, neighbors_of
from rindex_spark.plans.cache import release_cached

__version__ = "0.4.0"

__all__ = [
    "EngineConfig",
    "GridSpec",
    "infer_grid",
    "grid_and_extent",
    "url_host",
    "registered_domain",
    "host_stats",
    "host_stats_approx",
    "hot_hosts",
    "canonical_url",
    "per_host_cap",
    "build_knn_graph",
    "knn_for_queries",
    "release_cached",
    "range_join",
    "reverse_knn",
    "rknn_stats",
    "sample_to_token_budget",
    "cell_stats",
    "index_stats",
    "knn_dist_of",
    "neighbors_of",
    "cosine_topk",
    "lsh_cosine_topk",
    "ivf_cosine_topk",
    "embedding_near_dup",
    "benchmark_contamination",
    "decontaminate",
    "dedup_exact",
    "connected_components",
    "dedup_canonical",
    "minhash_lsh_pairs",
    "ngram_jaccard_pairs",
    "simhash_pairs",
    "asof_join",
    "interval_join",
    "sessionize",
    "session_stats",
    "assign_tiles",
    "tile_pyramid",
    "z_order_key",
    "cluster_by_zorder",
    "rasterize_points",
    "raster_to_cells_vector",
    "rasterize_polygons",
    "__version__",
]
