from .spatial_join import build_covering_table, spatial_join  # noqa: F401
from .tiling import (  # noqa: F401
    rasterize_tiles,
    tile_aggregate,
    tile_polygons,
    tile_rollup,
    vectorize_raster,
)
from .radius_join import self_radius_pairs, within_radius_join  # noqa: F401
from .knn import knn_join  # noqa: F401
from .region_distance import knn_regions  # noqa: F401
from .measures import region_measures, tile_clipped_measures  # noqa: F401
from .polyline_join import (  # noqa: F401
    polyline_proximity_join,
    polyline_project_join,
    polyline_region_crossing_join,
    polyline_self_crossing_join,
)
from .similarity import (  # noqa: F401
    ann_ivf_topk,
    ann_lsh_stats,
    ann_lsh_topk,
    cosine_topk_brute,
    embedding_near_dup_pairs,
)
from .scan import global_running_sum, pack_sequences  # noqa: F401
from .sampling import sample_priority_column  # noqa: F401
from .corpus_pipeline import (  # noqa: F401
    annotate_corpus,
    clean_corpus,
    min_label_components,
)
