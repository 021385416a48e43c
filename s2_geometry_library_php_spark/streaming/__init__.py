from .incremental_tiles import incremental_tile_stream  # noqa: F401
from .stateful import tile_running_stats  # noqa: F401
from .dedup_stream import streaming_distinct_documents  # noqa: F401
from .sessionize_stream import user_sessionize_stream  # noqa: F401
from .spatial_join_stream import streaming_spatial_join  # noqa: F401
