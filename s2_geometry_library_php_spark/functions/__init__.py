from .sql_bitops import (  # noqa: F401
    s2_contains_range,
    s2_is_leaf,
    s2_level,
    s2_parent,
    s2_range_max,
    s2_range_min,
    s2_token_sql,
    s2_unsigned_order,
    sql_s2_level,
    sql_s2_parent,
    sql_s2_range_max,
    sql_s2_range_min,
    sql_s2_token,
)
from .udfs import (  # noqa: F401
    s2_all_neighbors_udf,
    s2_cell_center_lat,
    s2_cell_center_lng,
    s2_cell_id,
    s2_cell_vertices_udf,
    s2_distance_rad,
)
