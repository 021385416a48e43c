"""Pure numpy S2 geometry kernels (no Spark imports here).

Everything is vectorized over numpy arrays; uint64 is used internally
for cell ids and reinterpreted to int64 at the Arrow/Spark boundary.
``arrow_io`` is that boundary: the Arrow buffer reads and writes every
S2 UDF shares, with no pandas import.
"""

from .cellid import (  # noqa: F401
    MAX_LEVEL,
    MAX_SIZE,
    cell_id_from_latlng_degrees,
    cell_id_from_latlng_radians,
    cell_id_from_point,
    cell_id_to_center_latlng,
    cell_id_to_point_raw,
    cell_to_face_ij_orientation,
    child_begin,
    child_end,
    edge_neighbors,
    all_neighbors,
    id_from_token,
    is_leaf,
    level_of,
    lowest_on_bit,
    lowest_on_bit_for_level,
    parent,
    range_max,
    range_min,
    token_from_id,
    vertex_neighbors,
)
from .geom import (  # noqa: F401
    angle_between,
    latlng_to_xyz,
    robust_ccw,
    xyz_to_latlng,
)
from .metric import MIN_WIDTH, AVG_AREA, Metric  # noqa: F401
from .angle import S1Angle, R2Vector  # noqa: F401
