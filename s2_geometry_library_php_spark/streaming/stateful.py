"""Custom stateful streaming operator via applyInPandasWithState
(SURVEY.md §2.10 — the engine's extension beyond the reference's
batch-only surface).

``tile_running_stats``: per-S2-tile RUNNING document count and
centroid over an unbounded stream.  Unlike the windowed aggregation in
``incremental_tiles`` (state keyed by (window, tile), evicted by
watermark), this keeps ONE state row per tile for the lifetime of the
stream — the shape needed for "tiles seen so far" dashboards and
incremental tile materialization.

State per tile: (count, sum_x, sum_y, sum_z) — centroids add linearly
(S2.php:369-399), so cross-batch merging is exact.  Output mode
"update": each micro-batch emits the refreshed rows for tiles it
touched.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.sql_bitops import s2_parent
from ..functions.udfs import s2_cell_id
from ..s2core import cellid as cid

STATE_SCHEMA = StructType(
    [
        StructField("count", LongType()),
        StructField("sx", DoubleType()),
        StructField("sy", DoubleType()),
        StructField("sz", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("tile_id", LongType()),
        StructField("tile_token", StringType()),
        StructField("doc_count", LongType()),
        StructField("centroid_lat", DoubleType()),
        StructField("centroid_lon", DoubleType()),
    ]
)


def _update_tile(key, pdf_iter, state: GroupState):
    # the key arrives as a numpy scalar (dtype varies by Arrow
    # version); normalize to a python int for the bit ops
    tile_id = int(key[0])
    if state.exists:
        count, sx, sy, sz = state.get
    else:
        count, sx, sy, sz = 0, 0.0, 0.0, 0.0
    for pdf in pdf_iter:
        lat = pdf["lat"].astype("float64") * (math.pi / 180.0)
        lon = pdf["lon"].astype("float64") * (math.pi / 180.0)
        import numpy as np

        cos_lat = np.cos(lat)
        count += len(pdf)
        sx += float((np.cos(lon) * cos_lat).sum())
        sy += float((np.sin(lon) * cos_lat).sum())
        sz += float(np.sin(lat).sum())
    state.update((count, sx, sy, sz))
    clat = math.degrees(math.atan2(sz, math.hypot(sx, sy)))
    clon = math.degrees(math.atan2(sy, sx))
    yield pd.DataFrame(
        {
            "tile_id": [tile_id],
            "tile_token": cid.token_from_id(cid.from_signed(tile_id)),
            "doc_count": [count],
            "centroid_lat": [clat],
            "centroid_lon": [clon],
        }
    )


def tile_running_stats(
    stream_docs: DataFrame, tile_level: int = 8
) -> DataFrame:
    """streaming docs (lat/lon columns) -> running per-tile stats.

    Returns a streaming DataFrame for ``.writeStream`` in ``update``
    mode.  State is one row per occupied tile (bounded by 6*4^level,
    in practice by the occupied-tile count)."""
    encoded = stream_docs.withColumn(
        "cell_id", s2_cell_id("lat", "lon")
    ).withColumn("tile_id", s2_parent(F.col("cell_id"), tile_level))
    return (
        encoded.select("tile_id", "lat", "lon")
        .groupBy("tile_id")
        .applyInPandasWithState(
            _update_tile,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


__all__ = ["tile_running_stats", "OUTPUT_SCHEMA", "STATE_SCHEMA"]
