"""Streaming spatial join (SURVEY.md §2.10 extension): the flagship
point-in-region covering join run inside a structured stream.

Every stage of the batch operator is stateless per row — the bbox
prefilter is a whole-stage-codegen scalar predicate, the prefix-array
explode is a narrow projection, the covering join is a broadcast
stream-STATIC equi-join (the region dimension is batch-built exactly
as in the batch plan), and the refine kernel is a deterministic Arrow
UDF.  The identical plan therefore lifts into a micro-batch stream
with no state store and no watermark, and an ``availableNow`` pass
over a static source is row-for-row the batch join — the equality the
driver's oracle checks.

At scale this is the shape for joining a live crawl firehose against
a (slowly-changing) region dimension: per-batch work is proportional
to batch size only, the broadcast covering table is reused across
micro-batches, and nothing accumulates on the stream side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.spatial_join import spatial_join


def streaming_spatial_join(
    spark: SparkSession,
    stream_docs: DataFrame,
    regions: list[dict],
    lat_col: str = "lat",
    lon_col: str = "lon",
    leaf_col: str = "cell_id",
    max_cells: int = 8,
) -> DataFrame:
    """Streaming docs (carrying lat/lon + leaf ``cell_id``) x regions
    -> streaming (docs columns + region_id), ready for writeStream in
    append mode (stateless: every output row is final on arrival)."""
    if not stream_docs.isStreaming:
        raise ValueError(
            "streaming_spatial_join expects a streaming DataFrame; "
            "use operators.spatial_join for batch inputs"
        )
    return spatial_join(
        spark,
        stream_docs,
        regions,
        lat_col=lat_col,
        lon_col=lon_col,
        leaf_col=leaf_col,
        max_cells=max_cells,
    )
