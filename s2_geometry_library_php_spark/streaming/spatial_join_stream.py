"""Streaming spatial join (SURVEY.md §2.10 extension): the flagship
point-in-region covering join run inside a structured stream.

Every stage of the batch operator is stateless per row — the bbox
prefilter is a whole-stage-codegen scalar predicate, and the covering
lookup and refine are one deterministic Arrow UDF whose closure holds
the driver-built coverings (batch-built exactly as in the batch plan),
exploded into one row per containing region.  The identical plan
therefore lifts into a micro-batch stream with no state store and no
watermark, and an ``availableNow`` pass over a static source is
row-for-row the batch join — the equality the driver's oracle checks.

At scale this is the shape for joining a live crawl firehose against
a (slowly-changing) region dimension: per-batch work is proportional
to batch size only, the coverings ship once per executor in the UDF's
closure, and nothing accumulates on the stream side.
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
    max_cells: int = 8,
) -> DataFrame:
    """Streaming docs (carrying lat/lon degree columns) x regions
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
        max_cells=max_cells,
    )
