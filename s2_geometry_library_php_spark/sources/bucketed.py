"""Bucketed tables: shuffle-free co-located joins on stable keys.

At the target scale the documents table is written ONCE bucketed by
its spatial key (a coarse cell prefix / tile id), and every subsequent
join or aggregation on that key — per-tile stats joins, tile x tile
delta comparisons between crawl snapshots, region-assignment refreshes
— reads both sides pre-partitioned and pre-sorted: the sort-merge join
plans with ZERO Exchange nodes, so the dominant cost of the repeated
query (the full-table shuffle) is paid once at write time instead of
once per query.

This is the persistent sibling of the in-query strategies the engine
already uses (broadcast for dimension-sized sides, salting + AQE for
skew): bucketing wins when the SAME big-big join key recurs across
many jobs, which is exactly the crawl-snapshot workload shape.

No reference counterpart (the reference is a single-node geometry
library); this is Spark-native storage-layout engineering required by
the 100-TB deployment story (SURVEY §6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int,
    path: str | None = None,
    mode: str = "overwrite",
    sort: bool = True,
) -> None:
    """Persist ``df`` as a parquet table bucketed (and by default
    sorted) on ``key``.  ``path`` makes the table external — the
    catalog keeps only the bucket spec; data lives at ``path``.

    ``n_buckets`` is a layout commitment: both sides of a co-located
    join must agree on it, and at 100 TB it should be sized so one
    bucket (~table_size / n_buckets) fits an executor's scan+sort
    budget — a few GB, i.e. tens of thousands of buckets, NOT the
    shuffle-partition count of any one job."""
    keys = [key] if isinstance(key, str) else list(key)
    writer = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        writer = writer.sortBy(*keys)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)
