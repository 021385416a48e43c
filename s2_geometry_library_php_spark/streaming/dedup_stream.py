"""Streaming exact dedup (SURVEY.md §2.10 x §2.11 pipeline matrix).

Dedup over an unbounded document stream: each micro-batch computes the
content fingerprint (the same engine-portable md5 normalization as the
batch `exact_dedup`), and Structured Streaming's `dropDuplicates`
keeps state keyed by fingerprint so a document seen in ANY earlier
micro-batch is suppressed.

State-boundedness at 100 TB: `dropDuplicatesWithinWatermark` bounds
the fingerprint state by event time — exact within the watermark
horizon, which is the production contract for crawl streams (a
re-crawl of the same page months later is a new observation, not a
dup).  The unbounded-state variant (`exact=True`) is exact dedup over
the whole stream and is what the driver checks against the batch
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.text import fingerprint_column


def streaming_distinct_documents(
    stream_docs: DataFrame,
    text_col: str = "text",
    exact: bool = True,
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """streaming docs -> first-seen document per content fingerprint.

    Returns a streaming DataFrame (append mode) with a `fingerprint`
    column added; exactly one row per distinct fingerprint survives.
    """
    fp = stream_docs.withColumn("fingerprint", fingerprint_column(text_col))
    if exact:
        return fp.dropDuplicates(["fingerprint"])
    return fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["fingerprint"]
    )
