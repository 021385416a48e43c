"""Distributed prefix scan + training-sequence packing.

``pack_sequences`` implements the packing step of an LM pretraining
pipeline: documents are concatenated in a deterministic global order
and cut into fixed ``budget``-token training sequences, so each
document gets the pack (sequence) index where it starts, its token
offset inside that pack, and whether it straddles a pack boundary.
That is exactly a **global running sum** of token counts in document
order — the one primitive Spark's Window API only offers as a
single-partition global window (``Window.orderBy`` with no
partitioning collapses ALL rows into one task: the plan that dies at
scale, and Spark even warns about it).

``global_running_sum`` is the scale-safe decomposition — the classic
two-phase parallel scan (Blelloch 1990), in DataFrame form:

1. assign each row an *order bucket* — a monotone function of the
   order key built from one-pass approximate quantiles, so buckets
   are balanced regardless of key distribution/sparsity;
2. per-bucket totals: one partial-agg ``groupBy`` whose OUTPUT is
   ~``n_buckets`` rows (collected driver-side — partition-count
   sized, never data-sized) → exclusive prefix offsets per bucket;
3. per-bucket running sum: a ``Window.partitionBy(bucket)
   .orderBy(order)`` — each bucket is an independent task — plus the
   broadcast bucket offset.

Cost: two hash shuffles (bucket agg + bucket window) and a
``n_buckets``-row driver exchange, against the unbounded
single-task sort of the naive form.  Results are a pure function of
``(order key, value)`` — bucket boundaries affect balance only, and
a property test asserts n_buckets-invariance.

The order key must be UNIQUE (ties would make "running" ambiguous);
``doc_id`` is the natural key.  No reference counterpart (the
reference is a geometry library); this is the LLM-data-pipeline
layer (SURVEY "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..plans.session import local_relation

DEFAULT_BUDGET = 2048


def _order_bucket(
    df: DataFrame, order_col: str, n_buckets: int
) -> Column:
    """A monotone-in-``order_col`` bucket index in [0, n_buckets):
    the count of one-pass approximate quantile boundaries below the
    key.  Monotonicity is what keeps the scan exact — boundaries only
    steer balance."""
    if n_buckets <= 1:
        return F.lit(0)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    qs = sorted(set(df.approxQuantile(order_col, probs, 0.001)))
    b: Column = F.lit(0)
    for q in qs:
        b = b + (F.col(order_col) > F.lit(q)).cast("int")
    return b


def global_running_sum(
    df: DataFrame,
    order_col: str,
    value_col: str,
    n_buckets: int | None = None,
    out_col: str = "cum_before",
) -> DataFrame:
    """``df`` plus ``out_col`` = the EXCLUSIVE running sum of
    ``value_col`` over the global ``order_col`` order (sum of all
    strictly-earlier rows).  See the module docstring for the
    decomposition; ``order_col`` values must be unique."""
    spark = df.sparkSession
    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    bucketed = df.withColumn(
        "__bucket", _order_bucket(df, order_col, int(n_buckets))
    )
    totals = (
        bucketed.groupBy("__bucket")
        .agg(F.sum(value_col).alias("__total"))
        .collect()
    )
    running = 0
    offsets = []
    for r in sorted(totals, key=lambda r: r["__bucket"]):
        offsets.append((r["__bucket"], running))
        running += r["__total"] or 0
    off_df = local_relation(spark, offsets, "__bucket int, __offset long")
    w = Window.partitionBy("__bucket").orderBy(F.col(order_col).asc())
    return (
        bucketed.join(F.broadcast(off_df), "__bucket")
        .withColumn(
            out_col,
            (
                F.sum(value_col).over(w)
                - F.col(value_col)
                + F.col("__offset")
            ).cast("long"),
        )
        .drop("__bucket", "__offset")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = DEFAULT_BUDGET,
    token_col: str | None = None,
    order_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Assign every document its training-pack coordinates under
    concatenate-then-cut packing: ``pack_id`` (the ``budget``-token
    sequence where the document starts), ``pack_offset`` (token
    offset inside that pack) and ``spans_packs`` (True when the
    document straddles a boundary and will be split across
    sequences).  Adds ``n_tokens`` from the standard whitespace
    tokenizer when ``token_col`` is not given."""
    if budget <= 0:
        raise ValueError(f"budget must be positive, got {budget}")
    if token_col is None:
        from ..functions.text import token_count_column

        docs = docs.withColumn("n_tokens", token_count_column(text_col))
        token_col = "n_tokens"
    out = global_running_sum(
        docs, order_col, token_col, n_buckets=n_buckets
    )
    b = F.lit(int(budget))
    return (
        out.withColumn(
            "pack_id", F.floor(F.col("cum_before") / b).cast("long")
        )
        .withColumn("pack_offset", F.pmod(F.col("cum_before"), b))
        .withColumn(
            "spans_packs",
            F.col("pack_offset") + F.col(token_col) > b,
        )
        .drop("cum_before")
    )
