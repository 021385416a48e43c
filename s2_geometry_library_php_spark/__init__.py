"""PySpark-native S2 spatial-join + tiling engine.

A from-scratch, Spark-first re-expression of the query semantics of
``sjoller/s2-geometry-library-php`` (an S2 geometry port): Hilbert-curve
cell ids, region coverings, containment predicates, spatial joins, kNN,
and multi-resolution tiling — implemented as

* ``s2core``    — pure numpy vectorized geometry kernels (single source
                  of truth for both the Arrow UDFs and the driver-side
                  coverer),
* ``functions`` — Spark Column builders (native JVM bit ops) and
                  Arrow UDFs wrapping ``s2core``,
* ``operators`` — spatial join, kNN, tiling/rollup, dedup, similarity,
* ``sources``   — document/region loaders over the driver test parquet,
* ``plans``     — SparkSession factory, lineage checkpointing,
* ``streaming`` — Structured Streaming incremental tiling.

Reference semantics are cited per-function as ``file:line`` into
``/root/reference`` (study-only; this is not a port of its execution
model).
"""

__version__ = "0.1.0"
