"""Deterministic sampling priority (operators/sampling.py): hash
parity across Spark / DuckDB / Python, and the IVF training sample."""

import duckdb
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.operators.sampling import (
    DEFAULT_SALT,
    MIX_C1,
    MODULUS,
    sample_priority_column,
    sample_priority_duckdb,
)


def _py_priority(i, salt=DEFAULT_SALT):
    x = i % MODULUS
    y = (x * x + MIX_C1) % MODULUS
    return (y * y + salt) % MODULUS


def test_priority_three_way_parity(spark):
    ids = [0, 1, 7, 12345, MODULUS - 1, MODULUS, MODULUS + 5, 2**62,
           -5, -(2**40)]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: r["p"]
        for r in df.select(
            "doc_id", sample_priority_column("doc_id").alias("p")
        ).collect()
    }
    con = duckdb.connect()
    expr = sample_priority_duckdb("doc_id")
    for i in ids:
        want = _py_priority(i)
        assert got[i] == want
        (d,) = con.execute(
            f"SELECT {expr} FROM (SELECT CAST(? AS BIGINT) AS doc_id)", [i]
        ).fetchone()
        assert d == want, i


def test_ivf_training_sample_twin_parity_and_bound(spark):
    """sample_training_vectors (Spark TakeOrderedAndProject path) and
    training_sample_mask (numpy oracle twin) pick the IDENTICAL id
    set, and the collect is capped at per_list * n_lists rows."""
    import numpy as np

    from s2_geometry_library_php_spark.operators.similarity import (
        sample_training_vectors,
        training_sample_mask,
    )

    n, dim, n_lists, per_list = 700, 4, 4, 32
    df = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(*[
            (F.col("id") * (j + 1) % 97).cast("float") for j in range(dim)
        ]).alias("embedding"),
    )
    ids, vecs = sample_training_vectors(
        df, n_lists, per_list=per_list
    )
    cap = per_list * n_lists
    assert len(ids) == cap and vecs.shape == (cap, dim)
    # ids come back sorted (fixes the k-means init order)
    assert list(ids) == sorted(ids)
    # twin selects the identical id set
    all_ids = np.arange(n, dtype=np.int64)
    mask = training_sample_mask(all_ids, n_lists, per_list=per_list)
    assert mask.sum() == cap
    assert set(all_ids[mask].tolist()) == set(ids.tolist())
    # keeper set == the cap smallest (priority, id) pairs
    want = sorted(range(n), key=lambda i: (_py_priority(i), i))[:cap]
    assert set(ids.tolist()) == set(want)
    # plan bound: orderBy+limit must be TakeOrderedAndProject (every
    # partition keeps <= cap rows; driver merges top-Ks), not a sort
    from s2_geometry_library_php_spark.operators.sampling import (
        sample_priority_column as _pri,
    )
    plan = (
        df.select("vec_id", "embedding")
        .orderBy(_pri("vec_id"), F.col("vec_id"))
        .limit(cap)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_ivf_training_sample_smaller_than_cap_keeps_all(spark):
    from s2_geometry_library_php_spark.operators.similarity import (
        sample_training_vectors,
    )

    df = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float")).alias("embedding"),
    )
    ids, vecs = sample_training_vectors(df, 16)  # cap 4096 >> 10
    assert len(ids) == 10 and list(ids) == list(range(10))
