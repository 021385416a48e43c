"""Local replica of the driver's correctness gate: run each
``queries()`` entry on Spark at sf0.01 and its ``oracle_sql()`` twin in
DuckDB, compare row multisets (column-name-sorted, order-insensitive).

Usage: python tools/check_oracles.py [--exact] [query ...]

``--exact`` (or CHECK_ORACLES_EXACT=1) compares floats by full bit
value (`==`, no 9-digit rounding) — the driver's hash discipline.
The default rounds floats to 9 digits, which can HIDE a mismatch the
driver would flag; run --exact before shipping a query.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

#: driver gate runs at sf0.01; override for scale cross-checks
SF = os.environ.get("CHECK_ORACLES_SF", "/root/testdata/sf0.01")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


EXACT = os.environ.get("CHECK_ORACLES_EXACT", "") == "1"


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v if EXACT else round(v, 9)
    return v


def rows_to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm_cell(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def print_versions(spark) -> None:
    """The engine versions the hashes depend on, and where a Python
    worker imported pyspark from: the installed package or Spark's
    shipped pyspark.zip."""
    import numpy
    import pyarrow
    import pyspark
    from pyspark.sql import functions as F

    @F.pandas_udf("string")
    def pyspark_origin(x: pd.Series) -> pd.Series:
        import pyspark

        return pd.Series([pyspark.__file__] * len(x))

    worker = spark.range(1).select(pyspark_origin("id")).first()[0]
    where = "zip" if ".zip" + os.sep in worker else "installed"
    print(
        f"versions: pyspark {pyspark.__version__}, duckdb {duckdb.__version__}, "
        f"pyarrow {pyarrow.__version__}, pandas {pd.__version__}, "
        f"numpy {numpy.__version__}"
    )
    print(f"worker pyspark: {where} ({os.path.dirname(worker)})")


def main() -> None:
    import __spark_entry__ as entrymod
    from s2_geometry_library_php_spark.plans import get_spark

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'"
        )

    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    print_versions(spark)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    args = [a for a in sys.argv[1:] if a != "--exact"]
    if "--exact" in sys.argv[1:]:
        global EXACT
        EXACT = True
    only = set(args)
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:24s} SPARK ERROR: {str(e)[:300]}")
            continue
        if name not in oracles:
            print(f"{name:24s} rows-only: {len(spark_rows)} rows, schema {spark_cols}")
            continue
        try:
            rel = con.sql(oracles[name])
            duck_cols = [d[0] for d in rel.description]
            duck_rows = rel.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"{name:24s} DUCKDB ERROR: {str(e)[:300]}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(name)
            print(f"{name:24s} SCHEMA MISMATCH spark={spark_cols} duck={duck_cols}")
            continue
        a = rows_to_multiset(spark_cols, spark_rows)
        b = rows_to_multiset(duck_cols, duck_rows)
        if a == b:
            print(f"{name:24s} OK ({len(spark_rows)} rows)")
        else:
            failures.append(name)
            extra = [k for k in a if a.get(k) != b.get(k)][:3]
            missing = [k for k in b if a.get(k) != b.get(k)][:3]
            print(
                f"{name:24s} VALUE MISMATCH rows spark={len(spark_rows)} "
                f"duck={len(duck_rows)}\n  spark-side sample: {extra}\n  duck-side sample: {missing}"
            )
    spark.stop()
    if failures:
        print("FAILED:", failures)
        sys.exit(1)
    print("ALL ORACLES OK")


if __name__ == "__main__":
    main()
