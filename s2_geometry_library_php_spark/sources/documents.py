"""Documents source: the Common-Crawl-style corpus table.

``BASELINE.json`` input_hint specifies ``(url, warc_ts, html, text,
lang)``; the sandbox stand-in is ``documents.parquet`` with
``(doc_id, text, lang, source, n_chars)`` (FIXTURES.md §1).  This
loader derives the missing columns deterministically:

* ``url``      — pure SQL from doc_id,
* ``warc_ts``  — base epoch 2025-02-13 + (doc_id mod 86400) seconds,
* ``html``     — templated page embedding ``text`` (so that
                 ``extract_text(html)`` must return ``text``
                 byte-identically per url),
* ``lat, lon`` — deterministic integer-hash geocode, uniform over
                 [-89.9, 89.9] x [-179.9, 179.9] with a skewed 20%
                 mass clustered in 3 hot tiles (skew/salting tests).

The geocode/url expressions are single SQL strings valid in BOTH
Spark SQL and DuckDB — that shared text is what makes the driver's
oracle comparisons exact for every downstream operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

# --- deterministic geocoder (Knuth multiplicative hashes; all int64
# arithmetic overflow-free so Spark and DuckDB agree exactly) -----------------
# NOTE: every fractional constant uses `e0` scientific notation —
# both Spark SQL and DuckDB parse `179.8` as DECIMAL (different
# precision rules per engine) but `179.8e0` as DOUBLE, which is what
# makes the two engines produce bit-identical results.
_H1 = "(((doc_id % 100000007) * 2654435761) % 4294967296)"
_H2 = "((((doc_id % 100000007) + 12345) * 2246822519) % 4294967296)"
_U1 = f"({_H1} / 4294967296e0)"  # uniform [0,1), exact double (den = 2^32)
_U2 = f"({_H2} / 4294967296e0)"

# 3 hot tiles: Paris, NYC, Tokyo. 20% of docs (doc_id % 5 = 0) collapse
# into a +-0.25 degree jitter box around one of them.
_HOT_LAT = "CASE WHEN doc_id % 3 = 0 THEN 48.85e0 WHEN doc_id % 3 = 1 THEN 40.71e0 ELSE 35.68e0 END"
_HOT_LON = "CASE WHEN doc_id % 3 = 0 THEN 2.35e0 WHEN doc_id % 3 = 1 THEN -74.0e0 ELSE 139.69e0 END"

GEOCODE_LAT_SQL = (
    f"(CASE WHEN doc_id % 5 = 0 THEN ({_HOT_LAT}) + ({_U1} - 0.5e0) * 0.5e0 "
    f"ELSE -89.9e0 + 179.8e0 * {_U1} END)"
)
GEOCODE_LON_SQL = (
    f"(CASE WHEN doc_id % 5 = 0 THEN ({_HOT_LON}) + ({_U2} - 0.5e0) * 0.5e0 "
    f"ELSE -179.9e0 + 359.8e0 * {_U2} END)"
)

URL_SQL = "concat('https://host', CAST(doc_id % 97 AS STRING), '.example/d/', CAST(doc_id AS STRING))"
# DuckDB needs VARCHAR instead of STRING in CAST:
URL_SQL_DUCKDB = (
    "concat('https://host', CAST(doc_id % 97 AS VARCHAR), '.example/d/', "
    "CAST(doc_id AS VARCHAR))"
)

WARC_TS_SQL = "timestamp'2025-02-13 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, doc_id % 86400)"

_HTML_PREFIX = '<html><head><title>s2doc</title></head><body><nav>boilerplate nav</nav><article><p>'
_HTML_SUFFIX = "</p></article><footer>(c) example</footer></body></html>"


@F.pandas_udf(StringType())
def synth_html(text: pd.Series) -> pd.Series:
    """Deterministic page template around the text (FIXTURES.md §1)."""
    return _HTML_PREFIX + text + _HTML_SUFFIX


@F.pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    """Byte-identical main-text extraction: pure deterministic function
    of html (BASELINE.json per-row invariant).  Strips the known
    boilerplate template; falls back to tag-stripping the <article>
    body for non-templated pages."""
    import re

    def _one(h: str) -> str:
        if h is None:
            return None
        if h.startswith(_HTML_PREFIX) and h.endswith(_HTML_SUFFIX):
            return h[len(_HTML_PREFIX) : -len(_HTML_SUFFIX)]
        m = re.search(r"<article>(?:<p>)?(.*?)(?:</p>)?</article>", h, re.S)
        body = m.group(1) if m else re.sub(r"<[^>]+>", " ", h)
        return body

    return html.map(_one)


def derive_corpus_columns(df: DataFrame) -> DataFrame:
    """Attach the deterministic url/warc_ts/geocode derivations to any
    documents-shaped frame (works identically on batch and streaming
    inputs — every expression is stateless per-row scalar SQL)."""
    return (
        df.withColumn("url", F.expr(URL_SQL))
        .withColumn("warc_ts", F.expr(WARC_TS_SQL))
        .withColumn("lat", F.expr(GEOCODE_LAT_SQL))
        .withColumn("lon", F.expr(GEOCODE_LON_SQL))
    )


def load_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet -> full corpus schema with derived columns.

    Plan shape: a single narrow Project over the parquet scan (all
    derivations are scalar SQL except the html template UDF, which is
    only materialized when selected — Catalyst prunes it otherwise).
    """
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return derive_corpus_columns(df)


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming twin of :func:`load_documents`: the same
    parquet treated as a file-stream source (schema pinned from the
    batch reader), with identical derived columns.

    The file-stream source requires a *directory* basePath, so the
    single table file is exposed through a scratch directory holding a
    symlink (one per sf_dir, reused across calls)."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/documents.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"s2stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    # lexists (not exists): a BROKEN symlink — source recreated at a
    # new path, or tmp cleaned mid-way — reports exists()==False but
    # still blocks os.symlink, so remove any stale link first.
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(src):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass
    schema = spark.read.parquet(src).schema
    df = spark.readStream.schema(schema).format("parquet").load(stage)
    return derive_corpus_columns(df)


def stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Generic file-stream source over one testdata parquet table
    (same symlink staging as :func:`stream_documents`, no derived
    columns)."""
    import hashlib
    import os
    import tempfile

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    tag = hashlib.md5(src.encode()).hexdigest()[:12]
    stage = os.path.join(tempfile.gettempdir(), f"s2stream_{tag}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(src):
        os.unlink(link)
    if not os.path.lexists(link):
        try:
            os.symlink(src, link)
        except FileExistsError:
            pass
    schema = spark.read.parquet(src).schema
    return spark.readStream.schema(schema).format("parquet").load(stage)


def geocode_numpy(doc_id: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Numpy twin of GEOCODE_*_SQL — identical double arithmetic, used
    to generate kernel-backed oracle fixtures.  Must stay in lockstep
    with the SQL text (tests cross-check)."""
    doc_id = np.asarray(doc_id, dtype=np.int64)
    m = doc_id % 100000007
    h1 = (m * 2654435761) % 4294967296
    h2 = ((m + 12345) * 2246822519) % 4294967296
    u1 = h1 / 4294967296.0
    u2 = h2 / 4294967296.0
    hot = doc_id % 5 == 0
    c = doc_id % 3
    hot_lat = np.where(c == 0, 48.85, np.where(c == 1, 40.71, 35.68))
    hot_lon = np.where(c == 0, 2.35, np.where(c == 1, -74.0, 139.69))
    lat = np.where(hot, hot_lat + (u1 - 0.5) * 0.5, -89.9 + 179.8 * u1)
    lon = np.where(hot, hot_lon + (u2 - 0.5) * 0.5, -179.9 + 359.8 * u2)
    return lat, lon


# --- region dimension fixtures (FIXTURES.md §2) --------------------------------
def region_fixtures() -> list[dict]:
    """Deterministic region set: 3 caps, 3 rects (antimeridian + pole),
    4 single-loop polygons, 2 multi-loop polygons."""
    d = np.degrees
    r = np.radians
    out = [
        # caps: small ~10km, medium ~500km, hemisphere-scale
        dict(region_id=1, kind="cap", params=[48.8566, 2.3522, 10e3 / 6371e3], loop_offsets=None),
        dict(region_id=2, kind="cap", params=[40.7128, -74.0060, 500e3 / 6371e3], loop_offsets=None),
        dict(region_id=3, kind="cap", params=[-10.0, 120.0, float(r(55.0))], loop_offsets=None),
        # rects: plain, antimeridian-crossing, pole-touching
        dict(region_id=4, kind="rect", params=[float(r(35.0)), float(r(45.0)), float(r(-10.0)), float(r(10.0))], loop_offsets=None),
        dict(region_id=5, kind="rect", params=[float(r(-15.0)), float(r(15.0)), float(r(170.0)), float(r(-170.0))], loop_offsets=None),
        dict(region_id=6, kind="rect", params=[float(r(80.0)), float(r(90.0)), float(r(-180.0)), float(r(180.0))], loop_offsets=None),
        # single loops: convex quad; concave 12-gon; sliver; wide quad
        dict(region_id=7, kind="loop", params=[40.0, -75.0, 40.0, -70.0, 45.0, -70.0, 45.0, -75.0], loop_offsets=None),
        dict(
            region_id=8,
            kind="loop",
            # simple concave comb (two notches), CCW
            params=[
                10.0, 10.0, 10.0, 18.0, 13.0, 18.0, 13.0, 16.0, 11.5, 16.0,
                11.5, 14.0, 13.0, 14.0, 13.0, 12.0, 11.5, 12.0, 11.5, 10.0,
            ],
            loop_offsets=None,
        ),
        dict(region_id=9, kind="loop", params=[-30.4, 100.0, -30.2, 110.0, -30.0, 100.0], loop_offsets=None),
        dict(region_id=10, kind="loop", params=[50.0, -120.0, 50.0, -60.0, 70.0, -60.0, 70.0, -120.0], loop_offsets=None),
        # multi-loop: shell+hole; two disjoint shells
        dict(
            region_id=11,
            kind="polygon",
            params=[30.0, 10.0, 30.0, 20.0, 40.0, 20.0, 40.0, 10.0,
                    33.0, 13.0, 33.0, 17.0, 37.0, 17.0, 37.0, 13.0],
            loop_offsets=[0, 4],
        ),
        dict(
            region_id=12,
            kind="polygon",
            params=[-5.0, -50.0, -5.0, -45.0, 0.0, -45.0, 0.0, -50.0,
                    5.0, -40.0, 5.0, -35.0, 10.0, -35.0, 10.0, -40.0],
            loop_offsets=[0, 4],
        ),
    ]
    _ = d  # degrees helper reserved for future fixtures
    return out
