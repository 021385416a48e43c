"""Deduplication operators for the web corpus: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

Two implementations per operator where it matters at scale:

* a **native SQL** formulation (exact DuckDB twin for the driver's
  oracle) built on md5 — the only hash both engines share bit-for-bit,
* a **vectorized pandas-UDF** formulation for the 100 TB path (one
  Arrow pass per doc instead of an explode + shuffle of shingles).

Pipeline shapes (scale notes):
* exact dedup: hash-groupBy on the content fingerprint — one shuffle
  of (hash, id), combiner-friendly.
* MinHash LSH: signature is computed map-side (UDF) or via
  explode+min (SQL); candidate pairs come from an equi-join on band
  keys — never an all-pairs comparison.
* SimHash: 64-bit majority vote over token hashes, then band-exact
  match on 16-bit chunks for candidates.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from .text import ascii_lower_py

NUM_HASHES = 16  # MinHash signature length (oracle default)
BANDS = 4  # LSH bands (rows per band = NUM_HASHES / BANDS)
SHINGLE = 3  # words per shingle


def calibrate_banding(
    threshold: float,
    target_prob: float = 0.9,
    max_perms: int = 64,
) -> tuple[int, int]:
    """(n_perm, bands) for a target Jaccard threshold via the standard
    LSH S-curve ``P(s) = 1 - (1 - s^r)^b``: among factorizations with
    r*b <= max_perms whose detection probability AT the threshold
    meets ``target_prob``, pick the one minimizing the false-positive
    integral of P over [0, t) (steepest affordable curve), tiebreak
    fewer permutations.  The fixed (16, 4) module default remains the
    oracle configuration; this derives deployment parameters from the
    threshold a user actually cares about."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    s = np.linspace(0.0, threshold, 65)
    best = None
    for r in range(1, max_perms + 1):
        for b in range(1, max_perms // r + 1):
            p_t = 1.0 - (1.0 - threshold**r) ** b
            if p_t < target_prob:
                continue
            y = 1.0 - (1.0 - s**r) ** b
            fp = float(np.sum(0.5 * (y[1:] + y[:-1]) * np.diff(s)))
            key = (fp, r * b)
            if best is None or key < best[0]:
                best = (key, (r * b, b))
    if best is None:
        raise ValueError(
            f"no banding with <= {max_perms} perms reaches "
            f"P({threshold}) >= {target_prob}"
        )
    return best[1]


# --- shared shingle SQL (Spark) -------------------------------------------------
def shingles_column(text_col: str = "text"):
    """Distinct 3-word shingles as an array column (native).
    ASCII-lower normalization (functions/text.ascii_lower_*): the
    engines' Unicode lower() mappings disagree (full vs simple)."""
    from .text import ascii_lower_column

    w = F.split(ascii_lower_column(text_col), " ")
    n = F.size(w)
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(n - F.lit(SHINGLE - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(w, i, SHINGLE)),
    )
    return F.array_distinct(sh)


def shingles_duckdb(text_col: str = "text") -> str:
    from .text import ascii_lower_duckdb

    lo = ascii_lower_duckdb(text_col)
    return (
        f"list_distinct(list_transform(range(1, greatest(len(string_split({lo}, ' ')) - {SHINGLE - 2}, 2)), "
        f"i -> array_to_string(string_split({lo}, ' ')[i:i+{SHINGLE - 1}], ' ')))"
    )


# --- exact dedup ------------------------------------------------------------------
def exact_duplicate_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (normalized) documents.
    Output: (fingerprint, dup_count, min_doc_id keeper)."""
    from .text import fingerprint_column

    return (
        docs.withColumn("fingerprint", fingerprint_column(text_col))
        .groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
    )


# --- MinHash (native SQL formulation) ------------------------------------------------
def minhash_signature_sql(
    docs: DataFrame, text_col: str = "text", n_perm: int = NUM_HASHES
) -> DataFrame:
    """(doc_id, mh0..mh{n_perm-1} md5-min hex strings).

    Native formulation: explode shingles once, take n_perm salted
    mins in a single groupBy (partial aggregation map-side).
    """
    sh = docs.select("doc_id", F.explode(shingles_column(text_col)).alias("sh"))
    aggs = [
        F.min(F.md5(F.concat(F.lit(str(k)), F.col("sh")).cast("binary"))).alias(
            f"mh{k}"
        )
        for k in range(n_perm)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig


def minhash_band_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float | None = None,
    n_perm: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """LSH candidate duplicate pairs: docs sharing any band key.
    Output: (doc_a, doc_b) with doc_a < doc_b, distinct.

    With ``threshold`` set, (n_perm, bands) come from
    :func:`calibrate_banding` so detection probability at that
    Jaccard similarity is >= 0.9; the bare defaults stay on the fixed
    (16, 4) oracle configuration."""
    if threshold is not None:
        n_perm, bands = calibrate_banding(threshold)
    sig = minhash_signature_sql(docs, text_col, n_perm=n_perm)
    rows_per_band = n_perm // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*parts).cast("binary")).alias("key"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


def minhash_duckdb_pairs(text_col: str = "text", table: str = "documents") -> str:
    """Exact DuckDB twin of :func:`minhash_band_pairs`."""
    sh = shingles_duckdb(text_col)
    mins = ", ".join(
        f"min(md5(concat('{k}', sh))) AS mh{k}" for k in range(NUM_HASHES)
    )
    rows_per_band = NUM_HASHES // BANDS
    band_selects = []
    for b in range(BANDS):
        parts = " || ".join(
            f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        band_selects.append(
            f"SELECT doc_id, {b} AS band, md5({parts}) AS key FROM sig"
        )
    banded = " UNION ALL ".join(band_selects)
    return f"""
WITH sh AS (
  SELECT doc_id, unnest({sh}) AS sh FROM {table}
), sig AS (
  SELECT doc_id, {mins} FROM sh GROUP BY doc_id
), banded AS (
  {banded}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


# --- SimHash -----------------------------------------------------------------------
@F.pandas_udf(LongType())
def simhash64_udf(text: pd.Series) -> pd.Series:
    """64-bit SimHash over word tokens (md5-derived token hashes):
    per-bit majority vote.

    Batch-vectorized: md5 runs ONCE PER UNIQUE TOKEN in the Arrow
    batch (web vocabulary is Zipfian, so uniques << total tokens),
    token->hash mapping and the per-document bit votes are single
    numpy passes (``np.add.reduceat`` over document boundaries) — no
    per-row Python loop.  Output is bit-identical to the per-row md5
    formulation (the DuckDB oracle's twin)."""
    n = len(text)
    if n == 0:
        return pd.Series([], dtype="int64")
    tokenized = [ascii_lower_py(t).split(" ") if t else [] for t in text]
    lengths = np.fromiter((len(w) for w in tokenized), dtype=np.int64, count=n)
    flat: list[str] = [w for ws in tokenized for w in ws]
    out = np.zeros(n, dtype=np.int64)
    if flat:
        vocab = {
            w: int.from_bytes(hashlib.md5(w.encode()).digest()[:8], "big")
            for w in set(flat)
        }
        hashes = np.fromiter(
            (vocab[w] for w in flat), dtype=np.uint64, count=len(flat)
        )
        bits = (
            (hashes[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
        ).astype(np.int64)
        nonempty = lengths > 0
        offsets = np.zeros(n, dtype=np.int64)
        offsets[1:] = np.cumsum(lengths)[:-1]
        sums = np.add.reduceat(bits, offsets[nonempty], axis=0)
        # majority vote: bit set iff 2*ones > n_tokens (votes > 0)
        set_bits = (2 * sums) > lengths[nonempty, None]
        words = (
            set_bits.astype(np.uint64)
            << np.arange(64, dtype=np.uint64)[None, :]
        ).sum(axis=1, dtype=np.uint64)
        out[nonempty] = words.view(np.int64)
    return pd.Series(out)


# --- n-gram Jaccard ------------------------------------------------------------------
def prefix_len_col(nsh, threshold: float):
    """Prefix-filter length ``|S| - ceil(t*|S|) + 1`` as a native
    column.  The 1e-9 epsilon guards the exact-integer boundary: when
    t*|S| is mathematically integral the double product can land one
    ulp high, and a bare ceil() would then shorten the prefix by one
    token — dropping candidate pairs whose Jaccard is exactly at the
    threshold (completeness guarantee violated at the boundary)."""
    return (
        nsh - F.ceil(F.lit(float(threshold)) * nsh - F.lit(1e-9)) + F.lit(1)
    ).cast("int")


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    bucket_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard >= threshold over distinct word-3-gram sets for
    pairs within the same bucket.  Output: (doc_a, doc_b, jaccard).

    Candidate generation is PREFIX FILTERING (the AllPairs/PPJoin
    scheme): order each document's shingles rarest-first (global
    frequency, shingle text tie-break), keep the first
    ``|S| - ceil(t*|S|) + 1`` — any pair with Jaccard >= t MUST share
    a prefix shingle (pigeonhole on the overlap lower bound
    ``|A∩B| >= ceil(t*|A|)``), so an equi-join on (bucket, prefix
    shingle) is a complete candidate set.  Exact Jaccard then verifies
    candidates only.  This replaces the round-1 bucket self-join,
    whose cost was O(bucket²) with full shingle arrays per pair — at
    100 TB a hot crawl host made that an effective cross join.  Here
    the join key is a (bucket, shingle) pair whose fan-out is bounded
    by the rarest-first ordering, and shingle arrays are carried only
    by candidate pairs.  Deterministic and exact: the output is
    row-identical to the quadratic formulation (same DuckDB oracle)."""
    base = docs.select(
        "doc_id",
        F.col(bucket_col).alias("bucket"),
        shingles_column(text_col).alias("sh"),
    )
    tok = base.select(
        "doc_id", "bucket", F.explode("sh").alias("t")
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    ordered = (
        tok.join(freq, "t")
        .groupBy("doc_id", "bucket")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("f"), F.col("t")))
            ).alias("ord")
        )
        .select(
            "doc_id",
            "bucket",
            F.transform("ord", lambda s: s["t"]).alias("osh"),
        )
    )
    plen = prefix_len_col(F.size("osh"), threshold)
    pref = ordered.select(
        "doc_id", "bucket", F.explode(F.slice("osh", 1, plen)).alias("t")
    )
    cand = (
        pref.alias("pa")
        .join(
            pref.alias("pb"),
            (F.col("pa.bucket") == F.col("pb.bucket"))
            & (F.col("pa.t") == F.col("pb.t"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # shingle arrays are DISTINCT sets (shingles_column ends in
    # array_distinct), so |A∪B| = |A|+|B|-|A∩B| exactly — integer
    # sizes, bit-identical quotient — and the per-pair array_union
    # construction (the other half of the verify cost) disappears;
    # per-doc sizes are hoisted out of the pair expression
    sets = base.select("doc_id", "sh", F.size("sh").alias("nsh"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.col("a.nsh") + F.col("b.nsh") - inter
    jac = F.round(inter.cast("double") / union, 6)
    return (
        cand.join(sets.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sets.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# --- winnowing document fingerprints (rolling hash) ---------------------------------
WINNOW_K = 20  # k-gram length (chars): guarantee threshold K+W-1 = 35 chars
WINNOW_W = 16  # winnowing window (hashes); density ~ 2/(W+1) ~ 12%
_WB = 257  # rolling-hash base
# Mersenne modulus 2^31-1: codepoints < 2^21 and powers < 2^31 keep
# every vectorized product below 2^52 — no uint64 overflow, so the
# numpy arithmetic IS the exact modular arithmetic
_WM = (1 << 31) - 1


def winnow_fingerprints(text: str) -> list[int]:
    """Winnowing fingerprint set (the MOSS scheme): Rabin-Karp rolling
    hashes of all char k-grams, then the minimum hash of every sliding
    window of ``WINNOW_W`` consecutive hashes; the distinct selected
    minima are the document's fingerprints.  Guarantees: any shared
    substring of length >= WINNOW_K + WINNOW_W - 1 contributes at
    least one SHARED fingerprint, so near-duplicate documents collide
    with high probability while the fingerprint density stays ~2/(w+1).

    Pure numpy (k vectorized passes for the polynomial, one sliding
    window min); the same function is the kernel for BOTH the Spark
    UDF and the driver oracle."""
    if not text:
        return []
    codes = np.frombuffer(text.encode("utf-32-le"), dtype="<u4").astype(
        np.uint64
    )
    n = len(codes)
    if n < WINNOW_K:
        return []
    m = np.uint64(_WM)
    h = np.zeros(n - WINNOW_K + 1, dtype=np.uint64)
    for j in range(WINNOW_K):
        power = np.uint64(pow(_WB, WINNOW_K - 1 - j, _WM))
        h = (h + (codes[j : n - WINNOW_K + 1 + j] * power) % m) % m
    if len(h) < WINNOW_W:
        return sorted({int(h.min())})
    from numpy.lib.stride_tricks import sliding_window_view

    mins = sliding_window_view(h, WINNOW_W).min(axis=1)
    return sorted({int(x) for x in mins})


@F.pandas_udf(ArrayType(LongType()))
def winnow_fingerprints_udf(text: pd.Series) -> pd.Series:
    """Arrow-batched winnowing fingerprints (int64-reinterpreted)."""
    out = []
    for t in text:
        fps = winnow_fingerprints(t if t else "")
        out.append(
            [int(np.uint64(x).view(np.int64)) for x in np.asarray(fps, dtype=np.uint64)]
            if fps
            else []
        )
    return pd.Series(out)


def winnow_signature(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_fp, fp_min, fp_max, fp_xor): a deterministic compact
    signature of each document's fingerprint set."""
    fp = docs.select(
        "doc_id", winnow_fingerprints_udf(F.col(text_col)).alias("_fp")
    )
    return fp.select(
        "doc_id",
        F.size("_fp").cast("long").alias("n_fp"),
        F.array_min("_fp").alias("fp_min"),
        F.array_max("_fp").alias("fp_max"),
        F.aggregate(
            "_fp", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
        ).alias("fp_xor"),
    )


def winnow_pairs(
    docs: DataFrame, min_shared: int = 4, text_col: str = "text"
) -> DataFrame:
    """Near-duplicate candidates by shared winnowing fingerprints:
    explode -> equi-join on the fingerprint (the same banding shuffle
    shape as MinHash — never all-pairs), count shared per pair.
    Output: (doc_a, doc_b, n_shared) with n_shared >= min_shared."""
    fp = docs.select(
        "doc_id", F.explode(winnow_fingerprints_udf(F.col(text_col))).alias("fp")
    ).distinct()
    a, b = fp.alias("a"), fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_rows_numpy(doc_ids, texts) -> list[tuple]:
    """Oracle twin of :func:`winnow_signature`."""
    rows = []
    for d, t in zip(doc_ids, texts):
        fps = winnow_fingerprints(t if t else "")
        signed = [int(np.uint64(x).view(np.int64)) for x in np.asarray(fps, dtype=np.uint64)] if fps else []
        if signed:
            x = 0
            for v in signed:
                x ^= v
            rows.append((int(d), len(signed), min(signed), max(signed), x))
        else:
            rows.append((int(d), 0, None, None, 0))
    return rows
