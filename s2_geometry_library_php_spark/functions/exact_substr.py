"""Token-span exact-substring deduplication (Lee et al. 2022,
"Deduplicating Training Data Makes Language Models Better" —
ExactSubstr): any run of ``k`` consecutive tokens that occurs more
than once in the corpus is a duplicated span; every occurrence but
the globally-first one is cut out of its document, leaving the
surrounding unique prose intact.

This is the span-granularity member of the dedup family:

* ``functions/dedup.py`` — whole-document exact + near (MinHash/
  SimHash/Jaccard/winnowing),
* ``functions/paragraph_dedup.py`` — corpus-global duplicate
  *paragraphs* (separator-delimited),
* this module — duplicate *token spans* at any alignment, the
  semantics the ExactSubstr paper implements with a suffix array.

A suffix array does not distribute; the equivalent distributed
formulation is rolling ``k``-gram matching: a duplicated region of
``L >= k`` tokens produces ``L - k + 1`` duplicated k-grams whose
position-union is exactly the ``[start, start + L)`` span — so
marking every duplicated gram's ``[pos, pos + k)`` window and taking
the per-document union reproduces the paper's "remove the whole
duplicated span" behaviour without any global sort.

Scale shape (the 100 TB story):

* one gram scan per document: an Arrow UDF, a vectorized numpy
  rolling polynomial hash emitting int64 keys (8-byte shuffle keys;
  a native ``transform(slice+concat_ws+md5)`` form was
  CodegenFallback and measured ~9x slower, and is gone);
* gram-frequency ``groupBy(gram)`` — ``count`` and
  ``min(struct(doc_id, pos))`` both partial-aggregate map-side, so
  shuffle volume is ~distinct grams x 8-byte keys, not text;
* only grams crossing the frequency threshold survive, so the
  mark-back join's build side is duplicated-text-sized (AQE
  broadcasts it when it fits);
* overlapping/adjacent marked windows collapse to *islands* BEFORE
  any per-token work (gaps-and-islands over ``(doc_id, pos)`` — the
  window shuffle carries only duplicated-gram occurrences, and a
  fully-duplicated document collapses to ONE island instead of
  ``k`` rows per occurrence);
* span removal is a per-document native array ``filter`` against the
  doc's own (few) islands — documents with no duplicated span never
  enter the join and keep their original text column untouched.

Keep-first semantics mirror ``paragraph_dedup``: the occurrence with
the smallest global ``(doc_id, pos)`` survives, so exactly one copy
of every duplicated region remains in the corpus (Lee et al. cut all
copies; one-copy retention is the variant used in practice so the
content itself is not lost).

Hash collisions: grams are compared by their 64-bit hash, not their
text.  Two distinct grams that collide are taken for one duplicated
gram, and one of them is cut from its document (a false deletion).
Treating the hashes as uniform, the chance that any pair among G
distinct grams collides is about G^2 / 2^65: about 3e-8 for a million
distinct grams, and about 0.5 near four billion.

No reference counterpart (the reference is a geometry library); the
rule comes from the published dedup literature.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

#: Lee et al. use 50-token spans for web text; tests use smaller k.
DEFAULT_K = 50
#: a gram is duplicated when it occurs at least this many times
#: corpus-wide (within-document repeats count — the paper's rule)
DEFAULT_MIN_COUNT = 2

#: rolling-hash base (odd => multiplication is a bijection mod 2^64,
#: so every window position keeps full 64-bit entropy)
_ROLL_BASE = np.uint64(1099511628211)

#: bits reserved for the token position when packing (doc_id, pos)
#: into one hash-aggregatable long — see duplicate_grams
_POS_BITS = 24
_POS_PACK = 1 << _POS_BITS


def _word_hash64(word: str, cache: dict) -> int:
    """Deterministic 64-bit word hash (md5 prefix — Python's builtin
    ``hash`` is per-process salted and CANNOT cross executors)."""
    h = cache.get(word)
    if h is None:
        h = int.from_bytes(
            hashlib.md5(word.encode()).digest()[:8], "little"
        )
        cache[word] = h
    return h


def _rolling_gram_hashes(text: str, k: int, cache: dict) -> list[int]:
    """Signed-int64 rolling polynomial hash per k-token window —
    the twin-shared kernel (Spark Arrow path AND the pure-Python
    oracle call this exact function)."""
    words = text.split(" ")
    n = len(words)
    if n < k:
        return []
    if n - k >= _POS_PACK:
        raise ValueError(
            f"document has {n} tokens; gram positions must fit in "
            f"{_POS_BITS} bits (see duplicate_grams packing)"
        )
    wh = np.fromiter(
        (_word_hash64(w, cache) for w in words), dtype=np.uint64, count=n
    )
    m = n - k + 1
    acc = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        acc = acc * _ROLL_BASE + wh[j : j + m]
    return acc.view(np.int64).tolist()


def _gram_hashes_arrow(k: int):
    """int64 rolling polynomial hash per k-token window of each
    document (``[]`` when it has fewer than k tokens), in one pandas
    UDF.  Tokenization is the module family's whitespace convention
    (single-space split, empty tokens preserved), shared with the
    pure-Python twin (:func:`_rolling_gram_hashes`)."""

    @F.pandas_udf(ArrayType(LongType()))
    def kernel(texts: pd.Series) -> pd.Series:
        # One rolling-hash computation over the batch's CONCATENATED
        # word-hash array (k numpy passes per batch, not per doc —
        # short web documents make per-doc arrays too small to
        # amortize numpy call overhead).  Windows that straddle a
        # document boundary are computed but never emitted: doc i's
        # grams are exactly acc[off_i : off_i + m_i].
        cache: dict = {}
        word_lists = [t.split(" ") for t in texts]
        ns = [len(wl) for wl in word_lists]
        if ns and max(ns) - k >= _POS_PACK:
            raise ValueError(
                f"document has {max(ns)} tokens; gram positions "
                f"must fit in {_POS_BITS} bits (see duplicate_grams"
                " packing)"
            )
        total = sum(ns)
        flat = np.fromiter(
            (_word_hash64(w, cache) for wl in word_lists for w in wl),
            dtype=np.uint64,
            count=total,
        )
        if total >= k:
            m_all = total - k + 1
            acc = np.zeros(m_all, dtype=np.uint64)
            for j in range(k):
                acc = acc * _ROLL_BASE + flat[j : j + m_all]
            signed = acc.view(np.int64)
        else:
            signed = np.empty(0, dtype=np.int64)
        out = []
        off = 0
        for n in ns:
            m = n - k + 1
            out.append(signed[off : off + m].tolist() if m > 0 else [])
            off += n
        return pd.Series(out, index=texts.index)

    return kernel


def _doc_grams(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    return docs.select(
        "doc_id",
        F.posexplode(_gram_hashes_arrow(k)(F.col(text_col))).alias("pos", "gram"),
    )


def duplicate_grams(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    min_count: int = DEFAULT_MIN_COUNT,
) -> DataFrame:
    """One row per duplicated k-gram: ``(gram, n_occ, first_doc_id,
    first_pos)`` — the first occurrence in global ``(doc_id, pos)``
    order is the keeper under ``keep_first`` semantics.

    The first occurrence is tracked as ``min(doc_id * 2^24 + pos)``,
    NOT ``min(struct(doc_id, pos))``: struct-min is not
    hash-aggregatable and drops the whole gram stream into a
    partition-sorting SortAggregate, while the packed long keeps the
    frequency pass in a plain partial-aggregating HashAggregate —
    the shape that matters when the gram stream is corpus-sized.
    Packing is order-isomorphic to the lexicographic pair for any
    (also negative) doc_id while ``0 <= pos < 2^24`` (16.7M tokens
    per document — the Arrow kernel raises loudly beyond it) and
    ``|doc_id| < 2^39``; overflow past that fails loudly under
    Spark's ANSI arithmetic."""
    return (
        _doc_grams(docs, text_col, k)
        .groupBy("gram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(
                F.col("doc_id") * F.lit(_POS_PACK) + F.col("pos")
            ).alias("_first_packed"),
        )
        .where(F.col("n_occ") >= F.lit(int(min_count)))
        .select(
            "gram",
            "n_occ",
            F.shiftright("_first_packed", _POS_BITS).alias(
                "first_doc_id"
            ),
            (
                F.col("_first_packed")
                - F.shiftright("_first_packed", _POS_BITS)
                * F.lit(_POS_PACK)
            ).cast("int").alias("first_pos"),
        )
    )


def duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    min_count: int = DEFAULT_MIN_COUNT,
    keep_first: bool = True,
) -> DataFrame:
    """Maximal removable spans: ``(doc_id, span_start, span_end)``
    with ``span_end`` exclusive — the merged union of ``[pos, pos+k)``
    over this document's non-keeper duplicated-gram occurrences
    (classic gaps-and-islands: positions are strictly increasing per
    document, every window is ``k`` long, so a new island starts
    exactly when ``pos - prev_pos > k``).

    The gram scan runs twice (frequency pass + mark-back pass) — the
    standard trade for not materializing the gram stream; both passes
    are stateless linear scans."""
    dup = duplicate_grams(docs, text_col, k, min_count).select(
        "gram", "first_doc_id", "first_pos"
    )
    occ = _doc_grams(docs, text_col, k).join(dup, "gram")
    if keep_first:
        occ = occ.where(
            ~(
                (F.col("doc_id") == F.col("first_doc_id"))
                & (F.col("pos") == F.col("first_pos"))
            )
        )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev = F.lag("pos", 1).over(w)
    return (
        occ.withColumn(
            "_new",
            (
                prev.isNull() | (F.col("pos") - prev > F.lit(k))
            ).cast("int"),
        )
        .withColumn(
            "_island",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
        )
        .drop("_island")
    )


def strip_duplicate_spans(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    min_count: int = DEFAULT_MIN_COUNT,
    keep_first: bool = True,
) -> DataFrame:
    """``docs`` with duplicated token spans removed from ``text_col``
    (row count preserved, every other column untouched).  A document
    that was entirely duplicated text ends up with empty text —
    downstream length gates drop it.

    Documents without a duplicated span miss the left join and skip
    the rewrite entirely; for the rest, surviving tokens are selected
    by a native array ``filter`` against the doc's own islands (a few
    structs), so per-token cost is islands-bounded and there is no
    token-level explode/anti-join/reassembly shuffle."""
    spans = duplicate_spans(docs, text_col, k, min_count, keep_first)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias(
            "__islands"
        )
    )
    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        toks,
        lambda tok, i: ~F.exists(
            F.col("__islands"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end"]),
        ),
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .withColumn(
            text_col,
            F.when(
                F.col("__islands").isNull(), F.col(text_col)
            ).otherwise(F.concat_ws(" ", kept)),
        )
        .drop("__islands")
    )


def strip_duplicate_spans_py(
    rows: list[tuple[int, str]],
    k: int = DEFAULT_K,
    min_count: int = DEFAULT_MIN_COUNT,
    keep_first: bool = True,
) -> dict[int, str]:
    """Pure-Python twin of :func:`strip_duplicate_spans` over
    ``(doc_id, text)`` rows — the property-test oracle.  Same
    tokenization (single-space split), the SAME rolling-hash kernel
    as the Arrow path (literally the same function), same global
    keep-first rule; removal set = union of ``[pos, pos+k)`` over
    non-keeper duplicated occurrences (island merging is an identity
    on that union)."""
    toks = {d: t.split(" ") for d, t in rows}
    cache: dict = {}
    occ: dict[int, list[tuple[int, int]]] = {}
    for d, t in sorted(rows):
        for p, g in enumerate(_rolling_gram_hashes(t, k, cache)):
            occ.setdefault(g, []).append((d, p))
    removed: dict[int, set[int]] = {}
    for g, places in occ.items():
        if len(places) < min_count:
            continue
        first = min(places)
        for d, p in places:
            if keep_first and (d, p) == first:
                continue
            removed.setdefault(d, set()).update(range(p, p + k))
    return {
        d: " ".join(
            w
            for i, w in enumerate(words)
            if i not in removed.get(d, ())
        )
        for d, words in toks.items()
    }
