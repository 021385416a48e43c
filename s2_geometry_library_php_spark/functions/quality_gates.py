"""Repetition-based quality gates for web-corpus cleaning
(Gopher / C4-style rules: Rae et al. 2021 §A1.1, Raffel et al. 2020).

Five per-document repetition signals, each an integer in parts per
million — ``(numerator * 1_000_000) // denominator`` on BIGINTs, no
doubles anywhere — with one definition spelled three ways: native
Spark Columns (:func:`repetition_columns_ppm`), DuckDB text for the
driver's oracle (:func:`repetition_duckdb_ppm`) and the Python kernel
of the Arrow gate (:func:`repetition_gate_arrow`):

- ``dup_line_fraction``        — fraction of lines that repeat an
  earlier line (Gopher's duplicate-line rule; lines split on ``\\n``).
- ``dup_line_char_fraction``   — fraction of line characters sitting
  in repeat occurrences (for each distinct line, occurrences beyond
  the first contribute ``length(line)`` chars).
- ``top2gram_char_fraction``   — characters covered by the most
  frequent word 2-gram (count × gram length, spaces included) over
  total characters; 0 unless the top gram occurs at least twice (a
  deliberate adaptation of Gopher's rule — a count-1 gram is not
  repetition, and on short documents its raw char fraction would
  dominate the signal).  Ties break to the lexicographically
  smallest gram, deterministically on both engines.
- ``top3gram_char_fraction``   — same for 3-grams.
- ``dup_5gram_fraction``       — fraction of word 5-gram occurrences
  that repeat an earlier one.

Decision rule: thresholds stay ratios in the API
(:data:`DEFAULT_THRESHOLDS`, ``clean_corpus(repetition_thresholds=,
max_punct_ratio=)``); each becomes ``round(t * 1_000_000)`` once per
gate build, and the gate is an exact integer comparison — a document
is kept iff ``signal_ppm < limit_ppm`` for every repetition signal
(``punct_ratio_ppm <= limit_ppm`` for the punctuation gate).  The
earlier float rule rounded the ratio half-up to 6 decimals and then
compared; the two rules can disagree only when a ratio lies within
1e-6 of its threshold, which for two-decimal thresholds needs a
denominator above 10^4 characters, lines or grams.

Scale shape: every signal is a per-row projection — linear in corpus
size, no shuffle.  Per-document cost is O(g log g) in the grams of
that document (array_sort + one aggregate scan for the top-``n``-gram
argmax; the duplicate-line char sum is a linear identity).

There is no reference counterpart (the reference is a geometry
library); these rules come from the published corpus-cleaning
literature and feed ``operators/corpus_pipeline.clean_corpus``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import PPM, _idiv

# Gopher-flavoured default thresholds (Rae et al. 2021 table A1,
# adapted: our synthetic corpus has no newlines so the line rules
# only fire on real webtext).
DEFAULT_THRESHOLDS = {
    "dup_line_fraction": 0.30,
    "dup_line_char_fraction": 0.20,
    "top2gram_char_fraction": 0.20,
    "top3gram_char_fraction": 0.18,
    "dup_5gram_fraction": 0.15,
}


def _sum_long(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, x: acc + x)


def _grams(words: Column, n: int) -> Column:
    """Word n-grams joined by a single space; empty when the document
    has fewer than ``n`` words."""
    k = F.size(words) - F.lit(n) + F.lit(1)
    # Guard: Spark's sequence(1, k) walks DOWNWARD when k < 1 (it
    # infers a negative step), which would fabricate bogus indices.
    seq = F.when(k >= 1, F.sequence(F.lit(1), k)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(seq, lambda i: F.concat_ws(" ", F.slice(words, i, n)))


def _top_gram_best(grams: Column) -> Column:
    """count(most frequent gram) and that gram, as a ``(best_c,
    best_g)`` struct: max count, ties to the lexicographically smallest
    gram.

    One ``aggregate`` scan over the *sorted* gram array, tracking the
    current run length and the best (count, gram) so far; the strict
    ``>`` update keeps the smallest gram among equal-count runs because
    sorted order visits it first.  O(G log G) in the grams per document
    (a per-distinct-gram ``filter`` count would be quadratic in
    document length).  The DuckDB twin keeps the per-distinct-count
    spelling (it is an oracle, not a scale path)."""
    sorted_g = F.array_sort(grams)
    init = F.struct(
        F.lit("").alias("cur_g"),
        F.lit(0).alias("cur_c"),
        F.lit(0).alias("best_c"),
        F.lit("").alias("best_g"),
    )

    def _merge(acc, x):
        # first element always takes cur_c = 0 + 1 = 1, so the ""
        # sentinel cannot collide (and word n-grams, n >= 2, always
        # contain the joining space anyway)
        cur_c = F.when(x == acc["cur_g"], acc["cur_c"] + F.lit(1)).otherwise(
            F.lit(1)
        )
        better = cur_c > acc["best_c"]
        return F.struct(
            x.alias("cur_g"),
            cur_c.alias("cur_c"),
            F.when(better, cur_c).otherwise(acc["best_c"]).alias("best_c"),
            F.when(better, x).otherwise(acc["best_g"]).alias("best_g"),
        )

    return F.aggregate(sorted_g, init, _merge)


def repetition_columns_ppm(text_col: str = "text") -> dict[str, Column]:
    """The five repetition signals as named native BIGINT Columns —
    every signal is ``(numerator * 1e6) DIV denominator`` in pure
    integer arithmetic, bit-identical across engines and engine
    versions (see text.quality_columns_ppm).  Used by the driver's
    ``text_analysis`` hash row."""
    text = F.col(text_col)
    n_chars = F.length(text).cast("long")
    words = F.split(text, " ")
    lines = F.split(text, "\n")
    m = F.lit(PPM).cast("long")
    one = F.lit(1).cast("long")

    n_lines = F.size(lines).cast("long")
    dup_lines = n_lines - F.size(F.array_distinct(lines)).cast("long")
    # chars contributed by occurrences beyond each line's first one:
    # sum over distinct lines of (count-1)*len == total line chars
    # minus the chars of one representative per distinct line, an O(L)
    # identity
    line_chars = _sum_long(F.transform(lines, F.length))
    rep_chars = line_chars - _sum_long(
        F.transform(F.array_distinct(lines), F.length)
    )

    def top_ppm(n: int) -> Column:
        grams = _grams(words, n)
        best = _top_gram_best(grams)
        covered = best["best_c"].cast("long") * F.length(
            best["best_g"]
        ).cast("long")
        return F.when(
            (F.size(grams) > 0) & (best["best_c"] >= 2),
            _idiv(covered * m, F.greatest(n_chars, one)),
        ).otherwise(F.lit(0).cast("long"))

    g5 = _grams(words, 5)
    n5 = F.size(g5).cast("long")
    dup5 = n5 - F.size(F.array_distinct(g5)).cast("long")
    return {
        "dup_line_fraction_ppm": _idiv(
            dup_lines * m, F.greatest(n_lines, one)
        ),
        "dup_line_char_fraction_ppm": _idiv(
            rep_chars * m, F.greatest(line_chars, one)
        ),
        "top2gram_char_fraction_ppm": top_ppm(2),
        "top3gram_char_fraction_ppm": top_ppm(3),
        "dup_5gram_fraction_ppm": F.when(
            n5 > 0, _idiv(dup5 * m, n5)
        ).otherwise(F.lit(0).cast("long")),
    }


def repetition_duckdb_ppm(text_col: str = "text") -> dict[str, str]:
    """DuckDB twins of :func:`repetition_columns_ppm` (`//` floor
    division on BIGINTs, all operands non-negative)."""
    lines = f"string_split({text_col}, chr(10))"
    g5 = _ddb_grams(text_col, 5)
    rep_chars = (
        f"list_sum(list_transform(list_distinct({lines}), "
        f"l -> (len(list_filter({lines}, x -> x = l)) - 1) * length(l)))"
    )
    line_chars = f"list_sum(list_transform({lines}, x -> length(x)))"

    def top_ppm(n: int) -> str:
        g = _ddb_grams(text_col, n)
        best = (
            f"list_sort(list_transform(list_distinct({g}), "
            f"gg -> {{'nc': -len(list_filter({g}, x -> x = gg)), 'g': gg}}))[1]"
        )
        return (
            f"CASE WHEN len({g}) > 0 AND -({best}.nc) >= 2 THEN "
            f"CAST((CAST(-({best}.nc) AS BIGINT) * length({best}.g) * {PPM}) // "
            f"greatest(length({text_col}), 1) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        )

    return {
        "dup_line_fraction_ppm": (
            f"CAST((CAST(len({lines}) - len(list_distinct({lines})) AS BIGINT) "
            f"* {PPM}) // greatest(len({lines}), 1) AS BIGINT)"
        ),
        "dup_line_char_fraction_ppm": (
            f"CAST((CAST(coalesce({rep_chars}, 0) AS BIGINT) * {PPM}) // "
            f"greatest(coalesce({line_chars}, 0), 1) AS BIGINT)"
        ),
        "top2gram_char_fraction_ppm": top_ppm(2),
        "top3gram_char_fraction_ppm": top_ppm(3),
        "dup_5gram_fraction_ppm": (
            f"CASE WHEN len({g5}) > 0 THEN "
            f"CAST((CAST(len({g5}) - len(list_distinct({g5})) AS BIGINT) "
            f"* {PPM}) // CAST(len({g5}) AS BIGINT) AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END"
        ),
    }


# --- Arrow-vectorized gate (the pipeline hot path) ---------------------------
#
# The native-Column signals above are built from Spark's higher-order
# collection functions (``transform`` / ``aggregate`` lambdas).  Those
# are CodegenFallback expressions: Catalyst evaluates the lambda
# INTERPRETED, once per array element, so a 200-word document pays
# ~600 interpreted closures across the 2/3/5-gram arrays.  Measured on
# the bench corpus (tools/cold_attribution.py, sf0.1 x100 replicas,
# local[32]) the repetition stage alone cost 111.3s of the release
# pipeline's 197s cold path.  An Arrow-batched scalar pandas UDF that
# computes the same five signals with plain Python dict counting is
# ~40x faster per row — this is the documented exception where a
# Pandas UDF beats the "built-ins only" rule, because the built-in
# here is not actually codegen'd.
#
# The kernel computes the same integers as the Columns: Python's ``//``
# on non-negative ints is BIGINT DIV, string tie-breaks compare code
# points in Python vs UTF-8 bytes in Spark's ``array_sort`` (identical
# orders, since UTF-8 byte order preserves code-point order), and
# ``str.split`` / ``len`` count code points like Spark's ``split`` /
# ``length``.  test_quality_gates.py pins the kernel and the gate
# against the Columns on fixtures, real testdata, and a hypothesis
# fuzz.


def _signal_thunks(text: str) -> dict:
    """The five signals as lazy thunks, cheapest first — the gate
    evaluates them in order and short-circuits on the first failure,
    so a page that trips the (nearly free) line rules never builds
    its gram lists."""
    lines = text.split("\n")
    n_lines = len(lines)

    def dup_line_fraction() -> int:
        return (n_lines - len(set(lines))) * PPM // max(n_lines, 1)

    def dup_line_char_fraction() -> int:
        line_chars = sum(map(len, lines))
        rep_chars = line_chars - sum(map(len, set(lines)))
        return rep_chars * PPM // max(line_chars, 1)

    # words/grams built lazily and cached across the gram signals
    state: dict = {}

    def words() -> list:
        if "w" not in state:
            state["w"] = text.split(" ")
        return state["w"]

    def grams(n: int) -> list:
        w = words()
        return [" ".join(w[i : i + n]) for i in range(len(w) - n + 1)]

    def dup_5gram_fraction() -> int:
        g = grams(5)
        if not g:
            return 0
        return (len(g) - len(set(g))) * PPM // len(g)

    def top_gram(n: int) -> int:
        g = grams(n)
        if not g:
            return 0
        counts: dict = {}
        for x in g:
            counts[x] = counts.get(x, 0) + 1
        # deterministic argmax: max count, ties to smallest gram
        best_c, best_g = min((-c, s) for s, c in counts.items())
        best_c = -best_c
        if best_c < 2:
            return 0
        return best_c * len(best_g) * PPM // max(len(text), 1)

    return {
        "dup_line_fraction": dup_line_fraction,
        "dup_line_char_fraction": dup_line_char_fraction,
        "dup_5gram_fraction": dup_5gram_fraction,
        "top2gram_char_fraction": lambda: top_gram(2),
        "top3gram_char_fraction": lambda: top_gram(3),
    }


def repetition_gate_arrow(
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
) -> Column:
    """True when the document passes ALL repetition thresholds
    (``signal_ppm < round(threshold * 1e6)`` for each) — the keep-side
    of a Gopher-style gate.  ``thresholds`` overrides entries of
    :data:`DEFAULT_THRESHOLDS`; an unknown signal name raises
    ``KeyError``.  Null text is dropped."""
    th = dict(DEFAULT_THRESHOLDS)
    if thresholds:
        th.update(thresholds)
    unknown = set(th) - set(_signal_thunks(""))
    if unknown:
        raise KeyError(f"unknown repetition signal(s): {sorted(unknown)}")
    limits = {k: round(v * PPM) for k, v in th.items()}

    @F.pandas_udf("boolean")
    def _gate(batch: pd.Series) -> pd.Series:
        def keep(text) -> bool:
            if text is None:
                return False
            # thunk order = cheapest first; short-circuit on failure
            for name, sig in _signal_thunks(text).items():
                if not sig() < limits[name]:
                    return False
            return True

        return pd.Series([keep(t) for t in batch], dtype=bool)

    return _gate(F.col(text_col))


# --- DuckDB twins -------------------------------------------------------------------
def _ddb_grams(text_col: str, n: int) -> str:
    w = f"string_split({text_col}, ' ')"
    # range(1, k+1) is empty for k < 1 in DuckDB — no guard needed.
    return (
        f"list_transform(range(1, len({w}) - {n} + 2), "
        f"i -> array_to_string({w}[i:i+{n - 1}], ' '))"
    )
