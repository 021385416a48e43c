"""Per-host document capping for web corpora (the domain-diversity
control every published crawl pipeline applies: C4 and RefinedWeb cap
how many pages a single origin may contribute so template farms and
mega-hosts don't dominate the token mix — Penedo et al. 2023 §3.2,
Raffel et al. 2020 §2.2).

Semantics (deterministic): each document gets the engine's standard
quadratic-mix priority (``operators/sampling.py`` — a pure function
of doc_id, engine-exact in Spark AND DuckDB); for every host we keep
the ``cap`` documents with the smallest ``(priority, doc_id)`` pairs.
Reruns keep the identical set; changing the salt draws a fresh but
equally deterministic subset.

Scale shape — the whole point of this module.  The naive plan is
``row_number() OVER (PARTITION BY host ORDER BY priority)``: ONE task
must sort the entire hottest host, and at 10^12 pages the head host
is billions of rows — the exact hot-key pathology the flagship join
salts away.  Instead we run the standard two-phase exact top-K:

1. salt each row by ``doc_id % n_salts`` and take the per-``(host,
   salt)`` top-``cap`` — the sort of a hot host spreads across
   ``n_salts`` independent tasks;
2. the survivors (<= cap * n_salts rows per host — a few KB) are
   re-ranked per host for the final top-``cap``.

Phase 2's input is bounded by construction, so its window is safe at
any corpus size.  Correctness: the global ``cap`` smallest pairs of a
host are each the smallest within their own salt bucket, so phase 1
never discards a global keeper — the two-phase result is EXACTLY the
one-window result (tests assert equality, plus a DuckDB
``row_number`` oracle).

Host key: the canonicalizer's host rule (``functions/urltools.py`` —
lowercased, ``www.``-stripped) so ``http://WWW.Site.com`` and
``https://site.com`` count against the same budget.

No reference counterpart (the reference is a geometry library); this
is the LLM-data-pipeline layer (SURVEY "beyond the reference"),
feeding ``operators/corpus_pipeline.clean_corpus(max_docs_per_host=N)``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..operators.sampling import (
    DEFAULT_SALT,
    sample_priority_column,
    sample_priority_duckdb,
)
from .urltools import _ALO, _AUP, _SCHEME

#: default phase-1 fan-out; 32 matches the test parallelism, and on a
#: cluster anything >= the per-host row count / executor memory ratio
#: works — the result is salt-count-invariant (tested)
DEFAULT_N_SALTS = 32


def host_column(url_col) -> Column:
    """The capping key for ``url_col``: lowercased authority with a
    leading ``www.`` stripped; scheme-less strings fall back to their
    first path-ish segment so synthetic fixtures without ``://``
    still group sensibly."""
    u = F.col(url_col) if isinstance(url_col, str) else url_col
    with_scheme = F.translate(
        F.regexp_extract(u, rf"^{_SCHEME}://([^/?#]*)", 1), _AUP, _ALO
    )
    bare = F.translate(
        F.regexp_extract(u, r"^([^/?#]*)", 1), _AUP, _ALO
    )
    host = F.when(with_scheme != "", with_scheme).otherwise(bare)
    return F.regexp_replace(host, r"^www\.", "")


def host_duckdb(url_expr: str) -> str:
    """DuckDB twin of :func:`host_column` (RE2 regexes; DuckDB
    ``regexp_extract`` returns '' on no-match, same as Spark)."""
    w = (
        rf"translate(regexp_extract({url_expr}, "
        rf"'^{_SCHEME}://([^/?#]*)', 1), '{_AUP}', '{_ALO}')"
    )
    b = (
        rf"translate(regexp_extract({url_expr}, '^([^/?#]*)', 1), "
        rf"'{_AUP}', '{_ALO}')"
    )
    h = f"CASE WHEN {w} <> '' THEN {w} ELSE {b} END"
    return f"regexp_replace({h}, '^www\\.', '', 'g')"


def cap_per_host(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    id_col: str = "doc_id",
    salt: int = DEFAULT_SALT,
    n_salts: int = DEFAULT_N_SALTS,
) -> DataFrame:
    """``docs`` with at most ``cap`` rows per host kept (all columns
    untouched) — the deterministic two-phase exact top-K of the
    module docstring.  Two hash shuffles: ``(host, salt)`` then
    ``host`` over the bounded survivor set."""
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    reserved = {"_host", "_pri", "_rn"} & set(docs.columns)
    if reserved:
        # loud failure over silent overwrite-and-drop, matching
        # rasterize_tiles' duplicate-key policy
        raise ValueError(
            f"cap_per_host uses temp columns {sorted(reserved)}; "
            "rename them in the input frame first"
        )
    pri = sample_priority_column(id_col, salt)
    ranked = docs.withColumn("_host", host_column(url_col)).withColumn(
        "_pri", pri
    )
    w1 = Window.partitionBy(
        "_host", F.pmod(F.col(id_col), F.lit(n_salts))
    ).orderBy("_pri", id_col)
    phase1 = (
        ranked.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= cap)
        .drop("_rn")
    )
    w2 = Window.partitionBy("_host").orderBy("_pri", id_col)
    return (
        phase1.withColumn("_rn", F.row_number().over(w2))
        .where(F.col("_rn") <= cap)
        .drop("_rn", "_host", "_pri")
    )


def cap_per_host_duckdb(
    cap: int,
    url_expr: str = "url",
    id_col: str = "doc_id",
    salt: int = DEFAULT_SALT,
) -> str:
    """DuckDB predicate-oracle: the single-window reference form
    (fine at test scale) computing the IDENTICAL keeper set —
    ``row_number`` over ``(host, priority, id)``.  Returns a
    boolean-yielding SQL snippet usable as
    ``QUALIFY {snippet} <= cap`` or in a ranked subquery."""
    return (
        f"row_number() OVER (PARTITION BY {host_duckdb(url_expr)} "
        f"ORDER BY {sample_priority_duckdb(id_col, salt)}, {id_col})"
    )
