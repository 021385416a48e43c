"""End-to-end corpus cleaning: the pipeline a pretraining corpus runs.

Composes the engine's text / dedup / spatial primitives into the
standard large-scale sequence

    annotate -> language filter -> quality filter -> exact dedup
             -> near-dup removal (MinHash LSH) -> tile assignment

as ONE lazy DataFrame program: no stage materializes until the caller
acts, so Catalyst sees the whole plan (filters push into the scan,
annotation columns prune away when unused downstream).

Scale shape (100 TB):

* every stage is a narrow projection, an equi-join, or a partial-agg
  groupBy — no theta-joins, no driver collects;
* exact dedup keeps the MIN doc_id per content fingerprint (one
  hash-shuffle on the fingerprint);
* near-dup removal drops every document that LSH-pairs with a
  smaller-id survivor — a single anti-join against the pair table's
  `doc_b` side.  This is the standard GREEDY canonicalization: it
  keeps the cluster minimum of every connected component discovered
  at pair level without iterating transitive closure (an exact
  connected-components pass is an iterative join loop whose extra
  passes buy almost nothing on near-dup graphs, which are
  overwhelmingly cliques of rewrites of one source page);
* tile assignment is the same vectorized encode used by the flagship
  join, so the cleaned corpus lands ready for
  :func:`~..sources.bucketed.write_bucketed` on ``tile_id``.

No reference counterpart (the reference is a geometry library); this
is the LLM-data-pipeline layer (SURVEY "beyond the reference").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import s2_cell_id
from ..functions.dedup import exact_duplicate_groups, minhash_band_pairs
from ..functions.boilerplate import strip_boilerplate
from ..functions.quality_gates import repetition_gate_arrow
from ..functions.paragraph_dedup import strip_duplicate_paragraphs
from ..functions.urltools import url_dedup
from ..functions.pii import redact_pii as redact_pii_stage
from ..functions.text import (
    PPM,
    lang_id_column,
    quality_columns_ppm,
    token_count_column,
)

#: default quality gates — deliberately loose; real corpora tune these
DEFAULT_MIN_TOKENS = 3
DEFAULT_MAX_PUNCT_RATIO = 0.5


def quality_gate(
    min_tokens: int = DEFAULT_MIN_TOKENS,
    max_punct_ratio: float = DEFAULT_MAX_PUNCT_RATIO,
) -> Column:
    """Keep-side of the token-count and punctuation gate over
    :func:`annotate_corpus`'s columns: an exact integer comparison
    against ``round(max_punct_ratio * 1e6)`` (see the decision-rule
    note in ``functions/quality_gates``)."""
    return (F.col("n_tokens") >= F.lit(min_tokens)) & (
        F.col("punct_ratio_ppm") <= F.lit(round(max_punct_ratio * PPM))
    )


def min_label_components(
    pairs: DataFrame, max_iters: int = 20
) -> DataFrame:
    """Connected components of the near-dup pair graph by min-label
    propagation: every node converges to the smallest doc_id reachable
    from it.  Output: (node, component).

    Shape per iteration: one equi-join (labels onto edge endpoints) +
    one partial-agg groupBy — both hash-shuffled on doc_id, no
    cross products.  ``localCheckpoint`` cuts the lineage each round
    so the plan stays flat over iterations (same pathology the kNN
    ring loop documents).  Converges in O(graph diameter) rounds;
    near-dup graphs are clique-like, so 2-3 rounds is typical.  The
    driver-side loop runs one ``count()`` per round purely as the
    convergence test — probe-sized, not data-sized."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    ).localCheckpoint()  # pairs (the whole LSH plan) computes ONCE,
    # not once per propagation round — the loop below re-reads edges
    # every iteration, and without the cut each re-read re-runs
    # shingling + signatures + the band self-join upstream
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(
                F.col("node").alias("dst"), F.col("component")
            ),
            "dst",
        ).select(F.col("src").alias("node"), "component")
        new_labels = (
            labels.select("node", "component")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # unconverged labels are a valid REFINEMENT (components may
        # stay split, so dedup keeps extra docs — never drops wrong
        # ones), but the caller should know
        import logging

        logging.getLogger(__name__).warning(
            "min_label_components: not converged after %d iterations "
            "(%d labels still changing); components may be split",
            max_iters,
            changed,
        )
    return labels


def annotate_corpus(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach the standard per-document signals as columns: language
    guess, quality ratios (integer ppm), token count, leaf cell id.
    Pure native-SQL expressions — stays inside WholeStageCodegen."""
    out = docs.withColumn("lang_guess", lang_id_column(text_col))
    for name, col in quality_columns_ppm(text_col).items():
        out = out.withColumn(name, col)
    out = out.withColumn("n_tokens", token_count_column(text_col))
    if "lat" in docs.columns and "lon" in docs.columns:
        out = out.withColumn("cell_id", s2_cell_id("lat", "lon"))
    return out


def clean_corpus(
    spark: SparkSession,
    docs: DataFrame,
    text_col: str = "text",
    langs: tuple[str, ...] | None = ("en",),
    min_tokens: int = DEFAULT_MIN_TOKENS,
    max_punct_ratio: float = DEFAULT_MAX_PUNCT_RATIO,
    near_dup_threshold: float | None = 0.8,
    tile_level: int = 8,
    transitive: bool = False,
    repetition_thresholds: dict[str, float] | None = None,
    strip_site_boilerplate: bool = False,
    dedup_by_url: bool = False,
    strip_paragraph_dups: bool = False,
    strip_substr_dups_k: int | None = None,
    max_docs_per_host: int | None = None,
    redact_pii: bool = False,
    decontaminate_against: DataFrame | None = None,
    decontaminate_n: int = 13,
    reuse: bool = True,
) -> DataFrame:
    """The cleaned corpus as one lazy plan.  ``docs`` must carry
    ``doc_id`` and ``text_col``; ``lat``/``lon`` enable tile columns.

    ``langs=None`` skips the language gate; ``near_dup_threshold=None``
    skips the LSH stage (exact dedup always runs).  Determinism: every
    keep/drop decision is a pure function of document content and
    doc_id ordering, so reruns produce identical survivor sets.

    ``reuse=True`` marks the annotated+gated frame (BEFORE the
    decontamination anti-join — see the inline comment) for
    persistence (lazy ``persist(MEMORY_AND_DISK)`` — the plan still
    materializes only on the caller's first action), plus the small
    contaminated-id set when decontamination is on.  The
    decontamination stage references the gate frame twice and the
    downstream dedup DAG references its output from up to six
    operator subtrees (the exact-dedup groupBy, both sides of the LSH
    band self-join through the keeper semi-join, and the final
    anti-join's left side); without reuse Spark re-executes the gate
    scan — the regex-heavy whole-stage-codegen pass that dominates
    pipeline cost — once per subtree.  On a cluster this is exactly the stage-boundary
    materialization the lineage design prescribes between gates and
    dedup (``plans/lineage.py``: each pipeline stage checkpoints its
    output so a killed job resumes); in-session ``persist`` is the
    same boundary without the table write.  Set ``reuse=False`` for a
    fully unmaterialized plan (e.g. when the caller persists or
    checkpoints a different cut itself)."""
    if dedup_by_url:
        # CCNet/C4-style re-crawl removal (functions/urltools.py)
        # FIRST — cheapest discriminator, shrinks every later stage.
        # Requires a `url` column.
        docs = url_dedup(docs)
    if strip_site_boilerplate:
        # RefinedWeb-style per-host frequent-line removal
        # (functions/boilerplate.py) BEFORE annotation, so the gates
        # judge the content that survives, not the nav chrome.
        # Requires a `url` column.
        docs = strip_boilerplate(docs, text_col)
    if strip_paragraph_dups:
        # Lee et al.-style corpus-global duplicate-paragraph removal
        # (functions/paragraph_dedup.py) — after host boilerplate,
        # before annotation, so gates judge the deduplicated prose.
        docs = strip_duplicate_paragraphs(docs, text_col)
    if strip_substr_dups_k is not None:
        # Lee et al. ExactSubstr token-span removal
        # (functions/exact_substr.py) — finest-granularity dedup,
        # same pre-annotation position as the paragraph stage; the
        # value is the span length k (the paper uses 50).
        from ..functions.exact_substr import strip_duplicate_spans

        docs = strip_duplicate_spans(docs, text_col, k=strip_substr_dups_k)
    annotated = annotate_corpus(docs, text_col)

    gated = annotated.where(quality_gate(min_tokens, max_punct_ratio))
    if langs is not None:
        gated = gated.where(F.col("lang_guess").isin(list(langs)))
    if repetition_thresholds is not None:
        # Gopher-style repetition gate (quality_gates.py); pass {} for
        # the published default thresholds.  Arrow-batched: the same
        # integers as the native ppm Columns (parity-pinned in
        # test_quality_gates.py), ~40x cheaper per row because the
        # native signals ride interpreted higher-order lambdas, not
        # codegen (tools/cold_attribution.py measured them at 111.3s of
        # the 197s release-pipeline cold path).
        gated = gated.where(
            repetition_gate_arrow(text_col, repetition_thresholds)
        )
    if reuse:
        # Persist boundary sits BEFORE decontamination (r5 cold-path
        # fix): the decontaminate stage references the gate frame
        # TWICE — once to generate the corpus grams, once as the
        # anti-join's left side — so persisting only the
        # post-decontaminate output made a cold run execute the
        # regex/gram-heavy gate scan twice (the dominant term of the
        # 33x cold/steady spread BENCH_r04 measured).  With the
        # boundary here the gate scan materializes exactly once; the
        # contaminated-id set (small, eval-sized hits) is persisted
        # separately below so the six downstream dedup subtrees pay
        # only a cached-scan + broadcast anti-join per reference.
        from pyspark import StorageLevel

        gated = gated.persist(StorageLevel.MEMORY_AND_DISK)
    if decontaminate_against is not None:
        # GPT-3-style benchmark-overlap scrub (functions/
        # decontaminate.py) BEFORE dedup: identical contaminated
        # copies share their grams, so the whole group drops here
        # rather than electing a keeper first.
        from ..functions.decontaminate import contaminated_ids

        hits = contaminated_ids(
            gated, decontaminate_against, n=decontaminate_n,
            text_col=text_col,
        )
        if reuse:
            from pyspark import StorageLevel

            hits = hits.persist(StorageLevel.MEMORY_AND_DISK)
        gated = gated.join(hits, "doc_id", "left_anti")

    # exact dedup: keep the min doc_id of each identical-content group
    keepers = exact_duplicate_groups(gated, text_col).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    exact_unique = gated.join(keepers, "doc_id", "left_semi")

    if near_dup_threshold is not None:
        pairs = minhash_band_pairs(
            exact_unique, text_col, threshold=near_dup_threshold
        )
        if transitive:
            # exact clusters: keep only each connected component's min
            # (greedy can keep b from pairs {(a,c),(b,c)} even though
            # b and a share the c-cluster; CC merges them).  Costs
            # O(diameter) iterative joins — opt-in.
            comp = min_label_components(pairs)
            losers = comp.where(
                F.col("node") != F.col("component")
            ).select(F.col("node").alias("doc_id"))
        else:
            losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
        survivors = exact_unique.join(losers, "doc_id", "left_anti")
    else:
        survivors = exact_unique

    if max_docs_per_host is not None:
        # RefinedWeb-style domain-diversity cap (functions/hostcap.py)
        # AFTER dedup so the per-host budget is spent on documents
        # that actually survive, not on copies.  Requires `url`.
        # (Import here: hostcap reuses operators/sampling's priority
        # hash, so a top-level import would be circular through the
        # operators package init.)
        from ..functions.hostcap import cap_per_host

        survivors = cap_per_host(survivors, max_docs_per_host)
    if redact_pii:
        # PII scrub (functions/pii.py) LAST: redaction rewrites text,
        # and doing it after dedup keeps content fingerprints honest
        # (two distinct pages must not collide via their redacted
        # forms).
        survivors = redact_pii_stage(survivors, text_col)

    if "cell_id" in survivors.columns:
        survivors = survivors.withColumn(
            "tile_id",
            F.expr(
                f"cast(shiftrightunsigned(cell_id, "
                f"{64 - 3 - 2 * tile_level}) as long)"
            ),
        )
    return survivors
