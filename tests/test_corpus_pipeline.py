"""clean_corpus: the composed annotate -> gate -> exact-dedup ->
near-dup -> tile pipeline keeps exactly the documents it should."""

import pytest
from pyspark.sql import functions as F

from s2_geometry_library_php_spark.operators import (
    annotate_corpus,
    clean_corpus,
)
from s2_geometry_library_php_spark.sources import load_documents

EN = (
    "the quick brown fox jumps over the lazy dog and runs with the "
    "pack through the woods for a while and then rests by the river"
)
EN2 = (
    "a completely different english document that talks about the "
    "weather and the sea and the mountains for quite a long while"
)
DE = (
    "der schnelle braune fuchs springt und der hund schlaeft nicht "
    "und die katze ist auch da mit der maus und das haus ist gross"
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        # survivors
        (0, EN, 10.0, 20.0),
        (1, EN2, -30.0, 50.0),
        # exact duplicate of 0 -> dropped (keeper is min doc_id)
        (2, EN, 11.0, 21.0),
        # near duplicate of 1 (one word changed) -> dropped by LSH
        (3, EN2.replace("mountains", "hills"), -30.0, 50.0),
        # german -> dropped by the language gate
        (4, DE, 48.0, 11.0),
        # too short -> dropped by the token gate
        (5, "ok", 0.0, 0.0),
        # pure punctuation -> dropped by the punct-ratio gate
        (6, "!!! ??? ;;; ::: ,,, ... !!! ??? ;;; ::: ,,, ...", 0.0, 0.0),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lat double, lon double"
    )


def test_clean_corpus_keeps_exactly_the_survivors(spark, corpus):
    got = clean_corpus(spark, corpus)
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert ids == [0, 1]


def test_clean_corpus_is_deterministic(spark, corpus):
    a = sorted(r.doc_id for r in clean_corpus(spark, corpus).collect())
    b = sorted(r.doc_id for r in clean_corpus(spark, corpus).collect())
    assert a == b


def test_exact_dedup_keeps_min_doc_id(spark, corpus):
    # with near-dup off, doc 3 survives but the exact dup 2 never does
    got = clean_corpus(spark, corpus, near_dup_threshold=None)
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert 2 not in ids and 0 in ids and 3 in ids


def test_tile_assignment_matches_annotation(spark, corpus):
    got = clean_corpus(spark, corpus, tile_level=8)
    rows = got.select("doc_id", "cell_id", "tile_id").collect()
    for r in rows:
        assert r.tile_id == (r.cell_id & 0xFFFFFFFFFFFFFFFF) >> (64 - 3 - 16)


def test_stage_counts_monotone_on_real_docs(spark):
    docs = load_documents(spark, "/root/testdata/sf0.001").select(
        "doc_id", "text", "lat", "lon"
    )

    def survivors(**kwargs):
        out = clean_corpus(spark, docs, langs=None, min_tokens=1, **kwargs)
        return {r.doc_id for r in out.select("doc_id").collect()}

    gated = survivors(near_dup_threshold=None)
    full = survivors(near_dup_threshold=0.8)
    assert docs.count() >= len(gated) and gated >= full and full


def test_annotate_adds_signals_without_touching_rows(spark, corpus):
    ann = annotate_corpus(corpus)
    assert ann.count() == corpus.count()
    for c in ("lang_guess", "punct_ratio_ppm", "n_tokens", "cell_id"):
        assert c in ann.columns
    langs = {r.doc_id: r.lang_guess for r in ann.collect()}
    assert langs[0] == "en" and langs[4] == "de"


def test_min_label_components_chain_and_islands(spark):
    from s2_geometry_library_php_spark.operators import min_label_components

    pairs = spark.createDataFrame(
        # a 6-node path (needs multiple propagation rounds) + an island
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (20, 21)],
        "doc_a long, doc_b long",
    )
    comp = {
        r.node: r.component for r in min_label_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1, 20: 20, 21: 20}


def test_transitive_mode_matches_union_find_oracle(spark):
    """clean_corpus(transitive=True) keeps exactly one doc (the min
    id) per connected component of the ACTUAL LSH pair graph —
    verified against a driver-side union-find over the same pairs."""
    from s2_geometry_library_php_spark.functions.dedup import (
        minhash_band_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs with the "
        "pack through the woods for a while and then rests by the river"
    )
    rows = [(i, base.replace("river", w), 0.0, 0.0) for i, w in enumerate(
        ["river", "stream", "creek", "lake"]
    )]
    rows.append((10, "an entirely unrelated short note about cooking "
                     "pasta with plenty of garlic and some fresh basil "
                     "leaves for the evening meal at home", 0.0, 0.0))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lat double, lon double"
    )

    got = sorted(
        r.doc_id
        for r in clean_corpus(
            spark, docs, langs=None, transitive=True
        ).collect()
    )

    # oracle: union-find over the pair graph the pipeline sees
    pairs = [
        (r.doc_a, r.doc_b)
        for r in minhash_band_pairs(docs, threshold=0.8).collect()
    ]
    parent = {r[0]: r[0] for r in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = sorted({find(i) for i, *_ in rows})
    assert got == want


def test_min_label_components_random_graphs_match_union_find(spark):
    """Seeded random pair graphs: distributed min-label propagation ==
    driver union-find on every graph."""
    import random

    from s2_geometry_library_php_spark.operators import min_label_components

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randrange(8, 30)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n), 2)))
                for _ in range(rng.randrange(4, 25))
            }
        )
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r.node: r.component
            for r in min_label_components(pairs).collect()
        }

        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        nodes_in_graph = {v for e in edges for v in e}
        want = {v: find(v) for v in nodes_in_graph}
        assert got == want, (trial, edges)


def test_clean_corpus_dedup_by_url_drops_recrawls(spark):
    rows = [
        (0, EN, "http://www.a.com/page?utm_source=x"),
        (1, EN2, "HTTP://A.com/page/"),  # same canonical as 0 -> dropped
        (2, EN2, "https://a.com/page"),  # scheme differs -> kept
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, url string"
    )
    got = clean_corpus(
        spark, docs, near_dup_threshold=None, dedup_by_url=True
    )
    ids = sorted(r.doc_id for r in got.select("doc_id").collect())
    assert ids == [0, 2]


def test_clean_corpus_paragraph_dedup_stage(spark):
    license_block = (
        "this work is licensed under the creative commons attribution "
        "share alike license and may be copied freely by anyone"
    )
    rows = [
        (0, f"{EN}\n\n{license_block}", 10.0, 20.0),
        (1, f"{EN2}\n\n{license_block}", -30.0, 50.0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lat double, lon double"
    )
    got = clean_corpus(
        spark, docs, near_dup_threshold=None, strip_paragraph_dups=True
    )
    texts = {r.doc_id: r.text for r in got.select("doc_id", "text").collect()}
    # doc 0 keeps the global first occurrence; doc 1's copy is stripped
    assert texts[0] == f"{EN}\n\n{license_block}"
    assert texts[1] == EN2


def test_clean_corpus_exact_substr_stage(spark):
    shared = " ".join(f"boiler{i} plate{i}" for i in range(10))  # 20 tokens
    rows = [
        (0, f"{EN} {shared}", 10.0, 20.0),
        (1, f"{EN2} {shared}", -30.0, 50.0),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lat double, lon double"
    )
    got = clean_corpus(
        spark, docs, near_dup_threshold=None, strip_substr_dups_k=8
    )
    texts = {r.doc_id: r.text for r in got.select("doc_id", "text").collect()}
    # doc 0 keeps the globally-first span copy; doc 1 loses the span
    assert texts[0] == f"{EN} {shared}"
    assert texts[1] == EN2
