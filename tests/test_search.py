"""Dense/hybrid search: RRF formula parity (sparse_search.py:21-63,
rrf_k=60), mock embedder determinism (dense_search.py:19-44), filters
F3/F5, top-k tie-breaking."""

from __future__ import annotations

import pytest

from semantik_spark.config import RRF_K
from semantik_spark.functions.vectors import mock_embedding
from semantik_spark.operators.search import (
    dense_search,
    hybrid_search,
    mock_dense_search,
    rrf_fuse,
)
from pyspark.sql import functions as F


def _ranked(spark, rows):
    return spark.createDataFrame(rows, ["query_id", "doc_id", "score", "rank"])


def test_rrf_formula_both_branches(spark):
    dense = _ranked(spark, [("q", "a", 0.9, 1), ("q", "b", 0.8, 2)])
    sparse = _ranked(spark, [("q", "b", 5.0, 1), ("q", "c", 4.0, 2)])
    out = {r["doc_id"]: r for r in rrf_fuse(dense, sparse, k=10, search_k=10).collect()}
    assert out["a"]["score"] == pytest.approx(1 / (RRF_K + 1))
    assert out["b"]["score"] == pytest.approx(1 / (RRF_K + 2) + 1 / (RRF_K + 1))
    assert out["c"]["score"] == pytest.approx(1 / (RRF_K + 2))
    # b appears in both branches → highest fused score
    assert out["b"]["rank"] == 1
    # branch diagnostics survive the join (sparse_search.py:50-57)
    assert out["a"]["sparse_rank"] is None and out["a"]["dense_rank"] == 1
    assert out["c"]["dense_score"] is None and out["c"]["sparse_score"] == pytest.approx(4.0)


def test_mock_embedding_deterministic_and_normalized(spark):
    df = spark.createDataFrame([("hello",), ("hello",), ("world",)], ["text"])
    vecs = df.select(mock_embedding("text").alias("v")).collect()
    assert vecs[0]["v"] == vecs[1]["v"]
    assert vecs[0]["v"] != vecs[2]["v"]
    norm = sum(x * x for x in vecs[0]["v"])
    assert norm == pytest.approx(1.0, abs=1e-9)


def test_dense_search_self_match(spark):
    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "epsilon zeta")], ["doc_id", "text"]
    )
    queries = spark.createDataFrame([("q1", "gamma delta")], ["query_id", "query_text"])
    rows = mock_dense_search(docs, queries, k=3).collect()
    # identical text → identical mock vector → cosine 1.0 at rank 1
    assert rows[0]["doc_id"] == 2
    assert rows[0]["score"] == pytest.approx(1.0, abs=1e-9)


def test_dense_search_topk_and_tiebreak(spark):
    vec = [1.0, 0.0]
    index = spark.createDataFrame([(i, vec) for i in range(5)], ["doc_id", "embedding"])
    q = spark.createDataFrame([("q", vec)], ["query_id", "query_vec"])
    rows = dense_search(index, q, k=3).collect()
    # all scores tie at 1.0 → doc_id ascending tie-break, exactly k rows
    assert [r["doc_id"] for r in rows] == [0, 1, 2]


def test_hybrid_threshold_filter(spark, docs):
    queries = spark.createDataFrame([("q1", "quick brown fox")], ["query_id", "query_text"])
    all_rows = hybrid_search(docs, queries, k=10).collect()
    thr = sorted((r["score"] for r in all_rows), reverse=True)[1]
    kept = hybrid_search(docs, queries, k=10, score_threshold=thr + 1e-12).collect()
    assert len(kept) == 1  # F3: strictly-below-threshold rows dropped
    assert all(r["doc_id"] is not None for r in kept)  # F5 guard


def test_weighted_fusion_normalizes_and_weights(spark):
    from semantik_spark.operators.search import weighted_fusion

    dense = spark.createDataFrame(
        [("q1", 1, 0.9, 1), ("q1", 2, 0.5, 2), ("q1", 3, 0.1, 3)],
        ["query_id", "doc_id", "score", "rank"],
    )
    sparse = spark.createDataFrame(
        [("q1", 2, 10.0, 1), ("q1", 4, 10.0, 2)],  # all-equal → norm 1.0
        ["query_id", "doc_id", "score", "rank"],
    )
    out = {r["doc_id"]: r for r in weighted_fusion(dense, sparse, k=10, w_dense=0.5).collect()}
    # doc 2: dense norm (0.5-0.1)/0.8 = 0.5, sparse norm 1.0 → 0.75
    assert out[2]["score"] == 0.75 and out[2]["rank"] == 1
    # doc 1: dense-only max → 0.5*1.0
    assert out[1]["score"] == 0.5
    # doc 4: sparse-only, degenerate list → 0.5*1.0
    assert out[4]["score"] == 0.5
    # doc 3: dense min → 0
    assert out[3]["score"] == 0.0
    # tie between doc 1 and 4 broken by doc_id
    assert out[1]["rank"] == 2 and out[4]["rank"] == 3


def test_mmr_diversify_prefers_novel_over_duplicate(spark):
    """MMR contract (Carbonell & Goldstein 1998): after the top hit is
    taken, an EXACT duplicate of it (sim 1.0) must lose to a slightly
    less relevant but orthogonal doc at lambda=0.5; the duplicate still
    enters later once it is the marginal best."""
    from semantik_spark.operators.search import mmr_diversify

    cand = spark.createDataFrame(
        [("q1", 1, 10.0, [1.0, 0.0]),
         ("q1", 2, 9.9, [1.0, 0.0]),    # exact dup of 1
         ("q1", 3, 9.0, [0.0, 1.0])],   # orthogonal, less relevant
        ["query_id", "doc_id", "rel", "e"])
    rows = {r["mmr_rank"]: r for r in mmr_diversify(
        cand, k=3, lambda_milli=500).collect()}
    assert rows[1]["doc_id"] == 1
    # step 2: dup scores 0.5*9.9 - 0.5*1.0 = 4.45 < 0.5*9.0 - 0 = 4.5
    assert rows[2]["doc_id"] == 3 and rows[2]["mmr_micro"] == 4_500_000
    assert rows[3]["doc_id"] == 2


def test_best_window_snippets_picks_max_coverage_window(spark):
    """The window covering BOTH query terms must win over the earlier
    window with only one, and the snippet text comes from the token
    stream."""
    from semantik_spark.operators.search import best_window_snippets

    docs = spark.createDataFrame(
        [(1, "solar filler filler filler filler filler filler filler "
             "filler filler filler filler filler filler "
             "solar panels energy output winter months"),
         (2, "unrelated cooking text about flour and sugar")],
        ["doc_id", "text"])
    q = spark.createDataFrame([("q1", "solar panels")],
                              ["query_id", "query_text"])
    rows = best_window_snippets(docs, q, k=5, window_tokens=4).collect()
    assert len(rows) == 1  # only doc 1 matches
    r = rows[0]
    assert r["doc_id"] == 1 and r["n_terms"] == 2
    # best window starts at the late 'solar' (covers solar+panels);
    # token stream is stopword-filtered so positions are post-filter
    assert r["snippet"].startswith("solar panels")
    assert r["n_hits"] == 2


def test_phrase_search_exact_adjacency(spark):
    """Phrase matching is positional: 'hash join' matches only where
    the filtered tokens are adjacent; occurrences are counted and
    ranked; a stopword between the words does NOT break the phrase
    (analyzer-chain semantics: positions are post-filter)."""
    from semantik_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "hash join hash join plans beat nested loops"),  # 2 occ
         (2, "join ordering matters before any hash step"),   # 0 occ
         (3, "hash the join keys first"),                     # 'the' dropped -> adjacent
         (4, "hash partition then merge join")],              # 0 occ
        ["doc_id", "text"])
    phrases = spark.createDataFrame([("p1", "hash join")],
                                    ["query_id", "phrase"])
    rows = {r["doc_id"]: r for r in phrase_search(docs, phrases, k=10).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_occurrences"] == 2 and rows[1]["rank"] == 1
    assert rows[3]["n_occurrences"] == 1 and rows[3]["first_pos"] == 0


def test_phrase_search_repeated_term_slots(spark):
    """A phrase with a repeated term ('data data') must NOT match a doc
    with a single 'data' — each slot independently needs its term at
    its offset."""
    from semantik_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "data quality checks on data data feeds"),  # has 'data data'
         (2, "data quality checks only once")],
        ["doc_id", "text"])
    phrases = spark.createDataFrame([("p1", "data data")],
                                    ["query_id", "phrase"])
    rows = phrase_search(docs, phrases, k=10).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["n_occurrences"] == 1


def test_facet_counts_over_hit_set_only(spark):
    """Facet counts aggregate the HIT set: a doc that doesn't match the
    query contributes to no facet; counts rank DESC with value ASC
    ties."""
    from semantik_spark.operators.search import facet_counts

    docs = spark.createDataFrame(
        [(1, "solar energy panels", "web", "en"),
         (2, "solar roof panels", "web", "de"),
         (3, "solar grid", "pdf", "en"),
         (4, "cooking flour sugar", "web", "en")],  # no match
        ["doc_id", "text", "source", "lang"])
    q = spark.createDataFrame([("q1", "solar")], ["query_id", "query_text"])
    rows = facet_counts(docs, q, search_k=10, top_values=5).collect()
    by = {(r["facet"], r["value"]): r for r in rows}
    assert by[("source", "web")]["n_hits"] == 2
    assert by[("source", "pdf")]["n_hits"] == 1
    assert by[("lang", "en")]["n_hits"] == 2
    assert ("source", "web") in by and by[("source", "web")]["facet_rank"] == 1
    assert ("lang", "de") in by and by[("lang", "de")]["n_hits"] == 1
    assert not [r for r in rows if r["facet"] == "source" and r["value"] == "web" and r["n_hits"] != 2]


def test_prefix_completions_df_ranked(spark):
    """Completions rank by document frequency (not term frequency):
    a term in many docs beats a term repeated in one; prefix match is
    on the analyzed vocabulary (stopwords never suggested)."""
    from semantik_spark.operators.search import prefix_completions

    docs = spark.createDataFrame(
        [(1, "solar power"), (2, "solar grid"), (3, "solar farm"),
         (4, "solid solid solid solid"),
         (5, "the they them")],  # stopwords
        ["doc_id", "text"])
    pf = spark.createDataFrame([("so",), ("th",)], ["prefix"])
    rows = [r for r in prefix_completions(docs, pf, k=5).collect()]
    so = [r for r in rows if r["prefix"] == "so"]
    assert [r["term"] for r in so] == ["solar", "solid"]
    assert so[0]["df"] == 3 and so[1]["df"] == 1
    th = [r for r in rows if r["prefix"] == "th"]
    # 'the'/'they' are stopwords and never suggested; 'them' is not in
    # the 88-word list and survives
    assert [r["term"] for r in th] == ["them"]


def test_boolean_search_clause_semantics(spark):
    """Lucene BooleanQuery contract: MUST conjunctive, MUST_NOT
    excludes, SHOULD only boosts when MUST is non-empty, pure-SHOULD
    queries need >=1 hit, a MUST term absent from the corpus vocabulary
    yields zero hits, and a term in both MUST and SHOULD counts once."""
    from semantik_spark.operators.search import boolean_search

    docs = spark.createDataFrame(
        [(1, "solar energy panels roof"),
         (2, "solar energy grid"),
         (3, "wind energy farm"),
         (4, "cooking flour sugar")],
        ["doc_id", "text"])

    def run(q):
        bq = spark.createDataFrame([q], ["query_id", "must", "should", "must_not"])
        return {r["doc_id"]: r for r in boolean_search(docs, bq, k=10).collect()}

    # MUST conjunctive: both terms required
    assert set(run(("q", "solar energy", "", ""))) == {1, 2}
    # MUST_NOT excludes doc 1 (roof)
    assert set(run(("q", "solar energy", "", "roof"))) == {2}
    # pure SHOULD: any hit qualifies
    assert set(run(("q", "", "solar wind", ""))) == {1, 2, 3}
    # SHOULD boosts but never filters when MUST present
    r = run(("q", "energy", "solar", ""))
    assert set(r) == {1, 2, 3} and r[1]["n_matched"] == 2 and r[3]["n_matched"] == 1
    # unknown MUST term: no results
    assert run(("q", "solar plutonium", "", "")) == {}
    # overlap MUST/SHOULD counts once
    assert run(("q", "solar", "solar", ""))[2]["n_matched"] == 1


def test_ltr_features_candidate_union(spark):
    """A doc in only one branch still gets a full feature row with the
    other branch's rank = 0; bm25-absent candidates score 0 with
    n_matched 0; doc_len is the analyzed (stopword-filtered) count."""
    from semantik_spark.operators.search import ltr_features

    docs = spark.createDataFrame(
        [(1, "solar energy panels"), (2, "solar grid"),
         (3, "the of and or but")],  # all stopwords -> never BM25-hit
        ["doc_id", "text"])
    q = spark.createDataFrame([("q1", "solar")], ["query_id", "query_text"])
    rows = {r["doc_id"]: r for r in ltr_features(docs, q, k=3).collect()}
    # docs 1,2 hit BM25; doc 3 can only arrive via the dense branch
    assert rows[1]["bm25_rank"] > 0 and rows[1]["n_matched"] == 1
    assert rows[1]["sum_idf"] > 0 and rows[1]["doc_len"] == 3
    assert rows[3]["bm25_rank"] == 0 and rows[3]["bm25_score"] == 0.0
    assert rows[3]["n_matched"] == 0 and rows[3]["doc_len"] == 0
    assert all(r["dense_rank"] > 0 or r["bm25_rank"] > 0
               for r in rows.values())


def test_mmr_diversify_guards_unbounded_pool(spark):
    """A candidate pool past max_pool_rows raises loudly instead of
    collecting the world (serve-batch contract enforcement)."""
    import pytest as _pytest

    from semantik_spark.operators.search import mmr_diversify

    rows = [("q1", i, 1.0, [1.0, 0.0]) for i in range(10)]
    df = spark.createDataFrame(rows, ["query_id", "doc_id", "rel", "e"])
    with _pytest.raises(ValueError, match="max_pool_rows"):
        mmr_diversify(df, k=3, max_pool_rows=5)
    # under the cap the greedy path is unchanged
    out = mmr_diversify(df, k=3, max_pool_rows=10).collect()
    assert len(out) == 3


def test_phrase_search_slop_semantics(spark):
    """slop=0 requires adjacency; slop=1 admits one insertion; slop=2
    admits an adjacent transposition (Lucene sloppy behavior for
    two-term phrases)."""
    from semantik_spark.operators.search import phrase_search

    docs = spark.createDataFrame(
        [(1, "merge sort wins"),          # exact "merge sort"
         (2, "merge quick sort wins"),    # one insertion
         (3, "sort merge wins"),          # transposed
         (4, "merge wins")],              # missing term
        ["doc_id", "text"])
    ph = spark.createDataFrame([("q", "merge sort")],
                               ["query_id", "phrase"])

    def hit_docs(slop):
        return {r["doc_id"]
                for r in phrase_search(docs, ph, k=10, slop=slop).collect()}

    assert hit_docs(0) == {1}
    assert hit_docs(1) == {1, 2}
    assert hit_docs(2) == {1, 2, 3}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="slop"):
        phrase_search(docs, ph, slop=-1)


def test_phrase_search_slop_canonical_occurrences(spark):
    """The sloppy branch's occurrence canonicalization: (1) first_pos
    is a real token position (>= 0) even when the only matching window
    start is negative (transposed term left of its in-phrase offset),
    and (2) a repeated-term phrase counts ONE occurrence per physical
    match, not one per admissible window shift."""
    from semantik_spark.operators.search import phrase_search

    # transposition: sole matching start is a = -1; first matched
    # token ("sort", position 0) must be reported, never -1
    docs = spark.createDataFrame([(1, "sort merge wins")],
                                 ["doc_id", "text"])
    ph = spark.createDataFrame([("q", "merge sort")],
                               ["query_id", "phrase"])
    row = phrase_search(docs, ph, k=5, slop=2).collect()[0]
    assert row["first_pos"] == 0
    assert row["n_occurrences"] == 1

    # repeated phrase term: starts -1 and 0 both admit the single
    # physical "alpha beta beta"; distinct-first_hit canonicalization
    # counts it once, so it cannot outrank a doc with one occurrence
    # of a clean match
    docs2 = spark.createDataFrame([(1, "alpha beta beta")],
                                  ["doc_id", "text"])
    ph2 = spark.createDataFrame([("q", "alpha beta beta")],
                                ["query_id", "phrase"])
    row2 = phrase_search(docs2, ph2, k=5, slop=1).collect()[0]
    assert row2["n_occurrences"] == 1
    assert row2["first_pos"] == 0

    # monotonicity: dense repeats of a single token are DISTINCT
    # occurrences with distinct first positions — a looser slop must
    # never report fewer occurrences than exact matching (the earlier
    # run-collapse over adjacent starts merged these to one)
    docs3 = spark.createDataFrame([(1, "token token token")],
                                  ["doc_id", "text"])
    ph3 = spark.createDataFrame([("q", "token")], ["query_id", "phrase"])
    exact = phrase_search(docs3, ph3, k=5, slop=0).collect()[0]
    sloppy = phrase_search(docs3, ph3, k=5, slop=1).collect()[0]
    assert exact["n_occurrences"] == 3
    assert sloppy["n_occurrences"] >= exact["n_occurrences"]
