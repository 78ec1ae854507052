"""Dense search, RRF hybrid fusion, and the composed query path.

Mirrors the reference's perform_search operator tree
(vecpipe/search/service.py:73-408):
  dense branch  — embed query → cosine scores            (here: mock or
                  model embedder; brute-force exact kNN v1, ANN later)
  sparse branch — BM25 encode → dot-product scores
  fuse          — single-exchange RRF over both branches' raw scores,
                  RRF_K = 60, each branch cut at search_k
                  (sparse_search.py:21-63)
  filters       — score_threshold (service.py:337-347), doc_id guard

The persisted serve paths (operators/serving.py) compose the same
stages: doc_embeddings / query_embeddings, dense_scores, rrf_fuse and
the per-query top-k (functions/ranking.topk).

Scale notes: the query side is always tiny → broadcast; the corpus scan
is one pass, filter/projection pushed to parquet; top-k per query is a
window over the scored subset (scores are sparse: only docs sharing a
term / all docs for dense). Rank ties break on doc_id so results are
deterministic and oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.config import RRF_K
from semantik_spark.functions.ranking import topk
from semantik_spark.functions.vectors import cosine, mock_embedding
from semantik_spark.operators import bm25
from semantik_spark.functions.caching import cache, checkpoint


def doc_embeddings(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, embedding, *extra_cols) — the one doc-embedding select
    every dense path reads or writes (mock_dense_search, hybrid_search,
    and the persisted dense/, dense_ivf/ and streaming dense_log/), so
    build, append and serve embed alike."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        mock_embedding(text_col).alias("embedding"),
        *extra_cols,
    )


def query_embeddings(queries: DataFrame, query_id_col: str = "query_id",
                     query_text_col: str = "query_text") -> DataFrame:
    """(query_id, query_vec) — doc_embeddings' query-side twin."""
    return queries.select(
        F.col(query_id_col).alias("query_id"),
        mock_embedding(query_text_col).alias("query_vec"),
    )


def dense_scores(index: DataFrame, queries: DataFrame) -> DataFrame:
    """Flat dense branch: (query_id, doc_id, score = cosine) for every
    (query, doc) pair. ``index`` carries (doc_id, embedding);
    ``queries`` carries (query_id, query_vec). Queries are broadcast;
    scoring is whole-stage-codegen zip_with/aggregate — no shuffle."""
    return index.crossJoin(F.broadcast(queries)).select(
        "query_id", "doc_id", cosine("embedding", "query_vec").alias("score"),
    )


def dense_search(index: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Brute-force exact cosine kNN: query_id, doc_id, score, rank —
    dense_scores, then the per-query top-k window."""
    return topk(dense_scores(index, queries), k)


def mock_dense_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                      id_col: str = "doc_id", text_col: str = "text",
                      query_id_col: str = "query_id",
                      query_text_col: str = "query_text") -> DataFrame:
    """Dense search with the reference's deterministic mock embedder
    (dense_search.py:19-44) applied to both sides — the model-free test
    mode, fully reproducible in the DuckDB oracle."""
    return dense_search(doc_embeddings(docs, id_col, text_col),
                        query_embeddings(queries, query_id_col, query_text_col), k)


def rrf_fuse(dense: DataFrame, sparse: DataFrame, k: int,
             search_k: int) -> DataFrame:
    """Reciprocal Rank Fusion (sparse_search.py:21-63) of two RAW
    (query_id, doc_id, score) branch tables: each branch is ranked per
    query (score DESC, doc_id ASC) and cut at ``search_k``;
    score = Σ 1/(RRF_K + rank_branch) over the branches that ranked the
    doc; returns the top ``k`` per query with per-branch diagnostics
    (dense_rank, sparse_rank, dense_score, sparse_score — NULL where a
    branch did not rank the doc) and NULL doc ids dropped (F5 guard).

    One exchange: both branches' scores union with a branch tag, ONE
    window ranks per (query, branch), and the fusion is a groupBy pivot
    over the ≤ 2·|queries|·search_k surviving rows — never a join of
    two separately shuffled ranked lists. A (query, doc) group holds
    exactly the branches that ranked it, so the max(when(branch=…))
    pivot yields the NULL pattern of a full outer join of the two
    ranked lists."""
    u = dense.select(F.lit(0).alias("branch"), "query_id", "doc_id", "score") \
        .unionByName(sparse.select(F.lit(1).alias("branch"),
                                   "query_id", "doc_id", "score"))
    wb = Window.partitionBy("query_id", "branch").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    ranked = u.withColumn("rank", F.row_number().over(wb)) \
        .where(F.col("rank") <= search_k)
    fused = (
        ranked.groupBy("query_id", "doc_id")
        .agg(
            F.max(F.when(F.col("branch") == 0, F.col("rank"))).alias("dense_rank"),
            F.max(F.when(F.col("branch") == 0, F.col("score"))).alias("dense_score"),
            F.max(F.when(F.col("branch") == 1, F.col("rank"))).alias("sparse_rank"),
            F.max(F.when(F.col("branch") == 1, F.col("score"))).alias("sparse_score"),
        )
        .withColumn(
            "score",
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("dense_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("sparse_rank")), F.lit(0.0)),
        )
    )
    return (
        topk(fused, k).where(F.col("doc_id").isNotNull())
        .select("query_id", "doc_id", "score", "rank",
                "dense_rank", "sparse_rank", "dense_score", "sparse_score")
    )


def hybrid_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                  search_k: int | None = None,
                  score_threshold: float | None = None,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The composed hybrid query path (service.py:73-408) in test mode:
    mock-dense + BM25-sparse scores → rrf_fuse → optional threshold
    filter."""
    if search_k is None:
        search_k = max(k * 2, 20)
    dense = dense_scores(doc_embeddings(docs, id_col, text_col),
                         query_embeddings(queries))
    sparse = bm25._scores(docs, queries, id_col, text_col, None, None)
    fused = rrf_fuse(dense, sparse, k, search_k)
    if score_threshold is not None:
        fused = fused.where(F.col("score") >= score_threshold)  # F3
    return fused


def weighted_fusion(dense: DataFrame, sparse: DataFrame, k: int = 10,
                    w_dense: float = 0.5) -> DataFrame:
    """Min-max weighted score fusion — the standard alternative to RRF
    when calibrated score magnitudes matter: each branch's scores are
    normalized to [0, 1] over its own per-query candidate list
    (degenerate all-equal lists normalize to 1.0), then fused as
    w·dense + (1-w)·sparse with absent-branch scores contributing 0.
    Ranking happens on the 6-dp-ROUNDED fused score (doc_id tiebreak)
    so the cut is engine-portable.

    Plan shape: two candidate-list windows (top-k-sized partitions),
    one full-outer join, one rank window — nothing corpus-scale after
    the branch searches."""
    wq = Window.partitionBy("query_id")

    def _norm(df: DataFrame, prefix: str) -> DataFrame:
        mx = F.max("score").over(wq)
        mn = F.min("score").over(wq)
        nrm = F.when(mx > mn, (F.col("score") - mn) / (mx - mn)).otherwise(F.lit(1.0))
        return df.select("query_id", "doc_id", "score").withColumn(f"{prefix}_norm", nrm)

    d = _norm(dense, "dense").withColumnRenamed("score", "dense_score")
    s = _norm(sparse, "sparse").withColumnRenamed("score", "sparse_score")
    fused = (
        d.join(s, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "score",
            F.round(
                F.lit(w_dense) * F.coalesce("dense_norm", F.lit(0.0))
                + F.lit(1.0 - w_dense) * F.coalesce("sparse_norm", F.lit(0.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def maxsim_rerank(docs: DataFrame, queries: DataFrame, k: int = 5,
                  first_k: int = 20, doc_tokens: int = 32,
                  query_tokens: int = 8, id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Late-interaction multi-vector rerank (ColBERT MaxSim, Khattab &
    Zaharia 2020): BM25 retrieves ``first_k`` candidates per query,
    then each candidate is rescored token-against-token —
    score(q, d) = Σ over the first ``query_tokens`` query tokens of
    max over the first ``doc_tokens`` doc tokens of the token-embedding
    dot product (embeddings are L2-normalized, so dot == cosine). The
    third retrieval-model family next to single-vector dense and sparse
    BM25: fine-grained term matching without a cross-encoder.

    Determinism: per-(query, doc, query-token) MaxSim terms round to
    9 dp DECIMAL before the sum, so the score is exact integer
    arithmetic (no float-order rank flips); final score rounds to 6 dp.

    Scale (the ColBERT serving shape exactly): MaxSim never touches the
    corpus — it runs on first_k × |queries| candidate rows, each
    carrying a bounded doc_tokens×8 embedding matrix built by a
    map-only transform; the first stage is the existing BM25 join+agg.
    Cost per candidate is query_tokens × doc_tokens dots of dim 8 —
    Column expressions end to end, no UDF.
    """
    tok = cache(bm25.tokenize(docs, id_col=id_col, text_col=text_col))
    cand = bm25.search(docs, queries, k=first_k, tokenized=tok) \
        .select("query_id", "doc_id")
    demb = tok.select(
        "doc_id",
        F.transform(F.slice("tokens", 1, doc_tokens),
                    lambda t: mock_embedding(t)).alias("d_embs"),
    )
    qrows = (
        bm25.tokenize(queries, id_col="query_id", text_col="query_text")
        .select(F.col("doc_id").alias("query_id"),
                F.posexplode(F.slice("tokens", 1, query_tokens))
                .alias("qpos", "qt"))
        .withColumn("q_emb", mock_embedding("qt"))
        .drop("qt")
    )
    terms = (
        cand.join(demb, "doc_id")
        .join(F.broadcast(qrows), "query_id")
        .select(
            "query_id", "doc_id",
            F.round(
                F.array_max(F.transform(
                    "d_embs",
                    lambda de: F.aggregate(
                        F.zip_with("q_emb", de, lambda a, b: a * b),
                        F.lit(0.0), lambda acc, x: acc + x,
                    ),
                )),
                9,
            ).cast("decimal(20,9)").alias("term"),
        )
    )
    scored = (
        # decimal round before the cast: the 9-dp term sum can land on
        # a 6-dp half-point where double-typed rounds diverge between
        # engines (the collocations_llr knife-edge)
        terms.groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("term"), 6).cast("double").alias("score"))
    )
    return topk(scored, k)


def mmr_diversify(candidates: DataFrame, k: int = 8,
                  lambda_milli: int = 700,
                  max_pool_rows: int = 50_000) -> DataFrame:
    """Maximal Marginal Relevance result diversification (Carbonell &
    Goldstein 1998): greedily re-rank a per-query candidate pool so
    each pick balances relevance against redundancy with what is
    already shown — mmr(d) = λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s).
    The classic fix for result lists that are ten near-copies of the
    same top hit (on a near-dup-planted corpus, exactly what plain
    BM25 returns).

    ``candidates``: (query_id, doc_id, rel, e) — relevance score plus
    an embedding for the redundancy term. Returns (query_id, doc_id,
    mmr_micro, mmr_rank) for the k greedy picks, where ``mmr_micro`` is
    the objective quantized to integer micro-units
    (floor(x·1e6 + 0.5)) — the argmax ranks on that integer with a
    doc_id tiebreak, so the greedy trajectory is engine-portable.

    Shape: retrieval and hydration are distributed; the greedy loop
    itself runs DRIVER-LOCAL on the collected pool — the serve-batch
    discipline the cross-encoder rerank path already uses: the pool is
    ≤ |serve batch| × candidate-k rows BY CONTRACT (the W3 clamp caps
    candidate-k at 200, serve batches at ~100 queries), so this is a
    bounded ≤ 20k-row collect, not a corpus operation, and the k-step
    sequential dependency costs zero Spark jobs instead of ~5k per
    step. IEEE doubles in CPython are the same doubles as in the JVM
    and DuckDB, so the trajectory is engine-portable bit-for-bit.

    The contract is ENFORCED, not assumed (the DBSCAN tiered-CC
    discipline): the collect is capped at ``max_pool_rows`` via
    limit(cap+1) — same single job as the plain collect — and a pool
    past the cap raises instead of collecting the world. Callers with
    an unbounded candidate table must pre-bound per query (a rank ≤
    candidate-k window) or shard the serve batch.
    """
    import math

    lam = float(lambda_milli) / 1000.0
    rows = (candidates.select("query_id", "doc_id", "rel", "e")
            .limit(max_pool_rows + 1).collect())
    if len(rows) > max_pool_rows:
        raise ValueError(
            f"mmr_diversify candidate pool exceeds max_pool_rows="
            f"{max_pool_rows}: the serve-batch contract (candidate-k "
            f"clamped to [20,200] per query × a bounded query batch) was "
            f"violated. Pre-bound candidates per query with a rank<=k "
            f"window, shard the serve batch, or raise max_pool_rows "
            f"deliberately.")
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], float(r["rel"]), [float(x) for x in r["e"]]))

    def cos(a: list, b: list) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        d = math.sqrt(na) * math.sqrt(nb)
        return dot / d if d > 0 else 0.0

    out = []
    for q, pool in by_q.items():
        pool = sorted(pool)  # doc_id order: deterministic iteration
        selected: list = []
        remaining = {d: (rel, e) for d, rel, e in pool}
        for step in range(1, min(k, len(pool)) + 1):
            best = None
            for d in sorted(remaining):
                rel, e = remaining[d]
                if selected:
                    msim = max(cos(e, se) for _, se in selected)
                    val = lam * rel - (1.0 - lam) * msim
                else:
                    val = lam * rel
                micro = math.floor(val * 1e6 + 0.5)
                # argmax on (micro DESC, doc_id ASC); doc order is
                # ascending so strict > keeps the smaller id on ties
                if best is None or micro > best[0]:
                    best = (micro, d, e)
            micro, d, e = best
            selected.append((d, e))
            del remaining[d]
            out.append((q, d, micro, step))

    spark = candidates.sparkSession
    return spark.createDataFrame(
        out, "query_id string, doc_id bigint, mmr_micro bigint, mmr_rank int")


def best_window_snippets(docs: DataFrame, queries: DataFrame, k: int = 5,
                         window_tokens: int = 12,
                         id_col: str = "doc_id",
                         text_col: str = "text") -> DataFrame:
    """Search-result snippet generation: for every (query, top-k doc)
    pair, the best ``window_tokens``-token window of the document —
    the one covering the most DISTINCT query terms (ties: more total
    hits, then earliest start). The highlight feature every search UI
    ships; the reference serves matched content back with results, this
    picks WHICH slice to show.

    The optimal window for a coverage objective can always be shifted
    right until it starts ON a query-term hit, so only hit positions
    are window-start candidates: hits per (query, doc) ≤ Σ tf of the
    query's terms — a bounded self-join on the tiny hit table, never a
    doc-length scan per candidate. Snippets are built from the
    tokenizer's own token stream (lowercased, stopword-filtered), so
    the whole operator — including the returned snippet string — is
    engine-exact.

    Shape: BM25 top-k (broadcast query side) → posexplode only the
    top-k docs' tokens (|q|·k docs, not the corpus) → hit table →
    bounded hit×hit window join → one argmax window → slice + join
    back. Corpus cost is the retrieval it already paid.
    """
    from pyspark.sql import Window

    # ONE tokenize pass shared between retrieval and snippet slicing
    tok = cache(bm25.tokenize(docs, id_col=id_col, text_col=text_col))
    # top is consumed twice (the retrieved-doc filter and the hit
    # table) and it is k-bounded — localCheckpoint materializes the
    # whole BM25 retrieval once and truncates its plan subtree to a
    # leaf instead of planning/running the postings chain per consumer
    top = checkpoint(bm25.search(docs, queries, k=k, id_col=id_col,
                                 text_col=text_col, tokenized=tok))
    # only the retrieved docs' token streams move forward
    dtok = (
        tok.join(top.select("doc_id").distinct(), "doc_id")
        .select("doc_id", "tokens")
    )
    pos = dtok.select(
        "doc_id", F.posexplode("tokens").alias("p", "term"))
    qterms = (
        bm25.tokenize(queries, id_col="query_id", text_col="query_text")
        .select(F.col("doc_id").alias("query_id"),
                F.explode("tokens").alias("term")).distinct()
    )
    # hits feeds BOTH sides of the window self-join below — materialize
    # it once (bounded by the retrieved docs' total query-term tf, never
    # corpus-scale) so the posexplode + semi-join subtree runs once
    hits = (
        top.select("query_id", "doc_id", "rank")
        .join(pos, "doc_id")
        .join(qterms, ["query_id", "term"], "left_semi")
        .select("query_id", "doc_id", "rank", "p", "term")
    )
    hits = checkpoint(hits)
    a = hits.select("query_id", "doc_id", "rank", F.col("p").alias("start"))
    b = hits.select("query_id", "doc_id",
                    F.col("p").alias("p2"), F.col("term").alias("t2"))
    wins = (
        a.join(b, ["query_id", "doc_id"])
        .where((F.col("p2") >= F.col("start"))
               & (F.col("p2") < F.col("start") + window_tokens))
        .groupBy("query_id", "doc_id", "rank", "start")
        .agg(F.count_distinct("t2").cast("int").alias("n_terms"),
             F.count("*").cast("int").alias("n_hits"))
    )
    w = Window.partitionBy("query_id", "doc_id").orderBy(
        F.desc("n_terms"), F.desc("n_hits"), F.asc("start"))
    best = (
        wins.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        best.join(dtok, "doc_id")
        .select(
            "query_id", "doc_id", F.col("rank").cast("int").alias("rank"),
            F.col("start").cast("int").alias("snippet_start"),
            "n_terms", "n_hits",
            F.array_join(
                F.slice("tokens", F.col("start") + 1, window_tokens), " "
            ).alias("snippet"),
        )
    )


def spell_suggestions(docs: DataFrame, words: DataFrame, k: int = 1,
                      id_col: str = "doc_id", text_col: str = "text",
                      word_col: str = "word") -> DataFrame:
    """Query-term spell correction against the corpus vocabulary: for
    each input word NOT in the vocabulary, the ``k`` best vocabulary
    terms within edit distance 1, ranked by document frequency (df
    DESC, term ASC) — the "did you mean" stage every search engine
    puts in front of retrieval (a misspelled term silently drops out of
    BM25's encode_queries inner join; this recovers it).

    Candidate generation is the deletion-neighborhood equi-join
    (FastSS, Bocek et al. 2007 — same blocking as
    dedup.edit_distance_pairs): both sides emit their 1-deletion
    variants plus themselves, candidates share a variant, Levenshtein
    only verifies. No all-pairs product at any vocabulary size.

    Returns (word, suggestion, suggestion_df, dist, sug_rank).

    Scale: vocabulary variants are O(vocab x avg_len) rows built
    map-only and shuffled once on the variant key; the query-word side
    is tiny by definition. The vocab variant table is query-independent
    — at scale, persist it beside the terms table at index-build time.
    """
    tok = bm25.tokenize(docs, id_col=id_col, text_col=text_col)
    terms = bm25.term_stats(tok).select("term", "df")
    w = F.col("w")
    wl = (
        words.select(F.col(word_col).cast("string").alias("w"))
        .where(w.isNotNull()).distinct()
        .join(terms.select(F.col("term").alias("w")), "w", "left_anti")
    )

    def _variants(col: F.Column) -> F.Column:
        return F.array_union(
            F.array(col),
            F.transform(
                F.sequence(F.lit(1), F.length(col)),
                lambda i: F.concat(
                    F.substr(col, F.lit(1), i - 1),
                    F.substr(col, i + 1, F.length(col)),
                ),
            ),
        )

    wv = wl.select("w", F.explode(_variants(w)).alias("v"))
    tv = terms.select("term", "df",
                      F.explode(_variants(F.col("term"))).alias("v"))
    cand = (
        wv.join(tv, "v")
        .where(F.col("w") != F.col("term"))
        .select("w", "term", "df").distinct()
        .where(F.levenshtein("w", "term") <= 1)
    )
    rk = Window.partitionBy("w").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("sug_rank", F.row_number().over(rk))
        .where(F.col("sug_rank") <= k)
        .select(
            F.col("w").alias("word"), F.col("term").alias("suggestion"),
            F.col("df").cast("bigint").alias("suggestion_df"),
            F.levenshtein("w", "term").cast("int").alias("dist"),
            "sug_rank",
        )
    )


def phrase_search(docs: DataFrame, phrases: DataFrame, k: int = 10,
                  slop: int = 0,
                  id_col: str = "doc_id",
                  text_col: str = "text") -> DataFrame:
    """Phrase search over positional postings — Lucene PhraseQuery
    semantics on the BM25 token stream, exact (slop=0) or sloppy
    (reference serves term queries only, vecpipe/search/service.py;
    this closes the quoted-query gap every search UI exposes).

    Positions are indices into the SAME filtered token stream BM25 and
    best_window_snippets use (lowercase, len>=2, stopwords dropped), so
    "sort merge" matches "sort ... merge" only when the surviving
    tokens are adjacent — the standard behavior of an analyzer chain
    with stopword removal and no position increments.

    Match rule (slop=0): phrase tokens t_0..t_{n-1}; a document
    occurrence is an anchor position p where token(p + i) == t_i for
    every slot i. Implemented as anchor = hit_position - slot on the
    (term-matched) hit table, grouped by anchor, HAVING every distinct
    slot present — no per-candidate doc rescan. Repeated phrase terms
    are handled by the slot-distinct count (each slot must
    independently find its term at its offset).

    Match rule (slop>0) — "ordered near" with bounded displacement,
    the same anchor table with a RANGE condition on anchor spread: an
    occurrence is a window start ``a`` (drawn from the doc's own
    anchor set) such that every slot has some hit with anchor in
    [a, a+slop] — i.e. every term sits within ``slop`` positions of
    its in-phrase offset relative to a common base. slop=0 reduces to
    the exact rule; small slops admit insertions ("sort fast merge"
    matches "sort merge" at slop 1) and, at slop ≥ 2, adjacent
    transpositions — Lucene's sloppy behavior for two-term phrases,
    and a documented max-displacement (not summed-moves) variant for
    longer ones. Occurrences canonicalize by DISTINCT FIRST MATCHED
    TOKEN POSITION: shifted windows over the same physical evidence
    share their first matched token, so distinct first_hit = distinct
    occurrence (a repeated-term phrase would otherwise count once per
    admissible shift; the rejected run-collapse alternative over-merged
    the other way — see the inline comment). first_pos is that first
    matched token position, a real index ≥ 0 even when the canonical
    window start is negative (a transposed term left of its offset).

    Ranking: occurrences DESC, first anchor ASC, doc_id ASC → top-k.

    Scale: the phrase side is tiny → broadcast; the hit table is
    bounded by Σ tf of the phrase's terms (same bound as the snippet
    operator), never corpus × phrase. One shuffle to group anchors.
    The sloppy window join pairs each doc's hits with ITS OWN anchor
    starts — per-doc-tf² rows keyed by (query, doc), partition-local
    after the one shuffle, never corpus-quadratic.
    """
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    pos = (
        bm25.tokenize(docs, id_col=id_col, text_col=text_col)
        .select(F.col("doc_id"), F.posexplode("tokens").alias("p", "term"))
    )
    ptok = (
        bm25.tokenize(phrases, id_col="query_id", text_col="phrase")
        .select(F.col("doc_id").alias("query_id"),
                F.posexplode("tokens").alias("slot", "term"))
    )
    plen = ptok.groupBy("query_id").agg(
        F.count_distinct("slot").alias("n_slots"))
    hits = pos.join(F.broadcast(ptok), "term").select(
        "query_id", "doc_id", "slot",
        (F.col("p") - F.col("slot")).alias("anchor"))
    if slop == 0:
        occ = (
            hits.where(F.col("anchor") >= 0)
            .groupBy("query_id", "doc_id", "anchor")
            .agg(F.count_distinct("slot").alias("got"))
            .join(F.broadcast(plen), "query_id")
            .where(F.col("got") == F.col("n_slots"))
        )
    else:
        starts = hits.select("query_id", "doc_id",
                             F.col("anchor").alias("a")).distinct()
        win = (
            hits.join(starts, ["query_id", "doc_id"])
            .where((F.col("anchor") >= F.col("a"))
                   & (F.col("anchor") <= F.col("a") + slop))
            .groupBy("query_id", "doc_id", "a")
            .agg(F.count_distinct("slot").alias("got"),
                 # first matched TOKEN position inside this window
                 # (anchor + slot = p) — a real position, never the
                 # window start, which can be negative when a term
                 # sits left of its in-phrase offset (transpositions)
                 F.min(F.col("anchor") + F.col("slot")).alias("first_hit"))
            .join(F.broadcast(plen), "query_id")
            .where(F.col("got") == F.col("n_slots"))
        )
        # canonicalize by the FIRST MATCHED TOKEN POSITION: shifted
        # windows over the same physical evidence share their first
        # matched token, so distinct first_hit = distinct occurrence.
        # (A repeated-term phrase would otherwise count one occurrence
        # per admissible window shift; the earlier run-collapse over
        # adjacent starts over-merged the other way — dense repeats of
        # a term produce CONSECUTIVE starts with DISTINCT evidence,
        # e.g. one-token phrases, where looser slop must never report
        # fewer occurrences than exact matching.)
        occ = (
            win.select("query_id", "doc_id",
                       F.col("first_hit").alias("anchor"))
            .distinct()
        )
    scored = occ.groupBy("query_id", "doc_id").agg(
        F.count("*").cast("int").alias("n_occurrences"),
        F.min("anchor").cast("int").alias("first_pos"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("n_occurrences"), F.asc("first_pos"), F.asc("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .withColumn("rank", F.col("rank").cast("int"))
    )


def facet_counts(docs: DataFrame, queries: DataFrame,
                 facet_cols: tuple[str, ...] = ("source", "lang"),
                 search_k: int = 50, top_values: int = 5,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Faceted search — the per-query facet sidebar every search UI
    renders next to results: for the BM25 top-``search_k`` hits, the
    count of hits per value of each facet column, top ``top_values``
    values per (query, facet) ranked count DESC / value ASC.

    The facet unpivot is a JVM-side explode of an inline
    struct array (no stack() string plumbing, no UDF), so the whole
    plan is retrieval + one groupBy.

    Scale: facet aggregation touches only the |q|·search_k hit rows —
    constant per query regardless of corpus size; the docs join is a
    hit-side semi-hydration (broadcast the hit ids at serve scale).
    """
    top = bm25.search(docs, queries, k=search_k,
                      id_col=id_col, text_col=text_col)
    hits = top.join(docs.select(F.col(id_col).alias("doc_id"),
                                *facet_cols), "doc_id")
    pairs = hits.select(
        "query_id",
        F.explode(F.array(*[
            F.struct(F.lit(c).alias("facet"),
                     F.col(c).cast("string").alias("value"))
            for c in facet_cols
        ])).alias("fv"),
    ).select("query_id", "fv.facet", "fv.value").where(
        # docs with a NULL facet value are excluded from that facet's
        # sidebar (they'd otherwise form a NULL "value" that outranks
        # real values on count ties — ASC NULLS FIRST)
        F.col("value").isNotNull())
    counts = pairs.groupBy("query_id", "facet", "value").agg(
        F.count("*").cast("int").alias("n_hits"))
    w = Window.partitionBy("query_id", "facet").orderBy(
        F.desc("n_hits"), F.asc("value"))
    return (
        counts.withColumn("facet_rank", F.row_number().over(w))
        .where(F.col("facet_rank") <= top_values)
        .withColumn("facet_rank", F.col("facet_rank").cast("int"))
    )


def prefix_completions(docs: DataFrame, prefixes: DataFrame, k: int = 5,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Query autocomplete — top-``k`` corpus-vocabulary completions per
    typed prefix, ranked by document frequency (df DESC, term ASC).
    The search-box suggest feature over the same analyzed vocabulary
    the BM25 index serves.

    A `term LIKE prefix%` theta-join would plan as vocab × prefixes;
    instead the (tiny, broadcast) distinct prefix LENGTHS cross the
    vocab once, each term emits its substr at those lengths, and the
    match is an equi-join on (length, prefix-key). Vocab is df-bounded,
    never corpus-row-bounded.
    """
    tok = bm25.tokenize(docs, id_col=id_col, text_col=text_col)
    df_tab = (
        tok.select("doc_id", F.explode("tokens").alias("term")).distinct()
        .groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    )
    pl = prefixes.select(
        F.lower("prefix").alias("prefix"),
        F.length(F.lower("prefix")).alias("plen"))
    lens = pl.select("plen").distinct()
    keyed = (
        df_tab.join(F.broadcast(lens), F.length("term") >= F.col("plen"))
        .withColumn("key", F.expr("substring(term, 1, plen)"))
    )
    # key == prefix alone suffices: a key built at length L has length
    # exactly L, so it can only equal a prefix of the same length
    cand = keyed.join(F.broadcast(pl.select("prefix")),
                      keyed.key == F.col("prefix")) \
                .select("prefix", "term", "df")
    w = Window.partitionBy("prefix").orderBy(F.desc("df"), F.asc("term"))
    return (
        cand.withColumn("sug_rank", F.row_number().over(w))
        .where(F.col("sug_rank") <= k)
        .withColumn("sug_rank", F.col("sug_rank").cast("int"))
    )


def boolean_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Boolean retrieval — Lucene BooleanQuery semantics (MUST /
    SHOULD / MUST_NOT clauses) over the BM25 postings, the filtered
    query capability next to free-text ranking (reference serves
    term queries only, vecpipe/search/service.py; every search UI
    exposes +term / -term operators on top).

    ``queries``: query_id, must, should, must_not — each a
    space-separated clause string run through the SAME analyzer as the
    corpus (lowercase, len>=2, stopwords dropped, distinct).

    Match rule (Lucene BooleanQuery):
      * every distinct MUST term present in the doc (a MUST term absent
        from the corpus vocabulary ⇒ zero hits for that query);
      * no MUST_NOT term present;
      * if the query has no MUST terms, at least one SHOULD term hits.
    Score = Σ BM25 impact weight over the doc's matched MUST∪SHOULD
    terms (each distinct term counted once, MUST wins on overlap);
    rank score DESC, doc_id ASC → top-k.

    Scale: all three clause tables are query-sized → broadcast into the
    postings scan; candidates are bounded by the positive terms' posting
    mass; the MUST_NOT exclusion is a broadcast left-anti join on the
    negative terms' postings. Two groupBys ((query,doc) hit fold +
    nothing else), no corpus × query blow-up anywhere.
    """
    tok = cache(bm25.tokenize(docs, id_col=id_col, text_col=text_col))
    stats = bm25.corpus_stats(tok)
    terms = bm25.term_stats(tok, stats)
    post = bm25.postings(tok, terms, stats)

    def clause(col: str) -> DataFrame:
        return (
            bm25.tokenize(queries.select("query_id",
                                         F.col(col).alias("text")),
                          id_col="query_id", text_col="text")
            .select(F.col("doc_id").alias("query_id"),
                    F.explode("tokens").alias("term"))
            .distinct()
        )

    must = clause("must")
    pos = (
        must.withColumn("is_must", F.lit(1))
        .unionByName(clause("should").withColumn("is_must", F.lit(0)))
        .groupBy("query_id", "term")
        .agg(F.max("is_must").alias("is_must"))
    )
    n_must = (
        queries.select("query_id")
        .join(must.groupBy("query_id").agg(
            F.count("*").cast("int").alias("n_must")), "query_id", "left")
        .na.fill({"n_must": 0})
    )
    hits = (
        post.join(F.broadcast(pos), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count("*").cast("int").alias("n_matched"),
            F.sum(F.col("is_must")).cast("int").alias("n_must_hit"),
            F.sum("weight").alias("score"),
        )
    )
    neg_docs = (
        post.select("term", "doc_id")
        .join(F.broadcast(clause("must_not")), "term")
        .select("query_id", "doc_id")
        .distinct()
    )
    cand = (
        hits.join(F.broadcast(n_must), "query_id")
        .where(F.col("n_must_hit") == F.col("n_must"))
        .join(neg_docs, ["query_id", "doc_id"], "left_anti")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "n_matched",
                F.round("score", 6).alias("score"),
                F.col("rank").cast("int").alias("rank"))
    )


def ltr_features(docs: DataFrame, queries: DataFrame, k: int = 20,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Learning-to-rank feature extraction (the LambdaMART-style
    training-table builder — Burges 2010; reference serves single
    scores, vecpipe/search/service.py, but every ranker TRAINED on a
    search log starts from exactly this join): for each query, the
    union of the BM25 top-k and dense top-k candidate sets, each
    candidate materialized as a feature row

      bm25_rank, dense_rank   (0 = outside that branch's top-k)
      bm25_score              sparse dot product (0 if no shared term)
      n_matched, sum_idf      matched-term census (9-dp DECIMAL sum)
      cosine                  mock-embedding cosine (model-free mode)
      doc_len                 analyzed token count

    Scale: candidates are 2k per query (query-bounded); features come
    from broadcast joins of the query side into the postings/index
    tables — the corpus is scanned once for postings and once for
    embeddings, nothing is corpus × query except the dense scan the
    dense branch already does. Ranks tie-break on doc_id; every float
    rounds at 6 dp.
    """
    tok = cache(bm25.tokenize(docs, id_col=id_col, text_col=text_col))
    stats = bm25.corpus_stats(tok)
    # terms feeds three consumers (postings, query encoding, the idf
    # join in hits) and the embedding table feeds two (the dense
    # branch, the candidate cosine) — caching them collapses those
    # repeated corpus-side subtrees to one execution +
    # InMemoryTableScan each (the uncached plan carried ~240 Exchange
    # nodes and ran the vocab aggregation three times).
    terms = cache(bm25.term_stats(tok, stats))
    # post is consumed twice (BM25 scoring + hits) but NOT cached:
    # measured at sf0.1, persisting the corpus-sized postings table
    # costs more wall than the second aggregation over the cached tok
    # saves (6.1s vs 4.4s median noop) — the recompute is map-side
    # work over an InMemoryTableScan, while the persist serializes
    # every posting row once more
    post = bm25.postings(tok, terms, stats)
    enc = bm25.encode_queries(queries, terms)
    btop = topk(bm25.score(post, enc), k).withColumnRenamed("rank", "bm25_rank")
    emb = cache(docs.select(F.col(id_col).alias("doc_id"),
                            mock_embedding(text_col).alias("e")))
    # the dense branch scores against the SAME cached embedding table
    # the candidate cosine below reads (mock_dense_search would rebuild
    # an identical mock_embedding scan of the corpus from scratch)
    qv = query_embeddings(queries)
    dtop = dense_search(emb.select("doc_id", F.col("e").alias("embedding")), qv, k)
    cand = (
        btop.select("query_id", "doc_id")
        .unionByName(dtop.select("query_id", "doc_id"))
        .distinct()
    )
    hits = (
        post.join(F.broadcast(enc.select("query_id", "term")), "term")
        .join(terms.select("term", "idf"), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").cast("int").alias("n_matched"),
             F.sum(F.round("idf", 9).cast("decimal(20,9)"))
             .cast("decimal(28,9)").alias("sum_idf"))
    )
    cos = (
        cand.join(emb, "doc_id")
        .join(F.broadcast(qv), "query_id")
        .select("query_id", "doc_id", cosine("e", "query_vec").alias("cosine"))
    )
    dl = tok.select("doc_id", F.size("tokens").cast("bigint").alias("doc_len"))
    return (
        cand
        .join(btop.select("query_id", "doc_id", "bm25_rank",
                          F.col("score").alias("bm25_score")),
              ["query_id", "doc_id"], "left")
        .join(dtop.select("query_id", "doc_id",
                          F.col("rank").alias("dense_rank")),
              ["query_id", "doc_id"], "left")
        .join(hits, ["query_id", "doc_id"], "left")
        .join(cos, ["query_id", "doc_id"])
        .join(dl, "doc_id")
        .select(
            "query_id", "doc_id",
            F.coalesce("bm25_rank", F.lit(0)).cast("int").alias("bm25_rank"),
            F.coalesce("dense_rank", F.lit(0)).cast("int").alias("dense_rank"),
            F.round(F.coalesce("bm25_score", F.lit(0.0)), 6)
            .alias("bm25_score"),
            F.coalesce("n_matched", F.lit(0)).cast("int").alias("n_matched"),
            F.round(F.coalesce(F.col("sum_idf").cast("double"), F.lit(0.0)),
                    6).alias("sum_idf"),
            F.round("cosine", 6).alias("cosine"),
            "doc_len",
        )
    )
