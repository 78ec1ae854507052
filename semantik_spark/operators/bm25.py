"""BM25 sparse indexing + retrieval as pure DataFrame algebra.

Reference math (bm25_sparse_indexer.py):
  tokenizer  :516-543  lowercase, \\b\\w+(?:-\\w+)*\\b, len>=2, stopwords
  IDF        :593-617  idf = max(0, ln((N - df + 0.5)/(df + 0.5) + 1))
  doc weight :619-670  idf * tf*(k1+1) / (tf + k1*(1 - b + b*len/avgdl))
  query enc  :414-464  weight = tf_q * idf (no length normalization)
  defaults   :54-55    k1=1.5, b=0.75

The reference mutates in-memory stats per chunk; here corpus stats are a
recomputed table (SURVEY §7 "stateful incremental BM25"): snapshot at
index-build, refreshed on reindex — same staleness semantics.

Scale notes (100 TB):
  - term_stats is groupBy(term) over exploded distinct-terms — map-side
    partial aggregation keeps the shuffle at |vocab| rows, not |tokens|.
  - postings (chunk_id, term, weight) is the index table; partitioned by
    collection on write, bucketable by term for shuffle-free query joins.
  - query-side joins broadcast the (tiny) query-term table into the
    postings scan, so scoring is one shuffle (the groupBy per query,doc).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from semantik_spark.config import BM25_B, BM25_K1
from semantik_spark.functions.text import bm25_tokens
from semantik_spark.functions.caching import cache
from semantik_spark.functions.ranking import topk


def tokenize(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """doc_id, tokens ARRAY<STRING>, doc_len INT."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        bm25_tokens(text_col).alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


def corpus_stats(tokenized: DataFrame) -> DataFrame:
    """Single-row: n_docs BIGINT, avgdl DOUBLE (bm25 A1)."""
    # sum/count instead of avg(): integer sum is exact, so the double
    # result is independent of partition merge order (oracle parity).
    return tokenized.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        (F.sum("doc_len").cast("double") / F.count("*")).alias("avgdl"),
    )


def term_stats(tokenized: DataFrame, stats: DataFrame | None = None,
               bucket_chars: int = 2) -> DataFrame:
    """term, term_id (dense, ordered by term — deterministic, unlike the
    reference's insertion order), df BIGINT, idf DOUBLE (A2).

    term_id is assigned WITHOUT a global single-partition sort: terms
    rank within ``bucket_chars``-prefix buckets (hash exchange on the
    bucket — parallel), and each bucket's rank offset is the summed
    count of lexicographically-smaller buckets, computed by a broadcast
    self-join over the tiny bucket-count table. offset + local_rank
    equals the global ORDER BY term rank exactly, with no sampling and
    no run-to-run nondeterminism (unlike repartitionByRange, whose
    sampled boundaries differ across executions). At a 100 TB vocab
    raise ``bucket_chars`` to 3 to tighten the skew bound.
    Pass ``stats`` (corpus_stats output) to avoid a second scan of
    ``tokenized``.
    """
    n_avg = stats if stats is not None else corpus_stats(tokenized)
    return term_stats_from_state(term_state(tokenized), n_avg, bucket_chars)


def corpus_state(tokenized: DataFrame) -> DataFrame:
    """The MERGEABLE form of corpus stats: single-row (n_docs BIGINT,
    sum_dl BIGINT). Unlike avgdl, both fields are integer sums, so two
    states (or a state and a delta batch) merge by addition —
    bit-exactly, in any order. ``stats_from_state`` derives the
    (n_docs, avgdl) view downstream operators consume.

    Reference semantics: the incremental sync path accumulates
    document_count / total_length across chunks and derives avgdl at
    score time (bm25_sparse_indexer.py:545-591); this is that
    accumulator as a one-row table."""
    return tokenized.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("doc_len").cast("bigint").alias("sum_dl"),
    )


def term_state(tokenized: DataFrame) -> DataFrame:
    """The MERGEABLE form of term stats: (term, df BIGINT). df counts
    merge by per-term addition (a doc contributes 1 to each distinct
    term it contains, so disjoint doc sets sum)."""
    return (
        tokenized.select(F.explode(F.array_distinct("tokens")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("df"))
    )


def merge_corpus_state(old: DataFrame, delta_tokenized: DataFrame) -> DataFrame:
    """old corpus_state ⊕ a tokenized APPEND batch → new corpus_state.
    One union of one-row frames + one sum — no corpus rescan. Exactness
    (merge == recompute over the union) is test-pinned; only valid for
    appends of NEW doc ids (an update must retract the old version
    first — the change-detection anti-join upstream guarantees this)."""
    return old.unionByName(corpus_state(delta_tokenized)).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )


def merge_term_state(old: DataFrame, delta_tokenized: DataFrame) -> DataFrame:
    """old term_state ⊕ a tokenized APPEND batch → new term_state: one
    groupBy(term) over old-state ∪ delta-df rows. The shuffle is
    |vocab| + |batch vocab| rows — never the corpus."""
    return (
        old.select("term", "df")
        .unionByName(term_state(delta_tokenized))
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"))
    )


def retract_corpus_state(old: DataFrame, deleted_tokenized: DataFrame) -> DataFrame:
    """old corpus_state ⊖ a tokenized DELETE batch → new corpus_state.
    Both fields are integer sums, so retraction is exact subtraction —
    the mergeable state is an abelian group, not just a monoid, which
    is what makes GDPR-style deletion as cheap as the append path.
    Only valid for doc ids actually present exactly once (the deletion
    path anti-joins the catalog first)."""
    neg = corpus_state(deleted_tokenized).select(
        (-F.col("n_docs")).alias("n_docs"), (-F.col("sum_dl")).alias("sum_dl")
    )
    return old.unionByName(neg).agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )


def retract_term_state(old: DataFrame, deleted_tokenized: DataFrame) -> DataFrame:
    """old term_state ⊖ a tokenized DELETE batch: per-term df
    subtraction; terms whose df hits zero drop out of the vocabulary
    entirely (exactly what a recompute over the remaining corpus
    yields — test-pinned)."""
    neg = term_state(deleted_tokenized).select("term", (-F.col("df")).alias("df"))
    return (
        old.select("term", "df").unionByName(neg)
        .groupBy("term")
        .agg(F.sum("df").cast("bigint").alias("df"))
        .where(F.col("df") > 0)
    )


def stats_from_state(state: DataFrame) -> DataFrame:
    """corpus_state → the (n_docs, avgdl) view corpus_stats produces.
    sum/count division (exact integer inputs) keeps the double
    independent of how many merges built the state."""
    return state.select(
        "n_docs",
        # try_divide: a fully-retracted state (GDPR: every doc erased)
        # holds exact (0, 0) — NULL avgdl, not an ANSI job abort
        F.try_divide(F.col("sum_dl").cast("double"),
                     F.col("n_docs")).alias("avgdl"),
    )


def term_stats_from_state(tstate: DataFrame, stats: DataFrame,
                          bucket_chars: int = 2) -> DataFrame:
    """(term, df) state + (n_docs, avgdl) stats → the full
    (term, term_id, df, idf) table term_stats produces: idf from the
    merged N/df, term_id by the deterministic prefix-bucket global
    rank. Vocab-sized work — rebuilding ids/idf after a merge never
    rescans the corpus."""
    from pyspark.sql import Window

    bucketed = (
        tstate.crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.greatest(
                F.lit(0.0),
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0),
            ),
        )
        .withColumn("bucket", F.substring("term", 1, bucket_chars))
    )
    counts = bucketed.groupBy("bucket").agg(F.count("*").alias("_cnt"))
    offsets = (
        counts.alias("a")
        .join(F.broadcast(counts.alias("b")), F.col("b.bucket") < F.col("a.bucket"), "left")
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).cast("bigint").alias("_off"))
    )
    w = Window.partitionBy("bucket").orderBy("term")
    return (
        bucketed.join(F.broadcast(offsets), "bucket")
        .withColumn("term_id", (F.col("_off") + F.row_number().over(w) - 1).cast("bigint"))
        .select("term", "term_id", "df", "idf")
    )


def postings(tokenized: DataFrame, terms: DataFrame, stats: DataFrame) -> DataFrame:
    """The sparse index as a postings table: doc_id, term, term_id, tf,
    weight (A3). Equivalent to the reference's per-chunk (indices,
    values) arrays, kept relational so scoring is a join+agg.
    """
    tf = (
        tokenized.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    return (
        tf.join(terms, "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "weight",
            F.col("idf")
            * (F.col("tf") * (BM25_K1 + 1.0))
            / (
                F.col("tf")
                + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("doc_len") / F.col("avgdl"))
            ),
        )
        .where(F.col("weight") > 0)
        .select("doc_id", "term", "term_id", "tf", "weight")
    )


def sparse_vectors(post: DataFrame) -> DataFrame:
    """Collapse postings to the reference's Qdrant sparse-point shape:
    doc_id, sparse_indices ARRAY<BIGINT> (ascending), sparse_values
    ARRAY<DOUBLE> — ordering per bm25_sparse_indexer.py:664-670.
    """
    return (
        post.groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("term_id", "weight"))).alias("pairs"))
        .select(
            "doc_id",
            F.col("pairs.term_id").alias("sparse_indices"),
            F.col("pairs.weight").alias("sparse_values"),
        )
    )


def encode_queries(queries: DataFrame, terms: DataFrame,
                   id_col: str = "query_id", text_col: str = "query_text") -> DataFrame:
    """query_id, term, q_weight = tf_q * idf; unknown terms drop out via
    the inner join (reference :444-452 skips unknown terms)."""
    qtf = (
        tokenize(queries, id_col=id_col, text_col=text_col)
        .select(F.col("doc_id").alias("query_id"), F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf_q"))
    )
    return (
        qtf.join(terms.select("term", "idf"), "term")
        .where(F.col("idf") > 0)
        .withColumn("q_weight", F.col("tf_q") * F.col("idf"))
        .select("query_id", "term", "q_weight")
    )


def score(post: DataFrame, encoded_queries: DataFrame) -> DataFrame:
    """Sparse dot-product scores: query_id, doc_id, score.

    Broadcast the (small) query-term table into the postings scan — one
    shuffle total (the groupBy), no matter the corpus size.
    """
    return (
        post.join(F.broadcast(encoded_queries), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(F.col("weight") * F.col("q_weight")).alias("score"))
    )


def _tokenized(docs: DataFrame, id_col: str, text_col: str,
               tokenized: DataFrame | None) -> DataFrame:
    """The in-one-run operators' corpus tokenize: ``tokenized`` when the
    caller already holds one (an already-persisted tokenize() output it
    also uses for its own purposes), else tokenize(docs) persisted. The
    tokenized corpus feeds several consumers (corpus stats, term stats,
    postings), so the regex tokenizer runs ONCE per doc instead of once
    per consumer. In a deployed index the postings table is persisted
    parquet and this whole prefix disappears (operators/serving.py)."""
    # NO spread before the corpus tokenize (measured): only top-k rows
    # survive these queries, so the tokenize is not the dominant cost
    # and 32-way tiny-task stages cost more than they parallelize —
    # bm25_search measured 3.56 -> 4.76 s median with the spread
    # (interleaved 5-rep noop, sf0.1; tasks 68 -> 687). The
    # full-postings paths (q_bm25_postings, serving.build_sparse),
    # where the tf explode IS the cost, do spread — measured -45%.
    return tokenized if tokenized is not None \
        else cache(tokenize(docs, id_col=id_col, text_col=text_col))


def _index(docs: DataFrame, id_col: str, text_col: str,
           tokenized: DataFrame | None) -> tuple[DataFrame, DataFrame]:
    """(terms, postings) built in one run over the _tokenized corpus."""
    tok = _tokenized(docs, id_col, text_col, tokenized)
    # terms/stats deliberately NOT persisted here (measured): the two
    # terms subtrees (postings + query encoding) are independent stages
    # of ONE job and run concurrently over the cached tok, so the
    # duplicate vocab aggregation costs little wall — while a persist
    # serializes materialize-then-read and measured +13-22% on every
    # search-shaped query. rocchio_search (3+ consumers, two scoring
    # passes) is where the persist wins.
    stats = corpus_stats(tok)
    terms = term_stats(tok, stats)
    return terms, postings(tok, terms, stats)


def _scores(docs: DataFrame, queries: DataFrame, id_col: str, text_col: str,
            tokenized: DataFrame | None, keep: int | None) -> DataFrame:
    """In-one-run BM25 branch: (query_id, doc_id, score) over the full
    postings, or over pruned_postings(keep) when ``keep`` is set."""
    terms, post = _index(docs, id_col, text_col, tokenized)
    if keep is not None:
        post = pruned_postings(post, keep=keep)
    return score(post, encode_queries(queries, terms))


def search(docs: DataFrame, queries: DataFrame, k: int = 10,
           id_col: str = "doc_id", text_col: str = "text",
           tokenized: DataFrame | None = None) -> DataFrame:
    """End-to-end BM25 top-k: query_id, doc_id, score, rank (1-based,
    ties broken by doc_id for determinism). Callers that also tokenize
    for their own purposes pass ``tokenized`` to share the single pass
    (see _tokenized)."""
    return topk(_scores(docs, queries, id_col, text_col, tokenized, None), k)


def pruned_postings(post: DataFrame, keep: int = 32) -> DataFrame:
    """Static impact-ordered index pruning (Carmel et al. 2001, "Static
    index pruning for information retrieval systems"): keep only the
    top-``keep`` postings per term by BM25 impact weight (doc_id
    tiebreak for determinism). The standard sparse-serving trade: a
    term's tail postings contribute the least to any top-k and are the
    bulk of the index for common terms, so the pruned index is a small
    fraction of the full one while top-k results barely move.

    Scale: one window shuffle on term — the same key the postings
    table is already partitioned by for serving, so in a deployed
    index this runs partition-local at write time. The pruned index
    bounds per-term serving cost at ``keep`` rows regardless of how
    common the term is: the worst-case stopword-ish probe goes from
    O(corpus) to O(keep).
    """
    w = Window.partitionBy("term").orderBy(F.desc("weight"), F.asc("doc_id"))
    return (
        post.withColumn("_pr", F.row_number().over(w))
        .where(F.col("_pr") <= keep)
        .drop("_pr")
    )


def pruned_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                  keep: int = 32, id_col: str = "doc_id",
                  text_col: str = "text",
                  tokenized: DataFrame | None = None) -> DataFrame:
    """BM25 top-k served from the statically pruned index — same
    contract as search(); scores can only shrink vs the full index
    (cut term contributions), ranks shift accordingly. Callers choose
    ``keep`` from measured recall (the pruning analogue of the IVF
    nprobe sweep)."""
    return topk(_scores(docs, queries, id_col, text_col, tokenized, keep), k)


def rocchio_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                   fb_docs: int = 5, fb_terms: int = 8,
                   beta_milli: int = 400, id_col: str = "doc_id",
                   text_col: str = "text",
                   tokenized: DataFrame | None = None) -> DataFrame:
    """Pseudo-relevance-feedback BM25 (Rocchio 1971; the two-pass
    query-expansion family RM3/BO1 belong to): assume the first-pass
    top-``fb_docs`` are relevant, mine them for the ``fb_terms``
    strongest terms the user DIDN'T type, and rescore with the expanded
    query. The classic fix for vocabulary mismatch ("car" retrieving
    docs that only say "automobile") — pure query-side work, no model.

      pass 1  standard BM25 top-fb_docs per query;
      mine    expansion weight w_fb(term) = Σ over feedback docs of the
              doc's BM25 impact weight for the term; original query
              terms excluded (anti-join); top-fb_terms per query by
              (floor(w_fb·1e6 + 0.5) DESC, term ASC) — the micro-
              quantized rank key makes the cut engine-portable;
      pass 2  q_weight(expansion) = beta_milli/1000 · w_fb / fb_docs
              unioned with the original encoded query, then the normal
              broadcast score + top-k.

    Scale: the postings table is built ONCE and persisted across both
    passes (in a deployed index it is parquet and both passes are pure
    serve work); the feedback join is |queries|·fb_docs rows against
    postings on doc_id — broadcast-sized; the second pass costs exactly
    one more broadcast score pass with ≤ fb_terms extra terms per
    query. No corpus rescan anywhere.
    """
    tok = _tokenized(docs, id_col, text_col, tokenized)
    # terms feeds postings + BOTH query encodings; stats feeds terms +
    # postings, and post is read by both scoring passes and the
    # feedback mining — unlike _index's single pass, persisting all
    # three wins here.
    stats = cache(corpus_stats(tok))
    terms = cache(term_stats(tok, stats))
    post = cache(postings(tok, terms, stats))
    enc = encode_queries(queries, terms)
    fb = topk(score(post, enc), fb_docs).select("query_id", "doc_id")
    wexp = Window.partitionBy("query_id").orderBy(
        F.desc("_mu"), F.asc("term"))
    expn = (
        fb.join(post, "doc_id")
        .groupBy("query_id", "term")
        .agg(F.sum("weight").alias("w_fb"))
        .join(enc.select("query_id", "term"), ["query_id", "term"],
              "left_anti")
        .withColumn("_mu", F.floor(F.col("w_fb") * 1e6 + F.lit(0.5))
                    .cast("bigint"))
        .withColumn("_rn", F.row_number().over(wexp))
        .where(F.col("_rn") <= fb_terms)
        .select(
            "query_id", "term",
            (F.lit(float(beta_milli)) / F.lit(1000.0) * F.col("w_fb")
             / F.lit(float(fb_docs))).alias("q_weight"),
        )
    )
    return topk(score(post, enc.unionByName(expn)), k)


def lm_dirichlet_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                        mu: float = 300.0, id_col: str = "doc_id",
                        text_col: str = "text",
                        tokenized: DataFrame | None = None) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty 2001) — the language-modeling family next to BM25, dense,
    SPLADE and MaxSim: score(q,d) = Σ_w tf_q(w)·ln P(w|θ_d) with
    P(w|θ_d) = (tf_d(w) + µ·P(w|C)) / (dl + µ). Using the standard
    decomposition, docs sharing ≥ 1 query term are ranked by

        Σ_{w∈q∩d} tf_q·ln(1 + tf_d / (µ·P(w|C)))  +  |q|·ln(µ/(dl+µ))

    where P(w|C) = cf(w)/|C| (collection LM). The second term is the
    length prior every doc pays; zero-overlap docs (whose score is just
    that prior) are excluded, as in the BM25 path.

    Where BM25 differs in behavior: Dirichlet smoothing penalizes long
    documents through the prior rather than the tf saturation curve,
    and term importance comes from collection FREQUENCY (cf), not
    document frequency — a genuinely different ranking on the same
    index, which is why QL remains the second default in Lucene/Terrier.

    Shape: one tokenize pass feeding tf / doc_len / cf / |C| (all
    map-side combinable aggs), query terms broadcast into the tf scan,
    one groupBy — exactly the BM25 serve shape with cf in place of df,
    so a deployed index serves both models from one postings layout
    plus a vocab-sized cf sidecar.
    """
    tok = _tokenized(docs, id_col, text_col, tokenized)
    tf = (
        tok.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "doc_len", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    coll = tok.agg(F.sum("doc_len").cast("double").alias("t_tokens"))
    cf = tf.groupBy("term").agg(F.sum("tf").cast("double").alias("cf"))
    qtf = (
        tokenize(queries, id_col="query_id", text_col="query_text")
        .select(F.col("doc_id").alias("query_id"),
                F.explode("tokens").alias("term"))
        .groupBy("query_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf_q"))
    )
    # qlen counts IN-VOCABULARY query terms only: the Zhai-Lafferty
    # per-doc decomposition is valid for terms with P(w|C) > 0, and an
    # OOV term would otherwise inflate every doc's length prior
    # (qlen·ln(mu/(dl+mu))) while contributing nothing to s_match —
    # enough to flip close rankings; encode_queries' inner join drops
    # unknown terms for BM25 the same way
    qlen = (
        qtf.join(F.broadcast(cf.select("term")), "term", "left_semi")
        .groupBy("query_id")
        .agg(F.sum("tf_q").cast("bigint").alias("qlen")))
    mu_l = F.lit(float(mu))
    ov = (
        tf.join(F.broadcast(qtf), "term")
        .join(F.broadcast(cf), "term")
        .crossJoin(F.broadcast(coll))
        .groupBy("query_id", "doc_id", "doc_len")
        .agg(F.sum(
            F.col("tf_q") * F.log(
                F.lit(1.0) + F.col("tf")
                / (mu_l * (F.col("cf") / F.col("t_tokens"))))
        ).alias("s_match"))
    )
    scored = ov.join(F.broadcast(qlen), "query_id").select(
        "query_id", "doc_id",
        (F.col("s_match")
         + F.col("qlen") * F.log(mu_l / (F.col("doc_len") + mu_l)))
        .alias("score"),
    )
    return topk(scored, k)


def more_like_this(docs: DataFrame, seed_pred, k: int = 10, top_terms: int = 16,
                   id_col: str = "doc_id", text_col: str = "text",
                   tokenized: DataFrame | None = None) -> DataFrame:
    """Sparse "more-like-this": for every seed document (rows matching
    ``seed_pred``), the top-k most similar documents by BM25-vector dot
    product — the classic MLT query (Lucene MoreLikeThis; the
    reference's find-similar UX rides its Qdrant recommend API), here
    expressed as a postings self-join.

    Each seed keeps only its ``top_terms`` strongest terms (weight
    desc, term asc) — standard MLT term selection, and the scale
    guard: the probe side is |seeds|·top_terms rows, broadcast into
    the postings scan, so hot corpus terms never amplify the shuffle
    beyond the one groupBy((seed, doc)). Self-pairs are excluded.

    Returns (seed_id, doc_id, score, rank).
    """
    _, post = _index(docs, id_col, text_col, tokenized)
    wt = Window.partitionBy("doc_id").orderBy(F.desc("weight"), F.asc("term"))
    seed_terms = (
        post.where(seed_pred)
        .withColumn("trank", F.row_number().over(wt))
        .where(F.col("trank") <= top_terms)
        .select(F.col("doc_id").alias("seed_id"), "term",
                F.col("weight").alias("seed_weight"))
    )
    scored = (
        post.join(F.broadcast(seed_terms), "term")
        .where(F.col("doc_id") != F.col("seed_id"))
        .groupBy("seed_id", "doc_id")
        .agg(F.sum(F.col("weight") * F.col("seed_weight")).alias("score"))
    )
    w = Window.partitionBy("seed_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
