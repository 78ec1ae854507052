"""SPLADE sparse encoding + retrieval (M2) — learned-sparse contract
with a deterministic test-mode encoder.

Reference parity (packages/shared/plugins/builtins/splade_indexer.py):
  encode      :294-345  MLM logits -> log(1 + ReLU(x)) -> mask padding
                        -> max-pool over sequence -> nonzero (indices,
                        values), optional top-k tokens
  doc encode  :470-535  batched document encoding
  query enc   :536-     same path for queries
  output      sorted (indices, values) pairs -- sparse vector contract
              shared with BM25 (bm25_sparse_indexer.py:455-464)

The real model is a transformer MLM (pandas_udf slot, see
``splade_model_udf``); this container ships no model libs, so the
engine's documented *test-mode* encoder reproduces SPLADE's output
SHAPE and algebra deterministically:

  vocab_id(term)     = hash60(term) % VOCAB_SIZE          (tokenizer id)
  expansion_id(term) = hash60(term || '#exp') % VOCAB_SIZE
      -- SPLADE's signature behavior is activating related terms the
         surface text never mentions; test-mode activates exactly one
         latent term per surface term at half weight.
  activation(tf)     = ln(1 + tf)                          (log-saturation,
                        the log(1+relu) shape)
  max-pool           = MAX(weight) per (doc, vocab_id)     (over sequence)

Everything is explode -> groupBy -> max: pure Catalyst, no UDF, and
bit-identical in the DuckDB oracle via ``hash60_sql`` (see
oracles.splade_ctes). Retrieval is the sparse dot product
sum(w_doc * w_query) over matching vocab ids -- the same posting-join
shape as BM25 scoring, so the 100 TB notes there apply unchanged
(broadcast tiny query vectors into the postings scan; one shuffle for
the per-(query,doc) sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantik_spark.functions.hashing import hash60
from semantik_spark.functions.ranking import topk
from semantik_spark.operators.bm25 import tokenize

# BERT WordPiece vocabulary size — the id space SPLADE activations live in.
VOCAB_SIZE = 30522
EXPANSION_WEIGHT = 0.5
EXPANSION_SUFFIX = "#exp"


def encode(docs: DataFrame, id_col: str = "doc_id",
           text_col: str = "text") -> DataFrame:
    """Test-mode SPLADE encode: doc_id, vocab_id BIGINT, weight DOUBLE.

    One row per activated vocab id, max-pooled. Surface terms activate
    ln(1+tf); each also activates its expansion id at half weight;
    collisions resolve by MAX (the sequence max-pool, splade_indexer
    :321-332).
    """
    tf = (
        tokenize(docs, id_col=id_col, text_col=text_col)
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    act = F.log(F.lit(1.0) + F.col("tf").cast("double"))
    pairs = tf.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    (hash60(F.col("term")) % VOCAB_SIZE).alias("vocab_id"),
                    act.alias("weight"),
                ),
                F.struct(
                    (hash60(F.concat(F.col("term"), F.lit(EXPANSION_SUFFIX)))
                     % VOCAB_SIZE).alias("vocab_id"),
                    (act * EXPANSION_WEIGHT).alias("weight"),
                ),
            )
        ).alias("a"),
    ).select("doc_id", "a.vocab_id", "a.weight")
    return pairs.groupBy("doc_id", "vocab_id").agg(F.max("weight").alias("weight"))


def doc_vectors(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Sparse-vector rows: doc_id, indices ARRAY<BIGINT> (ascending),
    values ARRAY<DOUBLE> — the (indices, values) contract of
    splade_indexer.py:334-345 / bm25_sparse_indexer.py:455-464."""
    enc = encode(docs, id_col=id_col, text_col=text_col)
    sorted_pairs = F.array_sort(
        F.collect_list(F.struct(F.col("vocab_id"), F.round("weight", 6).alias("weight")))
    )
    return enc.groupBy("doc_id").agg(
        F.transform(sorted_pairs, lambda p: p.vocab_id).alias("indices"),
        F.transform(sorted_pairs, lambda p: p.weight).alias("values"),
    )


# BERT-style special tokens heading the vocab file; [UNK] sits at id 1.
# (bert-base-uncased scatters specials at 0/100-103 among [unusedN]
# slots; the compact head keeps the same file-line==id contract.)
SPECIAL_TOKENS = ("[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]")
UNK_ID = 1


def build_vocab_file(docs: DataFrame, path: str, size: int = VOCAB_SIZE,
                     id_col: str = "doc_id", text_col: str = "text") -> int:
    """Derive a WordPiece-layout vocabulary FILE from a corpus: special
    tokens at the head, then corpus terms ordered by (document
    frequency desc, term asc), padded to ``size`` with ``[unusedN]``
    slots — the vocab.txt contract of a real BERT tokenizer, where the
    token's id IS its line number (reference tokenizer contract,
    splade_indexer.py:294-345). Returns the number of corpus terms
    written. The df ranking is computed distributed; only the final
    ≤``size``-row vocabulary is collected (codebook-scale by
    construction — same driver budget as the k-means codebooks)."""
    tok = tokenize(docs, id_col=id_col, text_col=text_col)
    df = (
        tok.select("doc_id", F.explode("tokens").alias("term")).distinct()
        .groupBy("term").agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(size - len(SPECIAL_TOKENS))
    )
    terms = [r["term"] for r in df.collect()]
    with open(path, "w", encoding="utf-8") as f:
        for t in SPECIAL_TOKENS:
            f.write(t + "\n")
        for t in terms:
            f.write(t + "\n")
        for i in range(size - len(SPECIAL_TOKENS) - len(terms)):
            f.write(f"[unused{i}]\n")
    return len(terms)


def load_vocab(spark, path: str) -> DataFrame:
    """vocab.txt → DataFrame(term, vocab_id): id = 0-based line number,
    exactly how a WordPiece tokenizer maps the file. The file is
    vocab-sized (≤30522 lines) so it loads driver-side and BROADCASTS
    into the encode join — the 100 TB shape for a fixed-size dimension."""
    with open(path, encoding="utf-8") as f:
        rows = [(line.rstrip("\n"), i) for i, line in enumerate(f)]
    return spark.createDataFrame(rows, "term string, vocab_id bigint")


def encode_with_vocab(docs: DataFrame, vocab: DataFrame,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """SPLADE encode against a FILE-BACKED vocabulary: sparse ids come
    from the broadcast term→id map (a real tokenizer's id space), not
    a hash; out-of-vocabulary terms collapse to [UNK] (id 1) with
    max-pool resolving their collisions — real WordPiece behavior.
    Surface activations only (ln(1+tf)): latent expansion terms are
    the MLM's contribution and need the real model
    (splade_model_udf). doc_id, vocab_id, weight."""
    tf = (
        tokenize(docs, id_col=id_col, text_col=text_col)
        .select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.join(F.broadcast(vocab), "term", "left")
        .select(
            "doc_id",
            F.coalesce("vocab_id", F.lit(UNK_ID)).alias("vocab_id"),
            F.log(F.lit(1.0) + F.col("tf").cast("double")).alias("weight"),
        )
        .groupBy("doc_id", "vocab_id")
        .agg(F.max("weight").alias("weight"))
    )


def encode_queries(queries: DataFrame, id_col: str = "query_id",
                   text_col: str = "query_text") -> DataFrame:
    """Queries ride the same MLM path as documents (splade_indexer
    :536-): query_id, vocab_id, weight."""
    return (
        encode(queries, id_col=id_col, text_col=text_col)
        .withColumnRenamed("doc_id", "query_id")
    )


def search(docs: DataFrame, queries: DataFrame, k: int = 10,
           id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Sparse dot-product top-k: query_id, doc_id, score (6dp), rank.

    score = sum(w_doc * w_query) over matching vocab ids. The encoded
    query set is tiny (#queries x ~2 x query terms) — broadcast it into
    the document-activation scan so scoring needs no shuffle of the big
    side before the per-(query,doc) aggregation.
    """
    enc_d = encode(docs, id_col=id_col, text_col=text_col)
    enc_q = encode_queries(queries)
    scored = (
        enc_d.join(
            F.broadcast(enc_q.withColumnRenamed("weight", "q_weight")),
            "vocab_id",
        )
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(F.col("weight") * F.col("q_weight")), 6).alias("score"))
    )
    return topk(scored, k)


def splade_model_udf(model_factory, batch_size: int = 32):
    """Real-model SPLADE slot (naver/splade-*): an iterator-form
    pandas_udf returning the (indices, values) struct contract, one
    model load per partition iterator, OOM-adaptive batching
    (splade_indexer.py:294-345 semantics). The transformer stack is not
    in this image, so the model arrives via ``model_factory`` — a
    closure returning an object with encode(texts) ->
    list[(indices, values)]; production wraps the HF model, tests
    inject a fake. Test-mode `encode` above remains the deterministic
    oracle-checkable stand-in."""
    from semantik_spark.functions.model_udfs import splade_encode_udf

    return splade_encode_udf(model_factory, batch_size=batch_size)
