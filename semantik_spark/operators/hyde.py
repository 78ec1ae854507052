"""HyDE query expansion (M5) — Hypothetical Document Embeddings.

Reference parity:
  prompts     shared/llm/hyde.py:40-50
  generate    shared/llm/hyde.py:89-173 — LLM writes a hypothetical
              answer passage per query
  wiring      webui/services/search_service.py:337-423, 470-479 — the
              HYPOTHETICAL PASSAGE drives the dense branch while the
              ORIGINAL query drives the sparse branch
  contract    shared/contracts/search.py:22-27

Queries are driver-small (the API caps batches at 100,
contracts/search.py:173), so generation is a driver-side call per
query — the reference does the same. The generator is injected: any
``Callable[[str], str]``; production passes an LLM client, tests and
oracles use ``deterministic_generate`` (a pure string template, which
makes the full HyDE-hybrid pipeline reproducible in DuckDB SQL).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from semantik_spark.operators import bm25
from semantik_spark.operators.search import (
    dense_scores, doc_embeddings, query_embeddings, rrf_fuse,
)

# apostrophe-free on purpose: the template is inlined into oracle SQL
HYDE_TEMPLATE = "Relevant passage: {q}. Key facts about {q} include definitions, examples, and applications."


def deterministic_generate(query_text: str) -> str:
    """Test-mode hypothetical passage (hyde.py:40-50 prompt shape,
    model-free): deterministic, so search results are oracle-checkable."""
    return HYDE_TEMPLATE.format(q=query_text)


def expand_queries(queries: DataFrame,
                   generator: Callable[[str], str] = deterministic_generate,
                   query_id_col: str = "query_id",
                   query_text_col: str = "query_text") -> DataFrame:
    """Adds dense_query_text = generator(query_text). Driver-side loop
    over the collected (small) query set — mirrors the reference's
    per-query LLM call — then rejoined as a broadcastable DataFrame."""
    spark = queries.sparkSession
    rows = queries.select(query_id_col, query_text_col).collect()
    expanded = spark.createDataFrame(
        [(r[query_id_col], generator(r[query_text_col])) for r in rows],
        [query_id_col, "dense_query_text"],
    )
    return queries.join(F.broadcast(expanded), query_id_col)


def hyde_hybrid_search(docs: DataFrame, queries: DataFrame, k: int = 10,
                       search_k: int | None = None,
                       generator: Callable[[str], str] = deterministic_generate,
                       id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Hybrid search with HyDE split (search_service.py:470-479):
    dense branch embeds the hypothetical passage, sparse branch encodes
    the original query, search.rrf_fuse fuses the raw branch scores."""
    if search_k is None:
        search_k = max(k * 2, 20)
    expanded = expand_queries(queries, generator)
    dense = dense_scores(doc_embeddings(docs, id_col, text_col),
                         query_embeddings(expanded, query_text_col="dense_query_text"))
    sparse = bm25._scores(docs, queries, id_col, text_col, None, None)
    return rrf_fuse(dense, sparse, k, search_k)
