"""The per-query top-k window every retrieval operator ends with.

Search, ANN, rerank and serve paths all rank one score per
(query_id, id) pair and keep the best ``k`` per query. Ties break on the
id ascending, so every result is deterministic and oracle-checkable.
Lives under ``functions`` so ``operators.bm25`` can import it without a
cycle through ``operators.search``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def topk(scored: DataFrame, k: int, score_col: str = "score",
         id_col: str = "doc_id") -> DataFrame:
    """``scored`` plus ``rank`` (1-based row_number over ``query_id`` by
    ``score_col`` DESC, ``id_col`` ASC), keeping ``rank <= k``."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score_col), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
