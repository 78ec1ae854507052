"""Output checks. Each runs once per run, after the timed loop, and
returns how many checked operations gave a wrong result.

serve_mix: bm25 and dense rankings come from the DuckDB twins in
``semantik_spark.oracles`` (``bm25_search_ctes``, ``mock_dense_ctes``)
over the generated corpus registered as ``documents``; the hybrid and
rerank expectations are fused from those rankings and the twins' token
lists with the serving contract (RRF with k=60; token-set cosine).
index_sync: minhash pairs against ``oracles.q_minhash_lsh``; after the
last step, ``terms`` and ``bm25_state`` against a fresh ``build_sparse``
over the surviving chunks; and no erased chunk in any later serve.
"""

from __future__ import annotations

import math
import os
import re
import sys

import numpy as np

TOL = 1e-6
RRF_K = 60


def say(msg: str) -> None:
    print(f"check: {msg}", file=sys.stderr)


def duck(w):
    """In-memory DuckDB over the workload's corpus as ``documents``."""
    import duckdb

    con = duckdb.connect(config={"temp_directory": os.path.join(w.work, "duckdb")})
    docs_pd = w.docs_pd
    con.register("documents", docs_pd)
    return con


def materialized(sql: str) -> str:
    """Same query, with the shared tokenization CTEs computed once."""
    return re.sub(r"\b(tokd|tokl|bstats|terms) AS \(", r"\1 AS MATERIALIZED (", sql)


def top(scores: dict, k: int) -> dict:
    """{query: [(doc, score)] ranked by score desc, doc asc, first k}."""
    out = {}
    for (q, d), sc in scores.items():
        out.setdefault(q, []).append((d, sc))
    return {q: sorted(v, key=lambda t: (-t[1], t[0]))[:k] for q, v in out.items()}


def rrf(dense: dict, sparse: dict, search_k: int, k: int) -> dict:
    """serving._rrf_union_fuse over two rankings."""
    out = {}
    for q in set(dense) | set(sparse):
        fused: dict[int, list] = {}
        for branch, ranking in ((0, dense.get(q, [])), (1, sparse.get(q, []))):
            for rank, (d, _) in enumerate(ranking[:search_k], start=1):
                fused.setdefault(d, [None, None])[branch] = rank
        scores = {d: (1.0 / (RRF_K + dr) if dr else 0.0) + (1.0 / (RRF_K + sr) if sr else 0.0)
                  for d, (dr, sr) in fused.items()}
        out[q] = sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]
    return out


def same(name: str, rows, want: dict, scol: str = "score") -> bool:
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((int(r["doc_id"]), float(r[scol])))
    want = {q: v for q, v in want.items() if v}
    if got.keys() != want.keys():
        say(f"{name}: queries {sorted(got)} vs expected {sorted(want)}")
        return False
    for q, lst in want.items():
        g = got[q]
        if [d for d, _ in g] != [d for d, _ in lst] or any(
                abs(a[1] - b[1]) > TOL for a, b in zip(g, lst)):
            say(f"{name}: query {q} gave {g[:3]}..., expected {lst[:3]}...")
            return False
    return True


def well_ranked(name: str, rows, k: int, ids: set) -> bool:
    """Ranks 1..n per query, n <= k, scores non-increasing, known ids."""
    by_q: dict = {}
    for r in rows:
        if r["doc_id"] not in ids:
            say(f"{name}: unknown doc {r['doc_id']}")
            return False
        by_q.setdefault(r["query_id"], []).append((int(r["rank"]), float(r["score"])))
    for q, lst in by_q.items():
        lst.sort()
        if [r for r, _ in lst] != list(range(1, len(lst) + 1)) or len(lst) > k:
            say(f"{name}: query {q} ranks {[r for r, _ in lst]}")
            return False
        if any(a[1] < b[1] - TOL for a, b in zip(lst, lst[1:])):
            say(f"{name}: query {q} scores not ordered")
            return False
    return True


def serve_mix(w) -> int:
    """All checked requests come from the first timed round, which sends
    one batch to every path."""
    from semantik_spark import oracles

    batches = {b for b, _ in w.outputs.values()}
    if len(batches) != 1:
        raise RuntimeError(f"checked requests span batches {batches}")
    pairs = w.text_batches[batches.pop()]
    con = duck(w)
    sql = materialized(
        f"WITH {oracles.bm25_search_ctes(pairs, 10)}, {oracles.mock_dense_ctes(pairs, 10)} "
        "SELECT 'bm25' AS kind, query_id, doc_id, score, NULL AS tokens FROM ranked "
        "UNION ALL SELECT 'dense', query_id, doc_id, score, NULL FROM dscored "
        "UNION ALL SELECT 'doc', NULL, doc_id, NULL, list_distinct(tokens) FROM tokl "
        "UNION ALL SELECT 'query', query_id, NULL, NULL, list_distinct(tokens) FROM qtok")
    sparse_s, dense_s, dtok, qtok = {}, {}, {}, {}
    for kind, q, d, score, toks in con.execute(sql).fetchall():
        if kind == "bm25":
            sparse_s[(q, int(d))] = score
        elif kind == "dense":
            dense_s[(q, int(d))] = score
        elif kind == "doc":
            dtok[int(d)] = set(toks)
        else:
            qtok[q] = set(toks)
    sparse, dense = top(sparse_s, 10 ** 9), top(dense_s, 10 ** 9)
    cand = rrf(dense, sparse, 100, 50)

    def rerank_score(q, d):
        n = math.sqrt(float(len(qtok.get(q, ()))) * float(len(dtok[d])))
        return len(qtok.get(q, set()) & dtok[d]) / n if n > 0 else 0.0

    want = {
        "bm25": {q: v[:10] for q, v in sparse.items()},
        "dense": {q: v[:10] for q, v in dense.items()},
        "hybrid": rrf(dense, sparse, 20, 10),
        "rerank": top({(q, d): rerank_score(q, d) for q, lst in cand.items()
                       for d, _ in lst}, 10),
    }
    ids = set(int(x) for x in w.docs_pd.doc_id)
    bad = 0
    for path, (_, rows) in sorted(w.outputs.items()):
        if path in want:
            ok = same(path, rows, want[path],
                      "rerank_score" if path == "rerank" else "score")
        else:  # ivf, hybrid_approx: approximate, so shape checks
            ok = well_ranked(path, rows, 10, ids)
            if ok and path == "ivf":
                # every returned score is the exact cosine
                ok = all(abs(dense_s[(r["query_id"], int(r["doc_id"]))] - r["score"])
                         <= TOL for r in rows)
                if not ok:
                    say("ivf: a score differs from the exact cosine")
        if ok and not rows:
            say(f"{path}: empty result")
            ok = False
        bad += not ok
    return bad


def minhash(w, con) -> bool:
    """dedup.minhash_lsh_pairs over the base docs == oracles.q_minhash_lsh."""
    from semantik_spark import oracles

    sql = oracles.q_minhash_lsh(16, 4, 3, 0.5)
    aug = oracles.AUGMENTED_DOCS_CTE.lstrip()
    if aug not in sql:
        raise RuntimeError("q_minhash_lsh no longer starts from aug_docs")
    # the oracle adds copies to the fixture corpus; the generated base
    # docs already hold their planted copies
    n_base = w.sizes["base_docs"]
    sql = sql.replace(aug, f"aug_docs AS (SELECT doc_id, text FROM documents "
                           f"WHERE doc_id < {n_base})")
    # the oracle rounds jaccard to 6 places
    want = {(int(a), int(b)): j for a, b, j in con.execute(sql).fetchall()}
    got = {(int(r["doc_a"]), int(r["doc_b"])): r["jaccard"] for r in w.minhash_pairs}
    if w.ctx.trace:
        cands = sql.split("SELECT doc_a, doc_b, round")[0] + "SELECT count(*) FROM candidates"
        w.verified_per_candidate = len(got) / max(1, con.execute(cands).fetchone()[0])
    if got.keys() != want.keys() or any(abs(got[k] - want[k]) > TOL for k in want):
        say(f"minhash: {len(got)} pairs, oracle {len(want)}")
        return False
    return True


def index_sync(w) -> int:
    """Minhash pairs, no erased chunk served, and merge == recompute."""
    import tempfile

    from pyspark.sql import functions as F

    from semantik_spark.operators import serving

    spark, sz = w.spark, w.sizes
    bad = int(not minhash(w, duck(w)))
    for erased, rows in w.served:
        hit = [r["doc_id"] for r in rows if r["doc_id"] in erased]
        if hit:
            say(f"index_sync: erased chunks served: {hit[:5]}")
            bad += 1
    synced_src = sz["base_docs"] + w.steps_done * sz["delta_docs"]
    surviving = spark.read.parquet(os.path.join(w.work, "chunks")).where(
        F.col("src") < synced_src).where(~F.col("doc_id").isin(sorted(w.erased)))
    ref = tempfile.mkdtemp(dir=w.work)
    serving.build_sparse(surviving.select("doc_id", "text"), ref)
    for sub, key in (("terms", "term"), ("bm25_state/terms", "term"),
                     ("bm25_state/corpus", None)):
        got = spark.read.parquet(os.path.join(w.idx, sub)).toPandas()
        want = spark.read.parquet(os.path.join(ref, sub)).toPandas()
        cols = sorted(want.columns)
        if key:
            got, want = got.sort_values(key), want.sort_values(key)
        got = got[cols].reset_index(drop=True)
        want = want[cols].reset_index(drop=True)
        if got.shape != want.shape or not all(
                np.allclose(got[c], want[c], rtol=0, atol=1e-12)
                if want[c].dtype.kind == "f" else (got[c] == want[c]).all()
                for c in cols):
            say(f"index_sync: {sub} differs from a fresh build_sparse "
                f"({got.shape} vs {want.shape})")
            bad += 1
    return bad
