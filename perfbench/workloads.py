"""The two workloads: serve_mix and index_sync.

Each workload is a class with
  * ``setup()``  — input generation and index builds (timed as set-up);
  * ``op(i)``    — one timed unit of work; returns the items it handled;
  * ``check()``  — output checks, run once, outside the timed region;
    returns the number of checked operations that were wrong;
  * ``layers()`` — workload-specific per-layer numbers of a traced run.

``op`` is called in a closed loop (one client, next call after the
previous one returned) until the run's measuring time is used up. Every
call into ``semantik_spark`` goes through a tracer span, and the
operator cache registry plus Spark's cache are cleared between calls,
outside the timed calls, so no call reuses another call's intermediates.
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pandas as pd

import checks
import gen
import spans

TEXT_SCHEMA = "query_id string, query_text string"
BATCH = 8          # queries per serve request
K = 10             # top-k of the text paths


class Workload:
    name = ""
    sizes: dict = {}
    max_ops = 10 ** 9
    ops_per_round = 1     # the loop stops only at a round boundary

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.work = ctx.work
        self.seed = ctx.seed

    def fresh(self) -> None:
        """Drop every cached intermediate before the next timed call."""
        from semantik_spark.functions import caching

        caching.release_all()
        self.spark.catalog.clearCache()
        self.ctx.sample_live_rdds()

    def parquet(self, name: str, pdf: pd.DataFrame):
        path = os.path.join(self.work, name)
        pdf.to_parquet(path, index=False)
        return self.spark.read.parquet(path)

    def call(self, name: str, fn, **attrs):
        """Run one traced call into the program, then clear caches."""
        with self.tr.span(name, **attrs) as s:
            out = fn()
        self.fresh()
        return out, s

    def kind(self, i: int) -> str:
        """Which kind of operation ``op(i)`` is."""
        return self.name

    def warmup(self) -> None:
        pass

    def layers(self) -> dict:
        return {}


def text_pairs(prefix: str, texts: list[str]) -> list[tuple[str, str]]:
    return [(f"{prefix}_{j}", t) for j, t in enumerate(texts)]


# --- serve_mix -------------------------------------------------------------

SERVE_PATHS = ("bm25", "dense", "ivf", "hybrid", "hybrid_approx", "rerank")


class ServeMix(Workload):
    """Batch build of the serve indexes, then 8-query requests; each round
    sends one to each of the six text serve paths in a seeded order."""

    name = "serve_mix"
    ops_per_round = len(SERVE_PATHS)
    sizes = {"docs": 2000, "doc_words_median": 60, "batches": 16}

    def setup(self) -> None:
        from semantik_spark.functions.parallel import concurrently
        from semantik_spark.operators import serving

        sz = self.sizes
        with self.tr.span("gen"):
            corpus = gen.Corpus(self.seed)
            texts = corpus.texts(sz["docs"], sz["doc_words_median"])
            self.docs_pd = pd.DataFrame({"doc_id": np.arange(sz["docs"], dtype=np.int64),
                                         "text": texts})
            self.text_batches = [text_pairs(f"t{b}", corpus.text_queries(BATCH))
                                 for b in range(sz["batches"])]
            self.docs = self.parquet("docs.parquet", self.docs_pd)
            rng = np.random.default_rng(self.seed)
            self.order = np.concatenate([rng.permutation(len(SERVE_PATHS))
                                         for _ in range(sz["batches"])])
        self.idx = os.path.join(self.work, "index")
        idx = self.idx
        with self.tr.span("serve.index_build"):
            # the independent builds overlap, as an index operator would
            # run them; the pruned postings derive from build_index's
            concurrently(
                lambda: (serving.build_index(self.docs, idx),
                         serving.build_sparse_pruned(self.spark, idx)),
                lambda: serving.build_dense_ivf(self.docs, idx),
            )
        self.fresh()
        self.outputs: dict[str, tuple[int, list]] = {}

    def request(self, path: str, b: int):
        """The DataFrame one serve request returns (the construct phase)."""
        from semantik_spark.operators import rerank, serving

        spark, idx = self.spark, self.idx
        q = spark.createDataFrame(self.text_batches[b], TEXT_SCHEMA)
        if path == "bm25":
            return serving.bm25_serve(spark, idx, q, k=K)
        if path == "dense":
            return serving.dense_serve(spark, idx, q, k=K)
        if path == "ivf":
            return serving.dense_serve_ivf(spark, idx, q, k=K, nprobe=4)
        if path == "hybrid":
            return serving.hybrid_serve(spark, idx, q, k=K)
        if path == "hybrid_approx":
            return serving.hybrid_serve_approx(spark, idx, q, k=K, nprobe=4)
        docs = spark.read.parquet(os.path.join(self.work, "docs.parquet"))
        cand = serving.hybrid_serve(spark, idx, q, k=rerank.candidate_k(K))
        return rerank.rerank(cand, q, docs, k=K)

    def serve(self, path: str, b: int, timed: bool):
        tr = self.tr
        with tr.span(f"serve.{path}", batch=b, timed=timed) as s:
            with tr.span("construct"):
                df = self.request(path, b)
            with tr.span("plan"):
                df._jdf.queryExecution().executedPlan()
            with tr.span("execute"):
                rows = df.collect()
        s["rows"] = len(rows)
        self.fresh()
        return rows

    def warmup(self) -> None:
        """One discarded pass over every path."""
        for p in SERVE_PATHS:
            self.serve(p, len(self.text_batches) - 1, timed=False)

    def kind(self, i: int) -> str:
        return SERVE_PATHS[self.order[i % len(self.order)]]

    def op(self, i: int) -> int:
        path = self.kind(i)
        b = (i // len(SERVE_PATHS)) % (len(self.text_batches) - 1)
        rows = self.serve(path, b, timed=True)
        self.outputs.setdefault(path, (b, rows))
        return BATCH

    def check(self) -> int:
        return checks.serve_mix(self)

    def layers(self) -> dict:
        out = {}
        for p in SERVE_PATHS:
            reqs = [s for s in self.tr.by_name(f"serve.{p}") if s["timed"]]
            vals: dict[str, list] = {}
            for s in reqs:
                ph = {c["name"]: c for c in self.tr.children(s)}
                cons = spans.call_layers(self.tr, ph["construct"], self.ctx.cores)
                ex = spans.call_layers(self.tr, ph["execute"], self.ctx.cores)
                whole = spans.call_layers(self.tr, s, self.ctx.cores)
                for key, v in (
                    ("ms_q", whole["ms"] / BATCH),
                    ("construct_ms", cons["ms"]),
                    ("construct_jobs", cons["jobs"]),
                    ("plan_ms", (ph["plan"]["end"] - ph["plan"]["start"]) * 1000.0),
                    ("execute_jobs", ex["jobs"]),
                    ("tasks", whole["tasks"]),
                    ("rows_read_per_result",
                     whole["records_read"] / max(1, s["rows"])),
                ):
                    vals.setdefault(key, []).append(v)
            for key, v in vals.items():
                out[f"serve.{p}.{key}"] = statistics.median(v)
        return out


# --- index_sync ------------------------------------------------------------

SYNC_OPS = ("chunk", "build_index", "build_dense_ivf", "build_sparse_pruned",
            "merge_sparse_append", "merge_dense_append", "ivf_append", "delete",
            "fresh_serve")


def chunk_key(doc_id, chunk_index):
    """Integer chunk key: build_dense_ivf's training casts ids with int()."""
    return doc_id * 1000 + chunk_index


class IndexSync(Workload):
    """Curate and index long docs, then sync steps against the index.

    Set-up: near-duplicate detection over the source docs
    (``dedup.minhash_lsh_pairs``; the later doc of each pair is dropped),
    chunking of the survivors (``chunking.character_chunks``, Python
    workers), and the full build. Each timed step: three appends of a
    delta batch, one erasure request, then one hybrid and one IVF serve
    against the just-written index."""

    name = "index_sync"
    sizes = {"base_docs": 300, "doc_words_median": 300, "near_dup_frac": 0.05,
             "delta_docs": 30, "steps": 12, "erased_docs_per_step": 3}
    max_ops = sizes["steps"]

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from semantik_spark.operators import chunking, dedup, serving

        sz = self.sizes
        n_base, n_all = sz["base_docs"], sz["base_docs"] + sz["steps"] * sz["delta_docs"]
        with self.tr.span("gen"):
            corpus = gen.Corpus(self.seed)
            base = corpus.docs_with_near_dups(
                n_base, sz["near_dup_frac"], sz["doc_words_median"])
            texts = base + corpus.texts(n_all - n_base, sz["doc_words_median"])
            self.docs_pd = pd.DataFrame({"doc_id": np.arange(n_all, dtype=np.int64),
                                         "text": texts})
            src = self.parquet("source.parquet", self.docs_pd)
            self.query_batches = [text_pairs(f"s{i}", corpus.text_queries(BATCH))
                                  for i in range(sz["steps"])]
        base_src = src.where(F.col("doc_id") < n_base)
        self.minhash_pairs, _ = self.call("dedup.minhash", lambda: dedup.minhash_lsh_pairs(
            base_src, num_hashes=16, bands=4, n=3, threshold=0.5).collect())
        self.dropped = {int(r["doc_b"]) for r in self.minhash_pairs}
        # erasure i names docs, indexed and not yet erased, of the base or
        # of a delta already synced
        rng = np.random.default_rng(self.seed + 1)
        live, self.erase_src = set(range(n_base)) - self.dropped, []
        for i in range(sz["steps"]):
            if i:
                lo = n_base + (i - 1) * sz["delta_docs"]
                live |= set(range(lo, lo + sz["delta_docs"]))
            pick = sorted(int(x) for x in rng.choice(
                sorted(live), sz["erased_docs_per_step"], replace=False))
            self.erase_src.append(pick)
            live -= set(pick)
        keep = src.where(~F.col("doc_id").isin(sorted(self.dropped)))
        self.text_bytes = sum(len(t.encode()) for i, t in enumerate(base)
                              if i not in self.dropped)
        py0 = self.ctx.pyworker_cpu()
        self.call("sync.chunk", lambda: chunking.character_chunks(
            keep, chunk_size=1000, overlap=200).select(
                chunk_key(F.col("doc_id").cast("bigint"),
                          F.col("chunk_index")).alias("doc_id"),
                F.col("doc_id").cast("bigint").alias("src"),
                F.col("content").alias("text"),
        ).write.mode("overwrite").parquet(os.path.join(self.work, "chunks")))
        self.chunk_pyworker_cpu_s = self.ctx.pyworker_cpu() - py0
        chunks = self.spark.read.parquet(os.path.join(self.work, "chunks"))
        self.chunks_pd = chunks.toPandas()
        self.idx = idx = os.path.join(self.work, "index")
        base_chunks = chunks.where(F.col("src") < n_base).select("doc_id", "text")
        self.call("sync.build_index", lambda: serving.build_index(base_chunks, idx))
        self.call("sync.build_dense_ivf",
                  lambda: serving.build_dense_ivf(base_chunks, idx))
        self.call("sync.build_sparse_pruned",
                  lambda: serving.build_sparse_pruned(self.spark, idx))
        self.deltas = []
        for i in range(sz["steps"]):
            lo = n_base + i * sz["delta_docs"]
            part = self.chunks_pd[(self.chunks_pd.src >= lo)
                                  & (self.chunks_pd.src < lo + sz["delta_docs"])]
            self.deltas.append(self.parquet(f"delta{i}.parquet",
                                            part[["doc_id", "text"]]))
        self.erased: set[int] = set()
        self.served: list[tuple[set, list]] = []
        self.steps_done = 0
        self.verified_per_candidate = 0.0

    def op(self, i: int) -> int:
        from semantik_spark.operators import serving

        spark, idx, delta = self.spark, self.idx, self.deltas[i]
        self.call("sync.merge_sparse_append",
                  lambda: serving.merge_sparse_append(delta, idx, batch_id=i + 1))
        self.call("sync.merge_dense_append",
                  lambda: serving.merge_dense_append(delta, idx))
        self.call("sync.ivf_append", lambda: serving.ivf_append(spark, idx, delta))
        gone = self.chunks_pd[self.chunks_pd.src.isin(self.erase_src[i])]
        erase = spark.createDataFrame(
            [(int(d), t) for d, t in zip(gone.doc_id, gone.text)], "doc_id bigint, text string")
        self.call("sync.delete", lambda: serving.delete_from_index(spark, idx, erase))
        self.erased |= set(int(x) for x in gone.doc_id)

        def serve():
            q = spark.createDataFrame(self.query_batches[i], TEXT_SCHEMA)
            return (serving.hybrid_serve(spark, idx, q, k=K).collect()
                    + serving.dense_serve_ivf(spark, idx, q, k=K).collect())
        rows, _ = self.call("sync.fresh_serve", serve)
        self.served.append((set(self.erased), rows))
        self.steps_done = i + 1
        return self.sizes["delta_docs"]

    def check(self) -> int:
        return checks.index_sync(self)

    def layers(self) -> dict:
        out = {}
        for o in SYNC_OPS:
            calls = self.tr.by_name(f"sync.{o}")
            per = [spans.call_layers(self.tr, s, self.ctx.cores) for s in calls]
            for key in ("ms", "jobs", "driver_gap_ms", "job_overlap", "shuffle_mb"):
                out[f"sync.{o}.{key}"] = statistics.median(p[key] for p in per)
        out["sync.chunk.pyworker_cpu_s"] = self.chunk_pyworker_cpu_s
        files, size = 0, 0
        for root, _, names in os.walk(self.idx):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        out["sync.index_files"] = files
        out["sync.index_bytes_per_text_byte"] = size / self.text_bytes
        mh = spans.call_layers(self.tr, self.tr.by_name("dedup.minhash")[0], self.ctx.cores)
        out["dedup.minhash.cpu_us_per_row"] = mh["cpu_s"] * 1e6 / self.sizes["base_docs"]
        for key in ("cpu_util", "shuffle_mb", "task_skew"):
            out[f"dedup.minhash.{key}"] = mh[key]
        out["dedup.minhash.verified_per_candidate"] = self.verified_per_candidate
        return out


WORKLOADS = {w.name: w for w in (ServeMix, IndexSync)}
