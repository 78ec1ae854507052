"""Seeded input generator for the benchmark workloads.

Everything a workload feeds to ``semantik_spark`` comes from here, so the
same ``--seed`` always gives the same inputs. The generator runs in the
benchmark's own process with numpy only; Spark sees the results as
parquet files written under the run's work directory.

Shapes:
  * text docs: words drawn from a Zipf law over a synthetic vocabulary,
    doc lengths lognormal, so BM25 postings lists run from a few huge
    head terms down to single-doc tail terms;
  * planted near-duplicates: copies of a source doc with 1% of the words
    replaced (3-shingle Jaccard ~0.94);
  * query batches mixing head-term and tail-term queries.
"""

from __future__ import annotations

import numpy as np

from semantik_spark.config import ENGLISH_STOPWORDS

LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
HEAD_TERMS = 200          # ranks treated as head terms by the query mix
TAIL_FROM = 2000          # tail-term queries draw ranks at or beyond this


def vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct lowercase words of 3-10 letters, none a stopword;
    index = Zipf rank."""
    stop = set(ENGLISH_STOPWORDS)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < size:
        lens = rng.integers(3, 11, size=size)
        for n in lens:
            w = "".join(rng.choice(LETTERS, size=int(n)))
            if w not in seen and w not in stop:
                seen.add(w)
                words.append(w)
                if len(words) == size:
                    break
    return words


def zipf_p(size: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1) ** s
    return p / p.sum()


class Corpus:
    """A seeded vocabulary plus samplers for docs and queries."""

    def __init__(self, seed: int, vocab_size: int = 30000):
        self.rng = np.random.default_rng(seed)
        self.words = np.array(vocabulary(self.rng, vocab_size))
        self.p = zipf_p(vocab_size)

    def texts(self, n: int, median_words: float, sigma: float = 0.5,
              max_words: int = 2000) -> list[str]:
        lens = np.clip(self.rng.lognormal(np.log(median_words), sigma, n)
                       .astype(int), 5, max_words)
        flat = self.rng.choice(len(self.words), size=int(lens.sum()), p=self.p)
        out, at = [], 0
        for n_w in lens:
            out.append(" ".join(self.words[flat[at:at + n_w]]))
            at += n_w
        return out

    def near_copy(self, text: str, edit_frac: float = 0.01) -> str:
        """``text`` with ~edit_frac of its words replaced by random words."""
        toks = text.split(" ")
        n_edit = max(1, int(len(toks) * edit_frac))
        for i in self.rng.choice(len(toks), size=n_edit, replace=False):
            toks[i] = self.words[self.rng.integers(len(self.words))]
        return " ".join(toks)

    def docs_with_near_dups(self, n: int, dup_frac: float,
                            median_words: float) -> list[str]:
        """n texts in which dup_frac are near copies of a text in the
        first half."""
        texts = self.texts(n, median_words)
        n_dup = int(n * dup_frac)
        copies = self.rng.choice(np.arange(n // 2, n), size=n_dup, replace=False)
        for c in sorted(int(x) for x in copies):
            texts[c] = self.near_copy(texts[int(self.rng.integers(0, n // 2))])
        return texts

    def text_queries(self, n: int) -> list[str]:
        """Half head-term queries (2-3 terms from the top ranks), half
        tail-term queries (one head term + 1-2 tail terms)."""
        out = []
        for i in range(n):
            n_t = int(self.rng.integers(2, 4))
            if i % 2 == 0:
                ranks = self.rng.integers(0, HEAD_TERMS, size=n_t)
            else:
                ranks = np.concatenate([
                    self.rng.integers(0, HEAD_TERMS, size=1),
                    self.rng.integers(TAIL_FROM, len(self.words), size=n_t - 1)])
            out.append(" ".join(self.words[ranks]))
        return out
