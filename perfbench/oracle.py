"""Independent BM25 oracle over the generated corpus (numpy only).

It shares nothing with the engine but the tokenizer rule (lowercase, split
on runs of ``[^a-z0-9]``, drop empties) and the BM25 definition: Lucene
idf ``ln((N - df + 0.5) / (df + 0.5) + 1)``, ``k1 = 1.2``, ``b = 0.75``,
``N`` = documents with at least one token, doc ids = dense rank over
``(conv_id, turn_idx)``. Deleted documents never surface but keep counting
in the corpus statistics, as between a delete and a compaction.
"""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

TOKEN_PATTERN = "[^a-z0-9]+"
SCORE_TOL = 1e-6
# two oracle scores closer than this are the same score: either order of
# the two docs is a correct ranking
TIE_TOL = 1e-9


def tokenize(text: str) -> list[str]:
    return [t for t in re.split(TOKEN_PATTERN, text.lower()) if t]


class Bm25Oracle:
    def __init__(self, corpus: pd.DataFrame, k1: float = 1.2, b: float = 0.75):
        order = corpus.sort_values(["conv_id", "turn_idx"], kind="stable")
        toks = [tokenize(t) for t in order["text"].tolist()]
        self.k1, self.b = k1, b
        self.doc_space = len(toks)
        dl = np.fromiter((len(t) for t in toks), dtype=np.int64, count=len(toks))
        flat = [t for ts in toks for t in ts]
        codes, vocab = pd.factorize(pd.Series(flat, dtype=object), sort=True)
        self.term_id = {t: i for i, t in enumerate(vocab.tolist())}
        doc = np.repeat(np.arange(self.doc_space, dtype=np.int64), dl)
        key, tf = np.unique(codes.astype(np.int64) * self.doc_space + doc, return_counts=True)
        # postings sorted by (term, doc): CSR over terms
        p_term, self.p_doc, self.p_tf = key // self.doc_space, key % self.doc_space, tf
        df = np.bincount(p_term, minlength=len(vocab))
        self.offsets = np.concatenate([[0], np.cumsum(df)])
        self.dl = dl
        self.n_docs = int((dl > 0).sum())
        self.total_tokens = int(dl.sum())
        self.avgdl = self.total_tokens / self.n_docs if self.n_docs else 0.0
        self.idf = np.log((self.n_docs - df + 0.5) / (df + 0.5) + 1.0)
        self.n_postings = int(df.sum())
        self.n_terms = int(len(vocab))

    def stats(self) -> dict:
        return {
            "n_docs": self.n_docs,
            "n_terms": self.n_terms,
            "n_postings": self.n_postings,
            "total_tokens": self.total_tokens,
            "avgdl": self.avgdl,
        }

    def scores(self, text: str) -> np.ndarray:
        """Dense doc_space-sized score vector of one query."""
        acc = np.zeros(self.doc_space, dtype=np.float64)
        k1, b = self.k1, self.b
        for t in sorted(set(tokenize(text))):
            i = self.term_id.get(t)
            if i is None:
                continue
            lo, hi = self.offsets[i], self.offsets[i + 1]
            d, tf = self.p_doc[lo:hi], self.p_tf[lo:hi].astype(np.float64)
            acc[d] += self.idf[i] * (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * self.dl[d] / self.avgdl)
            )
        return acc

    def topk(self, text: str, k: int, live: "np.ndarray | None" = None):
        """(doc_ids, scores, dense scores) of the top k, ties by doc id."""
        acc = self.scores(text)
        hit = acc > 0.0
        if live is not None:
            hit &= live
        ids = np.flatnonzero(hit)
        order = np.lexsort((ids, -acc[ids]))[:k]
        return ids[order], acc[ids[order]], acc


def check_topk(oracle: Bm25Oracle, text: str, rows, k: int, live=None) -> str | None:
    """None if ``rows`` (rank, doc_id, score) are the oracle's top k, else
    the first difference. Docs may trade places only inside a score tie."""
    want_ids, want_sc, dense = oracle.topk(text, k, live)
    got = sorted(rows, key=lambda r: r[0])
    if len(got) != len(want_ids):
        return f"{len(got)} rows, oracle has {len(want_ids)}"
    if [r[0] for r in got] != list(range(1, len(got) + 1)):
        return f"ranks {[r[0] for r in got]}"
    if len({r[1] for r in got}) != len(got):
        return "duplicate doc_id"
    for (rank, doc, score), wd, ws in zip(got, want_ids, want_sc):
        if not math.isfinite(score) or abs(score - ws) > SCORE_TOL:
            return f"rank {rank}: score {score!r}, oracle {ws!r}"
        if doc != wd and not (
            0 <= doc < oracle.doc_space
            and (live is None or live[doc])
            and abs(dense[doc] - ws) <= TIE_TOL
        ):
            return f"rank {rank}: doc {doc}, oracle {wd}"
    return None


def check_stats(oracle: Bm25Oracle, stats: dict) -> str | None:
    """None if ``segment_stats`` agrees with the oracle's corpus counts."""
    want = oracle.stats()
    for key in ("n_docs", "n_terms", "n_postings", "total_tokens"):
        if int(stats[key]) != want[key]:
            return f"{key} {stats[key]}, oracle {want[key]}"
    if abs(float(stats["avgdl"]) - want["avgdl"]) > SCORE_TOL:
        return f"avgdl {stats['avgdl']}, oracle {want['avgdl']}"
    return None
