"""The oracle against a brute-force loop, its answer checks, and the
seeded generators. Run: python3 -m pytest perfbench/tests -q"""

import math
import re
from collections import Counter

import numpy as np
import pandas as pd
import pytest

import gen
from oracle import Bm25Oracle, check_stats, check_topk, tokenize

TEXTS = [
    "table scan merge",
    "Spark QUERY, spark query!",
    "",
    "merge join; merge sort",
    "the fast key-value store",
    "scan scan scan table",
    "query planner table",
]


def frame(texts):
    return pd.DataFrame({
        "conv_id": [f"c{i // 3:03d}" for i in range(len(texts))],
        "turn_idx": [i % 3 for i in range(len(texts))],
        "text": texts,
    })


def loop_topk(texts, query, k, k1=1.2, b=0.75, live=None):
    """Reference: BM25 by plain loops over every doc."""
    toks = [[t for t in re.split("[^a-z0-9]+", s.lower()) if t] for s in texts]
    n = sum(1 for t in toks if t)
    avgdl = sum(len(t) for t in toks) / n
    df = Counter(t for ts in toks for t in set(ts))
    scored = []
    for d, ts in enumerate(toks):
        if live is not None and not live[d]:
            continue
        tf = Counter(ts)
        s = 0.0
        for t in sorted(set(tokenize(query))):
            if tf[t]:
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf[t] * (k1 + 1) / (tf[t] + k1 * (1 - b + b * len(ts) / avgdl))
        if s > 0:
            scored.append((-s, d))
    scored.sort()
    return [(r, d, -s) for r, (s, d) in enumerate(scored[:k], 1)]


def test_tokenize_folds_case_and_punctuation():
    assert tokenize("Hello, WORLD! key-value  x") == ["hello", "world", "key", "value", "x"]
    assert tokenize("") == []


@pytest.mark.parametrize("query", ["table scan", "merge", "spark query planner", "zzz", "the"])
def test_topk_matches_loop_reference(query):
    o = Bm25Oracle(frame(TEXTS))
    want = loop_topk(TEXTS, query, 3)
    ids, scores, _ = o.topk(query, 3)
    assert [d for _, d, _ in want] == ids.tolist()
    assert np.allclose([s for _, _, s in want], scores, rtol=0, atol=1e-12)
    assert check_topk(o, query, want, 3) is None


def test_stats_count_only_docs_with_tokens():
    o = Bm25Oracle(frame(TEXTS))
    st = o.stats()
    assert st["n_docs"] == 6 and o.doc_space == 7
    assert st["total_tokens"] == sum(len(tokenize(t)) for t in TEXTS)
    assert st["n_terms"] == len({t for s in TEXTS for t in tokenize(s)})
    assert check_stats(o, st) is None
    assert "n_terms" in check_stats(o, dict(st, n_terms=st["n_terms"] + 1))
    assert "avgdl" in check_stats(o, dict(st, avgdl=st["avgdl"] + 1e-3))


def test_doc_ids_follow_conversation_order_not_row_order():
    f = frame(TEXTS)
    o = Bm25Oracle(f.iloc[::-1])
    assert o.topk("planner", 1)[0].tolist() == [6]


def test_check_topk_rejects_wrong_answers():
    o = Bm25Oracle(frame(TEXTS))
    good = loop_topk(TEXTS, "table scan", 3)
    assert check_topk(o, "table scan", good[:2], 3) is not None  # missing row
    swapped = [(1, good[1][1], good[0][2])] + good[1:]
    assert check_topk(o, "table scan", swapped, 3) is not None  # wrong doc
    off = [(1, good[0][1], good[0][2] + 1e-5)] + good[1:]
    assert check_topk(o, "table scan", off, 3) is not None  # score off
    nan = [(1, good[0][1], float("nan"))] + good[1:]
    assert check_topk(o, "table scan", nan, 3) is not None


def test_check_topk_allows_either_order_inside_a_tie():
    texts = ["alpha beta", "alpha beta", "gamma"]
    o = Bm25Oracle(frame(texts))
    s = o.topk("alpha", 2)[1][0]
    assert check_topk(o, "alpha", [(1, 1, s), (2, 0, s)], 2) is None


def test_deleted_docs_never_surface_but_keep_statistics():
    o = Bm25Oracle(frame(TEXTS))
    live = np.ones(o.doc_space, dtype=bool)
    live[5] = False  # the best "scan" doc
    want = loop_topk(TEXTS, "scan", 3, live=live)
    assert check_topk(o, "scan", want, 3, live) is None
    assert check_topk(o, "scan", loop_topk(TEXTS, "scan", 3), 3, live) is not None


def test_generators_are_seeded():
    a, b, c = gen.transcripts(500, 7), gen.transcripts(500, 7), gen.transcripts(500, 8)
    pd.testing.assert_frame_equal(a, b)
    assert not a["text"].equals(c["text"])
    assert abs(len(a) - 500) <= 24
    assert (a.groupby("conv_id")["turn_idx"].max() >= 1).all()  # multi-turn
    q = gen.queries(200, 7)
    pd.testing.assert_frame_equal(q, gen.queries(200, 7))
    n_terms = q["text"].str.split().str.len()
    assert n_terms.between(1, 4).all()

