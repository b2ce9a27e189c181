"""Seeded inputs for the benchmark: multi-turn transcripts and Zipf queries.

Both generators draw terms from one Zipf law over a ~100k-word vocabulary,
so head terms recur across turns and across queries. The same seed gives
the same frame; the engine only ever sees the written parquet files and the
query frame.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

VOCAB_SIZE = 100_000
ZIPF_S = 1.0
# share of a turn's words drawn from its conversation's topic terms instead
# of the global law: turns of one conversation share mid-frequency terms,
# which gives posting lists the doc locality real transcripts have
TOPIC_SHARE = 0.25
TOPIC_TERMS = 8

ROLES = np.array(["user", "assistant", "tool"])
# mean words per turn by role (user short, assistant long, tool medium)
ROLE_WORDS = np.array([8, 28, 14])


def rng(seed: int, *stream: int) -> np.random.Generator:
    """The generator of one input stream of a seed (any integer seed)."""
    return np.random.default_rng([seed % (1 << 64), *stream])


def vocabulary() -> np.ndarray:
    """The vocabulary, most frequent first: ``w0`` ... ``w99999``."""
    return np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)


def zipf_weights() -> np.ndarray:
    w = 1.0 / np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** ZIPF_S
    return w / w.sum()


def transcripts(n_turns: int, seed: int) -> pd.DataFrame:
    """About ``n_turns`` turns as conversations of 2-24 turns, in the
    engine's transcripts schema (conv_id, turn_idx, role, text, tool, ts)."""
    r = rng(seed, 1)
    lens = r.integers(2, 25, size=max(1, n_turns // 13 + 1))
    lens = lens[: int(np.searchsorted(np.cumsum(lens), n_turns)) + 1]
    n = int(lens.sum())
    conv = np.repeat(np.arange(lens.size), lens)
    turn_idx = np.concatenate([np.arange(k) for k in lens]).astype(np.int32)
    role_i = turn_idx % 3
    n_words = np.maximum(1, r.poisson(ROLE_WORDS[role_i]))
    total = int(n_words.sum())

    words = r.choice(VOCAB_SIZE, size=total, p=zipf_weights())
    # conversation topics: TOPIC_TERMS ranks from the mid-frequency band
    topics = r.integers(100, 10_000, size=(lens.size, TOPIC_TERMS))
    word_conv = np.repeat(conv, n_words)
    on_topic = r.random(total) < TOPIC_SHARE
    words[on_topic] = topics[
        word_conv[on_topic], r.integers(0, TOPIC_TERMS, size=int(on_topic.sum()))
    ]
    vocab = vocabulary()
    ends = np.cumsum(n_words)
    flat = vocab[words]
    text = [" ".join(flat[e - k : e]) for e, k in zip(ends.tolist(), n_words.tolist())]
    # a few turns carry punctuation and capitals, which the tokenizer folds
    shout = r.random(n) < 0.05
    text = [t.upper() + "!" if s else t for t, s in zip(text, shout)]

    # tz-aware, so parquet stores an instant that Spark reads as `timestamp`
    ts = pd.to_datetime(
        1_767_225_600 + conv * 3600 + turn_idx.astype(np.int64) * 20, unit="s", utc=True
    )
    return pd.DataFrame(
        {
            "conv_id": [f"s{seed}-c{c:07d}" for c in conv.tolist()],
            "turn_idx": turn_idx,
            "role": ROLES[role_i],
            "text": text,
            "tool": np.where(role_i == 2, "bash", ""),
            "ts": ts,
        }
    )


def queries(n: int, seed: int, stream: int = 0) -> pd.DataFrame:
    """``n`` queries (query_id, text) of 1-4 terms drawn from the corpus
    Zipf law. ``stream`` separates query sets of one seed."""
    r = rng(seed, 2, stream)
    n_terms = r.integers(1, 5, size=n)
    words = vocabulary()[r.choice(VOCAB_SIZE, size=int(n_terms.sum()), p=zipf_weights())]
    ends = np.cumsum(n_terms)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends.tolist(), n_terms.tolist())]
    return pd.DataFrame({"query_id": np.arange(n, dtype=np.int64), "text": text})


def write_parquet(pdf: pd.DataFrame, path: str, n_files: int) -> None:
    """Write ``pdf`` as ``n_files`` parquet files in row order, named so
    that lexical order is row order."""
    os.makedirs(path, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(pdf)), n_files)):
        pdf.iloc[part].to_parquet(
            os.path.join(path, f"part-{i:05d}.parquet"), index=False, coerce_timestamps="us"
        )
