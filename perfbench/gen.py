"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` and returns plain
pandas frames; the same seed gives the same rows. The documents mimic
the sf0.1 ``documents`` test table: 10-100 words drawn uniformly
from a small vocabulary, a ``lang`` column and 20 ``source`` values.
The program sees only the parquet files written from these frames.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# the sf0.1 corpus vocabulary ("a" and "the" are stopwords, so 28 aliases)
BASE_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
# function words a crawl batch mixes in: the n-gram extractor takes a
# word as a mention only when no noun-like word touches it, so these set
# the mention density (sf0.1 pages carry ~0.2 mentions per page)
FUNCTION_WORDS = ("of", "and", "is", "to", "in")
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
STOPWORDS = frozenset(("a", "the") + FUNCTION_WORDS)


def extra_vocab(n: int, offset: int = 0) -> list[str]:
    """``n`` lowercase letter-only words outside BASE_VOCAB (consonant-
    vowel-consonant-vowel syllables), fixed by position, not by seed."""
    cons, vows = "bdfgklmnprstvz", "aeiou"
    out = []
    for i in range(offset, offset + n):
        a, b = divmod(i, len(cons) * len(vows))
        c, d = divmod(b, len(vows))
        out.append(cons[a % len(cons)] + vows[(a // len(cons)) % len(vows)] + cons[c] + vows[d] + "x")
    return out


def documents(rng: np.random.Generator, n: int, vocab: list[str], id0: int = 0,
              min_words: int = 10, max_words: int = 100) -> pd.DataFrame:
    """``n`` documents of uniformly drawn words, ids ``id0 .. id0+n-1``."""
    lens = rng.integers(min_words, max_words + 1, size=n)
    words = np.asarray(vocab)[rng.integers(0, len(vocab), size=int(lens.sum()))]
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    return frame(np.arange(id0, id0 + n), texts, rng)


def frame(ids, texts: list[str], rng: np.random.Generator) -> pd.DataFrame:
    ids = np.asarray(ids, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), size=len(ids), p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def covering_documents(rng: np.random.Generator, n: int, vocab: list[str]) -> pd.DataFrame:
    """Like :func:`documents`, but the first documents spell out the
    whole vocabulary, so every word is an alias of the built profile."""
    docs = documents(rng, n, vocab)
    per = 50
    for i in range(0, len(vocab), per):
        docs.loc[i // per, "text"] = " ".join(vocab[i:i + per])
    docs["n_chars"] = docs["text"].str.len().astype(np.int64)
    return docs


def near_dup_documents(rng: np.random.Generator, n: int, hot: int, clusters: int,
                       max_cluster: int, vocab: list[str] = BASE_VOCAB,
                       edit_rate: float = 0.04) -> tuple[pd.DataFrame, dict]:
    """``n`` documents: one hot cluster of ``hot`` edited copies of one
    seed document, ``clusters`` clusters of 2..max_cluster edited copies,
    and singletons for the rest. An edit replaces ``edit_rate`` of a
    copy's words (at least one) with random vocabulary words."""
    sizes = [hot] + list(rng.integers(2, max_cluster + 1, size=clusters))
    if sum(sizes) > n:
        raise ValueError(f"clusters need {sum(sizes)} documents, only {n} requested")
    seeds = documents(rng, len(sizes) + n - sum(sizes), vocab, min_words=30)
    vocab = np.asarray(vocab)
    texts, cluster_of = [], []
    for c, size in enumerate(sizes):
        words = np.asarray(seeds.at[c, "text"].split())
        k = max(1, int(round(edit_rate * len(words))))
        for _ in range(size):
            w = words.copy()
            w[rng.choice(len(w), size=k, replace=False)] = vocab[rng.integers(0, len(vocab), size=k)]
            texts.append(" ".join(w))
            cluster_of.append(c)
    texts.extend(seeds["text"].iloc[len(sizes):])
    cluster_of.extend([-1] * (n - sum(sizes)))
    order = rng.permutation(n)
    docs = frame(np.arange(n), [texts[i] for i in order], rng)
    props = {
        "docs": n,
        "hot_cluster_size": hot,
        "hot_cluster_share": round(hot / n, 4),
        "clusters": len(sizes),
        "clustered_docs": int(sum(sizes)),
        "words_per_doc": round(float(np.mean([len(t.split()) for t in texts])), 2),
    }
    return docs, props


def isolated_aliases(words: list[str], aliases: frozenset) -> int:
    """Alias words with no alias word next to them: the single-word
    mentions the n-gram extractor takes."""
    n = len(words)
    return sum(
        words[i] in aliases
        and (i == 0 or words[i - 1] not in aliases)
        and (i == n - 1 or words[i + 1] not in aliases)
        for i in range(n)
    )


def mention_props(texts, aliases: frozenset) -> dict:
    """Share of pages with at least one mention, and mentions per page —
    the input properties the kernel's cost depends on."""
    counts = np.array([isolated_aliases(t.split(), aliases) for t in texts])
    return {
        "pages": int(len(counts)),
        "pages_with_mention_share": round(float((counts > 0).mean()), 4),
        "mentions_per_page": round(float(counts.mean()), 3),
        "text_bytes_per_page": round(float(np.mean([len(t) for t in texts])), 1),
    }


def write_parquet(df: pd.DataFrame, directory: str, name: str) -> str:
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"{name}.parquet")
    df.to_parquet(path, index=False)
    return path
