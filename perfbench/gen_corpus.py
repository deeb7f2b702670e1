"""Seeded corpus and ANN inputs shaped like the sf0.1 ``documents`` and
``embeddings`` tables.

Documents are word soup over the same 30-word vocabulary, the same 10-100
token lengths and the same language/source labels as sf0.1. A stated
share of documents is planted as near-duplicates: a copy of an earlier
document with a few words substituted, inserted or deleted. A handful of
exact copies exercises the exact-dedup stage. Embeddings are 64-d unit
vectors around 10 labelled cluster centres; the ANN queries are fresh
draws from the same clusters, with ids outside the vector id range.
"""

from __future__ import annotations

import math
import random

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
DIM = 64
N_LABELS = 10
QUERY_ID_BASE = 1_000_000


def _edit(rng: random.Random, words: list[str], n_edits: int) -> list[str]:
    out = list(words)
    for _ in range(n_edits):
        op = rng.random()
        i = rng.randrange(len(out))
        if op < 0.6:
            out[i] = rng.choice(VOCAB)
        elif op < 0.8:
            out.insert(i, rng.choice(VOCAB))
        elif len(out) > 10:
            del out[i]
    return out


def documents(seed: int, n_docs: int, near_dup_share: float, n_exact: int = 8):
    """Return ``(rows, planted)``: rows are ``(doc_id, text, lang, source,
    n_chars)`` tuples and ``planted`` the ``(source_id, copy_id)`` pairs
    of near-duplicates, copy_id always the higher id."""
    rng = random.Random(seed)
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    n_near = int(n_docs * near_dup_share)
    n_head = n_docs // 10
    # the first tenth is always fresh so every copy has an earlier source
    tail = ["near"] * n_near + ["exact"] * n_exact
    tail += ["fresh"] * (n_docs - n_head - len(tail))
    rng.shuffle(tail)
    kinds = ["fresh"] * n_head + tail
    fresh_ids: list[int] = []
    for doc_id, kind in enumerate(kinds):
        if kind == "fresh" or not fresh_ids:
            words = [rng.choice(VOCAB) for _ in range(rng.randint(30, 100))]
            fresh_ids.append(doc_id)
            texts.append(" ".join(words))
            continue
        src = rng.choice(fresh_ids)
        if kind == "exact":
            texts.append(texts[src])
            continue
        words = texts[src].split()
        texts.append(" ".join(_edit(rng, words, rng.randint(1, len(words) // 20))))
        planted.append((src, doc_id))
    rows = [
        (i, t, rng.choice(LANGS), f"src{i % 20}", len(t))
        for i, t in enumerate(texts)
    ]
    return rows, planted


def _unit(v: list[float]) -> list[float]:
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [x / n for x in v]


def embeddings(seed: int, n_vecs: int, n_queries: int, spread: float = 0.35):
    """Return ``(vectors, queries)`` as ``(id, embedding, label)`` tuples."""
    rng = random.Random(seed)
    centres = [_unit([rng.gauss(0, 1) for _ in range(DIM)]) for _ in range(N_LABELS)]

    def draw(vid: int):
        label = rng.randrange(N_LABELS)
        v = [c + rng.gauss(0, spread / math.sqrt(DIM)) * 4 for c in centres[label]]
        return (vid, _unit(v), label)

    vectors = [draw(i) for i in range(n_vecs)]
    queries = [draw(QUERY_ID_BASE + i) for i in range(n_queries)]
    return vectors, queries
