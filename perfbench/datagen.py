"""Seeded input generators.  The same seed gives the same inputs; the
program under test only ever sees what these functions return.

Tables mirror the shapes of the repository's synthetic test data: an
``events`` stream table (one row per user action) and a ``documents``
text table.  The curation corpus is built with a known duplicate
structure, so the expected curation result follows from the generator
itself.
"""

from __future__ import annotations

import decimal
import uuid

import numpy as np
import pyarrow as pa

#: query/search vocabulary: short technical words, so substring and
#: tokenized search terms hit a few percent of the documents
WORDS = (
    "key agg row scan slow fast table value part hash merge batch spark sort "
    "window line customer query join small big order group column stream "
    "filter data index page shard commit log offset lake file"
).split()

EVENT_TYPES = ("click", "view", "purchase", "error", "signup")
EVENT_TYPE_P = (0.4, 0.3, 0.15, 0.1, 0.05)
T0_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC


def events(seed: int, n_events: int, n_users: int) -> pa.Table:
    """`events`: event_id, ts (µs, ascending), user_id, event_type, value
    (two decimals, so value*100 is an exact integer after rounding)."""
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_events)) + T0_US
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_events, p=EVENT_TYPE_P),
        "value": np.round(rng.random(n_events) * 200.0, 2),
    })


def documents(seed: int, n_docs: int) -> pa.Table:
    """`documents`: doc_id, text (8-60 words from WORDS), lang, source,
    n_chars."""
    rng = np.random.default_rng([seed, 2])
    words = np.array(WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(8, 61)))])
        for _ in range(n_docs)
    ]
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "fr"], n_docs, p=[0.7, 0.2, 0.1]),
        "source": [f"src{int(k)}" for k in rng.integers(0, 50, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def order_scenarios(seed: int):
    """Endless seeded inputs of the append scenario: an order id, a name,
    the first item and the 100 items added after the reload."""
    rng = np.random.default_rng([seed, 3])
    names = [f"item-{w}" for w in WORDS]
    while True:
        order_id = str(uuid.UUID(bytes=rng.bytes(16), version=4))
        picks = rng.integers(0, len(names), 101)
        cents = rng.integers(100, 10_000, 101)
        items = [
            {"name": names[int(p)], "amount": str(decimal.Decimal(int(c)) / 100)}
            for p, c in zip(picks, cents)
        ]
        yield {
            "order_id": order_id,
            "name": f"order {order_id[:8]}",
            "first": items[0],
            "added": items[1:],
        }


# ---------------------------------------------------------------------------
# curation corpus
# ---------------------------------------------------------------------------

BOILERPLATE = (
    "all rights reserved",
    "subscribe to our newsletter for updates",
    "cookie settings privacy policy terms of use",
)


def _syllable_vocab() -> list[str]:
    cons, vow = "bdfgklmnprstvz", "aeiou"
    return [a + b + c + d for a in cons for b in vow for c in cons for d in vow]


def curation_corpus(
    seed: int, n_base: int, n_exact: int, min_docs: int
) -> tuple[pa.Table, dict]:
    """Corpus with a known answer.

    - `n_base` distinct documents: three lines of 12-20 words drawn from a
      4,900-word vocabulary (any two share well under 10% of their words).
    - `n_exact` exact copies of distinct base documents; every other copy
      is upper-cased (exact dedup compares lower-cased text).
    - every document gets each boilerplate line with probability 1/2, and
      each line is forced into at least `min_docs` documents; copies draw
      their own lines, so duplicates only match once boilerplate is gone.
      No body line occurs in more than two documents.
    - doc ids are a seeded permutation, so a copy may hold the smaller id.

    Returns the table and the expected outcome of
    ``curate(boilerplate_min_docs=min_docs, neardup_threshold=None)``:
    the kept ids (the smaller id of each copy pair survives) and the
    stats dict.
    """
    rng = np.random.default_rng([seed, 4])
    vocab = _syllable_vocab()
    docs = [
        [
            " ".join(vocab[int(k)] for k in rng.choice(len(vocab), int(rng.integers(12, 21)), replace=False))
            for _ in range(3)
        ]
        for _ in range(n_base)
    ]
    sources = [int(s) for s in rng.choice(n_base, n_exact, replace=False)]
    pairs = []  # (original index, copy index)
    for j, src in enumerate(sources):
        docs.append([line.upper() if j % 2 else line for line in docs[src]])
        pairs.append((src, len(docs) - 1))
    n = len(docs)
    for line in BOILERPLATE:
        has = rng.random(n) < 0.5
        if has.sum() < min_docs:
            has[rng.choice(n, min_docs, replace=False)] = True
        for i in np.flatnonzero(has):
            docs[i].insert(int(rng.integers(0, len(docs[i]) + 1)), line)
    # some PII for the scrub pass, only in documents without a copy (an
    # extra line would break the copy's match)
    for i in range(0, n_base, 7):
        if i not in sources:
            docs[i].append(f"contact {vocab[i]}.{i}@example.com")
    ids = rng.permutation(n).astype(np.int64)
    table = pa.table({"doc_id": ids, "text": ["\n".join(d) for d in docs]})
    dropped = {int(max(ids[a], ids[b])) for a, b in pairs}
    kept = sorted(int(i) for i in ids if int(i) not in dropped)
    stats = {
        "input": n,
        "boilerplate_stripped": n,
        "exact_dedup": len(kept),
        "output": len(kept),
    }
    return table, {"kept_ids": kept, "stats": stats}
