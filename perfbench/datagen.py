"""Seeded synthetic inputs for the benchmark.

Writes the four tables the benchmarked ops read, with the column
names, types and value distributions of the engine's reference test
data at the 0.01 scale factor (``perfbench/layers.json`` lists the
shape figures of both side by side):

- ``documents``: 500 documents of 10-99 words over a 30-word
  vocabulary; 25 near-duplicates (one ``dup`` word inserted), 24 of
  them copying distinct originals anywhere in the corpus and one
  copying another (long) near-duplicate, as in the reference;
- ``embeddings``: 500 unit-norm 64-d vectors around 10 labelled
  centres;
- ``lineitem``: 60 000 TPC-H line items (uniform keys, prices,
  discounts, flags and ship dates over the reference's ranges);
- ``events``: 10 000 time-ordered events over 30 days, 150 users and
  5 event types, exponential values with mean 50.

The same seed always gives the same tables.

``churn_batches`` derives the seeded write batches of the
``index_churn`` workload from the generated corpus.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS, N_VECS, DIM, N_LABELS = 500, 500, 64, 10
N_DUPS = 25  # near-duplicate documents in the corpus
N_CHAINED = 1  # of them, copies of another near-duplicate
CHAIN_MIN_WORDS = 64
N_LINES, N_EVENTS = 60_000, 10_000
LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join data column customer query small big "
    "stream filter group order vector"
).split()


def _near_dup(text: str, rng) -> str:
    words = text.split()
    words.insert(int(rng.integers(0, len(words) + 1)), "dup")
    return " ".join(words)


def _documents(rng) -> pa.Table:
    texts = [" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))) for _ in range(N_DOCS)]
    dups = rng.choice(N_DOCS, N_DUPS, replace=False).tolist()
    plain, chained = dups[N_CHAINED:], dups[:N_CHAINED]
    originals = [i for i in range(N_DOCS) if i not in set(dups)]
    for i, src in zip(plain, rng.choice(originals, len(plain), replace=False)):
        texts[i] = _near_dup(texts[int(src)], rng)
    # the chained copy's source is long, as in the reference (79 words):
    # the three texts then stay pairwise similar, and label propagation
    # runs the reference's number of rounds
    long_dups = [i for i in plain if len(texts[i].split()) > CHAIN_MIN_WORDS]
    for i, src in zip(chained, rng.choice(long_dups, N_CHAINED, replace=False)):
        texts[i] = _near_dup(texts[int(src)], rng)
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng) -> pa.Table:
    centers = rng.normal(size=(N_LABELS, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, N_VECS)
    x = 0.15 * centers[labels] + rng.normal(scale=DIM**-0.5, size=(N_VECS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def _lineitem(rng) -> pa.Table:
    n = N_LINES
    day0 = np.datetime64("1995-01-02", "us")
    days = rng.integers(0, 2498, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.table(
        {
            "l_orderkey": rng.integers(0, 15_000, n),
            "l_partkey": rng.integers(0, 2_000, n),
            "l_suppkey": rng.integers(0, 100, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(float),
            "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n), 2),
            "l_discount": np.round(rng.uniform(0.0, 0.10, n), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": pa.array(day0 + days, pa.timestamp("us")),
        }
    )


def _events(rng) -> pa.Table:
    n = N_EVENTS
    gaps = rng.exponential(30 * 86_400e6 / n, n).astype(np.int64)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, 150, n),
            "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
                rng.integers(0, 5, n)
            ],
            "value": np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


TABLES = {
    "documents": _documents,
    "embeddings": _embeddings,
    "lineitem": _lineitem,
    "events": _events,
}


def generate(out_dir: str, seed: int) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every table in ``TABLES``;
    each table draws from its own stream of the seed."""
    os.makedirs(out_dir, exist_ok=True)
    for k, (name, make) in enumerate(TABLES.items()):
        table = make(np.random.default_rng([seed, k]))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def churn_batches(
    sf_dir: str, seed: int, n_batches: int, size: int = 20
) -> list[tuple[str, pa.Table]]:
    """Seeded write batches over the generated corpus, alternating
    ``("upsert", docs)`` and ``("delete", ids)``.

    Upserts insert near-duplicates of corpus originals under fresh
    ids, a fifth of them copies of probe-set documents, so every
    upsert adds the same number of probe matches; deletes remove ids
    still present. Every touched id has ``doc_id % 5 != 0``, so the
    standing probe set (``doc_id % 5 == 0``) never changes and the
    final state has a closed-form oracle.
    """
    rng = np.random.default_rng(seed + 7919)
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    originals = [i for i in text if "dup" not in text[i].split()]
    probed = [i for i in originals if i % 5 == 0]
    others = [i for i in originals if i % 5]
    live = [i for i in docs["doc_id"] if i % 5]
    next_id = N_DOCS
    out = []
    for b in range(n_batches):
        if b % 2:
            doomed = sorted(rng.choice(live, size, replace=False).tolist())
            live = [i for i in live if i not in set(doomed)]
            out.append(("delete", pa.table({"doc_id": pa.array(doomed, pa.int64())})))
            continue
        ids, texts = [], []
        sources = np.concatenate([
            rng.choice(probed, size // 5, replace=False),
            rng.choice(others, size - size // 5, replace=False),
        ])
        for src in sources:
            while next_id % 5 == 0:
                next_id += 1
            ids.append(next_id)
            texts.append(_near_dup(text[int(src)], rng))
            live.append(next_id)
            next_id += 1
        out.append(
            ("upsert", pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}))
        )
    return out
