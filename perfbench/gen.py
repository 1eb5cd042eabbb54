"""Seeded input generator shared by every workload.

Everything here is plain numpy/pyarrow: ``lance_spark`` only ever sees the
tables these functions return. The same seed gives byte-identical inputs.

Text is Zipfian over a synthetic lowercase vocabulary whose top ranks are
English stop words, so stop-word tokens and shingles are the hot keys a
real corpus has. Vectors are clustered (unit-norm centres plus Gaussian
noise), so IVF partitions and LSH buckets are uneven the way embeddings
are.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# the first eight are the ones the Gopher stop-word rule looks for
STOP_WORDS = [
    "the", "be", "to", "of", "and", "that", "have", "with",
    "a", "in", "is", "it", "for", "on", "as", "was",
]
DIM = 64
N_CATEGORIES = 50
N_LABELS = 3
# per-dimension noise around unit-norm cluster centres: points of a cluster
# sit at cosine ~0.6 from each other, far from the 0.95 of a near duplicate
NOISE = 0.1
N_CLUSTERS = 32


def _vocab(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set(STOP_WORDS)
    out = list(STOP_WORDS)
    while len(out) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 10))))
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out)


def _zipf_probs(n: int, s: float = 1.1) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def vector_column(vecs: np.ndarray) -> pa.Array:
    return pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM).cast(
        pa.list_(pa.float32())
    )


@dataclass
class Rows:
    """A table of the ingest schema, column-wise in numpy."""

    id: np.ndarray
    text: np.ndarray
    category: np.ndarray
    price: np.ndarray
    embedding: np.ndarray

    def to_arrow(self) -> pa.Table:
        return pa.table(
            {
                "id": pa.array(self.id, pa.int64()),
                "text": pa.array(self.text, pa.string()),
                "category": pa.array(self.category, pa.string()),
                "price": pa.array(self.price, pa.float64()),
                "embedding": vector_column(self.embedding),
            }
        )

    def __len__(self) -> int:
        return len(self.id)


class TableGen:
    """Rows of ``id, text, category, price, embedding`` for the ingest
    workload. Ids are handed out by the caller so the ingest model can mint
    fresh ones for appends and upserts."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng(seed)
        self.vocab = _vocab(self.rng, 5000)
        self.probs = _zipf_probs(len(self.vocab))
        self.n_clusters = N_CLUSTERS
        self.centres = self.rng.standard_normal((N_CLUSTERS, DIM))
        self.centres /= np.linalg.norm(self.centres, axis=1, keepdims=True)

    def rows(self, ids: np.ndarray, tokens: int = 24) -> Rows:
        n = len(ids)
        words = self.vocab[self.rng.choice(len(self.vocab), size=(n, tokens), p=self.probs)]
        assign = self.rng.integers(0, self.n_clusters, size=n)
        emb = (self.centres[assign] + NOISE * self.rng.standard_normal((n, DIM))).astype(np.float32)
        return Rows(
            id=np.asarray(ids, dtype=np.int64),
            text=np.array([" ".join(r) for r in words], dtype=object),
            category=np.array([f"c{c:02d}" for c in self.rng.integers(0, N_CATEGORIES, n)], dtype=object),
            # whole cents, so a checksum over prices is an exact integer sum
            price=np.round(self.rng.uniform(1.0, 1000.0, n), 2),
            embedding=emb,
        )

    def query_vectors(self, n: int) -> np.ndarray:
        assign = self.rng.integers(0, self.n_clusters, size=n)
        return (self.centres[assign] + NOISE * self.rng.standard_normal((n, DIM))).astype(np.float32)


@dataclass
class Corpus:
    """The curate workload's documents plus the ground truth planted in
    them."""

    table: pa.Table
    exact_dups: dict[int, int]  # duplicate id -> original id
    near_dups: dict[int, int]
    junk: set[int]  # ids planted to fail the Gopher rules
    labels: np.ndarray  # label per row, aligned with table
    query: list  # full-text query terms for the curated output


def corpus(seed: int, n_docs: int) -> Corpus:
    """``n_docs`` documents of 80 tokens: originals, then 10% exact copies,
    20% near copies (three tokens replaced), then 3% junk too short for the
    Gopher rules. Ids are shuffled so duplicates are not adjacent to their
    originals. Labels pick a per-class topic vocabulary that a fifth of
    each document's tokens come from. A 2-3 term full-text query rides
    along."""
    tokens = 80
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 8000)
    probs = _zipf_probs(len(vocab))
    n_exact, n_near, n_junk = n_docs // 10, n_docs // 5, n_docs * 3 // 100
    n_orig = n_docs - n_exact - n_near - n_junk

    topic = [vocab[2000 + 300 * c: 2300 + 300 * c] for c in range(N_LABELS)]
    labels_orig = rng.integers(0, N_LABELS, n_orig)
    base = vocab[rng.choice(len(vocab), size=(n_orig, tokens), p=probs)]
    topical = rng.random((n_orig, tokens)) < 0.2
    for c in range(N_LABELS):
        m = topical & (labels_orig[:, None] == c)
        base[m] = rng.choice(topic[c], size=int(m.sum()))
    centres = rng.standard_normal((N_CLUSTERS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    emb_orig = centres[rng.integers(0, N_CLUSTERS, n_orig)] + NOISE * rng.standard_normal((n_orig, DIM))

    ex_src = rng.choice(n_orig, n_exact, replace=False)
    near_src = rng.choice(n_orig, n_near, replace=False)
    near_toks = base[near_src].copy()
    # 3 of 80 tokens replaced: shingle Jaccard stays near 0.8
    for row in near_toks:
        pos = rng.choice(tokens, 3, replace=False)
        row[pos] = vocab[rng.integers(len(STOP_WORDS), len(vocab), 3)]
    junk_toks = vocab[rng.integers(len(STOP_WORDS), len(vocab), (n_junk, 20))]

    texts = (
        [" ".join(r) for r in base]
        + [" ".join(base[i]) for i in ex_src]
        + [" ".join(r) for r in near_toks]
        + [" ".join(r) for r in junk_toks]
    )
    emb = np.concatenate(
        [
            emb_orig,
            emb_orig[ex_src],
            emb_orig[near_src] + 0.01 * rng.standard_normal((n_near, DIM)),
            centres[rng.integers(0, N_CLUSTERS, n_junk)] + NOISE * rng.standard_normal((n_junk, DIM)),
        ]
    ).astype(np.float32)
    labels = np.concatenate(
        [labels_orig, labels_orig[ex_src], labels_orig[near_src], rng.integers(0, N_LABELS, n_junk)]
    )
    perm = rng.permutation(n_docs)
    ids = np.empty(n_docs, dtype=np.int64)
    ids[perm] = np.arange(n_docs)  # row r gets id ids[r]
    orig_id = ids[:n_orig]
    exact_dups = {int(ids[n_orig + j]): int(orig_id[s]) for j, s in enumerate(ex_src)}
    near_dups = {int(ids[n_orig + n_exact + j]): int(orig_id[s]) for j, s in enumerate(near_src)}
    junk = {int(i) for i in ids[n_orig + n_exact + n_near:]}
    order = np.argsort(ids)
    n_labeled = n_docs // 5
    table = pa.table(
        {
            "id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "embedding": vector_column(emb[order]),
            # only the first fifth of ids carry a training label
            "label": pa.array(
                [f"l{labels[i]}" if ids[i] < n_labeled else None for i in order], pa.string()
            ),
        }
    )
    query = list(rng.choice(vocab[len(STOP_WORDS):400], size=int(rng.integers(2, 4)), replace=False))
    return Corpus(table, exact_dups, near_dups, junk, labels[order], query)
