"""Seeded input generators for the three benchmark workloads.

Everything here is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs.  The package under test only ever receives what
these functions return; ground truth (``truth.py``) is computed from the
same values with numpy and plain Python.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

import numpy as np

DIM = 64
COLLECTIONS = ("coll_00", "coll_01", "coll_02", "coll_03", "coll_04")
# FIXTURES.md §1: 5 collections skewed 50/25/12/8/5 %
COLLECTION_WEIGHTS = (0.50, 0.25, 0.12, 0.08, 0.05)



def skew_rotation(n: int = 20) -> list[str]:
    """The collections in a fixed interleaved order whose shares follow
    ``COLLECTION_WEIGHTS``.  Calls take their collection from it in turn, so
    the i-th call of a kind hits the same collection under every seed and a
    run's few samples stay comparable across seeds."""
    counts = [max(1, round(w * n)) for w in COLLECTION_WEIGHTS]
    slots = sorted(
        ((j + 0.5) / c, i) for i, c in enumerate(counts) for j in range(c)
    )
    return [COLLECTIONS[i] for _, i in slots]


_WORKLOAD_SALT = {"store_crud": 1, "corpus_pipeline": 2}


def rng_for(seed: int, workload: str, stream: int = 0) -> np.random.Generator:
    """Independent, reproducible stream per (seed, workload, purpose)."""
    return np.random.default_rng([int(seed), _WORKLOAD_SALT[workload], stream])


# ---------------------------------------------------------------------------
# store_crud: skewed collections of {key, metadata, embedding, ts}
# ---------------------------------------------------------------------------


def store_key(collection: str, n: int) -> str:
    return f"{collection}-k{n:06d}"


def store_metadata(key: str, rng: np.random.Generator) -> str:
    words = " ".join(f"t{int(w)}" for w in rng.integers(0, 500, 6))
    return json.dumps(
        {
            "is_reference": False,
            "external_source_name": "perfbench",
            "id": key,
            "description": f"row {key}",
            "text": words,
            "additional_metadata": "",
        }
    )


def store_embedding(rng: np.random.Generator, n: int) -> np.ndarray:
    """Random directions with L2 norm in (0.5, 2.0), float32 (FIXTURES §1)."""
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v *= rng.uniform(0.5, 2.0, (n, 1))
    return v.astype(np.float32)


def store_rows(seed: int, n_rows: int) -> list[tuple[str, str, str, np.ndarray]]:
    """Initial store content: ``(collection, key, metadata, embedding)``."""
    rng = rng_for(seed, "store_crud", 0)
    which = rng.choice(len(COLLECTIONS), n_rows, p=COLLECTION_WEIGHTS)
    emb = store_embedding(rng, n_rows)
    out = []
    for i in range(n_rows):
        c = COLLECTIONS[which[i]]
        k = store_key(c, i)
        out.append((c, k, store_metadata(k, rng), emb[i]))
    return out


# ---------------------------------------------------------------------------
# ann_index: clustered vectors around K seeded centroids
# ---------------------------------------------------------------------------


@dataclass
class ClusteredVectors:
    centroids: np.ndarray  # (K, DIM) float64 — the index quantizer
    vectors: np.ndarray  # (N, DIM) float32
    queries: np.ndarray  # (Q, DIM) float32


def clustered_vectors(
    seed: int, n_rows: int, k_lists: int, n_queries: int, noise: float = 1.3
) -> ClusteredVectors:
    rng = rng_for(seed, "corpus_pipeline", 0)
    cents = rng.standard_normal((k_lists, DIM))
    lab = rng.integers(0, k_lists, n_rows)
    vecs = cents[lab] + noise * rng.standard_normal((n_rows, DIM))
    qlab = rng.integers(0, k_lists, n_queries)
    qs = cents[qlab] + noise * rng.standard_normal((n_queries, DIM))
    return ClusteredVectors(cents, vecs.astype(np.float32), qs.astype(np.float32))


# ---------------------------------------------------------------------------
# corpus_dedup: zipf-vocabulary documents with planted duplicates
# ---------------------------------------------------------------------------

VOCAB = 5000
ZIPF_S = 1.1


@dataclass
class Corpus:
    texts: list[str]
    family: list[int]  # docs sharing a family id are planted copies
    exact_of: dict[int, int] = field(default_factory=dict)  # copy -> source
    near_of: dict[int, int] = field(default_factory=dict)  # copy -> source


class DocGen:
    """Zipf word documents (30-200 words) plus planted exact and near
    copies.  A near copy swaps one word in every 40 (at least one), which
    keeps its word-trigram Jaccard with the source near 0.8."""

    def __init__(self, seed: int, stream: int = 0):
        self.rng = rng_for(seed, "corpus_pipeline", 10 + stream)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.p = p / p.sum()

    def fresh(self) -> str:
        n = int(self.rng.integers(30, 201))
        return " ".join(f"w{int(j)}" for j in self.rng.choice(VOCAB, n, p=self.p))

    def near_copy(self, text: str) -> str:
        words = text.split()
        n_swap = max(1, len(words) // 40)
        for pos in self.rng.choice(len(words), n_swap, replace=False):
            # 'x' words are outside the zipf vocabulary: a swap always changes
            words[int(pos)] = f"x{int(self.rng.integers(0, 10**6))}"
        return " ".join(words)


def corpus(seed: int, n_docs: int, dup_frac: float = 0.1) -> Corpus:
    """``n_docs`` documents; about ``dup_frac`` of them are planted copies
    (half exact, half near) of an earlier document."""
    g = DocGen(seed)
    texts: list[str] = []
    family: list[int] = []
    out = Corpus(texts, family)
    for i in range(n_docs):
        if i > 0 and g.rng.random() < dup_frac:
            src = int(g.rng.integers(0, i))
            if g.rng.random() < 0.5:
                texts.append(texts[src])
                out.exact_of[i] = src
            else:
                texts.append(g.near_copy(texts[src]))
                out.near_of[i] = src
            family.append(family[src])
        else:
            texts.append(g.fresh())
            family.append(i)
    return out


def daily_batch(
    g: DocGen, history: Corpus, first_id: int, size: int, sources: list[int]
) -> list[int]:
    """Append a probe batch of ``size`` docs to ``history`` (ids from
    ``first_id``): a third exact copies of a doc in ``sources``, a third
    near copies, the rest fresh.  Returns the new ids."""
    ids = []
    for j in range(size):
        i = first_id + j
        r = g.rng.random()
        if r < 2 / 3:
            src = sources[int(g.rng.integers(0, len(sources)))]
            if r < 1 / 3:
                history.texts.append(history.texts[src])
                history.exact_of[i] = src
            else:
                history.texts.append(g.near_copy(history.texts[src]))
                history.near_of[i] = src
            history.family.append(history.family[src])
        else:
            history.texts.append(g.fresh())
            history.family.append(i)
        ids.append(i)
    return ids
