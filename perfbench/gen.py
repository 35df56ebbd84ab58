"""Seeded input generation for the benchmark workloads.

Every input the engine sees comes from here, derived from the run's seed
through independent numpy streams (``np.random.default_rng([seed, tag,
...])``), so the same seed gives the same inputs and two workloads never
share a stream. Nothing here touches Spark.
"""

from __future__ import annotations

import dataclasses

import numpy as np

# stream tags: one per generated input, so adding a stream never shifts
# another one's draws
_ELEMENTS, _EMB, _INGEST, _QUERIES, _CENTERS = range(5)


def _rng(seed: int, *tags: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *tags])


# -- element_pipeline -------------------------------------------------------


def element_batch(seed: int, iteration: int, n: int) -> list:
    """The records of one pipeline iteration: ``n`` non-negative ints."""
    return [int(x) for x in _rng(seed, _ELEMENTS, iteration).integers(0, 1 << 30, n)]


# -- ann_live_serve ---------------------------------------------------------


N_LABELS = 10  # sf0.1 ``embeddings`` carries 10 labels of 182-218 vectors
LABEL_PULL = 0.07  # norm of a label's mean unit vector in sf0.1 ``embeddings``


def _draw(seed: int, rng: np.random.Generator, n: int, dim: int) -> np.ndarray:
    """``n`` unit vectors of the sf0.1 ``embeddings`` shape: nearly
    isotropic, each pulled towards one of N_LABELS seeded directions so a
    label's mean unit vector has norm about LABEL_PULL. There a held-out
    vector's best corpus cosine is 0.39 at the median and 12% of them are
    novel at the 0.35 threshold; 16-cell k-means occupancy peaks at
    1.2 times the mean."""
    centers = _rng(seed, _CENTERS).normal(size=(N_LABELS, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n)
    v = LABEL_PULL * centers[labels] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def embeddings(seed: int, n: int, dim: int) -> np.ndarray:
    """``n`` float32 unit vectors (see ``_draw``); row i is vec_id i."""
    return _draw(seed, _rng(seed, _EMB), n, dim).astype(np.float32)


@dataclasses.dataclass
class VectorArrivals:
    """One round of ANN traffic: ``ingest[e]`` and ``queries[e]`` are
    (ids, float32 matrix) pairs."""

    ingest: list
    queries: list


def vector_arrivals(
    seed: int,
    emb: np.ndarray,
    n_ingest_epochs: int,
    ingest_size: int,
    dup_share: float,
    n_query_epochs: int,
    query_size: int,
    query_noise: float,
    free_share: float,
) -> VectorArrivals:
    """Ingest epochs carry held-out (odd-id) vectors plus planted
    near-duplicates (a corpus or earlier-ingested vector plus 2% noise);
    query epochs carry corpus vectors perturbed by ``query_noise`` (relative
    to the vector's norm) plus a ``free_share`` of fresh vectors of the
    corpus distribution, which is what the registry's live serving entry
    queries with (held-out table vectors). Query ids are fresh and never
    enter the index."""
    rng = _rng(seed, _INGEST)
    n, dim = emb.shape
    corpus_ids = np.arange(0, n, 2)
    held = rng.permutation(np.arange(1, n, 2))
    if len(held) < n_ingest_epochs * ingest_size:
        raise ValueError("not enough held-out vectors for the ingest epochs")
    n_plant = int(round(dup_share * ingest_size))
    next_id = n
    ingest, earlier = [], []
    for e in range(n_ingest_epochs):
        ids = [int(i) for i in held[e * ingest_size : (e + 1) * ingest_size]]
        vecs = [emb[i] for i in ids]
        for j in range(n_plant):
            pool = earlier if (earlier and j % 2 == 1) else corpus_ids
            src = int(pool[int(rng.integers(len(pool)))])
            v = emb[src]
            vecs.append((v + 0.02 * np.linalg.norm(v) / np.sqrt(dim) * rng.normal(size=dim)).astype(np.float32))
            ids.append(next_id)
            next_id += 1
        ingest.append((np.array(ids, dtype=np.int64), np.stack(vecs)))
        earlier.extend(ids[:ingest_size])
    qrng = _rng(seed, _QUERIES)
    queries = []
    n_free = int(round(free_share * query_size))
    for e in range(n_query_epochs):
        src = corpus_ids[qrng.integers(len(corpus_ids), size=query_size - n_free)]
        base = emb[src].astype(np.float64)
        scale = query_noise * np.linalg.norm(base, axis=1, keepdims=True) / np.sqrt(dim)
        pert = base + scale * qrng.normal(size=base.shape)
        vecs = np.concatenate([pert, _draw(seed, qrng, n_free, dim)]).astype(np.float32)
        ids = np.arange(next_id, next_id + query_size, dtype=np.int64)
        next_id += query_size
        queries.append((ids, vecs))
    return VectorArrivals(ingest, queries)
