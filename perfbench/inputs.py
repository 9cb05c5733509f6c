"""Seeded inputs, made with numpy and handed to the library only as parquet.

Vectors are 64-d float32 drawn around a fixed number of Gaussian cluster
centres, so that the coarse quantizers of the IVF and HNSW indexes see
real structure.  Query sets are drawn from the same mixture but are
disjoint from the corpus (ids start at ``QUERY_ID0``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 48
SPREAD = 0.45  # per-coordinate std around a unit-variance centre
QUERY_ID0 = 1_000_000_000


def rng_for(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, named input stream)."""
    return np.random.default_rng([seed, *stream.encode()])


class Mixture:
    """The Gaussian mixture every vector of one run is drawn from."""

    def __init__(self, seed: int):
        self.centres = rng_for(seed, "centres").standard_normal((CLUSTERS, DIM))

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        lab = rng.integers(0, CLUSTERS, n)
        x = self.centres[lab] + SPREAD * rng.standard_normal((n, DIM))
        return x.astype(np.float32)


def write_vectors(path: str, ids: np.ndarray, vecs: np.ndarray) -> None:
    """(vec_id BIGINT, embedding ARRAY<FLOAT>) parquet, the fixture shape."""
    n, d = vecs.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    emb = pa.ListArray.from_arrays(offsets, pa.array(vecs.reshape(-1)))
    table = pa.table({"vec_id": pa.array(ids.astype(np.int64)), "embedding": emb})
    pq.write_table(table, path)
