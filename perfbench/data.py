"""Seeded input generation and numpy ground truth for the benchmark.

Everything here is pure numpy/pyarrow: the same seed gives the same arrays,
and nothing touches Spark except :func:`write_vectors`, which only writes a
parquet file for Spark to read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as papq


def centers(rng: np.random.Generator, n_clusters: int, dim: int) -> np.ndarray:
    """``n_clusters`` standard-normal cluster centers."""
    return rng.standard_normal((n_clusters, dim))


def clustered(rng: np.random.Generator, n: int, cents: np.ndarray,
              sigma: float) -> np.ndarray:
    """``n`` float32 rows, each a random center plus per-dimension Gaussian
    noise ``sigma``."""
    owner = rng.integers(0, len(cents), n)
    noise = sigma * rng.standard_normal((n, cents.shape[1]))
    return (cents[owner] + noise).astype(np.float32)


def near_rows(rng: np.random.Generator, base: np.ndarray, n: int,
              sigma: float) -> np.ndarray:
    """``n`` float32 rows, each a random row of ``base`` plus noise ``sigma``."""
    pick = rng.integers(0, len(base), n)
    noise = sigma * rng.standard_normal((n, base.shape[1]))
    return (base[pick] + noise).astype(np.float32)


def inject_near_duplicates(rng: np.random.Generator, x: np.ndarray, frac: float,
                           sigma: float) -> list[tuple[int, int]]:
    """Overwrite ``frac`` of the rows of ``x`` (in place) with ``sigma``-noise
    copies of other rows; return the injected (source, copy) row pairs."""
    n = len(x)
    rows = rng.permutation(n)
    n_dup = max(1, int(n * frac))
    sources, copies = rows[:n_dup], rows[n_dup:2 * n_dup]
    x[copies] = (x[sources] + sigma * rng.standard_normal((n_dup, x.shape[1]))).astype(
        np.float32
    )
    return [(int(min(s, c)), int(max(s, c))) for s, c in zip(sources, copies)]


def write_vectors(path: str, ids: np.ndarray, x: np.ndarray, id_col: str = "id") -> str:
    """Write (``id_col`` long, vec array<float>) to ``path`` as one parquet file."""
    n, dim = x.shape
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    vec = pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1), pa.float32()))
    table = pa.table({id_col: pa.array(np.asarray(ids, dtype=np.int64)), "vec": vec})
    os.makedirs(path, exist_ok=True)
    papq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


def unit_rows(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, dtype=np.float64)
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-30)


def cosine_scores(q: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Normalised cosine score ``(1 + cos) / 2`` — the engine's COSINE scale."""
    return (1.0 + unit_rows(q) @ unit_rows(x).T) / 2.0


def brute_topk(q: np.ndarray, x: np.ndarray, ids: np.ndarray, k: int
               ) -> tuple[np.ndarray, np.ndarray]:
    """Exact COSINE top-k: (ids, scores), each (len(q), k), best first."""
    s = cosine_scores(q, x)
    k = min(k, s.shape[1])
    part = np.argpartition(-s, k - 1, axis=1)[:, :k]
    order = np.argsort(-np.take_along_axis(s, part, axis=1), axis=1, kind="stable")
    top = np.take_along_axis(part, order, axis=1)
    return np.asarray(ids)[top], np.take_along_axis(s, top, axis=1)


def id_set_hash(ids) -> tuple[int, int]:
    """(count, xor of a 64-bit mix of every id): an order-free set digest."""
    a = np.asarray(sorted(set(int(i) for i in ids)), dtype=np.uint64)
    mixed = (a * np.uint64(0x9E3779B97F4A7C15)) ^ (a >> np.uint64(29))
    return len(a), int(np.bitwise_xor.reduce(mixed)) if len(a) else 0
