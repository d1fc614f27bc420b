"""numpy kernels for the Arrow-batched fast paths.

These mirror the reference's vector expression library
(``vector/VectorUtil.java``, scalar/Panama/native triplicate — see
SURVEY.md §2.3). numpy over Arrow batches is our single "SIMD backend":
one implementation instead of the reference's three-tier dispatch
(``vector/VectorizationProvider.java``), because BLAS-backed numpy on a
pandas-UDF batch plays the same role as Highway/Panama on a per-vector call.

Score normalization MUST match ``vector/VectorSimilarityFunction.java:37-69``:

    EUCLIDEAN: 1 / (1 + ||a-b||^2)
    DOT_PRODUCT: (1 + a.b) / 2
    COSINE: (1 + cos(a,b)) / 2

All kernels take/return float64 for oracle reproducibility; callers cast to
float32 at storage boundaries only.
"""

from __future__ import annotations

import numpy as np

EUCLIDEAN = "EUCLIDEAN"
DOT_PRODUCT = "DOT_PRODUCT"
COSINE = "COSINE"
METRICS = (EUCLIDEAN, DOT_PRODUCT, COSINE)

# Reused per-(role, dtype, thread) scratch for the block-sized
# temporaries of the numpy hot loops. Fresh multi-10-MB allocations are
# mmap'd and returned to the OS on free, so a blocked kernel that
# allocates per block pays mmap + page-zeroing every iteration — and 32
# concurrent worker processes serialize on the kernel's memory
# management (measured r9: 3-8k-row graph-build partitions ran 8-10x
# their idle-host cost from exactly this; a fresh 64 MB buffer costs
# 1.5-2.7 s on this host's page-fault path vs 0.04 s for the GEMM that
# fills it). Buffers grow geometrically and live for the process; the
# role set and the thread set are both bounded.
_SCRATCH: dict = {}


def scratch(role: str, shape: tuple, dtype) -> np.ndarray:
    import threading

    need = 1
    for s in shape:
        need *= int(s)
    key = (role, np.dtype(dtype).str, threading.get_ident())
    buf = _SCRATCH.get(key)
    if buf is None or buf.size < need:
        buf = np.empty(int(need * 1.25) + 16, dtype=dtype)
        _SCRATCH[key] = buf
    return buf[:need].reshape(shape)


def as_matrix(column, dtype=np.float64) -> np.ndarray:
    """Stack a pandas Series / sequence of float lists into an (n, d) matrix.

    Single C-level ``np.concatenate`` over the row buffers instead of a
    per-row Python loop with a per-row dtype conversion (10x on the
    100k x 64 Arrow-batch shape; bit-identical output — f32 -> f64 is
    exact either way). Packed-binary rows (f32 bytes, the index storage
    format) decode via one ``frombuffer`` on the joined buffer.

    ``dtype=np.float32`` is LOSSLESS whenever the rows are f32 storage
    (index segments, sampled training sets) — it skips the widening copy
    and downstream BLAS moves half the bytes.
    """
    vals = column.to_numpy() if hasattr(column, "to_numpy") else np.asarray(column, dtype=object)
    if len(vals) == 0:
        return np.empty((0, 0), dtype=dtype)
    first = vals[0]
    if isinstance(first, (bytes, bytearray)):
        flat = np.frombuffer(b"".join(vals), dtype=np.float32)
        out = flat.reshape(len(vals), -1)
        # frombuffer views are read-only: copy on the no-cast path
        return out.copy() if dtype == np.float32 else out.astype(dtype)
    try:
        return np.concatenate(vals, dtype=dtype).reshape(len(vals), -1)
    except (ValueError, TypeError):
        # ragged/odd inputs: preserve the old error semantics via stack
        return np.asarray(np.stack([np.asarray(v, dtype=dtype) for v in vals]))


def dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise dot products: (m, d) x (n, d) -> (m, n). Ref VectorUtil.java:45."""
    return a @ b.T


def l2sq(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise squared L2 distance matrix (m, n). Ref VectorUtil.java:84."""
    # ||a-b||^2 = ||a||^2 + ||b||^2 - 2 a.b  (BLAS-friendly)
    aa = np.einsum("ij,ij->i", a, a)[:, None]
    bb = np.einsum("ij,ij->i", b, b)[None, :]
    d = aa + bb - 2.0 * (a @ b.T)
    np.maximum(d, 0.0, out=d)
    return d


def cosine(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise cosine similarity matrix (m, n). Ref VectorUtil.java:70."""
    na = np.sqrt(np.einsum("ij,ij->i", a, a))[:, None]
    nb = np.sqrt(np.einsum("ij,ij->i", b, b))[None, :]
    denom = na * nb
    denom[denom == 0.0] = 1.0
    return (a @ b.T) / denom


def l2_normalize(a: np.ndarray) -> np.ndarray:
    """Row-wise unit-normalize. Ref VectorUtil.java:108."""
    n = np.linalg.norm(a, axis=-1, keepdims=True)
    n[n == 0.0] = 1.0
    return a / n


def similarity(metric: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise normalized similarity scores in (0, 1].

    Exactly the reference's VectorSimilarityFunction contract
    (``VectorSimilarityFunction.java:37-69``).
    """
    if metric == EUCLIDEAN:
        return 1.0 / (1.0 + l2sq(a, b))
    if metric == DOT_PRODUCT:
        return (1.0 + dot(a, b)) / 2.0
    if metric == COSINE:
        return (1.0 + cosine(a, b)) / 2.0
    # X1 SPI fallback: user-registered score functions (registry.py)
    from jvector_spark.functions.registry import get_score_function

    return get_score_function(metric).kernel(a, b)


def hamming_similarity(a: np.ndarray, b: np.ndarray, dim: int) -> np.ndarray:
    """1 - popcount(a XOR b)/dim over packed uint64 words.

    Pairwise over (m, w) x (n, w) packed arrays. Ref VectorUtil.java:177,
    BQVectors.java:116-117.
    """
    x = np.bitwise_xor(a[:, None, :], b[None, :, :])
    # popcount via uint8 view + lookup-free bit_count (numpy >= 1.26 has bit_count)
    pop = np.unpackbits(x.view(np.uint8), axis=-1).sum(axis=-1)
    return 1.0 - pop / float(dim)


def topk_per_row(
    scores: np.ndarray, k: int, ids: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k (indices, values) sorted by score desc then id asc.

    Tie-break matches reference ``SearchResult.java:101-106`` (score desc,
    node id asc). Pass ``ids`` (the actual node ids for each column) so the
    lossy partial top-k keeps the id-asc winner among score ties even when
    the batch's rows are not id-ordered; without it the column index is
    used, which is only correct when columns are already id-ascending.
    """
    m, n = scores.shape
    k = min(k, n)
    # Value-only partition for the k-th score, then extract the selected
    # columns with one >= compare pass. np.argpartition materializes the
    # FULL m x n int64 permutation (12 moved bytes/element); np.partition
    # moves 4, and the compare pass doubles as the boundary-tie detector
    # that used to be a separate full-matrix pass — ~4x less memory
    # traffic at high mask density, never slower (measured 533 -> 128 ms
    # per 512 x 16k chunk dense, equal at 2% density).
    tie_key = np.arange(n, dtype=np.int64) if ids is None else ids
    # r9: the value partition and the compare mask run in reused scratch —
    # np.partition's fresh m x n copy and a fresh bool mask per call were
    # mmap-churn under concurrent workers (see scratch()); values and
    # selection are unchanged (in-place partition of a copy == np.partition)
    pbuf = scratch("topk_part", scores.shape, scores.dtype)
    np.copyto(pbuf, scores)
    pbuf.partition(n - k, axis=1)
    kth = pbuf[:, n - k]
    sel = scratch("topk_sel", scores.shape, np.bool_)
    np.greater_equal(scores, kth[:, None], out=sel)
    cnt = sel.sum(axis=1, dtype=np.int64)
    bad = np.flatnonzero(cnt > k)
    if bad.size == 0:
        # common case: no boundary ties anywhere — one reshape
        part = np.nonzero(sel)[1].reshape(m, k)
    else:
        # rows where >k scores tie at the k-th value (duplicate vectors,
        # or mask-starved rows whose k-th best is the -inf fill: sel is
        # ALL-TRUE there, so they must be cleared BEFORE the nonzero or
        # the extraction materializes the full m x n index stream) get a
        # deterministic tie-break below; the exact-k rows reshape as usual.
        part = np.zeros((m, k), dtype=np.int64)  # bad rows: redo overwrites
        good = np.flatnonzero(cnt == k)
        if good.size:
            sel[bad] = False
            part[good] = np.nonzero(sel)[1].reshape(good.size, k)
    part_scores = np.take_along_axis(scores, part, axis=1)
    if bad.size and scores.dtype == np.float32:
        # Pack (score desc, tie-key asc) into one uint64 per cell — high
        # word: IEEE-monotone f32 bits inverted so ascending uint order ==
        # score DESCENDING; low word: the column's rank in tie-key order —
        # and argpartition THAT. The key is unique per column, so the
        # selection is exact and deterministic in one vectorized pass,
        # bit-equal to a (-score, tie_key) lexsort; the old per-row lexsort
        # fallback took ~1.3 s/tile under the fine-cell mask (most entries
        # -inf => kth == -inf => every masked row lands here).
        sub = np.ascontiguousarray(scores[bad])
        u = sub.view(np.uint32)
        sign = u & np.uint32(0x80000000)
        # inv = 0xFFFFFFFF - monotone(u) simplifies per sign branch:
        #   negative floats (mono = ~u):          inv = u
        #   non-negative  (mono = u | 0x8000..):  inv = 0x7FFFFFFF - u
        inv = np.where(sign, u, np.uint32(0x7FFFFFFF) - u)
        rank = np.empty(n, dtype=np.uint64)
        rank[np.argsort(tie_key, kind="stable")] = np.arange(n, dtype=np.uint64)
        key = inv.astype(np.uint64)
        key <<= np.uint64(32)
        key |= rank[None, :]
        sel = np.argpartition(key, k - 1, axis=1)[:, :k]
        part[bad] = sel
        part_scores[bad] = np.take_along_axis(sub, sel, axis=1)
    elif bad.size:
        for r in bad:
            full = np.lexsort((tie_key, -scores[r]))[:k]
            part[r] = full
            part_scores[r] = scores[r][full]
    # sort on (-score, id): lexsort with the tie key as secondary key
    tie = tie_key[part]
    order = np.lexsort((tie, -part_scores), axis=1)
    idx = np.take_along_axis(part, order, axis=1)
    vals = np.take_along_axis(part_scores, order, axis=1)
    return idx, vals
