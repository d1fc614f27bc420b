"""Per-partition Vamana graph micro-index (M3/M4) over an IVF index.

The reference IS a graph engine: every partition-level recall knob we ship
(fine cells, spill, adaptive probes) replaces what jvector gets from Vamana
graph traversal (``graph/GraphIndexBuilder.java:436`` build,
``graph/GraphSearcher.java:222-507`` beam search). This module closes the
last two coverage rows by building the REAL thing *inside* each coarse
partition — the natural Spark placement: partitions are the unit of
parallel build (one ``applyInPandas`` group each) and the unit of probed IO
at search (a beam visits ``O(ef x degree)`` rows of a partition instead of
the fine-cell mask's ``npf/fine_factor`` fraction).

Build semantics (per partition, vectorized numpy, faithful to the ref):

- candidate lists: exact top-``ef_construction`` neighbors per node by the
  index metric (blocked matmuls; the O(n_p^2 / block) within-partition
  contract — partitions are ~sqrt(N) rows at default sizing, and the
  builder's ``n_partitions`` knob bounds n_p explicitly at any scale).
- diversity (M3): RobustPrune with the reference's exact alpha-sweep
  semantics (``graph/diversity/VamanaDiversityProvider.java:45-99``):
  alpha walks 1.0 -> alpha in 0.2 steps; at each step a candidate (score
  order) is kept iff no already-selected neighbor is closer to IT than
  ``alpha x`` its score to the owner; stop at ``degree`` kept.
- backlink + overflow (M4): every forward edge u->v backlinks v->u
  (``graph/ConcurrentNeighborMap.java:158-164``); a node's merged list is
  capped at ``degree x overflow`` by score (insert-overflow analog,
  ConcurrentNeighborMap.java:156) and nodes over ``degree`` are re-pruned
  with the same diversity rule (``enforceDegree``,
  ConcurrentNeighborMap.java:215-223). Nodes at or under ``degree`` keep
  every edge — the reference never diversity-filters an under-full list.
- entry point: the partition medoid (nearest row to the partition mean) —
  the single-layer analog of the hierarchy entry
  (``graph/GraphIndexBuilder.java`` entry maintenance).

Storage: ``segments/<seg>/graph/edges.parquet`` partitioned by ``part_id``
with rows ``(id, neighbors array<long>, entry)`` — neighbors are GLOBAL
ids (stable across file re-reads; local ordinals are resolved by
searchsorted at search time) — plus ``graph/meta.json`` (degree / alpha /
overflow / ef_construction). ``append()`` creates graph-less segments
(cover them with :func:`build_graph`); ``compact()`` REBUILDS the merged
segment's graph when every merged segment had one — the reference
rebuilds its graph at compaction the same way
(OnDiskGraphIndexCompactor.java:296).

Search (``GraphSearcher.java:222-507`` beam semantics, batched): queries
probe their ``n_probe`` nearest centroids exactly like IVF search (the
hierarchical-descent analog), then a ZERO-CORPUS-SHUFFLE pass over the
probed partitions (each task direct-reads its partition's data/edges
dirs) runs a vectorized multi-query best-first beam search per partition — ADC/hamming approximate scores steer the traversal (the
reference's compressed-first-pass search), and the surviving beam reranks
through the same fused exact-scoring kernel every other route uses, so
reported scores carry identical semantics (fp32-exact or dequantized-NVQ).
Tombstoned rows are traversed but filtered from RESULTS (the reference's
two-phase delete: deleted nodes keep routing until cleanup,
GraphIndexBuilder.java markDeleted -> removeDeletedNodes).

Scale shape: the searcher holds ONE partition's (codes + adjacency)
resident per task — exactly DiskANN's memory contract, bounded by the
builder's partition sizing, and visits ``O(ef x degree)`` rows per
(query, partition) independent of partition size: the graph route is the
low-latency point-query path where even fine-cell masks read too much.
"""

from __future__ import annotations

import json
import math
import os
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.operators.exact import collect_point_query_batch, empty_hits

__all__ = ["build_graph", "graph_search"]

_ALPHA_STEP = 0.2  # VamanaDiversityProvider.java:78 (currentAlpha += 0.2f)

# Per-(role, dtype, thread) reused scratch for the numpy hot loops —
# shared with kernels.scratch (see its docstring for the r9 allocator
# measurements). Thread-keyed, so the block pool below is race-free.
_scratch = kernels.scratch


# In-task block threading for SKEWED graph-build stages (guide §2.5): a
# hot kmeans cell (the 1M bench layout holds a 52k-row partition, 67x
# the median) builds O(n_p^2) in ONE task that runs alone long after the
# rest of the stage drained. Above _PAR_ROWS_MIN rows the blocked
# candidate/prune loops fan their blocks across this pool — numpy
# releases the GIL inside the GEMM/partition/compare kernels, per-block
# work is independent, and writes land in disjoint output slices, so the
# result is bit-identical to the sequential loop. Small partitions (the
# balanced bulk of every stage) never touch the pool.
_PAR_ROWS_MIN = 16_384
_POOL = None


def _block_pool():
    global _POOL
    if _POOL is None:
        from concurrent.futures import ThreadPoolExecutor

        # default: a quarter of the host's cores, 2..8 — big-partition
        # tasks are rare within a stage, so a few threads fill the tail
        # without oversubscribing hosts where many tasks run concurrently
        # (the straggler regime this pool exists for has idle cores).
        dflt = max(2, min(8, (os.cpu_count() or 8) // 4))
        try:
            w = max(1, int(os.environ.get("JVS_TASK_THREADS", str(dflt))))
        except ValueError:
            w = dflt
        _POOL = ThreadPoolExecutor(max_workers=w, thread_name_prefix="jvs-blk")
    return _POOL


def _take_rows(role: str, x: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Gather x's rows at ``idx`` (negatives clamp to 0) into per-role
    scratch — ``x[np.maximum(idx, 0)]`` without the fresh allocation."""
    out = _scratch(role, idx.shape + (x.shape[1],), x.dtype)
    np.take(x, idx, axis=0, mode="clip", out=out)
    return out


# --------------------------------------------------------------- numpy core
def _pair_sims(met: str, v: np.ndarray) -> np.ndarray:
    """(B, C, d) candidate vectors -> (B, C, C) pairwise similarity in the
    engine's normalized (0,1] score space (kernels.similarity semantics).

    Implementation notes (both matter — measured on the build host):
    a python loop of 2-D GEMMs per batch row (np.matmul's batched path
    and einsum both fall off the BLAS fast path here), writing into a
    REUSED scratch buffer with in-place epilogues (a fresh (B, C, C)
    allocation costs 30-70x the GEMMs that fill it on this host's
    page-fault path). Returns a view of per-role scratch: consume it
    before the next _pair_sims call."""
    b_n, c_n, _ = v.shape
    dots = _scratch("pair_dots", (b_n, c_n, c_n), v.dtype)
    for b in range(b_n):
        np.dot(v[b], v[b].T, out=dots[b])
    if met == "DOT_PRODUCT":
        dots += 1.0
        dots *= 0.5
        return dots
    nn = np.einsum("bcd,bcd->bc", v, v)
    if met == "EUCLIDEAN":
        dots *= -2.0
        dots += nn[:, :, None]
        dots += nn[:, None, :]
        np.maximum(dots, 0.0, out=dots)
        dots += 1.0
        np.reciprocal(dots, out=dots)
        return dots
    nrm = np.sqrt(np.maximum(nn, 1e-30))
    dots /= nrm[:, :, None]
    dots /= nrm[:, None, :]
    dots += 1.0
    dots *= 0.5
    return dots


def _retain_diverse_batch(
    sims: np.ndarray,
    cand_sc: np.ndarray,
    valid: np.ndarray,
    max_degree: int,
    alpha: float,
) -> np.ndarray:
    """Batched RobustPrune (M3; VamanaDiversityProvider.retainDiverse
    semantics exactly, vectorized over the NODE axis).

    ``sims`` (B, C, C): pairwise candidate similarities; ``cand_sc``
    (B, C): candidate->owner scores, sorted desc per row; ``valid``: real
    (non-pad) candidates. Returns the selected mask (B, C). The sequential
    dependence is over candidate RANK (tiny: C <= degree x overflow), so
    each rank step is one vectorized pass over all nodes."""
    b, c = cand_sc.shape
    selected = np.zeros((b, c), dtype=bool)
    nsel = np.zeros(b, dtype=np.int64)
    a = 1.0
    while a <= alpha + 1e-6:
        for r in range(c):
            col_valid = valid[:, r] & ~selected[:, r] & (nsel < max_degree)
            if not col_valid.any():
                continue
            # diverse iff NO selected neighbor is closer to the candidate
            # than alpha x its owner score (isDiverse, java:85-99)
            viol = np.any(
                selected & (sims[:, r, :] > cand_sc[:, r : r + 1] * a), axis=1
            )
            take = col_valid & ~viol
            selected[:, r] |= take
            nsel += take
        if np.all(nsel >= np.minimum(max_degree, valid.sum(axis=1))):
            break
        a = round(a + _ALPHA_STEP, 10)
    return selected


def _knn_candidates(
    x: np.ndarray, ef: int, met: str, block: int | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Exact within-partition candidate lists: (n, ef) neighbor local
    ordinals + scores, sorted score desc / ordinal asc. Blocked matmuls —
    the documented O(n_p^2 / block) build contract; the block height
    adapts so the (block, n) f32 score matrix stays ~256 MB regardless of
    partition size."""
    n = len(x)
    if block is None:
        block = max(64, min(2048, int((256 << 20) // max(4 * n, 1))))
    ef = min(ef, n - 1) if n > 1 else 0
    idx = np.zeros((n, max(ef, 0)), dtype=np.int64)
    sc = np.zeros((n, max(ef, 0)), dtype=np.float32)
    if ef == 0:
        return idx, sc
    nn_all = np.einsum("ij,ij->i", x, x)
    nrm = (
        np.sqrt(np.maximum(nn_all, 1e-30))
        if met not in ("DOT_PRODUCT", "EUCLIDEAN")
        else None
    )

    def _one_block(lo: int) -> None:
        # dots + the score epilogue run in reused scratch with in-place
        # ops (see kernels.scratch: per-block fresh allocs of this size
        # serialize 32 workers on the kernel's mmap/page-zero path).
        # Every epilogue keeps the ORIGINAL operand order / exact-
        # power-of-two steps, so scores are bit-identical to the old
        # expression forms.
        hi = min(lo + block, n)
        s = _scratch("knn_dots", (hi - lo, n), x.dtype)
        np.matmul(x[lo:hi], x.T, out=s)
        if met == "DOT_PRODUCT":
            s += 1.0
            s *= 0.5  # (1 + d) / 2 — *0.5 == /2 exactly
        elif met == "EUCLIDEAN":
            t = _scratch("knn_tmp", (hi - lo, n), x.dtype)
            np.add(nn_all[lo:hi, None], nn_all[None, :], out=t)
            s *= 2.0
            np.subtract(t, s, out=s)  # (a + b) - 2*dots, same operands
            np.maximum(s, 0.0, out=s)
            s += 1.0
            np.divide(1.0, s, out=s)
        else:
            t = _scratch("knn_tmp", (hi - lo, n), x.dtype)
            np.multiply(nrm[lo:hi, None], nrm[None, :], out=t)
            s /= t
            s += 1.0
            s *= 0.5
        s[np.arange(hi - lo), np.arange(lo, hi)] = -np.inf  # self-exclusion
        ii, vv = kernels.topk_per_row(s, ef)
        idx[lo:hi] = ii
        sc[lo:hi] = vv

    los = list(range(0, n, block))
    if n >= _PAR_ROWS_MIN and len(los) > 1:
        # straggler partition: per-block rows are independent and write
        # disjoint slices — bit-identical to the sequential loop
        list(_block_pool().map(_one_block, los))
    else:
        for lo in los:
            _one_block(lo)
    return idx, sc


def _build_partition_graph(
    x: np.ndarray,
    degree: int,
    alpha: float,
    overflow: float,
    ef_c: int,
    met: str,
    diversity_block: int = 4096,
) -> tuple[list[np.ndarray], int]:
    """One partition's Vamana graph: per-node neighbor local-ordinal arrays
    (score-desc order, <= degree each) + the entry (medoid) ordinal."""
    n = len(x)
    if n <= 1:
        return [np.empty(0, dtype=np.int64) for _ in range(n)], 0
    cand_idx, cand_sc = _knn_candidates(x, ef_c, met)

    def prune(idx: np.ndarray, sc: np.ndarray, valid: np.ndarray) -> np.ndarray:
        sel = np.zeros_like(valid)

        def _one(lo: int) -> None:
            hi = min(lo + diversity_block, len(idx))
            v = _take_rows("prune_v", x, idx[lo:hi])
            sel[lo:hi] = _retain_diverse_batch(
                _pair_sims(met, v), sc[lo:hi], valid[lo:hi], degree, alpha
            )

        los = list(range(0, len(idx), diversity_block))
        if n >= _PAR_ROWS_MIN and len(los) > 1:
            # scratch is thread-keyed; blocks write disjoint slices
            list(_block_pool().map(_one, los))
        else:
            for lo in los:
                _one(lo)
        return sel

    # pass 1 (M3): diverse forward edges from the candidate lists
    fwd_sel = prune(cand_idx, cand_sc, np.ones_like(cand_idx, dtype=bool))
    src = np.repeat(np.arange(n, dtype=np.int64), fwd_sel.sum(axis=1))
    dst = cand_idx[fwd_sel]
    esc = cand_sc[fwd_sel]
    # pass 2 (M4): backlink every edge, merge per node, cap at
    # degree x overflow by score, enforceDegree on over-full nodes
    all_src = np.concatenate([src, dst])
    all_dst = np.concatenate([dst, src])
    all_sc = np.concatenate([esc, esc])  # similarity is symmetric
    # dedup (u, v) pairs (u's forward edge to v + v's backlink of u->v)
    key = all_src * n + all_dst
    _, uniq_i = np.unique(key, return_index=True)
    all_src, all_dst, all_sc = all_src[uniq_i], all_dst[uniq_i], all_sc[uniq_i]
    # per-node score-desc order (ordinal asc on ties — T4 determinism)
    order = np.lexsort((all_dst, -all_sc.astype(np.float64), all_src))
    all_src, all_dst, all_sc = all_src[order], all_dst[order], all_sc[order]
    starts = np.searchsorted(all_src, np.arange(n))
    ends = np.searchsorted(all_src, np.arange(n) + 1)
    counts = ends - starts
    cap = max(degree, int(math.ceil(degree * overflow)))
    width = int(min(counts.max(initial=0), cap))
    m_idx = np.full((n, width), -1, dtype=np.int64)
    m_sc = np.full((n, width), -np.inf, dtype=np.float32)
    take = np.minimum(counts, width)  # overflow cap: keep best-by-score
    rows = np.repeat(np.arange(n), take)
    cols = np.concatenate([np.arange(t) for t in take]) if n else np.empty(0, int)
    flat = np.concatenate(
        [np.arange(s, s + t) for s, t in zip(starts, take)]
    ) if n else np.empty(0, int)
    m_idx[rows, cols] = all_dst[flat]
    m_sc[rows, cols] = all_sc[flat]
    valid = m_idx >= 0
    over = counts > degree
    final_sel = valid.copy()
    if over.any():
        oi = np.flatnonzero(over)
        final_sel[oi] = prune(m_idx[oi], m_sc[oi], valid[oi])
    neighbors = [m_idx[i][final_sel[i]] for i in range(n)]
    # entry: medoid — the row most similar to the partition mean
    mean = x.mean(axis=0, dtype=np.float64).astype(x.dtype)[None, :]
    if met == "EUCLIDEAN":
        d = np.einsum("ij,ij->i", x, x) - 2.0 * (x @ mean.T).ravel()
        entry = int(np.argmin(d))
    elif met == "DOT_PRODUCT":
        entry = int(np.argmax((x @ mean.T).ravel()))
    else:
        nr = np.sqrt(np.maximum(np.einsum("ij,ij->i", x, x), 1e-30))
        entry = int(np.argmax((x @ mean.T).ravel() / nr))
    return neighbors, entry


def _exact_sims_gathered(
    met: str,
    q: np.ndarray,
    c: np.ndarray,
    q_nn: np.ndarray,
    c_nn: np.ndarray,
) -> np.ndarray:
    """q (B, d) vs per-row gathered candidates c (B, C, d) -> (B, C)
    similarities in the engine's normalized score space (same formulas
    as ``_knn_candidates``). ``q_nn``/``c_nn`` are precomputed squared
    norms aligned with q / c."""
    dots = np.einsum("bd,bcd->bc", q, c)
    if met == "DOT_PRODUCT":
        return ((1.0 + dots) / 2.0).astype(np.float32)
    if met == "EUCLIDEAN":
        d2 = np.maximum(q_nn[:, None] + c_nn - 2.0 * dots, 0.0)
        return (1.0 / (1.0 + d2)).astype(np.float32)
    qn = np.sqrt(np.maximum(q_nn, 1e-30))
    cn = np.sqrt(np.maximum(c_nn, 1e-30))
    return ((1.0 + dots / (qn[:, None] * cn)) / 2.0).astype(np.float32)


def _exact_sims_block(
    met: str,
    q: np.ndarray,
    c: np.ndarray,
    q_nn: np.ndarray,
    c_nn: np.ndarray,
) -> np.ndarray:
    """q (B, d) vs a SHARED candidate block c (P, d) -> (B, P): the
    seed-scoring twin of :func:`_exact_sims_gathered` (same normalized
    score space, same formulas). One broadcast einsum instead of a
    (B, P, d) per-pair gather — seed candidates are identical for every
    query, so the gathered form would move ~P/ef times the bytes of a
    beam hop for zero extra information.

    Deliberately ``einsum`` and NOT a BLAS ``q @ c.T``: einsum's default
    (non-optimized) path reduces each (b, p) pair over d in a fixed
    order, BIT-IDENTICAL to the gathered hop kernel — so a row scored at
    seed time equals the same row scored at hop time, and the broadcast /
    distributed routes (which chunk queries differently) stay
    bit-for-bit equal. A BLAS GEMM's reduction order depends on the
    batch shape (measured: last-ULP drift -> route-parity test failure)."""
    dots = np.einsum("bd,pd->bp", q, c)
    if met == "DOT_PRODUCT":
        return ((1.0 + dots) / 2.0).astype(np.float32)
    if met == "EUCLIDEAN":
        d2 = np.maximum(q_nn[:, None] + c_nn[None, :] - 2.0 * dots, 0.0)
        return (1.0 / (1.0 + d2)).astype(np.float32)
    qn = np.sqrt(np.maximum(q_nn, 1e-30))
    cn = np.sqrt(np.maximum(c_nn, 1e-30))
    return (
        (1.0 + dots / (qn[:, None] * cn[None, :])) / 2.0
    ).astype(np.float32)


def _pilot_entries(entries: np.ndarray, n_local: int, ef: int) -> np.ndarray:
    """Search-time pilot set: stored entry rows + ordinal-strided rows.

    The hierarchy analog, applied at SEARCH time (ref
    ``GraphIndexBuilder.java:98`` addHierarchy / ``GraphSearcher.java``
    upper-layer descent): HNSW's upper layers are a progressively coarser
    SAMPLE of the corpus that walks the query near its neighborhood
    before the layer-0 beam starts. A strided ordinal sample of the
    partition is the same object (ids are cluster-agnostic), and scoring
    it is ONE (Q, d) x (d, P) GEMM — cheaper than the ~hops x degree
    sequential hop scores it replaces (measured at the 40k-row coarse
    shape: 145 hops -> ~40 with 256 pilots; wall and visited both drop).

    Capped at ``n_local // 16`` so small partitions (standard fine
    layouts) keep their graph-route character instead of degenerating
    into an exhaustive scan — at the cap the seed scores touch <= 6% of
    the partition."""
    n_pil = min(max(4 * ef, 64), max(len(entries), n_local // 16))
    if n_pil <= len(entries):
        return entries
    pil = np.linspace(0, n_local - 1, num=n_pil).astype(np.int64)
    return np.unique(np.concatenate([np.asarray(entries, np.int64), pil]))


# Above this many rows a partition's graph builds incrementally: the
# exact candidate pass is O(n_p^2) GEMM, the beam-insert path is
# ~linear. Measured r9 at degree=16/ef_c=32/d=64: 52k rows exact 63.5 s
# (42.2 s block-threaded) vs incremental 23.8 s — the true crossover
# sits near ~20-30k, not the ~64k first estimated; 32k keeps every
# recall-gated bench shape (<=12.5k-row partitions) on the exact
# builder while skew-tail cells (the 1M layout's 52k hot cell) take the
# linear path.
_INCR_BUILD_THRESHOLD = 32_768


def _build_partition_graph_incremental(
    x: np.ndarray,
    degree: int,
    alpha: float,
    overflow: float,
    ef_c: int,
    met: str,
    seed_n: int = 8192,
    batch: int = 2048,
    n_entries: int = 16,
) -> tuple[list[np.ndarray], np.ndarray]:
    """Batched-insert Vamana build for LARGE partitions — the scale twin
    of :func:`_build_partition_graph` (same diversity rule, same
    backlink/overflow/enforceDegree semantics, same medoid entry).

    The exact builder's candidate pass is O(n_p^2) GEMM; this one is the
    reference's actual build loop (``GraphIndexBuilder.java:436``
    ``addGraphNode``: search the partial graph for the new node's
    candidates, RobustPrune them, insert forward + backlink edges),
    batched over the insert axis so every hop is a vectorized
    multi-query beam step — O(n_p x ef_c x degree x d) total. Nodes in
    the same insert batch do not see each other as candidates (the
    standard concurrent-insert relaxation; the reference's parallel
    build has the same property within its simd lanes' in-flight set —
    backlinks from LATER batches supply the missing edges).

    Entry points: the exact builder stores the single partition medoid —
    right for a homogeneous kmeans cell. A LARGE partition holds many
    cluster fragments, and single-entry best-first search can terminate
    before crossing a low-similarity gap (measured: 12-island corpus,
    single entry -> recall collapses to ~1/islands for the exact builder,
    ~0.74 incremental). This builder therefore seeds every insert beam
    AND the stored graph with ``n_entries`` ordinal-strided rows (ids are
    cluster-agnostic, so the stride is a uniform sample) — the
    single-layer analog of the reference's hierarchy entry levels
    (``GraphIndexBuilder.java:98`` addHierarchy / level sampling
    :562-575): a few well-spread entries replace the upper layers'
    long-range descent. The edges file's per-row ``entry`` flag already
    carries multiple entries; search seeds its beam with all of them.
    """
    n = len(x)
    if n <= max(seed_n, degree + 1):
        nbrs, e = _build_partition_graph(x, degree, alpha, overflow, ef_c, met)
        return nbrs, np.array([e], dtype=np.int64)
    cap = max(degree, int(math.ceil(degree * overflow)))
    # reserve append-only slots for the orphan-reconnection pass (kept
    # OUT of the build-time overflow budget so insert/backlink semantics
    # match the exact builder; only reconnection writes them)
    _recon_extra = 8
    x = np.ascontiguousarray(x, dtype=np.float32)
    nn_all = np.einsum("ij,ij->i", x, x)

    # seed graph: exact build on the first seed_n rows (they arrive in
    # id order — no bias: cluster membership is independent of id)
    nbrs0, _ = _build_partition_graph(
        x[:seed_n], degree, alpha, overflow, ef_c, met
    )
    nbr_id = np.full((n, cap + _recon_extra), -1, dtype=np.int64)
    nbr_sc = np.full((n, cap + _recon_extra), -np.inf, dtype=np.float32)
    cnt = np.zeros(n, dtype=np.int64)
    for i, nb in enumerate(nbrs0):
        t = min(len(nb), cap)
        nbr_id[i, :t] = nb[:t]
        cnt[i] = t
    valid0 = nbr_id[:seed_n] >= 0
    g0 = np.maximum(nbr_id[:seed_n], 0)
    nbr_sc[:seed_n] = np.where(
        valid0,
        _exact_sims_gathered(
            met, x[:seed_n], _take_rows("sc_v", x, g0),
            nn_all[:seed_n], nn_all[g0],
        ),
        np.float32(-np.inf),
    )

    def diverse(idx: np.ndarray, sc: np.ndarray, valid: np.ndarray) -> np.ndarray:
        v = _take_rows("div_v", x, idx)
        return _retain_diverse_batch(_pair_sims(met, v), sc, valid, degree, alpha)

    for b0 in range(seed_n, n, batch):
        b1 = min(b0 + batch, n)
        bsz = b1 - b0
        qx = x[b0:b1]
        q_nn = nn_all[b0:b1]
        # ordinal-strided PILOT spread over everything inserted so far
        # (wider than the n_entries stored in the graph: insert beams pay
        # one block GEMM for per-query entries and save the long medoid
        # descent — the same hierarchy analog the search path uses)
        entries = np.unique(
            np.linspace(0, b0 - 1, num=min(max(4 * ef_c, 64), b0)).astype(
                np.int64
            )
        )
        e_sc = _exact_sims_block(
            met, qx, _take_rows("pil_b", x, entries), q_nn, nn_all[entries]
        )

        def score_fn(aq: np.ndarray, cand: np.ndarray) -> np.ndarray:
            safe = np.maximum(cand, 0)
            return _exact_sims_gathered(
                met, qx[aq], _take_rows("hop_v", x, cand),
                q_nn[aq], nn_all[safe],
            )

        beams = _batch_beam(
            score_fn, nbr_id, entries, bsz, b0, ef_c, seed_sc=e_sc
        )
        valid_b = beams >= 0
        safe_b = np.maximum(beams, 0)
        sc_b = np.where(
            valid_b,
            _exact_sims_gathered(
                met, qx, _take_rows("sc_v", x, beams), q_nn, nn_all[safe_b]
            ),
            np.float32(-np.inf),
        )
        sel = diverse(beams, sc_b, valid_b)
        # forward edges (RobustPruned beam results)
        add = sel.sum(axis=1)
        rows = np.repeat(np.arange(bsz), add)
        cols = np.arange(int(sel.sum())) - np.repeat(np.cumsum(add) - add, add)
        nbr_id[b0 + rows, cols] = beams[sel]
        nbr_sc[b0 + rows, cols] = sc_b[sel]
        cnt[b0:b1] = add

        # backlinks: dst gains an edge to its new neighbor
        bl_dst, bl_src, bl_sc = beams[sel], (b0 + rows), sc_b[sel]
        order = np.argsort(bl_dst, kind="stable")
        bl_dst, bl_src, bl_sc = bl_dst[order], bl_src[order], bl_sc[order]
        uniq, starts, adds = np.unique(
            bl_dst, return_index=True, return_counts=True
        )
        fits = cnt[uniq] + adds <= cap
        fit_dst, take = uniq[fits], adds[fits]
        if len(fit_dst):
            r2 = np.repeat(fit_dst, take)
            off = np.arange(int(take.sum())) - np.repeat(
                np.cumsum(take) - take, take
            )
            flat = np.concatenate(
                [np.arange(s0, s0 + t) for s0, t in zip(starts[fits], take)]
            )
            base = np.repeat(cnt[fit_dst], take)
            nbr_id[r2, base + off] = bl_src[flat]
            nbr_sc[r2, base + off] = bl_sc[flat]
            cnt[fit_dst] += take
        over = uniq[~fits]
        if len(over):
            # over-cap nodes: merge + enforceDegree (diversity re-prune)
            o_starts, o_adds = starts[~fits], adds[~fits]
            wmax = int((cnt[over] + o_adds).max())
            m_id = np.full((len(over), wmax), -1, dtype=np.int64)
            m_sc = np.full((len(over), wmax), -np.inf, dtype=np.float32)
            for gi, (j, s0, a) in enumerate(zip(over, o_starts, o_adds)):
                c0 = cnt[j]
                m_id[gi, :c0] = nbr_id[j, :c0]
                m_sc[gi, :c0] = nbr_sc[j, :c0]
                m_id[gi, c0:c0 + a] = bl_src[s0:s0 + a]
                m_sc[gi, c0:c0 + a] = bl_sc[s0:s0 + a]
            sel2 = diverse(m_id, m_sc, m_id >= 0)
            nbr_id[over] = -1
            nbr_sc[over] = -np.inf
            k2 = sel2.sum(axis=1)
            r3 = np.repeat(over, k2)
            c3 = np.arange(int(sel2.sum())) - np.repeat(np.cumsum(k2) - k2, k2)
            nbr_id[r3, c3] = m_id[sel2]
            nbr_sc[r3, c3] = m_sc[sel2]
            cnt[over] = k2

    # stored entries: the medoid (the exact builder's rule) plus the
    # ordinal-strided spread — search seeds its beam with all of them
    mean = x.mean(axis=0, dtype=np.float64).astype(x.dtype)[None, :]
    if met == "EUCLIDEAN":
        d_ = nn_all - 2.0 * (x @ mean.T).ravel()
        medoid = int(np.argmin(d_))
    elif met == "DOT_PRODUCT":
        medoid = int(np.argmax((x @ mean.T).ravel()))
    else:
        nr = np.sqrt(np.maximum(nn_all, 1e-30))
        medoid = int(np.argmax((x @ mean.T).ravel() / nr))
    spread = np.linspace(0, n - 1, num=min(n_entries, n)).astype(np.int64)
    entries_out = np.unique(np.concatenate([[medoid], spread]))

    # Reconnect orphaned nodes (reference precedent: GraphIndexBuilder's
    # reconnectOrphanedNodes — CHANGELOG.md #335/#359): backlink pruning
    # at hub nodes can drop a node's ONLY in-edge, leaving it
    # unreachable from every entry (measured on a 12-island corpus:
    # ~16% orphans -> recall capped at ~0.73). Each pass BFSes
    # reachability from the entries, then links every orphan from its
    # best REACHABLE forward target — APPEND-ONLY into the reserved
    # reconnection slots, so fixes are monotone (no eviction ping-pong)
    # and the loop converges; an orphan with no reachable target links
    # through its nearest entry instead.
    def _bfs_orphans() -> tuple[np.ndarray, np.ndarray]:
        reach = np.zeros(n, dtype=bool)
        reach[entries_out] = True
        frontier = entries_out
        while len(frontier):
            nxt = nbr_id[frontier].ravel()
            nxt = nxt[nxt >= 0]
            nxt = np.unique(nxt)
            nxt = nxt[~reach[nxt]]
            if not len(nxt):
                break
            reach[nxt] = True
            frontier = nxt
        return reach, np.flatnonzero(~reach)

    width = cap + _recon_extra
    residue = np.empty(0, dtype=np.int64)
    for _ in range(8):
        reach, orphans = _bfs_orphans()
        residue = orphans
        if not len(orphans):
            break
        fixed_any = False
        leftover = []
        for u in orphans:
            m = (nbr_id[u] >= 0) & reach[np.maximum(nbr_id[u], 0)]
            v = -1
            if m.any():
                # best reachable forward target WITH append room
                js = np.argsort(-np.where(m, nbr_sc[u], -np.inf))
                for j in js[: int(m.sum())]:
                    t_ = int(nbr_id[u, j])
                    if cnt[t_] < width:
                        v, s = t_, float(nbr_sc[u, j])
                        break
            if v < 0:
                sims = _exact_sims_gathered(
                    met, x[u:u + 1], x[entries_out][None, :, :],
                    nn_all[u:u + 1], nn_all[entries_out][None, :],
                )[0]
                for j in np.argsort(-sims):
                    t_ = int(entries_out[j])
                    if cnt[t_] < width and t_ != u:
                        v, s = t_, float(sims[j])
                        if cnt[u] < width:  # forward edge for u too
                            nbr_id[u, cnt[u]] = v
                            nbr_sc[u, cnt[u]] = s
                            cnt[u] += 1
                        break
            if v < 0:
                leftover.append(int(u))
                continue
            nbr_id[v, cnt[v]] = u
            nbr_sc[v, cnt[v]] = np.float32(s)
            cnt[v] += 1
            fixed_any = True
        if not fixed_any:
            residue = np.asarray(leftover, dtype=np.int64)
            break
    if len(residue):
        # append slots around the residue are exhausted — promote a
        # bounded few to entries (entries seed every beam, so a flagged
        # orphan is reachable by definition)
        entries_out = np.unique(
            np.concatenate([entries_out, residue[:16]])
        )

    # per-row score-desc order (T3 sorted-neighbor contract)
    order = np.argsort(-nbr_sc, axis=1, kind="stable")
    nbr_id = np.take_along_axis(nbr_id, order, axis=1)
    neighbors = [nbr_id[i][nbr_id[i] >= 0] for i in range(n)]
    return neighbors, entries_out


# ----------------------------------------------------------- build (Spark)
def _graph_dir(index, seg_name: str) -> str:
    return os.path.join(index._segments[seg_name]["dir"], "graph")


def graph_meta(index, seg_name: str) -> dict | None:
    """The segment's graph parameters, or None if no graph was built."""
    p = os.path.join(_graph_dir(index, seg_name), "meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def build_graph(
    index,
    degree: int = 32,
    alpha: float = 1.2,
    overflow: float = 1.2,
    ef_construction: int | None = None,
    segments: list[str] | None = None,
    rebuild: bool = False,
    method: str = "auto",
) -> None:
    """Build per-partition Vamana graphs for the index's segments (M3/M4).

    One ``applyInPandas`` group per coarse partition — embarrassingly
    parallel across executors, no cross-partition edges (probing supplies
    cross-partition reach, exactly as it does for every other route).
    Defaults mirror the reference bench config (degree 32, overflow 1.2,
    alpha 1.2 — yaml-configs/index-parameters/default.yml:6-37;
    GraphIndexBuilder.java:98 ``alpha = dimension <= 3 ? 2.0 : 1.2``).
    Slim (``store_fp32='none'``) segments build from dequantized NVQ
    reconstructions — the highest-resolution stored payload, the same
    contract compaction uses.

    ``method``: ``"exact"`` = O(n_p^2) blocked-GEMM candidate lists;
    ``"incremental"`` = the reference's batched insert loop
    (``GraphIndexBuilder.java:436``), O(n_p x ef_c x degree); ``"auto"``
    (default) picks incremental above ``_INCR_BUILD_THRESHOLD`` rows —
    the deliberately-coarse-layout path (few large partitions for bulk
    traversal)."""
    from jvector_spark.operators.index import _rerank_cols, _rerank_rows

    if method not in ("auto", "exact", "incremental"):
        raise ValueError(f"unknown graph build method {method!r}")
    ef_c = int(ef_construction or 2 * degree)
    manifest = index.manifest
    met = manifest.metric
    slim = index._slim
    names = segments or [s.name for s in manifest.segments]
    for seg_name in names:
        gdir = _graph_dir(index, seg_name)
        if graph_meta(index, seg_name) is not None and not rebuild:
            continue
        cols = ["part_id", "id", *_rerank_cols(slim)]
        b = index.spark.sparkContext.broadcast(
            (degree, alpha, overflow, ef_c, met, index._nvq_codec(slim), method)
        )

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            deg, al, ov, efc, m_, nvq_c, mth = b.value
            part = int(pdf["part_id"].iloc[0])
            pdf = pdf.sort_values("id", kind="stable").reset_index(drop=True)
            x = _rerank_rows(pdf, nvq_c, block=True).astype(np.float32, copy=False)
            if mth == "incremental" or (
                mth == "auto" and len(x) > _INCR_BUILD_THRESHOLD
            ):
                nbrs, entry = _build_partition_graph_incremental(
                    x, deg, al, ov, efc, m_
                )
            else:
                nbrs, entry = _build_partition_graph(x, deg, al, ov, efc, m_)
            ids = pdf["id"].to_numpy(dtype=np.int64)
            # exact builder: one medoid entry; incremental: multi-entry
            # spread (the edges format's per-row flag carries either)
            entry_mask = np.isin(
                np.arange(len(ids)), np.atleast_1d(np.asarray(entry))
            )
            return pd.DataFrame(
                {
                    "part_id": np.full(len(ids), part, dtype=np.int32),
                    "id": ids,
                    "neighbors": [ids[nb] for nb in nbrs],  # GLOBAL ids
                    "entry": entry_mask,
                }
            )

        # r9 (guide §2.4/§2.5): data.parquet is ALREADY laid out one dir
        # per part_id by the build's write — the old groupBy+applyInPandas
        # re-shuffled the full vector payload by a key the storage already
        # has. Instead: one task per partition DIR, each reading its rows
        # pyarrow-direct (zero corpus shuffle, the same access pattern the
        # fused search uses), ordered biggest-first so a skewed hot cell
        # (1M layout: 52k rows vs 779 median) starts at t=0 with the small
        # cells backfilling behind it instead of running alone at the tail.
        ddir = os.path.join(
            index._segments[seg_name]["dir"], "data.parquet"
        )
        part_dirs = [
            (int(nm.split("=", 1)[1]), os.path.join(ddir, nm))
            for nm in os.listdir(ddir)
            if nm.startswith("part_id=")
        ]
        counts = index._part_counts(seg_name)

        # cost-balanced bins, one task each (a dir-per-task variant paid
        # ~1000 task setup/commit overheads and measured SLOWER than the
        # shuffle it replaced): greedy largest-first into ~4 bins/core
        # using the builder's actual asymptotics — n^2 under the exact-
        # method threshold, ~linear above it — so the skewed hot cell
        # lands alone in the heaviest bin, scheduled first.
        import heapq

        def _cost(p: int) -> float:
            c = float(counts[p])
            if c > _INCR_BUILD_THRESHOLD:
                return c * _INCR_BUILD_THRESHOLD
            return c * c

        n_bins = max(
            1,
            min(
                len(part_dirs),
                4 * index.spark.sparkContext.defaultParallelism,
            ),
        )
        heap = [(0.0, i, []) for i in range(n_bins)]
        heapq.heapify(heap)
        for pid, path in sorted(part_dirs, key=lambda t: -_cost(t[0])):
            tot, i, paths = heapq.heappop(heap)
            paths.append(path)
            heapq.heappush(heap, (tot + _cost(pid), i, paths))
        bins = [b[2] for b in sorted(heap, key=lambda b: -b[0]) if b[2]]

        def build_dirs(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            import time as _time

            import pyarrow.parquet as _papq

            _prof = os.environ.get("JVS_GRAPH_TRACE") == "1"
            for pdf_dirs in batches:
                for paths in pdf_dirs["paths"]:
                    for path in paths:
                        t0 = _time.perf_counter()
                        tbl = _papq.read_table(
                            path, columns=[c for c in cols if c != "part_id"]
                        )
                        gp = tbl.to_pandas()
                        gp["part_id"] = int(
                            os.path.basename(path.rstrip("/")).split("=", 1)[1]
                        )
                        t1 = _time.perf_counter()
                        out = build(gp)
                        if _prof:
                            import sys as _sys

                            print(
                                f"[graph-trace] part={gp['part_id'].iloc[0]}"
                                f" rows={len(gp)} read={t1 - t0:.2f}s"
                                f" build={_time.perf_counter() - t1:.2f}s",
                                file=_sys.stderr,
                            )
                        yield out

        rows = index.spark.createDataFrame(
            index.spark.sparkContext.parallelize(
                [(b,) for b in bins], max(len(bins), 1)
            ),
            "paths array<string>",
        )
        (
            rows.mapInPandas(
                build_dirs,
                "part_id int, id long, neighbors array<long>, entry boolean",
            )
            .write.mode("overwrite")
            .partitionBy("part_id")
            .parquet(os.path.join(gdir, "edges.parquet"))
        )
        with open(os.path.join(gdir, "meta.json"), "w") as f:
            json.dump(
                {
                    "degree": degree,
                    "alpha": alpha,
                    "overflow": overflow,
                    "ef_construction": ef_c,
                    "metric": met,
                    "method": method,
                },
                f,
            )


# ---------------------------------------------------------- search (Spark)
def _traverse_scores(
    met: str,
    stage1,
    qsel: np.ndarray,
    q_norms: np.ndarray,
    codes: np.ndarray,
    mags: np.ndarray | None,
    cand: np.ndarray,
    rsq: np.ndarray | None,
    qc_part: np.ndarray | None,
) -> np.ndarray:
    """Approximate similarity of ``cand`` (A, C) local ordinals for the A
    queries (rows of qsel), from the stage-1 codec — the beam's steering
    scores. Same score FORMULAS as ``index._fused_block_topk`` phase 1
    (ranking parity); exactness comes from the shared rerank afterwards."""
    a_n, c_n = cand.shape
    safe = np.maximum(cand, 0)
    if stage1[0] == "bq":
        from jvector_spark.operators.index import _POP8

        _, q_words, bdim = stage1
        xor = np.bitwise_xor(q_words[qsel][:, None, :], codes[safe])
        pop = _POP8[xor.view(np.uint8).reshape(a_n, c_n, -1)].sum(
            axis=2, dtype=np.int64
        )
        return (1.0 - pop / float(bdim)).astype(np.float32)
    luts32 = stage1[1]
    m = luts32.shape[1]
    # reused scratch + per-subspace accumulation: the one-shot fancy
    # gather materialized TWO fresh (A, C, m) intermediates per hop —
    # pure page-fault cost at bulk shapes (see _scratch)
    sel = _scratch("trav_sel", safe.shape + (m,), codes.dtype)
    np.take(codes, safe, axis=0, out=sel)  # (A, C, m)
    partial = _scratch("trav_partial", safe.shape, np.float32)
    partial[:] = 0.0
    qcol = qsel[:, None]
    for i in range(m):
        partial += luts32[qcol, i, sel[:, :, i]]
    qn = q_norms[qsel].astype(np.float32)
    if qc_part is not None:  # residual decomposition (pq_residual)
        full = partial + qc_part[:, None].astype(np.float32)
        r = rsq[safe]
        if met == "EUCLIDEAN":
            d2 = np.maximum((qn * qn)[:, None] + r - 2.0 * full, 0.0)
            return 1.0 / (1.0 + d2)
        if met == "DOT_PRODUCT":
            return (1.0 + full) / 2.0
        denom = np.sqrt(np.maximum(r, 1e-30)) * np.maximum(qn, 1e-30)[:, None]
        return (1.0 + full / denom) / 2.0
    if met == "EUCLIDEAN":
        return 1.0 / (1.0 + partial)
    if met == "DOT_PRODUCT":
        return (1.0 + partial) / 2.0
    return (1.0 + partial / (mags[safe] * np.maximum(qn, 1e-30)[:, None])) / 2.0


def _batch_beam(
    score_fn,
    nbr_mat: np.ndarray,
    entries: np.ndarray,
    n_q: int,
    n_local: int,
    ef: int,
    counters=None,
    expand: int | None = None,
    return_scores: bool = False,
    seed_sc: np.ndarray | None = None,
) -> np.ndarray:
    """Vectorized multi-query best-first beam search (GraphSearcher.java
    beam semantics, batched over the query axis): every hop expands each
    active query's ``expand`` best unexpanded nodes, scores their neighbor
    lists, and keeps the top-``ef`` beam; a query stops when its best
    unexpanded candidate scores under its full beam's worst (the standard
    best-first termination). ``expand`` is DiskANN's beamwidth W — >1
    trades a few percent extra visited rows for W-fold fewer sequential
    hops (the Python-loop constant); defaults to ``max(1, ef // 64)``.

    ``entries`` may exceed ``ef`` (pilot seeding, ``_pilot_entries``):
    each query keeps its own top-``ef`` of the seed scores. ``seed_sc``
    (n_q, len(entries)) lets the caller supply those scores from one
    block GEMM (``_exact_sims_block``) — the seed candidates are shared
    across queries, so the per-(q, c) gathered form wastes bandwidth.
    Pilots that miss the kept beam stay marked visited: they scored
    under ef in-beam rows, so best-first would never expand them.
    Returns (n_q, ef) local ordinals, -1 padded."""
    w = int(expand) if expand else max(1, ef // 64)
    beam_id = np.full((n_q, ef), -1, dtype=np.int64)
    beam_sc = np.full((n_q, ef), -np.inf, dtype=np.float32)
    beam_ex = np.ones((n_q, ef), dtype=bool)  # padding counts as expanded
    # reused scratch: a fresh (n_q, n_local) bool costs seconds of page
    # faults at bulk shapes on the build host; memset on resident pages
    # does not
    visited = _scratch("beam_visited", (n_q, n_local), bool)
    visited[:] = False
    entries = np.asarray(entries, dtype=np.int64)
    if seed_sc is not None or len(entries) > ef:
        sc = (
            seed_sc
            if seed_sc is not None
            else score_fn(np.arange(n_q), np.tile(entries, (n_q, 1)))
        )
        p = len(entries)
        if p > ef:
            top = np.argpartition(-sc, ef - 1, axis=1)[:, :ef]
            beam_id[:] = entries[top]
            beam_sc[:] = np.take_along_axis(sc, top, axis=1)
            beam_ex[:] = False
        else:
            beam_id[:, :p] = entries[None, :]
            beam_sc[:, :p] = sc
            beam_ex[:, :p] = False
        visited[:, entries] = True
    else:
        e = entries[: min(len(entries), ef)]
        seed = np.tile(e, (n_q, 1))
        beam_sc[:, : len(e)] = score_fn(np.arange(n_q), seed)
        beam_id[:, : len(e)] = seed
        beam_ex[:, : len(e)] = False
        visited[:, e] = True
    if counters is not None:  # seed scores are visits too (recall-per-IO)
        counters[0].add(int(n_q * min(len(entries), n_local)))
    max_hops = 8 * ef + 16  # safety rail; best-first converges in ~ef/w hops
    qall = np.arange(n_q)
    deg = nbr_mat.shape[1]
    for _ in range(max_hops):
        cand_sc = np.where(~beam_ex & (beam_id >= 0), beam_sc, -np.inf)
        # top-w unexpanded per query (beam_sc is kept sorted desc by the
        # merge below, so cand_sc's nonzero order is already best-first;
        # argpartition keeps the hop O(ef) instead of a sort)
        if w == 1:
            j = np.argmax(cand_sc, axis=1)[:, None]
        else:
            j = np.argpartition(-cand_sc, min(w, ef - 1), axis=1)[:, :w]
        jsc = np.take_along_axis(cand_sc, j, axis=1)  # (Q, w)
        best = jsc.max(axis=1)
        full = (beam_id >= 0).all(axis=1)
        worst = beam_sc.min(axis=1)
        active = (best > -np.inf) & (~full | (best >= worst))
        if not active.any():
            break
        aq = np.flatnonzero(active)
        ja = j[aq]
        # expand only real candidates (score > -inf) among the w picks
        pick_ok = jsc[aq] > -np.inf
        chosen = np.where(
            pick_ok, np.take_along_axis(beam_id[aq], ja, axis=1), 0
        )
        # mark expanded (fancy-index write-back: beam_ex[aq] is a copy)
        ex = beam_ex[aq]
        np.put_along_axis(ex, ja, True, axis=1)
        beam_ex[aq] = ex
        nb = nbr_mat[chosen].reshape(len(aq), -1)  # (A, w*deg)
        nb = np.where(np.repeat(pick_ok, deg, axis=1), nb, -1)
        ok = nb >= 0
        safe = np.maximum(nb, 0)
        new = ok & ~visited[aq[:, None], safe]
        visited[aq[:, None], safe] |= ok
        # NOTE (w > 1): a node appearing in two picked neighbor lists in
        # the SAME hop enters the merge twice with an identical score —
        # harmless (dedup happens at rerank; a re-expansion finds only
        # visited neighbors) and rarer than the hop savings justify.
        if counters is not None:
            counters[0].add(int(new.sum()))  # traversal-visited rows
        sc = np.where(new, score_fn(aq, nb), np.float32(-np.inf))
        all_id = np.concatenate([beam_id[aq], np.where(new, nb, -1)], axis=1)
        all_sc = np.concatenate([beam_sc[aq], sc], axis=1)
        all_ex = np.concatenate([beam_ex[aq], np.zeros_like(sc, dtype=bool)], axis=1)
        order = np.argsort(-all_sc, axis=1, kind="stable")[:, :ef]
        beam_id[aq] = np.take_along_axis(all_id, order, axis=1)
        beam_sc[aq] = np.take_along_axis(all_sc, order, axis=1)
        beam_ex[aq] = np.take_along_axis(all_ex, order, axis=1)
    masked = np.where(beam_sc > -np.inf, beam_id, -1)
    if return_scores:
        return masked, beam_sc
    return masked


def _decode_partition(
    data_pdf: pd.DataFrame,
    edge_pdf: pd.DataFrame,
    codec,
    need_mags: bool,
    res_m: bool,
):
    """Sort + decode one partition's rows for traversal: returns
    (data_pdf_sorted, ids, nbr_mat, entries, codes, mags, rsq) or None
    when either side is empty. Neighbors hold GLOBAL ids; local ordinals
    resolve via one flattened searchsorted (no per-row Python loop).
    ``codec`` is the stage-1 codec, None under exact steering (stage-1
    codes never touched)."""
    if len(data_pdf) == 0 or len(edge_pdf) == 0:
        return None
    data_pdf = data_pdf.sort_values("id", kind="stable").reset_index(drop=True)
    edge_pdf = edge_pdf.sort_values("id", kind="stable").reset_index(drop=True)
    ids = data_pdf["id"].to_numpy(dtype=np.int64)
    n_local = len(ids)
    nbr_lists = edge_pdf["neighbors"].to_list()
    lens = np.fromiter(
        (len(a) for a in nbr_lists), dtype=np.int64, count=len(nbr_lists)
    )
    deg_max = int(lens.max(initial=0))
    nbr_mat = np.full((n_local, max(deg_max, 1)), -1, dtype=np.int64)
    if len(nbr_lists) != n_local:
        # an out-of-sync edges file would silently degrade traversal to an
        # entry-only beam (near-zero recall) — fail loudly instead (r7
        # ADVICE): this is index corruption, not a search-time condition
        raise ValueError(
            f"graph edges/data row-count mismatch: {len(nbr_lists)} edge "
            f"rows vs {n_local} data rows — the graph is out of sync with "
            "its segment (rebuild with build_graph())"
        )
    if lens.sum():
        flat = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in nbr_lists if len(a)]
        )
        pos = np.searchsorted(ids, np.clip(flat, ids[0], ids[-1]))
        # guard: an edge to an id not in this file resolves to -1
        pos = np.where(ids[pos] == flat, pos, -1)
        rows = np.repeat(np.arange(n_local), lens)
        cols = np.arange(lens.sum()) - np.repeat(np.cumsum(lens) - lens, lens)
        nbr_mat[rows, cols] = pos
    entries = np.flatnonzero(edge_pdf["entry"].to_numpy())
    if len(entries) == 0:
        entries = np.array([0])
    codes = mags = None
    if codec is not None:
        codes = codec.decode_codes(data_pdf["codes"])
        if need_mags:
            mags = codec.row_magnitudes(codes)
    rsq = data_pdf["rsq"].to_numpy(dtype=np.float32) if res_m else None
    return data_pdf, ids, nbr_mat, entries, codes, mags, rsq


def _traverse_rerank(
    part_pack,
    met: str,
    kk: int,
    ef: int,
    bw: int | None,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    q_nrm: np.ndarray,
    s1_sel,
    qc_vec: np.ndarray | None,
    nvq_c,
    tel_acc,
) -> pd.DataFrame:
    """Batched beam traversal + fused exact rerank of ONE partition for
    the GIVEN (already selected) queries. ``s1_sel`` is the codec's
    ``query_stage1`` payload for exactly these queries (aligned with
    ``q_ids``), or None for exact steering; ``qc_vec`` is the per-query
    q.centroid dot for residual decomposition. Shared by the broadcast
    and distributed routes — identical scoring on both."""
    from jvector_spark.operators.index import (
        _fused_block_topk,
        _rerank_rows,
        _stage1_rows,
    )

    data_pdf, ids, nbr_mat, entries, codes, mags, rsq = part_pack
    n_local = len(ids)
    n_q = len(q_ids)

    if s1_sel is None:
        # EXACT steering (steer='exact'): the beam scores hops from the
        # stored fp32 vectors, so beam scores ARE the final exact scores
        # — no second-pass rerank, and within-partition beam recall is
        # graph-limited instead of code-limited (measured d=64/m=8 on a
        # 40k-row coarse partition: PQ-steered bulk recall 0.47 vs 0.92
        # exact-steered at the same ef/wall — stage-1 codes are too
        # coarse to steer LONG traversals across big mixed partitions).
        # At d<=~128 the gathered-vector hop costs the same as the LUT
        # hop (both allocator/bandwidth-bound, ~2.6 s per 2000 queries).
        xm = kernels.as_matrix(data_pdf["vec"], dtype=np.float32)
        xnn = np.einsum("ij,ij->i", xm, xm)
        q32 = q_mat.astype(np.float32, copy=False)
        qnn = np.einsum("ij,ij->i", q32, q32)

        def score_exact(aq: np.ndarray, cand: np.ndarray) -> np.ndarray:
            return _exact_sims_gathered(
                met, q32[aq], _take_rows("trav_x", xm, cand),
                qnn[aq], xnn[np.maximum(cand, 0)],
            )

        qc_chunk = max(1, int((128 << 20) // max(n_local, 1)))
        out = []
        take = min(kk, ef)
        pil = _pilot_entries(entries, n_local, ef)
        for lo in range(0, n_q, qc_chunk):
            hi = min(lo + qc_chunk, n_q)
            sub = np.arange(lo, hi)
            psc = _exact_sims_block(
                met, q32[sub], _take_rows("pil_x", xm, pil),
                qnn[sub], xnn[pil],
            )
            beams, bsc = _batch_beam(
                lambda a, c: score_exact(sub[a], c),
                nbr_mat, pil, hi - lo, n_local, ef,
                counters=tel_acc, expand=bw, return_scores=True,
                seed_sc=psc,
            )
            tid = beams[:, :take]  # beam rows are score-desc
            tsc = bsc[:, :take]
            valid = tid >= 0
            cnts = valid.sum(axis=1)
            out.append(pd.DataFrame({
                "qid": np.repeat(q_ids[sub], cnts),
                "id": ids[tid[valid]],
                "score": tsc[valid].astype(np.float64),
            }))
        return pd.concat(out, ignore_index=True) if out else empty_hits()

    def score_fn(aq: np.ndarray, cand: np.ndarray) -> np.ndarray:
        return _traverse_scores(
            met, s1_sel, aq, q_nrm, codes, mags, cand, rsq,
            qc_vec[aq] if qc_vec is not None else None,
        )

    # chunk the query axis so visited (Qc, n_local) stays bounded
    qc_chunk = max(1, int((128 << 20) // max(n_local, 1)))
    # rerank sub-chunk: the (Qr, uniq) mask/score matrices are dense and
    # uniq grows toward min(n_local, Qr x ef) — on LARGE partitions
    # (coarse layouts) a whole qc_chunk's combined beam covers most of
    # the partition and the matrices blow past worker memory (measured:
    # worker OOM-crash at n_local ~40k, 3.3k queries/chunk). Bound
    # Qr x uniq to ~2^25 f32 cells (128 MB), min 64 queries per pass.
    out = []
    pil = _pilot_entries(entries, n_local, ef)
    rerank_rows = _rerank_rows(data_pdf, nvq_c, block=False)
    for lo in range(0, n_q, qc_chunk):
        hi = min(lo + qc_chunk, n_q)
        sub = np.arange(lo, hi)
        beams = _batch_beam(
            lambda a, c: score_fn(sub[a], c),
            nbr_mat, pil, hi - lo, n_local, ef,
            counters=tel_acc, expand=bw,
        )
        r_chunk = max(64, int((1 << 25) // max(min(n_local, (hi - lo) * ef), 1)))
        for r0 in range(lo, hi, r_chunk):
            r1 = min(r0 + r_chunk, hi)
            rsub = np.arange(r0, r1)
            rbeams = beams[r0 - lo: r1 - lo]
            uniq = np.unique(rbeams[rbeams >= 0])
            if len(uniq) == 0:
                continue
            # membership mask: each query reranks only ITS beam
            mask = np.zeros((r1 - r0, len(uniq)), dtype=bool)
            for qi in range(r1 - r0):
                bm = rbeams[qi][rbeams[qi] >= 0]
                mask[qi, np.searchsorted(uniq, bm)] = True
            oq, oi, osc = _fused_block_topk(
                met, kk, ef, q_ids[rsub], q_mat[rsub],
                _stage1_rows(s1_sel, rsub), q_nrm[rsub], ids[uniq],
                codes[uniq], lambda idx: rerank_rows(uniq[idx]),
                mask=mask,
                counters=tel_acc,
                residual=(
                    (qc_vec[rsub], rsq[uniq]) if qc_vec is not None else None
                ),
                strict_mask=True,  # results come ONLY from this query's beam
            )
            out.append(pd.DataFrame({"qid": oq, "id": oi, "score": osc}))
    return pd.concat(out, ignore_index=True) if out else empty_hits()


def graph_search(
    index,
    queries_df: DataFrame,
    k: int,
    n_probe: int = 8,
    ef_search: int | None = None,
    overquery: float = 4.0,
    query_id_col: str = "qid",
    query_vec_col: str = "vec",
    probe_ratio: float | None = None,
    telemetry=None,
    beam_width: int | None = None,
    strategy: str = "auto",
    m_hint: int | None = None,
    steer: str = "pq",
) -> DataFrame:
    """Graph-traversal ANN over the index's per-partition Vamana graphs.

    Two physical strategies, same scoring (the shared traversal/rerank
    core runs on both — fp32-exact or dequantized-NVQ reported scores):

    - ``broadcast`` (point-query batches, <= BROADCAST_QUERY_CAP rows):
      queries are collected + broadcast with driver-precomputed stage-1
      payloads; the task list is the probed part_ids and each task
      pyarrow-reads ITS partition's data/edges dirs directly — ZERO
      corpus shuffle.
    - ``distributed`` (bulk / corpus-as-queries): NO driver collect —
      probe assignment runs as a map-only pass over the query DataFrame
      (the same ``_assign_probes`` the fused tile route uses), query
      replicas shuffle to their probed part_ids (Q x n_probe rows — the
      ONLY exchange), and each (partition, query-group) task direct-reads
      its partition and runs the same traversal core, building per-chunk
      ADC LUTs in-task. Compare the fused TILE route, which re-shuffles
      corpus code blocks once per query block: the graph bulk route moves
      no corpus bytes at all, so its exchange cost is independent of
      corpus size. Measured honestly (1M x 64-d, 2000-row partitions,
      local[32] loopback): the tile route's pure GEMMs win THIS shape
      (~110-390 s vs 1153 s) — per-query traversal only pays off in bulk
      when partitions are large and/or corpus blocks would cross a real
      network; point-query batches and recall-per-IO are where the graph
      route wins today (see the 1M probe numbers). The 4M-replica
      exchange also wants a driver heap sized to the query side
      (JVS_DRIVER_MEMORY=48g ran 1M clean; 16g crashed workers —
      mitigated r8: only top-k rows per partition are emitted when no
      tombstones exist, 4x fewer rows through the final window at
      default overquery, provably identical results).
    - ``auto``: broadcast at or below the cap; above it, route on
      partition-size vs beam-visit arithmetic (``_bulk_traversal_pays``):
      distributed traversal when partitions dwarf the beam's visit
      estimate, else the FUSED TILE SCAN (``IVFIndex.search`` with a
      matched rerank pool, overquery = ef/k) — same exact/NVQ rerank
      kernels and score space, recall >= the beam's (it scans whole
      probed partitions instead of approximating within them), and
      3-10x faster at the small-partition bulk shape (r7 measurement).
      Pass an explicit strategy to force the traversal mechanism.

    Tombstoned rows are traversed but filtered from results (two-phase
    delete semantics); ``compact()`` removes them AND rebuilds the merged
    segment's graph when every merged segment had one (append still
    creates graph-less segments — cover them with :func:`build_graph`).
    Predicates / accept lists are not supported on the traversal route —
    use ``IVFIndex.search(predicate=..., accept_ids=...)``.

    ``steer`` picks the beam's stage-1 scorer: ``"pq"`` (default — the
    reference's compressed-first-pass search) or ``"exact"`` (stored
    fp32 vectors score the hops AND the results, no second pass;
    requires a non-slim index). Exact steering is the COARSE-layout bulk
    path: on large mixed partitions the m-byte codes are too coarse to
    steer long traversals (measured zipf-1.5, 8x~12k partitions:
    PQ-steered bulk recall 0.47 vs 0.92 within-partition exact-steered
    at the same ef), and at d<=~128 the exact hop costs the same as the
    LUT hop.

    ``ef_search`` defaults to ``max(2k, overquery*k)`` (the beam width /
    per-partition candidate pool — GraphSearcher's rerankK analog).
    ``beam_width`` is DiskANN's W: nodes expanded per hop; >1 cuts the
    sequential hop count W-fold for a small recall give-back (measured
    d=1024/ef640: wall 17.9 -> 9.9 s, recall 0.789 -> 0.754 at W=20).
    Default ``max(1, ef_search // 64)``."""
    from jvector_spark.operators.exact import query_side_is_big
    from jvector_spark.operators.index import _merge_topk, _rerank_cols

    manifest = index.manifest
    met = manifest.metric
    missing = [
        s.name for s in manifest.segments if graph_meta(index, s.name) is None
    ]
    if missing:
        raise ValueError(
            f"segments {missing} have no graph — run build_graph(index) "
            "(append() creates graph-less segments by design)"
        )
    if probe_ratio is not None and probe_ratio < 1:
        raise ValueError(f"probe_ratio must be >= 1 (got {probe_ratio})")
    if ef_search is not None and ef_search < k:
        # a beam narrower than k would silently under-fill every
        # partition's contribution (k_ret = min(ef, ...)) — fail loudly,
        # mirroring the probe_ratio validation (r7 ADVICE)
        raise ValueError(f"ef_search ({ef_search}) must be >= k ({k})")
    ef = int(ef_search or max(2 * k, round(overquery * k)))
    rerank_k = max(k, int(round(overquery * k)))
    k_ret = min(ef, max(k, rerank_k))  # rerank pool per partition
    use_nvq = manifest.rerank == "nvq" or index._slim
    if steer not in ("pq", "exact"):
        raise ValueError(f"unknown steer {steer!r} (use 'pq' or 'exact')")
    if steer == "exact" and use_nvq:
        raise ValueError(
            "steer='exact' needs stored fp32 vectors — this index is "
            "slim/NVQ-reranked (store_fp32='none' or rerank='nvq'); "
            "use the default PQ steering"
        )
    if strategy == "auto":
        if not query_side_is_big(queries_df, m_hint):
            strategy = "broadcast"
        elif _bulk_traversal_pays(index, ef):
            strategy = "distributed"
        else:
            # Bulk queries over SMALL partitions: the beam would visit a
            # large fraction of each partition anyway, and the fused tile
            # scan's GEMMs beat per-query traversal by 3-10x at that shape
            # (measured r7: 1M x 64, 2000-row partitions, ef40 — 1153 s
            # traversal vs 110-390 s tile). Route to the fused scan with a
            # matched candidate pool (rerank_k = ef); it reranks through
            # the SAME exact/NVQ kernels, so scores live in the same
            # space and recall is >= the beam's (it scans whole probed
            # partitions instead of approximating within them). r7
            # VERDICT item 3: auto must not hand a user the 10x penalty.
            # The matched pool is the caller's RERANK budget (overquery*k),
            # not the beam width ef — ef is a traversal concept (candidate
            # frontier), and mapping from it doubled the fused rerank pool
            # at default knobs (r8: auto 266.5 s vs direct fused 238.0 s
            # at the 1M bench shape).
            return index.search(
                queries_df, k, n_probe=n_probe,
                overquery=max(overquery, rerank_k / max(k, 1)),
                query_id_col=query_id_col, query_vec_col=query_vec_col,
                probe_ratio=probe_ratio, m_hint=m_hint, telemetry=telemetry,
            )
    tel_acc = telemetry.counters() if telemetry is not None else None
    # hive part_id lives in the dir name
    data_cols = ["id", "codes", *_rerank_cols(use_nvq)]

    t = index.tombstones()
    # Per-partition EMITTED rows: the global top-k over the union of
    # per-partition results is provably contained in each partition's own
    # top-k (a row below its partition's k-th best is beaten by >= k rows
    # from that partition alone), so emitting k per partition is
    # bit-identical to emitting the whole rerank pool — the pool (k_ret)
    # only needs to survive as emitted rows when the tombstone filter
    # below can remove winners afterwards. At default overquery this cuts
    # the final window's shuffle 4x (the r7 16 GB-driver pressure point
    # on the 1M corpus-as-queries shape).
    emit_k = k_ret if t is not None else min(k, k_ret)

    if strategy == "distributed":
        parts = _graph_search_distributed(
            index, queries_df, met, emit_k, ef, n_probe,
            query_id_col, query_vec_col, probe_ratio, beam_width,
            use_nvq, data_cols, tel_acc, steer_exact=steer == "exact",
        )
    elif strategy == "broadcast":
        parts = _graph_search_broadcast(
            index, queries_df, met, emit_k, ef, n_probe,
            query_id_col, query_vec_col, probe_ratio, beam_width,
            use_nvq, data_cols, tel_acc, steer_exact=steer == "exact",
        )
    else:
        raise ValueError(f"unknown search strategy {strategy!r}")
    if not parts:
        return index.spark.createDataFrame([], "qid long, id long, score double")
    # tombstoned rows are traversed but filtered (two-phase delete, F2)
    return _merge_topk(parts, k, manifest.spill, tombstones=t)


def _bulk_traversal_pays(index, ef: int) -> bool:
    """Route arithmetic for bulk (over-cap) graph searches: traversal wins
    only when the beam visits a SMALL fraction of an average partition.

    Estimate per-query visited rows as ``ef x mean graph degree`` (each
    beam slot expands up to ``degree`` neighbors) and compare with the
    rows-weighted mean stored partition size (manifest arithmetic — no
    Spark job; r8 manifests record it at build, older ones fall back to
    the plain average).
    Calibration point (r7, 1M x 64, 2000-row partitions, ef40 x deg32 ->
    visited est 1280): the fused tile route won 3-10x even though the
    partition was only ~1.6x the visit estimate, because the tile GEMMs
    amortize where per-query beams cannot; traversal needs partitions
    an order of magnitude past the estimate before its asymptotic
    O(visited) beats the scan's O(partition). Threshold: partitions must
    exceed 16x the visit estimate. Hot-skew corpora (zipf partitions at
    tens-of-% of the corpus) and real-network shapes clear it; uniform
    small-partition layouts route to the tile scan."""
    rows = 0
    sized = 0.0
    degs = []
    for seg in index.manifest.segments:
        seg_rows = seg.n_rows * max(1, index.manifest.spill)
        rows += seg_rows
        # rows-weighted mean partition size when the manifest records it
        # (r8 builds): on skewed layouts the PLAIN average hides hot
        # cells (zipf-1.5: avg 2k rows, hottest ~380k — and most ROWS,
        # hence most per-row work, live in the hot cells)
        w = seg.wmean_part_rows if getattr(seg, "wmean_part_rows", None) else (
            seg_rows / max(1, seg.n_partitions)
        )
        sized += seg_rows * w
        meta = graph_meta(index, seg.name)
        if meta is not None:
            degs.append(meta["degree"])
    part_rows = sized / max(1, rows)
    visited_est = ef * (sum(degs) / max(1, len(degs)) if degs else 32)
    return part_rows > 16 * visited_est


def _seg_dirs(index, seg_name: str, data_cols: list[str], res_mode: bool) -> tuple:
    """(data dir, edges dir, data columns to read — plus the residual
    ``rsq`` column in residual mode) for ``_read_partition``."""
    info = index._segments[seg_name]
    return (
        os.path.join(info["dir"], "data.parquet"),
        os.path.join(_graph_dir(index, seg_name), "edges.parquet"),
        tuple(data_cols) + (("rsq",) if res_mode else ()),
    )


def _read_partition(dirs: tuple, part: int):
    import pyarrow.parquet as papq

    data_dir, graph_dir, dcols = dirs
    dpath = os.path.join(data_dir, f"part_id={int(part)}")
    epath = os.path.join(graph_dir, f"part_id={int(part)}")
    if not (os.path.exists(dpath) and os.path.exists(epath)):
        return None, None
    return (
        papq.read_table(dpath, columns=list(dcols)).to_pandas(),
        papq.read_table(epath, columns=["id", "neighbors", "entry"]).to_pandas(),
    )


def _graph_search_broadcast(
    index, queries_df, met, k_ret, ef, n_probe,
    query_id_col, query_vec_col, probe_ratio, beam_width,
    use_nvq, data_cols, tel_acc, steer_exact=False,
) -> list[DataFrame]:
    from jvector_spark.operators.index import _probe_plan, _stage1_rows

    manifest = index.manifest
    qids, qmat = collect_point_query_batch(
        queries_df, query_id_col, query_vec_col, "graph_search"
    )
    qnorms = np.linalg.norm(qmat, axis=1)
    parts_out = []
    for seg in manifest.segments:
        info = index._segments[seg.name]
        _, _, p2q = _probe_plan(info, qmat, n_probe, probe_ratio)
        probed = sorted(p2q)
        if not probed:
            continue
        # exact steering never touches the stage-1 codes
        codec = None if steer_exact else info["pq"]
        res_mode = bool(info.get("residual")) and not steer_exact
        stage1 = (
            codec.query_stage1(qmat, met, residual=res_mode)
            if codec is not None
            else None
        )
        qc_all = qmat @ info["centroids"].T if res_mode else None
        b = index.spark.sparkContext.broadcast(
            (codec, stage1, qids, qmat, qnorms, met, k_ret, ef, p2q,
             index._nvq_codec(use_nvq), qc_all, res_mode, beam_width)
        )
        dirs = _seg_dirs(index, seg.name, data_cols, res_mode)

        # factory binds THIS segment's broadcast — the returned scan is
        # consumed lazily, and a free `b` in a loop-shared scope would
        # resolve to the LAST segment's broadcast for every segment.
        # ZERO-SHUFFLE scan: the task list is the probed part_ids (a tiny
        # driver-built table); each task pyarrow-reads ITS partition's
        # data/edges dirs directly — cogrouping data with edges was
        # measured 5x slower at 100k because groupBy(part_id) re-shuffles
        # the probed corpus bytes per query batch, and at 100 TB that
        # shuffle IS the query cost. Direct dir reads move index bytes
        # exactly once (the DiskANN contract: task = partition).
        def _make_scan(b, tel_acc, dirs):
            def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                (cdc, s1, q_ids, q_mat, q_nrm, m_, kk, ef_, p2q_, nvq_c, qc_a,
                 res_m, bw) = b.value
                for pdf in batches:
                    for p in pdf["part_id"].tolist():
                        q_idx = p2q_.get(int(p))
                        if not q_idx:
                            continue
                        data_pdf, edge_pdf = _read_partition(dirs, int(p))
                        if data_pdf is None:
                            continue
                        pack = _decode_partition(
                            data_pdf, edge_pdf, cdc,
                            m_ == "COSINE" and not res_m, res_m,
                        )
                        if pack is None:
                            continue
                        qsel = np.asarray(q_idx)
                        out = _traverse_rerank(
                            pack, m_, kk, ef_, bw,
                            q_ids[qsel], q_mat[qsel], q_nrm[qsel],
                            _stage1_rows(s1, qsel) if s1 is not None else None,
                            qc_a[qsel, int(p)] if qc_a is not None else None,
                            nvq_c, tel_acc,
                        )
                        if len(out):
                            yield out

            return scan

        parts_df = index.spark.createDataFrame(
            [(int(p),) for p in probed], "part_id int"
        ).repartition(min(len(probed), 4096))
        parts_out.append(
            parts_df.mapInPandas(
                _make_scan(b, tel_acc, dirs),
                schema="qid long, id long, score double",
            )
        )
    return parts_out


def _graph_search_distributed(
    index, queries_df, met, k_ret, ef, n_probe,
    query_id_col, query_vec_col, probe_ratio, beam_width,
    use_nvq, data_cols, tel_acc, steer_exact=False,
) -> list[DataFrame]:
    """Bulk graph route: query replicas shuffle to their probed
    partitions (the ONLY exchange — Q x n_probe rows); each (partition,
    query-group) task direct-reads its partition and runs the shared
    traversal core, building stage-1 payloads per query chunk in-task.
    Corpus bytes NEVER shuffle (vs the fused tile route's per-query-block
    corpus replication)."""
    manifest = index.manifest
    parts_out = []
    for seg in manifest.segments:
        info = index._segments[seg.name]
        # exact steering: stage-1 codes unused — no LUTs, no residual math
        codec = None if steer_exact else info["pq"]
        res_mode = bool(info.get("residual")) and not steer_exact
        assigned = index._assign_probes(
            queries_df, info, n_probe, query_id_col, query_vec_col,
            metric=met, probe_ratio=probe_ratio,
        )
        # COARSE layouts put the whole query load on a handful of
        # (partition) groups — far fewer tasks than cores (measured:
        # 6 tasks on 32 cores at n_partitions=8). Salt the group key by
        # query hash so every partition's queries spread across enough
        # tasks to fill the cluster; each salted group re-reads its
        # partition (tens of MB, trivial next to the traversal) and the
        # union of per-group top-k sets still contains the global top-k
        # per (query, partition), so results are identical.
        par = index.spark.sparkContext.defaultParallelism
        group_salt = max(
            1, int(math.ceil(2.0 * par / max(manifest.n_partitions, 1)))
        )
        if group_salt > 1:
            assigned = assigned.withColumn(
                "_gs", F.pmod(F.xxhash64(F.col("qid")), F.lit(group_salt))
            )
        cents = info["centroids"] if res_mode else None
        b = index.spark.sparkContext.broadcast(
            (codec, met, k_ret, ef, beam_width, index._nvq_codec(use_nvq),
             res_mode, cents)
        )
        dirs = _seg_dirs(index, seg.name, data_cols, res_mode)

        def _make_bulk(b, tel_acc, dirs):
            def bulk(key, qpdf: pd.DataFrame) -> pd.DataFrame:
                cdc, m_, kk, ef_, bw, nvq_c, res_m, cents_ = b.value
                part = int(key[0])
                data_pdf, edge_pdf = _read_partition(dirs, part)
                if data_pdf is None or len(qpdf) == 0:
                    return empty_hits()
                pack = _decode_partition(
                    data_pdf, edge_pdf, cdc, m_ == "COSINE" and not res_m, res_m
                )
                if pack is None:
                    return empty_hits()
                q_ids = qpdf["qid"].to_numpy(dtype=np.int64)
                qmat = kernels.as_matrix(qpdf["vec"])
                qnrm = np.linalg.norm(qmat, axis=1)
                qc_vec = (qmat @ cents_[part]) if res_m else None
                # outer chunk bounds the per-chunk LUT footprint
                # (Qc x m x 256 f32); the core chunks again on the
                # visited bitmap
                out = []
                step = 8192
                for lo in range(0, len(q_ids), step):
                    hi = min(lo + step, len(q_ids))
                    qm = qmat[lo:hi]
                    r = _traverse_rerank(
                        pack, m_, kk, ef_, bw,
                        q_ids[lo:hi], qm, qnrm[lo:hi],
                        (
                            cdc.query_stage1(qm, m_, residual=res_m)
                            if cdc is not None
                            else None
                        ),
                        qc_vec[lo:hi] if qc_vec is not None else None,
                        nvq_c, tel_acc,
                    )
                    if len(r):
                        out.append(r)
                return (
                    pd.concat(out, ignore_index=True) if out else empty_hits()
                )

            return bulk

        group_cols = ["part_id"] + (["_gs"] if group_salt > 1 else [])
        parts_out.append(
            assigned.groupby(*group_cols).applyInPandas(
                _make_bulk(b, tel_acc, dirs),
                schema="qid long, id long, score double",
            )
        )
    return parts_out
