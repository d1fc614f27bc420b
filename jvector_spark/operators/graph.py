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

Search (``GraphSearcher.java:222-507`` beam semantics, batched): each
query probes its ``n_probe`` nearest centroids exactly like IVF search
(the hierarchical-descent analog), then ONE vectorized multi-query
best-first beam search walks all of a task's probed partitions at once,
as a disjoint-union graph — ADC/hamming approximate scores steer the
traversal (the reference's compressed-first-pass search), and the
surviving beam reranks through the same fused exact-scoring kernel every
other route uses, so reported scores carry identical semantics
(fp32-exact or dequantized-NVQ). Corpus bytes never move: a task reads
its partitions' data/edges dirs directly. The batch size picks one of
two plans, by the rule of every point-query-batch operator (one
``take(BROADCAST_QUERY_CAP + 1)``): a point batch runs the IVF broadcast
route's one Spark stage (``IVFIndex._probe_stage``; query chunks, each
task walks its chunk's probes and ranks its own qids), and a larger one
shuffles query replicas to their probed partitions on the bulk probe
exchange that distributed IVF search shares (``IVFIndex._probe_exchange``)
and merges the results by qid (``_traverse_probed_partitions`` +
``_merge_topk``).
Both return the same rows.
Tombstoned rows are traversed but filtered from RESULTS (the reference's
two-phase delete: deleted nodes keep routing until cleanup,
GraphIndexBuilder.java markDeleted -> removeDeletedNodes).

Scale shape: the searcher holds one wave of partitions' (codes +
adjacency) resident per task — bounded by the wave budgets (query rows,
and query rows x union rows), or by one partition when that partition
alone fills a wave — and visits ``O(ef x degree)`` rows per
(query, partition) independent of partition size: the graph route is the
low-latency point-query path where even fine-cell masks read too much.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jvector_spark.functions import kernels
from jvector_spark.operators.exact import empty_ranked, route_query_batch

__all__ = ["build_graph", "graph_search"]

_ALPHA_STEP = 0.2  # VamanaDiversityProvider.java:78 (currentAlpha += 0.2f)

# Per-(role, dtype, thread) reused scratch for the numpy hot loops —
# shared with kernels.scratch (see its docstring for the r9 allocator
# measurements).
_scratch = kernels.scratch


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

    for lo in range(0, n, block):
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

        for lo in range(0, len(idx), diversity_block):
            hi = min(lo + diversity_block, len(idx))
            v = _take_rows("prune_v", x, idx[lo:hi])
            sel[lo:hi] = _retain_diverse_batch(
                _pair_sims(met, v), sc[lo:hi], valid[lo:hi], degree, alpha
            )
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
    seed time equals the same row scored at hop time, and a query's rows
    do not depend on which queries share its group or chunk (that
    follows the query frame's partitioning). A BLAS GEMM's reduction
    order depends on the batch shape (measured: last-ULP drift ->
    route-parity test failure)."""
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
# vs incremental 23.8 s — the true crossover
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


def _write_meta(gdir: str, meta: dict) -> None:
    """Replace ``gdir/meta.json`` atomically: the dict goes to a temp file
    in the same directory, then ``os.replace`` swaps it in, so
    ``graph_meta`` reads the old meta or the new one, never a torn
    write."""
    fd, tmp = tempfile.mkstemp(dir=gdir, prefix="meta.", suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(gdir, "meta.json"))
    except BaseException:
        os.unlink(tmp)
        raise


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
            import pyarrow.parquet as _papq

            for pdf_dirs in batches:
                for paths in pdf_dirs["paths"]:
                    for path in paths:
                        tbl = _papq.read_table(
                            path, columns=[c for c in cols if c != "part_id"]
                        )
                        gp = tbl.to_pandas()
                        gp["part_id"] = int(
                            os.path.basename(path.rstrip("/")).split("=", 1)[1]
                        )
                        yield build(gp)

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
        _write_meta(
            gdir,
            {
                "degree": degree,
                "alpha": alpha,
                "overflow": overflow,
                "ef_construction": ef_c,
                "metric": met,
                "method": method,
            },
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
    seed_sc: np.ndarray | None = None,
) -> np.ndarray:
    """Vectorized multi-query best-first beam search (GraphSearcher.java
    beam semantics, batched over the query axis): every hop expands each
    active query's W = ``max(1, ef // 64)`` best unexpanded nodes, scores
    their neighbor lists, and keeps the top-``ef`` beam; a query stops
    when its best unexpanded candidate scores under its full beam's worst
    (the standard best-first termination). W is DiskANN's beamwidth: >1
    trades a few percent extra visited rows for W-fold fewer sequential
    hops (the Python-loop constant).

    ``entries`` may exceed ``ef`` (pilot seeding, ``_pilot_entries``):
    each query keeps its own top-``ef`` of the seed scores. ``seed_sc``
    (n_q, len(entries)) lets the caller supply those scores from one
    block GEMM (``_exact_sims_block``) — the seed candidates are shared
    across queries, so the per-(q, c) gathered form wastes bandwidth.
    Pilots that miss the kept beam stay marked visited: they scored
    under ef in-beam rows, so best-first would never expand them.
    Returns (n_q, ef) local ordinals, -1 padded.

    This is ``_seed_rows`` + ``_walk`` over one graph. Graph search does
    not call it per partition: a traversal task seeds the rows of every
    probed partition it holds into one disjoint-union graph and runs ONE
    ``_walk`` (``_walk_union``). Each hop is a Python step with a fixed
    cost, and a point batch's groups hold 1-3 queries each, so one hop
    loop per group would pay that constant ~100 hops x every group of
    the task; a query's beam only ever reaches rows of its own partition, so
    the union walk returns the same beams."""
    state = _beam_state(n_q, n_local, ef)
    _seed_rows(
        score_fn, state, 0, n_q, entries, n_local, ef, counters, seed_sc
    )
    return _walk(score_fn, nbr_mat, state, ef, counters)


def _beam_state(n_q: int, n_cols: int, ef: int) -> tuple:
    """Empty beams for ``n_q`` query rows over an ``n_cols``-row graph:
    (beam ids, beam scores, expanded flags, visited bitmap)."""
    beam_id = np.full((n_q, ef), -1, dtype=np.int64)
    beam_sc = np.full((n_q, ef), -np.inf, dtype=np.float32)
    beam_ex = np.ones((n_q, ef), dtype=bool)  # padding counts as expanded
    # reused scratch: a fresh (n_q, n_local) bool costs seconds of page
    # faults at bulk shapes on the build host; memset on resident pages
    # does not
    visited = _scratch("beam_visited", (n_q, n_cols), bool)
    visited[:] = False
    return beam_id, beam_sc, beam_ex, visited


def _seed_rows(
    score_fn,
    state: tuple,
    lo: int,
    hi: int,
    entries: np.ndarray,
    n_local: int,
    ef: int,
    counters=None,
    seed_sc: np.ndarray | None = None,
) -> None:
    """Seed beam rows ``lo:hi`` of ``state`` from ``entries`` (ordinals of
    the walked graph, so offset by the partition's first row when that
    graph is a union; ``n_local`` is the partition's own row count).
    ``score_fn`` is called with those row numbers; ``seed_sc`` holds the
    rows' seed scores when the caller has them (see ``_batch_beam``)."""
    beam_id, beam_sc, beam_ex, visited = state
    n_q = hi - lo
    rows = np.arange(lo, hi)
    entries = np.asarray(entries, dtype=np.int64)
    if seed_sc is not None or len(entries) > ef:
        sc = (
            seed_sc
            if seed_sc is not None
            else score_fn(rows, np.tile(entries, (n_q, 1)))
        )
        p = len(entries)
        if p > ef:
            top = np.argpartition(-sc, ef - 1, axis=1)[:, :ef]
            beam_id[lo:hi] = entries[top]
            beam_sc[lo:hi] = np.take_along_axis(sc, top, axis=1)
            beam_ex[lo:hi] = False
        else:
            beam_id[lo:hi, :p] = entries[None, :]
            beam_sc[lo:hi, :p] = sc
            beam_ex[lo:hi, :p] = False
        visited[lo:hi, entries] = True
    else:
        e = entries[: min(len(entries), ef)]
        seed = np.tile(e, (n_q, 1))
        beam_sc[lo:hi, : len(e)] = score_fn(rows, seed)
        beam_id[lo:hi, : len(e)] = seed
        beam_ex[lo:hi, : len(e)] = False
        visited[lo:hi, e] = True
    if counters is not None:  # seed scores are visits too (recall-per-IO)
        counters[0].add(int(n_q * min(len(entries), n_local)))


def _walk(score_fn, nbr_mat: np.ndarray, state: tuple, ef: int, counters=None):
    """The best-first hop loop over seeded beams (see ``_batch_beam``);
    returns (n_q, ef) ordinals of ``nbr_mat``'s graph, -1 padded."""
    beam_id, beam_sc, beam_ex, visited = state
    w = max(1, ef // 64)
    max_hops = 8 * ef + 16  # safety rail; best-first converges in ~ef/w hops
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
    return np.where(beam_sc > -np.inf, beam_id, -1)


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
    ``codec`` is the stage-1 codec."""
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
    codes = codec.decode_codes(data_pdf["codes"])
    mags = codec.row_magnitudes(codes) if need_mags else None
    rsq = data_pdf["rsq"].to_numpy(dtype=np.float32) if res_m else None
    return data_pdf, ids, nbr_mat, entries, codes, mags, rsq


# Traversal wave budgets: a wave holds at most this many query rows, which
# bounds the stage-1 LUT footprint (rows x m x 256 f32) ...
_WAVE_ROWS = 8192
# ... and at most this many visited-bitmap cells, query rows x union rows.
_WAVE_CELLS = 128 << 20


class _WalkRows(NamedTuple):
    """One partition's query rows in a traversal wave: ``pack`` is its
    ``_decode_partition`` output, ``s1`` the codec's ``query_stage1``
    payload for exactly these queries and ``qc`` the per-query q.centroid
    dot (residual decomposition)."""

    pack: tuple
    q_ids: np.ndarray
    q_mat: np.ndarray
    q_nrm: np.ndarray
    s1: tuple
    qc: np.ndarray | None


def _walk_union(
    wave: list[_WalkRows], met: str, ef: int, tel_acc
) -> list[np.ndarray]:
    """Beam-walk every partition of ``wave`` as ONE disjoint-union graph:
    codes, magnitudes and neighbor lists are concatenated with each
    partition's ordinals offset by its first union row (-1 stays -1), each
    partition's query rows are seeded from its own pilots
    (``_pilot_entries``), and one ``_walk`` runs the hops for all of them.
    A beam never leaves its own
    partition's rows, so each beam equals that partition's own
    ``_batch_beam``, and the visited counts sum to the same totals.
    Returns each partition's beams in its local ordinals."""
    n_loc = [len(w.pack[1]) for w in wave]
    offs = np.cumsum([0] + n_loc)
    rows = np.cumsum([0] + [len(w.q_ids) for w in wave])
    first = wave[0]
    codes = np.concatenate([w.pack[4] for w in wave])
    mags = None if first.pack[5] is None else np.concatenate(
        [w.pack[5] for w in wave]
    )
    rsq = None if first.pack[6] is None else np.concatenate(
        [w.pack[6] for w in wave]
    )
    deg = max(w.pack[2].shape[1] for w in wave)
    nbr_mat = np.full((int(offs[-1]), deg), -1, dtype=np.int64)
    for w, off, n in zip(wave, offs, n_loc):
        nb = w.pack[2]
        nbr_mat[off: off + n, : nb.shape[1]] = np.where(nb >= 0, nb + off, -1)
    kind, _, aux = first.s1
    s1 = (kind, np.concatenate([w.s1[1] for w in wave]), aux)
    q_nrm = np.concatenate([w.q_nrm for w in wave])
    qc = None if first.qc is None else np.concatenate([w.qc for w in wave])

    def score_fn(aq: np.ndarray, cand: np.ndarray) -> np.ndarray:
        return _traverse_scores(
            met, s1, aq, q_nrm, codes, mags, cand, rsq,
            qc[aq] if qc is not None else None,
        )

    state = _beam_state(int(rows[-1]), int(offs[-1]), ef)
    for i, w in enumerate(wave):
        _seed_rows(
            score_fn, state, rows[i], rows[i + 1],
            _pilot_entries(w.pack[3], n_loc[i], ef) + offs[i], n_loc[i], ef,
            tel_acc,
        )
    beams = _walk(score_fn, nbr_mat, state, ef, tel_acc)
    return [
        np.where(b >= 0, b - off, -1)
        for b, off in zip(np.split(beams, rows[1:-1]), offs)
    ]


def _rerank_beams(
    w: _WalkRows, beams: np.ndarray, met: str, kk: int, ef: int, nvq_c,
    tel_acc,
) -> list[pd.DataFrame]:
    """Fused exact rerank of one partition's beams: each query's top ``kk``
    of ITS beam (``strict_mask``), scored as the IVF routes score."""
    from jvector_spark.operators.index import (
        _fused_block_topk,
        _rerank_rows,
        _stage1_rows,
    )

    data_pdf, ids, _, _, codes, _, rsq = w.pack
    n_q = len(w.q_ids)
    # rerank sub-chunk: the (Qr, uniq) mask/score matrices are dense and
    # uniq grows toward min(n_local, Qr x ef) — on LARGE partitions
    # (coarse layouts) a whole query chunk's combined beam covers most of
    # the partition and the matrices blow past worker memory (measured:
    # worker OOM-crash at n_local ~40k, 3.3k queries/chunk). Bound
    # Qr x uniq to ~2^25 f32 cells (128 MB), min 64 queries per pass.
    r_chunk = max(64, int((1 << 25) // max(min(len(ids), n_q * ef), 1)))
    rerank_rows = _rerank_rows(data_pdf, nvq_c, block=False)
    out = []
    for r0 in range(0, n_q, r_chunk):
        r1 = min(r0 + r_chunk, n_q)
        rsub = np.arange(r0, r1)
        rbeams = beams[r0:r1]
        uniq = np.unique(rbeams[rbeams >= 0])
        if len(uniq) == 0:
            continue
        # membership mask: each query reranks only ITS beam
        mask = np.zeros((r1 - r0, len(uniq)), dtype=bool)
        for qi in range(r1 - r0):
            bm = rbeams[qi][rbeams[qi] >= 0]
            mask[qi, np.searchsorted(uniq, bm)] = True
        oq, oi, osc = _fused_block_topk(
            met, kk, ef, w.q_ids[rsub], w.q_mat[rsub],
            _stage1_rows(w.s1, rsub), w.q_nrm[rsub], ids[uniq],
            codes[uniq], lambda idx: rerank_rows(uniq[idx]),
            mask=mask,
            counters=tel_acc,
            residual=(w.qc[rsub], rsq[uniq]) if w.qc is not None else None,
            strict_mask=True,  # results come ONLY from this query's beam
        )
        out.append(pd.DataFrame({"qid": oq, "id": oi, "score": osc}))
    return out


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
) -> DataFrame:
    """Graph-traversal ANN over the index's per-partition Vamana graphs.
    Returns ``(qid, id, score, rank)`` rows, ranked per query under score
    desc / id asc, not ordered.

    Every query probes its ``n_probe`` nearest centroids (``_select_probes``,
    the IVF probe rule) and walks the graph of each probed partition; the
    walk is jvector's one ``GraphSearcher``, and two physical plans run it.
    ``exact.route_query_batch`` picks the plan with the rule of every
    point-query-batch operator: ONE ``take(BROADCAST_QUERY_CAP + 1)`` of
    the query side, no parameter.

    - **Point route** (at most ``BROADCAST_QUERY_CAP`` query rows, which
      that take collects): the IVF broadcast route's one Spark stage
      (``IVFIndex._probe_stage``), ``min(defaultParallelism, distinct
      qids)`` tasks, each owning a chunk of the queries (contiguous in
      nearest-centroid order). The driver picks the probes; a task reads
      the data and edges dirs of every partition its chunk probes, walks
      them per segment as one disjoint-union beam, reranks, drops
      tombstoned ids and ranks its own qids (``_walk_chunk``,
      ``_rank_chunk``). One job, no exchange. A partition probed by t
      chunks is read t times.
    - **Exchange route** (more rows, which the driver must not collect):
      ``_traverse_probed_partitions`` maps each query of the caller's
      DataFrame to its probed partitions where it lives
      (``_assign_probes``), and the (part_id, qid, vec) replicas run
      through the bulk probe exchange that distributed IVF search also
      runs (``IVFIndex._probe_exchange``): they shuffle into
      ``min(defaultParallelism, groups)`` tasks (salted by qid hash on
      coarse layouts so a few partitions still fill the cores; an explicit
      count, which AQE does not coalesce), and each task reads its groups'
      data and edges dirs, walks them as one beam per wave and drops
      tombstoned ids (``_exchange_walk``); then ``_merge_topk`` drops
      spilled copies and ranks per qid across tasks and segments.

    Corpus bytes never move on either route. Both return the same rows:
    a beam never leaves its own partition, so how queries are grouped into
    tasks and waves changes no beam (``_walk_union``), and each query
    reranks only its own beam. The beam is steered by the index's stage-1
    codes (PQ/BQ, the reference's compressed-first-pass search) and
    expands ``max(1, ef_search // 64)`` nodes per hop (``_batch_beam``);
    the survivors rerank through the IVF routes' fused kernel
    (fp32-exact or dequantized-NVQ reported scores).

    For bulk batches over small partitions, ``IVFIndex.search(strategy=
    "distributed")`` is the cheaper operator: its GEMMs scan whole
    probed partitions where the beam approximates within them (r8 A/B,
    1M x 64-d, 2000-row partitions, np4/ef40, 32 cores: 318 s vs 3,213 s
    for traversal).

    Query vectors are walked in the index's f32 layout on both routes
    (the point route casts the collected batch through float32, the
    exchange route's replicas have the ``_assign_probes`` schema), so
    ``array<double>`` queries are scored as their f32 roundings; probes
    are picked from the vectors as given.

    Tombstoned rows are traversed but filtered from results (two-phase
    delete semantics); ``compact()`` removes them AND rebuilds the merged
    segment's graph when every merged segment had one (append still
    creates graph-less segments — cover them with :func:`build_graph`).
    Predicates / accept lists are not supported on the traversal route —
    use ``IVFIndex.search(predicate=..., accept_ids=...)``.

    ``ef_search`` defaults to ``max(2k, overquery*k)`` (the beam width /
    per-partition candidate pool — GraphSearcher's rerankK analog)."""
    from jvector_spark.operators.index import _merge_topk

    manifest = index.manifest
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
    tel_acc = telemetry.counters() if telemetry is not None else None
    # the point route reads tombstones in its tasks; the file's presence
    # is all the driver needs (a tombstone DataFrame costs ~20 ms to plan)
    dead = os.path.exists(os.path.join(index.path, "tombstones.parquet"))
    # Per-partition EMITTED rows: the global top-k over the union of
    # per-partition results is provably contained in each partition's own
    # top-k (a row below its partition's k-th best is beaten by >= k rows
    # from that partition alone), so emitting k per partition is
    # bit-identical to emitting the whole rerank pool — the pool (k_ret)
    # only needs to survive as emitted rows when the tombstone filter
    # can remove winners afterwards. At default overquery this cuts
    # the final window's shuffle 4x (the r7 16 GB-driver pressure point
    # on the 1M corpus-as-queries shape).
    emit_k = k_ret if dead else min(k, k_ret)
    batch = route_query_batch(
        queries_df, query_id_col, query_vec_col, "graph_search", "auto"
    )
    if batch is None:
        parts = _traverse_probed_partitions(
            index, queries_df, query_id_col, query_vec_col, manifest.metric,
            emit_k, ef, n_probe, probe_ratio, use_nvq, tel_acc,
        )
        return _merge_topk(parts, k, manifest.spill)
    qids, qmat = batch
    if not len(qids):
        return empty_ranked(index.spark)
    return _search_point(
        index, qids, qmat, k, emit_k, ef, n_probe, probe_ratio, use_nvq, tel_acc
    )


def _search_point(
    index, qids, qmat, k, emit_k, ef, n_probe, probe_ratio, use_nvq, tel_acc,
) -> DataFrame:
    """The point route of ``graph_search`` on ``IVFIndex._probe_stage``:
    one plan per segment holds its ``p2q`` (the driver-side probes of the
    collected batch), its ``_read_partition`` dirs and its stage-1 codec."""
    from jvector_spark.operators.index import _part_queries, _select_probes

    plans = []
    for seg in index.manifest.segments:
        info = index._segments[seg.name]
        res_mode = bool(info.get("residual"))
        probe, keep = _select_probes(info, qmat, n_probe, probe_ratio)
        plans.append({
            "p2q": _part_queries(np.nonzero(keep)[0], probe[keep]),
            "dirs": _walk_dirs(index, seg.name, use_nvq),
            "codec": info["pq"],
            "residual": res_mode,
            "cents": info["centroids"] if res_mode else None,
        })
    return index._probe_stage(
        qids,
        # the exchange route's replica layout (see graph_search)
        qmat.astype(np.float32).astype(np.float64),
        lambda call, c: _walk_chunk(call, c, tel_acc),
        _rank_chunk,
        "qid long, id long, score double, rank int",
        plans=plans, metric=index.manifest.metric, k=k, kk=emit_k, ef=ef,
        spill=index.manifest.spill, nvq=index._nvq_codec(use_nvq),
    )


def _walk_chunk(call: dict, c: int, tel_acc) -> Iterator[pd.DataFrame]:
    """Hits of point-route chunk ``c``: per segment, every partition its
    queries probe becomes wave rows in part_id order, walked and reranked
    as an exchange task walks its groups (``_walk_waves``)."""
    in_chunk = call["chunk_of"] == c
    met, ef = call["metric"], call["ef"]
    for plan in call["plans"]:
        probes = ((part, pos[in_chunk[pos]]) for part, pos in plan["p2q"].items())
        rows = (
            w
            for part, qsel in probes
            if len(qsel)
            for w in _group_walk_rows(
                plan["dirs"], part, call["q_ids"][qsel], call["q_mat"][qsel],
                plan["codec"], met, ef, plan["residual"], plan["cents"],
            )
        )
        yield from _walk_waves(rows, met, ef, call["kk"], call["nvq"], tel_acc)


def _rank_chunk(call: dict, hits: pd.DataFrame) -> pd.DataFrame:
    """A point-route task's output: its hits minus tombstoned ids (the
    walk routes through deleted rows), ranked per qid (``_rank_hits``)."""
    from jvector_spark.operators.index import _live_rows, _rank_hits, _read_tombstones

    hits = _live_rows(hits, _read_tombstones(call["tombstones"]))
    return _rank_hits(hits, call["k"], call["spill"])


def _walk_dirs(index, seg_name: str, use_nvq: bool) -> tuple:
    """A segment's ``_read_partition`` dirs: (data dir, edges dir, data
    columns). The hive part_id lives in the dir name, so it is not a data
    column."""
    from jvector_spark.operators.index import _rerank_cols

    info = index._segments[seg_name]
    return (
        os.path.join(info["dir"], "data.parquet"),
        os.path.join(_graph_dir(index, seg_name), "edges.parquet"),
        ("id", "codes", *_rerank_cols(use_nvq))
        + (("rsq",) if info.get("residual") else ()),
    )


def _walk_waves(
    rows: Iterator[_WalkRows], met: str, ef: int, kk: int, nvq_c, tel_acc
) -> Iterator[pd.DataFrame]:
    """The traversal core of both routes: pack wave rows into waves
    (``_waves``), walk each as one disjoint-union beam (``_walk_union``)
    and rerank every partition's beams (``_rerank_beams``)."""
    for wave in _waves(rows):
        for w, wb in zip(wave, _walk_union(wave, met, ef, tel_acc)):
            yield from _rerank_beams(w, wb, met, kk, ef, nvq_c, tel_acc)


def _read_partition(dirs: tuple, part: int):
    """One partition's data and edge tables, read straight from the hive
    dirs with the IVF search's reader; ``dirs`` is (data dir, edges dir,
    data columns). ``(None, None)`` unless both exist."""
    from jvector_spark.operators.index import _read_part

    data_dir, graph_dir, dcols = dirs
    edges = _read_part(graph_dir, part, ("id", "neighbors", "entry"))
    data = _read_part(data_dir, part, dcols) if edges is not None else None
    return (data, edges) if data is not None else (None, None)


def _group_walk_rows(
    dirs: tuple, part: int, q_ids: np.ndarray, qmat: np.ndarray, cdc,
    met: str, ef: int, res_m: bool, cents,
) -> Iterator[_WalkRows]:
    """One partition's probing queries (a (part_id[, salt]) group of the
    exchange route, or a query chunk's probes of the point route) as wave
    rows: reads and decodes the partition, then splits the queries into
    LUT steps of ``_WAVE_ROWS`` and those into chunks whose visited bitmap
    over the partition alone stays under ``_WAVE_CELLS``, so a group over
    a wave's budget on its own walks in query chunks."""
    data_pdf, edge_pdf = _read_partition(dirs, part)
    if data_pdf is None:
        return
    pack = _decode_partition(
        data_pdf, edge_pdf, cdc, met == "COSINE" and not res_m, res_m
    )
    if pack is None:
        return
    n_local = len(pack[1])
    qnrm = np.linalg.norm(qmat, axis=1)
    qc_vec = (qmat @ cents[part]) if res_m else None
    step = max(1, _WAVE_CELLS // max(n_local, 1))
    for lo in range(0, len(q_ids), _WAVE_ROWS):
        hi = min(lo + _WAVE_ROWS, len(q_ids))
        kind, q_side, aux = cdc.query_stage1(qmat[lo:hi], met, residual=res_m)
        for c0 in range(lo, hi, step):
            c1 = min(c0 + step, hi)
            yield _WalkRows(
                pack, q_ids[c0:c1], qmat[c0:c1], qnrm[c0:c1],
                (kind, q_side[c0 - lo: c1 - lo], aux),
                qc_vec[c0:c1] if res_m else None,
            )


def _waves(rows: Iterator[_WalkRows]) -> Iterator[list[_WalkRows]]:
    """Pack wave rows, in stream order, into waves of at most
    ``_WAVE_ROWS`` query rows and ``_WAVE_CELLS`` visited cells (query
    rows x union rows); a row chunk that fills a wave alone is one wave."""
    wave, n_rows, n_cols = [], 0, 0
    for w in rows:
        r, c = len(w.q_ids), len(w.pack[1])
        if wave and (
            n_rows + r > _WAVE_ROWS or (n_rows + r) * (n_cols + c) > _WAVE_CELLS
        ):
            yield wave
            wave, n_rows, n_cols = [], 0, 0
        wave.append(w)
        n_rows += r
        n_cols += c
    if wave:
        yield wave


def _traverse_probed_partitions(
    index, queries_df, query_id_col, query_vec_col, met, k_ret, ef, n_probe,
    probe_ratio, use_nvq, tel_acc,
) -> list[DataFrame]:
    """The exchange route of ``graph_search`` (batches over
    ``BROADCAST_QUERY_CAP``), per segment: ``_assign_probes`` maps each
    query to its probed partitions where it lives, and the replicas run
    through the bulk probe exchange (``IVFIndex._probe_exchange``,
    salted) with ``_exchange_walk``. Corpus bytes never shuffle:
    cogrouping data with edges on part_id was measured 5x slower at 100k
    (it re-shuffles the probed corpus per batch)."""
    parts_out = []
    for seg in index.manifest.segments:
        info = index._segments[seg.name]
        res_mode = bool(info.get("residual"))
        assigned = index._assign_probes(
            queries_df, info, n_probe, query_id_col, query_vec_col,
            metric=met, probe_ratio=probe_ratio,
        )
        b = index.spark.sparkContext.broadcast(
            (info["pq"], met, k_ret, ef, index._nvq_codec(use_nvq), res_mode,
             info["centroids"] if res_mode else None)
        )
        parts_out.append(
            index._probe_exchange(
                info, assigned,
                _exchange_walk(b, tel_acc, _walk_dirs(index, seg.name, use_nvq)),
                "qid long, id long, score double", salt=True,
            )
        )
    return parts_out


def _exchange_walk(b, tel_acc, dirs: tuple):
    """An exchange-route task, bound to one segment's broadcast ``b`` and
    ``_read_partition`` dirs: it packs its groups' wave rows into waves
    and walks each as ONE disjoint-union beam (``_walk_waves``), so a
    hop's Python constant is paid once per wave, not once per group of
    1-3 queries; then it drops tombstoned ids (the walk routes through
    deleted rows)."""

    from jvector_spark.operators.index import _live_rows

    def walk(groups, dead) -> Iterator[pd.DataFrame]:
        cdc, met, kk, ef, nvq_c, res_m, cents = b.value
        rows = (
            w
            for (part, *_), qpdf in groups
            for w in _group_walk_rows(
                dirs, part, qpdf["qid"].to_numpy(dtype=np.int64),
                kernels.as_matrix(qpdf["vec"]), cdc, met, ef, res_m, cents,
            )
        )
        for hits in _walk_waves(rows, met, ef, kk, nvq_c, tel_acc):
            yield _live_rows(hits, dead)

    return walk
