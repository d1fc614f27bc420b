"""IVF (coarse-centroid partitioned) vector index: build / persist / search.

This is the engine's analog of the reference's graph index
(``graph/GraphIndexBuilder.java`` build path, ``graph/disk/OnDiskGraphIndex``
storage, ``GraphSearcher`` read path — SURVEY.md §3). Per SURVEY §2.4 J2, a
per-row beam search over a pointer graph is the wrong physical design for a
batch engine; the idiomatic Spark strategy with the same observable contract
(approximate top-k with a tunable recall/cost knob) is IVF partition
pruning:

- **build** (ref ``build(ravv)``, GraphIndexBuilder.java:436): sample ->
  k-means coarse centroids (the "upper layers" / entry points) + PQ
  codebooks trained on the same sample -> ONE fused map-only pass assigns
  every vector to its nearest centroid and PQ-encodes it -> one Parquet
  table (id, vec, codes) partitioned by ``part_id``. Exactly one shuffle
  (the partitioned write), amortized over every later query.
- **search** (ref ``GraphSearcher.search`` hierarchical descent -> beam ->
  rerank, GraphSearcher.java:222-507): queries are assigned to their
  ``n_probe`` nearest centroids on the driver (the descent analog —
  centroids are broadcast like the RAM-cached upper layers,
  OnDiskGraphIndex.java:119-161). A point batch then runs ONE Spark stage
  (``IVFIndex._probe_stage``): each task owns a chunk of the queries,
  reads the partitions they probe with pyarrow and does both phases per
  (partition, probing queries): ADC-score the codes, keep ``rerankK =
  overquery*k`` partition-local candidates, exact-rerank just those rows
  at fp32 (the vectors are in the same read — no join), then ranks each
  of its qids itself. No exchange, no merge job. Partition-local
  reranking can only ADD candidates relative to the reference's
  global-rerankK protocol, so recall at a given overquery is >= the
  reference contract.
- **IO shape at scale**: a search reads (codes + vec) of
  n_probe/n_partitions of the corpus — the same bytes the classic
  two-stage plan reads in total (codes scan + fp32 rerank join), with one
  read per (task, probed partition) and no shuffle on the point route. A
  survivor-only fp32 read buys nothing in Spark: the classic plan's
  survivor join (a 20k x 64 parquet corpus, broadcast survivors) pushed
  only ``IsNotNull(id)`` into the fp32 scan and held no runtime filter, so
  it read every vector row anyway. ``operators/search.two_phase_knn_join``
  (no index) runs this same fused kernel over codes joined to vectors.
- **segments + compaction**: streaming appends accumulate segment dirs;
  search unions segments (J6 multi-index merge, free in a batch engine);
  ``compact()`` rewrites N segments as one with retrained PQ (ref
  OnDiskGraphIndexCompactor.java:296, PQRetrainer), dropping tombstoned
  ids (M5 two-phase delete).

Scale: centroid count defaults to ~sqrt(n) capped so centroids stay
broadcast-able; partition sizes stay bounded as n grows because
n_partitions grows with sqrt(n) at build/compaction time.
"""

from __future__ import annotations

import dataclasses
import math
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.accumulators import AccumulatorParam

from jvector_spark.functions import kernels
from jvector_spark.operators.exact import (
    _rank_topk,
    empty_hits,
    empty_ranked,
    in_list,
    route_query_batch,
)
from jvector_spark.operators.quantize.pq import ProductQuantizer
from jvector_spark.types import MANIFEST_VERSION, IndexManifest, SegmentInfo

MAX_CENTROIDS = 4096  # keep the broadcast "upper layer" small

# pq_residual="auto": enable residual encoding when the coarse clustering
# explains at least half the sample variance (residual energy <= ratio x
# variance around the global mean). Clustered corpora measure ~0.06; an
# isotropic Gaussian measures ~0.94 even after k-means (k = sqrt(n)).
_RESIDUAL_AUTO_RATIO = 0.5
# pq_m="auto": accept the first m whose sample reconstruction MSE is at or
# under this fraction of the training-set variance; otherwise double m
# (while it divides dim and stays within caps). Calibrated r7 on the bench
# corpus family: m=dim/8 leaves ~0.15 relative error on a 200-Gaussian
# clustered d=64 corpus in residual space (where the r6 recall@100 grid
# measured m16 >> m8), m=dim/4 reaches ~0.07; 0.10 separates them.
_PQM_AUTO_RELERR = 0.10
# driver-side codec-training rows (PQ fit, residual/auto stats) — a uniform
# prefix of the key-sorted sample; 256 codes/subspace saturate well below it
_CODEC_TRAIN_CAP = 65536
# how many nearest coarse cells contribute fine-centroid CANDIDATES when a
# row's sub_id is assigned hierarchically (work ~ n_rows x cells x
# fine-per-cell instead of n_rows x n_fine; see _assign_fine_hierarchical)
_FINE_ASSIGN_CELLS = 4
# maybe_compact's size-tier base: a tier spans a 4x range of segment rows
_COMPACT_TIER_FACTOR = 4


def _pqm_auto_start(dim: int) -> int:
    """Starting subquantizer count for pq_m='auto': the divisor of dim
    nearest to dim/8 (log-scale; ties prefer larger), clamped to
    [2, 128]. dim/8 = 8-dim subspaces is the reference's own default
    shape (its published M=128 encode point at d=1024 is exactly this,
    671.testing.md:26)."""
    target = max(2, dim // 8)
    divs = [m for m in range(2, min(dim, 128) + 1) if dim % m == 0]
    if not divs:
        return 1
    return min(divs, key=lambda m: (abs(math.log(m / target)), -m))

_DATA_SCHEMA = "id long, vec array<float>, codes binary, part_id int"

# byte-wise popcount table for the BQ hamming stage-1 (numpy in this env has
# no vectorized bit_count on uint64; a uint8-view LUT gather is BLAS-free
# but stays fully vectorized)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _load_codec(path: str):
    """Load a segment's stage-1 codec by its params.json discriminator
    (X5 VectorCompressor SPI: "pq" -> ADC LUTs, "bq" -> sign-bit hamming,
    ref BuildScoreProvider.java:170-212 treating BQ as a first-class
    build/search scorer)."""
    import json

    with open(os.path.join(path, "params.json")) as f:
        kind = json.load(f).get("type", "pq")
    if kind == "bq":
        from jvector_spark.operators.quantize.bq import BinaryQuantizer

        return BinaryQuantizer.load(path)
    return ProductQuantizer.load(path)


def _unpack_f32(col):
    """``array<float>`` view of a packed-f32 binary vec column.

    Arrow-batched scalar UDF — the PUBLIC decode surface only
    (:meth:`IVFIndex.vectors`); every corpus-sized internal path consumes
    the packed bytes directly (``kernels.as_matrix`` decodes either
    layout), so this per-row unpack never sits on a hot loop."""

    @F.pandas_udf("array<float>")
    def unpack(s: pd.Series) -> pd.Series:
        return s.map(lambda b: np.frombuffer(b, dtype=np.float32))

    return unpack(col)


def _write_small_parquet(dir_path: str, table) -> None:
    """Overwrite-write a DRIVER-RESIDENT tiny table (centroids, fine
    centroids) as a single-file parquet dir via pyarrow.

    These tables are kilobytes-to-megabytes of driver state; routing them
    through ``spark.createDataFrame(...).coalesce(1).write`` costs ~4.5 s
    EACH in job/commit overhead (measured r4, local[32]) — a pyarrow write
    is ~10 ms and produces byte-compatible parquet that ``spark.read``
    consumes identically. Corpus-sized data (the vector/codes table) still
    goes through the distributed writer; only driver-resident metadata
    takes this path."""
    import shutil

    import pyarrow.parquet as papq

    if os.path.exists(dir_path):
        shutil.rmtree(dir_path)
    os.makedirs(dir_path, exist_ok=True)
    papq.write_table(table, os.path.join(dir_path, "part-00000.parquet"))


def _bq_hamming_block(q_words: np.ndarray, c_words: np.ndarray, dim: int) -> np.ndarray:
    """(mq, words) x (n, words) packed uint64 -> 1 - hamming/dim (the BQ
    similarity proxy, BQVectors.java:116-117), vectorized via a uint8
    popcount LUT. Callers chunk the query axis so the (mq, n, 8*words)
    intermediate stays bounded."""
    x = np.bitwise_xor(q_words[:, None, :], c_words[None, :, :])
    pop = _POP8[x.view(np.uint8).reshape(len(q_words), len(c_words), -1)].sum(
        axis=2, dtype=np.int64
    )
    return 1.0 - pop / float(dim)


def _blockwise_adc_topk(
    met: str,
    rerank_k: int,
    luts: np.ndarray,
    mag_lut,
    q_norms: np.ndarray,
    ids: np.ndarray,
    code_idx: np.ndarray,
    mask=None,
    residual=None,
    timed: bool = False,
    block: int = 4096,
):
    """Fused blockwise ADC + metric epilogue + mask + running top-K merge.

    Replaces the full (Q, n) approximate-score materialization of the PQ
    phase-1: each 4096-row block's scores are accumulated, normalized,
    masked and reduced to the block's exact top-``rerank_k`` while still
    cache-resident, and a running (Q, K) candidate buffer is merged per
    block. A 512q x 16k tile used to make ~6 full passes over a 32 MB
    score matrix (epilogue copy, np.where copy, partition copy, compare
    mask, tie scan) — under 32-way worker concurrency those passes were
    memory-bandwidth-bound (the adc+topk stages were 928+1,144 of 2,449
    kernel core-seconds at the 1M bulk shape); here only the candidate
    buffers ever leave cache.

    BIT-IDENTICAL to the full-matrix path it replaces, by construction:

    - the per-4096-row ADC accumulation (transposed-f32 LUT gathers, same
      block boundaries, same summation order) is unchanged;
    - every epilogue runs the SAME elementwise ops with the SAME operand
      association as the full-matrix expressions (in-place on the block);
    - selection of the k best under the strict total order (score desc,
      id asc) is associative, so merging per-block exact top-k
      (``kernels.topk_per_row``, the same selection the full matrix got)
      yields exactly the full matrix's candidate set; the merge resolves
      ties by the same packed (inverted-f32-bits, id-rank) key
      ``topk_per_row`` itself uses, with id-rank assigned by a STABLE
      argsort over ``ids`` so duplicate ids keep column order — the
      full-matrix lexsort's exact rule.

    Equivalence is regression-pinned by ``tests/test_search.py``'s
    blockwise-vs-full-matrix suite (all metrics, residual mode, masks,
    starved rows, duplicate ids, boundary ties).

    Returns ``(cand_idx, adc_us, topk_us)`` — cand_idx (Q, K) int64
    column indices sorted by (score desc, id asc); timings are 0 unless
    ``timed``.
    """
    n = len(ids)
    q_n = luts.shape[0]
    m = code_idx.shape[1]
    k_run = min(rerank_k, n)
    cols = np.arange(m)
    lut_t = np.ascontiguousarray(
        luts.astype(np.float32, copy=False).transpose(1, 2, 0)
    )
    # query-side epilogue constants (computed once, exactly as the
    # full-matrix expressions did)
    if residual is not None:
        qc_dot, rsq = residual
        qc32 = qc_dot.astype(np.float32)
        if met == "EUCLIDEAN":
            q2 = (q_norms * q_norms).astype(np.float32)
        elif met == "COSINE":
            sden = np.sqrt(np.maximum(rsq, 1e-30))
            qden = np.maximum(q_norms, 1e-30).astype(np.float32)
    elif met == "COSINE":
        qden = np.maximum(q_norms[:, None], 1e-30).astype(np.float32)[:, 0]
    # global tie key: rank of each column in id-ascending order (stable,
    # so duplicate ids keep column order — the full-matrix rule); unique
    # per column, so the packed-key sort below is deterministic
    if n == 0 or k_run == 0:
        return np.empty((q_n, 0), dtype=np.int64), 0, 0
    id_rank = np.empty(n, dtype=np.uint64)
    id_rank[np.argsort(ids, kind="stable")] = np.arange(n, dtype=np.uint64)
    neg_inf = np.float32(-np.inf)
    run_s: np.ndarray | None = None
    run_c: np.ndarray | None = None
    adc_us = 0
    topk_us = 0
    t0 = time.perf_counter() if timed else 0.0
    for lo in range(0, n, block):
        hi = min(lo + block, n)
        w = hi - lo
        cb = code_idx[lo:hi]
        # fancy-index gathers (NOT np.take(out=...): its checked-out path
        # measured 2x slower than numpy's mapiter fast path at this shape)
        acc = lut_t[0][cb[:, 0]]  # fresh (w, Q) copy, as the old path made
        for mm in range(1, m):
            acc += lut_t[mm][cb[:, mm]]
        blk = kernels.scratch("fadc_blk", (q_n, w), np.float32)
        blk[...] = acc.T  # C-contiguous (Q, w) while cache-warm
        tmp = kernels.scratch("fadc_tmp", (q_n, w), np.float32)
        if residual is not None:
            blk += qc32[:, None]  # full = partial + qc_dot
            rb = rsq[lo:hi]
            if met == "EUCLIDEAN":
                # d2 = (q2 + rsq) - 2*full ; approx = 1/(1+d2)
                np.add(q2[:, None], rb[None, :], out=tmp)
                np.multiply(blk, np.float32(2.0), out=blk)
                np.subtract(tmp, blk, out=blk)
                np.maximum(blk, 0.0, out=blk)
                np.add(blk, np.float32(1.0), out=blk)
                np.divide(np.float32(1.0), blk, out=blk)
            elif met == "DOT_PRODUCT":
                np.add(blk, np.float32(1.0), out=blk)
                np.divide(blk, np.float32(2.0), out=blk)
            else:  # COSINE: rsq is the reconstructed squared magnitude
                np.multiply(sden[lo:hi][None, :], qden[:, None], out=tmp)
                np.divide(blk, tmp, out=blk)
                np.add(blk, np.float32(1.0), out=blk)
                np.divide(blk, np.float32(2.0), out=blk)
        elif met == "EUCLIDEAN":
            np.add(blk, np.float32(1.0), out=blk)
            np.divide(np.float32(1.0), blk, out=blk)
        elif met == "DOT_PRODUCT":
            np.add(blk, np.float32(1.0), out=blk)
            np.divide(blk, np.float32(2.0), out=blk)
        else:  # COSINE
            mags_b = np.sqrt(
                np.maximum(mag_lut[cols, cb].sum(axis=1), 1e-30)
            ).astype(np.float32)
            np.multiply(mags_b[None, :], qden[:, None], out=tmp)
            np.divide(blk, tmp, out=blk)
            np.add(blk, np.float32(1.0), out=blk)
            np.divide(blk, np.float32(2.0), out=blk)
        if timed:
            now = time.perf_counter()
            adc_us += int((now - t0) * 1e6)
            t0 = now
        if mask is not None:
            inv = kernels.scratch("fadc_minv", (q_n, w), np.bool_)
            np.logical_not(mask[:, lo:hi], out=inv)
            np.copyto(blk, neg_inf, where=inv)
        idx_l, val_l = kernels.topk_per_row(blk, k_run, ids=ids[lo:hi])
        gc = idx_l + lo  # block-local -> tile-global column index
        if run_s is None:
            run_s, run_c = val_l, gc
        else:
            cat_s = np.concatenate([run_s, val_l], axis=1)
            cat_c = np.concatenate([run_c, gc], axis=1)
            # pack (score desc, id-rank asc) into one uint64 — the same
            # IEEE-monotone construction topk_per_row's tie path uses
            u = cat_s.view(np.uint32)
            sign = u & np.uint32(0x80000000)
            inv_bits = np.where(sign, u, np.uint32(0x7FFFFFFF) - u)
            key = inv_bits.astype(np.uint64)
            key <<= np.uint64(32)
            key |= id_rank[cat_c]
            order = np.argsort(key, axis=1, kind="stable")[:, :k_run]
            run_s = np.take_along_axis(cat_s, order, axis=1)
            run_c = np.take_along_axis(cat_c, order, axis=1)
        if timed:
            now = time.perf_counter()
            topk_us += int((now - t0) * 1e6)
            t0 = now
    return run_c, adc_us, topk_us


def _stage1_rows(stage1, qsel: np.ndarray):
    """A codec's ``query_stage1`` payload restricted to the queries
    ``qsel`` (only the middle element is per-query)."""
    kind, q_side, aux = stage1
    return (kind, q_side[qsel], aux)


def _rerank_cols(use_nvq: bool) -> list[str]:
    """The stored columns ``_rerank_rows`` reads."""
    return ["nvq", "nvq_params"] if use_nvq else ["vec"]


def _rerank_rows(frame: pd.DataFrame, nvq_c, block: bool):
    """Stage-2 rerank payload of a row frame, for ``_fused_block_topk``.

    The frame carries either the fp32 ``vec`` column (packed bytes or
    float lists — ``kernels.as_matrix`` decodes both) or, when ``nvq_c``
    is given, the ``nvq`` / ``nvq_params`` columns (the reference's
    default rerank feature, NVQScorer.java; parquet column pruning means
    the 4-bytes/dim fp32 column is never read in that mode).

    ``block=True`` decodes the WHOLE frame once, for blocks (and
    two-phase join batches) whose expected candidate coverage reaches the
    row count (r9: bulk corpus-as-queries tiles re-gathered the same rows
    in every 512-query chunk — the per-chunk pandas iloc + bytes-join was
    3,238 of 14,540 kernel core-seconds at the 1M bulk shape). Otherwise
    returns a gather ``idx -> (len(idx), d)`` that decodes only the
    candidate rows. fp32 blocks stay f32 (lossless storage values) and
    the kernel casts each gathered chunk to f64, so both forms give
    bit-identical scores."""
    if nvq_c is not None:
        nvq, params = frame["nvq"], frame["nvq_params"]
        if block:
            return nvq_c.decode_columns(nvq, params)
        return lambda idx: nvq_c.decode_columns(nvq.iloc[idx], params.iloc[idx])
    vec = frame["vec"]
    if block:
        return kernels.as_matrix(vec, dtype=np.float32)
    return lambda idx: kernels.as_matrix(vec.iloc[idx])


def _fused_block_topk(
    met: str,
    k: int,
    rerank_k: int,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    stage1,
    q_norms: np.ndarray,
    ids: np.ndarray,
    code_idx: np.ndarray,
    rows,
    mask=None,
    counters=None,
    residual=None,
    strict_mask: bool = False,
):
    """Fused two-phase scoring of one (query block × row block).

    Phase 1: approximate scores from the stage-1 codec, whose query-side
    payload ``stage1`` is the codec's ``query_stage1`` output for these
    queries and whose ``code_idx`` is its ``decode_codes`` output for
    these rows: ADC over PQ codes for ``("pq", luts, mag_lut)``, or
    hamming over packed sign bits for ``("bq", q_words, dim)`` (hamming
    is a metric-agnostic ranking proxy, exactly the reference's BQ first
    pass, BuildScoreProvider.java:170-212). Keep the block-local top
    ``rerank_k``. Phase 2: high-resolution rerank of just those rows from
    ``rows`` (see ``_rerank_rows``: the decoded block, or a gather over
    fp32 or dequantized NVQ rows) — then per-query exact top-k with the
    score-desc/id-asc tie-break (T4).

    ``mask`` (mq, n) bool: per-(query, row) candidate restriction (the
    two-level per-query fine-cell filter). Non-member rows are demoted to
    -inf in phase 1 — they only re-enter as candidates when a query's own
    cells hold fewer than ``rerank_k`` rows (graceful refill; the exact
    phase-2 scores keep any refilled candidate correct).

    ``strict_mask``: disable the graceful refill — a query returns ONLY
    rows its mask admits (per-query k = mask population when smaller than
    ``rerank_k``). The graph-traversal route uses this so a query's
    results come exclusively from ITS beam: with refill, chunk
    composition (qc_chunk boundaries, shuffle order) could leak other
    queries' beam members into an under-filled query's top-k, breaking
    the documented bit-identical broadcast/distributed parity (r7 ADVICE,
    graph.py refill note). The IVF fine-cell route keeps refill — its
    cells are a recall lever, not a visited-set contract.

    Every two-phase route runs this kernel, so they all score
    identically: the IVF point search (``IVFIndex.search``'s broadcast
    route, one call per (task, probed partition) in ``_probe_stage``),
    the broadcast two-phase join (``search.two_phase_knn_join``, one call
    per Arrow batch), the block scorer ``_tile_topk`` (distributed IVF
    search's partition groups on ``IVFIndex._probe_exchange`` and the
    blocked two-phase join's ``exact.tile_join`` tiles), and
    graph-traversal rerank (``graph._rerank_beams``). Returns (qid,
    id, score) arrays.

    ``counters``: (visited_acc, reranked_acc) or (visited_acc,
    reranked_acc, stage_accs) — stage_accs is SearchTelemetry's
    per-stage-microseconds accumulator dict; when present the adc/topk/
    rerank stages are timed from inside the kernel.

    ``residual`` = (qc_dot (mq,), rsq (n,)): residual-PQ mode. Every call
    covers rows of ONE coarse cell (both routes group by ``part_id``), so
    the per-(query, cell) term is a vector. ``stage1`` must then hold
    DOT-partial LUTs over the residual codebooks for EVERY metric; the
    score decomposes as q·(c+r̂) = qc_dot + gather, with the stored
    ‖c+r̂‖² (``rsq``) supplying the L2/cosine magnitude — no per-cell LUT
    rebuild, the gather kernel is byte-identical to the global-PQ path.
    """
    stages = counters[2] if counters is not None and len(counters) > 2 else None
    t_mark = time.perf_counter() if stages is not None else 0.0
    kind, q_side, aux = stage1
    if kind == "bq":
        approx = _bq_hamming_block(q_side, code_idx, aux)
        if stages is not None:
            now = time.perf_counter()
            stages["adc"].add(int((now - t_mark) * 1e6))
            t_mark = now
        if mask is not None:
            approx = np.where(mask, approx, approx.dtype.type(-np.inf))
        cand_idx, _ = kernels.topk_per_row(approx, rerank_k, ids=ids)
    else:
        # ADC accumulation in TRANSPOSED f32 layout (lut_t gathers whole
        # contiguous Q-vectors per code — ~20x the strided column gather,
        # f32 halving the traffic; approx scores only PICK candidates,
        # phase 2 re-scores exactly in f64, so the narrow accumulator
        # cannot change any returned score), fused per 4096-row block
        # with the metric epilogue, the fine-cell mask and a running
        # exact top-K merge — no (Q, n) matrix is ever materialized.
        # Candidate set and order are bit-identical to the full-matrix
        # path (see _blockwise_adc_topk).
        cand_idx, adc_us, topk_us = _blockwise_adc_topk(
            met, rerank_k, q_side, aux, q_norms, ids, code_idx,
            mask=mask, residual=residual, timed=stages is not None,
        )
        if stages is not None:
            stages["adc"].add(adc_us)
            stages["topk"].add(topk_us)
            t_mark = time.perf_counter()
    strict = mask is not None and strict_mask
    if strict:
        # (n_q, r_w) bool: which selected candidates the query's own mask
        # admits — refilled (out-of-mask) slots get dropped after rerank
        valid_all = np.take_along_axis(mask, cand_idx, axis=1)
    block_mat = isinstance(rows, np.ndarray)
    uniq = (
        np.unique(cand_idx.ravel())
        if (counters is not None or not block_mat)
        else None
    )
    if stages is not None:
        now = time.perf_counter()
        stages["topk"].add(int((now - t_mark) * 1e6))
        t_mark = now
    if counters is not None:
        counters[1].add(int(len(uniq)))  # stage-2 reranked rows
    # a pre-decoded block is indexed directly (see _rerank_rows);
    # otherwise decode just the unique candidates
    x = rows if block_mat else rows(uniq)
    # Vectorized stage-2 rerank (r5: the per-QUERY loop here was the last
    # Python hot loop on the corpus-as-queries bulk path). Same math as
    # kernels.similarity, same (score desc, id asc) T4 ordering — the
    # id-ascending pre-sort + stable argsort on -score reproduces the
    # per-row lexsort exactly, ties included.
    n_q, r_w = cand_idx.shape
    top = min(k, r_w)
    # block_mat: cand_idx indexes the full block directly; otherwise map
    # into the compacted uniq gather
    pos = cand_idx if block_mat else np.searchsorted(uniq, cand_idx)
    cand_ids_all = ids[cand_idx]
    out_q = np.repeat(q_ids, top)
    out_i = np.empty((n_q, top), dtype=np.int64)
    out_s = np.empty((n_q, top), dtype=np.float64)
    d = x.shape[1]
    # chunk the query axis so the (Qc, R, d) gather stays bounded (~64MB)
    qc = max(1, int((64 << 20) // max(r_w * d * 8, 1)))
    for lo in range(0, n_q, qc):
        hi = min(lo + qc, n_q)
        qm = q_mat[lo:hi]
        xs = x[pos[lo:hi]]  # (Qc, R, d)
        if xs.dtype != np.float64:
            xs = xs.astype(np.float64)  # f32 storage -> f64 exact
        dotp = np.einsum("qd,qrd->qr", qm, xs)
        if met == "EUCLIDEAN":
            aa = np.einsum("qd,qd->q", qm, qm)
            bb = np.einsum("qrd,qrd->qr", xs, xs)
            dd = aa[:, None] + bb - 2.0 * dotp
            np.maximum(dd, 0.0, out=dd)
            exact = 1.0 / (1.0 + dd)
        elif met == "DOT_PRODUCT":
            exact = (1.0 + dotp) / 2.0
        else:  # COSINE
            na = np.sqrt(np.einsum("qd,qd->q", qm, qm))[:, None]
            nb = np.sqrt(np.einsum("qrd,qrd->qr", xs, xs))
            denom = na * nb
            denom[denom == 0.0] = 1.0
            exact = (1.0 + dotp / denom) / 2.0
        cids = cand_ids_all[lo:hi]
        perm = np.argsort(cids, axis=1, kind="stable")
        cids = np.take_along_axis(cids, perm, axis=1)
        exact = np.take_along_axis(exact, perm, axis=1)
        if strict:
            v = np.take_along_axis(valid_all[lo:hi], perm, axis=1)
            exact = np.where(v, exact, -np.inf)
        order = np.argsort(-exact, axis=1, kind="stable")[:, :top]
        out_i[lo:hi] = np.take_along_axis(cids, order, axis=1)
        out_s[lo:hi] = np.take_along_axis(exact, order, axis=1)
    if stages is not None:
        stages["rerank"].add(int((time.perf_counter() - t_mark) * 1e6))
    if strict:
        flat_s = out_s.ravel()
        keep = np.isfinite(flat_s)
        return out_q[keep], out_i.ravel()[keep], flat_s[keep]
    return out_q, out_i.ravel(), out_s.ravel()


def _cell_mask(subs_list: list, n_cells: int) -> np.ndarray:
    """(len(subs_list), n_cells) bool: each query's probed fine cells, by
    one vectorized scatter (no per-query Python loop)."""
    lens = np.fromiter(
        (len(a) for a in subs_list), dtype=np.int64, count=len(subs_list)
    )
    out = np.zeros((len(subs_list), n_cells), dtype=bool)
    if lens.sum():
        out[np.repeat(np.arange(len(subs_list)), lens), np.concatenate(subs_list)] = True
    return out


def _tile_topk(
    qs: pd.DataFrame,
    cs: pd.DataFrame,
    codec,
    met: str,
    k: int,
    rerank_k: int,
    nvq_c=None,
    res_cent: np.ndarray | None = None,
    n_fine: int | None = None,
    counters=None,
) -> pd.DataFrame:
    """Fused two-phase top-k of one block: query rows ``qs`` (rid,
    vec[, subs]) against corpus rows ``cs`` (rid, codes, then vec or
    nvq/nvq_params[, rsq][, sub_id]), both non-empty. It scores a
    distributed IVF search's partition group (``IVFIndex._probe_exchange``:
    one probed partition against every query that probed it) and a
    blocked two-phase join's ``exact.tile_join`` tile.

    ``res_cent``: residual-PQ mode's coarse centroid for this block (an
    IVF group is one coarse cell, so the per-(query, cell) dot is a
    vector); None otherwise. ``n_fine``: the fine-level size on a
    two-level index, for per-query cell masks. ``counters`` as in
    ``_fused_block_topk``; on distributed IVF search each corpus row of a
    probed partition is visited once (one group per partition)."""
    stages = counters[2] if counters is not None else None
    t_mark = time.perf_counter() if stages is not None else 0.0
    if counters is not None:
        counters[0].add(int(len(cs)))  # stage-1 visited (per replica)
    ids = cs["rid"].to_numpy(dtype=np.int64)
    q_ids = qs["rid"].to_numpy(dtype=np.int64)
    q_mat_all = kernels.as_matrix(qs["vec"])
    code_idx = codec.decode_codes(cs["codes"])
    res_rsq = cs["rsq"].to_numpy(np.float32) if res_cent is not None else None
    # decode the rerank payload once when the expected candidate coverage
    # reaches the tile size; sparse point-query tiles gather per chunk
    rows = _rerank_rows(cs, nvq_c, block=len(qs) * rerank_k >= len(cs))
    subs_rows = cs["sub_id"].to_numpy(dtype=np.int64) if n_fine else None
    if stages is not None:
        now = time.perf_counter()
        stages["setup"].add(int((now - t_mark) * 1e6))
    frames = []
    # chunk the query axis so LUT stack, score matrix AND the per-(query,
    # row) fine-cell mask stay bounded per chunk — masks are built per
    # 512-query slice (a full-tile mask at the r6 q-tile of 8,192 queries
    # x 16,384 rows would be 134 MB)
    for lo in range(0, len(q_ids), 512):
        if stages is not None:
            t_mark = time.perf_counter()
        q_mat = q_mat_all[lo : lo + 512]
        stage1 = codec.query_stage1(q_mat, met, residual=res_cent is not None)
        qn = np.linalg.norm(q_mat, axis=1)
        if stages is not None:
            now = time.perf_counter()
            stages["lut"].add(int((now - t_mark) * 1e6))
            t_mark = now
        chunk_mask = None
        if n_fine:
            # same semantics as the broadcast stage's mask — each query
            # ranks only rows from its OWN probed fine cells
            subs_list = [
                np.asarray(s, dtype=np.int64) for s in qs["subs"].iloc[lo : lo + 512]
            ]
            chunk_mask = _cell_mask(subs_list, n_fine)[:, subs_rows]
        if stages is not None:
            stages["mask"].add(int((time.perf_counter() - t_mark) * 1e6))
        oq, oi, osc = _fused_block_topk(
            met, k, rerank_k, q_ids[lo : lo + 512], q_mat, stage1, qn,
            ids, code_idx, rows, mask=chunk_mask, counters=counters,
            residual=(
                (q_mat @ res_cent, res_rsq) if res_cent is not None else None
            ),
        )
        frames.append(pd.DataFrame({"qid": oq, "id": oi, "score": osc}))
    return pd.concat(frames, ignore_index=True)


def _assign_fine_hierarchical(
    x: np.ndarray,
    pm: np.ndarray,
    fine_cents: np.ndarray,
    fine_of: list[np.ndarray],
) -> np.ndarray:
    """Hierarchical fine-cell assignment: each row scores only the fine
    centroids OWNED by its assigned coarse cells (``pm``: the row's
    ``spill`` nearest coarse cells) and takes the nearest — work is
    n_rows x spill x fine-per-cell instead of n_rows x n_fine (the global
    matmul that dominated the 1M two-level build, r6 verdict item 2).

    Because the fine level is trained per coarse cell (``fine_level``), a
    row's globally-nearest fine centroid lies inside one of its nearest
    coarse cells with overwhelming probability, so this matches the
    global argmin almost everywhere; the quality gate is quantization MSE
    (test_quantize) and the bench recall grid. Rows whose candidate set
    is empty (coarse cell unseen in the training sample) fall back to the
    global argmin. Query-side fine probing is hierarchical too as of
    late-r6 (``_hier_fine_subs``): selection restricted to the probed
    coarse cells' fine cells, mirroring this assignment rule."""
    n = len(x)
    fine_cents = fine_cents.astype(x.dtype, copy=False)  # no upcast in the BLAS
    best_d = np.full(n, np.inf)
    best_s = np.full(n, -1, dtype=np.int64)
    for c in np.unique(pm):
        fidx = fine_of[int(c)]
        if len(fidx) == 0:
            continue
        rows = np.flatnonzero((pm == c).any(axis=1))
        fc = fine_cents[fidx]
        fcc = np.einsum("ij,ij->i", fc, fc)
        d = -2.0 * x[rows] @ fc.T + fcc[None, :]  # dist^2 - ||x||^2
        j = np.argmin(d, axis=1)
        dv = d[np.arange(len(rows)), j]
        upd = dv < best_d[rows]
        ridx = rows[upd]
        best_d[ridx] = dv[upd]
        best_s[ridx] = fidx[j[upd]]
    miss = best_s < 0
    if miss.any():
        fcc = np.einsum("ij,ij->i", fine_cents, fine_cents)
        fd = -2.0 * x[miss] @ fine_cents.T + fcc[None, :]
        best_s[miss] = np.argmin(fd, axis=1)
    return best_s


def _fine_owner_pad(fine_cents: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(n_coarse, Lmax) int32 owner table for hierarchical fine PROBING:
    row c lists the fine cells owned by coarse cell c (nearest-coarse
    assignment of each fine centroid — the same rule ``fine_level``
    trains by), -1 padded. Derived, not persisted, so it exists for every
    segment regardless of build version (one (n_fine x n_coarse) matmul
    per segment load)."""
    cc = np.einsum("ij,ij->i", cents, cents)
    d = -2.0 * fine_cents @ cents.T + cc[None, :]
    owner = np.argmin(d, axis=1)
    lists = [np.flatnonzero(owner == c) for c in range(len(cents))]
    lmax = max(1, max((len(fl) for fl in lists), default=1))
    pad = np.full((len(cents), lmax), -1, dtype=np.int32)
    for c, fl in enumerate(lists):
        pad[c, : len(fl)] = fl
    return pad


def _hier_fine_subs(
    qmat: np.ndarray,
    probe_cells: np.ndarray,
    fine_c: np.ndarray,
    own_pad: np.ndarray,
    npf: int,
    keep: np.ndarray,
    per_probe: bool = False,
) -> list[np.ndarray]:
    """Per-query top-``npf`` fine cells among those OWNED by the query's
    probed coarse cells (``probe_cells``: (nq, n_probe) coarse ids) —
    the query-side twin of ``_assign_fine_hierarchical``. Work per query
    is n_probe x fine-per-cell (~32 cells) instead of n_fine (~10^3-10^4):
    the global fine matmul + argpartition was >half of the 1M
    corpus-as-queries assignment phase. It is also the better SPEND of
    npf: globally-selected cells can fall in unprobed partitions, where
    they mask nothing — every hierarchically-selected cell lies in a
    partition the search actually scans.

    Returns one int32 array per query (<= npf ids; fewer when the probed
    cells own fewer than npf fine cells). Shared by the broadcast stage,
    the distributed assignment, and probe_io_stats so every route selects
    identically (bit-parity across routes). ``keep`` (``_select_probes``'
    mask, same shape as ``probe_cells``) is false for probes DROPPED by
    adaptive probing (probe_ratio): their owned cells are excluded so npf
    is never spent on cells in partitions the query won't scan.

    ``per_probe=True`` makes ``npf`` a PER-KEPT-PROBE budget: each
    query selects its top ``npf x n_kept_probes`` cells instead of a
    flat total (the harsh-skew lever, r7). Under adaptive probing a
    mega-cluster query keeps many near-tied probes, and a flat npf
    spreads ~npf/n_kept cells per partition — the fine mask then caps
    recall exactly for the queries adaptive probing was meant to serve
    (measured r6: zipf-1.5 saturated at 0.48/0.625 'rerank-bounded' —
    actually mask-bounded). Per-probe budgets hold the per-partition
    visited fraction (npf / fine_factor) CONSTANT per query, like
    probe_ratio holds relative probe depth constant."""
    nq = len(qmat)
    cand = np.where(keep[:, :, None], own_pad[probe_cells], -1)  # (nq, P, Lmax)
    kept = keep.sum(axis=1)
    cand = cand.reshape(nq, -1)  # (nq, C)
    c_w, d = cand.shape[1], fine_c.shape[1]
    npf_q = (
        np.minimum(np.maximum(kept, 1) * npf, c_w)
        if per_probe
        else np.full(nq, min(npf, c_w), dtype=np.int64)
    )
    out_arr: list = [None] * nq
    # chunk the query axis so the (Qc, C, d) centroid gather stays ~64MB
    # (a skew-heavy owner table can make C = n_probe x Lmax large)
    qc = max(1, int((64 << 20) // max(c_w * d * 8, 1)))
    for lo in range(0, nq, qc):
        hi = min(lo + qc, nq)
        cd = cand[lo:hi]
        valid = cd >= 0
        fc = fine_c[np.clip(cd, 0, None)]  # (Qc, C, d) gather
        d2 = np.einsum("qcd,qcd->qc", fc, fc) - 2.0 * np.einsum(
            "qd,qcd->qc", qmat[lo:hi], fc
        )
        d2[~valid] = np.inf
        # rows share one argpartition per distinct budget (<= n_probe_cap
        # distinct values under per_probe; exactly one otherwise)
        for b in np.unique(npf_q[lo:hi]):
            ridx = np.flatnonzero(npf_q[lo:hi] == b)
            if b < c_w:
                sel = np.argpartition(d2[ridx], b - 1, axis=1)[:, :b]
                subs = np.take_along_axis(cd[ridx], sel, axis=1)
                keep_m = np.isfinite(np.take_along_axis(d2[ridx], sel, axis=1))
            else:
                subs, keep_m = cd[ridx], valid[ridx]
            for j, i in enumerate(ridx):
                out_arr[lo + i] = subs[j][keep_m[j]].astype(np.int32)
    return out_arr


class _PartStatsParam(AccumulatorParam):
    """Merge per-partition pruning stats
    {part: (max_r, max_ang, max_n, min_n, has_primary)}.

    All merges are max/min, so task retries and speculative duplicates are
    idempotent — safe to collect from inside the write job's map stage.
    ``has_primary`` (0/1, max-merged) records whether ANY stored copy in the
    partition is a primary (first-choice) assignment: the radius/angle/norm
    stats cover primaries only (r5 — spilled second-choice copies inflate
    them to inter-cluster scale), so a partition holding only spilled copies
    has vacuous stats and must be excluded from threshold BOUNDS — but it
    still holds real rows and stays probe-able for top-k (r6 ADVICE: marking
    it dead made its stored copies dead weight)."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, v in b.items():
            o = a.get(k)
            a[k] = v if o is None else (
                max(o[0], v[0]), max(o[1], v[1]), max(o[2], v[2]),
                min(o[3], v[3]), max(o[4], v[4]),
            )
        return a


class _TaskPartCountParam(AccumulatorParam):
    """Per-map-task stored-copy counts {task_pid: {part: n}}. Each task
    adds its ENTIRE contribution exactly once (after its batch loop), so
    the pid-keyed overwrite merge makes retries and speculative
    duplicates idempotent — the same trick as the max/min stats merge,
    for a quantity that needs a cross-task SUM."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        a.update(b)
        return a


class IVFIndexBuilder:
    """Batch index build job (ref GraphIndexBuilder; M2 bulk build)."""

    def __init__(
        self,
        metric: str = "COSINE",
        n_partitions: int | None = None,
        pq_m: int = 8,
        pq_clusters: int = 256,
        sample_cap: int = 128_000,
        kmeans_iterations: int = 6,
        seed: int = 42,
        spill: int = 2,
        rerank: str = "fp32",
        fine_factor: int = 0,
        first_pass: str = "pq",
        anisotropic_threshold: float | None = None,
        bsp=None,
        pq_residual: bool | str = "auto",
        vec_format: str = "packed_f32",
        store_fp32: str = "all",
    ):
        # X3 SPI: a BuildScoreProvider bundles the construction-scoring
        # choice; explicit kwargs win (ref BuildScoreProvider.java:32-258)
        if bsp is not None:
            if first_pass == "pq":
                first_pass = bsp.first_pass
            if anisotropic_threshold is None:
                anisotropic_threshold = bsp.anisotropic_threshold
        # The index hardwires the builtin metrics: ADC LUT construction,
        # partition-pruning bounds, and normalization all branch on them.
        # A registry-registered custom metric (X1) would silently score
        # with the dot-partials branch — refuse at build time and point at
        # the exact operators, which DO resolve custom metrics.
        if metric not in kernels.METRICS:
            raise ValueError(
                f"IVFIndexBuilder supports only builtin metrics {kernels.METRICS}; "
                f"got {metric!r}. Use jvector_spark.operators.exact (knn_join/topk) "
                f"for registry-registered custom score functions."
            )
        self.metric = metric
        self.n_partitions = n_partitions
        # pq_m="auto" resolves the subquantizer count from the training
        # sample at fit() time (reconstruction-error rule, see
        # _build_segment); the manifest records the resolved int so
        # append/compact inherit the decision.
        if pq_m != "auto" and (not isinstance(pq_m, int) or pq_m < 1):
            raise ValueError(f"pq_m must be a positive int or 'auto', got {pq_m!r}")
        self.pq_m = pq_m
        self.pq_clusters = pq_clusters
        self.sample_cap = sample_cap
        self.kmeans_iterations = kmeans_iterations
        self.seed = seed
        # rerank="nvq" additionally stores NVQ bytes per row and reranks
        # stage 2 from them instead of fp32 — the reference's DEFAULT index
        # config (yaml-configs/index-parameters/default.yml NVQ_VECTORS,
        # FeatureId.java:31-36, NVQScorer.java): ~4x fewer stage-2 bytes
        # read (parquet column pruning skips `vec`) for near-fp32 scores.
        # fp32 stays on disk for compaction / exact fallbacks.
        # Measured (r6): a NETWORK-shuffle lever only — on local[*] the
        # rerank-kernel NVQ decode costs more than the loopback bytes it
        # saves at BOTH d=64 (+16% bulk wall) and d=1024 (+45%), recall
        # unchanged; the decode-vs-bytes trade is d-invariant. Choose nvq
        # only when stage-2 candidate payloads cross a real network.
        if rerank not in ("fp32", "nvq"):
            raise ValueError(f"rerank must be 'fp32' or 'nvq', got {rerank!r}")
        self.rerank = rerank
        # first_pass picks the stage-1 candidate codec (X5 SPI; ref
        # BuildScoreProvider.java:170-212 — BQ is a first-class build/search
        # scorer, not just a standalone operator): "pq" = ADC LUT scoring,
        # "bq" = one sign bit/dim + hamming (no training, 8x smaller codes
        # than pq_m=8 on 64-dim, cheaper builds; coarser ranking — buy
        # recall back with overquery).
        if first_pass not in ("pq", "bq"):
            raise ValueError(f"first_pass must be 'pq' or 'bq', got {first_pass!r}")
        self.first_pass = first_pass
        # Anisotropic PQ codebooks (ScaNN-style parallel-residual weighting;
        # ref ProductQuantization.java:101-104 `anisotropicThreshold`,
        # KMeansPlusPlusClusterer.java:140-147): better ADC ranking for
        # dot-product / cosine scored corpora. None = isotropic (default,
        # matching the reference's UNWEIGHTED default).
        if anisotropic_threshold is not None and first_pass == "bq":
            raise ValueError("anisotropic_threshold applies to the PQ first pass only")
        self.anisotropic_threshold = anisotropic_threshold
        # fine_factor > 0 adds a second centroid level (IMI-style two-level
        # IVF): every row gets a global ``sub_id`` (nearest of
        # fine_factor * n_partitions fine centroids), data files are sorted
        # by (part_id, sub_id) so parquet row-group min/max stats prune a
        # pushed ``sub_id IN (probed)`` filter. At 100 TB a coarse
        # partition is tens of millions of rows; fine pruning is what keeps
        # per-probe IO sublinear in partition size. 0 disables (default).
        self.fine_factor = max(0, int(fine_factor))
        # pq_residual encodes each stored copy's RESIDUAL from its coarse
        # centroid (FAISS-IVFPQ-style; the reference's graph index has no
        # coarse level so its PQ is global — ProductQuantization.java trains
        # on raw vectors): codebooks spend their 256 codes on the
        # within-cell spread instead of the whole-corpus spread, so ADC can
        # separate near-twin rows inside a dense cluster (exactly where
        # global PQ saturates — measured r6: pq_m=16 bought less recall
        # than deeper rerank on a twin-dense corpus). Stage-1 scoring stays
        # one LUT gather: for every metric the score decomposes as
        # q·(c + r̂) = (q·c, per probed cell) + (q·r̂, dot-partial LUT
        # gather), plus a stored per-row ‖c + r̂‖² for L2/cosine. Costs one
        # f32/row (`rsq`) and spill× encode work at build.
        if pq_residual not in (True, False, "auto"):
            raise ValueError(
                f"pq_residual must be True, False or 'auto', got {pq_residual!r}"
            )
        if pq_residual is True and first_pass == "bq":
            raise ValueError("pq_residual applies to the PQ first pass only")
        # "auto" resolves at fit() time from the training sample: residual
        # encoding wins exactly when the coarse clustering explains most of
        # the corpus variance (see _build_segment); the resolved bool is
        # what the manifest records, so append/compact inherit the decision.
        self.pq_residual = pq_residual if pq_residual == "auto" else bool(pq_residual)
        # vec_format picks the storage layout of the full-resolution
        # column (see IndexManifest.vec_format). "packed_f32" stores the
        # SAME f32 values the list layout stores — one binary cell per row
        # — so every score is bit-identical; it exists because parquet
        # byte-array encode beats list<float> rep-level encode ~9x at
        # d=1024 and the tile shuffle copies flat byte[]s instead of
        # per-element arrays. "list" keeps the legacy array<float> layout.
        if vec_format not in ("packed_f32", "list"):
            raise ValueError(
                f"vec_format must be 'packed_f32' or 'list', got {vec_format!r}"
            )
        self.vec_format = vec_format
        # store_fp32="none" drops the full-resolution column from the index
        # entirely — the reference's storage economics (its on-disk index
        # carries PQ codes + NVQ bytes, never fp32: FeatureId.java:31-36;
        # 115.99 MB at 100k x 1024, 671.testing.md:8-13 — ours was 7.3x
        # that with fp32 replicated across spill copies). Requires
        # rerank="nvq": stage 2 must have a payload to rerank from. Search
        # results are bit-identical to a fat index searched with
        # rerank="nvq" (identical codes/bytes/kernels — the fp32 column is
        # simply never read on that path); exact-score surfaces
        # (threshold_search, rerank="fp32") are refused at call time.
        if store_fp32 not in ("all", "none"):
            raise ValueError(
                f"store_fp32 must be 'all' or 'none', got {store_fp32!r}"
            )
        if store_fp32 == "none" and rerank != "nvq":
            raise ValueError(
                "store_fp32='none' requires rerank='nvq' — without the fp32 "
                "column, NVQ bytes are the only stage-2 payload"
            )
        self.store_fp32 = store_fp32
        # spill > 1 stores each vector in its `spill` nearest partitions
        # (multi-assignment, cf. SOAR/ScaNN spilling): boundary vectors stop
        # being missed when only their second-closest centroid is probed.
        # Storage and encode cost scale by `spill`; search dedups by id.
        # The recall/visited-fraction lever that replaces the reference's
        # graph traversal reach (GraphIndexBuilder diversity/backlinks).
        # Storage economics (r7, measured at the baseline's published
        # 100k x 1024 shape, slim store): spill=1 is 138.6 MB — 1.19x the
        # reference's 115.99 MB — and on that corpus matched spill=2's
        # recall@10 at the same wall (0.7185 vs 0.7154 @ np8), with
        # n_probe buying further recall (0.7862 @ np12). Keep spill=2
        # when probe budgets are tight and storage is cheap; choose
        # spill=1 (or the graph route) when index bytes dominate.
        # spill="auto" resolves that trade at fit() time from the stored
        # per-copy payload (see _resolve_spill); the manifest records the
        # resolved int so append/compact inherit the decision — the same
        # contract as pq_m="auto".
        if spill != "auto" and (not isinstance(spill, int) or spill < 1):
            raise ValueError(f"spill must be a positive int or 'auto', got {spill!r}")
        self.spill = spill if spill == "auto" else max(1, int(spill))

    def _resolve_spill(self, dim: int, pq, nvq) -> int:
        """Resolve spill="auto" from the per-copy stored payload.

        The rule the r7 measurements support (100k x 1024 published-size
        shape vs the d=64 fixtures): when a stored copy is HEAVY (>= 512
        bytes/row — high-dim payloads, storage-dominant regime), double
        assignment buys its recall at too high a byte price and a bigger
        probe budget is the cheaper lever (measured: slim d=1024 spill=1 =
        138.6 MB = 1.19x the reference's 115.99 MB at equal recall@10 via
        np12, vs spill=2's 255.2 MB = 2.2x); when copies are light (d=64:
        ~72-320 B), spill=2 is cheap boundary-vector insurance and stays
        the default. Explicit ints always win."""
        if self.spill != "auto":
            return self.spill
        return 1 if self._copy_bytes(dim, pq, nvq) >= 512 else 2

    def _copy_bytes(self, dim: int, pq, nvq) -> int:
        """Estimated stored bytes of one row copy: fp32 column, NVQ bytes
        + params, stage-1 codes and ~24 bytes of id/part/row overhead."""
        return (
            (0 if self.store_fp32 == "none" else 4 * dim)
            + (dim + 64 if nvq is not None else 0)
            + (pq.m if isinstance(pq, ProductQuantizer) else pq.words * 8)
            + 24
        )

    @classmethod
    def from_manifest(cls, manifest: IndexManifest) -> "IVFIndexBuilder":
        """A builder carrying an existing index's build settings, so an
        ``append`` segment or a ``compact`` rebuild is built exactly like
        the original (``auto`` knobs arrive already resolved). ``seed``,
        ``sample_cap`` and ``kmeans_iterations`` are not recorded in the
        manifest and keep the defaults."""
        return cls(
            metric=manifest.metric,
            n_partitions=manifest.n_partitions,
            pq_m=manifest.pq_m,
            pq_clusters=manifest.pq_clusters,
            spill=manifest.spill,
            rerank=manifest.rerank,
            fine_factor=manifest.fine_factor,
            first_pass=manifest.first_pass,
            anisotropic_threshold=manifest.anisotropic_threshold,
            pq_residual=manifest.pq_residual,
            vec_format=manifest.vec_format,
            store_fp32=manifest.store_fp32,
        )

    def fit(
        self,
        df: DataFrame,
        path: str,
        id_col: str = "id",
        vec_col: str = "vec",
    ) -> "IVFIndex":
        # A rebuild overwrites only data, centroids and codebooks; the old
        # index's tombstones, fine level and graphs would survive and
        # corrupt the new one. An empty or missing dir is fine.
        if os.path.exists(os.path.join(path, "meta.json")):
            raise ValueError(
                f"{path} already holds an index; fit into a new path, or "
                f"load it and use append()/compact()"
            )
        os.makedirs(path, exist_ok=True)
        spark = df.sparkSession
        manifest = self._build_segment(df, path, "seg-000000", id_col, vec_col)
        manifest.save(path)
        return IVFIndex.load(spark, path)

    def _build_segment(
        self,
        df: DataFrame,
        path: str,
        seg_name: str,
        id_col: str,
        vec_col: str,
        manifest: IndexManifest | None = None,
        warm_pq: ProductQuantizer | None = None,
    ) -> IndexManifest:
        """Build one segment in exactly TWO Spark jobs:

        1. fused count + uniform sample (k-means / PQ training set),
        2. assign + encode + partitioned write, with the per-partition
           pruning stats accumulated from the same map stage (max/min
           merges — retry-idempotent) instead of a second full read.

        The centroids/stats table is driver-resident and written
        pyarrow-direct (no job — a Spark write of 44 rows costs ~4.5 s of
        pure overhead, measured r4).
        """
        from jvector_spark.operators.quantize.kmeans import kmeans_pp

        spark = df.sparkSession
        df = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            # Input layouts with fewer splits than cores (one big parquet
            # file -> 2 x 128MB splits) serialize the assign/encode pass —
            # the build's dominant matmuls (measured: a 1M-row build spent
            # most of its wall time on 2 tasks). One round-robin shuffle of
            # (id, vec) buys cores-wide parallelism for both the sample
            # pass and the encode job; at cluster scale inputs have far
            # more splits than cores and this is a no-op. (Sampling the
            # PRE-shuffle lineage was tried — contention-normalized wash:
            # the sample job's cost is Python-side Arrow deserialization
            # of the vec column, which the exchange parallelizes 32-wide,
            # not the 400 MB JVM shuffle it adds.)
            df = df.repartition(par)

        # ---- jobs 1+2: count, then a bounded bottom-k sample fetch ----
        # The cap is sized from what the trainers actually consume
        # (kmeans Lloyd's set 128/centroid, fine_level 16/fine-centroid,
        # codec prefix _CODEC_TRAIN_CAP) instead of always fetching
        # self.sample_cap: at 100k x 1024-d with explicit n_partitions the
        # default 128k cap shipped the ENTIRE corpus to the driver
        # (profiled ~25 s of a 100 s build) to train on at most 65,536
        # rows of it. The sample stays exact-uniform and key-sorted.
        from jvector_spark.operators.sample import bottom_k_sample

        n = int(df.count())
        if n == 0:
            raise ValueError("cannot build an index over an empty DataFrame")
        n_parts = self.n_partitions or max(1, min(MAX_CENTROIDS, int(math.sqrt(max(n, 1)))))
        eff_cap = min(
            self.sample_cap,
            max(
                _CODEC_TRAIN_CAP,
                128 * n_parts,
                16 * self.fine_factor * n_parts,
                20_000,
            ),
        )
        sample = bottom_k_sample(df, eff_cap, self.seed, n)
        dim = sample.shape[1]

        centroids = kmeans_pp(sample, n_parts, self.kmeans_iterations, self.seed)
        # Codec-training view of the sample: the sample is sorted by its
        # uniform bottom-k key (operators/sample.py), so a PREFIX is itself
        # an exact-uniform subsample — 64k rows bound the driver-side PQ
        # fit and the residual/auto statistics (256 codes per subspace
        # saturate long before that; r7: the full-128k passes were ~13 s
        # of the d=1024 build for no measurable codebook quality change,
        # and kmeans_pp caps its own Lloyd's set the same way).
        s_t = sample[: min(len(sample), _CODEC_TRAIN_CAP)]
        train_mat = s_t
        residual = self.pq_residual
        if residual == "auto" or residual:
            # nearest-coarse assignment of the sample (the same rule the
            # encode pass uses for the PRIMARY copy); f32 throughout — the
            # sample is f32 storage values, and mixing dtypes would upcast
            # a full sample-sized copy. r9: routed through the THREADED
            # chunked assigner (kmeans._nearest_chunked) — the inline
            # single GEMM ran on this numpy build's 2-thread BLAS and
            # profiled at 7.3 s of the 1M build's codec-fit phase
            # (guide §5: serial driver data work).
            from jvector_spark.operators.quantize.kmeans import (
                _nearest_chunked,
            )

            c_s = centroids.astype(s_t.dtype)
            a = _nearest_chunked(s_t, c_s, None)
            res = s_t - c_s[a]
            if residual == "auto":
                # Residual codes win exactly when the coarse clustering
                # explains the corpus: codebooks then resolve within-cell
                # spread instead of re-describing the cluster layout. Decide
                # from the sample's explained variance — residual energy vs
                # variance around the global mean. Clustered corpora sit far
                # below the cut (~0.06 on the r6 zipf probe); isotropic
                # Gaussian sits near 1.0. first_pass="bq" has no PQ
                # codebooks, so auto resolves to False there.
                ctr = s_t - s_t.mean(axis=0, keepdims=True, dtype=np.float64).astype(s_t.dtype)
                # per-row norms reduce over d elements (f32-safe); the
                # across-rows mean accumulates in f64
                evar = float(np.mean(np.einsum("ij,ij->i", res, res), dtype=np.float64))
                tvar = float(np.mean(np.einsum("ij,ij->i", ctr, ctr), dtype=np.float64))
                residual = (
                    self.first_pass != "bq"
                    and evar <= _RESIDUAL_AUTO_RATIO * tvar
                )
        if residual:
            # train codebooks in RESIDUAL space: the codebooks see only the
            # within-cell offsets. Residuals are already centered, so the
            # EUCLIDEAN global-centroid shift is redundant here.
            train_mat = res
        if self.first_pass == "bq":
            # BQ stage-1: stateless sign-bit codec, nothing to train (ref
            # BinaryQuantization.java:88-111)
            from jvector_spark.operators.quantize.bq import BinaryQuantizer

            pq = BinaryQuantizer(dim=dim)
        elif (
            warm_pq is not None
            and isinstance(warm_pq, ProductQuantizer)
            and warm_pq.dim == dim
            and self.pq_m in ("auto", warm_pq.m)
        ):
            # PQRetrainer analog (ref PQRetrainer.java:42-89): fine-tune the
            # existing codebooks on the fresh sample instead of retraining
            # from scratch — fewer Lloyd's rounds, no codebook churn across
            # compactions.
            pq = warm_pq.refine(train_mat, iterations=2, seed=self.seed)
        else:
            fit_kw = dict(
                clusters=self.pq_clusters,
                center=(self.metric == "EUCLIDEAN" and not residual),
                iterations=self.kmeans_iterations, seed=self.seed,
                anisotropic_threshold=self.anisotropic_threshold,
            )
            if self.pq_m == "auto":
                # resolve m from the training sample the way
                # pq_residual="auto" resolves (data-driven, recorded as a
                # plain int in the manifest so append/compact inherit it):
                # start at the divisor of dim nearest dim/8 and DOUBLE
                # while the sample reconstruction error stays above
                # _PQM_AUTO_RELERR x the training variance — finer codes
                # exactly where the corpus geometry defeats coarse ones
                # (r6 measured m16 clearing the published recall@100
                # points where m8 plateaued, on this rule's decision
                # boundary). Cost: the trial fits run on the driver-side
                # sample only; the accepted fit IS the codebook used.
                m = _pqm_auto_start(dim)
                ctr = train_mat - train_mat.mean(
                    axis=0, keepdims=True, dtype=np.float64
                ).astype(train_mat.dtype)
                tvar = float(
                    np.mean(np.einsum("ij,ij->i", ctr, ctr), dtype=np.float64)
                )
                while True:
                    pq = ProductQuantizer.fit_numpy(train_mat, m=m, **fit_kw)
                    err = train_mat - pq.decode_numpy(
                        pq.encode_numpy(train_mat)
                    ).astype(train_mat.dtype)
                    mse = float(
                        np.mean(np.einsum("ij,ij->i", err, err), dtype=np.float64)
                    )
                    if (
                        mse <= _PQM_AUTO_RELERR * max(tvar, 1e-30)
                        or 2 * m > min(128, dim // 2)
                        or dim % (2 * m) != 0
                    ):
                        break
                    m *= 2
            else:
                pq = ProductQuantizer.fit_numpy(
                    train_mat, m=self.pq_m, **fit_kw
                )

        seg_dir = os.path.join(path, "segments", seg_name)
        os.makedirs(seg_dir, exist_ok=True)

        nvq = None
        if self.rerank == "nvq":
            from jvector_spark.operators.quantize.nvq import NVQuantizer

            # coarse grid only: NVQ here is the rerank-resolution codec
            # (per-row relative error already ~1e-5); the fine-refinement
            # stage costs ~1.7x encode wall, which sits on the build
            # headline (100k x 1024 slim build) for a recall effect below
            # measurement noise. Standalone codec users keep the refined
            # default; decode is self-describing either way.
            nvq = NVQuantizer(dim=dim, refine=())
        fine = None
        fine_of = None
        if self.fine_factor > 0:
            from jvector_spark.operators.quantize.kmeans import fine_level

            n_fine = int(
                min(self.fine_factor * n_parts, 65536, max(16, len(sample) // 4))
            )
            # hierarchical per-cell training (see fine_level); the owner map
            # makes row assignment hierarchically too (below). Trained on a
            # uniform prefix of the key-sorted sample — >= 16 rows per fine
            # centroid (floor 20k); the full-sample pass was ~7 s of the
            # d=1024 build for no quality change (per-cell means saturate)
            f_cap = min(len(sample), max(16 * n_fine, 20_000))
            fine, fine_owner = fine_level(
                sample[:f_cap], centroids, n_fine,
                self.kmeans_iterations, self.seed + 1,
            )
            # per-coarse-cell fine-centroid index lists for hierarchical
            # assignment (ragged; cells unseen in the sample get an empty
            # list and their rows fall back to the global argmin).
            fine_of = [
                np.flatnonzero(fine_owner == c) for c in range(len(centroids))
            ]
        b = spark.sparkContext.broadcast((centroids, pq, nvq, fine, fine_of))
        # per-partition pruning stats (X4/ScoreTracker analog): Euclidean
        # radius, angular radius, max/min norm — rigorous score bounds let
        # threshold_search skip partitions that provably contain no match.
        acc = spark.sparkContext.accumulator({}, _PartStatsParam())
        cnt_acc = spark.sparkContext.accumulator({}, _TaskPartCountParam())

        spill_resolved = self._resolve_spill(dim, pq, nvq)
        spill = max(1, min(spill_resolved, len(centroids)))
        fa_cells = max(spill, _FINE_ASSIGN_CELLS)
        packed = self.vec_format == "packed_f32"
        slim = self.store_fp32 == "none"  # no fp32 column written at all

        def assign_encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            cents, codec, nvq_codec, fine_cents, fine_of_ = b.value
            # candidate selection + codec encode run in f32 (the values
            # being stored ARE f32, so f32 reads are lossless; BLAS moves
            # half the bytes). The pruning STATS below stay f64 arithmetic
            # over the same f32 values — their max/min must cover what
            # search's f64 kernels later compute, exactly.
            cents32 = cents.astype(np.float32)
            cc32 = np.einsum("ij,ij->i", cents32, cents32)
            cc = np.einsum("ij,ij->i", cents, cents)
            cn = np.sqrt(cc)
            task_counts: dict[int, int] = {}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = kernels.as_matrix(pdf["vec"], dtype=np.float32)
                d = -2.0 * x @ cents32.T + cc32[None, :]  # dist^2 - ||x||^2 (argmin-safe)
                if spill == 1:
                    pm = np.argmin(d, axis=1)[:, None]
                else:
                    pm = np.argpartition(d, spill - 1, axis=1)[:, :spill]
                rep = np.repeat(np.arange(len(x)), spill)
                p = pm.ravel()  # partition of each stored copy
                # stats on the float32 values that will actually be stored,
                # so the bounds hold exactly for what search later reads.
                # PRIMARY copies only (r5): a spilled second-choice copy can
                # land far from its partition's centroid and blow the
                # radius/angle stats up to inter-cluster scale, collapsing
                # threshold pruning to nothing (measured: the 100k near-dup
                # search scored ~every (query, partition) pair). Pruning on
                # primary-member bounds stays EXACT: every row's primary
                # partition bound covers it, so any row with score >= t is
                # found there; spilled copies in pruned partitions are the
                # same rows (search dedups by id).
                # r9 optimization (guide §1.2 "don't compute things you
                # throw away"): the stats pass used to run a SECOND full
                # (n, k) f64 GEMM just to gather the assigned columns —
                # profiled at ~1/3 of the encode task's CPU at d=1024.
                # Only the per-copy dot with ITS assigned centroid is
                # needed: O(n·spill·d) einsum instead of O(n·k·d) GEMM.
                # The per-partition maxima then reduce via ONE sort +
                # reduceat instead of a Python loop over unique parts.
                # Same f64 arithmetic over the same stored f32 values
                # (summation order differs at the ulp level; oracle- and
                # parity-verified — the bounds remain covering because
                # search recomputes scores, never reuses these dots).
                x64 = x.astype(np.float64)  # x is already the stored f32 values
                xx = np.einsum("ij,ij->i", x64, x64)
                xn = np.sqrt(xx)
                dot_pc = np.einsum("ij,ij->i", x64[rep], cents[p])
                r2 = np.maximum(xx[rep] - 2.0 * dot_pc + cc[p], 0.0)
                cosang = dot_pc / np.maximum(xn[rep] * cn[p], 1e-30)
                ang = np.arccos(np.clip(cosang, -1.0, 1.0))
                if spill == 1:
                    primary = np.ones(len(rep), dtype=bool)
                else:
                    d_sel = cc[p] - 2.0 * dot_pc  # dist^2 - ||x||^2, per copy
                    prim_col = np.argmin(d_sel.reshape(len(x), spill), axis=1)
                    primary = np.zeros(len(rep), dtype=bool)
                    primary[np.arange(len(x)) * spill + prim_col] = True
                xnr = xn[rep]
                order_p = np.argsort(p, kind="stable")
                ps = p[order_p]
                starts_p = np.flatnonzero(np.r_[True, ps[1:] != ps[:-1]])
                uniq_p = ps[starts_p]
                prim_s = primary[order_p]
                r2_max = np.maximum.reduceat(
                    np.where(prim_s, r2[order_p], -np.inf), starts_p
                )
                ang_max = np.maximum.reduceat(
                    np.where(prim_s, ang[order_p], -np.inf), starts_p
                )
                xn_max = np.maximum.reduceat(
                    np.where(prim_s, xnr[order_p], -np.inf), starts_p
                )
                xn_min = np.minimum.reduceat(
                    np.where(prim_s, xnr[order_p], np.inf), starts_p
                )
                has_prim = np.maximum.reduceat(
                    prim_s.astype(np.float64), starts_p
                )
                cnts_p = np.diff(np.r_[starts_p, len(ps)])
                stats = {}
                for i, part in enumerate(uniq_p):
                    if has_prim[i] > 0:
                        stats[int(part)] = (
                            float(np.sqrt(r2_max[i])),
                            float(ang_max[i]),
                            float(xn_max[i]),
                            float(xn_min[i]),
                            1.0,
                        )
                    else:
                        # spilled-copies-only in this task: vacuous stats
                        # (identity under max/max/max/min merge), no primary
                        stats[int(part)] = (0.0, 0.0, 0.0, np.inf, 0.0)
                acc.add(stats)
                for part, cnt in zip(uniq_p, cnts_p):
                    task_counts[int(part)] = task_counts.get(int(part), 0) + int(cnt)
                rsq = None
                if residual:
                    # per-COPY residual codes: a spilled copy's residual is
                    # taken from ITS partition's centroid, so the ADC
                    # decomposition q·c_p + LUT-gather holds for every
                    # stored copy. rsq = ‖c_p + decode(codes)‖² — the
                    # reconstructed magnitude stage-1 L2/cosine needs.
                    res = x[rep] - cents32[p]
                    rcodes = codec.encode_numpy(res)
                    recon = codec.decode_numpy(rcodes) + cents[p]
                    rsq = np.einsum("ij,ij->i", recon, recon).astype(np.float32)
                    codes_rows = [c.tobytes() for c in rcodes]
                else:
                    codes = codec.encode_numpy(x)
                    code_bytes = [c.tobytes() for c in codes]
                    codes_rows = [code_bytes[i] for i in rep]
                # dict order MUST mirror the output schema (mapInPandas
                # matches columns positionally)
                out = {"id": pdf["id"].to_numpy(dtype=np.int64)[rep]}
                if not slim:
                    if packed:
                        # x IS the f32 values the list layout would store
                        # (Arrow casts to float on write either way)
                        out["vec"] = pd.Series([x[i].tobytes() for i in rep])
                    else:
                        out["vec"] = pdf["vec"].iloc[rep].reset_index(drop=True)
                out["codes"] = codes_rows
                out["part_id"] = p.astype(np.int32)
                if nvq_codec is not None:
                    nvq_codes, nvq_params = nvq_codec.encode_numpy(x)
                    nvq_bytes = [c.tobytes() for c in nvq_codes]
                    out["nvq"] = [nvq_bytes[i] for i in rep]
                    out["nvq_params"] = [nvq_params[i] for i in rep]
                if fine_cents is not None:
                    # candidate fine cells come from the row's fa_cells
                    # nearest coarse cells (>= its spill set), not just the
                    # stored copies' cells — wider candidates close the gap
                    # to the global argmin at ~cells/n_parts of the global
                    # cost
                    cc_n = cents.shape[0]
                    if fa_cells >= cc_n:
                        cand = np.tile(np.arange(cc_n), (len(x), 1))
                    else:
                        cand = np.argpartition(d, fa_cells - 1, axis=1)[
                            :, :fa_cells
                        ]
                    sub = _assign_fine_hierarchical(x, cand, fine_cents, fine_of_)
                    out["sub_id"] = sub.astype(np.int32)[rep]
                if rsq is not None:  # keep column order aligned with schema
                    out["rsq"] = rsq
                if spill > 1:
                    # r9: persist the first-choice flag the stats pass
                    # already computes, so every "one copy per id" consumer
                    # (vectors(), compaction's merge input) is a map-side
                    # filter instead of a corpus-wide dropDuplicates
                    # shuffle (guide §2.4).
                    out["is_primary"] = primary
                yield pd.DataFrame(out)
            # ONE add per task, after the batch loop (pid-keyed overwrite
            # merge -> retry-idempotent; see _TaskPartCountParam)
            ctx = TaskContext.get()
            cnt_acc.add({(ctx.partitionId() if ctx else 0): task_counts})

        schema = _DATA_SCHEMA
        if packed:
            schema = schema.replace("vec array<float>", "vec binary")
        if slim:
            schema = schema.replace("vec binary, ", "").replace(
                "vec array<float>, ", ""
            )
        if nvq is not None:
            schema = schema.replace(
                ", part_id int", ", part_id int, nvq binary, nvq_params array<double>"
            )
        if fine is not None:
            schema += ", sub_id int"
        if residual:
            schema += ", rsq float"
        if spill > 1:
            schema += ", is_primary boolean"
        data = df.mapInPandas(assign_encode, schema=schema)
        # Size the write shuffle to the data, not the cluster default: one
        # task per ~128 MB of (vec + codes) payload. At sf0.1 that is ONE
        # task (tiny index builds stop paying 32-task × 44-dir small-file
        # overhead); at 100 TB it is thousands, all clustered by part_id.
        est_bytes = n * spill * self._copy_bytes(dim, pq, nvq)
        n_write_tasks = int(min(max(1, est_bytes // (128 << 20) + 1), 4096))
        # A single task writing hundreds of part_id dirs serializes on file
        # open/commit (measured: ~60 s of a 100k-row build). Once the
        # payload is non-trivial, give the write one task per core (hash on
        # part_id -> still exactly ONE file per partition dir); tiny builds
        # keep 1 task (their cost IS the per-task overhead).
        if est_bytes > (16 << 20):
            n_write_tasks = max(
                n_write_tasks,
                min(len(centroids), spark.sparkContext.defaultParallelism),
            )
        # ---- job 2: encode + partitioned write (stats ride the map stage) ----
        shuffled = data.repartition(n_write_tasks, "part_id")
        if fine is not None:
            # cluster row groups by sub_id so parquet min/max stats prune
            # a pushed `sub_id IN (...)` probe filter at read time
            shuffled = shuffled.sortWithinPartitions("part_id", "sub_id")
        (
            shuffled.write.mode("overwrite")
            .partitionBy("part_id")
            .parquet(os.path.join(seg_dir, "data.parquet"))
        )

        stat_rows = acc.value
        part_counts = np.zeros(len(centroids), dtype=np.int64)
        for task_map in cnt_acc.value.values():
            for part, cnt in task_map.items():
                part_counts[part] += cnt
        # ---- tiny centroids+stats write: driver-resident, pyarrow-direct
        # (no Spark job; see _write_small_parquet) ----
        import pyarrow as pa

        k_c = len(centroids)
        stats4 = [stat_rows.get(i, (0.0, 0.0, 0.0, 0.0, 0.0)) for i in range(k_c)]
        _write_small_parquet(
            os.path.join(seg_dir, "centroids.parquet"),
            pa.table(
                {
                    "part_id": pa.array(range(k_c), pa.int32()),
                    "centroid": pa.array(
                        [centroids[i].tolist() for i in range(k_c)],
                        pa.list_(pa.float64()),
                    ),
                    "radius": pa.array([s[0] for s in stats4], pa.float64()),
                    "ang_radius": pa.array([s[1] for s in stats4], pa.float64()),
                    "max_norm": pa.array([s[2] for s in stats4], pa.float64()),
                    "min_norm": pa.array([s[3] for s in stats4], pa.float64()),
                    # has_rows = ANY stored copy (top-k probe-ability);
                    # has_primary gates the threshold score BOUNDS, whose
                    # stats cover primary copies only (see _PartStatsParam)
                    "has_rows": pa.array([i in stat_rows for i in range(k_c)]),
                    "has_primary": pa.array(
                        [stat_rows.get(i, (0,) * 5)[4] > 0 for i in range(k_c)]
                    ),
                    # stored copies per partition (spill included), summed
                    # from the write job's map stage — graph-build bins and
                    # the distributed scan's partition filter read these
                    # instead of re-scanning the index
                    "n_stored": pa.array(part_counts, pa.int64()),
                }
            ),
        )
        if fine is not None:
            _write_small_parquet(
                os.path.join(seg_dir, "fine_centroids.parquet"),
                pa.table(
                    {
                        "sub_id": pa.array(range(len(fine)), pa.int32()),
                        "centroid": pa.array(
                            [fine[i].tolist() for i in range(len(fine))],
                            pa.list_(pa.float64()),
                        ),
                    }
                ),
            )
        pq.save(os.path.join(seg_dir, "pq"))

        if manifest is None:
            manifest = IndexManifest(
                dim=dim, metric=self.metric,
                pq_m=(
                    pq.m
                    if isinstance(pq, ProductQuantizer)
                    else (self.pq_m if isinstance(self.pq_m, int) else _pqm_auto_start(dim))
                ),
                pq_clusters=self.pq_clusters, n_partitions=self.n_partitions,
                spill=spill_resolved, rerank=self.rerank, fine_factor=self.fine_factor,
                first_pass=self.first_pass,
                anisotropic_threshold=self.anisotropic_threshold,
                pq_residual=residual,
                vec_format=self.vec_format,
                store_fp32=self.store_fp32,
            )
        manifest.segments.append(
            SegmentInfo(name=seg_name, n_rows=n, n_partitions=int(len(centroids)))
        )
        return manifest


def _persist_assignment(assigned: DataFrame) -> DataFrame:
    """Materialize-once storage for a distributed probe-assignment pass
    that is read twice: the two-level fine-sub union job, then the probe
    exchange. No other call persists its assignment.

    Replaces ``localCheckpoint(eager=False)`` (r7, the 10M driver-heap
    lever): localCheckpoint stores the RDD's deserialized Java row
    objects, so a zipf-hot assignment block inflates to many times its
    on-wire size and a 10M-row threshold dedup OOMed a 16 GB driver
    (r6 measurement; needed 64 GB). DataFrame ``persist`` instead caches
    Tungsten COLUMNAR COMPRESSED batches with disk spill
    (MEMORY_AND_DISK), built incrementally per partition — the same
    evaluate-once guarantee at a fraction of the heap, and lineage is
    retained so an evicted block recomputes instead of failing the query
    (on a real cluster, executor loss no longer kills the search). Nothing
    unpersists it: blocks stay cached until the session ends or the
    cache evicts them."""
    from pyspark.storagelevel import StorageLevel

    return assigned.persist(StorageLevel.MEMORY_AND_DISK)


def _centroid_dist2(qmat: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """(nq, n_cells) squared query-centroid distances, accumulated as
    (-2*q@c + cc) + qq. Every route's probe selection goes through here,
    so dist^2 — and with it probe_ratio's keep/drop of a boundary probe —
    is bit-identical across routes (r6 ADVICE). The association order is
    part of the result: changing it can move boundary probes."""
    return np.maximum(
        (-2.0 * qmat @ cents.T + np.einsum("ij,ij->i", cents, cents)[None, :])
        + np.einsum("ij,ij->i", qmat, qmat)[:, None],
        0.0,
    )


def _probe_depth(info: dict, n_probe: int) -> int:
    """Probes per query: ``n_probe`` clamped to the segment's non-empty
    cells (at least one)."""
    return max(1, min(int(n_probe), int(info["has_rows"].sum())))


def _select_probes(
    info: dict, qmat: np.ndarray, n_probe: int, probe_ratio: float | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """The top-k probe rule of every search route — the driver-side plan
    of the broadcast stage, ``probe_io_stats`` and tuning, and the
    map-side assignment pass of distributed IVF search and every graph
    search, so all routes probe identically.

    Each query probes its ``_probe_depth`` nearest non-empty centroids.
    (Bound-ranked probing was tried and measured WORSE for top-k recall:
    the score bound describes the best single vector a partition could
    hold — outlier-driven — while top-k recall wants partitions dense in
    near neighbors, which centroid distance proxies better. Bounds still
    drive threshold pruning, where they are exact.) The selection is an
    argpartition; only the kept columns are sorted, by (dist^2, cell id),
    so ties order the same way everywhere.

    ``probe_ratio`` (adaptive probe depth, the zipf-1.5 lever) keeps only
    probes within probe_ratio x the query's nearest centroid distance —
    n_probe becomes the CAP. A query inside a k-means-split mega-cluster
    sees many near-equidistant centroids and keeps them all; an isolated
    query keeps one or two. dist^2 includes the query norm, so the
    relative rule is scale-free; the nearest probe is always kept.

    Returns ``(probe, keep)``: (nq, depth) centroid ids nearest-first and
    the (nq, depth) keep mask (all true without ``probe_ratio``)."""
    d2 = _centroid_dist2(qmat, info["centroids"])
    d2[:, ~info["has_rows"]] = np.inf
    depth = _probe_depth(info, n_probe)
    sel = np.argpartition(d2, depth - 1, axis=1)[:, :depth]
    dt = np.take_along_axis(d2, sel, axis=1)
    order = np.lexsort((sel, dt), axis=1)
    probe = np.take_along_axis(sel, order, axis=1)
    dt = np.take_along_axis(dt, order, axis=1)
    keep = np.isfinite(dt)
    if probe_ratio is not None:
        # RELATIVE epsilon: an absolute 1e-12 is below one ulp of a
        # large dist^2, so it could not absorb any rounding at scale
        keep &= dt <= dt[:, :1] * (probe_ratio**2) * (1.0 + 1e-9)
    return probe, keep


def _threshold_probes(
    info: dict, qmat: np.ndarray, metric: str, threshold: float
) -> tuple[np.ndarray, np.ndarray]:
    """The threshold probe rule of both threshold routes: ``(qi, pi)``,
    every (query position, partition) pair whose rigorous score bound
    (``_partition_score_bounds``) reaches ``threshold``, in query order."""
    bound, _ = _partition_score_bounds(info, qmat, metric)
    return np.nonzero(bound + 1e-9 >= threshold)  # -inf = empty partition


def _part_queries(qi: np.ndarray, pi: np.ndarray) -> dict[int, np.ndarray]:
    """part_id (ascending) -> ascending int64 query positions, from
    (query, partition) pairs in query order (``np.nonzero(keep)[0],
    probe[keep]`` for top-k probes) — the broadcast stage's routing
    table."""
    order = np.argsort(pi, kind="stable")
    parts, starts = np.unique(pi[order], return_index=True)
    return dict(zip(parts.tolist(), np.split(qi[order].astype(np.int64), starts[1:])))


def _threshold_hits(
    metric: str,
    threshold: float,
    q_ids: np.ndarray,
    q_mat: np.ndarray,
    ids: np.ndarray,
    x: np.ndarray,
) -> pd.DataFrame:
    """The exact fp32 "score >= t" kernel of both threshold routes: every
    (query, row) pair of the block scoring at or above ``threshold``. The
    query axis is chunked so the score matrix stays bounded."""
    frames = [empty_hits()]
    for lo in range(0, len(q_ids), 512):
        scores = kernels.similarity(metric, q_mat[lo : lo + 512], x)
        qi, ri = np.nonzero(scores >= threshold)
        frames.append(
            pd.DataFrame(
                {"qid": q_ids[lo : lo + 512][qi], "id": ids[ri], "score": scores[qi, ri]}
            )
        )
    return pd.concat(frames, ignore_index=True)


def _read_part(table_dir: str, part: int, columns, filters=None) -> pd.DataFrame | None:
    """One ``part_id=`` directory of a segment table (index data or graph
    edges), read with pyarrow: only ``columns`` of each part file, in
    sorted file order (what ``read_table`` on the directory returns,
    without building a dataset per call). ``filters`` is a list of
    ``(column, "in", values)``: row groups whose min/max stats miss the
    values are skipped, then rows are masked exactly. None when the
    partition has no directory. The hive key lives in the directory name,
    so ``part_id`` is not a column here."""
    import pyarrow as pa
    import pyarrow.parquet as papq

    path = os.path.join(table_dir, f"part_id={int(part)}")
    if not os.path.exists(path):
        return None
    columns = list(columns)
    wanted = [(c, np.unique(np.asarray(list(v)))) for c, _, v in filters or ()]
    need = columns + [c for c, _ in wanted if c not in columns]
    tables = []
    for name in sorted(os.listdir(path)):
        if name.startswith((".", "_")):  # read_table's ignored prefixes
            continue
        pf = papq.ParquetFile(os.path.join(path, name))
        if not wanted:
            tables.append(pf.read(columns))
            continue
        meta = pf.metadata
        groups = [
            g for g in range(meta.num_row_groups)
            if all(_row_group_may_hold(meta.row_group(g), c, v) for c, v in wanted)
        ]
        t = pf.read_row_groups(groups, columns=need)
        for c, v in wanted:
            t = t.filter(pa.array(np.isin(t.column(c).to_numpy(), v)))
        tables.append(t.select(columns))
    if not tables:
        return None
    return pa.concat_tables(tables).to_pandas()


def _row_group_may_hold(rg, col: str, vals: np.ndarray) -> bool:
    """False when a row group's min/max statistics of ``col`` hold none of
    the sorted ``vals``."""
    for j in range(rg.num_columns):
        meta = rg.column(j)
        if meta.path_in_schema != col:
            continue
        st = meta.statistics
        if st is None or not st.has_min_max:
            return True
        at = np.searchsorted(vals, st.min)
        return bool(at < len(vals) and vals[at] <= st.max)
    return True


def _read_tombstones(path: str | None) -> np.ndarray | None:
    """The sorted tombstoned ids of ``tombstones.parquet`` (``id`` only),
    or None when ``path`` is None (the index has no tombstones)."""
    import pyarrow.parquet as papq

    if path is None:
        return None
    return np.unique(papq.read_table(path, columns=["id"]).column("id").to_numpy())


def _is_member(ids: np.ndarray, sorted_vals: np.ndarray) -> np.ndarray:
    """``ids`` found in the sorted array ``sorted_vals`` (one binary search
    per id, so a large tombstone or accept set is never re-sorted)."""
    if not len(sorted_vals):
        return np.zeros(len(ids), dtype=bool)
    at = np.minimum(np.searchsorted(sorted_vals, ids), len(sorted_vals) - 1)
    return sorted_vals[at] == ids


def _query_chunks(qids: np.ndarray, near: np.ndarray, n: int) -> np.ndarray:
    """Chunk index (0..n-1) of every query position: the distinct qids,
    ordered by (nearest centroid ``near`` of their first position, qid),
    cut into ``n`` contiguous runs. Neighbouring queries probe overlapping
    partitions, so a chunk reads fewer of them; positions sharing a qid
    share a chunk, so a chunk ranks each of its qids alone."""
    uq, first, inv = np.unique(qids, return_index=True, return_inverse=True)
    chunk = np.empty(len(uq), dtype=np.int64)
    for c, run in enumerate(np.array_split(np.lexsort((uq, near[first])), n)):
        chunk[run] = c
    return chunk[inv]


def _live_rows(rows: pd.DataFrame, dead, *accepted) -> pd.DataFrame:
    """``rows`` (a partition read or a hit frame) minus the tombstoned ids
    ``dead`` and the ids missing from any ``accepted`` array; each is a
    sorted id array or None (no filter)."""
    ids = rows["id"].to_numpy(dtype=np.int64)
    keep = np.ones(len(ids), dtype=bool)
    if dead is not None:
        keep &= ~_is_member(ids, dead)
    for acc in accepted:
        if acc is not None:
            keep &= _is_member(ids, acc)
    return rows if keep.all() else rows[keep]


def _chunk_rows(call: dict, c: int):
    """``(plan, part_id, rows, qsel)`` for every partition that chunk
    ``c``'s queries probe (``IVFIndex._probe_stage``): the partition read
    with ``_read_part``, minus tombstoned rows (``_read_tombstones``, once
    per chunk) and rows outside the accept sets; ``qsel`` is
    the chunk's probing query positions, ascending. The IVF routes' plans
    hold ``dir`` (the segment's data table), ``p2q``, the read's ``cols``
    and ``filters`` and optionally ``accepted`` (``_accepted_ids``)."""
    accept = call.get("accept_list")
    dead = _read_tombstones(call["tombstones"])
    in_chunk = call["chunk_of"] == c
    for plan in call["plans"]:
        for part, pos in plan["p2q"].items():
            qsel = pos[in_chunk[pos]]
            rows = (
                _read_part(plan["dir"], part, plan["cols"], plan["filters"])
                if len(qsel) else None
            )
            if rows is None:
                continue
            rows = _live_rows(
                rows, dead, accept,
                plan["accepted"].get(part, np.empty(0, np.int64)) if "accepted" in plan else None,
            )
            if len(rows):
                yield plan, part, rows, qsel


def _sorted_groups(
    batches: Iterator[pd.DataFrame], cols: list[str]
) -> Iterator[tuple[tuple, pd.DataFrame]]:
    """(key, rows) per run of equal ``cols`` in a stream of frames sorted
    on ``cols``; a run that spans frames is joined before it is yielded."""
    held, held_key = [], None
    for pdf in batches:
        if len(pdf) == 0:
            continue
        keys = pdf[cols].to_numpy()
        cuts = np.flatnonzero((keys[1:] != keys[:-1]).any(axis=1)) + 1
        for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(pdf)]):
            key = tuple(int(v) for v in keys[lo])
            if held and key != held_key:
                yield held_key, pd.concat(held, ignore_index=True)
                held = []
            held_key = key
            held.append(pdf.iloc[lo:hi])
    if held:
        yield held_key, pd.concat(held, ignore_index=True)


def _group_scorer(b, tel_acc):
    """Distributed IVF search's per-task function on ``_probe_exchange``,
    bound to one segment's broadcast ``b``: per ``part_id`` group it reads
    the partition (``_read_part``), drops tombstoned rows and rows outside
    the group's ``acc`` ids, and scores the group's queries against the
    rest (``_tile_topk``, or ``_threshold_hits`` with ``part_id``)."""

    def score_groups(groups, dead) -> Iterator[pd.DataFrame]:
        codec, met, k, rerank_k, thr, nvq_c, n_fine, cents, table, cols, filt = b.value
        for (part, *_), g in groups:
            accepted = None
            if "acc" in g:
                acc = g["acc"].to_numpy(dtype=bool)
                accepted = np.unique(g["qid"].to_numpy(dtype=np.int64)[acc])
                g = g[~acc]
            rows = _read_part(table, part, cols, filt) if len(g) else None
            if rows is None:
                continue
            rows = _live_rows(rows, dead, accepted)
            if not len(rows):
                continue
            if thr is not None:
                yield _threshold_hits(
                    met, thr, g["qid"].to_numpy(dtype=np.int64),
                    kernels.as_matrix(g["vec"]),
                    rows["id"].to_numpy(dtype=np.int64), kernels.as_matrix(rows["vec"]),
                ).assign(part_id=np.int32(part))
                continue
            yield _tile_topk(
                g.rename(columns={"qid": "rid"}), rows.rename(columns={"id": "rid"}),
                codec, met, k, rerank_k, nvq_c,
                res_cent=cents[part] if cents is not None else None,
                n_fine=n_fine, counters=tel_acc,
            )

    return score_groups


def _rank_hits(hits: pd.DataFrame, k: int, spill: int) -> pd.DataFrame:
    """``_merge_topk`` inside one task that holds every query position of
    its qids: drop spilled copies (identical rows, ``spill > 1``), then
    rank each qid by score desc, id asc and keep ranks ``<= k``."""
    if spill > 1:
        hits = hits.drop_duplicates(["qid", "id"])
    q = hits["qid"].to_numpy(dtype=np.int64)
    i = hits["id"].to_numpy(dtype=np.int64)
    s = hits["score"].to_numpy(dtype=np.float64)
    order = np.lexsort((i, -s, q))
    q, i, s = q[order], i[order], s[order]
    pos = np.arange(len(q))
    starts = np.flatnonzero(np.diff(q, prepend=q[:1] - 1))
    rank = pos - np.repeat(starts, np.diff(np.append(starts, len(q)))) + 1
    keep = rank <= k
    return pd.DataFrame(
        {"qid": q[keep], "id": i[keep], "score": s[keep],
         "rank": rank[keep].astype(np.int32)}
    )


def _merge_topk(parts: list[DataFrame], k: int, spill: int) -> DataFrame:
    """Final merge of per-segment (qid, id, score) candidates: J6 segment
    union, the U3 visited-set dedup across spilled copies (identical
    rows), then the per-query top-k window.

    The dedup repartitions by qid FIRST so the dedup aggregate and the
    top-k window share ONE exchange: hash(qid) satisfies the aggregate's
    (qid, id) clustering requirement, and the aggregate preserves it for
    the window — the plain dropDuplicates paid Exchange(qid, id) +
    Exchange(qid) back to back (guide §2.4; duplicates only arise across
    part_id groups, mostly across tasks, so the lost map-side partial
    dedup was removing ~nothing)."""
    scanned = parts[0]
    for d in parts[1:]:
        scanned = scanned.unionByName(d)
    if spill > 1:
        scanned = scanned.repartition("qid").dropDuplicates(["qid", "id"])
    return _rank_topk(scanned, k)


def _merge_threshold(parts: list[DataFrame], spill: int) -> DataFrame:
    """Threshold-route merge of per-segment (qid, id, score, part_id)
    hits: segment union, then the spill dedup as a plain aggregate ON
    PURPOSE (no repartition("qid") first): unlike the k-NN routes, no qid
    window follows the dedup here, so there is no downstream exchange to
    share — forcing one would ADD a shuffle (r9 ADVICE asked for this
    asymmetry to be documented, not "fixed"). The two copies of a spilled
    pair can differ in the score's last bit (each partition's GEMM rounds
    on its own), so the dedup keeps the copy of the lowest (segment,
    part_id), as the broadcast route's task does."""
    out = parts[0].withColumn("seg", F.lit(0))
    for s, d in enumerate(parts[1:], 1):
        out = out.unionByName(d.withColumn("seg", F.lit(s)))
    if spill > 1:
        return out.groupBy("qid", "id").agg(
            F.min_by("score", F.struct("seg", "part_id")).alias("score")
        )
    return out.select("qid", "id", "score")


def _partition_score_bounds(
    info: dict, qmat: np.ndarray, metric: str
) -> tuple[np.ndarray, np.ndarray]:
    """Rigorous per-(query, partition) upper bound on the achievable
    similarity score, from the centroid plus stored radius / angular-radius
    / norm stats (X4/ScoreTracker analog — but a hard bound, not the
    reference's probabilistic stop). Returns (bounds, centroid_dist2);
    partitions without PRIMARY members are -inf (their stats are vacuous —
    see _PartStatsParam — and every row they hold is covered by its primary
    partition's bound, so pruning them keeps threshold search exact while
    skipping pure-duplicate IO). Used both to rank probes (best-first,
    branch-and-bound style) and to prune threshold queries exactly.

    EUCLIDEAN:   d(q,x) >= max(0, ||q-c|| - r)          -> 1/(1+d^2)
    COSINE:      angle(q,x) >= max(0, angle(q,c)-theta)  -> (1+cos)/2
    DOT_PRODUCT: dot(q,x) <= ||q|| * (cmax>=0 ? maxN : minN) * cmax
    """
    cents: np.ndarray = info["centroids"]
    qn = np.linalg.norm(qmat, axis=1)
    cn = np.linalg.norm(cents, axis=1)
    d2 = _centroid_dist2(qmat, cents)
    if metric == "EUCLIDEAN":
        dmin = np.maximum(np.sqrt(d2) - info["radius"][None, :], 0.0)
        bound = 1.0 / (1.0 + dmin**2)
    else:
        cosqc = (qmat @ cents.T) / np.maximum(qn[:, None] * cn[None, :], 1e-30)
        angqc = np.arccos(np.clip(cosqc, -1.0, 1.0))
        amin = np.maximum(angqc - info["ang_radius"][None, :], 0.0)
        cmax = np.cos(amin)
        if metric == "COSINE":
            bound = (1.0 + cmax) / 2.0
        else:  # DOT_PRODUCT
            # dot(q,x) <= ||q|| * ||x|| * cmax. When cmax >= 0 the bound
            # is maximized by the LARGEST norm in the partition; when
            # cmax < 0 a negative cosine times the largest norm would
            # UNDERestimate the achievable score (a small-norm vector
            # scores ~0.5) — use the stored min norm there instead.
            norm_for_bound = np.where(
                cmax >= 0.0, info["max_norm"][None, :], info["min_norm"][None, :]
            )
            bound = (1.0 + qn[:, None] * norm_for_bound * cmax) / 2.0
    bound[:, ~info.get("has_primary", info["has_rows"])] = -np.inf
    return bound, d2


class IVFIndex:
    """Loaded index: search / delete / append / compact / stats."""

    def __init__(self, spark: SparkSession, path: str, manifest: IndexManifest):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self._segments: dict[str, dict] = {}
        for seg in manifest.segments:
            self._load_segment_meta(seg.name)

    def _load_segment_meta(self, seg_name: str) -> None:
        seg_dir = os.path.join(self.path, "segments", seg_name)
        cdf = self.spark.read.parquet(os.path.join(seg_dir, "centroids.parquet"))
        cents = cdf.collect()
        arr = np.zeros((len(cents), self.manifest.dim), dtype=np.float64)
        has_stats = "radius" in cdf.columns
        has_min = "min_norm" in cdf.columns
        radius = np.zeros(len(cents))
        ang = np.full(len(cents), np.pi)
        mnorm = np.full(len(cents), np.inf)
        # min_norm defaults to 0: with the default ang_radius=pi the angular
        # bound degenerates to cmax=1 >= 0, so the min-norm branch of the
        # DOT_PRODUCT bound is never taken on stat-less legacy segments.
        minnorm = np.zeros(len(cents))
        has_rows_col = "has_rows" in cdf.columns
        has_prim_col = "has_primary" in cdf.columns
        stored_col = "n_stored" in cdf.columns
        has_rows = np.ones(len(cents), dtype=bool)
        has_primary = np.ones(len(cents), dtype=bool)
        n_stored = np.zeros(len(cents), dtype=np.int64) if stored_col else None
        for r in cents:
            arr[r["part_id"]] = np.asarray(r["centroid"])
            if has_stats:
                radius[r["part_id"]] = r["radius"]
                ang[r["part_id"]] = r["ang_radius"]
                mnorm[r["part_id"]] = r["max_norm"]
            if has_min:
                minnorm[r["part_id"]] = r["min_norm"]
            if has_rows_col:
                has_rows[r["part_id"]] = r["has_rows"]
            # legacy segments (pre-r6) have no has_primary column: their
            # has_rows was primary-only, so it is the correct fallback
            has_primary[r["part_id"]] = (
                r["has_primary"] if has_prim_col
                else (r["has_rows"] if has_rows_col else True)
            )
            if stored_col:
                n_stored[r["part_id"]] = r["n_stored"]
        fine = None
        fine_path = os.path.join(seg_dir, "fine_centroids.parquet")
        if os.path.exists(fine_path):
            frows = self.spark.read.parquet(fine_path).collect()
            fine = np.zeros((len(frows), self.manifest.dim), dtype=np.float64)
            for r in frows:
                fine[r["sub_id"]] = np.asarray(r["centroid"])
        self._segments[seg_name] = {
            "name": seg_name,
            "dir": seg_dir,
            "centroids": arr,
            "radius": radius,
            "ang_radius": ang,
            "max_norm": mnorm,
            "min_norm": minnorm,
            "has_rows": has_rows,
            "has_primary": has_primary,
            "fine": fine,
            **({"part_counts": n_stored} if n_stored is not None else {}),
            "pq": _load_codec(os.path.join(seg_dir, "pq")),
            "residual": bool(getattr(self.manifest, "pq_residual", False)),
        }

    # ------------------------------------------------------------------ load
    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "IVFIndex":
        return cls(spark, path, IndexManifest.load(path))

    # ----------------------------------------------------------------- state
    @property
    def _slim(self) -> bool:
        """True when the index stores NO fp32 column (store_fp32='none' —
        NVQ bytes are the highest-resolution stored payload)."""
        return getattr(self.manifest, "store_fp32", "all") == "none"

    def _segment_data(self, seg_name: str) -> DataFrame:
        """The one reader of a segment's data table. A segment is
        immutable once written, so its DataFrame is built once per loaded
        segment and cached in the segment's meta dict: a fresh
        ``spark.read.parquet`` costs a schema-inference job and a listing
        of every ``part_id=`` directory."""
        info = self._segments[seg_name]
        if "data" not in info:
            info["data"] = self.spark.read.parquet(
                os.path.join(info["dir"], "data.parquet")
            )
        return info["data"]

    def _part_counts(self, seg_name: str) -> np.ndarray:
        """Per-partition STORED row counts (spilled copies included) — the
        input of graph-build bin packing, ``tune_graph_search``'s IO bound
        and the distributed scan's non-empty partition filter. Free
        for r6+ segments (persisted as the centroid table's ``n_stored``
        column, summed from the write job's own map stage); legacy
        segments fall back to ONE cached partition-key agg (column-pruned
        scan, once per loaded index)."""
        info = self._segments[seg_name]
        if "part_counts" not in info:
            arr = np.zeros(len(info["centroids"]), dtype=np.int64)
            for r in (
                self._segment_data(seg_name).groupBy("part_id").count().collect()
            ):
                arr[int(r["part_id"])] = int(r["count"])
            info["part_counts"] = arr
        return info["part_counts"]

    def _cell_counts(self, seg_name: str) -> dict[int, tuple] | None:
        """Per-(partition, fine-cell) STORED row counts for a two-level
        segment (``None`` when it has no fine level) — the IO model's input
        for fine-masked probing. One cached cell-key agg per loaded segment
        (column-pruned scan). SPARSE by partition: {part_id -> (sorted
        sub_id int32 array, count int64 array)} — a fine cell has ~spill
        owning partitions, so the true size is O(n_fine x spill); the dense
        (n_parts x n_fine) matrix this replaces hits 2 GB at the default
        caps and grows unbounded with explicit n_partitions."""
        info = self._segments[seg_name]
        if info.get("fine") is None:
            return None
        if "cell_counts" not in info:
            per_part: dict[int, list] = {}
            for r in (
                self._segment_data(seg_name)
                .groupBy("part_id", "sub_id")
                .count()
                .collect()
            ):
                per_part.setdefault(int(r["part_id"]), []).append(
                    (int(r["sub_id"]), int(r["count"]))
                )
            info["cell_counts"] = {
                p: (
                    np.array([s for s, _ in sorted(v)], dtype=np.int32),
                    np.array([c for _, c in sorted(v)], dtype=np.int64),
                )
                for p, v in per_part.items()
            }
        return info["cell_counts"]

    def _nvq_codec(self, use_nvq: bool = True):
        """The NVQ decoder for rerank payloads (decoding needs only the
        dimension), or None when the stage-2 payload is fp32."""
        if not use_nvq:
            return None
        from jvector_spark.operators.quantize.nvq import NVQuantizer

        return NVQuantizer(dim=self.manifest.dim)

    @staticmethod
    def _fine_own_pad(info: dict) -> np.ndarray:
        """Cached padded owner table for hierarchical fine probing (see
        ``_fine_owner_pad``); derived once per loaded segment."""
        if "fine_own_pad" not in info:
            info["fine_own_pad"] = _fine_owner_pad(
                info["fine"], info["centroids"]
            )
        return info["fine_own_pad"]

    def vectors(self, segment: str | None = None, decode: bool = True) -> DataFrame:
        """Stored (id, vec) rows. ``decode=True`` (default) presents vec as
        ``array<float>`` regardless of the storage layout — a scalar
        Arrow-batched unpack when the index stores packed f32 bytes, a
        no-op on list segments. ``decode=False`` returns the raw stored
        column (the corpus-sized internal path: compaction and the fused
        kernels consume either layout directly).

        On a slim index (``store_fp32='none'``) the returned vectors are
        DEQUANTIZED NVQ reconstructions — the highest-resolution payload
        the index stores (~1e-3 relative error; the reference's index has
        exactly the same property, FeatureId.java:31-36: full fp32 lives
        in the source dataset, not the index). Compaction re-encodes from
        these, so codes can drift by near-tie cells across a compact —
        the same contract as the reference rebuilding from its stored
        features."""
        segs = [segment] if segment else [s.name for s in self.manifest.segments]

        def one_copy(df: DataFrame) -> DataFrame:
            # one stored copy per id. r6+ spill segments persist the
            # first-choice flag (map-side filter, no exchange); legacy
            # segments fall back to the dropDuplicates shuffle. Copies
            # are identical rows, and segment ids are disjoint (the same
            # contract the spill=1 multi-segment path already relies on),
            # so per-segment filtering equals the old global dedup.
            if self.manifest.spill > 1:
                if "is_primary" in df.columns:
                    return df.filter(F.col("is_primary"))
                return df.dropDuplicates(["id"])
            return df

        if self._slim:
            codec = self._nvq_codec()
            packed = self.manifest.vec_format == "packed_f32"
            b = self.spark.sparkContext.broadcast((codec, packed and not decode))

            def dq(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                cdc, as_bytes = b.value
                for pdf in batches:
                    if len(pdf) == 0:
                        continue
                    mat = cdc.decode_columns(
                        pdf["nvq"], pdf["nvq_params"]
                    ).astype(np.float32)
                    vec = (
                        pd.Series([mat[i].tobytes() for i in range(len(mat))])
                        if as_bytes
                        else pd.Series(list(mat))
                    )
                    yield pd.DataFrame(
                        {"id": pdf["id"].to_numpy(dtype=np.int64), "vec": vec}
                    )

            vtype = "binary" if packed and not decode else "array<float>"
            dfs = [
                one_copy(self._segment_data(s))
                .select("id", "nvq", "nvq_params")
                .mapInPandas(dq, schema=f"id long, vec {vtype}")
                for s in segs
            ]
        else:
            dfs = [
                one_copy(self._segment_data(s)).select("id", "vec")
                for s in segs
            ]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        if decode and not self._slim and self.manifest.vec_format == "packed_f32":
            out = out.withColumn("vec", _unpack_f32("vec"))
        return out

    def tombstones(self) -> DataFrame | None:
        """The tombstone table, read with its fixed ``id long`` schema
        (what :meth:`delete` writes), so a read infers nothing and starts
        no job. Not cached: ``delete`` rewrites the file."""
        p = os.path.join(self.path, "tombstones.parquet")
        if os.path.exists(p):
            return self.spark.read.schema("id long").parquet(p)
        return None

    def live_vectors(self) -> DataFrame:
        """F2 liveness filter: anti-join against the tombstone table."""
        v = self.vectors()
        t = self.tombstones()
        return v.join(t, "id", "left_anti") if t is not None else v

    # ---------------------------------------------------------------- search
    # Accept-id collections at or below this size route to the exact
    # filter-first plan (the reference's deliberate pivot for selective
    # filters — SURVEY §7 "hard parts"; TestLowCardinalityFiltering.java
    # shows the graph visits <=5.5% of nodes because the *filter* bounds
    # work, which in a batch engine is exactly "score only the accepted
    # rows"). Exact, and cheaper than probing partitions.
    FILTER_PIVOT_ROWS = 10_000

    def search(
        self,
        queries_df: DataFrame,
        k: int,
        n_probe: int = 8,
        overquery: float = 4.0,
        query_id_col: str = "qid",
        query_vec_col: str = "vec",
        predicate=None,
        accept_ids=None,
        ssp=None,
        n_probe_fine: int | None = None,
        strategy: str = "auto",
        m_hint: int | None = None,
        telemetry=None,
        probe_ratio: float | None = None,
        npf_per_probe: bool = False,
    ) -> DataFrame:
        """Fused two-phase partition-pruned k-NN join over live segments.
        Returns ``(qid, id, score, rank)`` rows, ranked per query under
        score desc / id asc, not ordered: sort by ``(qid, rank)`` where
        row order matters.

        ``probe_ratio`` (optional, >= 1) turns on ADAPTIVE probe depth:
        a partition is probed only while its centroid distance is within
        ``probe_ratio`` x the query's nearest centroid distance, with
        ``n_probe`` as the cap. Fixed-depth probing under-serves queries
        inside a k-means-split mega-cluster (their true neighbors spread
        over many near-equidistant partitions) and over-serves isolated
        queries; the relative rule spends IO where the geometry needs it.
        ``None`` (default) keeps exact fixed-depth behavior; both routes
        apply the same rule, and fine-cell selection excludes dropped
        probes so npf is spent only on scanned partitions.
        ``probe_io_stats`` models fixed depth only. Values below 1 would
        silently drop even the nearest probe (the threshold falls under
        the nearest distance itself) — rejected with ``ValueError``.

        ``npf_per_probe=True`` makes ``n_probe_fine`` a PER-KEPT-PROBE
        budget instead of a flat per-query total: each query's fine-cell
        allowance scales with how many probes it kept, holding the
        per-partition visited fraction constant. This is ``probe_ratio``'s
        natural companion on skewed corpora — a mega-cluster query that
        keeps many near-tied probes would otherwise spread a flat npf
        over all of them and get masked down to ~nothing per partition
        (the r6 zipf-1.5 'saturation'). Both routes apply it identically.

        UNDER-FILLED RESULTS under tight ``probe_ratio``: a query whose
        kept probes hold fewer than ``k`` live rows returns fewer than
        ``k`` rows (measured r6: 15 of 1M queries at the zipf cheap
        point) — by design, the adaptive rule trades those tails for IO.
        Detect them with
        :func:`jvector_spark.operators.search.underfilled_queries`
        (counts per-query result rows against ``k``) and re-run the
        affected qids with a looser ratio or fixed-depth probing.

        ``strategy`` picks the query-side physical plan (the reference has
        no query-count cap — searches are per-thread streams,
        GraphSearcher.java:222; neither do we):

        - ``broadcast``: queries are collected + broadcast, per-query ADC
          LUTs are precomputed on the driver, and ONE Spark stage scores
          them (point-query-batch path; capped at ``BROADCAST_QUERY_CAP``
          rows): ``min(cores, distinct qids)`` tasks, each owning a chunk
          of the queries, contiguous in nearest-centroid order. A task
          pyarrow-reads every partition its queries probe, scores it and
          ranks its own qids; no exchange, no merge job. A partition
          probed by t tasks is read t times.
        - ``distributed``: NO driver collect of either side. Probe
          assignment runs as a map-only pass over the query DataFrame
          (centroids broadcast), and the query replicas shuffle to their
          probed ``part_id``s on the bulk probe exchange that graph
          search's exchange route also runs (``_probe_exchange``):
          ``min(cores, partitions)`` tasks, each pyarrow-reading the
          partitions of its groups and running the same fused
          ADC→rerank scoring per partition. Corpus rows never shuffle.
          The corpus-as-queries path: bulk embedding joins, semantic
          dedup.
        - ``auto``: ``broadcast`` at or below ``BROADCAST_QUERY_CAP`` query
          rows, else ``distributed`` — decided by ``m_hint``, or by the
          same ``take(cap + 1)`` that collects the broadcast side.

        ``m_hint``: approximate query-side row count; routes without
        reading the query side and, on the distributed route, skips the
        fine-sub union when ``m_hint`` x ``n_probe_fine`` saturates the
        fine level (affects only routing + IO, never correctness).
        ``n_probe_fine`` works on BOTH routes: the
        distributed route computes the probed fine-sub union with a
        map-only pass (no query collect) and pushes the same
        ``sub_id IN (...)`` filter the broadcast route passes to its
        pyarrow reads, so
        mid-size bulk batches keep sublinear per-probe IO (a
        corpus-as-queries union approaches everything and degrades
        gracefully to plain IVF).

        On a two-level index (``fine_factor > 0``), ``n_probe_fine`` probes
        only the union of each query's nearest fine sub-clusters: the
        batch-wide ``sub_id IN (...)`` filter is pushed into the reads of
        the sorted partition files (pyarrow ``filters=`` on the broadcast
        route, the parquet scan on the distributed one), so row groups
        outside the probed sub-clusters are skipped — IO per
        probe becomes sublinear in coarse-partition size (the lever that
        matters when a partition is tens of millions of rows). Tightest
        for small query batches; a large batch's union degrades gracefully
        toward plain IVF.

        ``telemetry`` (a :class:`~jvector_spark.operators.search.SearchTelemetry`)
        collects visited/reranked row counters from inside the kernels via
        accumulators (ref SearchResult.java:25-86 telemetry); read them
        after materializing the result.

        ``ssp`` (a :class:`~jvector_spark.operators.search.SearchScoreProvider`,
        X2 SPI) overrides n_probe / overquery and can force the stage-2
        resolution per query batch: ``rerank="fp32"`` on an NVQ index uses
        the stored fp32 column; ``rerank="nvq"`` requires the index to have
        been built with NVQ bytes.

        Per (probed partition, probing queries of a task): ADC approximate
        scores -> top ``overquery*k`` partition-local candidates ->
        high-resolution rerank of just those rows -> partition-local top-k.
        The kernel is independent per query, so each (query, partition)
        pool is the same whichever task scores it, and the same as the
        distributed route's tile. The task then drops spilled copies and
        ranks each of its qids across partitions and segments (J6),
        score desc then id asc. With fp32 rerank (the default) reported
        scores are exact (GraphSearcher.java:471-507 contract); with
        ``rerank="nvq"`` they are near-exact dequantized-NVQ scores (the
        reference's default feature — ordering can differ from fp32 by ~1%).

        Filtered ANN (F1, ref ``GraphSearcher.search(..., Bits acceptOrds)``
        GraphSearcher.java:145-152,215-218):

        - ``predicate``: a Column over the index data table (id, vec,
          codes, part_id), applied BEFORE candidate selection, so results
          are exact w.r.t. the filtered corpus.
        - ``accept_ids``: the accept-list. A list/set/ndarray of ids at or
          below ``FILTER_PIVOT_ROWS`` pivots to the exact filter-first
          plan (score only accepted live rows — the low-cardinality path);
          larger collections and DataFrames (an ``id`` column) filter the
          probed rows before the partition-local top-k, so candidate
          selection is exact over the accepted subset of probed
          partitions.

        On the broadcast route a list ``accept_ids`` rides the stage's
        broadcast as a sorted id array (no job). A ``predicate`` or a
        DataFrame ``accept_ids`` costs one Spark job before the stage (plus
        any job AQE runs for the semi-join with a DataFrame): it collects
        the accepted ``(segment, part_id, id)`` rows of the
        probed partitions (``_accepted_ids``), and each task keeps only
        those rows. The driver holds them, so its memory is bounded by
        the accepted rows of the probed partitions. On the distributed
        route the accepted ``(part_id, id)`` rows are selected in Spark
        and ride the probe exchange with the query replicas (ids only),
        so neither side reaches the driver.
        """
        if probe_ratio is not None and probe_ratio < 1:
            raise ValueError(
                f"probe_ratio must be >= 1 (got {probe_ratio}): a ratio below 1 "
                "puts the keep-threshold under the nearest centroid distance "
                "itself, silently dropping every probe for affected queries"
            )
        metric = self.manifest.metric
        rerank = self.manifest.rerank
        if ssp is not None:
            n_probe = ssp.n_probe
            overquery = ssp.overquery
            if ssp.rerank is not None:
                rerank = ssp.rerank
            if ssp.n_probe_fine is not None:
                n_probe_fine = ssp.n_probe_fine
        if rerank == "nvq" and self.manifest.rerank != "nvq":
            raise ValueError(
                "rerank='nvq' requires an index built with IVFIndexBuilder(rerank='nvq')"
            )
        if rerank != "nvq" and self._slim:
            raise ValueError(
                "this index stores no fp32 column (store_fp32='none'); "
                "rerank='fp32' is unavailable — search with rerank='nvq' "
                "(the manifest default) or rebuild with store_fp32='all'"
            )
        accept_df = accept_list = None
        if accept_ids is not None and not isinstance(accept_ids, DataFrame):
            ids = [int(i) for i in accept_ids]
            if len(ids) <= self.FILTER_PIVOT_ROWS and predicate is None:
                from jvector_spark.operators import exact

                corpus = self.live_vectors().filter(in_list("id", ids))
                return exact.knn_join(
                    corpus, queries_df, k, metric=metric,
                    query_id_col=query_id_col, query_vec_col=query_vec_col,
                )
            accept_list = ids
        elif isinstance(accept_ids, DataFrame):
            accept_df = accept_ids.select("id")

        rerank_k = max(k, int(round(overquery * k)))
        batch = route_query_batch(
            queries_df, query_id_col, query_vec_col, "IVFIndex.search",
            strategy, m_hint=m_hint,
        )
        if batch is None:
            if accept_list is not None:
                accept_df = self.spark.createDataFrame(
                    [(i,) for i in accept_list], "id long"
                )
            return self._search_distributed(
                queries_df, metric, k, rerank_k, n_probe,
                query_id_col, query_vec_col, predicate, accept_df, rerank, m_hint,
                n_probe_fine=n_probe_fine, telemetry=telemetry,
                probe_ratio=probe_ratio, npf_per_probe=npf_per_probe,
            )
        qids, qmat = batch
        if not len(qids):
            return empty_ranked(self.spark)
        use_nvq = rerank == "nvq"
        plans = []
        for seg in self.manifest.segments:
            info = self._segments[seg.name]
            res_mode = bool(info.get("residual"))
            probe, keep = _select_probes(info, qmat, n_probe, probe_ratio)
            p2q = _part_queries(np.nonzero(keep)[0], probe[keep])
            cols = ["id", "codes", *_rerank_cols(use_nvq)]
            filters = q_fine_mask = None
            # two-level probe: the BATCH-wide union of the queries' fine
            # cells is pushed into the read (files are sorted by sub_id
            # within each partition, so row groups outside it are skipped),
            # and a per-(query, row) mask lets each query RANK only rows of
            # its OWN cells. The union also bounds the mask's refill pool.
            if n_probe_fine and info.get("fine") is not None:
                fine_c = info["fine"]
                # hierarchical selection, shared with the distributed
                # assignment pass (bit-parity across routes)
                subs_list = _hier_fine_subs(
                    qmat, probe, fine_c, self._fine_own_pad(info),
                    min(int(n_probe_fine), len(fine_c)), keep,
                    per_probe=npf_per_probe,
                )
                union = sorted({int(s) for a in subs_list for s in a})
                filters = [("sub_id", "in", union)]
                if not union:
                    p2q = {}
                # (m, n_fine) membership bitmap; guarded so a huge query
                # batch over a huge fine level keeps the union filter alone
                if len(qids) * len(fine_c) <= 1 << 28:
                    q_fine_mask = _cell_mask(subs_list, len(fine_c))
                    cols.append("sub_id")
            if res_mode:
                cols.append("rsq")
            plans.append({
                "dir": os.path.join(info["dir"], "data.parquet"),
                "p2q": p2q,
                "cols": cols,
                "filters": filters,
                "codec": info["pq"],
                "stage1": info["pq"].query_stage1(qmat, metric, residual=res_mode),
                # residual mode: the per-(query, cell) dot table, Q x n_cells
                "qc": qmat @ info["centroids"].T if res_mode else None,
                "fine_mask": q_fine_mask,
            })
        if predicate is not None or accept_df is not None:
            accepted = self._accepted_ids(
                [sorted(p["p2q"]) for p in plans], predicate, accept_df
            )
            for plan, acc in zip(plans, accepted):
                plan["accepted"] = acc
        tel_acc = telemetry.counters() if telemetry is not None else None

        def score(call, c, plan, part, rows, qsel):
            if tel_acc is not None and c == plan["owner"][part]:
                tel_acc[0].add(int(len(rows)))  # stage-1 visited, once per call
            qfm = plan["fine_mask"]
            oq, oi, osc = _fused_block_topk(
                call["metric"], call["k"], call["rerank_k"],
                call["q_ids"][qsel], call["q_mat"][qsel],
                _stage1_rows(plan["stage1"], qsel), call["q_norms"][qsel],
                rows["id"].to_numpy(dtype=np.int64),
                plan["codec"].decode_codes(rows["codes"]),
                _rerank_rows(rows, call["nvq"], block=False),
                mask=(
                    qfm[qsel][:, rows["sub_id"].to_numpy(dtype=np.int64)]
                    if qfm is not None else None
                ),
                counters=tel_acc,
                residual=(
                    (plan["qc"][qsel, part], rows["rsq"].to_numpy(np.float32))
                    if plan["qc"] is not None else None
                ),
            )
            return pd.DataFrame({"qid": oq, "id": oi, "score": osc})

        return self._probe_stage(
            qids, qmat,
            lambda call, c: [score(call, c, *r) for r in _chunk_rows(call, c)],
            lambda call, hits: _rank_hits(hits, call["k"], call["spill"]),
            "qid long, id long, score double, rank int",
            plans=plans, metric=metric, k=k, rerank_k=rerank_k, spill=self.manifest.spill,
            q_norms=np.linalg.norm(qmat, axis=1), nvq=self._nvq_codec(use_nvq),
            accept_list=accept_list,
        )

    def search_page(
        self,
        queries_df: DataFrame,
        page_size: int,
        page: int,
        **kwargs,
    ) -> DataFrame:
        """Paginated search through the index (J5; ref
        ``GraphSearcher.resume(additionalK, ...)``,
        GraphSearcher.java:509-547, which continues any search from its
        evicted candidates). The batch analog re-runs with
        ``k = (page+1)*page_size`` and keeps the page's rank slice —
        deterministic under the score-desc/id-asc total order (T4), so
        pages never overlap or skip; TakeOrdered-style bounded heaps mean
        no full sort. Accepts every :meth:`search` kwarg (n_probe,
        overquery, strategy, filters...). With exhaustive probes and a
        rerank covering the probed rows the pages are provably exact."""
        lo, hi = page * page_size, (page + 1) * page_size
        full = self.search(queries_df, hi, **kwargs)
        return full.filter(F.col("rank") > lo)

    def search_cursor(
        self,
        queries_df: DataFrame,
        page_size: int,
        pages: int,
        **kwargs,
    ):
        """Incremental pagination (J5 resume analog, ref
        ``GraphSearcher.resume`` GraphSearcher.java:509-547): ONE search
        ranks ``pages * page_size`` survivors per query and persists the
        pool (MEMORY_AND_DISK, lineage retained); every
        :meth:`SearchCursor.page` after that is a slice of the persisted
        pool — page n costs O(1) instead of ``search_page``'s O(n)
        re-search. Accepts every :meth:`search` kwarg."""
        from jvector_spark.operators.search import SearchCursor

        ranked = self.search(queries_df, int(page_size) * int(pages), **kwargs)
        return SearchCursor(ranked, page_size, pages)

    def _accepted_ids(
        self, probed: list[list[int]], predicate, accept_df: DataFrame | None
    ) -> list[dict[int, np.ndarray]]:
        """The accepted rows of the probed partitions, per segment:
        ``{part_id: sorted ids}``, from ONE Spark job over every segment
        (``part_id IN`` the probed set, then the ``predicate`` and the
        semi-join with ``accept_df``). The key includes ``part_id``: a
        predicate may name it, and spilled copies of one id sit in two
        partitions. The driver holds these ids, so its memory is bounded
        by the accepted rows of the probed partitions."""
        frames = []
        for s, (seg, parts) in enumerate(zip(self.manifest.segments, probed)):
            if not parts:
                continue
            data = self._segment_data(seg.name).filter(in_list("part_id", parts))
            if predicate is not None:
                data = data.filter(predicate)
            if accept_df is not None:
                data = data.join(accept_df, "id", "semi")
            frames.append(data.select(F.lit(s).alias("seg"), "part_id", "id"))
        out: list[dict[int, np.ndarray]] = [{} for _ in probed]
        if not frames:
            return out
        union = frames[0]
        for d in frames[1:]:
            union = union.unionByName(d)
        for (s, part), grp in union.toPandas().groupby(["seg", "part_id"]):
            out[int(s)][int(part)] = np.unique(grp["id"].to_numpy(dtype=np.int64))
        return out

    def _probe_stage(
        self, qids, qmat, chunk_hits, finish, schema: str, **call
    ) -> DataFrame:
        """The ONE Spark stage of every point (broadcast) probed search:
        ``spark.range(n, numPartitions=n).mapInPandas``, one task per chunk
        of the batch's queries (``_query_chunks``, n = min(cores, distinct
        qids)). A task gets its chunk's ``(qid, id, score)`` hit frames from
        ``chunk_hits(call, chunk)``, and ``finish(call, hits)`` turns them
        into its output rows. Two callers pass ``chunk_hits``: the IVF
        broadcast routes (``search`` and ``threshold_search``) score every
        partition that ``_chunk_rows`` yields, and ``graph.graph_search``'s
        point route walks the chunk's probed partitions as one beam
        (``graph._walk_chunk``). ``call`` is broadcast: the keyword entries,
        the queries (``q_ids``, ``q_mat``), ``chunk_of``, a sorted
        ``accept_list`` and the tombstone path (``tombstones``).

        ``call["plans"]`` holds one plan per segment, each with ``p2q``
        (``_part_queries``: part_id -> probing query positions); ``owner``
        (part_id -> the chunk of its lowest probing position) is added
        here, so a once-per-call counter has one task to count it."""
        n = min(self.spark.sparkContext.defaultParallelism, len(np.unique(qids)))
        first = self._segments[self.manifest.segments[0].name]
        chunk_of = _query_chunks(qids, _select_probes(first, qmat, 1)[0][:, 0], n)
        for plan in call["plans"]:
            plan["owner"] = {p: int(chunk_of[pos[0]]) for p, pos in plan["p2q"].items()}
        if call.get("accept_list") is not None:
            call["accept_list"] = np.unique(np.asarray(call["accept_list"], dtype=np.int64))
        tomb = os.path.join(self.path, "tombstones.parquet")
        b = self.spark.sparkContext.broadcast(
            dict(call, q_ids=qids, q_mat=qmat, chunk_of=chunk_of,
                 tombstones=tomb if os.path.exists(tomb) else None)
        )

        def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cv = b.value
            for pdf in batches:
                for c in pdf["id"].tolist():
                    hits = [empty_hits(), *chunk_hits(cv, c)]
                    yield finish(cv, pd.concat(hits, ignore_index=True))

        return self.spark.range(n, numPartitions=n).mapInPandas(task, schema=schema)

    # ------------------------------------------- distributed query side
    def _assign_probes(
        self,
        queries_df: DataFrame,
        info: dict,
        n_probe: int,
        qid_col: str,
        qvec_col: str,
        metric: str | None = None,
        threshold: float | None = None,
        fine_npf: int | None = None,
        probe_ratio: float | None = None,
        npf_per_probe: bool = False,
    ) -> DataFrame:
        """Distributed probe assignment: a map-only pass over the query
        DataFrame with the segment's centroids+stats broadcast (the
        hierarchical-descent analog run where the queries live, not on the
        driver — removes the reference-has-no-cap gap,
        GraphSearcher.java:222). Emits one (part_id, qid, vec) row per
        (query, probed partition); with ``fine_npf`` each row also carries
        the query's probed fine-sub set (``subs``) for per-query candidate
        masking in the probe exchange's groups.

        ``threshold is None``: ``_select_probes`` (the broadcast routes'
        top-k probe rule). Otherwise ``_threshold_probes``: every
        partition whose rigorous score upper bound (X4 stats) reaches
        ``threshold`` — identical pruning to the broadcast path, so
        threshold results stay exact on this route too."""
        stats = {
            key: info[key]
            for key in (
                "centroids", "radius", "ang_radius", "max_norm", "min_norm",
                "has_rows", "has_primary",
            )
        }
        fine = info.get("fine") if fine_npf else None
        npf = int(min(int(fine_npf), len(fine))) if fine is not None else 0
        own_pad = self._fine_own_pad(info) if fine is not None else None
        # query replicas ride the exchange in the INDEX's vec layout (packed
        # f32 bytes are the compact one); both layouts carry the same f32
        # values (this schema always cast to float), so scores are
        # bit-identical across formats
        packed = self.manifest.vec_format == "packed_f32"
        schema = (
            "part_id int, qid long, vec binary"
            if packed
            else "part_id int, qid long, vec array<float>"
        )
        if fine is not None:
            schema += ", subs array<int>"
        if not stats["has_rows"].any():
            return self.spark.createDataFrame([], schema)
        bcast = self.spark.sparkContext.broadcast(
            (stats, n_probe, metric, threshold, fine, npf, own_pad, packed,
             probe_ratio, npf_per_probe)
        )

        def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            (st, n_probe_, met, thr, fine_c, npf_, own_pad_, packed_,
             ratio_, npf_pp_) = bcast.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                qmat = kernels.as_matrix(pdf["vec"])
                if thr is None:
                    probe, keep = _select_probes(st, qmat, n_probe_, ratio_)
                    qi, pi = np.nonzero(keep)[0], probe[keep]
                else:
                    qi, pi = _threshold_probes(st, qmat, met, thr)
                if len(qi) == 0:
                    continue
                if packed_:
                    q32 = qmat.astype(np.float32)
                    vec_out = pd.Series([q32[i].tobytes() for i in qi])
                else:
                    vec_out = pdf["vec"].iloc[qi].reset_index(drop=True)
                out = {
                    "part_id": pi.astype(np.int32),
                    "qid": pdf["qid"].to_numpy(dtype=np.int64)[qi],
                    "vec": vec_out,
                }
                if fine_c is not None:
                    # hierarchical: top-npf among the fine cells of the
                    # query's OWN probed coarse cells (fine is only used
                    # on the top-k path, where `probe` exists; the global
                    # n_fine-wide matmul + argpartition this replaces was
                    # >half the 1M corpus-as-queries assignment compute)
                    subs_list = _hier_fine_subs(
                        qmat, probe, fine_c, own_pad_, npf_,
                        keep, per_probe=npf_pp_,
                    )
                    out["subs"] = pd.Series([subs_list[i] for i in qi])
                yield pd.DataFrame(out)

        qin = queries_df.select(
            F.col(qid_col).alias("qid"), F.col(qvec_col).alias("vec")
        )
        return qin.mapInPandas(assign, schema=schema)

    def _probe_exchange(
        self, info: dict, assigned: DataFrame, group_hits, schema: str,
        salt: bool = False, accepted: DataFrame | None = None,
    ) -> DataFrame:
        """The ONE exchange of every bulk probed search (distributed IVF
        top-k and threshold, graph search's exchange route), over one
        segment's ``_assign_probes`` replicas: they shuffle by ``part_id``
        (plus ``_gs`` when salted) into ``min(defaultParallelism, groups)``
        tasks, sorted by group key, and each task streams its groups
        (``_sorted_groups``) through ``group_hits(groups, dead)``, which
        yields ``schema`` frames; ``dead`` is the sorted tombstoned ids
        (read once per task) or None. A task reads its groups' partitions
        itself, so corpus bytes never move.

        The count is explicit: AQE sizes by bytes and would coalesce this
        tiny exchange into ONE task, yet a group costs a partition read and
        its scoring whatever its bytes (a 16-query graph batch, 10k x 64,
        100 partitions, 4 cores: 1.90 s p50 in one task, 0.91 s at 4,
        0.95 s at 8, 1.44 s at one per group).

        ``salt`` (graph): on a coarse layout each partition's queries split
        by qid hash into ``ceil(2 x cores / n_parts)`` groups; a beam does
        not depend on its group's other queries. IVF groups are whole
        partitions: a threshold GEMM holds all of a partition's probing
        queries in the query frame's order, as on the broadcast route (BLAS
        rounds the last bit differently for another query count).

        ``accepted`` (IVF filters): accepted ``(part_id, id)`` rows, which
        ride the exchange id-only (``qid`` holds the id, ``acc`` is true)
        into their partition's group."""
        par = self.spark.sparkContext.defaultParallelism
        n_parts = len(info["centroids"])
        group_salt = max(1, int(math.ceil(2.0 * par / n_parts))) if salt else 1
        group_cols = ["part_id"]
        if group_salt > 1:
            assigned = assigned.withColumn(
                "_gs", F.pmod(F.xxhash64(F.col("qid")), F.lit(group_salt))
            )
            group_cols.append("_gs")
        if accepted is not None:
            assigned = assigned.withColumn("acc", F.lit(False)).unionByName(
                accepted.select(
                    F.col("part_id").cast("int"), F.col("id").alias("qid"),
                    F.lit(True).alias("acc"),
                ),
                allowMissingColumns=True,
            )
        tomb = os.path.join(self.path, "tombstones.parquet")
        tomb = tomb if os.path.exists(tomb) else None

        def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            groups = _sorted_groups(batches, group_cols)
            yield from group_hits(groups, _read_tombstones(tomb))

        return (
            assigned.repartition(min(par, n_parts * group_salt), *group_cols)
            .sortWithinPartitions(*group_cols)
            .mapInPandas(task, schema=schema)
        )

    def _search_distributed(
        self,
        queries_df: DataFrame,
        metric: str,
        k: int,
        rerank_k: int,
        n_probe: int,
        qid_col: str,
        qvec_col: str,
        predicate,
        accept_df: DataFrame | None,
        rerank: str,
        m_hint: int | None,
        n_probe_fine: int | None = None,
        telemetry=None,
        probe_ratio: float | None = None,
        npf_per_probe: bool = False,
        threshold: float | None = None,
    ) -> DataFrame:
        """Uncapped k-NN or threshold search: neither side is ever
        driver-collected.

        Per segment: distributed probe assignment, then the bulk probe
        exchange (``_probe_exchange``) with ``_group_scorer``: a group is
        one probed partition, read with pyarrow in its task minus its
        tombstoned rows and scored against ALL its probing queries by
        ``_tile_topk`` — one rerank pool per probed partition, as on the
        broadcast route, so both return the same rows. ``threshold`` set:
        bound-pruned assignment (``_threshold_probes``), exact fp32 scores
        (``_threshold_hits``) and ``_merge_threshold``; the caller passes
        no ``m_hint`` or ``n_probe_fine``.

        A ``predicate`` or ``accept_df`` selects the segment's accepted
        ``(part_id, id)`` rows in Spark; they ride the exchange, ids only,
        and a group scores only its accepted rows.

        The query lineage runs once: only a call that derives the fine-sub
        union reads the assignment twice, so only it persists it
        (``_persist_assignment``). On a two-level index ONE job over the
        assignment's ``subs`` returns the probed fine-sub union (the
        ``sub_id IN (...)`` read filter, as on the broadcast route) and the
        EXACT probed ``part_id`` set, which prunes a filtered call's
        accepted rows (r6, r9 ADVICE; both are index-metadata sized). The
        union is batch-wide, not per group: a query's refill pool depends
        on which rows are read. When ``m_hint`` predicts the union
        saturates the fine level (corpus-as-queries bulk: 7,879 of 8,000
        cells at 200k queries), it is skipped: it would prune ~nothing at
        the cost of the persist + that job, and the per-query mask alone
        carries the fine semantics."""
        use_nvq = rerank == "nvq" and threshold is None
        tel_acc = telemetry.counters() if telemetry is not None else None
        parts = []
        for seg in self.manifest.segments:
            info = self._segments[seg.name]
            fine_npf = n_probe_fine if info.get("fine") is not None else None
            # the union saturates when m_hint x npf >= 4x the fine level
            derive_subfilter = bool(fine_npf) and (
                m_hint is None
                or int(m_hint) * int(fine_npf) < 4 * len(info["fine"])
            )
            assigned = self._assign_probes(
                queries_df, info, n_probe, qid_col, qvec_col, metric=metric,
                threshold=threshold, fine_npf=fine_npf, probe_ratio=probe_ratio,
                npf_per_probe=npf_per_probe,
            )
            part_ids = filters = accepted = None
            if derive_subfilter:
                assigned = _persist_assignment(assigned)
                probed = assigned.select(
                    "part_id", F.explode_outer("subs").alias("sub_id")
                ).agg(F.collect_set("part_id"), F.collect_set("sub_id")).first()
                part_ids = sorted(probed[0])
                filters = [("sub_id", "in", sorted(probed[1]))]
            if predicate is not None or accept_df is not None:
                accepted = self._segment_data(seg.name)
                if part_ids is not None:
                    accepted = accepted.filter(in_list("part_id", part_ids))
                if predicate is not None:
                    accepted = accepted.filter(predicate)
                if accept_df is not None:
                    accepted = accepted.join(accept_df, "id", "semi")  # F1
            res_mode = bool(info.get("residual"))
            if threshold is None:
                # NVQ rerank never reads the fp32 column
                cols = ["id", "codes", *_rerank_cols(use_nvq)]
                if res_mode:
                    cols.append("rsq")  # reconstructed ‖c+r̂‖² for residual ADC
            else:
                cols = ["id", "vec"]
            n_fine = len(info["fine"]) if fine_npf else None
            if n_fine:
                cols.append("sub_id")  # rows' fine cell, for per-query masking
            b = self.spark.sparkContext.broadcast(
                (info["pq"], metric, k, rerank_k, threshold,
                 self._nvq_codec(use_nvq), n_fine,
                 info["centroids"] if res_mode else None,
                 os.path.join(info["dir"], "data.parquet"), cols, filters)
            )
            parts.append(
                self._probe_exchange(
                    info, assigned, _group_scorer(b, tel_acc),
                    "qid long, id long, score double"
                    + (", part_id int" if threshold is not None else ""),
                    accepted=accepted,
                )
            )
        if threshold is not None:
            return _merge_threshold(parts, self.manifest.spill)
        return _merge_topk(parts, k, self.manifest.spill)

    def threshold_search(
        self,
        queries_df: DataFrame,
        threshold: float,
        query_id_col: str = "qid",
        query_vec_col: str = "vec",
        strategy: str = "auto",
        m_hint: int | None = None,
    ) -> DataFrame:
        """Threshold query (J4) with rigorous partition pruning (X4 analog).

        For each query, partitions whose score upper bound (from the
        centroid + stored radius stats) is below the threshold provably
        contain no qualifying row and are skipped; survivors are scored
        exactly at fp32. Results are therefore EXACT — pruning only saves
        IO — unlike the reference's probabilistic early stop
        (ScoreTracker.java:80-147), which trades recall.

        ``strategy``: ``broadcast`` collects + broadcasts the query side
        (capped at ``BROADCAST_QUERY_CAP``) and runs the top-k route's ONE
        Spark stage (``_probe_stage``) with ``_threshold_hits``.
        ``distributed`` runs probe assignment as a map-only pass and
        scores on the top-k route's bulk probe exchange
        (``_probe_exchange``): one group per probed partition, read with
        pyarrow in its task (the corpus-as-queries dedup path; no driver
        collect of either side). ``auto`` routes on query-side size —
        ``m_hint``, or the same ``take(cap + 1)`` that collects the
        broadcast side.

        Both routes return the same rows, to the last bit: both prune with
        the same bounds and score a partition against ALL its probing
        queries (BLAS rounds a GEMM's last bit differently for another
        query count, so each broadcast task sharing a partition repeats
        its GEMM, and an exchange group is a whole partition), and of a
        spilled pair's two hits (their last bits can differ with the
        partition size) both keep the lower ``part_id``'s.

        Bounds per metric (c = centroid, r/theta/M = stored stats):
          EUCLIDEAN:   d(q,x) >= max(0, ||q-c|| - r)  -> 1/(1+d^2) bound
          COSINE:      angle(q,x) >= max(0, angle(q,c) - theta)
          DOT_PRODUCT: dot(q,x) <= ||q|| * M * cos(max(0, angle(q,c)-theta))
        """
        if self._slim:
            raise ValueError(
                "threshold_search requires the stored fp32 column (its "
                "results are contractually EXACT); this index was built "
                "with store_fp32='none' — rebuild with store_fp32='all' "
                "or run the threshold query against the source table"
            )
        metric = self.manifest.metric
        batch = route_query_batch(
            queries_df, query_id_col, query_vec_col, "IVFIndex.threshold_search",
            strategy, m_hint=m_hint,
        )
        if batch is None:
            return self._search_distributed(
                queries_df, metric, 0, 0, 0, query_id_col, query_vec_col,
                predicate=None, accept_df=None, rerank="fp32", m_hint=None,
                threshold=threshold,
            )
        qids, qmat = batch
        if not len(qids):
            return self.spark.createDataFrame([], "qid long, id long, score double")
        plans = [
            {
                "dir": os.path.join(info["dir"], "data.parquet"),
                "p2q": _part_queries(*_threshold_probes(info, qmat, metric, threshold)),
                "cols": ["id", "vec"],
                "filters": None,
            }
            for info in (self._segments[seg.name] for seg in self.manifest.segments)
        ]

        def score(call, c, plan, part, rows, qsel):
            # ALL the partition's probing queries (see the docstring): the
            # scores must not depend on how the batch is chunked
            probing = plan["p2q"][part]
            hits = _threshold_hits(
                call["metric"], call["threshold"],
                call["q_ids"][probing], call["q_mat"][probing],
                rows["id"].to_numpy(dtype=np.int64), kernels.as_matrix(rows["vec"]),
            )
            if len(qsel) < len(probing):
                hits = hits[np.isin(hits["qid"].to_numpy(), call["q_ids"][qsel])]
            return hits

        def finish(call, hits):
            return hits.drop_duplicates(["qid", "id"]) if call["spill"] > 1 else hits

        return self._probe_stage(
            qids, qmat,
            lambda call, c: [score(call, c, *r) for r in _chunk_rows(call, c)],
            finish, "qid long, id long, score double",
            plans=plans, metric=metric, threshold=threshold, spill=self.manifest.spill,
        )

    # -------------------------------------------------------------- mutation
    def delete(self, ids: list[int]) -> None:
        """M5 phase 1: tombstone (markNodeDeleted analog). Physical removal
        happens at compaction (removeDeletedNodes analog).

        The tombstone table is merged and written driver-side via pyarrow
        (the ``ids`` argument is a driver list by signature, and the merge
        is a set union of longs — megabytes at hundreds of millions of
        tombstones). Readers filter on their own side: every search task
        reads the file's ``id`` column itself (``_read_tombstones``, once
        per task), and compaction anti-joins it in the plan.

        The merged table is written as ONE parquet file next to the old
        one and swapped in with ``os.replace``, so a reader or a crash
        sees either the old tombstones or the new ones, never none. A
        legacy tombstone DIRECTORY (older indexes) cannot be replaced by a
        file atomically: it is removed once, on its first rewrite, just
        before the swap."""
        import pyarrow as pa
        import pyarrow.parquet as papq

        final = os.path.join(self.path, "tombstones.parquet")
        new_ids = np.asarray(sorted({int(i) for i in ids}), dtype=np.int64)
        if os.path.exists(final):
            # merge in Arrow/numpy (8 bytes/id), never as boxed Python ints:
            # hundreds of millions of tombstones stay a few GB of flat array
            existing = (
                papq.read_table(final, columns=["id"])["id"]
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            new_ids = np.union1d(existing, new_ids)
        tmp = final + ".tmp"
        papq.write_table(pa.table({"id": pa.array(new_ids, pa.int64())}), tmp)
        try:
            if os.path.isdir(final):
                import shutil

                shutil.rmtree(final)
            os.replace(tmp, final)
        except BaseException:
            os.unlink(tmp)
            raise
        self.manifest.save(self.path)

    def append(
        self,
        df: DataFrame,
        id_col: str = "id",
        vec_col: str = "vec",
        seg_name: str | None = None,
    ) -> None:
        """ST1/M1 analog: new data becomes a new immutable segment.

        ``seg_name`` makes the append idempotent for streaming replays: a
        re-delivered micro-batch overwrites its own segment dir and is not
        re-added to the manifest.
        """
        seg_name = seg_name or f"seg-{self.manifest.version:06d}"
        if any(s.name == seg_name for s in self.manifest.segments):
            return  # replayed batch: segment already durable
        builder = IVFIndexBuilder.from_manifest(self.manifest)
        if df.isEmpty():  # limit-1 probe, far cheaper than a count
            return
        self.manifest = builder._build_segment(
            df, self.path, seg_name, id_col, vec_col, manifest=self.manifest
        )
        self.manifest.save(self.path)
        self._load_segment_meta(seg_name)

    def compact(self, segments: list[str] | None = None) -> "IVFIndex":
        """U1: N:1 segment merge — union live vectors, rebuild one segment
        with retrained PQ, drop tombstones (ref OnDiskGraphIndexCompactor.
        compact + PQRetrainer balanced sampling; the reference's compactor
        also takes an explicit SOURCE LIST — OnDiskGraphIndexCompactor
        merges the sources you hand it, docs/compaction.md).

        ``segments`` (optional) selects a SUBSET to merge — the
        size-tiered building block (see :meth:`maybe_compact`): only the
        named segments are unioned into the new one; the rest keep their
        files and manifest entries untouched. With a subset, the
        tombstone table is RETAINED (ids deleted from an untouched
        segment must stay tombstoned); a full compact physically removes
        tombstones as before."""
        # raw (stored-format) pass-through: the rebuild re-derives every
        # stored column from the f64 matrix, so packed bytes never need a
        # decode hop on the corpus-sized path
        all_names = [s.name for s in self.manifest.segments]
        if segments is None:
            sel = all_names
        else:
            sel = list(segments)
            unknown = set(sel) - set(all_names)
            if unknown:
                raise ValueError(f"unknown segments: {sorted(unknown)}")
            if len(sel) < 2:
                raise ValueError("subset compaction needs >= 2 segments")
        full = set(sel) == set(all_names)
        dead = self.tombstones()  # F2: anti-joined in the plan
        live_all = [
            (v.join(dead, "id", "left_anti") if dead is not None else v)
            .select("id", "vec")
            for v in (self.vectors(segment=s, decode=False) for s in sel)
        ]
        live = live_all[0]
        for d_ in live_all[1:]:
            live = live.unionByName(d_)
        # spill>1: vectors() already yields exactly one copy per id per
        # segment (is_primary filter / legacy dedup), and segment ids are
        # disjoint — the old extra global dropDuplicates here was a
        # redundant corpus-wide shuffle re-paid on EVERY action over
        # `live` (count+sample, codec fit, encode+write; guide §2.4)
        # graph lifecycle (M6 refinement analog: the reference rebuilds its
        # graph structure at cleanup/compaction, GraphIndexBuilder.java:
        # 472-538): if EVERY merged segment carried a Vamana graph, the
        # merged segment gets one rebuilt with the same parameters, so
        # graph_search keeps working across compactions without a manual
        # build_graph() call. Mixed/graph-less sources stay graph-less.
        from jvector_spark.operators.graph import graph_meta

        src_graphs = [graph_meta(self, s) for s in sel]
        # deterministic parameter policy when merged segments were built
        # with DIFFERENT graph knobs (r7 ADVICE: "first segment wins" was
        # arbitrary): take the max of each — the merged segment is at
        # least as large as any source, so the most generous reach/degree
        # among the sources is the safe choice, and max() is order-free.
        rebuild_graph = None
        if src_graphs and all(g is not None for g in src_graphs):
            rebuild_graph = {
                key: max(g[key] for g in src_graphs)
                for key in ("degree", "alpha", "overflow", "ef_construction")
            }
        builder = IVFIndexBuilder.from_manifest(self.manifest)
        seg_name = f"seg-{self.manifest.version:06d}c"
        # subset compaction: untouched segments keep their entries (and
        # their files — GC below only sweeps what the manifest dropped)
        fresh = dataclasses.replace(
            self.manifest,
            segments=[s for s in self.manifest.segments if s.name not in set(sel)],
            format_version=MANIFEST_VERSION,
        )
        # warm-start PQ from the largest MERGED segment's codebooks (the
        # balanced-sample retrain of ref PQRetrainer, not a from-scratch fit)
        largest = max(
            (s for s in self.manifest.segments if s.name in set(sel)),
            key=lambda s: s.n_rows,
        )
        fresh = builder._build_segment(
            live, self.path, seg_name, "id", "vec", manifest=fresh,
            warm_pq=self._segments[largest.name]["pq"],
        )
        import shutil

        fresh.save(self.path)
        t = os.path.join(self.path, "tombstones.parquet")
        if full and os.path.exists(t):
            # full compact: tombstoned rows are physically gone everywhere.
            # Removed only once the manifest that drops them is saved, so a
            # failed save leaves every deleted id deleted.
            if os.path.isdir(t):
                shutil.rmtree(t)  # legacy tombstone directory
            else:
                os.remove(t)
        # GC superseded segment dirs AFTER the manifest swap (atomic-manifest-
        # first ordering: readers on the old manifest break only once the new
        # one is durable — ref compactor physically replaces the index file).
        keep = {s.name for s in fresh.segments}
        seg_root = os.path.join(self.path, "segments")
        for name in os.listdir(seg_root):
            if name not in keep:
                shutil.rmtree(os.path.join(seg_root, name), ignore_errors=True)
        out = IVFIndex.load(self.spark, self.path)
        if rebuild_graph is not None:
            out.build_graph(
                degree=rebuild_graph["degree"],
                alpha=rebuild_graph["alpha"],
                overflow=rebuild_graph["overflow"],
                ef_construction=rebuild_graph["ef_construction"],
                segments=[seg_name],
            )
        # refresh SELF too: callers holding this object (streaming ingest's
        # foreachBatch closure, the IPC API) would otherwise keep a manifest
        # pointing at the GC'd segment dirs — an append after a dropped
        # compact() return value would resurrect deleted entries (r7 fix)
        self.manifest = out.manifest
        self._segments = out._segments
        return out

    def maybe_compact(self, min_segments: int = 4) -> "IVFIndex":
        """Size-tiered compaction policy (the LSM rule, applied to index
        segments; ref docs/compaction.md:3-9 — small segments accumulate
        from streaming ingest and get periodically merged): segments are
        grouped into size tiers (``floor(log_4(n_rows))``, base
        ``_COMPACT_TIER_FACTOR``),
        and whenever a tier holds ``min_segments`` members, that tier is
        merged into ONE segment via :meth:`compact` (smallest tier first;
        the merged segment may cascade into the next tier, so the check
        loops to a fixpoint). Merge cost stays proportional to the data
        merged — each row is rewritten O(log_total) times over its
        lifetime instead of once per compaction like the all-segments
        rule. No-op (returns self) when every tier is under the limit."""
        while True:
            tiers: dict[int, list] = {}
            for s in self.manifest.segments:
                tiers.setdefault(
                    int(math.log(max(s.n_rows, 1), _COMPACT_TIER_FACTOR)), []
                ).append(s.name)
            ripe = sorted(t for t, names in tiers.items() if len(names) >= min_segments)
            if not ripe:
                return self
            # compact() refreshes SELF in place, so the loop (and every
            # caller holding this object) sees the post-merge manifest
            self.compact(segments=tiers[ripe[0]])

    # ----------------------------------------------------------------- stats
    def probe_io_stats(
        self,
        queries_df: DataFrame,
        n_probe: int,
        n_probe_fine: int | None = None,
        query_id_col: str = "qid",
        query_vec_col: str = "vec",
        probe_ratio: float | None = None,
        npf_per_probe: bool = False,
    ) -> dict:
        """A10 diagnostic: the per-query point-search IO model — how many
        STORED rows a single query's probed partitions contain (∩ its own
        probed fine cells on a two-level index). This is the batch analog
        of the reference's visited-node count (SearchResult telemetry,
        SearchResult.java:25-86; e.g. 515 of 99,685 nodes visited in
        docs/release notes/4.0.0-RC.9/671.testing.md:41) and the number the
        recall-per-IO grid reports. Driver-side probe math over collected
        queries (point-query batch, capped) + one small partition-size agg
        per segment.

        ``probe_ratio`` / ``npf_per_probe`` (r7) model ADAPTIVE probing
        with the same keep rule and the same fine-cell selector the
        search routes use, so the IO model predicts what an adaptive
        search actually scans (tune()'s cheapest-first ordering of
        adaptive lattice points uses this)."""
        _, qmat = route_query_batch(
            queries_df, query_id_col, query_vec_col, "IVFIndex.probe_io_stats"
        )
        return self._probe_io_model(
            qmat, n_probe, n_probe_fine, probe_ratio, npf_per_probe
        )

    def _probe_io_model(
        self,
        qmat: np.ndarray,
        n_probe: int,
        n_probe_fine: int | None = None,
        probe_ratio: float | None = None,
        npf_per_probe: bool = False,
    ) -> dict:
        """``probe_io_stats`` over a query matrix already on the driver
        (``tune`` holds its sample there): no job once the segment's
        cached partition / cell counts exist."""
        nq = len(qmat)
        visited = np.zeros(nq, dtype=np.int64)
        stored = 0
        for seg in self.manifest.segments:
            info = self._segments[seg.name]
            fine = bool(n_probe_fine) and info.get("fine") is not None
            if fine:
                cellmap = self._cell_counts(seg.name)
                stored += sum(int(c.sum()) for _, c in cellmap.values())
            else:
                rows = self._part_counts(seg.name)
                stored += int(rows.sum())
            if not nq:
                continue  # empty query side: no probes to model
            probe, keep = _select_probes(info, qmat, n_probe, probe_ratio)
            if fine:
                fine_c = info["fine"]
                npf = min(int(n_probe_fine), len(fine_c))
                # same hierarchical selection as the search routes, so the
                # IO model predicts what the search actually scans
                subs_list = _hier_fine_subs(
                    qmat, probe, fine_c, self._fine_own_pad(info), npf,
                    keep, per_probe=npf_per_probe,
                )
                for q in range(nq):
                    subs_q = np.asarray(subs_list[q], dtype=np.int32)
                    v = 0
                    for j, p in enumerate(probe[q]):
                        if not keep[q, j]:
                            continue  # dropped by adaptive depth
                        entry = cellmap.get(int(p))
                        if entry is None:
                            continue
                        subs_p, cnts_p = entry
                        v += int(cnts_p[np.isin(subs_p, subs_q)].sum())
                    visited[q] += v
            else:
                visited += np.where(keep, rows[probe], 0).sum(axis=1)
        mean_visited = float(visited.mean()) if nq else 0.0
        return {
            "n_queries": nq,
            "stored_rows": stored,
            "mean_visited_rows": mean_visited,
            "visited_fraction": mean_visited / max(stored, 1),
        }

    def build_graph(self, **kw) -> None:
        """Build per-partition Vamana graphs (M3/M4) for this index's
        segments; see :func:`jvector_spark.operators.graph.build_graph`."""
        from jvector_spark.operators import graph

        graph.build_graph(self, **kw)

    def search_graph(self, queries_df: DataFrame, k: int, **kw) -> DataFrame:
        """Graph-traversal ANN over per-partition Vamana graphs (requires
        :meth:`build_graph`); see
        :func:`jvector_spark.operators.graph.graph_search`."""
        from jvector_spark.operators import graph

        return graph.graph_search(self, queries_df, k, **kw)

    def tune(
        self, queries_df: DataFrame | None = None, route: str = "fused", **kw
    ) -> dict:
        """Auto-tune search knobs for a recall target — the reference's
        Grid parameter sweep (Grid.java:98-132, 668-679) as an index
        method. ``route="fused"`` sweeps (n_probe, n_probe_fine,
        overquery, probe_ratio) over the fused-scan path
        (``tune.tune_search``); ``route="graph"`` sweeps (n_probe,
        ef_search) over the Vamana traversal path
        (``tune.tune_graph_search``, requires :meth:`build_graph`)."""
        from jvector_spark.operators.tune import tune_graph_search, tune_search

        if route == "graph":
            return tune_graph_search(self, queries_df, **kw)
        if route != "fused":
            raise ValueError(f"unknown tune route {route!r}")
        return tune_search(self, queries_df, **kw)

    def stats(self) -> dict:
        """A10 analog: per-segment row/partition counts + avg partition size."""
        out = {
            "version": self.manifest.version,
            "metric": self.manifest.metric,
            "spill": self.manifest.spill,
            "rerank": self.manifest.rerank,
            "first_pass": self.manifest.first_pass,
            "fine_factor": self.manifest.fine_factor,
            "segments": [],
        }
        for seg in self.manifest.segments:
            sizes = self._segment_data(seg.name).groupBy("part_id").count()
            row = sizes.agg(
                F.count("*").alias("parts"),
                F.avg("count").alias("avg_rows"),
                F.max("count").alias("max_rows"),
            ).collect()[0]
            from jvector_spark.operators.graph import graph_meta

            gmeta = graph_meta(self, seg.name)
            out["segments"].append(
                {
                    "name": seg.name,
                    "n_rows": seg.n_rows,
                    "n_partitions": int(row["parts"]),
                    "avg_partition_rows": float(row["avg_rows"]),
                    "max_partition_rows": int(row["max_rows"]),
                    "graph": (
                        {"degree": gmeta["degree"], "alpha": gmeta["alpha"]}
                        if gmeta is not None
                        else None
                    ),
                }
            )
        return out
