"""Random-hyperplane LSH approximate k-NN join (the bucketed ANN variant).

The cosine-LSH alternative to the IVF index (SURVEY §2.4 J2): corpus rows
hash to sign-bit buckets of ``n_planes`` random hyperplanes; a query
probes its own bucket plus every bucket within ``probe_bits`` bit flips
(multiprobe), and only those rows are scored exactly.

Shape at scale: the scan is ONE fused map-only pass over the corpus —
each Arrow batch computes its rows' buckets with a single matmul, keeps
rows whose bucket is probed by >= 1 query, scores them exactly, and emits
batch-local top-k; a single window merges. No shuffle of corpus data,
no index build. Use the IVF index when the corpus is searched repeatedly
(persisted partitioning amortizes); use this for one-shot joins.

Hyperplanes are seeded deterministically, so results are reproducible.
"""

from __future__ import annotations

import math

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.operators.exact import (
    _rank_topk,
    empty_ranked,
    in_list,
    route_query_batch,
)


def _bucket_of(x: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, d) -> (n,) int64 bucket ids from sign bits of x @ planes.T."""
    bits = (x @ planes.T) > 0  # (n, n_planes)
    weights = (1 << np.arange(planes.shape[0])).astype(np.int64)
    return bits.astype(np.int64) @ weights


def _probe_buckets(q: np.ndarray, planes: np.ndarray, probe_bits: int) -> np.ndarray:
    """Query bucket plus all buckets within probe_bits flips (multiprobe:
    flip the planes whose margin |q.h| is smallest first — those are the
    likeliest sign errors for near neighbors)."""
    margins = q @ planes.T
    base = int(_bucket_of(q[None, :], planes)[0])
    order = np.argsort(np.abs(margins))  # most uncertain planes first
    buckets = {base}
    if probe_bits >= 1:
        for b in order[: max(probe_bits * 4, probe_bits)]:
            buckets.add(base ^ (1 << int(b)))
    if probe_bits >= 2:
        top = order[: max(probe_bits * 2, 2)]
        for i in range(len(top)):
            for j in range(i + 1, len(top)):
                buckets.add(base ^ (1 << int(top[i])) ^ (1 << int(top[j])))
    return np.fromiter(buckets, dtype=np.int64)


def rp_lsh_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "COSINE",
    n_planes: int | None = None,
    probe_bits: int = 2,
    seed: int = 42,
    id_col: str = "id",
    vec_col: str = "vec",
    query_id_col: str = "qid",
    query_vec_col: str = "vec",
    predicate=None,
    accept_ids=None,
    n_hint: int | None = None,
    strategy: str = "auto",
    m_hint: int | None = None,
) -> DataFrame:
    """Approximate k-NN join via random-hyperplane LSH + exact rerank.

    Returns (qid, id, score, rank) with exact scores for returned rows.
    Recall knobs: more planes = smaller buckets (faster, lower recall);
    more probe_bits = more buckets probed (slower, higher recall).
    ``n_planes=None`` auto-sizes to ~64 rows per bucket so small corpora
    don't shatter into singleton buckets (and huge ones don't flood); the
    auto-sizing ``count()`` is skipped when the caller passes ``n_hint``
    (an approximate corpus row count — loops over the same corpus should
    count once and hint, not pay a scan per call).

    ``strategy``: ``broadcast`` collects + broadcasts the query side and
    runs the fused single-pass corpus scan (point-query-batch path, capped
    at ``BROADCAST_QUERY_CAP``); ``distributed`` hashes BOTH sides
    map-only and equi-joins on the bucket key — no driver collect, the
    same shuffle shape as the MinHash-LSH dedup self-join, with AQE's
    skew-join handling hot buckets — scoring JVM-side per collision;
    ``auto`` routes on query-side size (``m_hint``, or the same
    ``take(cap + 1)`` that collects the broadcast side).
    Candidate SETS are identical on both routes (same planes, same
    buckets); reported scores are float64 on both but summed in different
    orders (BLAS vs codegen), so last-ulp rank flips between routes are
    possible on near-tied pairs.

    ``predicate`` (Column) / ``accept_ids`` (DataFrame with an ``id``
    column, or an id collection) restrict the corpus BEFORE hashing and
    batch-local top-k (filtered ANN, F1) — exact w.r.t. the filtered
    corpus' bucket contents.
    """
    if predicate is not None:
        corpus = corpus.filter(predicate)
    if accept_ids is not None:
        from pyspark.sql import DataFrame as _DF

        if isinstance(accept_ids, _DF):
            corpus = corpus.join(accept_ids.select(F.col("id").alias(id_col)), id_col, "semi")
        else:
            corpus = corpus.filter(in_list(id_col, accept_ids))
    if n_planes is None:
        n = n_hint if n_hint is not None else corpus.count()
        n_planes = max(3, min(24, int(math.ceil(math.log2(max(n / 64.0, 2.0))))))
    batch = route_query_batch(
        queries, query_id_col, query_vec_col, "rp_lsh_knn_join", strategy,
        m_hint=m_hint,
    )
    if batch is None:
        return _rp_lsh_distributed(
            corpus, queries, k, metric, n_planes, probe_bits, seed,
            id_col, vec_col, query_id_col, query_vec_col,
        )
    qids, qmat = batch
    if not len(qids):
        return empty_ranked(corpus.sparkSession)
    dim = qmat.shape[1]

    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)

    bucket_to_queries: dict[int, list[int]] = {}
    for qi in range(len(qids)):
        for bkt in _probe_buckets(qmat[qi], planes, probe_bits):
            bucket_to_queries.setdefault(int(bkt), []).append(qi)

    from jvector_spark.functions.registry import resolve_kernel

    kernel = resolve_kernel(metric)  # driver-side: X1 registry lives here
    b = corpus.sparkSession.sparkContext.broadcast(
        (planes, qids, qmat, k, bucket_to_queries)
    )

    # `kernel` rides the UDF closure (cloudpickle), NOT the broadcast —
    # plain pickle can't serialize user-local functions
    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, q_ids, q_mat, kk, b2q = b.value
        score_fn = kernel
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.as_matrix(pdf[vec_col])
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            buckets = _bucket_of(x, pl)
            # rows -> queries probing their bucket
            per_query_rows: dict[int, list[int]] = {}
            for ri, bkt in enumerate(buckets):
                for qi in b2q.get(int(bkt), ()):
                    per_query_rows.setdefault(qi, []).append(ri)
            out_q, out_i, out_s = [], [], []
            for qi, rows in per_query_rows.items():
                rows = np.asarray(rows)
                s = score_fn(q_mat[qi][None, :], x[rows])[0]
                top = min(kk, len(rows))
                order = np.lexsort((ids[rows], -s))[:top]
                out_q.append(np.full(top, q_ids[qi], dtype=np.int64))
                out_i.append(ids[rows[order]])
                out_s.append(s[order])
            if out_q:
                yield pd.DataFrame(
                    {
                        "qid": np.concatenate(out_q),
                        "id": np.concatenate(out_i),
                        "score": np.concatenate(out_s),
                    }
                )

    candidates = corpus.select(id_col, vec_col).mapInPandas(
        scan, schema="qid long, id long, score double"
    )
    return _rank_topk(candidates, k)


def _rp_lsh_distributed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    n_planes: int,
    probe_bits: int,
    seed: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Uncapped LSH join: both sides hash map-only (planes broadcast),
    candidates come from a bucket-key equi-join — the shuffle carries
    (key, id, vec) rows, exactly the MinHash-LSH dedup shape
    (``pipeline/dedup.py``), and AQE's skew-join splits hot buckets.
    Each row lands in ONE bucket, so a (query, row) pair collides at most
    once — no dedup needed. Scoring is the JVM ``similarity`` expression
    per collision (whole-stage codegen; X1 registry metrics with a Column
    builder work too), then the usual per-query top-k window."""
    from jvector_spark.functions.similarity import similarity as col_similarity

    sc = corpus.sparkSession.sparkContext
    first = queries.select(query_vec_col).first()
    if first is None:  # empty query side: empty result, correct schema
        return corpus.sparkSession.createDataFrame(
            [], "qid long, id long, score double, rank int"
        )
    dim = len(first[0])
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_planes, dim))
    planes /= np.linalg.norm(planes, axis=1, keepdims=True)
    b = sc.broadcast((planes, probe_bits))

    def hash_corpus(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, _ = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.as_matrix(pdf[vec_col])
            yield pd.DataFrame(
                {
                    "bkey": _bucket_of(x, pl),
                    "id": pdf[id_col].to_numpy(dtype=np.int64),
                    "cvec": pdf[vec_col],
                }
            )

    def hash_queries(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl, pb = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = kernels.as_matrix(pdf[query_vec_col])
            keys, reps = [], []
            for i in range(len(pdf)):
                bks = _probe_buckets(x[i], pl, pb)
                keys.append(bks)
                reps.append(len(bks))
            rep_idx = np.repeat(np.arange(len(pdf)), reps)
            yield pd.DataFrame(
                {
                    "bkey": np.concatenate(keys),
                    "qid": pdf[query_id_col].to_numpy(dtype=np.int64)[rep_idx],
                    "qvec": pdf[query_vec_col].iloc[rep_idx].reset_index(drop=True),
                }
            )

    c_side = corpus.select(id_col, vec_col).mapInPandas(
        hash_corpus, schema="bkey long, id long, cvec array<float>"
    )
    q_side = queries.select(query_id_col, query_vec_col).mapInPandas(
        hash_queries, schema="bkey long, qid long, qvec array<float>"
    )
    # (query, corpus) argument order matches the broadcast route's
    # kernel(q_mat, x) call, so X1 registry metrics with ASYMMETRIC score
    # functions rank identically on both routes
    pairs = c_side.join(q_side, "bkey").select(
        "bkey", "qid", "id",
        col_similarity(metric, F.col("qvec"), F.col("cvec")).alias("score"),
    )
    # Explicit per-(bucket, query) partial top-k BEFORE the global merge
    # (r4 audit: the plan previously leaned on Spark 4's WindowGroupLimit
    # to trim pre-shuffle — engine-version-fragile). The join output is
    # already hash-partitioned by bkey, which satisfies the (bkey, qid)
    # clustering, so this window adds a sort but NO extra shuffle; at most
    # k rows per (bucket, query) reach the qid shuffle. A (query, row)
    # pair exists in exactly one bucket, so the merge of per-bucket top-k
    # is the exact global top-k.
    wb = Window.partitionBy("bkey", "qid").orderBy(F.desc("score"), F.asc("id"))
    pairs = (
        pairs.withColumn("_br", F.row_number().over(wb))
        .filter(F.col("_br") <= k)
        .drop("_br", "bkey")
    )
    return _rank_topk(pairs, k)
