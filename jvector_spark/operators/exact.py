"""Exact (brute-force) similarity search operators.

These are the engine's ground-truth path AND a first-class operator family
(reference J1/J4/F1-F4/T1/T4 in SURVEY.md §2; ``GraphSearcher.java:145-152``
exact scoring, ``DefaultSearchScoreProvider.java:71``).

Scale notes (100 TB design):
- Point top-k compiles to scan → project(score) → TakeOrderedAndProject:
  Spark's distributed bounded heap — no full shuffle, no sort of the corpus.
  Filters passed as ``predicate`` sit below the limit and push into Parquet.
- k-NN join broadcasts the (small) query side under every strategy, so the
  corpus never shuffles for the join itself. The ``numpy`` strategy does a
  per-partition partial top-k (map-side combine) so only
  ``O(k × partitions × queries)`` rows reach the final per-query merge,
  instead of ``O(|corpus| × queries)`` — the difference between a working
  plan and an impossible shuffle at 1000 executors.
- Tie-break everywhere: score DESC, id ASC (ref SearchResult.java:101-106),
  which makes results deterministic and oracle-hashable.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.functions.similarity import similarity, vector_literal


def score_against(
    df: DataFrame,
    query_vec,
    metric: str,
    vec_col: str = "vec",
    score_col: str = "score",
) -> DataFrame:
    """Add a normalized similarity score column vs a constant query vector."""
    return df.withColumn(score_col, similarity(metric, F.col(vec_col), vector_literal(query_vec)))


def topk(
    df: DataFrame,
    query_vec,
    k: int,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "vec",
    predicate: Column | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Exact top-k point query: J1 with accept-filter F1 and self-exclusion F4.

    Returns (id, score, rank) ordered best-first. The plan is
    scan → [pushed filter] → score → TakeOrderedAndProject(k).
    """
    out = df
    if predicate is not None:
        out = out.filter(predicate)  # F1: accept-list before top-k (always exact in batch)
    if exclude_ids:
        out = out.filter(~F.col(id_col).isin(list(exclude_ids)))  # F4
    out = score_against(out, query_vec, metric, vec_col)
    out = (
        out.select(F.col(id_col).alias("id"), "score")
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )
    # Ranking runs AFTER .limit(k): only k rows ever reach the window, so
    # the literal partition key is purely to keep Spark's "No Partition
    # Defined for Window" warning out of the logs (where it would mask a
    # real unpartitioned-window mistake on a corpus-sized path).
    return out.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("id"))
        ),
    )


def search_page(
    df: DataFrame,
    query_vec,
    page_size: int,
    page: int,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "vec",
    predicate: Column | None = None,
    exclude_ids=None,
) -> DataFrame:
    """Paginated search (J5): page `page` (0-based) of the exact ranking.

    The reference's ``GraphSearcher.resume(additionalK, ...)``
    (GraphSearcher.java:509-547) continues a search from its evicted
    candidates; the batch analog re-runs with k = (page+1)*page_size and
    keeps ``rank BETWEEN page*page_size+1 AND (page+1)*page_size`` —
    deterministic given the score-desc/id-asc total order (T4), so pages
    never overlap or skip. TakeOrderedAndProject still bounds the heap at
    (page+1)*page_size per partition; no full sort.
    """
    lo, hi = page * page_size, (page + 1) * page_size
    full = topk(
        df, query_vec, hi, metric=metric, id_col=id_col, vec_col=vec_col,
        predicate=predicate, exclude_ids=exclude_ids,
    )
    return full.filter(F.col("rank") > lo)


def threshold_search(
    df: DataFrame,
    query_vec,
    threshold: float,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "vec",
    predicate: Column | None = None,
) -> DataFrame:
    """Exact threshold query (J4/F3): all rows with score >= threshold.

    Unlike the reference's probabilistic early-stop (ScoreTracker.java:80),
    the batch plan is exact: filter(score >= t) after a full scan. The
    approximate analog (partition-bound pruning) lives in the IVF searcher.
    """
    out = df
    if predicate is not None:
        out = out.filter(predicate)
    out = score_against(out, query_vec, metric, vec_col)
    return (
        out.filter(F.col("score") >= float(threshold))
        .select(F.col(id_col).alias("id"), "score")
        .orderBy(F.desc("score"), F.asc("id"))
    )


# Query sets at or below this size are collected + broadcast (the numpy
# map-side path); larger sets route to the fully-distributed blocked join.
BROADCAST_QUERY_CAP = 8192


def query_side_is_big(queries: DataFrame, m_hint: int | None = None) -> bool:
    """The one routing rule every query-side operator shares (exact knn,
    IVF search/threshold, LSH, two-phase, the planner): is the query set
    over ``BROADCAST_QUERY_CAP``? ``m_hint`` answers without a job; else a
    LIMIT cap+1 probe — O(cap) regardless of query-side size, never a
    full count."""
    if m_hint is not None:
        return m_hint > BROADCAST_QUERY_CAP
    return queries.limit(BROADCAST_QUERY_CAP + 1).count() > BROADCAST_QUERY_CAP


def collect_point_query_batch(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    op: str,
    cap: int = BROADCAST_QUERY_CAP,
    extra_cols: tuple = (),
) -> tuple:
    """Collect the query side of a point-query-batch operator with the cap
    enforced in the SAME job: ``take(cap + 1)`` both bounds driver memory
    (a corpus-sized query side fails loudly instead of OOMing) and returns
    the rows the operator needs — the query-side plan executes once, not
    once for a guard count and again for the collect.

    Returns ``(qids, qmat)``: int64 ids and the (m, d) f64 query matrix.
    Each of ``extra_cols`` (per-query state such as the hard-negative
    label) appends one more array to the tuple."""
    rows = queries.select(id_col, vec_col, *extra_cols).take(cap + 1)
    if len(rows) > cap:
        raise ValueError(
            f"{op} is a point-query-batch operator (query side is broadcast); "
            f"got more than {cap} query rows. Use exact.knn_join(strategy="
            f"'blocked') for corpus-sized query sets, or chunk the queries."
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    extras = tuple(np.array([r[2 + i] for r in rows]) for i in range(len(extra_cols)))
    return (qids, qmat) + extras


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "vec",
    query_id_col: str = "qid",
    query_vec_col: str = "vec",
    strategy: str = "auto",
    n_hint: int | None = None,
    m_hint: int | None = None,
) -> DataFrame:
    """Exact k-NN join: for every query row, its top-k corpus neighbors.

    strategy:
      - ``expr``: broadcast-crossJoin + JVM score expression + per-query
        window rank. Oracle-exact double math; shuffles |corpus|×|queries|
        scored rows — fine for small query sets / correctness checks.
      - ``numpy``: Arrow-batched BLAS scoring with per-partition partial
        top-k (map-side combine), then a final per-query merge over the
        reduced candidate set. Collects + broadcasts the query side, so
        it is the point-query-batch path (queries ≪ corpus by contract);
        query sides over ``BROADCAST_QUERY_CAP`` rows fail loudly.
      - ``blocked``: fully distributed 2-D blocked BLAS join — NO driver
        collect of either side; both sides shuffle once into (query-block
        × corpus-block) tiles scored with one matmul each (the
        ``dedup.embedding_neardup`` shape). The corpus-as-queries / wide
        path.
      - ``auto``: counts the query side; ``numpy`` at or below
        ``BROADCAST_QUERY_CAP`` rows, else ``blocked``.

    ``n_hint`` / ``m_hint``: approximate corpus / query row counts used to
    size the blocked join's tiles. Passing them (or reusing a count the
    caller already has) removes the two sizing ``count()`` jobs — at 100 TB
    those are two extra full scans of possibly-expensive lineage. Hints
    only affect tile granularity, never correctness.

    Returns (qid, id, score, rank).
    """
    if strategy == "auto":
        strategy = "blocked" if query_side_is_big(queries, m_hint) else "numpy"
    if strategy == "blocked":
        return _knn_join_blocked(
            corpus, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col,
            n_hint=n_hint, m_hint=m_hint,
        )
    if strategy == "expr":
        q = queries.select(
            F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("_qvec")
        )
        scored = corpus.crossJoin(F.broadcast(q)).select(
            "qid",
            F.col(id_col).alias("id"),
            similarity(metric, F.col(vec_col), F.col("_qvec")).alias("score"),
        )
        return _rank_topk(scored, k)
    if strategy == "numpy":
        return _knn_join_numpy(
            corpus, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col
        )
    raise ValueError(f"unknown strategy {strategy!r}")


def empty_hits() -> pd.DataFrame:
    """The zero-row ``(qid, id, score)`` frame a scoring task returns when
    it has nothing to emit."""
    return pd.DataFrame(
        {
            "qid": pd.Series(dtype="int64"),
            "id": pd.Series(dtype="int64"),
            "score": pd.Series(dtype="float64"),
        }
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k window under the score-desc / id-asc total order
    (T4), ranked and ordered by (qid, rank)."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def _knn_join_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Map-side partial top-k k-NN join.

    The query set is collected to the driver (it is the small side by
    contract — same asymmetry the reference assumes: queries ≪ corpus) and
    broadcast as dense numpy matrices; each corpus partition emits at most
    k candidates per query. The collect is capped at
    ``BROADCAST_QUERY_CAP`` rows and fails loudly above it (same contract
    as every point-query-batch operator) — corpus-sized query sides must
    use ``strategy='blocked'``.
    """
    from jvector_spark.functions.registry import resolve_kernel

    kernel = resolve_kernel(metric)  # driver-side: X1 registry lives here
    qids, qmat = collect_point_query_batch(
        queries, query_id_col, query_vec_col, "exact.knn_join(strategy='numpy')"
    )
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat))

    # `kernel` rides the UDF closure (cloudpickle), NOT the broadcast —
    # plain pickle can't serialize user-local functions
    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = kernels.as_matrix(pdf[vec_col])
            scores = kernel(q_mat, x)  # (m, batch)
            idx, vals = kernels.topk_per_row(scores, k, ids=ids)
            m, kk = idx.shape
            yield pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, kk),
                    "id": ids[idx.ravel()],
                    "score": vals.ravel(),
                }
            )

    candidates = corpus.select(id_col, vec_col).mapInPandas(
        part, schema="qid long, id long, score double"
    )
    return _rank_topk(candidates, k)


def hard_negative_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "COSINE",
    id_col: str = "id",
    vec_col: str = "vec",
    label_col: str = "label",
    query_id_col: str = "qid",
    query_vec_col: str = "vec",
    query_label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining (the SBERT/DPR contrastive-training op): for
    every query, its top-k most-similar corpus rows whose ``label_col``
    DIFFERS from the query's — the nearest wrong-class examples, the ones
    worth training against.

    Exact by construction: the same-label mask is applied INSIDE the
    scoring kernel before the per-partition partial top-k, so the result
    never depends on an overfetch guess (post-filtering a plain k-NN can
    return < k rows whenever a query's neighborhood is same-label). A
    query that is itself a corpus row is excluded automatically — it
    shares its own label. Point-query-batch contract (queries ≪ corpus,
    broadcast side capped); the 100 TB shape for corpus-sized query sides
    is IVF search with deep overquery + a label anti-filter — approximate
    by construction like the production mining loops it mirrors, with
    this operator as its exact twin and ground-truth oracle.

    Returns (qid, id, score, rank).
    """
    from jvector_spark.functions.registry import resolve_kernel

    kernel = resolve_kernel(metric)
    qids, qmat, qlab = collect_point_query_batch(
        queries, query_id_col, query_vec_col, "exact.hard_negative_join",
        extra_cols=(query_label_col,),
    )
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((qids, qmat, qlab))

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat, q_lab = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            lab = pdf[label_col].to_numpy()
            x = kernels.as_matrix(pdf[vec_col])
            scores = kernel(q_mat, x)  # (m, batch)
            scores = np.where(q_lab[:, None] == lab[None, :], -np.inf, scores)
            idx, vals = kernels.topk_per_row(scores, k, ids=ids)
            m, kk = idx.shape
            qcol = np.repeat(q_ids, kk)
            icol = ids[idx.ravel()]
            scol = vals.ravel()
            keep = np.isfinite(scol)  # partitions with < k foreign-label rows
            yield pd.DataFrame(
                {"qid": qcol[keep], "id": icol[keep], "score": scol[keep]}
            )

    candidates = corpus.select(id_col, vec_col, label_col).mapInPandas(
        part, schema="qid long, id long, score double"
    )
    return _rank_topk(candidates, k)


# Tile sizing for the blocked join: per-task corpus/query row targets.
# A (Q_TILE x C_TILE) float64 score matrix is ~64 MB; the kernel chunks
# the query axis so peak memory stays bounded regardless of tile size.
_C_TILE = 16384
_Q_TILE = 2048


def _knn_join_blocked(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    n_hint: int | None = None,
    m_hint: int | None = None,
) -> DataFrame:
    """Fully-distributed exact k-NN join (no driver collect of either side).

    2-D blocking: corpus rows hash into C corpus-blocks and replicate to
    each of B query-blocks; query rows hash into B query-blocks and
    replicate to each of C corpus-blocks. Every (qb, cb) tile scores its
    |queries|/B × |corpus|/C pair with BLAS and emits per-query local
    top-k; a global window merges the C×k candidates per query. Shuffle
    volume is O(|corpus|·B + |queries|·C) — the standard all-pairs shape
    (cf. ``dedup.embedding_neardup``) — for the inherently O(n·m) scoring
    work, and no single node ever holds a full side.

    Tile counts come from ``n_hint`` / ``m_hint`` when given (approximate
    is fine — they only set granularity); otherwise one sizing ``count()``
    per un-hinted side.
    """
    import math

    from jvector_spark.functions.registry import resolve_kernel

    kernel = resolve_kernel(metric)  # driver-side: X1 registry lives here
    n = n_hint if n_hint is not None else corpus.count()
    m = m_hint if m_hint is not None else queries.count()
    c_blocks = max(1, math.ceil(n / _C_TILE))
    q_blocks = max(1, math.ceil(m / _Q_TILE))

    cb_of = F.pmod(F.xxhash64(F.col("id")), F.lit(c_blocks)).cast("int")
    qb_of = F.pmod(F.xxhash64(F.col("qid")), F.lit(q_blocks)).cast("int")
    c_side = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .withColumn("cb", cb_of)
        .withColumn("qb", F.explode(F.array(*[F.lit(i) for i in range(q_blocks)])))
        .select("qb", "cb", F.col("id").alias("rid"), "v", F.lit(0).alias("is_q"))
    )
    q_side = (
        queries.select(F.col(query_id_col).alias("qid"), F.col(query_vec_col).alias("v"))
        .withColumn("qb", qb_of)
        .withColumn("cb", F.explode(F.array(*[F.lit(i) for i in range(c_blocks)])))
        .select("qb", "cb", F.col("qid").alias("rid"), "v", F.lit(1).alias("is_q"))
    )

    def score_tile(key, pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["is_q"] == 1]
        cs = pdf[pdf["is_q"] == 0]
        if len(qs) == 0 or len(cs) == 0:
            return empty_hits()
        cids = cs["rid"].to_numpy(dtype=np.int64)
        qids = qs["rid"].to_numpy(dtype=np.int64)
        cmat = kernels.as_matrix(cs["v"])
        qmat = kernels.as_matrix(qs["v"])
        out = []
        # chunk the query axis so the score matrix stays ~bounded
        for lo in range(0, len(qmat), 512):
            qc = qmat[lo : lo + 512]
            scores = kernel(qc, cmat)
            idx, vals = kernels.topk_per_row(scores, k, ids=cids)
            kk = idx.shape[1]
            out.append(
                pd.DataFrame(
                    {
                        "qid": np.repeat(qids[lo : lo + 512], kk),
                        "id": cids[idx.ravel()],
                        "score": vals.ravel(),
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    candidates = c_side.unionByName(q_side).groupBy("qb", "cb").applyInPandas(
        score_tile, schema="qid long, id long, score double"
    )
    return _rank_topk(candidates, k)
