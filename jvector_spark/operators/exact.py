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

import math
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.functions.similarity import similarity, vector_literal


def in_list(col: str, values) -> Column:
    """``col IN (values)`` over a driver-side collection of integers, as
    ONE SQL expression: ``Column.isin`` makes one JVM round trip per
    literal (~240 per point batch; a 10k-id accept list takes seconds to
    plan). The plan is the same: Catalyst turns the list into an
    ``INSET`` and prunes ``part_id`` directories with it. An empty
    collection is ``False``."""
    vals = sorted({int(v) for v in values})
    if not vals:
        return F.lit(False)
    name = "`" + col.replace("`", "``") + "`"
    return F.expr(f"{name} IN ({', '.join(map(str, vals))})")


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
        out = out.filter(~in_list(id_col, exclude_ids))  # F4
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


def route_query_batch(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    op: str,
    strategy: str = "broadcast",
    routes: tuple[str, str] = ("broadcast", "distributed"),
    m_hint: int | None = None,
    extra_cols: tuple = (),
) -> tuple | None:
    """The query-side front end of every point-query-batch operator: route
    the query side and, on the broadcast route, collect it.

    ``routes`` names the operator's (broadcast, distributed) strategies.
    ``auto`` decides from ``m_hint`` when given (no job); otherwise ONE
    ``take(cap + 1)`` decides and collects: at most
    ``BROADCAST_QUERY_CAP`` rows is the broadcast route with those rows,
    more is the distributed route (the rows are dropped). An explicit
    broadcast collects the same way but fails loudly above the cap (a
    corpus-sized query side must not OOM the driver).

    Returns ``None`` for the distributed route, else ``(qids, qmat)``:
    int64 ids and the (m, d) f64 query matrix ((0, 0) when empty), plus
    one array per ``extra_cols`` entry (e.g. the hard-negative label)."""
    broadcast, distributed = routes
    cap = BROADCAST_QUERY_CAP
    auto = strategy == "auto"
    if auto and m_hint is not None:
        strategy, auto = (distributed if m_hint > cap else broadcast), False
    if strategy == distributed:
        return None
    if not auto and strategy != broadcast:
        raise ValueError(f"unknown strategy {strategy!r}")
    rows = queries.select(id_col, vec_col, *extra_cols).take(cap + 1)
    if len(rows) > cap:
        if auto:
            return None
        raise ValueError(
            f"{op} is a point-query-batch operator (query side is broadcast); "
            f"got more than {cap} query rows. Use exact.knn_join(strategy="
            f"'blocked') for corpus-sized query sets, or chunk the queries."
        )
    qids = np.array([r[0] for r in rows], dtype=np.int64)
    qmat = (
        np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
        if rows
        else np.zeros((0, 0))
    )
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
        scored rows — fine for small query sets. It is the tests'
        reference oracle (``tests/test_exact.py``, ``tests/test_index.py``):
        it shares no Python scoring code with the other strategies, so
        they are checked against an independent implementation.
      - ``numpy``: Arrow-batched BLAS scoring with per-partition partial
        top-k (map-side combine), then a final per-query merge over the
        reduced candidate set. Collects + broadcasts the query side, so
        it is the point-query-batch path (queries ≪ corpus by contract);
        query sides over ``BROADCAST_QUERY_CAP`` rows fail loudly.
      - ``blocked``: fully distributed 2-D blocked BLAS join
        (``tile_join``) — NO driver collect of either side; both sides
        shuffle once into (query-block × corpus-block) tiles scored with
        one matmul each. The corpus-as-queries / wide path.
      - ``auto``: ``numpy`` at or below ``BROADCAST_QUERY_CAP`` query
        rows, else ``blocked`` — decided by ``m_hint``, or by the same
        ``take(cap + 1)`` that collects the broadcast side
        (``route_query_batch``).

    ``n_hint`` / ``m_hint``: approximate corpus / query row counts used to
    size the blocked join's tiles. Passing them (or reusing a count the
    caller already has) removes the two sizing ``count()`` jobs — at 100 TB
    those are two extra full scans of possibly-expensive lineage. Hints
    only affect tile granularity, never correctness.

    Returns (qid, id, score, rank).
    """
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
    batch = route_query_batch(
        queries, query_id_col, query_vec_col, "exact.knn_join(strategy='numpy')",
        strategy, ("numpy", "blocked"), m_hint,
    )
    if batch is None:
        return _knn_join_blocked(
            corpus, queries, k, metric, id_col, vec_col, query_id_col, query_vec_col,
            n_hint=n_hint, m_hint=m_hint,
        )
    return _knn_join_numpy(corpus, batch, k, metric, id_col, vec_col)


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
    (T4): ranked, not ordered. ``rank`` is the contract; a global sort
    would cost a range-sampling job and a second exchange on every top-k
    call, so a caller that needs row order sorts by ``(qid, rank)``."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def empty_ranked(spark) -> DataFrame:
    """The zero-row ``(qid, id, score, rank)`` result of a top-k operator
    whose query side is empty."""
    return _rank_topk(spark.createDataFrame([], "qid long, id long, score double"), 1)


def _knn_join_numpy(
    corpus: DataFrame,
    batch: tuple,
    k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
) -> DataFrame:
    """Map-side partial top-k k-NN join against a collected query batch
    (``route_query_batch``'s ``(qids, qmat[, qlabels])``), broadcast as
    dense numpy matrices (queries ≪ corpus by contract, the reference's
    asymmetry); each corpus partition emits at most k candidates per
    query. With ``label_col`` corpus rows sharing a query's label are
    masked INSIDE the kernel, before the partial top-k (hard negatives).
    """
    from jvector_spark.functions.registry import resolve_kernel

    kernel = resolve_kernel(metric)  # driver-side: X1 registry lives here
    if not len(batch[0]):
        return empty_ranked(corpus.sparkSession)
    bq = corpus.sparkSession.sparkContext.broadcast(batch)

    # `kernel` rides the UDF closure (cloudpickle), NOT the broadcast —
    # plain pickle can't serialize user-local functions
    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        q_ids, q_mat, *q_lab = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            x = kernels.as_matrix(pdf[vec_col])
            scores = kernel(q_mat, x)  # (m, batch)
            if q_lab:
                lab = pdf[label_col].to_numpy()
                scores = np.where(q_lab[0][:, None] == lab[None, :], -np.inf, scores)
            idx, vals = kernels.topk_per_row(scores, k, ids=ids)
            kk = idx.shape[1]
            qcol = np.repeat(q_ids, kk)
            icol = ids[idx.ravel()]
            scol = vals.ravel()
            if q_lab:
                keep = np.isfinite(scol)  # partitions with < k foreign-label rows
                qcol, icol, scol = qcol[keep], icol[keep], scol[keep]
            yield pd.DataFrame({"qid": qcol, "id": icol, "score": scol})

    cols = [id_col, vec_col] + ([label_col] if label_col else [])
    candidates = corpus.select(*cols).mapInPandas(
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
    batch = route_query_batch(
        queries, query_id_col, query_vec_col, "exact.hard_negative_join",
        extra_cols=(query_label_col,),
    )
    return _knn_join_numpy(corpus, batch, k, metric, id_col, vec_col, label_col)


# Tile sizing for the blocked join: per-task corpus/query row targets.
# A (Q_TILE x C_TILE) float64 score matrix is ~64 MB; the kernel chunks
# the query axis so peak memory stays bounded regardless of tile size.
_C_TILE = 16384
_Q_TILE = 2048


def flat_blocks(
    corpus: DataFrame, queries: DataFrame, n_hint: int | None, m_hint: int | None
) -> tuple[int, int]:
    """``tile_join`` block counts of an un-indexed blocked join:
    ``ceil(m / _Q_TILE)`` query blocks ×
    ``ceil(n / _C_TILE)`` corpus blocks. ``n_hint`` / ``m_hint`` replace
    the sizing ``count()`` of their side (approximate is fine — they only
    set granularity)."""
    n = n_hint if n_hint is not None else corpus.count()
    m = m_hint if m_hint is not None else queries.count()
    return max(1, math.ceil(m / _Q_TILE)), max(1, math.ceil(n / _C_TILE))


def tile_join(
    c_side: DataFrame,
    q_side: DataFrame,
    blocks: tuple[int, int],
    score_tile: Callable[[pd.DataFrame, pd.DataFrame], pd.DataFrame],
) -> DataFrame:
    """The 2-D blocked tile join of the un-indexed uncapped joins: the
    exact blocked k-NN join and the blocked two-phase join. No driver
    collect of either side. (Indexed bulk searches do not shuffle corpus
    rows: they run ``IVFIndex._probe_exchange``.)

    ``c_side`` / ``q_side``: corpus rows and query rows, each with
    ``rid`` and its own payload columns (a column only one side carries is
    null on the other). ``blocks``: (q_blocks, c_blocks), from
    ``flat_blocks``. Corpus rows hash into c-blocks by
    ``pmod(xxhash64(rid), c_blocks)`` and replicate to each q-block;
    query rows do the transpose. Every (qb, cb) tile holding rows of both
    sides is scored by ``score_tile(qs, cs)``, which returns (qid, id,
    score) rows. Shuffle volume is O(corpus·q_blocks + queries·c_blocks)
    — the standard all-pairs shape (cf. ``dedup.embedding_neardup``) —
    and no task holds more than ~one tile.

    One tile ≈ one task: the session default (shuffle.partitions =
    n_cores) hashes many tiles into few shuffle partitions, and the
    unlucky partition that draws several hot-cluster tiles becomes a
    straggler AQE cannot split (skew handling only covers joins, not
    applyInPandas exchanges). The tile count is known on the driver, so
    the union repartitions by the group key to ~that many partitions;
    groupBy reuses the hash partitioning — one exchange either way, same
    shuffle volume, shorter tail."""
    qbn, cbn = blocks
    c = c_side.select(
        "*",
        F.pmod(F.xxhash64("rid"), F.lit(cbn)).cast("int").alias("cb"),
        F.explode(F.sequence(F.lit(0), F.lit(qbn - 1))).alias("qb"),
        F.lit(False).alias("is_q"),
    )
    q = q_side.select(
        "*",
        F.pmod(F.xxhash64("rid"), F.lit(qbn)).cast("int").alias("qb"),
        F.explode(F.sequence(F.lit(0), F.lit(cbn - 1))).alias("cb"),
        F.lit(True).alias("is_q"),
    )

    def tile(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["is_q"]]
        cs = pdf[~pdf["is_q"]]
        if len(qs) == 0 or len(cs) == 0:
            return empty_hits()
        return score_tile(qs, cs)

    spark = c_side.sparkSession
    n_shuffle = int(min(4096, max(spark.sparkContext.defaultParallelism, qbn * cbn)))
    return (
        c.unionByName(q, allowMissingColumns=True)
        .repartition(n_shuffle, "qb", "cb")
        .groupBy("qb", "cb")
        .applyInPandas(tile, schema="qid long, id long, score double")
    )


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
    """Fully-distributed exact k-NN join (no driver collect of either side):
    ``tile_join`` over ``flat_blocks``, every tile scored with BLAS and cut
    to its per-query local top-k; a global window merges the c_blocks×k
    candidates per query."""
    from jvector_spark.functions.registry import resolve_kernel

    # driver-side: the X1 registry lives here, and `kernel` rides the
    # scorer's closure (registry functions do not pickle through a broadcast)
    kernel = resolve_kernel(metric)

    def score_tile(qs: pd.DataFrame, cs: pd.DataFrame) -> pd.DataFrame:
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

    def side(df: DataFrame, rid: str, vec: str) -> DataFrame:
        return df.select(F.col(rid).alias("rid"), F.col(vec).alias("v"))

    candidates = tile_join(
        side(corpus, id_col, vec_col),
        side(queries, query_id_col, query_vec_col),
        flat_blocks(corpus, queries, n_hint, m_hint),
        score_tile,
    )
    return _rank_topk(candidates, k)
