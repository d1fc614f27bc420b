"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

Every query here is a thin wrapper over operators in ``jvector_spark``;
each maps to a SURVEY.md §2 inventory row (cited in the registration).
Float columns are rounded to 6 decimals on BOTH sides so double-precision
summation-order differences between Spark and DuckDB cannot flip the hash.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from jvector_spark.functions.similarity import (  # noqa: E402
    similarity,
    sql_similarity,
)

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str):
    def deco(fn):
        _QUERIES[name] = fn
        return fn

    return deco


def _oracle(name: str, sql: str) -> None:
    _ORACLES[name] = sql


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# Exact search family (SURVEY §2.4 J1/J4, §2.2 F1/F4, §2.6 T1/T4, §2.3 E1-E5)
# ---------------------------------------------------------------------------

_METRIC_QID = {"COSINE": 0, "EUCLIDEAN": 1, "DOT_PRODUCT": 2}


def _knn_topk(metric: str, k: int = 10):
    qid = _METRIC_QID[metric]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") == qid).select(F.col("embedding").alias("qvec"))
        scored = (
            emb.filter(F.col("vec_id") != qid)
            .crossJoin(F.broadcast(q))
            .select(
                "vec_id",
                similarity(metric, F.col("embedding"), F.col("qvec")).alias("_s"),
            )
        )
        w = Window.orderBy(F.desc("_s"), F.asc("vec_id"))
        return (
            scored.orderBy(F.desc("_s"), F.asc("vec_id"))
            .limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .select("vec_id", F.round("_s", 6).alias("score"), "rank")
        )

    return run


def _knn_topk_sql(metric: str, k: int = 10) -> str:
    qid = _METRIC_QID[metric]
    sim = sql_similarity(metric, "e.embedding", "q.qvec")
    return f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = {qid}),
s AS (
  SELECT e.vec_id, {sim} AS _s
  FROM embeddings e, q WHERE e.vec_id <> {qid}
)
SELECT vec_id, ROUND(_s, 6) AS score,
       CAST(row_number() OVER (ORDER BY _s DESC, vec_id ASC) AS BIGINT) AS rank
FROM s ORDER BY _s DESC, vec_id ASC LIMIT {k}
"""


for _m in _METRIC_QID:
    _register(f"knn_topk_{_m.lower()}")(_knn_topk(_m))
    _oracle(f"knn_topk_{_m.lower()}", _knn_topk_sql(_m))


@_register("knn_topk_custom_metric")
def _knn_topk_custom_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 SPI end-to-end: register a user metric (Manhattan similarity
    1/(1+L1)) with its kernel + Column builder + SQL twin, then run the
    stock exact top-k operator under the custom name — score math and
    ranking fully hash-checked against the DuckDB twin."""
    import numpy as np

    from jvector_spark.functions.registry import ScoreFunction, register_score_function
    from jvector_spark.operators import exact

    def l1_kernel(a: np.ndarray, b: np.ndarray) -> np.ndarray:
        return 1.0 / (1.0 + np.abs(a[:, None, :] - b[None, :, :]).sum(axis=-1))

    def l1_column(a, b):
        ac = (a if not isinstance(a, str) else F.col(a)).cast("array<double>")
        bc = (b if not isinstance(b, str) else F.col(b)).cast("array<double>")
        l1 = F.aggregate(
            F.zip_with(ac, bc, lambda x, y: F.abs(x - y)), F.lit(0.0), lambda s, x: s + x
        )
        return F.lit(1.0) / (F.lit(1.0) + l1)

    register_score_function(ScoreFunction(name="L1_SIM", kernel=l1_kernel, column=l1_column))

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    qvec = emb.filter(F.col("vec_id") == 9).select("embedding").first()[0]
    res = exact.topk(corpus, qvec, 10, metric="L1_SIM", exclude_ids=[9])
    return res.select(
        "id", F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank")
    )


_oracle(
    "knn_topk_custom_metric",
    """
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 9),
s AS (
  SELECT e.vec_id AS id,
         1.0 / (1.0 + list_sum(list_transform(range(1, len(e.embedding) + 1),
                i -> abs(CAST(e.embedding[i] AS DOUBLE) - CAST(q.qvec[i] AS DOUBLE))))) AS _s
  FROM embeddings e, q WHERE e.vec_id <> 9
)
SELECT id, ROUND(_s, 6) AS score,
       CAST(row_number() OVER (ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
FROM s ORDER BY _s DESC, id ASC LIMIT 10
""",
)


@_register("knn_filtered")
def _knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN (F1): predicate label=3 applied below top-k — exact in batch."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qvec"))
    scored = (
        emb.filter((F.col("vec_id") != 7) & (F.col("label") == 3))
        .crossJoin(F.broadcast(q))
        .select("vec_id", similarity("COSINE", F.col("embedding"), F.col("qvec")).alias("_s"))
    )
    w = Window.orderBy(F.desc("_s"), F.asc("vec_id"))
    return (
        scored.orderBy(F.desc("_s"), F.asc("vec_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select("vec_id", F.round("_s", 6).alias("score"), "rank")
    )


_oracle(
    "knn_filtered",
    f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
s AS (
  SELECT e.vec_id, {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.vec_id <> 7 AND e.label = 3
)
SELECT vec_id, ROUND(_s, 6) AS score,
       CAST(row_number() OVER (ORDER BY _s DESC, vec_id ASC) AS BIGINT) AS rank
FROM s ORDER BY _s DESC, vec_id ASC LIMIT 10
""",
)


@_register("knn_join")
def _knn_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join (J1 over a query set): top-5 neighbors for 16 queries."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.filter(F.col("vec_id") >= 16)
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        "qid",
        "vec_id",
        similarity("COSINE", F.col("embedding"), F.col("qvec")).alias("_s"),
    )
    w = Window.partitionBy("qid").orderBy(F.desc("_s"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("qid", "vec_id", F.round("_s", 6).alias("score"), "rank")
    )


_oracle(
    "knn_join",
    f"""
WITH s AS (
  SELECT q.vec_id AS qid, e.vec_id,
         {sql_similarity("COSINE", "e.embedding", "q.embedding")} AS _s
  FROM embeddings e, embeddings q
  WHERE q.vec_id < 16 AND e.vec_id >= 16
),
r AS (
  SELECT qid, vec_id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, vec_id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, vec_id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 5
""",
)


@_register("threshold_search")
def _threshold_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold query (J4/F3): all rows with normalized cosine score >= 0.6."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") == 4).select(F.col("embedding").alias("qvec"))
    scored = (
        emb.filter(F.col("vec_id") != 4)
        .crossJoin(F.broadcast(q))
        .select("vec_id", similarity("COSINE", F.col("embedding"), F.col("qvec")).alias("_s"))
    )
    return (
        scored.filter(F.col("_s") >= 0.6)
        .select("vec_id", F.round("_s", 6).alias("score"))
    )


_oracle(
    "threshold_search",
    f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 4)
SELECT e.vec_id, ROUND({sql_similarity("COSINE", "e.embedding", "q.qvec")}, 6) AS score
FROM embeddings e, q
WHERE e.vec_id <> 4
  AND {sql_similarity("COSINE", "e.embedding", "q.qvec")} >= 0.6
""",
)


@_register("knn_paginated")
def _knn_paginated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated search (J5 resume analog): page 2 (ranks 11-20) of the
    exact cosine ranking for query vec_id=0 — deterministic under the
    score-desc/id-asc total order, so exactly oracle-checkable."""
    from jvector_spark.operators import exact

    emb = _emb(spark, sf_dir)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    page = exact.search_page(
        corpus, qvec, page_size=10, page=1, metric="COSINE", exclude_ids=[0]
    )
    return page.select(
        "id", F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank")
    )


_oracle(
    "knn_paginated",
    f"""
WITH q AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
s AS (
  SELECT e.vec_id AS id, {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.vec_id <> 0
),
r AS (
  SELECT id, _s,
         CAST(row_number() OVER (ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT id, ROUND(_s, 6) AS score, rank FROM r WHERE rank > 10 AND rank <= 20
""",
)


@_register("vector_centroids")
def _centroids_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (A1), exploded to (label, dim, value) for hashing."""
    emb = _emb(spark, sf_dir)
    return (
        emb.select("label", F.posexplode(F.col("embedding").cast("array<double>")).alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 6).alias("centroid_v"))
        .select(F.col("label").cast("long").alias("label"), F.col("dim").cast("long").alias("dim"), "centroid_v")
    )


_oracle(
    "vector_centroids",
    """
SELECT CAST(label AS BIGINT) AS label, CAST(r.i AS BIGINT) AS dim,
       ROUND(AVG(CAST(embedding[r.i + 1] AS DOUBLE)), 6) AS centroid_v
FROM embeddings, range(64) r(i)
GROUP BY label, r.i
""",
)


@_register("l2_normalize")
def _l2norm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 l2normalize + norms: (vec_id, norm, first component of unit vector).

    The norm is materialized in a prior projection so Catalyst computes the
    aggregate once, instead of inlining it per array element (64× blowup).
    """
    from jvector_spark.functions.similarity import l2_norm

    emb = _emb(spark, sf_dir)
    return (
        emb.select("vec_id", "embedding", l2_norm(F.col("embedding")).alias("_n"))
        .select(
            "vec_id",
            F.round("_n", 6).alias("norm"),
            F.round(F.element_at(F.col("embedding").cast("array<double>"), 1) / F.col("_n"), 6).alias("u0"),
        )
    )


_oracle(
    "l2_normalize",
    """
SELECT vec_id,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
       ROUND(CAST(embedding[1] AS DOUBLE)
             / sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS u0
FROM embeddings
""",
)


@_register("vector_arith")
def _vector_arith_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 elementwise reductions: sum/min/max over each vector's elements."""
    emb = _emb(spark, sf_dir)
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.round(F.aggregate(arr, F.lit(0.0), lambda a, x: a + x), 6).alias("sum_elems"),
        F.round(F.array_min(arr), 6).alias("min_elem"),
        F.round(F.array_max(arr), 6).alias("max_elem"),
    )


_oracle(
    "vector_arith",
    """
SELECT vec_id,
       ROUND(list_sum(embedding::DOUBLE[]), 6) AS sum_elems,
       ROUND(list_min(embedding::DOUBLE[]), 6) AS min_elem,
       ROUND(list_max(embedding::DOUBLE[]), 6) AS max_elem
FROM embeddings
""",
)


@_register("vector_scale_add")
def _vector_scale_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E6 elementwise arithmetic: scale, add, sub, min as JVM HOF columns
    (ref VectorUtil.java:117-165). Derives 3e = 2e + e, e - reverse(e),
    min(e, reverse(e)) and emits scalars the oracle replicates exactly."""
    from jvector_spark.functions.similarity import (
        vec_add, vec_min, vec_scale, vec_sub, vec_sum_elems,
    )

    emb = _emb(spark, sf_dir)
    arr = F.col("embedding")
    rev = F.reverse(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(vec_sum_elems(vec_add(vec_scale(arr, 2.0), arr)), 6).alias("sum3"),
        F.round(F.element_at(vec_sub(arr, rev), 1), 6).alias("sub0"),
        F.round(F.element_at(vec_min(arr, rev), 1), 6).alias("min0"),
    )


_oracle(
    "vector_scale_add",
    """
SELECT vec_id,
       ROUND(list_sum(list_transform(embedding::DOUBLE[], x -> (2.0 * x) + x)), 6) AS sum3,
       ROUND(CAST(embedding[1] AS DOUBLE) - CAST(embedding[len(embedding)] AS DOUBLE), 6) AS sub0,
       ROUND(least(CAST(embedding[1] AS DOUBLE), CAST(embedding[len(embedding)] AS DOUBLE)), 6) AS min0
FROM embeddings
""",
)


# ---------------------------------------------------------------------------
# Wide exact k-NN join (J1 at corpus scale, numpy/BLAS path)
# ---------------------------------------------------------------------------


@_register("knn_join_wide")
def _knn_join_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self k-NN join: every vector queries the whole corpus (k=3, no
    self-match) via the fully-distributed 2-D blocked BLAS path — the
    corpus-as-queries shape where collecting the query side to the driver
    would be the scale-killer (no side is ever collected)."""
    from jvector_spark.operators import exact

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = emb.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("vec"))
    res = exact.knn_join(corpus, queries, k=4, metric="COSINE", strategy="blocked")
    # drop self-matches, keep top-3, re-rank
    kept = res.filter(F.col("qid") != F.col("id"))
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
    return (
        kept.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("qid", "id", F.round("score", 6).alias("score"), "rank")
    )


_oracle(
    "knn_join_wide",
    f"""
WITH s AS (
  SELECT q.vec_id AS qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.embedding")} AS _s
  FROM embeddings e, embeddings q WHERE e.vec_id <> q.vec_id
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 3
""",
)


# ---------------------------------------------------------------------------
# Quantized scoring (BQ E10; PQ/IVF J2/J3 — approximate, rows-only checks)
# ---------------------------------------------------------------------------


@_register("bq_hamming")
def _bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ sign-bit codes + pairwise Hamming similarity (E10/A6), JVM-side:
    codes from the BinaryQuantizer mapInPandas encoder, pair scoring via
    aggregate(zip_with(bit_count(xor))) — no Python in the join."""
    from jvector_spark.operators.quantize.bq import BinaryQuantizer

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 40)
    dim = len(emb.select("embedding").first()[0])
    codes = BinaryQuantizer(dim=dim).encode(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    )
    a = codes.select(F.col("id").alias("id_a"), F.col("bq_words").alias("wa"))
    b = codes.select(F.col("id").alias("id_b"), F.col("bq_words").alias("wb"))
    ham = F.aggregate(
        F.zip_with("wa", "wb", lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            ham.alias("hamming"),
            F.round(F.lit(1.0) - ham / F.lit(float(dim)), 6).alias("bq_sim"),
        )
    )


_oracle(
    "bq_hamming",
    """
WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 40),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST(len(list_filter(range(len(a.embedding)),
                   i -> (a.embedding[i+1] > 0) <> (b.embedding[i+1] > 0))) AS BIGINT) AS hamming,
         len(a.embedding) AS dim
  FROM v a JOIN v b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, hamming, ROUND(1.0 - hamming / CAST(dim AS DOUBLE), 6) AS bq_sim
FROM p
""",
)


@_register("pq_reconstruction")
def _pq_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 reconstruction error under tolerance bands (ref
    ProductQuantization.java:454 decode + TestReconstructionError.java:54-106,
    which pins dataset-specific error bands under test): encode -> decode
    every embedding in a distributed Arrow pass and emit per-row booleans
    the DuckDB twin states as invariants — code width == m bytes, per-row
    relative squared error ||x - x_hat||^2/||x||^2 <= 0.75, and corpus mean
    <= 0.35 (measured: max 0.37 / mean 0.23 at sf0.1 with pq_m=8 on the
    64-d fixtures — ~2x headroom). A hash match proves the bands hold for
    EVERY row."""
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from jvector_spark.functions import kernels
    from jvector_spark.operators.quantize.pq import ProductQuantizer

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    pq = ProductQuantizer.fit(corpus, m=8, seed=42)
    b = spark.sparkContext.broadcast(pq)

    def err(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pqo: ProductQuantizer = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat = kernels.as_matrix(pdf["vec"])
            codes = pqo.encode_numpy(mat)
            diff = mat - pqo.decode_numpy(codes)
            rel = np.einsum("ij,ij->i", diff, diff) / np.maximum(
                np.einsum("ij,ij->i", mat, mat), 1e-30
            )
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "code_bytes": np.full(len(pdf), codes.shape[1] * codes.itemsize, dtype=np.int64),
                    "rel_err": rel,
                }
            )

    scored = corpus.mapInPandas(err, schema="id long, code_bytes long, rel_err double")
    mean_ok = scored.agg((F.avg("rel_err") <= 0.35).cast("long").alias("mean_ok"))
    return (
        scored.crossJoin(F.broadcast(mean_ok))
        .select(
            "id",
            "code_bytes",
            (F.col("rel_err") <= 0.75).cast("long").alias("within_tol"),
            "mean_ok",
        )
        .orderBy("id")
    )


_oracle(
    "pq_reconstruction",
    """
SELECT vec_id AS id, CAST(8 AS BIGINT) AS code_bytes,
       CAST(1 AS BIGINT) AS within_tol, CAST(1 AS BIGINT) AS mean_ok
FROM embeddings ORDER BY vec_id
""",
)


def _recall_gate(res: DataFrame, gt: DataFrame, min_hits: int) -> DataFrame:
    """A9 recall gate (AccuracyMetrics.java:29-60 semantics, per query):
    count how many of the approximate result's rows appear in the exact
    ground-truth top-k (computed by the oracle-verified exact path), and
    emit ``recall_ok = 1`` iff hits >= min_hits. The ANN paths are fully
    seeded/deterministic, so the booleans are stable and the DuckDB oracle
    states the expected gate outcome — converting "the query runs" into
    "the query's recall is provably above the bound"."""
    hits = (
        res.join(gt.select("qid", "id"), ["qid", "id"], "inner")
        .groupBy("qid")
        .agg(F.count("*").alias("_hits"))
    )
    nres = res.groupBy("qid").agg(F.count("*").alias("n_results"))
    return (
        nres.join(hits, "qid", "left")
        .fillna(0, subset=["_hits"])
        .select(
            "qid",
            F.col("n_results").cast("long").alias("n_results"),
            (F.col("_hits") >= min_hits).cast("long").alias("recall_ok"),
        )
        .orderBy("qid")
    )


def _gate_oracle(n_results: int, n_queries: int = 16) -> str:
    return f"""
SELECT vec_id AS qid, CAST({n_results} AS BIGINT) AS n_results,
       CAST(1 AS BIGINT) AS recall_ok
FROM embeddings WHERE vec_id < {n_queries} ORDER BY vec_id
"""


@_register("ann_two_phase")
def _ann_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase PQ search (J3): ADC first pass keeps overquery*k
    candidates, fp32 rerank returns exact scores for the reported rows.
    Gated: per-query recall@10 vs the exact oracle must be >= 0.5
    (observed floors: 9/10 hits at sf0.01, 7/10 at sf0.1 at overquery=4 —
    >=1-hit margin at every scale)."""
    from jvector_spark.operators import exact
    from jvector_spark.operators.quantize.pq import ProductQuantizer
    from jvector_spark.operators.search import two_phase_knn_join

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    pq = ProductQuantizer.fit(corpus, m=8, seed=42)
    codes = pq.encode(corpus)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = two_phase_knn_join(codes, corpus, pq, queries, k=10, metric="COSINE", overquery=4.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_two_phase", _gate_oracle(n_results=10))


@_register("ann_ivf_topk")
def _ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition-pruned two-phase search (J2): build a temp index,
    probe n_probe centroids per query. Gated: per-query recall@10 vs the
    exact oracle >= 0.5 (observed floor 0.7 at n_probe=16/overquery=8,
    stable across parallelism because build sampling is seeded)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_ivf_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_topk", _gate_oracle(n_results=10))


@_register("ann_ivf_fine")
def _ann_ivf_fine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (IMI-style) search with per-query fine-cell masking (the
    r5 recall-per-IO path; ref OnDiskGraphIndex.java:119-161 upper-layer
    pruning): fine_factor adds a second centroid level, n_probe_fine
    restricts each query's RANKED candidates to its own nearest fine
    cells (pushed sub_id scan filter + per-(query,row) mask in the fused
    kernel), and deep overquery reranks the surviving members exactly.
    Gated: per-query recall@10 vs the exact oracle >= 0.5 while visiting
    a small fraction of stored rows (recall 1.0 at 0.6% visited on the
    100k bench corpus; see BENCH large_recall grid). Operating point
    sized to hold the floor at BOTH sf0.01 and sf0.1 (worst query 6/10
    at sf0.1; the old np=8/npf=32/oq=16 point measured 4/10 there —
    fine-cell COVERAGE, pre-existing, not a code regression)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_ivf_fine_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, spill=2, fine_factor=8).fit(
        corpus, tmp
    )
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=12, overquery=16.0, n_probe_fine=48)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_fine", _gate_oracle(n_results=10))


@_register("ann_ivf_residual")
def _ann_ivf_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-PQ search (J2 + E7-E9 in residual space; FAISS-IVFPQ-style
    encoding the reference's GLOBAL PQ lacks — ProductQuantization.java
    trains on raw vectors because the graph index has no coarse level):
    codes quantize (vec - coarse centroid), so the 256 codewords resolve
    the within-cell spread; stage-1 decomposes every metric into the
    per-(query, cell) dot plus the standard ADC gather (index.py
    _fused_block_topk residual mode). Gated at a LOW overquery (2.0 —
    half of ann_ivf_topk's 8.0) where raw-PQ ADC noticeably degrades:
    per-query recall@10 vs the exact oracle must still be >= 0.5
    (observed floor 8/10 hits at sf0.01)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_ivf_res_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, pq_residual=True).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=2.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_residual", _gate_oracle(n_results=10))


@_register("knn_filtered_ivf")
def _knn_filtered_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN through the index (F1 via the fused scan; ref
    GraphSearcher.search(..., Bits acceptOrds), GraphSearcher.java:145-152,
    TestLowCardinalityFiltering.java:52-90): accept-list = ids with
    label=3, passed as a DataFrame so the in-index semi-join path runs.

    Fully hash-checkable AT ANY SCALE: this config probes EVERY partition
    and sizes rerank_k from the accept-list's actual row count — the ADC
    cut keeps at least |accept| candidates per batch, so every accepted
    row is exact-reranked and the global top-k is provably the exact
    filtered top-k (a fixed overquery was only exact while the accept
    cohort stayed under overquery*k rows — scale-fragile, r3 ADVICE)."""
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    accept = emb.filter(F.col("label") == 3).select(F.col("vec_id").alias("id"))
    n_accept = accept.count()
    tmp = tempfile.mkdtemp(prefix="jvs_entry_fivf_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(
        queries, k=5, n_probe=4096, overquery=float(n_accept) / 5.0 + 1.0,
        accept_ids=accept,
    )
    return res.select(
        "qid", "id", F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank")
    )


_oracle(
    "knn_filtered_ivf",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.label = 3
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 5
""",
)


@_register("threshold_search_ivf")
def _threshold_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold query through the IVF index (J4 + X4 analog): rigorous
    centroid-radius bounds prune partitions that provably contain no
    match, so the result is EXACT and oracle-checkable despite running
    on approximate-search infrastructure."""
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_thr_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    res = idx.threshold_search(queries, threshold=0.6)
    return res.filter(F.col("qid") != F.col("id")).select(
        "qid", "id", F.round("score", 6).alias("score")
    )


_oracle(
    "threshold_search_ivf",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.vec_id <> q.qid
)
SELECT qid, id, ROUND(_s, 6) AS score FROM s WHERE _s >= 0.6
""",
)


def _threshold_ivf_metric(metric: str, threshold: float):
    """Exact threshold search through the IVF index for a non-cosine
    metric — exercises the metric-specific pruning bounds end-to-end
    (notably the DOT_PRODUCT min-norm branch for negative cosines, the
    round-1 advisory fix). Exact despite pruning -> full hash oracle."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import tempfile

        from jvector_spark.operators.index import IVFIndexBuilder

        emb = _emb(spark, sf_dir)
        corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        tmp = tempfile.mkdtemp(prefix=f"jvs_entry_thr_{metric.lower()}_")
        idx = IVFIndexBuilder(metric=metric, pq_m=8).fit(corpus, tmp)
        queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
        res = idx.threshold_search(queries, threshold=threshold)
        return res.filter(F.col("qid") != F.col("id")).select(
            "qid", "id", F.round("score", 6).alias("score")
        )

    return run


def _threshold_ivf_metric_sql(metric: str, threshold: float) -> str:
    return f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity(metric, "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.vec_id <> q.qid
)
SELECT qid, id, ROUND(_s, 6) AS score FROM s WHERE _s >= {threshold}
"""


_register("threshold_search_ivf_dot")(_threshold_ivf_metric("DOT_PRODUCT", 0.62))
_oracle("threshold_search_ivf_dot", _threshold_ivf_metric_sql("DOT_PRODUCT", 0.62))
_register("threshold_search_ivf_euclidean")(_threshold_ivf_metric("EUCLIDEAN", 0.40))
_oracle("threshold_search_ivf_euclidean", _threshold_ivf_metric_sql("EUCLIDEAN", 0.40))


@_register("compact_search_exact")
def _compact_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction equivalence under the full hash oracle (ref
    TestOnDiskGraphIndexCompactor.java): build on half the corpus (M2),
    append the other half as a second segment (M1/U2), tombstone every
    id % 7 == 0 (M5 two-phase delete), then compact() — N:1 merge with
    warm-started PQ retrain (U1/M7) that physically drops the deleted
    rows. The post-compaction search probes EVERY partition with
    rerank_k = |live corpus| (the ADC cut keeps everything -> provably
    exact), so the result must hash-match DuckDB's exact top-10 over the
    surviving rows at any scale factor."""
    import tempfile

    from jvector_spark.operators.index import IVFIndex, IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    n = corpus.count()
    half = n // 2
    tmp = tempfile.mkdtemp(prefix="jvs_entry_compact_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(
        corpus.filter(F.col("id") < half), tmp
    )
    idx.append(corpus.filter(F.col("id") >= half))
    assert len(idx.manifest.segments) == 2
    dead = [r["id"] for r in corpus.filter(F.col("id") % 7 == 0).select("id").collect()]
    idx.delete(dead)
    idx = idx.compact()
    assert len(idx.manifest.segments) == 1 and idx.tombstones() is None
    n_live = n - len(dead)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(
        queries, k=10, n_probe=4096, overquery=float(n_live) / 10.0
    )
    return res.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "compact_search_exact",
    f"""
WITH v AS (SELECT vec_id AS id, embedding FROM embeddings WHERE vec_id % 7 <> 0),
q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, v.id,
         {sql_similarity("COSINE", "v.embedding", "q.qvec")} AS _s
  FROM v, q
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 10
""",
)


@_register("stream_ingest_search_exact")
def _stream_ingest_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest end-to-end under the full hash oracle (ST1-ST3;
    ref SiftSmall.java:216-275 incremental build + docs/compaction.md
    segment accumulation): seed an index on the first third of the corpus
    (M2), stage the remaining rows as two parquet files, stream them in
    with Structured Streaming (file source, maxFilesPerTrigger=1,
    availableNow) through ``stream_ingest`` — each micro-batch becomes one
    immutable segment, exactly-once by segment name (ST1) — then search
    across ALL THREE segments (J6 multi-index merge), compact to one
    (ST3/U1), and search again. Both searches probe every partition with
    rerank_k = |corpus| (provably exact), and the result must be
    IDENTICAL pre- and post-compaction AND hash-match DuckDB's exact
    top-10 — so segmentation and compaction are both proven
    result-invariant under the oracle at any scale factor."""
    import glob
    import shutil
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder
    from jvector_spark.streaming.ingest import stream_ingest

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    n = corpus.count()
    third = max(1, n // 3)
    tmp = tempfile.mkdtemp(prefix="jvs_entry_stream_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(
        corpus.filter(F.col("id") < third), os.path.join(tmp, "idx")
    )
    # stage the two remaining slices as one parquet file each (distributed
    # writes; the file MOVE is metadata-only) -> two deterministic
    # micro-batches under maxFilesPerTrigger=1
    stage = os.path.join(tmp, "incoming")
    os.makedirs(stage)
    for bi, (lo, hi) in enumerate([(third, 2 * third), (2 * third, n)]):
        part_dir = os.path.join(tmp, f"slice{bi}")
        corpus.filter((F.col("id") >= lo) & (F.col("id") < hi)).coalesce(
            1
        ).write.parquet(part_dir)
        src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(stage, f"batch{bi}.parquet"))
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    q = stream_ingest(
        stream, idx, checkpoint_dir=os.path.join(tmp, "ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination()
    assert len(idx.manifest.segments) == 3, idx.manifest.segments
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    exhaustive = dict(n_probe=4096, overquery=float(n) / 10.0)
    pre = idx.search(queries, k=10, **exhaustive)
    # top-k results are ranked, not ordered: compare the rows, not the
    # order a plan happens to return them in
    pre_rows = sorted(
        (r["qid"], r["id"], round(r["score"], 6), r["rank"]) for r in pre.collect()
    )
    idx = idx.compact()
    assert len(idx.manifest.segments) == 1
    post = idx.search(queries, k=10, **exhaustive)
    post_rows = sorted(
        (r["qid"], r["id"], round(r["score"], 6), r["rank"]) for r in post.collect()
    )
    assert pre_rows == post_rows, "compaction changed exhaustive results"
    return post.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "stream_ingest_search_exact",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 10
""",
)


@_register("hard_negatives")
def _hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (SBERT/DPR loop):
    per query, the top-10 most-similar corpus rows with a DIFFERENT
    label — the same-label mask runs inside the scoring kernel before
    the partial top-k, so the result is exact (never an overfetch
    guess) and self-matches drop out by sharing their own label."""
    from jvector_spark.operators.exact import hard_negative_join

    emb = _emb(spark, sf_dir)
    corpus = emb.selectExpr("vec_id as id", "embedding as vec", "label")
    queries = emb.filter(F.col("vec_id") < 16).selectExpr(
        "vec_id as qid", "embedding as vec", "label"
    )
    res = hard_negative_join(corpus, queries, 10, metric="COSINE")
    return res.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "hard_negatives",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlab
           FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q WHERE e.label <> q.qlab
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 10
""",
)


@_register("hard_negatives_ivf")
def _hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining through the index — the 100 TB route (ANN
    overfetch + label anti-filter + re-rank, the production mining-loop
    shape), recall-gated per query against the exact kernel-masked
    operator (>= 5 of 10 hits; deep overfetch makes the observed floor
    comfortably higher)."""
    import tempfile

    from jvector_spark.operators.exact import hard_negative_join
    from jvector_spark.operators.index import IVFIndexBuilder
    from jvector_spark.pipeline.mining import hard_negatives_ivf

    emb = _emb(spark, sf_dir)
    corpus = emb.selectExpr("vec_id as id", "embedding as vec", "label")
    tmp = tempfile.mkdtemp(prefix="jvs_entry_hneg_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(
        corpus.select("id", "vec"), tmp
    )
    queries = emb.filter(F.col("vec_id") < 16).selectExpr(
        "vec_id as qid", "embedding as vec", "label"
    )
    res = hard_negatives_ivf(
        idx, queries, corpus.select("id", "label"), k=10, overfetch=8,
        n_probe=16, overquery=4.0,
    )
    gt = hard_negative_join(corpus, queries, 10, metric="COSINE")
    return _recall_gate(res, gt, min_hits=5)


_oracle("hard_negatives_ivf", _gate_oracle(n_results=10))


@_register("stream_search_exact")
def _stream_search_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEARCH end-to-end under the full hash oracle — the
    serving-loop twin of ``stream_ingest_search_exact`` (ref: continuous
    query serving, GraphSearcher.java:222; SURVEY §2.9 ST2): build an
    index on the whole corpus, stage 16 queries as two parquet files,
    answer them with Structured Streaming (file source,
    maxFilesPerTrigger=1, availableNow) through ``stream_search`` — each
    micro-batch runs one distributed top-k search, answers land in an
    exactly-once per-batch parquet sink — then read the sink back.
    Searches probe every partition with rerank_k = |corpus| (provably
    exact), so the streamed answers must hash-match DuckDB's exact
    top-10 AND equal the batch search bit-for-bit."""
    import glob
    import shutil
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder
    from jvector_spark.streaming.search import stream_search

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    n = corpus.count()
    tmp = tempfile.mkdtemp(prefix="jvs_entry_ssearch_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(
        corpus, os.path.join(tmp, "idx")
    )
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    stage = os.path.join(tmp, "incoming")
    os.makedirs(stage)
    for bi, (lo, hi) in enumerate([(0, 8), (8, 16)]):
        part_dir = os.path.join(tmp, f"qslice{bi}")
        queries.filter((F.col("qid") >= lo) & (F.col("qid") < hi)).coalesce(
            1
        ).write.parquet(part_dir)
        src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(stage, f"batch{bi}.parquet"))
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    exhaustive = dict(n_probe=4096, overquery=float(n) / 10.0)
    out_dir = os.path.join(tmp, "answers")
    q = stream_search(
        stream, idx, out_dir, checkpoint_dir=os.path.join(tmp, "ckpt"),
        k=10, trigger={"availableNow": True}, **exhaustive,
    )
    q.awaitTermination()
    streamed = spark.read.parquet(out_dir)
    batch = idx.search(queries, k=10, **exhaustive)
    fmt = lambda df: sorted(
        (r["qid"], r["id"], round(r["score"], 6), r["rank"]) for r in df.collect()
    )
    assert fmt(streamed) == fmt(batch), "streamed answers diverge from batch"
    return streamed.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "stream_search_exact",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 10
""",
)


@_register("ann_ivf_nvq")
def _ann_ivf_nvq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with NVQ stage-2 rerank — the reference's DEFAULT index
    configuration (yaml-configs/index-parameters/default.yml NVQ_VECTORS,
    NVQScorer.java): stage 2 reads dequantized NVQ bytes instead of the
    fp32 column (~4x fewer stage-2 bytes; parquet prunes `vec` away).
    NVQ scores are near-exact, so this is recall-GATED like ann_ivf_topk:
    per-query recall@10 vs the exact oracle >= 0.5 (observed floor 0.7 at
    n_probe=16/overquery=8 — NVQ reconstruction error is ~1e-3, far below
    the candidate-set margins; build sampling is seeded)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_nvq_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, rerank="nvq").fit(corpus, tmp)
    assert idx.manifest.rerank == "nvq"
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_nvq", _gate_oracle(n_results=10))


@_register("ann_ivf_slim")
def _ann_ivf_slim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slim index storage (store_fp32='none') — the reference's own index
    economics (FeatureId.java:31-36: the on-disk index carries PQ codes +
    NVQ bytes, never fp32; 115.99 MB at 100k x 1024 per
    671.testing.md:8-13, vs 7.3x that when fp32 is spill-replicated).
    Stage 2 reranks from dequantized NVQ; results are bit-identical to a
    fat index searched with rerank='nvq'. Recall-gated like ann_ivf_nvq
    (same floor: NVQ reconstruction error ~1e-3, far below candidate-set
    margins), and the row additionally asserts the fp32 column is truly
    absent from the segment files."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_slim_")
    idx = IVFIndexBuilder(
        metric="COSINE", pq_m=8, rerank="nvq", store_fp32="none"
    ).fit(corpus, tmp)
    assert idx.manifest.store_fp32 == "none"
    assert "vec" not in idx._segment_data("seg-000000").columns
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_slim", _gate_oracle(n_results=10))


@_register("ann_ivf_pqm_auto")
def _ann_ivf_pqm_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pq_m='auto' end-to-end (the reference picks its PQ shape per
    dataset too — its published encode point is M=dim/8 at d=1024,
    671.testing.md:26): the builder resolves the subquantizer count from
    the training sample by the reconstruction-error doubling rule,
    records the int in the manifest, and the search is recall-gated like
    ann_ivf_topk. The row also asserts the resolved m is a valid divisor
    of dim."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_pqm_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m="auto").fit(corpus, tmp)
    m = idx.manifest.pq_m
    dim = idx.manifest.dim
    assert isinstance(m, int) and m >= 1 and dim % m == 0, (m, dim)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_pqm_auto", _gate_oracle(n_results=10))


@_register("ann_ivf_spill_auto")
def _ann_ivf_spill_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spill='auto' end-to-end (r7 VERDICT item 7): the builder resolves
    the multi-assignment factor from the stored per-copy payload (heavy
    copies -> spill=1, bigger probe budget is the cheaper recall lever;
    light copies -> spill=2 boundary insurance), records the int in the
    manifest, and the search is recall-gated like ann_ivf_topk. The 64-d
    fixtures' fp32 copies are light, so the row asserts the resolution is
    2 AND that a slim high-dim config would resolve 1 (pure resolution
    check, no second build)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_spill_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, spill="auto").fit(corpus, tmp)
    assert idx.manifest.spill == 2, idx.manifest.spill  # d=64 fp32 = light
    # resolution-rule check for the heavy-copy regime (no build needed)
    import numpy as np

    from jvector_spark.operators.quantize.pq import ProductQuantizer

    hi = IVFIndexBuilder(
        metric="COSINE", pq_m=8, spill="auto", rerank="nvq", store_fp32="none"
    )
    pq_stub = ProductQuantizer(
        codebooks=np.zeros((8, 2, 128)), global_centroid=None, dim=1024
    )
    assert hi._resolve_spill(1024, pq_stub, object()) == 1
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_spill_auto", _gate_oracle(n_results=10))


@_register("ann_ivf_adaptive")
def _ann_ivf_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive probing end-to-end (r7): probe_ratio caps probe depth by
    centroid-distance ratio and npf_per_probe scales each query's
    fine-cell budget with its kept probes — the harsh-skew levers
    (zipf-1.5 1M bulk: 0.625 -> 0.7266 at less wall). Recall-gated like
    ann_ivf_topk; a generous ratio keeps the gate's margins while still
    exercising the adaptive code path on both selector and mask."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_adap_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, fine_factor=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(
        queries, k=10, n_probe=16, overquery=8.0,
        n_probe_fine=4, probe_ratio=1.5, npf_per_probe=True,
    )
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_adaptive", _gate_oracle(n_results=10))


@_register("ann_ivf_graph")
def _ann_ivf_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition Vamana graph traversal end-to-end (M3/M4, new r7):
    RobustPrune diversity + backlink/enforceDegree build
    (graph/diversity/VamanaDiversityProvider.java:45-99,
    graph/ConcurrentNeighborMap.java:56-223) inside every coarse
    partition, then batched best-first beam search with exact fp32 rerank
    (graph/GraphSearcher.java:222-507). Recall-gated like ann_ivf_topk:
    per-query recall@10 vs the exact oracle >= 0.5 — the traversal visits
    O(ef x degree) rows per probed partition instead of scanning it."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_graph_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    idx.build_graph(degree=16, ef_construction=32)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=16, ef_search=64)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_graph", _gate_oracle(n_results=10))


@_register("ann_ivf_graph_incremental")
def _ann_ivf_graph_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (batched-insert) Vamana build end-to-end (new r9): the
    reference's actual build loop — search the partial graph for each new
    node's candidates, RobustPrune, insert forward + backlink edges
    (graph/GraphIndexBuilder.java:436 addGraphNode) — plus multi-entry
    spread and the orphan-reconnection pass (reconnectOrphanedNodes
    precedent, CHANGELOG.md #335/#359). O(n_p) per partition vs the
    exact builder's O(n_p^2): the build path for deliberately COARSE
    layouts (large partitions for bulk traversal). Recall-gated like
    ann_ivf_graph: per-query recall@10 vs the exact oracle >= 0.5."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.graph import graph_meta
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_graph_incr_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus, tmp
    )
    idx.build_graph(degree=16, ef_construction=32, method="incremental")
    assert graph_meta(idx, idx.manifest.segments[0].name)["method"] == (
        "incremental"
    )
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=64)
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_graph_incremental", _gate_oracle(n_results=10))


@_register("ann_ivf_anisotropic")
def _ann_ivf_anisotropic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with ANISOTROPIC PQ codebooks on the dot-product corpus
    (ScaNN-style parallel-residual weighting; ref
    ProductQuantization.java:101-104 `anisotropicThreshold`,
    KMeansPlusPlusClusterer.java:140-147): codebooks minimize the error
    component that perturbs dot-product RANKINGS instead of total
    reconstruction error. Recall-gated like ann_ivf_topk: per-query
    recall@10 vs the exact oracle >= 0.5 (training is seeded, so the gate
    booleans are deterministic)."""
    import tempfile

    from jvector_spark.operators import exact
    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_aniso_")
    idx = IVFIndexBuilder(
        metric="DOT_PRODUCT", pq_m=8, anisotropic_threshold=0.2
    ).fit(corpus, tmp)
    assert idx.manifest.anisotropic_threshold == 0.2
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(queries, k=10, n_probe=16, overquery=8.0)
    gt = exact.knn_join(corpus, queries, k=10, metric="DOT_PRODUCT", strategy="numpy")
    return _recall_gate(res, gt, min_hits=5)


_oracle("ann_ivf_anisotropic", _gate_oracle(n_results=10))


@_register("knn_paginated_ivf")
def _knn_paginated_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pagination THROUGH the index (J5 parity with the exact path; ref
    GraphSearcher.resume, GraphSearcher.java:509-547): page 2 (rows 11-20)
    of each query's ranking via IVFIndex.search_page. Exhaustive probes +
    rerank_k = |corpus| make every page provably exact -> full hash
    oracle."""
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    n = corpus.count()
    tmp = tempfile.mkdtemp(prefix="jvs_entry_pgivf_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    res = idx.search_page(
        queries, page_size=10, page=1, n_probe=4096, overquery=float(n) / 20.0
    )
    return res.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "knn_paginated_ivf",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 8),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank > 10 AND rank <= 20
""",
)


@_register("knn_topk_ivf_distributed")
def _knn_topk_ivf_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISTRIBUTED top-k route under the full hash oracle: exhaustive
    probes + rerank_k = |corpus| make the distributed search provably
    exact (stage 1 keeps every probed row), so the uncapped plan — probe
    assignment as a map-only pass, the probe exchange with one group per
    probed partition read in its task, no driver collect of either side —
    must hash-match DuckDB's exact top-10. The same route's threshold
    mode is oracle'd by dedup_embedding_ivf; this row pins the top-k mode (ref
    GraphSearcher.java:222 — searches are uncapped streams)."""
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    n = corpus.count()
    tmp = tempfile.mkdtemp(prefix="jvs_entry_dtopk_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search(
        queries, k=10, n_probe=4096, overquery=float(n) / 10.0,
        strategy="distributed", m_hint=16,
    )
    return res.select(
        "qid", "id", F.round("score", 6).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


_oracle(
    "knn_topk_ivf_distributed",
    f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 16),
s AS (
  SELECT q.qid, e.vec_id AS id,
         {sql_similarity("COSINE", "e.embedding", "q.qvec")} AS _s
  FROM embeddings e, q
),
r AS (
  SELECT qid, id, _s,
         CAST(row_number() OVER (PARTITION BY qid ORDER BY _s DESC, id ASC) AS BIGINT) AS rank
  FROM s
)
SELECT qid, id, ROUND(_s, 6) AS score, rank FROM r WHERE rank <= 10
""",
)


@_register("fvecs_roundtrip")
def _fvecs_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 under the driver oracle: embeddings -> TexMex fvecs bytes
    (dim-prefixed little-endian float32 records, the reference's benchmark
    dataset format, DataSetLoader.java:29-49) -> distributed decode via
    ``read_fvecs``. The round trip is float32-lossless, so per-row norms
    and leading element hash-match the embeddings table directly. The
    WRITE is deliberately driver-side (fvecs is a single-file benchmark
    artifact, as in the reference's loaders); the READ under test is the
    distributed binaryFile + mapInPandas decode."""
    import tempfile

    import numpy as np

    from jvector_spark.functions.similarity import l2_norm
    from jvector_spark.sources import read_fvecs
    from jvector_spark.sources.fvecs import write_fvecs

    rows = _emb(spark, sf_dir).orderBy("vec_id").select("embedding").collect()
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float32) for r in rows])
    tmp = os.path.join(tempfile.mkdtemp(prefix="jvs_entry_fvecs_"), "corpus.fvecs")
    write_fvecs(mat, tmp)
    df = read_fvecs(spark, tmp)
    return df.select(
        F.col("id").alias("vec_id"),
        F.round(l2_norm(F.col("vec")), 6).alias("norm"),
        F.round(F.col("vec")[0].cast("double"), 6).alias("first_elem"),
    )


_oracle(
    "fvecs_roundtrip",
    """
SELECT vec_id,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem
FROM embeddings
""",
)


@_register("hdf5_roundtrip")
def _hdf5_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 under the driver oracle (ref DataSetLoader.java:29-49, the
    ann-benchmarks HDF5 loader): embeddings -> a classic-format HDF5 file
    written by the vendored pure-python writer -> read back through
    ``read_hdf5`` (pure-python parser when h5py is absent, as in this
    environment). The round trip is float32-lossless, so per-row norms and
    leading elements hash-match the embeddings table. Driver-side staging
    is the format's role (single-file benchmark artifact); everything
    downstream is a regular distributed DataFrame."""
    import tempfile

    import numpy as np

    from jvector_spark.functions.similarity import l2_norm
    from jvector_spark.sources import read_hdf5
    from jvector_spark.sources.hdf5_lite import write_hdf5

    rows = _emb(spark, sf_dir).orderBy("vec_id").select("embedding").collect()
    mat = np.stack([np.asarray(r["embedding"], dtype=np.float32) for r in rows])
    tmp = os.path.join(tempfile.mkdtemp(prefix="jvs_entry_hdf5_"), "bench.hdf5")
    write_hdf5(tmp, {"train": mat})
    df = read_hdf5(spark, tmp, dataset="train")
    return df.select(
        F.col("id").alias("vec_id"),
        F.round(l2_norm(F.col("vec")), 6).alias("norm"),
        F.round(F.col("vec")[0].cast("double"), 6).alias("first_elem"),
    )


_oracle(
    "hdf5_roundtrip",
    """
SELECT vec_id,
       ROUND(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS norm,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem
FROM embeddings
""",
)


@_register("ordinal_renumber")
def _ordinal_renumber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 ordinal projection (ref graph/disk/OrdinalMapper.java:30-114,
    RemappedRandomAccessVectorValues.java): densify a corpus-with-holes
    (every doc_id % 3 == 0 removed — the post-deletion shape compaction
    renumbers) to ordinals 0..n-1 in id order. Runs the distributed
    bucketed prefix-sum plan, NOT a single-partition global row_number;
    the result is provably identical, so the full hash oracle applies."""
    from jvector_spark.operators.ordinal import dense_ordinals

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") % 3 != 0)
    return dense_ordinals(docs, id_col="doc_id").select("doc_id", "ordinal")


_oracle(
    "ordinal_renumber",
    """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS ordinal
FROM documents WHERE doc_id % 3 <> 0
""",
)


@_register("ann_lsh_topk")
def _ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH k-NN join (J2 bucketed variant): one fused
    map-only corpus pass, multiprobe buckets, exact rerank of candidates.
    Gated: per-query recall@5 vs the exact oracle >= 0.4. n_planes is
    pinned (not auto-sized) so the bucket geometry is SF-independent:
    observed per-query floors are 4/5 hits at sf0.01 and 3/5 at sf0.1 —
    a >=1-hit margin at every scale the driver or a scale probe runs
    (planes are seeded, so deterministic)."""
    from jvector_spark.operators import exact
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = rp_lsh_knn_join(corpus, queries, k=5, metric="COSINE", n_planes=3, probe_bits=2)
    gt = exact.knn_join(corpus, queries, k=5, metric="COSINE", strategy="numpy")
    return _recall_gate(res, gt, min_hits=2)


_oracle("ann_lsh_topk", _gate_oracle(n_results=5))


@_register("ann_recall")
def _ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the two-phase PQ path vs the exact oracle (A9) at
    overquery {1,2,4}: the reference's headline quality metric as a query
    (671.testing.md:37-50). Gated per overquery level with bounds that
    hold across scale factors: observed recalls 0.68/0.91/0.99 at sf0.01
    and 0.49/0.68/0.81 at sf0.1 vs bounds 0.4/0.55/0.65 (margins >=0.09;
    deterministic because PQ training is seeded)."""
    from jvector_spark.metrics import recall_at_k
    from jvector_spark.operators import exact
    from jvector_spark.operators.quantize.pq import ProductQuantizer
    from jvector_spark.operators.search import two_phase_knn_join

    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    gt = exact.knn_join(corpus, queries, k=10, metric="COSINE", strategy="numpy")
    pq = ProductQuantizer.fit(corpus, m=8, seed=42)
    codes = pq.encode(corpus).cache()
    rows = []
    for oq, bound in ((1.0, 0.4), (2.0, 0.55), (4.0, 0.65)):
        res = two_phase_knn_join(codes, corpus, pq, queries, k=10, metric="COSINE", overquery=oq)
        rows.append((oq, 1 if recall_at_k(res, gt, 10) >= bound else 0))
    codes.unpersist()
    return spark.createDataFrame(rows, "overquery double, recall_ok long")


_oracle(
    "ann_recall",
    """
SELECT 1.0 AS overquery, CAST(1 AS BIGINT) AS recall_ok
UNION ALL SELECT 2.0, CAST(1 AS BIGINT)
UNION ALL SELECT 4.0, CAST(1 AS BIGINT)
""",
)


@_register("dedup_embedding_ivf")
def _dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup THROUGH the IVF index: the declared scale path
    for semantic dedup. threshold_search's centroid-radius pruning is a
    rigorous bound, so results are EXACT (full hash oracle — same SQL as
    the blocked-matmul dedup_embedding) while only scanning partitions
    that can contain a pair. The corpus-as-queries side runs on the
    DISTRIBUTED route (no driver collect, no query cap — probe assignment
    is map-only and the probe exchange shuffles only query replicas, each
    task reading its partitions itself), so the same plan holds at
    100 TB: index-pruned work per query instead of the O(n^2/blocks)
    matmul."""
    import tempfile

    from jvector_spark.operators.index import IVFIndexBuilder

    threshold = 0.35  # raw cosine; normalized score = (1 + cos) / 2
    emb = _emb(spark, sf_dir)
    corpus = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    tmp = tempfile.mkdtemp(prefix="jvs_entry_dedup_ivf_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(corpus, tmp)
    queries = corpus.selectExpr("id as qid", "vec")
    # search slightly BELOW the target so pairs that round up to the
    # threshold at 6 decimals (the oracle's cut) are not lost at the
    # normalized-score boundary; the final rounded filter is authoritative
    res = idx.threshold_search(
        queries, threshold=(1.0 + threshold) / 2.0 - 1e-6, strategy="distributed"
    )
    return (
        res.filter(F.col("qid") < F.col("id"))  # each unordered pair once
        .select(
            F.col("qid").alias("id_a"),
            F.col("id").alias("id_b"),
            F.round(F.lit(2.0) * F.col("score") - F.lit(1.0), 6).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _dedup_embedding_ivf_oracle() -> str:
    from jvector_spark.pipeline.dedup import embedding_neardup_sql

    return embedding_neardup_sql(threshold=0.35)


_oracle("dedup_embedding_ivf", _dedup_embedding_ivf_oracle())


# ---------------------------------------------------------------------------
# Training-data pipeline operators (SURVEY §7.9: dedup / text analysis)
# ---------------------------------------------------------------------------


def _pipeline_q(spark_fn, oracle: str, *tables: str):
    """Register a (docs|embeddings)-table pipeline query + its oracle."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        dfs = [spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables]
        return spark_fn(*dfs)

    return run


_LINE_DEDUP_BOILER = (
    "NOTICE: this shared boilerplate header appears in every document"
)


def _register_pipeline() -> None:
    from jvector_spark.pipeline import dedup as D
    from jvector_spark.pipeline import text as T

    specs = {
        "dedup_exact": (lambda docs: D.exact_dedup(docs), D.exact_dedup_sql(), ["documents"]),
        "dedup_ngram_jaccard": (
            lambda docs: D.ngram_jaccard_pairs(docs, threshold=0.6),
            D.ngram_jaccard_pairs_sql(threshold=0.6),
            ["documents"],
        ),
        "dedup_minhash_lsh": (
            lambda docs: D.minhash_lsh_pairs(docs, threshold=0.7),
            D.minhash_lsh_pairs_sql(threshold=0.7),
            ["documents"],
        ),
        "dedup_simhash": (
            lambda docs: D.simhash_pairs(docs, max_hamming=6),
            D.simhash_pairs_sql(max_hamming=6),
            ["documents"],
        ),
        # Winnowing (SIGMOD'03 / MOSS): edit-robust fingerprint sets, pair
        # generation by fingerprint equi-join — no all-pairs stage
        "dedup_winnowing": (
            lambda docs: D.winnowing_pairs(docs, min_shared=2),
            D.winnowing_pairs_sql(min_shared=2),
            ["documents"],
        ),
        "dedup_embedding": (
            lambda emb: D.embedding_neardup(emb, threshold=0.35),
            D.embedding_neardup_sql(threshold=0.35),
            ["embeddings"],
        ),
        # C4 §2.2 / RefinedWeb / Dolma line-level rule: boilerplate lines
        # recur across pages — keep each line's FIRST (doc_id, pos)
        # occurrence corpus-wide, reassemble docs. The synthetic documents
        # table has no natural line duplication (single-line bags of
        # words), so the row INJECTS a shared boilerplate header into
        # every document on BOTH sides — the operator must keep exactly
        # one copy (doc 0) and strip the other 499, which the oracle
        # verifies value-exactly.
        "dedup_lines": (
            lambda docs: D.line_dedup(
                docs.withColumn(
                    "text",
                    F.concat_ws("\n", F.lit(_LINE_DEDUP_BOILER), F.col("text")),
                )
            ),
            D.line_dedup_sql(
                src=f"(SELECT doc_id, '{_LINE_DEDUP_BOILER}' || chr(10) || text"
                " AS text FROM documents)"
            ),
            ["documents"],
        ),
        # ExactSubstr (Lee et al. 2022) relaxed to word windows: any
        # 12-word window occurring >1x corpus-wide keeps only its first
        # occurrence; covered words are cut and docs reassembled. The
        # near-dup documents in the synthetic corpus share long verbatim
        # runs, so ~5% of tokens get removed at sf0.01 — non-degenerate.
        "dedup_spans": (
            lambda docs: D.span_dedup(docs, span_len=12),
            D.span_dedup_sql(span_len=12),
            ["documents"],
        ),
        "text_token_count": (lambda docs: T.token_stats(docs), T.token_stats_sql(), ["documents"]),
        # Gopher/MassiveText repetition rules (Rae et al. 2021 A1.1)
        "text_repetition": (
            lambda docs: T.repetition_stats(docs),
            T.repetition_stats_sql(),
            ["documents"],
        ),
        "text_quality": (lambda docs: T.quality_score(docs), T.quality_score_sql(), ["documents"]),
        "text_language_id": (lambda docs: T.language_id(docs), T.language_id_sql(), ["documents"]),
        "doc_fingerprint": (lambda docs: T.fingerprint(docs), T.fingerprint_sql(), ["documents"]),
    }
    for name, (fn, oracle, tabs) in specs.items():
        _QUERIES[name] = _pipeline_q(fn, oracle, *tabs)
        _ORACLES[name] = oracle


_register_pipeline()


@_register("pack_sequences")
def _pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: hash-sharded
    deterministic order, per-shard running token total, seq_len-sized
    chunk spans — one window per shard partition, no global sort (see
    jvector_spark/pipeline/pack.py)."""
    from jvector_spark.pipeline.pack import pack_sequences

    return pack_sequences(_docs(spark, sf_dir), seq_len=512, n_shards=8)


def _pack_sequences_oracle() -> str:
    from jvector_spark.pipeline.pack import pack_sequences_sql

    return pack_sequences_sql(seq_len=512, n_shards=8)


_oracle("pack_sequences", _pack_sequences_oracle())


@_register("mixture_weights")
def _mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled domain mixture weights (alpha-sampling): one
    partial-aggregated groupBy + window normalization over <= |strata|
    rows; emits natural share, mixture probability, and the realizing
    per-stratum keep fraction."""
    from jvector_spark.pipeline.sampling import mixture_weights

    return mixture_weights(_docs(spark, sf_dir), temperature=0.7)


def _mixture_weights_oracle() -> str:
    from jvector_spark.pipeline.sampling import mixture_weights_sql

    return mixture_weights_sql(temperature=0.7)


_oracle("mixture_weights", _mixture_weights_oracle())


@_register("redact_pii")
def _redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / IPv4 / long digit runs): map-only
    regexp_replace inside whole-stage codegen, per-pattern match counts
    measured on the original text."""
    from jvector_spark.pipeline.text import redact_pii

    return redact_pii(_docs(spark, sf_dir))


def _redact_pii_oracle() -> str:
    from jvector_spark.pipeline.text import redact_pii_sql

    return redact_pii_sql()


_oracle("redact_pii", _redact_pii_oracle())


@_register("split_by_key")
def _split_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-safe train/val/test assignment BY KEY (r7): all rows
    of a key (domain / URL host / doc family) land in one split, so
    near-duplicates within a key never straddle train and eval.
    Deterministic key-hash map-only CASE — no shuffle at any scale."""
    from jvector_spark.pipeline.sampling import split_by_key

    docs = _docs(spark, sf_dir)
    return split_by_key(
        docs, val_fraction=0.2, test_fraction=0.2, key_col="source"
    ).select("doc_id", "source", "split")


def _split_by_key_oracle() -> str:
    from jvector_spark.pipeline.sampling import split_by_key_sql

    return split_by_key_sql(val_fraction=0.2, test_fraction=0.2, key_col="source")


_oracle("split_by_key", _split_by_key_oracle())


@_register("shuffle_corpus")
def _shuffle_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle (r7): reproducible
    hash-keyed permutation with balanced shard assignment, ranked via the
    bucketed prefix-sum (operators/ordinal.py) — no single-partition
    window at any scale."""
    from jvector_spark.pipeline.sampling import shuffle_corpus

    docs = _docs(spark, sf_dir)
    return shuffle_corpus(docs, n_shards=8).select("doc_id", "shuffle_rank", "shard")


def _shuffle_corpus_oracle() -> str:
    from jvector_spark.pipeline.sampling import shuffle_corpus_sql

    return shuffle_corpus_sql(n_shards=8)


_oracle("shuffle_corpus", _shuffle_corpus_oracle())


@_register("decontaminate")
def _decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 Appendix C / Gopher n-gram overlap
    rule): documents sharing any 8-word-gram with the eval set (here:
    doc_id % 37 == 0) are flagged. Eval grams are DISTINCT + broadcast,
    corpus side is one map-only gram pass + broadcast join — the corpus
    text never shuffles. Per-doc distinct-hit counts + 0/1 flag are
    hash-matched against the DuckDB twin."""
    from jvector_spark.pipeline.decontaminate import decontaminate

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 37 == 0)
    return decontaminate(docs, ev, n=8)


def _decontaminate_oracle() -> str:
    from jvector_spark.pipeline.decontaminate import decontaminate_sql

    return decontaminate_sql(n=8, eval_mod=37)


_oracle("decontaminate", _decontaminate_oracle())


@_register("dedup_clusters")
def _dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: MinHash near-dup pairs -> connected
    components (iterative min-label propagation) -> (doc_id, cluster_id).
    The oracle replicates the fixpoint with a recursive CTE, so even this
    iterative operator is fully hash-checked."""
    from jvector_spark.pipeline import dedup as D
    from jvector_spark.pipeline.cluster import duplicate_clusters

    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, threshold=0.7)
    return duplicate_clusters(pairs)


def _dedup_clusters_oracle() -> str:
    from jvector_spark.pipeline import dedup as D
    from jvector_spark.pipeline.cluster import duplicate_clusters_sql

    return duplicate_clusters_sql(D.minhash_lsh_pairs_sql(threshold=0.7))


_oracle("dedup_clusters", _dedup_clusters_oracle())


@_register("sample_stratified")
def _sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (data-mixing weights): keep 50%
    of src0, 25% of src1, 10% of everything else, by hash(id) — map-only,
    shuffle-free, stable across reruns/engines."""
    from jvector_spark.pipeline.sampling import stratified_sample

    docs = _docs(spark, sf_dir)
    return stratified_sample(
        docs, {"src0": 0.5, "src1": 0.25}, default_fraction=0.1
    ).select("doc_id", "source")


def _sample_stratified_oracle() -> str:
    from jvector_spark.pipeline.sampling import stratified_sample_sql

    return stratified_sample_sql({"src0": 0.5, "src1": 0.25}, default_fraction=0.1)


_oracle("sample_stratified", _sample_stratified_oracle())


@_register("pipeline_clean_corpus")
def _pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data shape end to end: quality-score ->
    filter -> exact-dedup (keep canonicals) -> deterministic per-source
    mixing sample. One registered row proves the operators COMPOSE under
    the oracle (joins on doc_id, thresholds on rounded scores) — the
    pipeline a 100 TB corpus actually runs, where each stage is map-only
    or one keyed shuffle (quality: map; dedup: one digest groupBy;
    sampling: map)."""
    from jvector_spark.pipeline.dedup import exact_dedup
    from jvector_spark.pipeline.sampling import stratified_sample
    from jvector_spark.pipeline.text import quality_score

    docs = _docs(spark, sf_dir)
    q = quality_score(docs).select("doc_id", "quality")
    d = exact_dedup(docs).select("doc_id", "is_canonical")
    kept = (
        docs.select("doc_id", "source")
        .join(q, "doc_id")
        .join(d, "doc_id")
        .filter((F.col("quality") >= 0.55) & F.col("is_canonical"))
    )
    return stratified_sample(
        kept, {"src0": 0.8, "src1": 0.5}, default_fraction=0.25, salt="clean"
    ).select("doc_id", "source", "quality")


def _pipeline_clean_corpus_oracle() -> str:
    from jvector_spark.pipeline.dedup import exact_dedup_sql, sql_h64
    from jvector_spark.pipeline.text import quality_score_sql

    salted = "'clean:' || CAST(doc_id AS VARCHAR)"
    bucket = f"{sql_h64(salted)} % 1000000"
    return f"""
WITH q AS (SELECT doc_id, quality FROM ({quality_score_sql()}) _q),
d AS (SELECT doc_id, is_canonical FROM ({exact_dedup_sql()}) _d),
kept AS (
  SELECT doc.doc_id, doc.source, q.quality
  FROM documents doc JOIN q USING (doc_id) JOIN d USING (doc_id)
  WHERE q.quality >= 0.55 AND d.is_canonical
)
SELECT doc_id, source, quality FROM kept
WHERE {bucket} < CASE source WHEN 'src0' THEN 800000 WHEN 'src1' THEN 500000 ELSE 250000 END
"""


_oracle("pipeline_clean_corpus", _pipeline_clean_corpus_oracle())


@_register("multimodal_features")
def _multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode plumbing: documents' text bytes become opaque
    binary content; the fake feature extractor (md5-derived, deterministic)
    runs through the real Arrow/mapInPandas path. Oracle replicates the
    hash math in SQL."""
    from jvector_spark.pipeline.multimodal import extract_features

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.lit("text").alias("modality"),
        F.encode(F.col("text"), "utf-8").alias("content"),
    )
    feats = extract_features(docs, dim=4)
    return feats.select(
        "id",
        *[F.round(F.col("feature")[i], 6).alias(f"f{i}") for i in range(4)],
    )


def _multimodal_oracle() -> str:
    from jvector_spark.pipeline.multimodal import sql_fake_features

    feats = sql_fake_features("text", 4)
    cols = ", ".join(f"ROUND(f[{i + 1}], 6) AS f{i}" for i in range(4))
    return f"""
WITH f AS (SELECT doc_id AS id, {feats} AS f FROM documents)
SELECT id, {cols} FROM f
"""


_oracle("multimodal_features", _multimodal_oracle())


@_register("events_rollup")
def _events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup (batch form of the streaming windowed agg —
    jvector_spark.streaming runs the same plan via readStream)."""
    # events.parquet stores TIMESTAMP(NANOS); our session factory sets
    # nanosAsLong at build time (jvector_spark/session.py). The driver may
    # run this under its OWN session, so set it here only if absent — the
    # flag is scoped to nanos-timestamp parquet columns (events is the only
    # such table), so this cannot change any other query's behavior.
    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts = F.col("ts")
    if dict(ev.dtypes)["ts"] == "bigint":
        ts = F.timestamp_micros((F.col("ts") / 1000).cast("long"))
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("hour", ts), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.count_distinct(F.col("user_id")).alias("n_users"),
        )
    )


_oracle(
    "events_rollup",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
       COUNT(*) AS n_events, ROUND(SUM(value), 6) AS sum_value,
       COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
""",
)


@_register("events_sessionize")
def _events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (training-pipeline staple; batch twin of
    Structured Streaming session windows). One shuffle on user_id; gap
    math on integer nanoseconds so both engines agree exactly."""
    from jvector_spark.pipeline.events import sessionize

    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return sessionize(ev, gap_minutes=30)


def _events_sessionize_oracle() -> str:
    from jvector_spark.pipeline.events import sessionize_sql

    return sessionize_sql(gap_minutes=30)


_oracle("events_sessionize", _events_sessionize_oracle())


# ---------------------------------------------------------------------------
# Driver contract
# ---------------------------------------------------------------------------

# The driver's correctness gate checks the FIRST 50 registered queries
# (insertion order). With 60+ rows registered, whatever sits at the tail
# never gets a driver row — r5/r6 left the last 10 (including
# pack_sequences / mixture_weights / redact_pii, which have NEVER had a
# driver row) unchecked. Rotate coverage: rows with the thinnest driver
# history go FIRST; rows green in every round since r1 (the simplest,
# most stable operators) go last and absorb the cap. New rows added in a
# round belong in _GATE_FIRST until they have a green driver row.
_GATE_FIRST = [
    # new in r9 — no driver row yet
    "ann_ivf_graph_incremental",  # batched-insert Vamana build (coarse layouts)
    # r8: hdf5_roundtrip was the one RED row (non-Arrow createDataFrame,
    # fixed in sources/hdf5.py) — stays front-of-window until green twice
    "hdf5_roundtrip",
    "ann_ivf_spill_auto",  # 1 green driver row (r8)
    # r7-new rows with 2 green rows (r7+r8) moved to the mid section
]
# multi-round-green stable rows rotated out of the 50-row window this
# round (every one has >= 2 green driver rows + a pytest twin; the
# registry holds 68 rows as of r8, so 18 rotate out — all listed
# explicitly here so the cut is deliberate, not insertion-order accident)
_GATE_LAST = [
    "doc_fingerprint",  # green r3-r7; pytest twin in test_pipeline
    "text_token_count",  # green r3-r7; pytest twin in test_pipeline
    "knn_join",  # 6 green rounds (knn_join_wide's sibling; test_exact twin)
    "knn_topk_cosine",  # 6 green rounds; entry() still smoke-runs it
    "vector_centroids",  # 6 green rounds
    "knn_filtered",  # 6 green rounds (knn_filtered_ivf stays in-window)
    "threshold_search",  # 6 green rounds (threshold_search_ivf* stay in-window)
    "knn_paginated",  # 6 green rounds (knn_paginated_ivf stays in-window)
    "knn_topk_euclidean",
    "knn_topk_dot_product",
    "vector_arith",
    "vector_scale_add",
    "l2_normalize",
    "bq_hamming",
    "pq_reconstruction",
    "fvecs_roundtrip",
    "ordinal_renumber",
    "knn_join_wide",
    # rotated out in r9 (the new ann_ivf_graph_incremental row takes a
    # window slot): green r7+r8, keyed-window pytest twin in test_events
    "events_sessionize",
]


def _gate_order(d: dict) -> dict:
    front = [q for q in _GATE_FIRST if q in d]
    back = [q for q in _GATE_LAST if q in d]
    mid = [q for q in d if q not in _GATE_FIRST and q not in _GATE_LAST]
    return {name: d[name] for name in front + mid + back}


_QUERIES = _gate_order(_QUERIES)
_ORACLES = {name: _ORACLES[name] for name in _QUERIES if name in _ORACLES}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: exact top-10 cosine k-NN (J1)."""
    return _QUERIES["knn_topk_cosine"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)
