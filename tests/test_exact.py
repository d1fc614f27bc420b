"""Exact search operators vs numpy brute force (reference J1/J4/F1/F4/T4).

Mirrors TestVectorGraph.java's ground-truth comparisons: the exact operators
ARE the ground truth, so they must equal an independent numpy brute force,
including tie-break order.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.operators import exact

K = 10


def brute_topk(mat, q, metric, k, mask=None):
    scores = kernels.similarity(metric, q[None, :].astype(np.float64), mat.astype(np.float64))[0]
    ids = np.arange(len(mat))
    if mask is not None:
        ids, scores = ids[mask], scores[mask]
    order = np.lexsort((ids, -scores))[:k]
    return ids[order].tolist(), scores[order].tolist()


@pytest.mark.parametrize("metric", list(kernels.METRICS))
def test_topk_matches_brute_force(random_vectors, metric):
    df, mat = random_vectors
    q = mat[7]
    got = exact.topk(df, q, K, metric=metric).collect()
    want_ids, want_scores = brute_topk(mat, q, metric, K)
    assert [r["id"] for r in got] == want_ids
    np.testing.assert_allclose([r["score"] for r in got], want_scores, rtol=1e-9)
    assert [r["rank"] for r in got] == list(range(1, K + 1))


def test_topk_filtered(random_vectors):
    """F1: accept-list predicate applied below top-k — exact, no recall loss."""
    df, mat = random_vectors
    classes = np.array([r["class"] for r in df.orderBy("id").select("class").collect()])
    q = mat[3]
    got = exact.topk(df, q, K, metric="COSINE", predicate=F.col("class") == 1)
    got = got.collect()
    want_ids, _ = brute_topk(mat, q, "COSINE", K, mask=classes == 1)
    assert [r["id"] for r in got] == want_ids


def test_topk_exclude_self(random_vectors):
    df, mat = random_vectors
    got = exact.topk(df, mat[5], K, metric="EUCLIDEAN", exclude_ids=[5]).collect()
    assert 5 not in [r["id"] for r in got]


def test_threshold_search(random_vectors):
    df, mat = random_vectors
    q = mat[11]
    t = 0.52
    got = exact.threshold_search(df, q, t, metric="COSINE").collect()
    scores = kernels.similarity("COSINE", q[None, :], mat.astype(np.float64))[0]
    want = np.where(scores >= t)[0]
    assert {r["id"] for r in got} == set(want.tolist())
    assert all(r["score"] >= t for r in got)
    # ordered best-first
    s = [r["score"] for r in got]
    assert s == sorted(s, reverse=True)


def test_knn_join_blocked_multi_tile_exact(random_vectors, spark, monkeypatch):
    """The distributed blocked join must equal the expr oracle exactly —
    forced into a 4x4 tile grid so cross-tile merge and tie-breaks are
    actually exercised (the corpus-as-queries scale path)."""
    monkeypatch.setattr(exact, "_C_TILE", 300)
    monkeypatch.setattr(exact, "_Q_TILE", 100)
    df, mat = random_vectors
    queries = df.select(F.col("id").alias("qid"), "vec").filter("qid < 333")
    a = exact.knn_join(df, queries, 5, strategy="blocked").select("qid", "id", "rank")
    b = exact.knn_join(df, queries, 5, strategy="expr").select("qid", "id", "rank")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


@pytest.mark.parametrize("strategy", ["expr", "numpy", "blocked"])
def test_knn_join_matches_brute_force(random_vectors, spark, strategy):
    df, mat = random_vectors
    m = 8
    queries = spark.createDataFrame(
        [(i, mat[i * 31 % len(mat)].tolist()) for i in range(m)],
        "qid long, vec array<float>",
    )
    got = exact.knn_join(df, queries, K, metric="COSINE", strategy=strategy).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append(r)
    assert set(by_q) == set(range(m))
    for qid in range(m):
        q = mat[qid * 31 % len(mat)]
        want_ids, want_scores = brute_topk(mat, q, "COSINE", K)
        rows = sorted(by_q[qid], key=lambda r: r["rank"])
        assert [r["id"] for r in rows] == want_ids
        np.testing.assert_allclose([r["score"] for r in rows], want_scores, rtol=1e-9)


def test_knn_join_strategies_agree(random_vectors, spark):
    df, mat = random_vectors
    queries = spark.createDataFrame(
        [(0, mat[0].tolist()), (1, mat[99].tolist())], "qid long, vec array<float>"
    )
    a = exact.knn_join(df, queries, 5, strategy="expr").select("qid", "id", "rank").collect()
    b = exact.knn_join(df, queries, 5, strategy="numpy").select("qid", "id", "rank").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_knn_join_auto_routes_large_query_side(random_vectors, spark, monkeypatch):
    """auto must route corpus-sized query sides to the distributed blocked
    join (no driver collect) and small ones to the broadcast path."""
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 100)
    df, mat = random_vectors
    queries = df.select(F.col("id").alias("qid"), "vec")  # 1000 > cap
    got = exact.knn_join(df, queries, 3, strategy="auto")
    # blocked output is correct and complete
    assert got.groupBy("qid").count().filter("count != 3").count() == 0
    assert got.count() == 3 * 1000


def test_hard_negative_join_masks_same_label_and_self(spark):
    from jvector_spark.operators.exact import hard_negative_join

    # two tight clusters; labels split WITHIN each cluster so every
    # query's nearest rows are same-label and must be skipped
    rows = [
        (0, [1.0, 0.0], 0), (1, [0.99, 0.01], 0), (2, [0.98, 0.02], 1),
        (3, [0.0, 1.0], 1), (4, [0.01, 0.99], 1), (5, [0.02, 0.98], 0),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<float>, label long")
    q = df.selectExpr("id as qid", "vec", "label").filter("qid in (0, 3)")
    got = hard_negative_join(df, q, 2, metric="COSINE").collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r.id)
    # query 0 (label 0): nearest foreign-label is 2 (same cluster), then a
    # far-cluster label-1 row; its same-label twins 0/1/5 never appear
    assert by_q[0][0] == 2 and set(by_q[0]).isdisjoint({0, 1, 5})
    # query 3 (label 1): nearest foreign-label is 5, never 3/4/2
    assert by_q[3][0] == 5 and set(by_q[3]).isdisjoint({3, 4, 2})
    # k larger than the foreign-label population: returns what exists
    got_all = hard_negative_join(df, q, 10, metric="COSINE").collect()
    counts = {}
    for r in got_all:
        counts[r.qid] = counts.get(r.qid, 0) + 1
    assert counts == {0: 3, 3: 3}  # exactly the 3 foreign-label rows each


def test_in_list_matches_isin_and_prunes_partitions(spark, tmp_path):
    """``exact.in_list`` is ``Column.isin`` in one JVM call: the same rows
    for Python ints, numpy ints and an empty list, and the same pushed
    partition filter (an ``INSET`` over the ``part_id`` directories)."""
    import contextlib
    import io

    path = str(tmp_path / "parts")
    spark.range(320).selectExpr("id", "cast(id % 16 as int) as part_id").write.partitionBy(
        "part_id"
    ).parquet(path)
    df = spark.read.parquet(path)
    want_parts = [1, 2, 3, 5, 7, 8, 9, 11, 12, 13, 14, 15]  # > the INSET threshold

    def rows(col):
        return sorted(map(tuple, df.filter(col).collect()))

    for values in (want_parts, np.asarray(want_parts, dtype=np.int64)):
        assert rows(exact.in_list("part_id", values)) == rows(F.col("part_id").isin(want_parts))
    ids = np.arange(0, 320, 7, dtype=np.int32)
    assert rows(exact.in_list("id", ids)) == rows(F.col("id").isin(ids.tolist()))
    assert rows(exact.in_list("id", [])) == rows(F.col("id").isin([])) == []

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.filter(exact.in_list("part_id", want_parts)).explain("formatted")
    pf = next(ln for ln in buf.getvalue().splitlines() if "PartitionFilters" in ln)
    assert "part_id" in pf and "INSET" in pf, pf
