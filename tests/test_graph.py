"""Per-partition Vamana graph micro-index (M3/M4): build + beam search.

Reference semantics under test:
- RobustPrune diversity (graph/diversity/VamanaDiversityProvider.java:45-99)
- backlink + overflow + enforceDegree (graph/ConcurrentNeighborMap.java:56-223)
- beam search with exact rerank (graph/GraphSearcher.java:222-507)
- two-phase delete: tombstoned nodes traversed, filtered from results
  (graph/GraphIndexBuilder.java markDeleted -> removeDeletedNodes)
"""

import math
import tempfile

import numpy as np
import pytest
from conftest import stage_tasks
from pyspark.sql import functions as F

from jvector_spark.operators import exact
from jvector_spark.operators.graph import (
    _batch_beam,
    _build_partition_graph,
    _exact_sims_block,
    _exact_sims_gathered,
    _knn_candidates,
    _pair_sims,
    _pilot_entries,
    _retain_diverse_batch,
    graph_meta,
)
from jvector_spark.operators.index import IVFIndexBuilder


# ------------------------------------------------------------- numpy core
def test_retain_diverse_semantics():
    """Hand-checkable RobustPrune: collinear near points crowd each other
    out; the alpha sweep admits a crowded-but-near candidate only after
    farther diverse ones at alpha=1."""
    # owner at origin; candidates: two near-duplicates east, one north
    x = np.array(
        [[0.0, 0.0], [1.0, 0.0], [1.05, 0.0], [0.0, 1.2]], dtype=np.float32
    )
    cand = np.array([[1, 2, 3]])  # score-desc for EUCLIDEAN distances
    sc = 1.0 / (
        1.0 + np.sum((x[cand[0]] - x[0]) ** 2, axis=1, dtype=np.float64)
    ).astype(np.float32)[None, :]
    sims = _pair_sims("EUCLIDEAN", x[cand])
    sel = _retain_diverse_batch(sims, sc, np.ones_like(cand, bool), 2, 1.2)
    # nearest (node 1) always kept; node 2 is dominated by node 1
    # (sim(2,1) >> sim(2,owner)); node 3 is diverse
    assert sel[0].tolist() == [True, False, True]


def test_retain_diverse_degree_cap():
    rng = np.random.default_rng(0)
    x = rng.normal(size=(40, 8)).astype(np.float32)
    idx, sc = _knn_candidates(x, 20, "COSINE")
    sims = _pair_sims("COSINE", x[idx])
    sel = _retain_diverse_batch(sims, sc, np.ones_like(idx, bool), 5, 1.2)
    assert (sel.sum(axis=1) <= 5).all()
    assert (sel.sum(axis=1) >= 1).all()  # the nearest is always diverse


@pytest.mark.parametrize("met", ["COSINE", "EUCLIDEAN", "DOT_PRODUCT"])
def test_build_partition_graph_invariants(met):
    rng = np.random.default_rng(1)
    x = rng.normal(size=(300, 12)).astype(np.float32)
    nbrs, entry = _build_partition_graph(
        x, degree=12, alpha=1.2, overflow=1.2, ef_c=24, met=met
    )
    assert 0 <= entry < 300
    for i, a in enumerate(nbrs):
        assert len(a) <= 12  # enforceDegree (M4)
        assert len(np.unique(a)) == len(a)  # no duplicate edges
        assert i not in a  # no self edges
    # connectivity: beam search must be able to reach ~everything
    seen, frontier = {entry}, [entry]
    while frontier:
        frontier = [
            int(v) for u in frontier for v in nbrs[u] if int(v) not in seen
        ]
        seen.update(frontier)
    assert len(seen) >= 295  # near-total reachability from the entry


def test_batch_beam_exact_steering_recall():
    """With exact similarity steering the beam, recall@10 should be ~1
    (the graph, not the scorer, is then the only approximation)."""
    rng = np.random.default_rng(2)
    n, k, ef = 1500, 10, 48
    x = rng.normal(size=(n, 24)).astype(np.float32)
    nbrs, entry = _build_partition_graph(
        x, degree=20, alpha=1.2, overflow=1.2, ef_c=40, met="COSINE"
    )
    deg = max(len(a) for a in nbrs)
    nbr_mat = np.full((n, deg), -1, np.int64)
    for i, a in enumerate(nbrs):
        nbr_mat[i, : len(a)] = a
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    q = xn[:24]
    sims = ((1 + q @ xn.T) / 2).astype(np.float32)

    def score_fn(aq, cand):
        return sims[aq[:, None], np.maximum(cand, 0)]

    beams = _batch_beam(score_fn, nbr_mat, np.array([entry]), 24, n, ef)
    gt = np.argsort(-sims, axis=1)[:, :k]
    hits = sum(
        len(set(gt[i]) & set(beams[i][beams[i] >= 0].tolist()))
        for i in range(24)
    )
    assert hits / (24 * k) >= 0.95


@pytest.mark.parametrize("met", ["COSINE", "EUCLIDEAN"])
def test_incremental_build_invariants_and_recall(met):
    """The batched-insert builder (GraphIndexBuilder.java:436 addGraphNode,
    batched) keeps the exact builder's structural invariants and lands
    within a few recall points of it under identical beam search."""
    from jvector_spark.operators.graph import (
        _build_partition_graph_incremental,
    )

    rng = np.random.default_rng(4)
    n, d = 6000, 24
    centers = rng.normal(size=(12, d))
    x = (centers[rng.integers(0, 12, n)] +
         0.3 * rng.normal(size=(n, d))).astype(np.float32)
    nbrs_i, e_i = _build_partition_graph_incremental(
        x, degree=16, alpha=1.2, overflow=1.2, ef_c=32, met=met,
        seed_n=1024, batch=512,
    )
    assert ((e_i >= 0) & (e_i < n)).all()  # multi-entry spread
    # overflow cap + the bounded append-only reconnection reserve
    cap_total = int(np.ceil(16 * 1.2)) + 8
    for i, a in enumerate(nbrs_i):
        assert len(a) <= cap_total
        assert len(np.unique(a)) == len(a)
        assert i not in a
        assert (a >= 0).all() and (a < n).all()
    # reconnection contract: near-total reachability from the entries
    seen = set(int(e) for e in e_i)
    frontier = list(seen)
    while frontier:
        frontier = [
            int(v) for u in frontier for v in nbrs_i[u] if int(v) not in seen
        ]
        seen.update(frontier)
    assert len(seen) >= 0.97 * n

    def beam_recall(nbrs, entry):
        entry = np.atleast_1d(np.asarray(entry, dtype=np.int64))
        deg = max(len(a) for a in nbrs)
        nbr_mat = np.full((n, deg), -1, np.int64)
        for i, a in enumerate(nbrs):
            nbr_mat[i, : len(a)] = a
        nq = 48
        q = x[rng.choice(n, nq, replace=False)] + 0.05 * rng.normal(
            size=(nq, d)
        ).astype(np.float32)
        q = q.astype(np.float32)
        if met == "COSINE":
            xn = x / np.linalg.norm(x, axis=1, keepdims=True)
            qn = q / np.linalg.norm(q, axis=1, keepdims=True)
            sims = ((1 + qn @ xn.T) / 2).astype(np.float32)
        else:
            d2 = (
                np.einsum("ij,ij->i", q, q)[:, None]
                + np.einsum("ij,ij->i", x, x)[None, :]
                - 2.0 * (q @ x.T)
            )
            sims = (1.0 / (1.0 + np.maximum(d2, 0))).astype(np.float32)

        def score_fn(aq, cand):
            return sims[aq[:, None], np.maximum(cand, 0)]

        beams = _batch_beam(score_fn, nbr_mat, entry, nq, n, 64)
        gt = np.argsort(-sims, axis=1)[:, :10]
        return sum(
            len(set(gt[i]) & set(beams[i][beams[i] >= 0].tolist()))
            for i in range(nq)
        ) / (nq * 10)

    r_inc = beam_recall(nbrs_i, e_i)
    nbrs_e, e_e = _build_partition_graph(
        x, degree=16, alpha=1.2, overflow=1.2, ef_c=32, met=met
    )
    r_ex = beam_recall(nbrs_e, e_e)
    # this corpus is 12 SEPARATED islands — adversarial for any
    # single-entry Vamana (the exact builder's graph is disconnected by
    # construction and collapses to ~1/islands recall). The incremental
    # builder's insert-search edges + multi-entry + reconnection must
    # beat it by a wide margin and clear an absolute floor.
    assert r_inc >= r_ex + 0.3, (r_inc, r_ex)
    assert r_inc >= 0.6, (r_inc, r_ex)


# ------------------------------------------------------------- Spark e2e
def _corpus(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec")
    )


def _recall(res_rows, gt_rows):
    gtr = {(r["qid"], r["id"]) for r in gt_rows}
    return sum((r["qid"], r["id"]) in gtr for r in res_rows) / max(len(gtr), 1)


@pytest.fixture(scope="module")
def graph_index(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_idx_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=8).fit(
        corpus, tmp
    )
    idx.build_graph(degree=16, ef_construction=32)
    return idx, corpus


def test_build_graph_incremental_method_e2e(spark, sf_dir):
    """method='incremental' flows through the Spark builder: meta records
    it and the traversal route returns exact-scored results."""
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_incr_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus, tmp
    )
    idx.build_graph(degree=16, ef_construction=32, method="incremental")
    meta = graph_meta(idx, idx.manifest.segments[0].name)
    assert meta["method"] == "incremental"
    q = corpus.limit(8).selectExpr("id as qid", "vec")
    res = idx.search_graph(q, k=5, n_probe=4, ef_search=64)
    rows = res.collect()
    assert len(rows) == 40
    gt = exact.knn_join(corpus, q, 5, metric="COSINE", strategy="numpy")
    assert _recall(rows, gt.collect()) >= 0.9


def test_graph_search_recall_and_exact_scores(spark, graph_index):
    idx, corpus = graph_index
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=40).collect()
    gt = exact.knn_join(
        corpus, queries, k=10, metric="COSINE", strategy="numpy"
    ).collect()
    assert _recall(res, gt) >= 0.8
    # reported scores are EXACT for true-positive rows (fp32 rerank)
    gts = {(r["qid"], r["id"]): r["score"] for r in gt}
    for r in res:
        if (r["qid"], r["id"]) in gts:
            assert r["score"] == pytest.approx(gts[(r["qid"], r["id"])], abs=1e-12)
    # per-query fill + rank ordering
    per_q = {}
    for r in res:
        per_q.setdefault(r["qid"], []).append((r["rank"], r["score"]))
    for rows in per_q.values():
        rows.sort()
        assert [rk for rk, _ in rows] == list(range(1, len(rows) + 1))
        assert all(rows[i][1] >= rows[i + 1][1] for i in range(len(rows) - 1))


def test_graph_meta_and_missing_graph_raises(spark, graph_index, sf_dir):
    idx, corpus = graph_index
    meta = graph_meta(idx, idx.manifest.segments[0].name)
    assert meta["degree"] == 16 and meta["metric"] == "COSINE"
    # an index without a graph refuses the traversal route loudly
    tmp = tempfile.mkdtemp(prefix="jvs_nograph_")
    bare = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus, tmp
    )
    queries = corpus.filter(F.col("id") < 4).selectExpr("id as qid", "vec")
    with pytest.raises(ValueError, match="no graph"):
        bare.search_graph(queries, k=5)


def test_graph_search_tombstones_filtered(spark, sf_dir):
    """Two-phase delete on the graph route: deleted ids still route
    traversal but never appear in results."""
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_del_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus, tmp
    )
    idx.build_graph(degree=16, ef_construction=32)
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    # queries ARE corpus rows: their own id is the top-1 hit -> delete them
    idx.delete(list(range(8)))
    res = idx.search_graph(queries, k=5, n_probe=4, ef_search=40).collect()
    assert res and all(r["id"] >= 8 for r in res)
    per_q = {}
    for r in res:
        per_q[r["qid"]] = per_q.get(r["qid"], 0) + 1
    assert all(v == 5 for v in per_q.values())  # refill from the beam


def test_graph_search_residual_and_slim(spark, sf_dir):
    """The traversal route composes with residual PQ steering and with
    slim (NVQ-rerank, no fp32) storage — built from NVQ reconstructions."""
    corpus = _corpus(spark, sf_dir)
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    gt = exact.knn_join(
        corpus, queries, k=10, metric="COSINE", strategy="numpy"
    ).collect()
    for kw in (
        dict(pq_residual=True),
        dict(store_fp32="none", rerank="nvq", pq_residual=False),
    ):
        tmp = tempfile.mkdtemp(prefix="jvs_graph_var_")
        idx = IVFIndexBuilder(
            metric="COSINE", pq_m=8, n_partitions=8, **kw
        ).fit(corpus, tmp)
        idx.build_graph(degree=16, ef_construction=32)
        res = idx.search_graph(queries, k=10, n_probe=4, ef_search=48).collect()
        assert _recall(res, gt) >= 0.7, kw


def test_graph_search_bq_first_pass(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_bq_")
    idx = IVFIndexBuilder(
        metric="COSINE", first_pass="bq", n_partitions=8
    ).fit(corpus, tmp)
    idx.build_graph(degree=16, ef_construction=32)
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=64).collect()
    gt = exact.knn_join(
        corpus, queries, k=10, metric="COSINE", strategy="numpy"
    ).collect()
    assert _recall(res, gt) >= 0.5  # hamming steering is coarser


def test_graph_survives_append_with_rebuild(spark, sf_dir):
    """append() creates a graph-less segment; build_graph() covers only
    the new one (existing graphs are kept unless rebuild=True)."""
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_app_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus.filter(F.col("id") < 400), tmp
    )
    idx.build_graph(degree=16, ef_construction=32)
    idx.append(corpus.filter(F.col("id") >= 400))
    names = [s.name for s in idx.manifest.segments]
    assert graph_meta(idx, names[0]) is not None
    assert graph_meta(idx, names[1]) is None
    queries = corpus.filter(F.col("id") < 4).selectExpr("id as qid", "vec")
    with pytest.raises(ValueError, match=names[1]):
        idx.search_graph(queries, k=5)
    idx.build_graph(degree=16, ef_construction=32)  # fills only the gap
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=40).collect()
    gt = exact.knn_join(
        corpus, queries, k=10, metric="COSINE", strategy="numpy"
    ).collect()
    assert _recall(res, gt) >= 0.7


def test_compact_rebuilds_graph(spark, sf_dir):
    """M6 refinement analog: a compaction of all-graphed segments rebuilds
    the merged segment's graph with the same parameters — graph_search
    keeps working with no manual build_graph() call, and tombstoned rows
    are now physically gone."""
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_cmp_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus.filter(F.col("id") < 400), tmp
    )
    idx.build_graph(degree=16, ef_construction=32)
    idx.append(corpus.filter(F.col("id") >= 400))
    idx.build_graph(degree=16, ef_construction=32)  # graph the new segment
    idx.delete([0, 1])
    idx = idx.compact()
    names = [s.name for s in idx.manifest.segments]
    assert len(names) == 1
    meta = graph_meta(idx, names[0])
    assert meta is not None and meta["degree"] == 16
    queries = corpus.filter(F.col("id") < 8).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=40).collect()
    assert res and all(r["id"] >= 2 for r in res)
    gt = exact.knn_join(
        corpus.filter(F.col("id") >= 2), queries, k=10, metric="COSINE",
        strategy="numpy",
    ).collect()
    assert _recall(res, gt) >= 0.7


def test_compact_graphless_stays_graphless(spark, sf_dir):
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_cmp2_")
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus.filter(F.col("id") < 400), tmp
    )
    idx.append(corpus.filter(F.col("id") >= 400))
    idx = idx.compact()
    assert graph_meta(idx, idx.manifest.segments[0].name) is None


def test_tune_graph_route(spark, graph_index):
    """route='graph' Grid sweep: cheapest (n_probe, ef) meeting the
    target, ef ladder early-stopped, IO bound monotone in both knobs."""
    idx, corpus = graph_index
    out = idx.tune(route="graph", k=5, target_recall=0.6, sample=16)
    assert out["route"] == "graph"
    assert out["best"] is not None
    assert out["best"]["recall"] >= 0.6
    assert out["best"]["ef_search"] >= 10
    # the walk is cheapest-first: evaluated points' bounds never decrease
    # within one n_probe shape's ladder
    for a, b in zip(out["evaluated"], out["evaluated"][1:]):
        if a["n_probe"] == b["n_probe"]:
            assert b["visited_bound"] >= a["visited_bound"]
    # graph-less index refuses
    import tempfile as _tf

    bare = IVFIndexBuilder(metric="COSINE", pq_m=8, n_partitions=4).fit(
        corpus, _tf.mkdtemp(prefix="jvs_tune_nograph_")
    )
    with pytest.raises(ValueError, match="no graph"):
        bare.tune(route="graph", k=5)


def test_graph_search_distributed_route_parity(spark, graph_index, monkeypatch):
    """The query frame's layout does not change the rows on the sf index:
    the same 32 queries as a one-partition local frame and as the caller's
    frame shuffled into 4 partitions return identical (qid, id, score,
    rank) — one traversal core, one rerank kernel. Both run the point
    route; the shuffled frame over a patched cap runs the exchange route
    and returns the same rows too."""
    idx, corpus = graph_index
    queries = corpus.filter(F.col("id") < 32).selectExpr("id as qid", "vec")
    q_local = spark.createDataFrame(queries.collect(), queries.schema).coalesce(1)
    q_shuf = queries.orderBy(F.rand(7)).repartition(4)
    assert q_local.rdd.getNumPartitions() == 1
    assert q_shuf.rdd.getNumPartitions() == 4
    kw = dict(k=10, n_probe=4, ef_search=40)
    a = sorted(map(tuple, idx.search_graph(q_local, **kw).collect()))
    b = sorted(map(tuple, idx.search_graph(q_shuf, **kw).collect()))
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 16)
    c = sorted(map(tuple, idx.search_graph(q_shuf, **kw).collect()))
    assert a == b == c
    assert len(a) == 32 * 10


def test_graph_search_route_parity_tiny_partitions(spark, monkeypatch):
    """The query frame's layout does not change the rows: the same 48
    queries as a one-partition local frame and as a frame shuffled into
    4 partitions return identical (qid, id, score, rank), on the point
    route and, over a patched cap, on the exchange route. Tiny partitions
    (~12 rows each, far smaller than ef_search) leave every beam short of
    the rerank pool, so group composition (which follows the input
    layout on the exchange route, and the query chunks on the point
    route) would leak other queries' beam members in without
    strict_mask."""
    import pandas as pd

    n, dim = 400, 8
    # private rng: the shared session-scoped `rng` fixture feeds later
    # modules' corpora — consuming draws here would shift their data and
    # flip marginal recall assertions (found the hard way, r8)
    mat = np.random.default_rng(1234).normal(size=(n, dim))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(n)],
        "id long, vec array<float>",
    )
    tmp = tempfile.mkdtemp(prefix="jvs_graph_tinyp_")
    # 32 partitions of ~12 rows each << ef_search=64
    idx = IVFIndexBuilder(metric="COSINE", pq_m=4, n_partitions=32).fit(
        corpus, tmp
    )
    idx.build_graph(degree=8, ef_construction=16)
    q_local = spark.createDataFrame(
        pd.DataFrame({
            "qid": np.arange(48, dtype=np.int64),
            "vec": list(mat[:48].astype(np.float32)),
        }),
        "qid long, vec array<float>",
    ).coalesce(1)
    q_shuf = (
        corpus.filter(F.col("id") < 48).selectExpr("id as qid", "vec")
        .orderBy(F.rand(7)).repartition(4)
    )
    assert q_local.rdd.getNumPartitions() == 1
    assert q_shuf.rdd.getNumPartitions() == 4
    kw = dict(k=10, n_probe=6, ef_search=64)
    a = sorted(map(tuple, idx.search_graph(q_local, **kw).collect()))
    b = sorted(map(tuple, idx.search_graph(q_shuf, **kw).collect()))
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 32)
    c = sorted(map(tuple, idx.search_graph(q_local, **kw).collect()))
    d = sorted(map(tuple, idx.search_graph(q_shuf, **kw).collect()))
    assert a == b == c == d
    assert len(a) == 48 * 10


_ROUTE_PARITY_BUILDS = {
    "pq_cosine_residual_fine": dict(
        metric="COSINE", pq_m=8, n_partitions=8, pq_residual=True, fine_factor=4
    ),
    "pq_euclidean": dict(metric="EUCLIDEAN", pq_m=8, n_partitions=8, pq_residual=False),
    "bq": dict(metric="COSINE", first_pass="bq", n_partitions=8),
    "nvq_rerank": dict(
        metric="COSINE", pq_m=8, n_partitions=8, store_fp32="none", rerank="nvq"
    ),
    "two_segments_tombstones": dict(metric="COSINE", pq_m=8, n_partitions=8),
    # 3 partitions < 2 x cores: the exchange salts its groups by qid (_gs)
    "coarse_salted": dict(metric="COSINE", pq_m=8, n_partitions=3),
}


@pytest.mark.parametrize("build", sorted(_ROUTE_PARITY_BUILDS))
def test_graph_point_route_matches_exchange_route(spark, sf_dir, monkeypatch, build):
    """A batch at or under ``BROADCAST_QUERY_CAP`` runs the one-stage point
    route; the same batch over a patched cap runs the exchange route. Both
    return byte-identical (qid, id, score as float hex, rank) rows: the
    walk, the rerank, the spill dedup and the tombstone filter do not
    depend on how queries are grouped into tasks."""
    corpus = _corpus(spark, sf_dir)
    two_segments = build == "two_segments_tombstones"
    idx = IVFIndexBuilder(**_ROUTE_PARITY_BUILDS[build]).fit(
        corpus.filter(F.col("id") < 400) if two_segments else corpus,
        tempfile.mkdtemp(prefix="jvs_graph_routes_"),
    )
    idx.build_graph(degree=16, ef_construction=32)
    if two_segments:
        idx.append(corpus.filter(F.col("id") >= 400))
        idx.build_graph(degree=16, ef_construction=32)
        idx.delete(list(range(0, 60, 3)))  # some are top-1 hits of queries
        assert len(idx.manifest.segments) == 2
    queries = corpus.filter(F.col("id") < 24).selectExpr("id as qid", "vec")

    def rows():
        res = idx.search_graph(queries, k=10, n_probe=4, ef_search=40)
        return sorted(
            (r["qid"], r["id"], float(r["score"]).hex(), r["rank"])
            for r in res.collect()
        )

    point = rows()
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 8)
    assert rows() == point
    assert len(point) == 24 * 10


def test_graph_search_distributed_on_auto_sized_index(spark, sf_dir):
    """An index whose partition count was left to the builder (the
    manifest records None) serves graph search: the group salt is sized
    from the segment's own partition count."""
    corpus = _corpus(spark, sf_dir)
    idx = IVFIndexBuilder(metric="COSINE", pq_m=8).fit(
        corpus, tempfile.mkdtemp(prefix="jvs_graph_autosz_")
    )
    assert idx.manifest.n_partitions is None
    idx.build_graph(degree=16, ef_construction=32)
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=10, n_probe=4, ef_search=40).collect()
    assert len(res) == 160


def test_graph_emit_k_reduction_is_lossless(spark, graph_index):
    """A/B the per-partition emission cut: without tombstones the route
    emits top-k per partition; WITH a tombstone it emits the full rerank
    pool (k_ret). Deleting an id that sits in no query's candidate pool
    flips the code path without changing any correct answer — the two
    runs must return identical rows (the proof the k-cut is lossless)."""
    idx, corpus = graph_index
    queries = corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec")
    kw = dict(k=10, n_probe=4, ef_search=60, overquery=6.0)
    res_cut = idx.search_graph(queries, **kw).collect()  # emit k
    # pick a victim no query's top-60 pool contains
    gt = exact.knn_join(
        corpus, queries, k=60, metric="COSINE", strategy="numpy"
    ).collect()
    in_pools = {r["id"] for r in gt}
    victim = max(
        r["id"] for r in corpus.select("id").collect() if r["id"] not in in_pools
    )
    idx.delete([victim])  # tombstone => emit k_ret (full pool)
    res_full = idx.search_graph(queries, **kw).collect()
    key = lambda rows: sorted(  # noqa: E731
        (r["qid"], r["rank"], r["id"], round(r["score"], 12)) for r in rows
    )
    assert key(res_cut) == key(res_full)
    assert len(res_cut) == 16 * 10


def test_graph_search_ef_below_k_raises(spark, graph_index):
    """ef_search < k would silently under-fill per-partition contributions
    (r7 ADVICE) — must raise like the probe_ratio validation does."""
    idx, corpus = graph_index
    queries = corpus.filter(F.col("id") < 4).selectExpr("id as qid", "vec")
    with pytest.raises(ValueError, match="ef_search"):
        idx.search_graph(queries, k=10, ef_search=5)


@pytest.mark.parametrize(
    "knob", [{"strategy": "distributed"}, {"m_hint": 10**6}, {"steer": "exact"}]
)
def test_graph_search_has_one_path(spark, graph_index, knob):
    """Graph search takes no route, batch-size or steering knob: the
    batch size alone picks its plan (the point stage at or under
    ``BROADCAST_QUERY_CAP`` query rows, the exchange above it), and both
    run the one traversal core."""
    idx, corpus = graph_index
    queries = corpus.filter(F.col("id") < 4).selectExpr("id as qid", "vec")
    with pytest.raises(TypeError):
        idx.search_graph(queries, k=5, **knob)


def test_graph_traversal_fills_the_cores(spark, graph_index, monkeypatch):
    """The traversal exchange keeps one partition per core: a 16-query
    batch over a patched cap (so it takes the exchange route) probing all
    8 partitions walks them in min(defaultParallelism, groups) tasks,
    where AQE's byte-sized coalescing of the few-KB replica shuffle would
    fold every walk into one task. The query frame is one partition, so
    the traversal is the call's widest stage."""
    par = spark.sparkContext.defaultParallelism
    if par == 1:
        pytest.skip("one core: one traversal task is already one per core")
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 8)
    idx, corpus = graph_index
    n_parts = len(idx._segments[idx.manifest.segments[0].name]["centroids"])
    assert n_parts == 8
    n_groups = n_parts * max(1, math.ceil(2 * par / n_parts))
    queries = spark.createDataFrame(
        corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec").collect(),
        "qid long, vec array<float>",
    ).coalesce(1)
    tasks = stage_tasks(
        spark,
        lambda: idx.search_graph(queries, k=10, n_probe=n_parts, ef_search=40)
        .collect(),
    )
    assert max(tasks) == min(par, n_groups)


def test_graph_search_distributed_bulk(spark, sf_dir, monkeypatch):
    """Corpus-as-queries through graph search (residual index) on the
    exchange route (the 500-row corpus is over the patched cap): recall
    vs the exact self-join on a sampled slice."""
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", 100)
    corpus = _corpus(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="jvs_graph_bulk_")
    idx = IVFIndexBuilder(
        metric="COSINE", pq_m=8, n_partitions=8, pq_residual=True
    ).fit(corpus, tmp)
    idx.build_graph(degree=16, ef_construction=32)
    queries = corpus.selectExpr("id as qid", "vec")
    res = idx.search_graph(queries, k=5, n_probe=4, ef_search=40)
    sample = res.filter(F.col("qid") < 16).collect()
    gt = exact.knn_join(
        corpus, corpus.filter(F.col("id") < 16).selectExpr("id as qid", "vec"),
        k=5, metric="COSINE", strategy="numpy",
    ).collect()
    assert _recall(sample, gt) >= 0.7


def test_pilot_entries_caps():
    """Pilot set: strided spread capped at n_local//16 (small partitions
    keep graph-route character), always a superset of stored entries."""
    ent = np.array([5, 900], dtype=np.int64)
    # large partition: 4*ef pilots
    pil = _pilot_entries(ent, 100_000, 64)
    assert len(pil) <= 256 + len(ent)
    assert set(ent).issubset(set(pil.tolist()))
    assert pil.max() < 100_000
    # small partition: cap n_local//16 binds (but never below entries)
    pil_s = _pilot_entries(ent, 320, 64)
    assert len(pil_s) <= max(320 // 16, len(ent)) + len(ent)
    # tiny: unchanged entries
    assert np.array_equal(_pilot_entries(ent, 16, 64), ent)


def test_exact_sims_block_bitwise_matches_gathered():
    """Seed scores must be BIT-identical to hop scores (route parity:
    the broadcast/distributed routes chunk queries differently, so any
    shape-dependent reduction order would drift the reported scores)."""
    rng = np.random.default_rng(0)
    c = rng.normal(size=(113, 64)).astype(np.float32)
    cn = np.einsum("ij,ij->i", c, c)
    for b_n in (1, 3, 257):
        q = rng.normal(size=(b_n, 64)).astype(np.float32)
        qn = np.einsum("ij,ij->i", q, q)
        for met in ("COSINE", "DOT_PRODUCT", "EUCLIDEAN"):
            blk = _exact_sims_block(met, q, c, qn, cn)
            gat = _exact_sims_gathered(
                met, q,
                np.broadcast_to(c, (b_n, 113, 64)).copy(),
                qn, np.broadcast_to(cn, (b_n, 113)).copy(),
            )
            assert np.array_equal(blk, gat)


def test_batch_beam_pilot_seeding_topef():
    """entries > ef: each query's beam seeds from ITS top-ef pilots, and
    the pilot-seeded beam finds the same best rows as the medoid-seeded
    one on a connected graph."""
    rng = np.random.default_rng(3)
    n, d, ef = 2000, 16, 16
    x = rng.normal(size=(n, d)).astype(np.float32)
    xnn = np.einsum("ij,ij->i", x, x)
    nbrs, entry = _build_partition_graph(x, 12, 1.2, 1.2, 32, "COSINE")
    width = max(len(a) for a in nbrs)
    nbr_mat = np.full((n, width), -1, np.int64)
    for i, a in enumerate(nbrs):
        nbr_mat[i, : len(a)] = a
    q = x[:8]
    qnn = xnn[:8]

    def score_fn(aq, cand):
        return _exact_sims_gathered(
            "COSINE", q[aq], x[np.maximum(cand, 0)], qnn[aq],
            xnn[np.maximum(cand, 0)],
        )

    def beam_scores(beam):
        return np.where(beam >= 0, score_fn(np.arange(8), beam), -np.inf)

    ents = np.atleast_1d(np.asarray(entry, dtype=np.int64))
    base = _batch_beam(score_fn, nbr_mat, ents, 8, n, ef)
    pil = _pilot_entries(ents, n, ef)
    assert len(pil) > ef  # the seeding path under test
    psc = _exact_sims_block("COSINE", q, x[pil], qnn, xnn[pil])
    seeded = _batch_beam(score_fn, nbr_mat, pil, 8, n, ef, seed_sc=psc)
    base_sc, seeded_sc = beam_scores(base), beam_scores(seeded)
    # each query's own row is its best hit on both paths (self top-1)
    assert np.array_equal(base[:, 0], np.arange(8))
    assert np.array_equal(seeded[:, 0], np.arange(8))
    # pilot seeding never lands a WORSE beam: per-query best-5 mean score
    assert float(seeded_sc[:, :5].mean()) >= float(base_sc[:, :5].mean()) - 1e-6


class _Count:
    def __init__(self):
        self.value = 0

    def add(self, v):
        self.value += v


@pytest.mark.parametrize(
    "codec_kind,met,residual",
    [("pq", "COSINE", False), ("pq", "EUCLIDEAN", True), ("bq", "COSINE", False)],
)
@pytest.mark.parametrize("ef", [16, 130])
def test_union_walk_matches_per_partition_beams(
    monkeypatch, codec_kind, met, residual, ef
):
    """A traversal wave walks its partitions as one disjoint-union graph;
    every partition's beams must be bit-identical to its own
    ``_batch_beam``, with the same visited-row total."""
    from jvector_spark.operators import graph
    from jvector_spark.operators.quantize.bq import BinaryQuantizer
    from jvector_spark.operators.quantize.pq import ProductQuantizer

    rng = np.random.default_rng(11)
    d = 16
    if codec_kind == "pq":
        codec = ProductQuantizer.fit_numpy(
            rng.normal(size=(512, d)).astype(np.float32),
            m=4, clusters=16, iterations=3, seed=7,
        )
    else:
        codec = BinaryQuantizer(dim=d)
    # (rows, degree, queries); the largest has rows > 16 x ef, so its
    # pilots outnumber ef (the top-ef seeding branch)
    shapes = [(90, 8, 2), (16 * ef + 300, 12, 5), (300, 16, 1), (150, 10, 3)]
    rows, ref, pil_n, ref_visits = [], [], [], _Count()
    for n, deg, nq in shapes:
        x = rng.normal(size=(n, d)).astype(np.float32)
        nbrs, entry = _build_partition_graph(x, deg, 1.2, 1.2, 2 * deg, met)
        nbr_mat = np.full((n, max(len(a) for a in nbrs)), -1, np.int64)
        for i, a in enumerate(nbrs):
            nbr_mat[i, : len(a)] = a
        codes = codec.encode_numpy(x)
        if codec_kind == "pq":
            codes = codes.astype(np.int64)
        mags = codec.row_magnitudes(codes) if met == "COSINE" and not residual else None
        rsq = np.einsum("ij,ij->i", x, x).astype(np.float32) if residual else None
        q = x[:nq] + 0.1 * rng.normal(size=(nq, d)).astype(np.float32)
        q_nrm = np.linalg.norm(q, axis=1)
        qc = (q @ x.mean(axis=0)) if residual else None
        s1 = codec.query_stage1(q, met, residual=residual)
        entries = np.atleast_1d(np.asarray(entry, dtype=np.int64))
        pil = graph._pilot_entries(entries, n, ef)
        pil_n.append(len(pil))
        pack = (None, np.arange(n), nbr_mat, entries, codes, mags, rsq)
        rows.append(graph._WalkRows(pack, np.arange(nq), q, q_nrm, s1, qc))

        def score_fn(aq, cand, s1=s1, q_nrm=q_nrm, codes=codes, mags=mags,
                     rsq=rsq, qc=qc):
            return graph._traverse_scores(
                met, s1, aq, q_nrm, codes, mags, cand, rsq,
                qc[aq] if qc is not None else None,
            )

        ref.append(_batch_beam(
            score_fn, nbr_mat, pil, nq, n, ef, counters=(ref_visits,)
        ))
    assert pil_n[1] > ef and pil_n[0] <= ef
    # budget: the first three partitions' cells fit, the fourth's do not
    budget = 10 * sum(n for n, _, _ in shapes[:3])
    monkeypatch.setattr(graph, "_WAVE_CELLS", budget)
    waves = list(graph._waves(iter(rows)))
    assert len(waves) >= 2 and max(len(w) for w in waves) >= 2
    got, visits = [], _Count()
    for wave in waves:
        got += graph._walk_union(wave, met, ef, (visits,))
    assert len(got) == len(ref)
    for a, b in zip(got, ref):
        assert np.array_equal(a, b)
    assert visits.value == ref_visits.value


def test_sorted_groups_joins_runs_across_frames():
    """A traversal task's groups arrive as key-sorted Arrow batches; a
    group split across batches comes out whole, once, in key order."""
    import pandas as pd

    from jvector_spark.operators.index import _sorted_groups

    frames = [
        pd.DataFrame({"part_id": [1, 1, 2], "_gs": [0, 1, 1], "qid": [10, 11, 12]}),
        pd.DataFrame({"part_id": [], "_gs": [], "qid": []}),
        pd.DataFrame({"part_id": [2, 2, 5], "_gs": [1, 1, 0], "qid": [13, 14, 15]}),
        pd.DataFrame({"part_id": [5], "_gs": [0], "qid": [16]}),
    ]
    got = [
        (key, g["qid"].tolist())
        for key, g in _sorted_groups(iter(frames), ["part_id", "_gs"])
    ]
    assert got == [
        ((1, 0), [10]), ((1, 1), [11]), ((2, 1), [12, 13, 14]), ((5, 0), [15, 16]),
    ]


def test_graph_meta_write_is_atomic(tmp_path, monkeypatch):
    """A meta write that dies mid-way leaves the previous ``meta.json``
    readable and no temp file behind."""
    import json
    import types

    from jvector_spark.operators import graph

    index = types.SimpleNamespace(_segments={"seg": {"dir": str(tmp_path)}})
    gdir = tmp_path / "graph"
    gdir.mkdir()
    old = {"degree": 16, "metric": "COSINE"}
    graph._write_meta(str(gdir), old)
    assert graph_meta(index, "seg") == old

    def torn(obj, f):
        f.write('{"degree": ')
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn)
    with pytest.raises(OSError, match="disk full"):
        graph._write_meta(str(gdir), {"degree": 32, "metric": "COSINE"})
    monkeypatch.undo()
    assert graph_meta(index, "seg") == old
    assert sorted(p.name for p in gdir.iterdir()) == ["meta.json"]
