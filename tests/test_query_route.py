"""The query-side front end shared by every point-query-batch operator
(``exact.route_query_batch``): empty query sides, over-cap auto routing,
and the Spark-job cost of ``strategy="auto"``. ``search_graph`` and
``hard_negative`` take no ``strategy``: graph search always routes by
the auto rule (its point stage at or under the cap, its exchange above,
pinned in ``tests/test_graph.py``) and ``hard_negative`` runs one plan
for every batch; both keep the empty-query and job-budget checks."""

import tempfile

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from conftest import count_jobs, stage_tasks
from jvector_spark.operators import exact
from jvector_spark.operators.index import IVFIndex, IVFIndexBuilder
from jvector_spark.operators.lsh import rp_lsh_knn_join
from jvector_spark.operators.quantize.pq import ProductQuantizer
from jvector_spark.operators.search import two_phase_knn_join

N, DIM, M, K, T = 600, 16, 16, 5, 0.9
RANKED = ["qid", "id", "score", "rank"]


@pytest.fixture(scope="module")
def setup(spark):
    # private generator: the session `rng` fixture is a stateful stream
    mat = np.random.default_rng(7).uniform(-1, 1, size=(N, DIM)).astype(np.float32)
    corpus = spark.createDataFrame(
        [(i, mat[i].tolist(), i % 3) for i in range(N)],
        "id long, vec array<float>, label long",
    ).cache()
    corpus.count()
    idx = IVFIndexBuilder(metric="COSINE", n_partitions=8, pq_m=4).fit(
        corpus.select("id", "vec"), tempfile.mkdtemp(prefix="jvs_route_idx_")
    )
    idx.build_graph(degree=8, ef_construction=16)
    pq = ProductQuantizer.fit(corpus, m=4, seed=42)
    codes = pq.encode(corpus).cache()
    codes.count()
    # a LOCAL frame (a small pandas frame becomes a LocalRelation):
    # collecting it starts no Spark job
    qids = np.arange(M, dtype=np.int64)
    queries = spark.createDataFrame(
        pd.DataFrame({"qid": qids, "vec": list(mat[qids * 37 % N]), "label": qids % 3}),
        "qid long, vec array<float>, label long",
    )
    yield corpus, idx, pq, codes, queries
    corpus.unpersist()
    codes.unpersist()


def _ops(corpus, idx, pq, codes):
    """name -> (call(queries, **strategy kw), broadcast and distributed
    strategy names, result columns) for every routed operator; an
    operator without a ``strategy`` has ``(None, None)``."""
    return {
        "knn_join": (
            lambda q, **kw: exact.knn_join(corpus, q, K, **kw),
            ("numpy", "blocked"), RANKED,
        ),
        "ivf_search": (
            lambda q, **kw: idx.search(q, K, n_probe=4, **kw),
            ("broadcast", "distributed"), RANKED,
        ),
        "threshold_search": (
            lambda q, **kw: idx.threshold_search(q, T, **kw),
            ("broadcast", "distributed"), ["qid", "id", "score"],
        ),
        "search_graph": (
            lambda q, **kw: idx.search_graph(q, K, n_probe=4, ef_search=16, **kw),
            (None, None), RANKED,
        ),
        "rp_lsh": (
            lambda q, **kw: rp_lsh_knn_join(corpus, q, K, n_planes=4, n_hint=N, **kw),
            ("broadcast", "distributed"), RANKED,
        ),
        "two_phase": (
            lambda q, **kw: two_phase_knn_join(codes, corpus, pq, q, K, n_hint=N, **kw),
            ("broadcast", "blocked"), RANKED,
        ),
        "hard_negative": (
            lambda q, **kw: exact.hard_negative_join(corpus, q, K, **kw),
            (None, None), RANKED,
        ),
    }


def _rows(df):
    return sorted((r["qid"], r["id"], round(r["score"], 9)) for r in df.collect())


@pytest.mark.parametrize(
    "op",
    ["knn_join", "ivf_search", "threshold_search", "search_graph", "rp_lsh",
     "two_phase", "hard_negative"],
)
def test_empty_query_side_returns_empty_result(spark, setup, op):
    """An empty query side is a valid batch on every route: zero rows with
    the operator's normal columns (the broadcast collect used to fail in
    np.stack of zero rows)."""
    corpus, idx, pq, codes, queries = setup
    call, routes, cols = _ops(corpus, idx, pq, codes)[op]
    empty = queries.limit(0)
    strategies = [{}] + [
        {"strategy": s} for s in routes if s is not None
    ]
    for kw in strategies:
        got = call(empty, **kw)
        assert got.columns == cols, (kw, got.columns)
        assert got.collect() == [], kw


def test_probe_io_stats_empty_query_side(spark, setup):
    """The IO model of zero queries is zero visited rows over the usual
    stored-row count (the probe math used to fail on the (0, 0) batch)."""
    corpus, idx, pq, codes, queries = setup
    stored = idx.probe_io_stats(queries, n_probe=4)["stored_rows"]
    assert idx.probe_io_stats(queries.limit(0), n_probe=4) == {
        "n_queries": 0,
        "stored_rows": stored,
        "mean_visited_rows": 0.0,
        "visited_fraction": 0.0,
    }


@pytest.mark.parametrize("op", ["ivf_search", "threshold_search", "rp_lsh"])
def test_auto_over_cap_matches_distributed(spark, setup, monkeypatch, op):
    """Above a (patched) cap and without ``m_hint``, auto takes the
    distributed route with the same rows as an explicit distributed call,
    and an explicit broadcast call fails loudly: the cap is read at call
    time by both the route rule and the collect guard."""
    corpus, idx, pq, codes, queries = setup
    call, (bcast, dist), _ = _ops(corpus, idx, pq, codes)[op]
    monkeypatch.setattr(exact, "BROADCAST_QUERY_CAP", M // 2)
    auto = _rows(call(queries))
    assert auto == _rows(call(queries, strategy=dist)) and len(auto) > 0
    with pytest.raises(ValueError, match="point-query-batch operator"):
        call(queries, strategy=bcast)


@pytest.mark.parametrize(
    "op", ["knn_join", "ivf_search", "threshold_search", "rp_lsh", "two_phase"],
)
def test_auto_route_costs_no_extra_jobs(spark, setup, op):
    """Routing is free on a point batch: auto runs exactly as many Spark
    jobs as the explicit broadcast route — the take that decides the
    route is the collect the broadcast route needs anyway."""
    corpus, idx, pq, codes, queries = setup
    call, (bcast, _), _ = _ops(corpus, idx, pq, codes)[op]
    call(queries, strategy=bcast).collect()  # warm caches / first-read jobs
    auto = count_jobs(spark, lambda: call(queries).collect())
    explicit = count_jobs(spark, lambda: call(queries, strategy=bcast).collect())
    assert auto == explicit, (auto, explicit)


def test_job_budgets(spark, setup):
    """Absolute Spark-job budgets for a small build, a point IVF search
    (plain, and with a predicate), a point graph search, a threshold search, both two-phase routes and
    the three other blocked routes (the per-call fixed cost the engine
    pays whatever the data size). The blocked budgets catch a plan that
    broadcast-joins a local table: that costs a job. A point graph search
    is one stage of min(defaultParallelism, distinct qids) tasks, and no
    stage of a distributed IVF search runs more tasks than there are
    cores."""
    corpus, idx, pq, codes, queries = setup
    # a segment's DataFrame is read once per loaded index (schema
    # inference + directory listing); the budgets are per search call
    for seg in idx.manifest.segments:
        idx._segment_data(seg.name)
    jobs = {
        "build": count_jobs(
            spark,
            lambda: IVFIndexBuilder(metric="COSINE", n_partitions=8, pq_m=4).fit(
                corpus.select("id", "vec"), tempfile.mkdtemp(prefix="jvs_budget_")
            ),
        ),
        "search": count_jobs(
            spark, lambda: idx.search(queries, K, n_probe=4).collect()
        ),
        "search_predicate": count_jobs(
            spark,
            lambda: idx.search(
                queries, K, n_probe=4, predicate=F.col("id") % 2 == 0
            ).collect(),
        ),
        "search_graph": count_jobs(
            spark,
            lambda: idx.search_graph(queries, K, n_probe=4, ef_search=16).collect(),
        ),
        "threshold": count_jobs(
            spark, lambda: idx.threshold_search(queries, T).collect()
        ),
        "knn_join_blocked": count_jobs(
            spark,
            lambda: exact.knn_join(
                corpus, queries, K, strategy="blocked", n_hint=N, m_hint=M
            ).collect(),
        ),
        "search_distributed": count_jobs(
            spark,
            lambda: idx.search(queries, K, n_probe=4, strategy="distributed").collect(),
        ),
        "threshold_distributed": count_jobs(
            spark,
            lambda: idx.threshold_search(queries, T, strategy="distributed").collect(),
        ),
        "two_phase": count_jobs(
            spark,
            lambda: two_phase_knn_join(
                codes, corpus, pq, queries, K, strategy="broadcast"
            ).collect(),
        ),
        "two_phase_blocked": count_jobs(
            spark,
            lambda: two_phase_knn_join(
                codes, corpus, pq, queries, K, strategy="blocked", n_hint=N, m_hint=M
            ).collect(),
        ),
    }
    budget = {
        "build": 7, "search": 1, "search_predicate": 2, "search_graph": 1,
        "threshold": 1,
        "knn_join_blocked": 3,
        "search_distributed": 3, "threshold_distributed": 3,
        "two_phase": 3, "two_phase_blocked": 4,
    }
    assert all(jobs[op] <= budget[op] for op in budget), jobs
    par = spark.sparkContext.defaultParallelism
    assert stage_tasks(
        spark,
        lambda: idx.search_graph(queries, K, n_probe=4, ef_search=16).collect(),
    ) == [min(par, M)]
    # the distributed routes' probe exchange runs one task per core at
    # most (its groups are the index's 8 partitions), not one per group
    for search in (
        lambda: idx.search(queries, K, n_probe=4, strategy="distributed"),
        lambda: idx.threshold_search(queries, T, strategy="distributed"),
    ):
        assert max(stage_tasks(spark, lambda: search().collect())) <= par


def test_segment_data_read_once(spark, setup):
    """A segment's DataFrame is built once per loaded index: a second
    ``_segment_data`` call (every search's scan) starts no Spark job."""
    idx = IVFIndex.load(spark, setup[1].path)
    name = idx.manifest.segments[0].name
    first = idx._segment_data(name)
    assert count_jobs(spark, lambda: idx._segment_data(name)) == 0
    assert idx._segment_data(name) is first
