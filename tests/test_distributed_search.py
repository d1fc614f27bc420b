"""Distributed (uncapped) query-side index search.

The reference never caps a search's query stream (GraphSearcher.java:222
is a per-thread loop; GraphIndexBuilder.java:327-335 runs corpus-sized
query sets during build). The batch analog is a corpus-sized query
DataFrame through ``IVFIndex.search`` / ``threshold_search`` — these tests
push >BROADCAST_QUERY_CAP queries through the auto-route and prove
(a) the distributed route returns EXACTLY the broadcast route's results
    where both are defined (threshold mode, and exhaustive-probe top-k),
(b) the auto-route engages above the cap without raising.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from jvector_spark.operators import exact
from jvector_spark.operators.exact import BROADCAST_QUERY_CAP
from jvector_spark.operators.index import IVFIndexBuilder
from jvector_spark.operators.search import SearchTelemetry

DIM = 8


def _mk_corpus(spark, rng, n, n_clusters=24):
    """Clustered vectors (mixture of Gaussians) so IVF probing is
    meaningful; the last 50 rows duplicate the first 50 (distinct ids) so
    threshold/dedup queries always have exact-pair hits and tie-breaking
    is exercised."""
    centers = rng.normal(size=(n_clusters, DIM))
    assign = rng.integers(0, n_clusters, size=n)
    mat = centers[assign] + 0.15 * rng.normal(size=(n, DIM))
    mat[n - 50 :] = mat[:50]
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    return spark.createDataFrame(rows, "id long, vec array<float>")


@pytest.fixture(scope="module")
def big_setup(spark, rng, tmp_path_factory):
    n = BROADCAST_QUERY_CAP + 300  # > the broadcast cap
    corpus = _mk_corpus(spark, rng, n).cache()
    corpus.count()
    path = str(tmp_path_factory.mktemp("ivf_dist") / "index")
    idx = IVFIndexBuilder(metric="COSINE", n_partitions=16, pq_m=4).fit(corpus, path)
    yield corpus, idx, n
    corpus.unpersist()


def test_search_auto_routes_over_cap_exact_parity(spark, big_setup):
    """Corpus-as-queries (> cap) auto-routes to the distributed probe
    exchange; with exhaustive probes and rerank_k >= any partition's rows,
    stage 1 keeps everything, so the result equals the exact blocked k-NN
    join bit for bit (same fp32-storage inputs, same fp64 scoring, same T4
    tie-break)."""
    corpus, idx, n = big_setup
    k = 5
    queries = corpus.selectExpr("id as qid", "vec")
    got = idx.search(
        queries, k, n_probe=16, overquery=float(n) / k, m_hint=n
    )  # auto -> distributed (m_hint > cap)
    want = exact.knn_join(
        corpus, queries, k, metric="COSINE", strategy="blocked",
        n_hint=n, m_hint=n,
    )
    g = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in got.collect()]
    w = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in want.collect()]
    assert len(g) == n * k
    # The two routes compute fp64 scores with different summation orders
    # (einsum tile vs blocked matmul), so two candidates whose TRUE scores
    # differ by <1 ulp-ish can swap across the rank-k boundary — both
    # orderings are exact under the documented contract. Allow orphan rows
    # only in matched near-tie pairs (same qid, scores within 1e-8).
    gset, wset = set(g), set(w)
    only_g = sorted(gset - wset)
    only_w = sorted(wset - gset)
    from collections import defaultdict

    og, ow = defaultdict(list), defaultdict(list)
    for q, r_, i, s in only_g:
        og[q].append(s)
    for q, r_, i, s in only_w:
        ow[q].append(s)
    assert set(og) == set(ow), f"unmatched qids: {set(og) ^ set(ow)}"
    for q in og:
        a, b = sorted(og[q]), sorted(ow[q])
        assert len(a) == len(b) and all(
            abs(x - y) <= 1e-8 for x, y in zip(a, b)
        ), f"qid {q}: non-tie divergence {a} vs {b}"


@pytest.mark.parametrize(
    "cfg",
    [{}, {"first_pass": "bq"}, {"rerank": "nvq"}],
    ids=["default", "bq", "nvq"],
)
def test_search_distributed_matches_broadcast(spark, big_setup, cfg, tmp_path):
    """Probe-selection parity at non-exhaustive n_probe: with rerank_k
    covering every probed row, both routes are exact over their probed
    subsets, so identical probe sets => identical results. (At partial
    overquery the two routes' rerank cuts run at different batch
    granularities — both within the documented batch-local contract — so
    exact equality is only defined when the cut keeps everything.) The
    BQ first pass and the NVQ rerank payload run through the same codec
    adapters on both routes, so they must match as well."""
    corpus, idx, n = big_setup
    if cfg:
        idx = IVFIndexBuilder(
            metric="COSINE", n_partitions=16, pq_m=4, **cfg
        ).fit(corpus, str(tmp_path / "index"))
    queries = corpus.limit(64).selectExpr("id as qid", "vec")
    oq = float(n) / 10
    a = idx.search(queries, 10, n_probe=4, overquery=oq, strategy="distributed")
    b = idx.search(queries, 10, n_probe=4, overquery=oq, strategy="broadcast")
    ga = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in a.collect()]
    gb = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in b.collect()]
    assert sorted(ga) == sorted(gb)


def test_threshold_distributed_matches_broadcast(spark, big_setup, tmp_path):
    """Threshold search is exact on BOTH routes -> identical result sets,
    to the last bit of every score. The spill-2 build stores most rows in
    two partitions, whose GEMMs can round a pair's score differently:
    both routes keep the lower part_id's copy."""
    corpus, idx, _ = big_setup
    spilled = IVFIndexBuilder(
        metric="COSINE", n_partitions=16, pq_m=4, spill=2
    ).fit(corpus, str(tmp_path / "index"))
    queries = corpus.limit(500).selectExpr("id as qid", "vec")
    t = 0.97  # normalized cosine score
    for index in (idx, spilled):
        got = {
            strategy: sorted(
                (r["qid"], r["id"], float(r["score"]).hex())
                for r in index.threshold_search(queries, t, strategy=strategy).collect()
            )
            for strategy in ("distributed", "broadcast")
        }
        assert len(got["distributed"]) > 0
        assert got["distributed"] == got["broadcast"]


def test_single_large_partition_matches_broadcast(spark, tmp_path_factory):
    """A 20,000-row partition is scored as ONE tile (the tile route gives
    every probed partition one tile, whatever its size): with a rerank
    pool covering every row, distributed top-k and distributed threshold
    search return the broadcast route's rows."""
    n, k = 20_000, 10
    corpus = _mk_corpus(spark, np.random.default_rng(20_000), n).cache()
    path = str(tmp_path_factory.mktemp("ivf_one_part") / "index")
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=1, spill=1, pq_m=4
    ).fit(corpus, path)
    queries = corpus.filter("id < 16").selectExpr("id as qid", "vec").cache()

    def topk(strategy):
        res = idx.search(
            queries, k, n_probe=1, overquery=float(n) / k, strategy=strategy
        )
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in res.collect()
        )

    def threshold(strategy):
        res = idx.threshold_search(queries, 0.97, strategy=strategy)
        return sorted((r["qid"], r["id"], round(r["score"], 9)) for r in res.collect())

    got = topk("distributed")
    assert len(got) == 16 * k
    assert got == topk("broadcast")
    got = threshold("distributed")
    assert len(got) > 16
    assert got == threshold("broadcast")
    queries.unpersist()
    corpus.unpersist()


def test_threshold_auto_routes_over_cap(spark, big_setup):
    """Corpus-as-queries threshold search (the semantic-dedup shape) runs
    uncapped and matches the exact brute-force pair set."""
    corpus, idx, n = big_setup
    queries = corpus.selectExpr("id as qid", "vec")
    t = 0.995
    got = idx.threshold_search(queries, t, m_hint=n)  # auto -> distributed
    pairs = sorted(
        (r["qid"], r["id"]) for r in got.filter(F.col("qid") < F.col("id")).collect()
    )
    # brute-force oracle on the driver (fp32 storage, fp64 scoring)
    rows = corpus.orderBy("id").collect()
    mat = np.asarray([r["vec"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    want = []
    for i in range(len(rows)):
        cos = (mat[i + 1 :] @ mat[i]) / np.maximum(norms[i + 1 :] * norms[i], 1e-30)
        for j in np.flatnonzero((1.0 + cos) / 2.0 >= t):
            want.append((rows[i]["id"], rows[i + 1 + j]["id"]))
    assert pairs == sorted(want)


def test_search_distributed_respects_filters(spark, big_setup):
    """A predicate and an accept-list DataFrame ride the distributed
    route's exchange as (part_id, id) rows: its rows equal the broadcast
    route's, which filters the same probed rows before the
    partition-local top-k, and hold only accepted ids."""
    corpus, idx, _ = big_setup
    queries = corpus.limit(32).selectExpr("id as qid", "vec")
    accept = corpus.select("id").filter(F.col("id") % 2 == 0)
    for kw, kept in (
        ({"accept_ids": accept}, lambda i: i % 2 == 0),
        ({"predicate": F.col("id") % 3 != 0}, lambda i: i % 3 != 0),
    ):
        got = {
            strategy: sorted(
                (r["qid"], r["rank"], r["id"], float(r["score"]).hex())
                for r in idx.search(
                    queries, 5, n_probe=8, strategy=strategy, **kw
                ).collect()
            )
            for strategy in ("distributed", "broadcast")
        }
        assert len(got["distributed"]) == 32 * 5
        assert got["distributed"] == got["broadcast"]
        assert all(kept(i) for _, _, i, _ in got["distributed"])


def test_lsh_distributed_matches_broadcast(spark, big_setup):
    """The bucket-key equi-join route visits the SAME candidate sets as
    the fused broadcast scan (same seeded planes, same multiprobe), so
    top-k membership agrees; scores are float64 on both routes."""
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    corpus, _, _ = big_setup
    queries = corpus.limit(200).selectExpr("id as qid", "vec")
    a = rp_lsh_knn_join(
        corpus, queries, 5, n_planes=6, probe_bits=2, strategy="distributed"
    )
    b = rp_lsh_knn_join(
        corpus, queries, 5, n_planes=6, probe_bits=2, strategy="broadcast"
    )
    ga = sorted((r["qid"], r["id"]) for r in a.collect())
    gb = sorted((r["qid"], r["id"]) for r in b.collect())
    assert ga == gb


def test_lsh_auto_routes_over_cap(spark, big_setup):
    """Corpus-as-queries LSH join (> cap) runs uncapped end to end."""
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    corpus, _, n = big_setup
    queries = corpus.selectExpr("id as qid", "vec")
    res = rp_lsh_knn_join(
        corpus, queries, 3, n_planes=6, probe_bits=1, m_hint=n
    ).cache()
    assert res.select("qid").distinct().count() == n  # every query answered
    assert res.groupBy("qid").count().agg(F.max("count")).first()[0] <= 3
    res.unpersist()


def test_two_phase_blocked_matches_broadcast(spark, big_setup):
    """two_phase_knn_join strategy='blocked' (no index, no driver collect)
    equals the broadcast route when rerank covers the whole corpus (both
    exact then); and the auto-route handles a corpus-as-queries side."""
    from jvector_spark.operators.quantize.pq import ProductQuantizer
    from jvector_spark.operators.search import two_phase_knn_join

    corpus, _, n = big_setup
    pq = ProductQuantizer.fit(corpus, m=4, seed=42)
    codes = pq.encode(corpus).cache()
    codes.count()
    queries = corpus.limit(64).selectExpr("id as qid", "vec")
    oq = float(n) / 10
    a = two_phase_knn_join(
        codes, corpus, pq, queries, 10, overquery=oq, strategy="blocked",
        n_hint=n, m_hint=64,
    )
    b = two_phase_knn_join(
        codes, corpus, pq, queries, 10, overquery=oq, strategy="broadcast"
    )
    ga = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in a.collect()]
    gb = [(r["qid"], r["rank"], r["id"], round(r["score"], 9)) for r in b.collect()]
    assert sorted(ga) == sorted(gb)

    # corpus-as-queries: auto -> blocked, uncapped
    qall = corpus.selectExpr("id as qid", "vec")
    res = two_phase_knn_join(
        codes, corpus, pq, qall, 3, overquery=4.0, m_hint=n, n_hint=n
    )
    assert res.select("qid").distinct().count() == n
    codes.unpersist()


def test_distributed_sizing_reads_query_lineage_once(spark, big_setup):
    """The distributed route must not re-run the query lineage (r4
    verdict: it full-counted the query side a second time). Without
    ``m_hint`` and without a fine level the probe exchange is the one reader
    of the probe assignment — an accumulator on the query lineage proves
    exactly ONE evaluation end to end, for both top-k and threshold
    routes."""
    corpus, idx, _ = big_setup
    for route in ("search", "threshold"):
        acc = spark.sparkContext.accumulator(0)

        def counting(batches, _acc=acc):
            for pdf in batches:
                _acc.add(len(pdf))
                yield pdf

        queries = (
            corpus.limit(400)
            .selectExpr("id as qid", "vec")
            .mapInPandas(counting, schema="qid long, vec array<float>")
        )
        if route == "search":
            res = idx.search(queries, 5, n_probe=4, strategy="distributed")
        else:
            res = idx.threshold_search(queries, 0.97, strategy="distributed")
        res.count()
        assert acc.value == 400, f"{route}: query lineage ran {acc.value / 400}x"


@pytest.fixture(scope="module")
def fine_setup(spark, big_setup, tmp_path_factory):
    """Two-level (fine_factor) index over the same >cap corpus."""
    corpus, _, n = big_setup
    path = str(tmp_path_factory.mktemp("ivf_fine_dist") / "index")
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=16, pq_m=4, fine_factor=4
    ).fit(corpus, path)
    return corpus, idx, n


def test_fine_pruning_distributed_matches_broadcast(spark, fine_setup):
    """r4 verdict Missing #2: the distributed route must honor
    n_probe_fine. The probed fine-sub union is computed map-only (no query
    collect) and pushed as the SAME ``sub_id IN (...)`` read filter the
    broadcast route uses — with rerank covering every surviving row the
    two routes are bit-identical, and the filter reaches the reads: both
    routes visit the same rows, fewer than the probed partitions hold."""
    corpus, idx, n = fine_setup
    queries = corpus.limit(20).selectExpr("id as qid", "vec")
    oq = float(n) / 10

    def run(strategy, npf):
        tel = SearchTelemetry(spark)
        res = idx.search(
            queries, 10, n_probe=4, n_probe_fine=npf, overquery=oq,
            strategy=strategy, telemetry=tel,
        )
        rows = sorted(
            (r["qid"], r["rank"], r["id"], float(r["score"]).hex())
            for r in res.collect()
        )
        return rows, tel.visited_rows

    ga, visited = run("distributed", 2)
    gb, visited_bcast = run("broadcast", 2)
    assert len(ga) > 0
    assert ga == gb
    _, visited_unfiltered = run("distributed", None)
    assert visited == visited_bcast < visited_unfiltered


def test_fine_pruning_uncapped_query_side(spark, fine_setup):
    """Corpus-as-queries (> cap) through distributed + fine pruning: runs
    uncapped, and every query still answers (its own row's partition and
    fine sub are always probed, so self is always a candidate)."""
    corpus, idx, n = fine_setup
    qall = corpus.selectExpr("id as qid", "vec")
    res = idx.search(qall, 3, n_probe=4, n_probe_fine=8, m_hint=n).cache()
    assert res.select("qid").distinct().count() == n
    res.unpersist()


def test_mhint_fine_batch_prunes_to_probed_partitions(spark, fine_setup):
    """r9 ADVICE item 1: an m_hint batch that derives the fine-sub filter
    must read only the partitions its queries probe, through the same
    fine-sub filter as the broadcast route — not the m_hint superset (all
    non-empty partitions). Clustered queries with a small n_probe probe a
    strict subset of partitions; the distributed route must visit exactly
    the broadcast route's rows (which reads only probed partitions), and
    results must stay bit-identical to it."""
    corpus, idx, n = fine_setup
    # 5 queries x n_probe=2 -> at most 10 probed partitions of 16, so
    # exact pruning is distinguishable from the all-non-empty superset
    queries = corpus.orderBy("id").limit(5).selectExpr("id as qid", "vec")
    oq = float(n) / 10
    got = {}
    for strategy, m_hint in (("distributed", 5), ("broadcast", None)):
        tel = SearchTelemetry(spark)
        res = idx.search(
            queries, 10, n_probe=2, n_probe_fine=2, overquery=oq,
            strategy=strategy, m_hint=m_hint, telemetry=tel,
        )
        rows = sorted(
            (r["qid"], r["rank"], r["id"], float(r["score"]).hex())
            for r in res.collect()
        )
        got[strategy] = (rows, tel.visited_rows)
    assert len(got["distributed"][0]) > 0
    assert got["distributed"] == got["broadcast"]


def test_adaptive_probe_ratio_parity_and_trim(spark, big_setup):
    """probe_ratio semantics: a huge ratio keeps every capped probe (bit-
    parity with fixed n_probe on BOTH routes); ratio=1.0 keeps only the
    (near-tied) nearest partition, i.e. equals n_probe=1 on a tie-free
    corpus; both routes agree under the same ratio."""
    corpus, idx, n = big_setup
    queries = corpus.limit(64).selectExpr("id as qid", "vec")
    oq = float(n) / 10  # full rerank -> exact over probed subsets

    def rows(df):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["score"], 9))
            for r in df.collect()
        )

    fixed = rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                            strategy="broadcast"))
    # huge ratio: nothing trimmed -> identical to fixed depth
    assert rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                           strategy="broadcast", probe_ratio=1e9)) == fixed
    assert rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                           strategy="distributed", probe_ratio=1e9)) == fixed
    # ratio=1: only the nearest partition survives == n_probe=1
    np1 = rows(idx.search(queries, 10, n_probe=1, overquery=oq,
                          strategy="broadcast"))
    got1 = rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                           strategy="broadcast", probe_ratio=1.0))
    assert got1 == np1
    # routes agree at an intermediate ratio (same relative rule both sides)
    ga = rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                         strategy="broadcast", probe_ratio=1.3))
    gd = rows(idx.search(queries, 10, n_probe=4, overquery=oq,
                         strategy="distributed", probe_ratio=1.3))
    assert ga == gd
    # intermediate ratio result is between np1 and fixed in probed mass:
    # every returned (qid,id) at ratio 1.3 also appears at full depth
    assert {(q, i) for q, _, i, _ in ga} <= {(q, i) for q, _, i, _ in fixed} | {
        (q, i) for q, _, i, _ in np1
    }


def test_adaptive_probe_ratio_two_level_fine(spark, tmp_path):
    """Adaptive probing composes with fine-cell masking: dropped probes'
    owned cells are excluded from npf selection on both routes and the
    result still matches between routes."""
    # local generator: the session `rng` fixture is a STATEFUL stream —
    # consuming it here would shift every later test's random corpus
    # (recall-floor tests downstream are order-sensitive to that)
    rng = np.random.default_rng(77)
    centers = rng.normal(size=(12, DIM))
    assign = rng.integers(0, 12, size=3000)
    mat = centers[assign] + 0.1 * rng.normal(size=(3000, DIM))
    corpus = spark.createDataFrame(
        [(int(i), [float(x) for x in mat[i]]) for i in range(3000)],
        "id long, vec array<float>",
    )
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=8, pq_m=4, fine_factor=4
    ).fit(corpus, str(tmp_path / "idx"))
    queries = corpus.limit(32).selectExpr("id as qid", "vec")
    kw = dict(n_probe=4, overquery=300.0, n_probe_fine=8, probe_ratio=1.25)
    a = idx.search(queries, 5, strategy="broadcast", **kw)
    d = idx.search(queries, 5, strategy="distributed", **kw)
    ra = sorted((r["qid"], r["rank"], r["id"]) for r in a.collect())
    rd = sorted((r["qid"], r["rank"], r["id"]) for r in d.collect())
    assert ra == rd and len(ra) > 0


def test_probe_ratio_below_one_rejected(spark, big_setup):
    """probe_ratio < 1 would put the keep-threshold under the nearest
    centroid distance and silently drop every probe for affected queries
    (r6 ADVICE) — must raise, not vanish rows."""
    import pytest as _pytest

    corpus, idx, n = big_setup
    queries = corpus.limit(4).selectExpr("id as qid", "vec")
    with _pytest.raises(ValueError, match="probe_ratio"):
        idx.search(queries, 10, probe_ratio=0.9)


def test_underfilled_queries_detector(spark, big_setup):
    """underfilled_queries flags exactly the queries whose result came
    back with fewer than k rows (the tight-probe_ratio tail detector)."""
    from jvector_spark.operators.search import underfilled_queries

    corpus, idx, n = big_setup
    queries = corpus.limit(8).selectExpr("id as qid", "vec")
    # constrain the corpus to 5 accepted rows -> every query underfills
    # at k=20 with exactly 5 rows
    accept = [r["id"] for r in corpus.limit(5).collect()]
    res = idx.search(queries, 20, accept_ids=accept)
    under = underfilled_queries(res, 20).collect()
    assert len(under) == 8
    assert all(r["n_rows"] == 5 for r in under)
    # and a healthy search flags nothing
    full = idx.search(queries, 5, n_probe=8, overquery=50.0)
    assert underfilled_queries(full, 5).count() == 0


def test_hard_negatives_ivf_query_col_knobs(spark, big_setup):
    """hard_negatives_ivf accepts non-default query id/vec column names
    (r6 ADVICE: the knobs existed for the corpus side only)."""
    from pyspark.sql import functions as F

    from jvector_spark.pipeline.mining import hard_negatives_ivf

    corpus, idx, n = big_setup
    labels = corpus.select("id", (F.col("id") % 3).alias("label"))
    q_default = corpus.limit(6).select(
        F.col("id").alias("qid"), "vec", (F.col("id") % 3).alias("label")
    )
    q_renamed = corpus.limit(6).select(
        F.col("id").alias("query_key"),
        F.col("vec").alias("emb"),
        (F.col("id") % 3).alias("label"),
    )
    kw = dict(k=3, overfetch=4, n_probe=8, overquery=20.0)
    a = sorted(
        (r["qid"], r["rank"], r["id"])
        for r in hard_negatives_ivf(idx, q_default, labels, **kw).collect()
    )
    b = sorted(
        (r["qid"], r["rank"], r["id"])
        for r in hard_negatives_ivf(
            idx, q_renamed, labels,
            query_id_col="query_key", query_vec_col="emb", **kw
        ).collect()
    )
    assert a == b and len(a) > 0


def test_npf_per_probe_routes_agree_and_superset(spark, tmp_path):
    """npf_per_probe: routes agree bit-for-bit, and the per-probe budget
    (a superset of flat npf's selected cells for multi-probe queries)
    never loses recall vs the flat mask at identical probes."""
    import numpy as np

    from jvector_spark.operators.index import IVFIndexBuilder

    rng = np.random.default_rng(31)
    centers = rng.normal(size=(24, 16))
    asg = rng.integers(0, 24, size=4000)
    mat = (centers[asg] + 0.3 * rng.normal(size=(4000, 16))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(4000)], "id long, vec array<float>"
    )
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=24, pq_m=4, fine_factor=8
    ).fit(df, str(tmp_path / "idx"))
    queries = df.limit(48).selectExpr("id as qid", "vec")

    def rows(d):
        return sorted(
            (r["qid"], r["rank"], r["id"], round(r["score"], 9))
            for r in d.collect()
        )

    kw = dict(n_probe=6, overquery=50.0, n_probe_fine=4,
              probe_ratio=1.3, npf_per_probe=True)
    a = rows(idx.search(queries, 10, strategy="broadcast", **kw))
    b = rows(idx.search(queries, 10, strategy="distributed", **kw))
    assert a == b
    # per-probe budget >= flat budget per query -> per-query hit sets
    # against exact GT can only grow
    from jvector_spark.metrics import recall_at_k
    from jvector_spark.operators import exact

    gt = exact.knn_join(df, queries, 10, metric="COSINE", strategy="numpy")
    flat = idx.search(queries, 10, n_probe=6, overquery=50.0,
                      n_probe_fine=4, probe_ratio=1.3)
    r_pp = recall_at_k(idx.search(queries, 10, **kw), gt, 10)
    r_flat = recall_at_k(flat, gt, 10)
    assert r_pp >= r_flat - 1e-9, (r_pp, r_flat)


def test_probe_io_stats_models_adaptive(spark, tmp_path):
    """probe_io_stats with probe_ratio/npf_per_probe predicts what the
    adaptive search scans: a huge ratio equals the fixed-depth model; a
    tight ratio never predicts MORE IO; per-probe budgets never predict
    less than the flat budget at the same ratio."""
    import numpy as np

    from jvector_spark.operators.index import IVFIndexBuilder

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(20, 16))
    asg = rng.integers(0, 20, size=3000)
    mat = (centers[asg] + 0.3 * rng.normal(size=(3000, 16))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(3000)], "id long, vec array<float>"
    )
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=20, pq_m=4, fine_factor=8
    ).fit(df, str(tmp_path / "idx"))
    q = df.limit(32).selectExpr("id as qid", "vec")
    fixed = idx.probe_io_stats(q, 6, 8)
    huge = idx.probe_io_stats(q, 6, 8, probe_ratio=1e9)
    tight = idx.probe_io_stats(q, 6, 8, probe_ratio=1.1)
    assert huge["mean_visited_rows"] == fixed["mean_visited_rows"]
    assert tight["mean_visited_rows"] <= fixed["mean_visited_rows"]
    pp = idx.probe_io_stats(q, 6, 2, probe_ratio=1.3, npf_per_probe=True)
    flat = idx.probe_io_stats(q, 6, 2, probe_ratio=1.3)
    assert pp["mean_visited_rows"] >= flat["mean_visited_rows"]
    # coarse-only branch too
    c_fixed = idx.probe_io_stats(q, 6)
    c_tight = idx.probe_io_stats(q, 6, probe_ratio=1.1)
    assert c_tight["mean_visited_rows"] <= c_fixed["mean_visited_rows"]


def _exact_rows(df):
    """(qid, rank, id, score) rows with the score's exact bits."""
    return sorted(
        (r["qid"], r["rank"], r["id"], float(r["score"]).hex()) for r in df.collect()
    )


@pytest.mark.parametrize(
    "cfg, search_kw",
    [
        ({"pq_residual": False}, {}),
        ({"first_pass": "bq"}, {}),
        ({"rerank": "nvq"}, {}),
        ({"pq_residual": True}, {}),
        ({"fine_factor": 4}, {"n_probe_fine": 2}),
    ],
    ids=["pq", "bq", "nvq", "residual", "fine"],
)
def test_routes_return_identical_rows(spark, big_setup, cfg, search_kw, tmp_path):
    """Both routes score each (query, probed partition) pool once, with
    the same kernel: at a partial rerank pool (overquery 1 and 4) the
    broadcast and distributed routes return the same rows, scores
    bit for bit."""
    corpus, _, n = big_setup
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=16, pq_m=4, **cfg
    ).fit(corpus, str(tmp_path / "index"))
    queries = corpus.limit(64).selectExpr("id as qid", "vec")
    for overquery in (1.0, 4.0):
        kw = dict(n_probe=4, overquery=overquery, **search_kw)
        got = _exact_rows(idx.search(queries, 10, strategy="broadcast", **kw))
        assert len(got) == 64 * 10
        assert got == _exact_rows(idx.search(queries, 10, strategy="distributed", **kw))


def test_routes_rank_a_large_partition_as_one_pool(spark, tmp_path_factory):
    """A 20,000-row partition (two 10,000-record Arrow batches) is one
    rerank pool on both routes: at overquery 1 the broadcast route's rows
    equal the distributed route's, scores bit for bit."""
    n, k = 20_000, 10
    corpus = _mk_corpus(spark, np.random.default_rng(20_001), n).cache()
    path = str(tmp_path_factory.mktemp("ivf_one_pool") / "index")
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=1, spill=1, pq_m=4
    ).fit(corpus, path)
    queries = corpus.filter("id < 16").selectExpr("id as qid", "vec").cache()
    kw = dict(n_probe=1, overquery=1.0)
    got = _exact_rows(idx.search(queries, k, strategy="broadcast", **kw))
    assert len(got) == 16 * k
    assert got == _exact_rows(idx.search(queries, k, strategy="distributed", **kw))
    queries.unpersist()
    corpus.unpersist()
