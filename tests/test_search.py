"""Two-phase PQ search: recall contract vs exact ground truth.

Mirrors FIXTURES.md invariant 4 / the reference's recall-threshold property
tests (Test2DThreshold.java:36-49, TestLowCardinalityFiltering.java:53-55):
PQ two-phase recall@10 must clear a threshold at a given overquery, and the
returned scores must be exact fp32 scores.
"""

import numpy as np
import pytest

from jvector_spark.functions import kernels
from jvector_spark.metrics import recall_at_k
from jvector_spark.operators import exact
from jvector_spark.operators.quantize.pq import ProductQuantizer
from jvector_spark.operators.search import two_phase_knn_join

N, DIM, M_QUERIES, K = 4000, 64, 20, 10


@pytest.fixture(scope="module")
def pq_fixture(spark, rng):
    mat = rng.uniform(-1.0, 1.0, size=(N, DIM)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(N)], "id long, vec array<float>"
    ).cache()
    pq = ProductQuantizer.fit_numpy(mat.astype(np.float64), m=16, clusters=256)
    codes_df = pq.encode(df).cache()
    queries = spark.createDataFrame(
        [(i, mat[i * 37 % N].tolist()) for i in range(M_QUERIES)],
        "qid long, vec array<float>",
    ).cache()
    return df, codes_df, pq, queries, mat


@pytest.mark.parametrize("metric", ["COSINE", "EUCLIDEAN"])
def test_two_phase_recall(pq_fixture, metric):
    df, codes_df, pq, queries, mat = pq_fixture
    got = two_phase_knn_join(codes_df, df, pq, queries, K, metric=metric, overquery=5.0)
    gt = exact.knn_join(df, queries, K, metric=metric, strategy="numpy")
    r = recall_at_k(got, gt, K)
    assert r >= 0.95, f"recall@{K}={r} below threshold for {metric}"


def test_two_phase_scores_are_exact(pq_fixture):
    """Returned scores come from the fp32 reranker, not the ADC approximation."""
    df, codes_df, pq, queries, mat = pq_fixture
    got = two_phase_knn_join(codes_df, df, pq, queries, K, metric="COSINE", overquery=5.0)
    rows = got.filter("qid = 0").collect()
    q = mat[0].astype(np.float64)
    for r in rows:
        want = kernels.similarity("COSINE", q[None, :], mat[r["id"]].astype(np.float64)[None, :])[0, 0]
        assert abs(r["score"] - want) < 1e-9


def test_overquery_improves_recall(pq_fixture):
    df, codes_df, pq, queries, mat = pq_fixture
    gt = exact.knn_join(df, queries, K, metric="COSINE", strategy="numpy").cache()
    r1 = recall_at_k(
        two_phase_knn_join(codes_df, df, pq, queries, K, "COSINE", overquery=1.0), gt, K
    )
    r5 = recall_at_k(
        two_phase_knn_join(codes_df, df, pq, queries, K, "COSINE", overquery=5.0), gt, K
    )
    assert r5 >= r1


# ---------------------------------------------------------------------------
# Random-hyperplane LSH k-NN join (SURVEY §2.4 J2 — bucketed ANN variant)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def clustered_fixture(spark, rng):
    """Clustered corpus (50 Gaussian clusters): the realistic embedding
    shape LSH bucketing exploits. Uniform random high-d vectors are
    near-orthogonal — a degenerate case where no sublinear ANN works."""
    n, dim, n_clusters = 4000, 64, 50
    centers = rng.normal(size=(n_clusters, dim))
    assign = rng.integers(0, n_clusters, size=n)
    mat = (centers[assign] + 0.25 * rng.normal(size=(n, dim))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(n)], "id long, vec array<float>"
    ).cache()
    queries = spark.createDataFrame(
        [(i, (mat[i * 37 % n] + 0.05 * rng.normal(size=dim).astype(np.float32)).tolist())
         for i in range(M_QUERIES)],
        "qid long, vec array<float>",
    ).cache()
    return df, queries, mat


def test_rp_lsh_recall(clustered_fixture):
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    df, queries, mat = clustered_fixture
    got = rp_lsh_knn_join(df, queries, K, metric="COSINE", probe_bits=2)
    gt = exact.knn_join(df, queries, K, metric="COSINE", strategy="numpy")
    r = recall_at_k(got, gt, K)
    assert r >= 0.75, f"LSH recall@{K}={r} below floor"


def test_rp_lsh_scores_exact_and_ranked(clustered_fixture):
    """Returned rows carry exact fp32 scores, ranked desc with id tiebreak."""
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    df, queries, mat = clustered_fixture
    qvec = np.asarray(queries.filter("qid = 0").first()["vec"], dtype=np.float64)
    rows = (
        rp_lsh_knn_join(df, queries, K, metric="COSINE", probe_bits=2)
        .filter("qid = 0")
        .orderBy("rank")
        .collect()
    )
    assert 0 < len(rows) <= K
    prev = None
    for r in rows:
        want = kernels.similarity(
            "COSINE", qvec[None, :], mat[r["id"]].astype(np.float64)[None, :]
        )[0, 0]
        assert abs(r["score"] - want) < 1e-9
        if prev is not None:
            assert r["score"] <= prev + 1e-12
        prev = r["score"]


def test_rp_lsh_more_probes_improve_recall(clustered_fixture):
    from jvector_spark.operators.lsh import rp_lsh_knn_join

    df, queries, mat = clustered_fixture
    gt = exact.knn_join(df, queries, K, metric="COSINE", strategy="numpy").cache()
    r0 = recall_at_k(rp_lsh_knn_join(df, queries, K, "COSINE", probe_bits=0), gt, K)
    r2 = recall_at_k(rp_lsh_knn_join(df, queries, K, "COSINE", probe_bits=2), gt, K)
    assert r2 >= r0


# ---------------------------------------------------------------------------
# NVQ rerank (E11 scoring + the reference's default rerank config)
# ---------------------------------------------------------------------------


def test_nvq_rerank_matches_fp32_recall(pq_fixture):
    from jvector_spark.operators.quantize.nvq import NVQuantizer

    df, codes_df, pq, queries, mat = pq_fixture
    nvq = NVQuantizer(dim=DIM)
    nvq_df = nvq.encode(df).cache()
    gt = exact.knn_join(df, queries, K, metric="COSINE", strategy="numpy").cache()

    r_fp32 = recall_at_k(
        two_phase_knn_join(codes_df, df, pq, queries, K, "COSINE", overquery=5.0), gt, K
    )
    r_nvq = recall_at_k(
        two_phase_knn_join(
            codes_df, df, pq, queries, K, "COSINE", overquery=5.0, nvq=(nvq_df, nvq)
        ),
        gt,
        K,
    )
    assert r_nvq >= r_fp32 - 0.02, (r_nvq, r_fp32)


def test_nvq_scores_close_to_exact(pq_fixture):
    """NVQ-rerank reported scores track exact fp32 scores within the codec's
    reconstruction tolerance (ref TestReconstructionError.java pattern)."""
    from jvector_spark.operators.quantize.nvq import NVQuantizer

    df, codes_df, pq, queries, mat = pq_fixture
    nvq = NVQuantizer(dim=DIM)
    nvq_df = nvq.encode(df)
    got = two_phase_knn_join(
        codes_df, df, pq, queries, K, "COSINE", overquery=5.0, nvq=(nvq_df, nvq)
    )
    rows = got.filter("qid = 0").collect()
    q = mat[0].astype(np.float64)
    for r in rows:
        want = kernels.similarity("COSINE", q[None, :], mat[r["id"]].astype(np.float64)[None, :])[0, 0]
        assert abs(r["score"] - want) < 5e-3, (r["id"], r["score"], want)


# ---------------------------------------------------------------------------
# Blockwise fused ADC+topk (r9): bit-identical to the full-matrix phase-1
# ---------------------------------------------------------------------------


def _full_matrix_candidates(
    met, rerank_k, luts, mag_lut, q_norms, ids, code_idx, mask=None, residual=None
):
    """Verbatim port of the pre-r9 full-matrix phase-1 of
    ``_fused_block_topk`` (ADC accumulation, metric epilogue, np.where
    mask, one ``topk_per_row`` over the whole (Q, n) score matrix) — the
    reference implementation ``_blockwise_adc_topk`` must reproduce
    bit-for-bit, candidate order included."""
    m = code_idx.shape[1]
    cols = np.arange(m)
    if met == "COSINE" and residual is None:
        mags = np.sqrt(
            np.maximum(mag_lut[cols, code_idx].sum(axis=1), 1e-30)
        ).astype(np.float32)
    lut_t = np.ascontiguousarray(luts.astype(np.float32).transpose(1, 2, 0))
    partial = np.empty((luts.shape[0], len(ids)), dtype=np.float32)
    for lo in range(0, len(ids), 4096):
        hi = min(lo + 4096, len(ids))
        acc = lut_t[0][code_idx[lo:hi, 0]]
        for mm in range(1, m):
            acc += lut_t[mm][code_idx[lo:hi, mm]]
        partial[:, lo:hi] = acc.T
    if residual is not None:
        qc_dot, rsq = residual
        full = partial + qc_dot.astype(np.float32)[:, None]
        if met == "EUCLIDEAN":
            d2 = (
                (q_norms * q_norms).astype(np.float32)[:, None]
                + rsq[None, :]
                - 2.0 * full
            )
            np.maximum(d2, 0.0, out=d2)
            approx = 1.0 / (1.0 + d2)
        elif met == "DOT_PRODUCT":
            approx = (1.0 + full) / 2.0
        else:
            denom = (
                np.sqrt(np.maximum(rsq, 1e-30))[None, :]
                * np.maximum(q_norms, 1e-30).astype(np.float32)[:, None]
            )
            approx = (1.0 + full / denom) / 2.0
    elif met == "EUCLIDEAN":
        approx = 1.0 / (1.0 + partial)
    elif met == "DOT_PRODUCT":
        approx = (1.0 + partial) / 2.0
    else:
        approx = (
            1.0
            + partial
            / (mags[None, :] * np.maximum(q_norms[:, None], 1e-30).astype(np.float32))
        ) / 2.0
    if mask is not None:
        approx = np.where(mask, approx, approx.dtype.type(-np.inf))
    cand_idx, _ = kernels.topk_per_row(approx, rerank_k, ids=ids)
    return cand_idx


def _mk_inputs(rng, n, q, m, ties=False, dup_ids=False):
    # quantized LUT values force massive exact-score ties when ties=True
    if ties:
        luts = rng.integers(0, 3, size=(q, m, 256)).astype(np.float64) / 4.0
    else:
        luts = rng.uniform(-1.0, 1.0, size=(q, m, 256))
    mag_lut = np.abs(rng.uniform(0.1, 1.0, size=(m, 256)))
    code_idx = rng.integers(0, 256, size=(n, m)).astype(np.int64)
    q_norms = rng.uniform(0.5, 2.0, size=q)
    if dup_ids:  # ~2x duplication across the whole column range
        ids = rng.integers(0, max(1, n // 2), size=n).astype(np.int64) * 7 + 3
    else:
        ids = rng.permutation(n).astype(np.int64) * 7 + 3
    return luts, mag_lut, code_idx, q_norms, ids


@pytest.mark.parametrize("met", ["EUCLIDEAN", "DOT_PRODUCT", "COSINE"])
@pytest.mark.parametrize("shape", [(300, 7, 64), (4096, 5, 130), (9000, 4, 64)])
def test_blockwise_adc_topk_matches_full_matrix(met, shape):
    from jvector_spark.operators.index import _blockwise_adc_topk

    rng = np.random.default_rng(91)
    n, q, k = shape
    luts, mag_lut, code_idx, q_norms, ids = _mk_inputs(rng, n, q, m=8)
    ref = _full_matrix_candidates(met, k, luts, mag_lut, q_norms, ids, code_idx)
    for block in (64, 4096):
        got, _, _ = _blockwise_adc_topk(
            met, k, luts, mag_lut, q_norms, ids, code_idx, block=block
        )
        assert np.array_equal(ref, got), (met, shape, block)


@pytest.mark.parametrize("met", ["EUCLIDEAN", "DOT_PRODUCT", "COSINE"])
def test_blockwise_adc_topk_residual_mode(met):
    from jvector_spark.operators.index import _blockwise_adc_topk

    rng = np.random.default_rng(92)
    n, q, k = 5000, 6, 48
    luts, mag_lut, code_idx, q_norms, ids = _mk_inputs(rng, n, q, m=8)
    qc_dot = rng.uniform(-0.5, 0.5, size=q)
    rsq = np.abs(rng.uniform(0.1, 2.0, size=n)).astype(np.float32)
    ref = _full_matrix_candidates(
        met, k, luts, mag_lut, q_norms, ids, code_idx, residual=(qc_dot, rsq)
    )
    for block in (512, 4096):
        got, _, _ = _blockwise_adc_topk(
            met, k, luts, mag_lut, q_norms, ids, code_idx,
            residual=(qc_dot, rsq), block=block,
        )
        assert np.array_equal(ref, got), (met, block)


@pytest.mark.parametrize("starved", [False, True])
def test_blockwise_adc_topk_mask_and_ties(starved):
    """Sparse fine-cell masks + massive exact-score ties (unique ids):
    candidate columns must match the full-matrix path exactly."""
    from jvector_spark.operators.index import _blockwise_adc_topk

    rng = np.random.default_rng(93)
    n, q, k = 6000, 5, 64
    luts, mag_lut, code_idx, q_norms, ids = _mk_inputs(rng, n, q, m=4, ties=True)
    mask = rng.uniform(size=(q, n)) < 0.05  # sparse: most rows -inf
    if starved:
        mask[0, :] = False  # fully starved query: all-(-inf) row
        mask[1, :] = True
    for met in ("DOT_PRODUCT", "COSINE"):
        ref = _full_matrix_candidates(
            met, k, luts, mag_lut, q_norms, ids, code_idx, mask=mask
        )
        for block in (256, 4096):
            got, _, _ = _blockwise_adc_topk(
                met, k, luts, mag_lut, q_norms, ids, code_idx,
                mask=mask, block=block,
            )
            assert np.array_equal(ref, got), (met, starved, block)


def test_blockwise_adc_topk_duplicate_ids():
    """Adversarial duplicate ids + equal scores: within one scan group ids
    are unique in real data (spill copies are filtered before scoring), but
    pin the invariant that matters anyway — the selected (id, score)
    SEQUENCE is identical. Among equal-(score, id) twin columns the old
    full-matrix path's column choice fell to np.argpartition's arbitrary
    internal order, so column indices themselves are not comparable."""
    from jvector_spark.operators.index import _blockwise_adc_topk

    rng = np.random.default_rng(95)
    n, q, k = 6000, 5, 64
    luts, mag_lut, code_idx, q_norms, ids = _mk_inputs(
        rng, n, q, m=4, ties=True, dup_ids=True
    )
    mask = rng.uniform(size=(q, n)) < 0.05
    met = "DOT_PRODUCT"
    # approx scores, identical in both paths (per-block f32 accumulation)
    lut_t = np.ascontiguousarray(luts.astype(np.float32).transpose(1, 2, 0))
    partial = np.empty((q, n), dtype=np.float32)
    for lo in range(0, n, 4096):
        hi = min(lo + 4096, n)
        acc = lut_t[0][code_idx[lo:hi, 0]]
        for mm in range(1, luts.shape[1]):
            acc += lut_t[mm][code_idx[lo:hi, mm]]
        partial[:, lo:hi] = acc.T
    approx = np.where(mask, (1.0 + partial) / 2.0, np.float32(-np.inf))
    ref = _full_matrix_candidates(
        met, k, luts, mag_lut, q_norms, ids, code_idx, mask=mask
    )
    got, _, _ = _blockwise_adc_topk(
        met, k, luts, mag_lut, q_norms, ids, code_idx, mask=mask, block=256
    )
    assert np.array_equal(ids[ref], ids[got])
    assert np.array_equal(
        np.take_along_axis(approx, ref, axis=1),
        np.take_along_axis(approx, got, axis=1),
    )


def test_blockwise_adc_topk_k_exceeds_n():
    from jvector_spark.operators.index import _blockwise_adc_topk

    rng = np.random.default_rng(94)
    n, q = 100, 3
    luts, mag_lut, code_idx, q_norms, ids = _mk_inputs(rng, n, q, m=4)
    ref = _full_matrix_candidates(
        "DOT_PRODUCT", 500, luts, mag_lut, q_norms, ids, code_idx
    )
    got, _, _ = _blockwise_adc_topk(
        "DOT_PRODUCT", 500, luts, mag_lut, q_norms, ids, code_idx, block=32
    )
    assert got.shape == (q, n)
    assert np.array_equal(ref, got)



def test_recall_at_k_exact_across_partitionings(spark):
    """Recall is a ratio of counts: 1 hit of 10 on each of 10 queries
    reads exactly 0.1, and 128 hits of 160 exactly 0.8, whatever the
    result frame's partitioning. A double sum of the per-query fractions
    reads 0.09999999999999999, and 0.8 or 0.7999999999999999 depending
    on the plan."""
    for hits, want in (([1] * 10, 0.1), ([7, 7, 7, 7, 8, 5, 8, 7, 8, 9, 10, 8, 8, 9, 10, 10], 0.8)):
        nq = len(hits)
        gt = spark.createDataFrame(
            [(q, q * 100 + i, i + 1) for q in range(nq) for i in range(10)],
            "qid long, id long, rank int",
        )
        rows = [(q, q * 100 + i, i + 1) for q in range(nq) for i in range(hits[q])]
        rows += [(q, 10_000 + q * 100 + i, 10) for q in range(nq) for i in range(10 - hits[q])]
        res = spark.createDataFrame(rows, "qid long, id long, rank int")
        for parts in (1, 7):
            assert recall_at_k(res.repartition(parts), gt, 10) == want


def test_map_at_k_exact_across_partitionings(spark):
    """MAP is averaged as decimals too: one hit at rank 1 on each of 10
    queries reads exactly 0.1 (a double average of ten 0.1 APs reads
    0.09999999999999999), 128 rank-ordered hits of 160 exactly 0.8, and
    APs with thirds in them read the same at every partitioning."""
    from jvector_spark.metrics import mean_average_precision_at_k

    res = spark.createDataFrame(
        [(q, q * 100 + i, i + 1) for q in range(16) for i in range(10)],
        "qid long, id long, rank int",
    )
    cases = (
        ([[0]] * 10, 0.1),
        ([list(range(h)) for h in (7, 7, 7, 7, 8, 5, 8, 7, 8, 9, 10, 8, 8, 9, 10, 10)], 0.8),
        ([[0, 2], [1, 2, 5], [0, 3, 8]] * 3, None),
    )
    for hit_ranks, want in cases:
        gt = spark.createDataFrame(
            [(q, q * 100 + i, i + 1) for q, ranks in enumerate(hit_ranks) for i in ranks],
            "qid long, id long, rank int",
        )
        got = {
            parts: mean_average_precision_at_k(res.repartition(parts), gt.repartition(parts), 10)
            for parts in (1, 7)
        }
        assert got[1] == got[7], got
        if want is not None:
            assert got[1] == want, got
