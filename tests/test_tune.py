"""Search-parameter auto-tuning (the reference's Grid sweep analog,
Grid.java:98-132, 668-679): cheapest-first walk of the (n_probe,
n_probe_fine, overquery) lattice under the index's own IO model."""

import numpy as np
import pytest
from conftest import count_jobs

from jvector_spark.operators import exact
from jvector_spark.operators.index import IVFIndexBuilder


@pytest.fixture(scope="module")
def tuned_index(spark, tmp_path_factory):
    rng = np.random.default_rng(77)
    centers = rng.normal(size=(50, 32))
    asg = rng.integers(0, 50, size=6000)
    mat = (centers[asg] + 0.25 * rng.normal(size=(6000, 32))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(len(mat))], "id long, vec array<float>"
    ).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("tune") / "index")
    idx = IVFIndexBuilder(
        metric="COSINE", n_partitions=32, pq_m=8, spill=1, fine_factor=4, seed=7
    ).fit(df, path)
    return idx, df


def test_tune_meets_target_and_is_cheapest_first(tuned_index):
    idx, _ = tuned_index
    out = idx.tune(k=10, target_recall=0.8, sample=24)
    best = out["best"]
    assert best is not None, f"no config met 0.8: {out['evaluated']}"
    assert best["recall"] >= 0.8
    assert out["sampled_queries"] == 24
    # the walk is ordered by (visited_fraction, overquery) ascending
    keys = [(p["visited_fraction"], p["overquery"]) for p in out["evaluated"]]
    assert keys == sorted(keys)
    # cheapest-passing contract: everything evaluated before best FAILED
    for p in out["evaluated"][:-1]:
        assert p["recall"] < 0.8
    # early stop: the full lattice was not evaluated
    assert len(out["evaluated"]) < 5 * 4 * 4


def test_tune_unreachable_target_returns_none(tuned_index):
    idx, _ = tuned_index
    out = idx.tune(k=10, target_recall=1.01, sample=16, max_evals=5)
    assert out["best"] is None
    assert len(out["evaluated"]) == 5


def test_tune_best_config_holds_on_heldout_queries(tuned_index, spark):
    """The tuned config must generalize: recall on held-out noisy queries
    (not the tuning sample) stays within a tolerance of the target."""
    idx, df = tuned_index
    out = idx.tune(k=10, target_recall=0.85, sample=32)
    best = out["best"]
    assert best is not None
    rng = np.random.default_rng(99)
    rows = df.orderBy("id").limit(400).collect()
    sel = rng.choice(len(rows), 32, replace=False)
    qdf = spark.createDataFrame(
        [
            (
                int(rows[i]["id"]),
                (
                    np.asarray(rows[i]["vec"], dtype=np.float32)
                    + 0.05 * rng.normal(size=32).astype(np.float32)
                ).tolist(),
            )
            for i in sel
        ],
        "qid long, vec array<float>",
    )
    gt = exact.knn_join(df, qdf, 10, metric="COSINE", strategy="numpy")
    from jvector_spark.metrics import recall_at_k

    r = idx.search(
        qdf,
        10,
        n_probe=best["n_probe"],
        overquery=best["overquery"],
        n_probe_fine=best["n_probe_fine"],
    )
    assert recall_at_k(r, gt, 10) >= 0.85 - 0.15  # generalization tolerance


def _default_io_shapes():
    """tune's default (n_probe, n_probe_fine, probe_ratio) grid for a
    32-partition two-level index: 5 x 4 x 3 = 60 shapes."""
    return [
        (np_, npf, ratio)
        for np_ in (1, 2, 4, 8, 16)
        for npf in (None, 8, 16, 32)
        for ratio in (1.2, 1.5, None)
    ]


def _tune_sample(spark, df, n=24):
    from pyspark.sql import functions as F

    rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in df.orderBy(F.xxhash64("id")).limit(n).collect()
    ]
    return rows, spark.createDataFrame(rows, "qid long, vec array<float>")


def test_tune_io_model_matches_probe_io_stats(tuned_index, spark):
    """The driver-side IO model ``tune`` runs over its pinned sample gives
    ``probe_io_stats``' visited fraction for every default shape."""
    from jvector_spark.operators.tune import _io_model, _sample_matrix

    idx, df = tuned_index
    rows, qdf = _tune_sample(spark, df)
    shapes = _default_io_shapes()
    got = _io_model(idx, _sample_matrix(rows), shapes)
    for np_, npf, ratio in shapes:
        want = idx.probe_io_stats(qdf, np_, npf, probe_ratio=ratio)
        assert got[(np_, npf, ratio)] == want["visited_fraction"], (np_, npf, ratio)


def test_tune_io_model_runs_no_job(tuned_index, spark):
    """Once the segments' cell histograms are cached (one job per loaded
    segment), the whole IO-model phase of ``tune`` is driver arithmetic:
    it used to run one ``take`` job over the sample per shape."""
    from jvector_spark.operators.tune import _io_model, _sample_matrix

    idx, df = tuned_index
    for seg in idx.manifest.segments:
        idx._cell_counts(seg.name)
    rows, _ = _tune_sample(spark, df)
    shapes = _default_io_shapes()
    out = {}
    jobs = count_jobs(
        spark, lambda: out.update(_io_model(idx, _sample_matrix(rows), shapes))
    )
    assert jobs == 0
    assert len(out) == len(shapes)


def test_tune_sweeps_probe_ratio(spark, tmp_path):
    """probe_ratio is a lattice dimension (r7): every evaluated point
    carries it, a custom grid is respected, and within one (np, npf)
    shape tighter ratios are walked before fixed depth (cheaper IO
    first)."""
    import numpy as np

    from jvector_spark.operators.index import IVFIndexBuilder

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(16, 16))
    asg = rng.integers(0, 16, size=1500)
    mat = (centers[asg] + 0.2 * rng.normal(size=(1500, 16))).astype(np.float32)
    df = spark.createDataFrame(
        [(i, mat[i].tolist()) for i in range(1500)], "id long, vec array<float>"
    )
    idx = IVFIndexBuilder(metric="COSINE", n_partitions=16, pq_m=4).fit(
        df, str(tmp_path / "idx")
    )
    out = idx.tune(
        k=5, target_recall=0.95, sample=16,
        n_probe_grid=[4], n_probe_fine_grid=[None],
        overquery_grid=[8.0], probe_ratio_grid=[1.3, None],
        max_evals=8,
    )
    pts = out["evaluated"]
    assert pts and all("probe_ratio" in p for p in pts)
    assert {p["probe_ratio"] for p in pts} <= {1.3, None}
    # tighter ratio evaluated first within the single shape
    assert pts[0]["probe_ratio"] == 1.3


# ---------------------------------------------------------------------------
# The engine's shape walk against a reference sequential double loop
# ---------------------------------------------------------------------------


def _sequential_walk(shapes, ladder, eval_point, target, max_evals, eps):
    """Reference port of the sequential double loop: plateau, abandon,
    max_evals and first-hit rules."""
    evaluated, best, done = [], None, False
    for shape in shapes:
        if done:
            break
        prev_rec = gain = None
        for j, rung in enumerate(ladder):
            if len(evaluated) >= max_evals:
                done = True
                break
            if prev_rec is not None and gain is not None:
                if gain < eps:
                    break
                if prev_rec + max(gain, 0.0) * (len(ladder) - j) < target:
                    break
            point, rec = eval_point(shape, rung)
            evaluated.append(point)
            if rec >= target:
                best = point
                done = True
                break
            gain = rec - prev_rec if prev_rec is not None else None
            prev_rec = rec
    return evaluated, best


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
@pytest.mark.parametrize("rungs", [2, 4])
def test_speculative_walk_matches_sequential(seed, rungs):
    """Property check over random recall landscapes: the engine walk's
    (evaluated, best) is exactly the reference loop's, including
    max_evals truncation and first-target-hit stop, and it evaluates no
    point it does not return. The name predates the removal of the
    speculative walk; `rungs` runs the check on a 2-rung ladder (no
    plateau or abandon step can fire) and on the full 4-rung one."""
    from jvector_spark.operators.tune import _shape_walk

    rng = np.random.default_rng(seed)
    shapes = [(i,) for i in range(8)]
    ladder = [1.0, 2.0, 4.0, 8.0][:rungs]
    # deterministic random landscape: recall per (shape, rung)
    land = {
        (s[0], r): float(rng.uniform(0.2, 1.0)) for s in shapes for r in ladder
    }
    calls = []

    def eval_point(shape, rung):
        calls.append((shape[0], rung))
        rec = land[(shape[0], rung)]
        return {"shape": shape[0], "rung": rung, "recall": rec}, rec

    for target, max_evals in [(0.9, 100), (0.95, 7), (1.5, 9), (0.6, 3)]:
        ref = _sequential_walk(shapes, ladder, eval_point, target, max_evals, 0.005)
        calls.clear()
        got = _shape_walk(shapes, ladder, eval_point, target, max_evals, 0.005)
        assert got == ref, (seed, rungs, target, max_evals)
        assert len(calls) == len(got[0])
