"""Search-parameter auto-tuning over the (n_probe, n_probe_fine, overquery)
lattice.

The Spark analog of the reference's Grid sweep (Grid.java:98-132 builds a
topK -> [overquery...] grid per index configuration; Grid.java:668-679
measures each lattice point for accuracy / latency / throughput and prints
the table). Two Spark-first differences:

- The sweep is ORDERED BY THE INDEX'S OWN IO MODEL (``probe_io_stats``'
  visited fraction — deterministic partition/fine-cell arithmetic, no
  timing noise), with overquery as the tie-break. That encodes the r5
  measurement lesson directly: overquery (rerank depth) is nearly free, so
  all overquery steps of a cheap probe shape are tried before the next
  probe widening.
- It EARLY-STOPS at the first (= cheapest-ordered) config meeting the
  recall target, so a tune run costs a handful of sampled searches instead
  of the full lattice, and every evaluated point is returned so the caller
  can see the frontier it walked.

The walk is one sequential loop (``_shape_walk``): each lattice point is a
sampled search whose Spark jobs already spread over the cores, so running
shape ladders concurrently on driver threads only adds contention (on a
4-core host, ``tests/test_tune.py``'s fixture at target 0.97 tuned slower
with three concurrent ladders than with this loop, at the same evaluated
points).

Ground truth comes from the exact brute-force join over the index's own
live vectors on a driver-pinned query sample — self-contained: no external
GT file, unlike the reference's precomputed ivecs
(DataSet.java ground-truth loading)."""

from __future__ import annotations

import time
from typing import TYPE_CHECKING

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jvector_spark.metrics import recall_at_k

if TYPE_CHECKING:  # pragma: no cover
    from jvector_spark.operators.index import IVFIndex


def _shape_walk(
    shapes: list,
    ladder: list,
    eval_point,
    target_recall: float,
    max_evals: int,
    plateau_eps: float,
) -> tuple[list[dict], dict | None]:
    """The cheapest-first walk: shapes in order, each climbing its ladder
    until the target is hit (stop, that point is ``best``), the ladder
    plateaus (gain under ``plateau_eps``: widen probes, not rerank), or
    its optimistic bound ``recall + gain x steps_left`` cannot reach the
    target (abandon the shape). At most ``max_evals`` points are
    evaluated.

    ``eval_point(shape, rung) -> (point_dict, raw_recall)``; raw
    (unrounded) recall drives the decisions, the dict is recorded.
    Returns (every evaluated point in walk order, best or None)."""
    evaluated: list[dict] = []
    for shape in shapes:
        prev_rec: float | None = None
        gain: float | None = None
        for j, rung in enumerate(ladder):
            if len(evaluated) >= max_evals:
                return evaluated, None
            if prev_rec is not None and gain is not None:
                if gain < plateau_eps:
                    break
                if prev_rec + max(gain, 0.0) * (len(ladder) - j) < target_recall:
                    break
            point, rec = eval_point(shape, rung)
            evaluated.append(point)
            if rec >= target_recall:
                return evaluated, point
            gain = rec - prev_rec if prev_rec is not None else None
            prev_rec = rec
    return evaluated, None


def _sample_matrix(rows: list) -> np.ndarray:
    """The (m, d) f64 matrix of the pinned sample as ``qdf`` holds it
    (``vec array<float>``): the same values ``route_query_batch`` would
    collect from ``qdf``, without a job."""
    return np.asarray([v for _, v in rows], dtype=np.float32).astype(np.float64)


def _io_model(index: "IVFIndex", qmat: np.ndarray, shapes: list) -> dict:
    """``visited_fraction`` per ``(n_probe, n_probe_fine, probe_ratio)``
    shape, from the sample already on the driver: driver arithmetic over
    the segments' cached partition / cell counts (the first call on a
    loaded two-level index runs the one cell-histogram job per segment)."""
    return {
        (np_, npf, ratio): index._probe_io_model(
            qmat, np_, npf, probe_ratio=ratio
        )["visited_fraction"]
        for np_, npf, ratio in shapes
    }


def tune_search(
    index: "IVFIndex",
    queries_df: DataFrame | None = None,
    k: int = 10,
    target_recall: float = 0.9,
    sample: int = 64,
    n_probe_grid: list[int] | None = None,
    n_probe_fine_grid: list[int | None] | None = None,
    overquery_grid: list[float] | None = None,
    probe_ratio_grid: list[float | None] | None = None,
    max_evals: int = 48,
) -> dict:
    """Find the cheapest (n_probe, n_probe_fine, overquery) meeting
    ``target_recall`` on a sampled query set.

    ``queries_df`` defaults to the index's own live vectors (self-query
    tuning — the semantic-dedup shape); pass the real query distribution
    when you have one. Returns ``{"best": {...} | None, "evaluated":
    [...], ...}``; ``best is None`` means no config within ``max_evals``
    met the target — widen the grids or lower the target.

    Cost: one exact GT join over the corpus for ``sample`` queries, one
    cached cell-histogram job per segment, then one sampled search per
    evaluated lattice point (early-stopped)."""
    from jvector_spark.operators import exact

    spark = index.spark
    corpus = index.live_vectors()
    if queries_df is None:
        queries_df = corpus.selectExpr("id as qid", "vec")
    # Pin the sample on the driver so the GT join, the IO model, and every
    # swept search see the SAME rows (a re-evaluated .limit may not return
    # identical rows across jobs once upstream partitioning shifts).
    # Hash-ordered, not .limit: head-of-file rows are NOT representative
    # (measured on the 1M zipf probe — the first rows all sit in the hot
    # clusters, the hardest queries); xxhash ordering is a deterministic
    # uniform spread and Spark executes orderBy+limit as a map-side
    # partial top-k, not a global sort.
    qid_c, vec_c = queries_df.columns[0], queries_df.columns[1]
    rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries_df.select(qid_c, vec_c)
        .orderBy(F.xxhash64(qid_c))
        .limit(int(sample))
        .collect()
    ]
    qdf = spark.createDataFrame(rows, "qid long, vec array<float>").cache()
    metric = index.manifest.metric
    gt = exact.knn_join(corpus, qdf, k, metric=metric, strategy="numpy").cache()
    gt.count()

    n_parts = max(
        len(index._segments[s.name]["centroids"])
        for s in index.manifest.segments
    )
    has_fine = any(
        index._segments[s.name].get("fine") is not None
        for s in index.manifest.segments
    )
    if n_probe_grid is None:
        n_probe_grid = [p for p in (1, 2, 4, 8, 16, 32) if p < n_parts]
        n_probe_grid = n_probe_grid or [n_parts]
    if n_probe_fine_grid is None:
        n_probe_fine_grid = [None, 8, 16, 32] if has_fine else [None]
    if overquery_grid is None:
        overquery_grid = [1.0, 4.0, 16.0, 64.0]
    # probe_ratio (adaptive probe depth, the skew lever) joins the lattice
    # as a per-shape dimension: ratios only ever DROP probes relative to
    # the fixed-depth shape, so the fixed-depth IO model upper-bounds each
    # adaptive point and tighter ratios are ordered first within a shape
    # (cheapest-first walk preserved). Default sweeps the r6-measured
    # useful band plus fixed depth; pass [None] to disable.
    if probe_ratio_grid is None:
        probe_ratio_grid = [1.2, 1.5, None]

    # IO model once per (n_probe, n_probe_fine, probe_ratio) shape, over
    # the sample already on the driver: driver arithmetic, no job once the
    # cell histograms are cached. Adaptive shapes are modeled with the SAME
    # keep rule the search applies (r7), so the cheapest-first walk orders
    # them by their true predicted IO, not the fixed-depth upper bound.
    grid = [
        (np_, npf, ratio)
        for np_ in n_probe_grid
        for npf in n_probe_fine_grid
        for ratio in probe_ratio_grid
    ]
    io_frac = _io_model(index, _sample_matrix(rows), grid)
    shapes = sorted(
        ((io_frac[shape], *shape) for shape in grid),
        key=lambda t: (t[0], t[3] if t[3] is not None else float("inf")),
    )
    ladder = sorted(overquery_grid)

    # Ladder-abandon rule: overquery gains DIMINISH along a shape's ladder
    # (each step multiplies the rerank pool; every measured grid shows
    # shrinking increments), so `recall + last_gain * steps_left` is an
    # optimistic bound on what the shape can still reach. Shapes whose
    # bound can't make the target are abandoned — fine-mask shapes are
    # often coverage-bounded well below the target (measured on the 1M
    # residual probe: every npf<=32 shape plateaus ~0.6 while unmasked
    # shapes reach it), and without this rule they eat the whole eval
    # budget before the walk reaches a shape that can pass.
    plateau_eps = 0.005

    def eval_point(shape: tuple, oq: float) -> tuple[dict, float]:
        frac, np_, npf, ratio = shape
        t0 = time.perf_counter()
        res = index.search(
            qdf, k, n_probe=np_, overquery=oq, n_probe_fine=npf,
            probe_ratio=ratio,
        )
        rec = recall_at_k(res, gt, k)
        return {
            "n_probe": np_,
            "n_probe_fine": npf,
            "overquery": oq,
            "probe_ratio": ratio,
            "recall": round(rec, 4),
            "visited_fraction": round(frac, 6),
            "wall_s": round(time.perf_counter() - t0, 3),
        }, rec

    evaluated, best = _shape_walk(
        shapes, ladder, eval_point, target_recall, max_evals, plateau_eps
    )
    gt.unpersist()
    qdf.unpersist()
    return {
        "k": k,
        "target_recall": target_recall,
        "metric": metric,
        "sampled_queries": len(rows),
        "best": best,
        "evaluated": evaluated,
    }


def tune_graph_search(
    index: "IVFIndex",
    queries_df: DataFrame | None = None,
    k: int = 10,
    target_recall: float = 0.9,
    sample: int = 64,
    n_probe_grid: list[int] | None = None,
    ef_grid: list[int] | None = None,
    max_evals: int = 24,
) -> dict:
    """Grid sweep for the graph-traversal route (ref Grid.java sweeps
    efSearch/overquery per topK the same way): find the cheapest
    (n_probe, ef_search) meeting ``target_recall``.

    Ordering uses the traversal's own IO bound — per probed partition the
    beam visits at most ``min(stored_rows, ef x degree)`` rows — computed
    from the cached per-partition counts (driver arithmetic, no jobs).
    The ef ladder early-stops on diminishing gains exactly like
    ``tune_search``'s overquery ladder (rerank depth and beam depth are
    the same kind of knob). Requires graphs on every segment
    (:func:`jvector_spark.operators.graph.build_graph`)."""
    import numpy as np

    from jvector_spark.operators import exact
    from jvector_spark.operators.graph import graph_meta

    spark = index.spark
    corpus = index.live_vectors()
    if queries_df is None:
        queries_df = corpus.selectExpr("id as qid", "vec")
    metas = {
        s.name: graph_meta(index, s.name) for s in index.manifest.segments
    }
    missing = [n for n, m in metas.items() if m is None]
    if missing:
        raise ValueError(f"segments {missing} have no graph — run build_graph")
    degree = max(m["degree"] for m in metas.values())
    qid_c, vec_c = queries_df.columns[0], queries_df.columns[1]
    rows = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in queries_df.select(qid_c, vec_c)
        .orderBy(F.xxhash64(qid_c))
        .limit(int(sample))
        .collect()
    ]
    qdf = spark.createDataFrame(rows, "qid long, vec array<float>").cache()
    metric = index.manifest.metric
    gt = exact.knn_join(corpus, qdf, k, metric=metric, strategy="numpy").cache()
    gt.count()
    qmat = _sample_matrix(rows)

    n_parts = max(
        len(index._segments[s.name]["centroids"])
        for s in index.manifest.segments
    )
    if n_probe_grid is None:
        n_probe_grid = [p for p in (1, 2, 4, 8, 16, 32) if p < n_parts]
        n_probe_grid = n_probe_grid or [n_parts]
    if ef_grid is None:
        ef_grid = sorted({max(2 * k, e) for e in (2 * k, 4 * k, 10 * k, 20 * k)})

    # traversal IO bound per (n_probe, ef): sum over each query's probed
    # partitions of min(stored_rows, ef x degree), normalized by the
    # total stored rows (same denominator as probe_io_stats)
    from jvector_spark.operators.index import _select_probes

    total = 0
    probed_counts: dict[int, np.ndarray] = {}  # n_probe -> (m, np) stored
    for seg in index.manifest.segments:
        info = index._segments[seg.name]
        counts = index._part_counts(seg.name).astype(np.float64)
        total += counts.sum()
        order, _ = _select_probes(info, qmat, max(n_probe_grid))
        for np_ in n_probe_grid:
            sel = counts[order[:, :np_]]
            probed_counts.setdefault(np_, np.zeros_like(sel[:, :0]))
            probed_counts[np_] = (
                sel if probed_counts[np_].shape[1] == 0
                else np.concatenate([probed_counts[np_], sel], axis=1)
            )

    def io_bound(np_: int, ef: int) -> float:
        sel = probed_counts[np_]
        return float(np.minimum(sel, ef * degree).sum() / (len(rows) * total))

    shapes = sorted(n_probe_grid, key=lambda np_: io_bound(np_, ef_grid[0]))
    plateau_eps = 0.005

    def eval_point(np_: int, ef: int) -> tuple[dict, float]:
        t0 = time.perf_counter()
        res = index.search_graph(qdf, k, n_probe=np_, ef_search=ef)
        rec = recall_at_k(res, gt, k)
        return {
            "n_probe": np_,
            "ef_search": ef,
            "recall": round(rec, 4),
            "visited_bound": round(io_bound(np_, ef), 6),
            "wall_s": round(time.perf_counter() - t0, 3),
        }, rec

    evaluated, best = _shape_walk(
        shapes, ef_grid, eval_point, target_recall, max_evals, plateau_eps
    )
    gt.unpersist()
    qdf.unpersist()
    return {
        "k": k,
        "target_recall": target_recall,
        "metric": metric,
        "route": "graph",
        "sampled_queries": len(rows),
        "best": best,
        "evaluated": evaluated,
    }
