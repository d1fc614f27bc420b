"""The two workloads: ``point`` and ``bulk``.

Each is a closed loop with one client. ``setup`` makes the seeded inputs
and any index the loop needs, ``warmup`` runs the operations whose first
call in a session is slow once before timing, and ``step`` runs one unit of
the loop, whose operations are the timed spans. Every answer is checked;
see ``checks.py``.
"""

from __future__ import annotations

import os
import shutil
import statistics
from dataclasses import dataclass

import numpy as np
import pandas as pd

from perfbench import checks, data

K = 10

# Input sizes per scale. "full" is what the benchmark measures; "tiny" keeps
# the self-test smoke run short.
SIZES = {
    "full": {
        "point": dict(n=10_000, dim=64, clusters=200, sigma=0.25, batch=16),
        "bulk": dict(n=2_000, dim=256, clusters=100, sigma=0.5, queries=400,
                     exact_sample=200, batch=16, warm_n=400),
    },
    "tiny": {
        "point": dict(n=2_000, dim=16, clusters=20, sigma=0.25, batch=16),
        "bulk": dict(n=1_500, dim=32, clusters=20, sigma=0.5, queries=300,
                     exact_sample=50, batch=16, warm_n=400),
    },
}

POINT_BUILD = dict(pq_m=8, spill=2, fine_factor=8)
POINT_SEARCH = dict(n_probe=8, n_probe_fine=16, overquery=4)
GRAPH_BUILD = dict(degree=32, ef_construction=64)
GRAPH_SEARCH = dict(n_probe=8, ef_search=100)
BULK_BUILD = dict(pq_m=16, spill=1)
BULK_SEARCH = dict(n_probe=8, overquery=4, strategy="distributed")
WARM_BATCHES = 7  # point: 16-query IVF batches in the warm-up
IVF_PER_STEP = 3  # point: 16-query IVF batches per graph batch in a step
AFTER_WRITE_BATCHES = 5  # bulk: 16-query searches between delete and compact
DEDUP_COS = 0.98
DEDUP_SCORE = (1.0 + DEDUP_COS) / 2.0  # the engine's normalised COSINE scale


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def dir_snapshot(path: str) -> dict:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[os.path.join(d, f)] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes of the files in ``after`` that are new or changed since ``before``."""
    return sum(size for p, (size, mt) in after.items() if before.get(p) != (size, mt))


class Context:
    """What a workload needs from the run: the session, the span recorder,
    a private directory, and the tally of checked operations."""

    def __init__(self, spark, rec, run_dir: str, seed: int, scale: str, traced: bool):
        self.spark = spark
        self.rec = rec
        self.run_dir = run_dir
        self.seed = seed
        self.scale = scale
        self.traced = traced
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def verdict(self, op: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(f"{op}: {p}" for p in problems[:5])

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def read_vectors(self, name: str, ids, x, id_col: str = "id"):
        return self.spark.read.parquet(data.write_vectors(self.path("in", name), ids, x, id_col))

    def query_frame(self, qids, q):
        pdf = pd.DataFrame({"qid": np.asarray(qids, dtype=np.int64),
                            "vec": [row for row in np.asarray(q, dtype=np.float32)]})
        return self.spark.createDataFrame(pdf, "qid long, vec array<float>")


class Workload:
    name = ""
    min_steps = 1  # steps always run, and the ones recall is averaged over

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.cfg = SIZES[ctx.scale][self.name]
        self.rng = np.random.default_rng([ctx.seed, 0])
        self.recalls: list[float] = []
        self.index_bytes_ratio = 0.0
        self.telemetry: dict = {}
        self.segments_seen: list[int] = []

    def setup(self) -> None: ...

    def warmup(self) -> None: ...

    def step(self, i: int) -> None: ...

    def extra_traced(self) -> dict:
        return {}

    def headline(self) -> dict:
        """Workload-specific end-to-end figures shown in the report."""
        return {}

    def p50(self, op: str) -> float:
        walls = [s.wall_s for s in self.ctx.rec.timed(op)]
        return statistics.median(walls) if walls else 0.0

    def rate(self, op: str) -> float:
        spans = self.ctx.rec.timed(op)
        wall = sum(s.wall_s for s in spans)
        return sum(s.rows for s in spans) / wall if wall else 0.0

    def tel(self, op: str):
        """The run's SearchTelemetry for ``op`` in a traced run, else None."""
        if not self.ctx.traced:
            return None
        from jvector_spark.operators.search import SearchTelemetry

        if op not in self.telemetry:
            self.telemetry[op] = SearchTelemetry(self.ctx.spark)
        return self.telemetry[op]


# ------------------------------------------------------------------- point
class Point(Workload):
    """16-query batches against a built single-segment index: each step sends
    ``IVF_PER_STEP`` batches through the IVF route and one through the graph
    route."""

    name = "point"
    min_steps = 2

    def setup(self) -> None:
        from jvector_spark.operators.index import IVFIndexBuilder

        c = self.cfg
        cents = data.centers(self.rng, c["clusters"], c["dim"])
        self.x = data.clustered(self.rng, c["n"], cents, c["sigma"])
        self.ids = np.arange(c["n"], dtype=np.int64)
        self.graph_recalls: list[float] = []
        df = self.ctx.read_vectors("corpus", self.ids, self.x)
        path = self.ctx.path("point-index")
        with self.ctx.rec.op("index.fit", rows=c["n"]):
            self.idx = IVFIndexBuilder(**POINT_BUILD).fit(df, path)
        with self.ctx.rec.op("graph.build", rows=c["n"]):
            self.idx.build_graph(**GRAPH_BUILD)
        self.index_bytes_ratio = dir_bytes(path) / (c["n"] * c["dim"] * 4)

    def batch(self, i: int):
        """Batch ``i`` of held-out queries; warm-up uses negative ``i``."""
        rng = np.random.default_rng([self.ctx.seed, 1, i + WARM_BATCHES])
        q = data.near_rows(rng, self.x, self.cfg["batch"], 0.05)
        qids = np.arange(len(q), dtype=np.int64) + 1_000_000 * (i + WARM_BATCHES + 1)
        return qids, q

    def warmup(self) -> None:
        """Full-size batches through each route, on batches no step uses.
        IVF batches keep getting faster for about the first ten in a
        session; the warm-up takes most of that, so the median of the
        timed ones does not depend on how many batches a run manages."""
        for b in range(-WARM_BATCHES, 0):
            qids, q = self.batch(b)
            qdf = self.ctx.query_frame(qids, q)
            with self.ctx.rec.op("index.search_bcast"):
                self.idx.search(qdf, K, **POINT_SEARCH).toPandas()
        with self.ctx.rec.op("graph.search"):
            self.idx.search_graph(qdf, K, **GRAPH_SEARCH).toPandas()

    def step(self, i: int) -> None:
        """``IVF_PER_STEP`` batches through ``search``, then the last of them
        through ``search_graph``."""
        for j in range(IVF_PER_STEP):
            qids, q = self.batch(i * IVF_PER_STEP + j)
            qdf = self.ctx.query_frame(qids, q)
            true_ids, _ = data.brute_topk(q, self.x, self.ids, K)
            with self.ctx.rec.op("index.search_bcast", rows=len(q)) as span:
                res = self.idx.search(qdf, K, telemetry=self.tel("index.search_bcast"),
                                      **POINT_SEARCH).toPandas()
            span.results = len(res)
            self.segments_seen.append(len(self.idx.manifest.segments))
            self.ctx.verdict("ivf search", checks.check_topk(res, qids, K))
            if i < self.min_steps:
                self.recalls.append(checks.recall_at_k(res, qids, true_ids, K))
        with self.ctx.rec.op("graph.search", rows=len(q)) as span:
            res = self.idx.search_graph(qdf, K, telemetry=self.tel("graph.search"),
                                        **GRAPH_SEARCH).toPandas()
        span.results = len(res)
        self.ctx.verdict("graph search", checks.check_topk(res, qids, K))
        if i < self.min_steps:
            self.graph_recalls.append(checks.recall_at_k(res, qids, true_ids, K))

    def headline(self) -> dict:
        return {
            "graph_search_p50_s": (self.p50("graph.search"), "s", "lower"),
            "graph_recall10": (float(np.mean(self.graph_recalls)), "recall", "higher"),
        }


# -------------------------------------------------------------------- bulk
@dataclass
class BulkInputs:
    x: np.ndarray
    ids: np.ndarray
    injected: list
    corpus: object  # DataFrame (id, vec)
    queries: object  # DataFrame (qid, vec): the first rows of the corpus
    qids: np.ndarray


class Bulk(Workload):
    """Batch jobs over a 256-d corpus with injected near-duplicates, then the
    index lifecycle on the result. One step builds an index, runs a
    distributed k-NN search, an exact blocked k-NN join and a corpus-as-
    queries threshold dedup; then appends a batch of new rows, deletes the
    duplicates the dedup found plus some appended rows, searches for just-
    deleted and just-appended rows, compacts, and reopens the index."""

    name = "bulk"

    def setup(self) -> None:
        c = self.cfg
        self.cents = data.centers(self.rng, c["clusters"], c["dim"])
        self.main = self.inputs("corpus", c["n"], c["queries"], self.rng)
        ns = c["exact_sample"]
        self.sample_ids, self.sample_scores = data.brute_topk(
            self.main.x[:ns], self.main.x, self.main.ids, K)
        self.write_bytes = 0
        self.appended_bytes = 0

    def inputs(self, name: str, n: int, n_queries: int, rng) -> BulkInputs:
        x = data.clustered(rng, n, self.cents, self.cfg["sigma"])
        injected = data.inject_near_duplicates(rng, x, 0.01, 0.01)
        ids = np.arange(n, dtype=np.int64)
        corpus = self.ctx.read_vectors(name, ids, x)
        queries = self.ctx.read_vectors(f"{name}-q", ids[:n_queries], x[:n_queries], "qid")
        return BulkInputs(x, ids, injected, corpus, queries, ids[:n_queries])

    def warmup(self) -> None:
        """The operations whose first call in a session is much slower than
        the next, once each on a small corpus of their own. The threshold,
        append, compact and load calls run code these warm (README.md)."""
        from jvector_spark.operators import exact
        from jvector_spark.operators.index import IVFIndexBuilder

        n, rec = self.cfg["warm_n"], self.ctx.rec
        warm = self.inputs("warm", n, n // 4, np.random.default_rng([self.ctx.seed, 9]))
        with rec.op("index.fit"):
            idx = IVFIndexBuilder(**BULK_BUILD).fit(warm.corpus, self.ctx.path("warm-index"))
        with rec.op("index.search_dist"):
            idx.search(warm.queries, K, **BULK_SEARCH).toPandas()
        with rec.op("exact.knn_join"):
            exact.knn_join(warm.corpus, warm.queries, K, metric="COSINE",
                           strategy="blocked").toPandas()
        with rec.op("index.search_bcast"):
            idx.search(self.ctx.query_frame(warm.qids[:4], warm.x[:4]), K,
                       **POINT_SEARCH).toPandas()

    def step(self, i: int) -> None:
        from jvector_spark.operators import exact
        from jvector_spark.operators.index import IVFIndex, IVFIndexBuilder

        ctx, rec, c, inp = self.ctx, self.ctx.rec, self.cfg, self.main
        path = ctx.path(f"bulk-index-{i}")
        with rec.op("index.fit", rows=len(inp.ids)):
            idx = IVFIndexBuilder(**BULK_BUILD).fit(inp.corpus, path)
        with rec.op("index.search_dist", rows=len(inp.qids)) as span:
            knn = idx.search(inp.queries, K, telemetry=self.tel("index.search_dist"),
                             **BULK_SEARCH).toPandas()
        span.results = len(knn)
        with rec.op("exact.knn_join", rows=len(inp.qids)):
            ex = exact.knn_join(inp.corpus, inp.queries, K, metric="COSINE",
                                strategy="blocked").toPandas()
        with rec.op("index.threshold", rows=len(inp.ids)):
            pairs = idx.threshold_search(inp.corpus.selectExpr("id as qid", "vec"),
                                         DEDUP_SCORE, strategy="distributed").toPandas()
        ctx.verdict("knn search", checks.check_topk(knn, inp.qids, K))
        ns = c["exact_sample"]
        ctx.verdict("exact join", checks.check_topk(ex, inp.qids, K) + checks.check_exact(
            ex[ex["qid"] < ns], inp.qids[:ns], self.sample_ids, self.sample_scores))
        ctx.verdict("dedup", checks.check_dedup(
            pairs, inp.injected, inp.x, inp.ids, DEDUP_SCORE))
        ranked = ex.sort_values(["qid", "rank"]).groupby("qid")["id"].apply(list)
        exact_ids = np.array([ranked[q] for q in inp.qids])
        self.recalls.append(checks.recall_at_k(knn, inp.qids, exact_ids, K))

        # The lifecycle on the built index: append a batch of new rows, delete
        # the duplicates the dedup found plus some appended rows, search for
        # just-deleted and just-appended rows, compact everything, reopen.
        rng = np.random.default_rng([ctx.seed, 2, i])
        new = data.clustered(rng, len(inp.ids) // 10, self.cents, c["sigma"])
        new_ids = np.arange(len(inp.ids), len(inp.ids) + len(new), dtype=np.int64)
        batch = ctx.read_vectors(f"append-{i}", new_ids, new)
        self.write(path, "index.append", len(new), lambda: idx.append(batch))
        self.appended_bytes += new.nbytes
        half = c["batch"] // 2
        n_probe = half * AFTER_WRITE_BATCHES
        probe_new = rng.choice(new_ids, n_probe, replace=False)
        dups = pairs.loc[pairs["qid"] < pairs["id"], "id"].to_numpy(np.int64)
        spare = np.setdiff1d(new_ids, probe_new)
        gone = np.union1d(dups, rng.choice(spare, len(spare) // 4, replace=False))
        self.write(path, "index.delete", len(gone), lambda: idx.delete(gone.tolist()))
        probe_gone = rng.choice(gone, n_probe, replace=False)
        allx = np.concatenate([inp.x, new])
        self.segments_seen.append(len(idx.manifest.segments))
        for b in range(AFTER_WRITE_BATCHES):
            rows = slice(b * half, (b + 1) * half)
            q = allx[np.concatenate([probe_gone[rows], probe_new[rows]])]
            sq = np.arange(len(q), dtype=np.int64)
            with rec.op("index.search_bcast", rows=len(q)) as span:
                res = idx.search(ctx.query_frame(sq, q), K,
                                 telemetry=self.tel("index.search_bcast"),
                                 **POINT_SEARCH).toPandas()
            span.results = len(res)
            ctx.verdict("search after writes", checks.check_topk(res, sq, K)
                        + checks.check_churn_search(
                            res, set(gone.tolist()),
                            dict(zip(sq[half:].tolist(), probe_new[rows].tolist()))))
        acked = np.setdiff1d(np.concatenate([inp.ids, new_ids]), gone)
        self.write(path, "index.compact", len(acked), idx.compact)
        with rec.op("index.load"):
            reopened = IVFIndex.load(ctx.spark, path)
        live = reopened.live_vectors().select("id").toPandas()["id"]
        ctx.verdict("reopen", checks.check_live_set(
            data.id_set_hash(live), data.id_set_hash(acked)))
        self.index_bytes_ratio = dir_bytes(path) / (len(acked) * c["dim"] * 4)
        shutil.rmtree(path, ignore_errors=True)

    def write(self, path: str, name: str, rows: int, fn) -> None:
        before = dir_snapshot(path) if self.ctx.traced else None
        with self.ctx.rec.op(name, rows=rows):
            fn()
        if before is not None:
            self.write_bytes += bytes_written(before, dir_snapshot(path))

    def extra_traced(self) -> dict:
        """Driver-side quantizer costs over the corpus, and the lifecycle's
        write amplification."""
        import time

        from jvector_spark.operators.quantize.kmeans import kmeans_pp
        from jvector_spark.operators.quantize.pq import ProductQuantizer

        rows = self.main.x.astype(np.float64)
        t = time.perf_counter()
        kmeans_pp(rows, 128, iterations=6, seed=self.ctx.seed)
        kmeans_s = time.perf_counter() - t
        t = time.perf_counter()
        pq = ProductQuantizer.fit_numpy(rows, m=BULK_BUILD["pq_m"], seed=self.ctx.seed)
        fit_s = time.perf_counter() - t
        t = time.perf_counter()
        pq.encode_numpy(rows)
        encode_s = time.perf_counter() - t
        return {"quantize.kmeans_s": kmeans_s, "quantize.pq_fit_s": fit_s,
                "quantize.pq_encode_rows_per_s": len(rows) / encode_s,
                "index.write_amp": self.write_bytes / max(self.appended_bytes, 1)}

    def headline(self) -> dict:
        writes = [s for op in ("index.append", "index.delete", "index.compact")
                  for s in self.ctx.rec.timed(op)]
        appended = sum(s.rows for s in self.ctx.rec.timed("index.append"))
        return {
            "build_rows_per_s": (self.rate("index.fit"), "rows/s", "higher"),
            "knn_queries_per_s": (self.rate("index.search_dist"), "queries/s", "higher"),
            "exact_queries_per_s": (self.rate("exact.knn_join"), "queries/s", "higher"),
            "dedup_rows_per_s": (self.rate("index.threshold"), "rows/s", "higher"),
            "ingest_rows_per_s": (appended / sum(s.wall_s for s in writes), "rows/s",
                                  "higher"),
        }


WORKLOADS = {w.name: w for w in (Point, Bulk)}
