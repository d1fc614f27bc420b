"""Two-phase (approximate → exact rerank) search over compressed codes.

Reference: the read path of ``GraphSearcher.java:471-507`` — phase 1 scores
with a lossy codec (PQ/BQ/NVQ), keeps ``rerankK = overquery × topK``
candidates, phase 2 re-scores the survivors at full fp32 resolution and
returns the best ``topK`` (SURVEY.md §2.4 J3, §2.6 T2).

Spark mapping and scale shape:

- **stage 1** scans only the codes table (``m`` bytes per row, not ``4d``),
  computes ADC scores numpy-vectorized per Arrow batch, and emits at most
  ``rerankK`` candidates per query per batch (map-side combine). The
  shuffle that follows carries ``O(rerankK × batches × queries)`` rows —
  independent of corpus size.
- **stage 2** joins the (tiny) survivor set back to the fp32 table. The
  survivor side is broadcast, so the corpus never shuffles; with an
  id-sorted / bucketed corpus the join prunes to the survivors' row groups.
- ``overquery`` is the recall/cost knob, exactly the reference's
  ``rerankK`` protocol (GraphSearcher.java:204-214).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.operators.quantize.pq import ProductQuantizer


@dataclass(frozen=True)
class BuildScoreProvider:
    """X3 SPI: which scorer drives index CONSTRUCTION (ref
    ``graph/similarity/BuildScoreProvider.java:32-258`` — the reference
    builds with an exact, PQ, or BQ scorer; the batch analog is the
    stage-1 codec trained/stored at build time plus its training
    objective). Accepted by ``IVFIndexBuilder(bsp=...)``; explicit
    ``first_pass=`` / ``anisotropic_threshold=`` kwargs win over the
    provider's fields when both are given.

    - ``first_pass="pq"``: ADC-scored product quantization
      (pqBuildScoreProvider analog)
    - ``first_pass="bq"``: hamming-scored sign bits
      (bqBuildScoreProvider analog, BuildScoreProvider.java:170-212)
    - ``anisotropic_threshold``: ScaNN-style parallel-residual PQ
      objective (ProductQuantization.java:101-104)
    """

    first_pass: str = "pq"
    anisotropic_threshold: float | None = None


@dataclass(frozen=True)
class SearchScoreProvider:
    """X2 SPI: the approximate-scorer + reranker pairing and its knobs
    (ref ``graph/similarity/SearchScoreProvider.java`` /
    ``DefaultSearchScoreProvider.java:33-56`` — the reference passes this
    pair into every search; the batch analog is a strategy object accepted
    by ``IVFIndex.search(ssp=...)``).

    ``rerank=None`` defers to the index manifest's stored feature;
    ``"fp32"`` forces full-resolution rerank (always available — the fp32
    column is stored in every index); ``"nvq"`` requires an index built
    with ``rerank="nvq"``.
    """

    n_probe: int = 8
    overquery: float = 4.0
    rerank: str | None = None
    n_probe_fine: int | None = None  # two-level indexes only (fine_factor > 0)


class SearchTelemetry:
    """Search-cost counters (ref ``SearchResult`` telemetry —
    visited/expanded/reranked node counts, SearchResult.java:25-86),
    gathered with Spark accumulators from inside the fused scan / tile
    kernels.

    Usage::

        tel = SearchTelemetry(spark)
        res = idx.search(queries, k, telemetry=tel)
        res.count()            # counters are valid AFTER materialization
        tel.visited_rows, tel.reranked_rows

    ``visited_rows``: stored rows whose stage-1 codes were scored (the
    scan cost the recall-per-IO grid models). ``reranked_rows``: rows
    exact-scored in stage 2. Accumulator semantics: counts are exact on a
    healthy run but can over-count under task retries/speculation — the
    documented Spark accumulator contract; treat as telemetry, not
    results.

    Route-dependent ``visited_rows`` semantics: the broadcast scan counts
    each stored row once per scanned partition group, while the
    distributed TILE route counts each row once per tile replica — i.e.
    inflated by that segment's ``q_blocks`` replication factor, because
    the counter measures scan work actually done and the tile join really
    does re-read each corpus block per query block. Do not compare the
    raw counter across routes; for the point-query IO model use
    ``IVFIndex.probe_io_stats`` instead."""

    STAGES = ("setup", "lut", "mask", "adc", "topk", "rerank")

    def __init__(self, spark):
        self._visited = spark.sparkContext.accumulator(0)
        self._reranked = spark.sparkContext.accumulator(0)
        # per-stage kernel wall (microseconds, summed across all tasks —
        # i.e. CORE-seconds, not wall-clock): setup = Arrow->numpy
        # conversion of a tile's pandas frames; lut = per-chunk ADC LUT
        # construction; mask = per-chunk fine-cell mask scatter; adc =
        # stage-1 code scoring; topk = candidate selection (incl. mask
        # apply); rerank = stage-2 exact re-scoring. Populated by the
        # fused kernels when telemetry is passed; ~zero overhead (six
        # perf_counter calls per 512-query chunk).
        self._stages = {s: spark.sparkContext.accumulator(0) for s in self.STAGES}

    def counters(self) -> tuple:
        """``(visited, reranked, stages)`` accumulators, in the form the
        scan kernels take as ``counters``."""
        return (self._visited, self._reranked, self._stages)

    @property
    def visited_rows(self) -> int:
        return int(self._visited.value)

    @property
    def reranked_rows(self) -> int:
        return int(self._reranked.value)

    @property
    def stage_seconds(self) -> dict:
        """Per-stage kernel CORE-seconds (summed over tasks), for finding
        the dominant cost of a search without external profilers."""
        return {s: round(a.value / 1e6, 3) for s, a in self._stages.items()}


class SearchCursor:
    """J5 incremental resume (ref ``GraphSearcher.resume``,
    GraphSearcher.java:509-547, which continues a search from its retained
    candidate queue instead of restarting the traversal).

    The batch analog: ONE search ranks a pool of ``pages * page_size``
    survivors per query; the ranked pool is persisted (MEMORY_AND_DISK,
    lineage retained — see ``__init__`` for why persist beats
    localCheckpoint here) and every subsequent page is a slice FILTER
    over that materialized pool — one cheap job, not a re-search.
    Page n of a fresh ``search_page`` costs O(n) of the base search;
    through a cursor it costs O(1).

    Pages are deterministic and non-overlapping under the score-desc /
    id-asc total order (T4), and mutually consistent by construction (all
    pages come from the same retained pool — exactly the reference's
    resume contract, where later results come from the same search's
    candidate state). Pages beyond the retained pool raise: widen
    ``pages`` up front, as the reference widens its candidate queue.

    Call :meth:`close` (or use as a context manager) to release the
    checkpointed storage.
    """

    def __init__(self, ranked: DataFrame, page_size: int, pages: int):
        from pyspark.storagelevel import StorageLevel

        self.page_size = int(page_size)
        self.pages = int(pages)
        # persist (not localCheckpoint): unpersist() reliably frees the
        # storage, and the retained lineage keeps page slices fault-
        # tolerant on a real cluster (an evicted block recomputes instead
        # of failing the page).
        self._df = ranked.persist(StorageLevel.MEMORY_AND_DISK)
        self._df.count()  # materialize the pool NOW (the "search" cost)

    def page(self, n: int) -> DataFrame:
        if not 0 <= n < self.pages:
            raise ValueError(
                f"page {n} outside the retained pool (0..{self.pages - 1}); "
                f"open the cursor with pages > {n} to reach it"
            )
        lo, hi = n * self.page_size, (n + 1) * self.page_size
        return self._df.filter((F.col("rank") > lo) & (F.col("rank") <= hi))

    def close(self) -> None:
        self._df.unpersist()

    def __enter__(self) -> "SearchCursor":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def pq_score_scan(
    codes_df: DataFrame,
    pq: ProductQuantizer,
    queries: list[tuple[int, np.ndarray]],
    metric: str,
    keep_per_batch: int,
    id_col: str = "id",
    codes_col: str = "codes",
) -> DataFrame:
    """Stage 1: ADC-score every (query, code) pair, keep top candidates per
    Arrow batch per query. Returns (qid, id, score_approx)."""
    qids = np.array([q[0] for q in queries], dtype=np.int64)
    qmat = np.stack([np.asarray(q[1], dtype=np.float64) for q in queries])
    sc = codes_df.sparkSession.sparkContext
    luts = pq.adc_lut_batch(qmat, metric)
    mag = pq.magnitude_lut() if metric == "COSINE" else None
    qnorms = np.linalg.norm(qmat, axis=1)
    b = sc.broadcast((pq.m, qids, luts, mag, qnorms, metric, keep_per_batch))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m, q_ids, q_luts, mag_lut, q_norms, met, keep = b.value
        cols = np.arange(m)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            codes = np.frombuffer(b"".join(pdf[codes_col]), dtype=np.uint8).reshape(len(pdf), m)
            code_idx = codes.astype(np.int64)
            if met == "COSINE":
                mags = mag_lut[cols, code_idx].sum(axis=1)
                mags = np.sqrt(np.maximum(mags, 1e-30))
            out_scores = np.empty((len(q_ids), len(pdf)), dtype=np.float64)
            for qi in range(len(q_ids)):
                partial = q_luts[qi][cols, code_idx].sum(axis=1)
                if met == "EUCLIDEAN":
                    out_scores[qi] = 1.0 / (1.0 + partial)
                elif met == "DOT_PRODUCT":
                    out_scores[qi] = (1.0 + partial) / 2.0
                else:
                    denom = mags * max(q_norms[qi], 1e-30)
                    out_scores[qi] = (1.0 + partial / denom) / 2.0
            idx, vals = kernels.topk_per_row(out_scores, keep, ids=ids)
            kk = idx.shape[1]
            yield pd.DataFrame(
                {
                    "qid": np.repeat(q_ids, kk),
                    "id": ids[idx.ravel()],
                    "score_approx": vals.ravel(),
                }
            )

    return codes_df.select(id_col, codes_col).mapInPandas(
        scan, schema="qid long, id long, score_approx double"
    )


def two_phase_knn_join(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    pq: ProductQuantizer,
    queries_df: DataFrame,
    k: int,
    metric: str = "COSINE",
    overquery: float = 4.0,
    id_col: str = "id",
    vec_col: str = "vec",
    codes_col: str = "codes",
    query_id_col: str = "qid",
    query_vec_col: str = "vec",
    nvq=None,
    strategy: str = "auto",
    m_hint: int | None = None,
    n_hint: int | None = None,
) -> DataFrame:
    """J3 for a query set: PQ first pass, high-resolution rerank, top-k.

    Default rerank reads the fp32 table — exact reported scores (the
    reference's `InlineVectors` rerank). Passing ``nvq=(nvq_df, codec)``
    reranks from an NVQ-encoded table instead, the reference's *default*
    bench config (yaml-configs/index-parameters/default.yml `NVQ rerank`;
    NVQScorer.java): ~4x fewer bytes read in stage 2 for near-fp32 scores.

    ``strategy``: ``broadcast`` collects + broadcasts the query side
    (point-query-batch path, capped); ``blocked`` runs
    ``exact.tile_join`` — no driver collect of either side, ADC stage 1
    and rerank fused per tile by the IVF tile scorer (the un-indexed
    sibling of ``IVFIndex.search(strategy="distributed")``: one partition,
    so every tile scans every corpus block); ``auto`` routes on
    query-side size (``m_hint``, or the same ``take(cap + 1)`` that
    collects the broadcast side). ``m_hint``/``n_hint`` skip the sizing
    jobs.
    """
    from jvector_spark.operators.exact import _rank_topk, empty_ranked, route_query_batch

    rerank_k = max(k, int(round(overquery * k)))
    batch = route_query_batch(
        queries_df, query_id_col, query_vec_col, "two_phase_knn_join", strategy,
        ("broadcast", "blocked"), m_hint,
    )
    if batch is None:
        return _two_phase_blocked(
            codes_df, vectors_df, pq, queries_df, k, rerank_k, metric,
            id_col, vec_col, codes_col, query_id_col, query_vec_col,
            nvq, m_hint, n_hint,
        )
    qids, qmat = batch
    if not len(qids):
        return empty_ranked(vectors_df.sparkSession)
    queries = list(zip(qids.tolist(), qmat))

    stage1 = pq_score_scan(codes_df, pq, queries, metric, rerank_k, id_col, codes_col)
    w = Window.partitionBy("qid").orderBy(F.desc("score_approx"), F.asc("id"))
    survivors = (
        stage1.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= rerank_k)
        .select("qid", "id")
    )

    # stage 2: broadcast the survivor set against the rerank table; the join
    # output is tiny (rerank_k per query), so the rerank itself is cheap.
    sc = vectors_df.sparkSession.sparkContext
    bq = sc.broadcast({qid: vec for qid, vec in queries})

    if nvq is not None:
        nvq_df, codec = nvq
        joined = nvq_df.select(
            F.col(id_col).alias("id"), "nvq_bytes", "nvq_params"
        ).join(F.broadcast(survivors), "id")
        bc = sc.broadcast(codec)

        def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qmap, cdc = bq.value, bc.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                codes = np.frombuffer(b"".join(pdf["nvq_bytes"]), dtype=np.uint8).reshape(
                    len(pdf), cdc.dim
                )
                params = np.stack([np.asarray(p, dtype=np.float64) for p in pdf["nvq_params"]])
                scores = np.empty(len(pdf), dtype=np.float64)
                for qid, grp in pdf.groupby("qid"):
                    pos = pdf.index.get_indexer(grp.index.to_numpy())
                    scores[pos] = cdc.score_numpy(metric, qmap[qid], codes[pos], params[pos])
                yield pd.DataFrame({"qid": pdf["qid"], "id": pdf["id"], "score": scores})

    else:
        joined = vectors_df.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("_v")
        ).join(F.broadcast(survivors), "id")

        def rerank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            qmap = bq.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = kernels.as_matrix(pdf["_v"])
                scores = np.empty(len(pdf), dtype=np.float64)
                for qid, grp in pdf.groupby("qid"):
                    q = qmap[qid][None, :]
                    rows = grp.index.to_numpy()
                    pos = pdf.index.get_indexer(rows)
                    scores[pos] = kernels.similarity(metric, q, x[pos])[0]
                yield pd.DataFrame({"qid": pdf["qid"], "id": pdf["id"], "score": scores})

    reranked = joined.mapInPandas(rerank, schema="qid long, id long, score double")
    return _rank_topk(reranked, k)


def _two_phase_blocked(
    codes_df: DataFrame,
    vectors_df: DataFrame,
    pq: ProductQuantizer,
    queries_df: DataFrame,
    k: int,
    rerank_k: int,
    metric: str,
    id_col: str,
    vec_col: str,
    codes_col: str,
    query_id_col: str,
    query_vec_col: str,
    nvq,
    m_hint: int | None,
    n_hint: int | None,
) -> DataFrame:
    """Uncapped two-phase join: codes + rerank payload co-locate on id
    (one equi-join shuffle), then ``exact.tile_join`` scores every tile
    with the IVF tile scan's fused ADC->rerank kernel (``_tile_topk``) —
    per-tile rerank_k can only ADD candidates vs a global cut, so recall
    at a given overquery is >= the broadcast route's."""
    from jvector_spark.operators.exact import _rank_topk, flat_blocks, tile_join
    from jvector_spark.operators.index import _tile_topk

    if nvq is None:
        nvq_codec = None
        payload = vectors_df.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("vec"))
    else:
        nvq_df, nvq_codec = nvq
        payload = nvq_df.select(
            F.col(id_col).alias("rid"), F.col("nvq_bytes").alias("nvq"), "nvq_params"
        )
    c_side = (
        codes_df.select(F.col(id_col).alias("rid"), F.col(codes_col).alias("codes"))
        .join(payload, "rid")
        .withColumn("part_id", F.lit(0))
    )
    q_side = queries_df.select(
        F.lit(0).alias("part_id"),
        F.col(query_id_col).alias("rid"),
        F.col(query_vec_col).cast("array<float>").alias("vec"),
    )
    bt = codes_df.sparkSession.sparkContext.broadcast((pq, metric, k, rerank_k, nvq_codec))

    def score_tile(key, qs: pd.DataFrame, cs: pd.DataFrame) -> pd.DataFrame:
        return _tile_topk(qs, cs, *bt.value)

    tiled = tile_join(
        c_side, q_side, flat_blocks(codes_df, queries_df, n_hint, m_hint), score_tile
    )
    return _rank_topk(tiled, k)


def underfilled_queries(result: DataFrame, k: int, qid_col: str = "qid") -> DataFrame:
    """Per-query under-fill telemetry: queries whose search RESULT holds
    fewer than ``k`` rows, with the count they did get.

    Tight adaptive probing (``IVFIndex.search(probe_ratio=...)``) trades
    the candidate pools of a few tail queries for IO — a query whose kept
    probes hold < k live rows comes back short (measured r6: 15 of 1M at
    the zipf-1.5 cheap point). This is the detector: run it on the search
    output, re-run the returned qids with a looser ratio / fixed depth.
    One partial-aggregated groupBy over the (already tiny, <= m*k-row)
    result — never touches the index."""
    return (
        result.groupBy(F.col(qid_col).alias("qid"))
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") < int(k))
    )
