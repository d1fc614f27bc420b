"""Two-phase (approximate → exact rerank) search over compressed codes.

Reference: the read path of ``GraphSearcher.java:471-507`` — phase 1 scores
with a lossy codec (PQ/BQ/NVQ), keeps ``rerankK = overquery × topK``
candidates, phase 2 re-scores the survivors at full resolution and
returns the best ``topK`` (SURVEY.md §2.4 J3, §2.6 T2).

Spark mapping: ``two_phase_knn_join`` is an IVF scan without an index (one
partition) and runs the same fused kernel as every indexed route
(``index._fused_block_topk``):

- the corpus side is built once as ``codes`` joined on id to the rerank
  payload (fp32 ``vec``, or NVQ bytes + params), so both phases read one
  row and no survivor set is ever joined back;
- each corpus block (an Arrow batch on the broadcast route, a tile on the
  blocked route) ADC-scores its codes, keeps a block-local
  ``rerankK = overquery × k`` pool per query, reranks that pool at full
  resolution and emits its block-local exact top-k; one per-query window
  (``exact._rank_topk``) merges. The shuffle carries
  ``O(k × blocks × queries)`` rows, independent of corpus size;
- ``overquery`` is the recall/cost knob (the reference's ``rerankK``,
  GraphSearcher.java:204-214), applied per block as on every IVF route:
  each block's pool holds that block's share of a global ``rerankK`` cut,
  so recall at a given overquery is at least the global protocol's (up to
  near-ties of the f32 ADC accumulator).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    gathered with Spark accumulators from inside the fused kernel of the
    point stage and the probe exchange's groups.

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

    Route notes: both IVF routes count ``visited_rows`` once per probed
    partition per call. The distributed route's exchange
    (``IVFIndex._probe_exchange``) scores each probed partition in one
    group, holding every query that probed it; the broadcast route can
    read a partition in several tasks (one per query chunk that probes
    it) and counts it only in the task that holds its lowest probing
    query position. ``reranked_rows`` counts the work
    each task did, so on the broadcast route it can rise with the task
    count: a row reranked for queries of two chunks counts twice. Do not
    compare the raw counters across routes; for the point-query IO model
    use ``IVFIndex.probe_io_stats`` instead.

    Graph search counts ``visited_rows`` as the rows its beams scored
    (seeds and newly visited neighbours), per (query, probed partition).
    Each such pair is walked in exactly one task on both graph routes
    (the point stage's query chunk, or the exchange's group), so the
    count does not depend on the route. Its ``reranked_rows`` follows how
    queries are grouped into tasks, as on the IVF broadcast route."""

    STAGES = ("setup", "lut", "mask", "adc", "topk", "rerank")

    def __init__(self, spark):
        self._visited = spark.sparkContext.accumulator(0)
        self._reranked = spark.sparkContext.accumulator(0)
        # per-stage kernel wall (microseconds, summed across all tasks —
        # i.e. CORE-seconds, not wall-clock): setup = Arrow->numpy
        # conversion of a block's pandas frames; lut = per-chunk ADC LUT
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
    reranks from an NVQ-encoded table instead (``nvq_df`` as
    ``NVQuantizer.encode`` writes it), the reference's *default* bench
    config (yaml-configs/index-parameters/default.yml `NVQ rerank`;
    NVQScorer.java): ~4x fewer payload bytes for near-fp32 scores.

    The corpus side is ``codes`` joined on id to the rerank payload, once
    per call: a broadcast hash join while the codes side fits under
    ``spark.sql.autoBroadcastJoinThreshold``, a shuffled join of both
    sides above it. An ``IVFIndex`` stores codes and payload in one row
    and needs no join.

    ``strategy``: ``broadcast`` collects + broadcasts the query side
    (point-query-batch path, capped) and scores every Arrow batch of the
    corpus side in one ``mapInPandas``; ``blocked`` runs
    ``exact.tile_join`` — no driver collect of either side (an
    un-indexed corpus is one partition, so unlike
    ``IVFIndex.search(strategy="distributed")`` it shuffles corpus rows
    and every tile scans every corpus block); ``auto``
    routes on query-side size (``m_hint``, or the same ``take(cap + 1)``
    that collects the broadcast side). ``m_hint``/``n_hint`` skip the
    sizing jobs.
    """
    from jvector_spark.operators.exact import (
        _rank_topk, empty_ranked, flat_blocks, route_query_batch, tile_join,
    )
    from jvector_spark.operators.index import _fused_block_topk, _rerank_rows, _tile_topk

    rerank_k = max(k, int(round(overquery * k)))
    batch = route_query_batch(
        queries_df, query_id_col, query_vec_col, "two_phase_knn_join", strategy,
        ("broadcast", "blocked"), m_hint,
    )
    if batch is not None and not len(batch[0]):
        return empty_ranked(codes_df.sparkSession)
    if nvq is None:
        nvq_codec = None
        payload = vectors_df.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("vec"))
    else:
        nvq_df, nvq_codec = nvq
        payload = nvq_df.select(
            F.col(id_col).alias("rid"), F.col("nvq_bytes").alias("nvq"), "nvq_params"
        )
    # codes and rerank payload co-locate on id once; both routes score it
    c_side = codes_df.select(
        F.col(id_col).alias("rid"), F.col(codes_col).alias("codes")
    ).join(payload, "rid")
    sc = codes_df.sparkSession.sparkContext

    if batch is None:
        q_side = queries_df.select(
            F.col(query_id_col).alias("rid"),
            F.col(query_vec_col).cast("array<float>").alias("vec"),
        )
        bt = sc.broadcast((pq, metric, k, rerank_k, nvq_codec))

        scored = tile_join(
            c_side, q_side, flat_blocks(codes_df, queries_df, n_hint, m_hint),
            lambda qs, cs: _tile_topk(qs, cs, *bt.value),
        )
    else:
        qids, qmat = batch
        b = sc.broadcast(
            (pq, pq.query_stage1(qmat, metric), qids, qmat,
             np.linalg.norm(qmat, axis=1), metric, k, rerank_k, nvq_codec)
        )

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            cdc, s1, q_ids, q_mat, q_norms, met, kk, keep, nvq_c = b.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                # same decode rule as _tile_topk: the whole batch once when
                # the candidate pools could cover it, else a gather
                oq, oi, osc = _fused_block_topk(
                    met, kk, keep, q_ids, q_mat, s1, q_norms,
                    pdf["rid"].to_numpy(dtype=np.int64),
                    cdc.decode_codes(pdf["codes"]),
                    _rerank_rows(pdf, nvq_c, block=len(q_ids) * keep >= len(pdf)),
                )
                yield pd.DataFrame({"qid": oq, "id": oi, "score": osc})

        scored = c_side.mapInPandas(scan, schema="qid long, id long, score double")
    return _rank_topk(scored, k)


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
