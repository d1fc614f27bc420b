"""Product Quantization: train / encode / ADC score / decode / persist.

Reference: ``quantization/ProductQuantization.java`` (train+encode+refine),
``quantization/PQVectors.java`` (code storage + precomputed ADC score
functions). Spark mapping (SURVEY.md §2.5 A2-A5, §2.3 E7-E9):

- **train**: distributed ``df.sample`` capped at 128k rows (ref
  ``MAX_PQ_TRAINING_SET_SIZE``, ProductQuantization.java:64) → driver numpy
  k-means++ per subspace (ref KMeansPlusPlusClusterer, k=256, 6 rounds).
- **encode**: ``mapInPandas`` with broadcast codebooks; one uint8 per
  subspace packed into a ``binary`` column — the chunked-columnar analog of
  PQVectors' code storage.
- **ADC scoring**: per-query lookup table over (subspace × centroid)
  partial similarities (ref ``VectorUtil.calculatePartialSums``,
  PQVectors.java:210 precomputedScoreFunctionFor), then a vectorized
  numpy gather+sum per code — the batch analog of fused ADC.
- **persist**: codebooks → parquet + JSON params (ref
  ProductQuantization.write/load, MAGIC 0x75EC4012 versioned format; ours is
  a manifest dir, not a byte format — Spark-native, not a port).

Scale: encode is embarrassingly parallel (no shuffle); training moves ≤128k
vectors to the driver regardless of corpus size; ADC scans never materialize
fp32 vectors — the whole first pass reads only ``m`` bytes per row.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from jvector_spark.operators.quantize.base import VectorCompressor
from pyspark.sql import functions as F

from jvector_spark.functions import kernels
from jvector_spark.operators.quantize.kmeans import kmeans_pp

MAX_PQ_TRAINING_SET_SIZE = 128_000  # ref ProductQuantization.java:64
DEFAULT_CLUSTERS = 256  # ref ProductQuantization.java:62
DEFAULT_KMEANS_ITERS = 6  # ref ProductQuantization.java:63


@dataclass
class ProductQuantizer(VectorCompressor):
    """Trained PQ codec: ``codebooks[m][k] -> centroid of subspace m``."""

    codebooks: np.ndarray  # (m, k, dsub) float64
    global_centroid: np.ndarray | None  # (d,) when centered (EUCLIDEAN), else None
    dim: int

    # ------------------------------------------------------------------ train
    @classmethod
    def fit(
        cls,
        df: DataFrame,
        vec_col: str = "vec",
        m: int = 8,
        clusters: int = DEFAULT_CLUSTERS,
        center: bool = False,
        iterations: int = DEFAULT_KMEANS_ITERS,
        seed: int = 42,
        sample_cap: int = MAX_PQ_TRAINING_SET_SIZE,
    ) -> "ProductQuantizer":
        """Train codebooks on a bounded sample of ``df[vec_col]``.

        ``center=True`` subtracts the global centroid before quantization —
        the reference does this for EUCLIDEAN-flavored PQ
        (ProductQuantization.java:101-104 globalCentroid).

        Sampling is the shared fused bottom-k pass (ONE job: exact uniform
        sample + count together; r6 — the previous count + sample +
        limit-collect chain cost two extra jobs per fit)."""
        from jvector_spark.operators.sample import sample_and_count

        _, mat = sample_and_count(df, sample_cap, seed, vec_col=vec_col)
        return cls.fit_numpy(mat, m=m, clusters=clusters, center=center,
                             iterations=iterations, seed=seed)

    @classmethod
    def fit_numpy(
        cls,
        mat: np.ndarray,
        m: int = 8,
        clusters: int = DEFAULT_CLUSTERS,
        center: bool = False,
        iterations: int = DEFAULT_KMEANS_ITERS,
        seed: int = 42,
        anisotropic_threshold: float | None = None,
    ) -> "ProductQuantizer":
        """``anisotropic_threshold`` switches subspace clustering to the
        anisotropic (ScaNN-style) objective weighting parallel residual
        error — the reference's `compute(..., anisotropicThreshold)` path
        (ProductQuantization.java:89, KMeansPlusPlusClusterer.java:140-147).
        Meant for unit-norm corpora scored by dot product / cosine."""
        dim = mat.shape[1]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m {m}")
        # gc is stored f64; the training subtraction stays in the sample's
        # dtype (an f64 gc minus an f32 sample would upcast a full
        # sample-sized copy)
        gc = mat.mean(axis=0, dtype=np.float64) if center else None
        if gc is not None:
            mat = mat - gc.astype(mat.dtype)
        k = min(clusters, len(mat))
        dsub = dim // m
        if anisotropic_threshold is None:
            books = np.stack(
                [
                    kmeans_pp(mat[:, i * dsub : (i + 1) * dsub], k, iterations, seed + i)
                    for i in range(m)
                ]
            )
        else:
            from jvector_spark.operators.quantize.kmeans import kmeans_anisotropic

            books = np.stack(
                [
                    kmeans_anisotropic(
                        mat[:, i * dsub : (i + 1) * dsub], k,
                        threshold=anisotropic_threshold,
                        unweighted_iterations=iterations,
                        anisotropic_iterations=iterations,
                        seed=seed + i,
                    )
                    for i in range(m)
                ]
            )
        return cls(codebooks=books, global_centroid=gc, dim=dim)

    # ----------------------------------------------------------------- encode
    @property
    def m(self) -> int:
        return self.codebooks.shape[0]

    @property
    def clusters(self) -> int:
        return self.codebooks.shape[1]

    @property
    def dsub(self) -> int:
        return self.codebooks.shape[2]

    def encode_numpy(self, mat: np.ndarray) -> np.ndarray:
        """(n, d) -> (n, m) uint8/uint16 codes (argmin centroid per subspace).

        argmin_j ||x - b_j||^2 == argmax_j (x.b_j - ||b_j||^2 / 2): the
        per-ROW norm is constant within a row, so it never touches the
        argmin — dropping it removes m strided reduction passes over the
        input. One up-front (m, n, dsub) transpose makes every subspace
        GEMM contiguous instead of handing BLAS m strided column slices.

        Cross-version note: the argmax rewrite is exact in real
        arithmetic but computes a numerically different score than the
        pre-r6 argmin-distance form, so near-tie centroid assignments can
        flip for vectors encoded by older builds — appends to a segment
        encoded before the change may give identical vectors different
        codes. Acceptable for an approximate codec (ADC scores shift by
        at most one near-tie cell); do not assume byte-parity of codes
        across engine versions."""
        if self.global_centroid is not None:
            mat = mat - self.global_centroid.astype(mat.dtype)
        n = len(mat)
        dtype = np.uint8 if self.clusters <= 256 else np.uint16
        codes = np.empty((n, self.m), dtype=dtype)
        # run the scoring BLAS in the input dtype (f32 encode passes halve
        # moved bytes; codebooks stay f64 at rest)
        books = self.codebooks.astype(mat.dtype, copy=False)
        books_t = [np.ascontiguousarray(books[i].T) for i in range(self.m)]
        half_bn = 0.5 * np.einsum("mkd,mkd->mk", books, books)
        # r9: chunk the ROW axis so each (rows, k) score block stays
        # cache-resident through its argmax instead of streaming
        # n x m x k x 4 bytes of scores to DRAM (at m=128 that is ~130 GB
        # per 1M rows — the encode was bandwidth-bound, guide §2.3 "shuffle
        # fewer bytes" applied to the memory bus). The per-row math is
        # unchanged (same GEMM per row block, same argmax), so codes are
        # identical. Strided row-slices of `mat` feed BLAS directly (lda
        # carries the stride; the old up-front (m, n, dsub) transpose-copy
        # measured no faster under concurrency and costs a full extra pass).
        itemsize = mat.dtype.itemsize
        chunk = max(64, min(n, (1 << 19) // max(self.clusters * itemsize, 1)))
        for lo in range(0, n, chunk):
            hi = min(lo + chunk, n)
            block = mat[lo:hi]
            for i in range(self.m):
                s = block[:, i * self.dsub : (i + 1) * self.dsub] @ books_t[i]
                s -= half_bn[i][None, :]
                codes[lo:hi, i] = np.argmax(s, axis=1)
        return codes

    def encode(
        self, df: DataFrame, vec_col: str = "vec", id_col: str = "id",
        codes_col: str = "codes",
    ) -> DataFrame:
        """Bulk encode (ref encodeAll, ProductQuantization.java:261) —
        map-only; codes as a BinaryType column (m bytes/row). If the scan
        under-partitions (one fat parquet row group arrives as one task),
        spread it first — at real scale this never adds a shuffle."""
        if self.clusters > 256:
            raise ValueError("binary codes column supports <=256 clusters")
        par = df.sparkSession.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par)
        bq = df.sparkSession.sparkContext.broadcast(self)

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            pq: ProductQuantizer = bq.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = kernels.as_matrix(pdf[vec_col])
                codes = pq.encode_numpy(mat)
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy(), codes_col: [row.tobytes() for row in codes]}
                )

        return df.mapInPandas(enc, schema=f"{id_col} long, {codes_col} binary")

    def decode_numpy(self, codes: np.ndarray) -> np.ndarray:
        """Reconstruct (n, d) from (n, m) codes (ref decode,
        ProductQuantization.java:454)."""
        parts = [self.codebooks[i][codes[:, i]] for i in range(self.m)]
        out = np.concatenate(parts, axis=1)
        if self.global_centroid is not None:
            out = out + self.global_centroid
        return out

    def reconstruction_error(self, mat: np.ndarray) -> float:
        """Mean squared reconstruction error (ref ProductQuantization.java:785)."""
        rec = self.decode_numpy(self.encode_numpy(mat))
        diff = mat - rec
        return float(np.mean(np.einsum("ij,ij->i", diff, diff)))

    # ------------------------------------------------------------- ADC scoring
    def adc_lut(self, query: np.ndarray, metric: str) -> np.ndarray:
        """Per-query (m, k) partial-similarity lookup table.

        Ref ``VectorUtil.calculatePartialSums`` + PQVectors.java:210.
        Summing LUT[i, code_i] over subspaces yields, per metric:
        EUCLIDEAN -> squared distance; DOT -> dot product; COSINE -> handled
        in :meth:`adc_score` with a second magnitude LUT
        (ref pqDecodedCosineSimilarity, VectorUtil.java:207).
        """
        q = np.asarray(query, dtype=np.float64)
        if self.global_centroid is not None and metric == "EUCLIDEAN":
            q = q - self.global_centroid
        lut = np.empty((self.m, self.clusters), dtype=np.float64)
        for i in range(self.m):
            qs = q[i * self.dsub : (i + 1) * self.dsub]
            book = self.codebooks[i]
            if metric == "EUCLIDEAN":
                diff = book - qs
                lut[i] = np.einsum("ij,ij->i", diff, diff)
            else:  # DOT_PRODUCT and COSINE share the dot-partials
                lut[i] = book @ qs
        return lut

    def adc_lut_batch(self, qmat: np.ndarray, metric: str) -> np.ndarray:
        """Batched :meth:`adc_lut`: (Q, d) -> (Q, m, k) via one
        vectorized pass per subspace instead of a per-query Python loop —
        the bulk-query (corpus-as-queries) hot path. Same math and
        reduction order as the per-query LUT."""
        q = np.asarray(qmat, dtype=np.float64)
        if self.global_centroid is not None and metric == "EUCLIDEAN":
            q = q - self.global_centroid
        out = np.empty((len(q), self.m, self.clusters), dtype=np.float64)
        for i in range(self.m):
            qs = q[:, i * self.dsub : (i + 1) * self.dsub]
            book = self.codebooks[i]
            if metric == "EUCLIDEAN":
                diff = book[None, :, :] - qs[:, None, :]
                out[:, i, :] = np.einsum("qkd,qkd->qk", diff, diff)
            else:  # DOT_PRODUCT and COSINE share the dot-partials
                out[:, i, :] = qs @ book.T
        return out

    def magnitude_lut(self) -> np.ndarray:
        """(m, k) centroid self-dot partials for cosine denominators
        (ref calculatePartialSelfMagnitudes)."""
        return np.einsum("mkd,mkd->mk", self.codebooks, self.codebooks)

    def query_stage1(self, qmat: np.ndarray, metric: str, residual: bool = False):
        """Query-side stage-1 payload ``("pq", luts, mag_lut)`` for the
        fused scan kernels (ref PQVectors.precomputedScoreFunctionFor).

        ``luts`` (Q, m, k) are f32: the kernels accumulate ADC in f32, so
        the cast is the same one they would apply. Residual mode scores
        q·(c + r̂), so it needs DOT-partials for every metric and takes
        its magnitudes from the stored ``rsq`` column instead of
        ``mag_lut`` (None unless non-residual COSINE)."""
        luts = self.adc_lut_batch(qmat, "DOT_PRODUCT" if residual else metric)
        mag = self.magnitude_lut() if metric == "COSINE" and not residual else None
        return ("pq", luts.astype(np.float32), mag)

    def decode_codes(self, col) -> np.ndarray:
        """Stored ``codes`` cells (m bytes each) -> (n, m) int64 gather
        indices."""
        return np.frombuffer(b"".join(col), dtype=np.uint8).reshape(
            len(col), self.m
        ).astype(np.int64)

    def row_magnitudes(self, code_idx: np.ndarray) -> np.ndarray:
        """(n,) f32 reconstructed-row norms of ``decode_codes`` output —
        the cosine ADC denominator, precomputed per stored row."""
        mag_lut = self.magnitude_lut()
        return np.sqrt(
            np.maximum(mag_lut[np.arange(self.m), code_idx].sum(axis=1), 1e-30)
        ).astype(np.float32)

    def adc_score(
        self, codes: np.ndarray, query: np.ndarray, metric: str,
        lut: np.ndarray | None = None, mag_lut: np.ndarray | None = None,
    ) -> np.ndarray:
        """Normalized approximate similarity for (n, m) codes vs one query."""
        lut = self.adc_lut(query, metric) if lut is None else lut
        cols = np.arange(self.m)
        partial = lut[cols, codes.astype(np.int64)].sum(axis=1)
        if metric == "EUCLIDEAN":
            return 1.0 / (1.0 + partial)
        if metric == "DOT_PRODUCT":
            return (1.0 + partial) / 2.0
        if metric == "COSINE":
            mag_lut = self.magnitude_lut() if mag_lut is None else mag_lut
            mag = mag_lut[cols, codes.astype(np.int64)].sum(axis=1)
            qn = float(np.linalg.norm(np.asarray(query, dtype=np.float64)))
            denom = np.sqrt(mag) * qn
            denom[denom == 0.0] = 1.0
            return (1.0 + partial / denom) / 2.0
        raise ValueError(f"unknown metric {metric!r}")

    # ---------------------------------------------------------------- persist
    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        np.save(os.path.join(path, "codebooks.npy"), self.codebooks)
        params = {
            "type": "pq",
            "version": 1,
            "m": int(self.m),
            "clusters": int(self.clusters),
            "dim": int(self.dim),
            "centered": self.global_centroid is not None,
        }
        if self.global_centroid is not None:
            np.save(os.path.join(path, "global_centroid.npy"), self.global_centroid)
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump(params, f)

    @classmethod
    def load(cls, path: str) -> "ProductQuantizer":
        with open(os.path.join(path, "params.json")) as f:
            params = json.load(f)
        books = np.load(os.path.join(path, "codebooks.npy"))
        gc = None
        if params.get("centered"):
            gc = np.load(os.path.join(path, "global_centroid.npy"))
        return cls(codebooks=books, global_centroid=gc, dim=params["dim"])

    # ----------------------------------------------------------------- refine
    def refine(
        self, mat: np.ndarray, iterations: int = 1, seed: int = 42
    ) -> "ProductQuantizer":
        """Warm-started codebook fine-tune on new data (ref
        ProductQuantization.refine, ProductQuantization.java:184; used by
        compaction's PQRetrainer)."""
        x = (
            mat - self.global_centroid.astype(mat.dtype)
            if self.global_centroid is not None
            else mat
        )
        books = self.codebooks.copy()
        for i in range(self.m):
            sub = x[:, i * self.dsub : (i + 1) * self.dsub]
            book = books[i]
            for _ in range(iterations):
                d = (
                    np.einsum("ij,ij->i", sub, sub)[:, None]
                    + np.einsum("ij,ij->i", book, book)[None, :]
                    - 2.0 * sub @ book.T
                )
                assign = np.argmin(d, axis=1)
                for j in range(len(book)):
                    mask = assign == j
                    if mask.any():
                        book[j] = sub[mask].mean(axis=0)
            books[i] = book
        return ProductQuantizer(codebooks=books, global_centroid=self.global_centroid, dim=self.dim)
