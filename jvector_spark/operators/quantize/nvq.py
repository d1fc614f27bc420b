"""NVQ: per-vector non-uniform 8-bit quantization via a logistic CDF.

Reference: ``quantization/NVQuantization.java:47-219`` (8-bit non-uniform
quantization; each vector is split into subvectors, each subvector stores
(growthRate α, midpoint x0, minValue, maxValue) plus one byte per dim;
parameters are learned per subvector by minimizing reconstruction loss —
``nvqLoss`` in ``VectorUtil.java:215-239``) and ``NVQScorer.java`` (scoring
against dequantized bytes).

The quantization forward map (logistic compand, then uniform 8-bit):

    u(x)  = 1 / (1 + exp(-α (x - x0)))          # logistic CDF
    q(x)  = round( (u(x) - u(min)) / (u(max) - u(min)) * 255 )

and dequantization inverts it. α→0 degrades to uniform quantization; the
per-subvector parameter search (coarse grid over α, x0 = mean) mirrors the
reference's loss minimization without porting its optimizer.

Spark mapping: encode via ``mapInPandas`` into a struct column
(params + binary bytes); used as the rerank-resolution codec in two-phase
search, exactly the role NVQ plays in the reference's default bench config
(``yaml-configs/index-parameters/default.yml``).
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

_EPS = 1e-12


def _logistic(x: np.ndarray, alpha: float, x0: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-alpha * (x - x0)))


def _logit(u: np.ndarray, alpha: float, x0: np.ndarray) -> np.ndarray:
    u = np.clip(u, _EPS, 1.0 - _EPS)
    return x0 + np.log(u / (1.0 - u)) / alpha


def _auto_subvectors(dim: int) -> int:
    """Largest split in (4, 2, 1) that divides ``dim`` with >= 16 dims per
    subvector — matching the reference's default of a few subvectors on
    realistic dims (NVQuantization.java:48-112 learns (α, x0) per
    SUBvector, not per whole row) without over-splitting tiny vectors."""
    for s in (4, 2):
        if dim % s == 0 and dim // s >= 16:
            return s
    return 1


@dataclass
class NVQuantizer(VectorCompressor):
    """Stateless codec config; all learned parameters are per-row.

    ``subvectors`` (0 = auto): each row is split into that many contiguous
    subvectors, each learning its own (α, x0, lo, hi) — the reference's
    layout (NVQuantization.java:48-112 ``subvectorSizesAndOffsets``).
    Stored params are SELF-DESCRIBING: 4 doubles per subvector
    concatenated, so any decoder infers the split from the params row
    length — encode-time and decode-time instances can never disagree."""

    dim: int
    alphas: tuple[float, ...] = (1e-6, 0.5, 1.0, 2.0, 4.0, 8.0)
    subvectors: int = 0
    # fine-refinement passes around each row's best grid alpha — the
    # vectorized analog of the reference's two-stage search (coarse 1.0
    # steps then +-1 in 0.1 steps, NVQuantization.java:533-557): each pass
    # evaluates best_a * mult and best_a / mult with PER-ROW alphas.
    # Measured (5000 x 64 gaussian): 2 multipliers (4 passes) recover ~75%
    # of the error reduction a 23-point grid buys at ~40% of its cost.
    refine: tuple[float, ...] = (1.4142135623730951, 1.189207115002721)

    def _split_bounds(self, dim: int, s: int) -> list[tuple[int, int]]:
        """Deterministic contiguous chunk boundaries (np.array_split rule:
        the first dim % s chunks get one extra dim)."""
        base, extra = divmod(dim, s)
        bounds, start = [], 0
        for i in range(s):
            end = start + base + (1 if i < extra else 0)
            bounds.append((start, end))
            start = end
        return bounds

    def _quantize_rows(self, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Split rows into subvectors and learn each chunk independently.
        Returns (codes uint8 (n, d), params float64 (n, 4*S))."""
        d = mat.shape[1]
        s = self.subvectors or _auto_subvectors(d)
        s = max(1, min(int(s), d))
        if s == 1:
            return self._quantize_chunk(mat)
        codes_parts, params_parts = [], []
        for lo_i, hi_i in self._split_bounds(d, s):
            c, p = self._quantize_chunk(mat[:, lo_i:hi_i])
            codes_parts.append(c)
            params_parts.append(p)
        return np.concatenate(codes_parts, axis=1), np.concatenate(params_parts, axis=1)

    def _quantize_chunk(self, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Per-row learned quantization of ONE subvector chunk, vectorized
        over ALL rows per alpha (the per-row Python loop was the one
        hot-path loop in the codec — SURVEY §7 anti-pattern; one (n, d)
        array pass per grid point now).

        Returns (codes uint8 (n, d), params float64 (n, 4) = [alpha, x0, lo, hi]).
        Grid-searches alpha per row (ref learns (α, x0) by loss descent —
        NVQuantization.java:397-474; a coarse grid achieves the same
        reconstruction-tolerance contract our tests enforce).
        """
        n, d = mat.shape
        lo = mat.min(axis=1)
        hi = mat.max(axis=1)
        x0 = mat.mean(axis=1)
        rng = hi - lo
        flat = rng < _EPS

        def eval_a(a: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
            """Quantize every row with its own growth rate ``a``; returns
            (squared reconstruction error, codes)."""
            ulo = 1.0 / (1.0 + np.exp(-a * (lo - x0)))
            uhi = 1.0 / (1.0 + np.exp(-a * (hi - x0)))
            span = np.maximum(uhi - ulo, _EPS)
            u = (
                1.0 / (1.0 + np.exp(-a[:, None] * (mat - x0[:, None])))
                - ulo[:, None]
            ) / span[:, None]
            q = np.clip(np.round(u * 255.0), 0, 255)
            ur = np.clip(
                q / 255.0 * (uhi - ulo)[:, None] + ulo[:, None],
                _EPS,
                1.0 - _EPS,
            )
            xr = x0[:, None] + np.log(ur / (1.0 - ur)) / a[:, None]
            err = np.einsum("ij,ij->i", mat - xr, mat - xr)
            return err, q

        best_err = np.full(n, np.inf)
        best_a = np.ones(n)
        best_codes = np.zeros((n, d), dtype=np.uint8)

        def consider(a: np.ndarray) -> None:
            err, q = eval_a(a)
            upd = err < best_err  # strict: the earlier candidate wins ties
            if upd.any():
                best_err[upd] = err[upd]
                best_a[upd] = a[upd]
                best_codes[upd] = q[upd].astype(np.uint8)

        for alpha in self.alphas:
            consider(alpha / np.maximum(rng, _EPS))  # scale-invariant rate
        # fine stage (ref NVQuantization.java:548-556): per-row geometric
        # neighborhood of the winning coarse alpha — each pass carries a
        # DIFFERENT alpha per row, so this is a true per-row refinement,
        # not more global grid points
        for mult in self.refine:
            cur = best_a.copy()  # snapshot: both directions from one level
            consider(cur * mult)
            consider(cur / mult)

        codes = best_codes
        params = np.stack([best_a, x0, lo, hi], axis=1)
        if flat.any():
            codes[flat] = 0
            params[flat, 0] = 1.0
            params[flat, 1] = lo[flat]
        return codes, params

    def _dequantize_rows(self, codes: np.ndarray, params: np.ndarray) -> np.ndarray:
        """Vectorized inverse map over all rows at once (no per-row loop —
        this sits on the rerank hot path). The subvector split is inferred
        from the params row length (4 doubles per subvector), so decoding
        never depends on this instance's configuration."""
        s = max(1, params.shape[1] // 4)
        if s > 1:
            parts = [
                self._dequantize_chunk(
                    codes[:, lo_i:hi_i], params[:, 4 * i : 4 * i + 4]
                )
                for i, (lo_i, hi_i) in enumerate(self._split_bounds(codes.shape[1], s))
            ]
            return np.concatenate(parts, axis=1)
        return self._dequantize_chunk(codes, params)

    def _dequantize_chunk(self, codes: np.ndarray, params: np.ndarray) -> np.ndarray:
        a = params[:, 0:1]
        x0 = params[:, 1:2]
        lo = params[:, 2:3]
        hi = params[:, 3:4]
        ulo = 1.0 / (1.0 + np.exp(-a * (lo - x0)))
        uhi = 1.0 / (1.0 + np.exp(-a * (hi - x0)))
        ur = np.clip(codes / 255.0 * (uhi - ulo) + ulo, _EPS, 1.0 - _EPS)
        out = x0 + np.log(ur / (1.0 - ur)) / a
        flat = (hi - lo) < _EPS  # degenerate constant rows
        if flat.any():
            out = np.where(flat, lo, out)
        return out

    # public numpy surface -------------------------------------------------
    def encode_numpy(self, mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        return self._quantize_rows(np.asarray(mat, dtype=np.float64))

    def decode_numpy(self, codes: np.ndarray, params: np.ndarray) -> np.ndarray:
        return self._dequantize_rows(codes, params)

    def decode_columns(self, nvq, params) -> np.ndarray:
        """Dequantize stored ``nvq`` byte cells + ``nvq_params`` lists
        (the index's NVQ_VECTORS columns) -> (n, dim) f64."""
        codes = np.frombuffer(b"".join(nvq), dtype=np.uint8).reshape(
            len(nvq), self.dim
        )
        return self._dequantize_rows(
            codes, np.stack([np.asarray(p, dtype=np.float64) for p in params])
        )

    def reconstruction_error(self, mat: np.ndarray) -> float:
        codes, params = self.encode_numpy(mat)
        rec = self.decode_numpy(codes, params)
        diff = np.asarray(mat, dtype=np.float64) - rec
        return float(np.mean(np.einsum("ij,ij->i", diff, diff)))

    # DataFrame surface ----------------------------------------------------
    def encode(
        self, df: DataFrame, vec_col: str = "vec", id_col: str = "id",
    ) -> DataFrame:
        """Encode to (id, nvq_bytes binary, nvq_params array<double>)."""
        b = df.sparkSession.sparkContext.broadcast(self)

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            codec: NVQuantizer = b.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                codes, params = codec.encode_numpy(mat)
                yield pd.DataFrame(
                    {
                        id_col: pdf[id_col].to_numpy(),
                        "nvq_bytes": [c.tobytes() for c in codes],
                        "nvq_params": list(params),
                    }
                )

        return df.mapInPandas(
            enc, schema=f"{id_col} long, nvq_bytes binary, nvq_params array<double>"
        )

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump({"type": "nvq", "version": 2, "dim": self.dim,
                       "alphas": list(self.alphas),
                       "subvectors": self.subvectors,
                       "refine": list(self.refine)}, f)

    @classmethod
    def load(cls, path: str) -> "NVQuantizer":
        with open(os.path.join(path, "params.json")) as f:
            p = json.load(f)
        kw = {}
        if "refine" in p:
            kw["refine"] = tuple(p["refine"])
        return cls(dim=p["dim"], alphas=tuple(p["alphas"]),
                   subvectors=int(p.get("subvectors", 0)), **kw)
