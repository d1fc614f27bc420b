"""Binary Quantization: one sign bit per dimension, Hamming scoring.

Reference: ``quantization/BinaryQuantization.java:88-111`` (sign-bit packing
into long[] words) and ``quantization/BQVectors.java:116-117``
(similarity = 1 - hamming/dim). No training state — the codec is stateless
apart from the dimension.

Spark mapping: ``array<long>`` column of packed words, encoded map-only via
``mapInPandas``; scoring is popcount(XOR) in numpy over Arrow batches.
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


@dataclass
class BinaryQuantizer(VectorCompressor):
    dim: int

    @property
    def words(self) -> int:
        return (self.dim + 63) // 64

    def encode_numpy(self, mat: np.ndarray) -> np.ndarray:
        """(n, d) -> (n, words) uint64: bit i set iff v[i] > 0
        (ref BinaryQuantization.java:88-111)."""
        n, d = mat.shape
        if d != self.dim:
            raise ValueError(f"expected dim {self.dim}, got {d}")
        bits = (mat > 0).astype(np.uint8)
        padded = np.zeros((n, self.words * 64), dtype=np.uint8)
        padded[:, :d] = bits
        # pack little-endian within each 64-bit word (bit j of word w = dim 64w+j)
        out = np.zeros((n, self.words), dtype=np.uint64)
        for w in range(self.words):
            chunk = padded[:, w * 64 : (w + 1) * 64]
            weights = (np.uint64(1) << np.arange(64, dtype=np.uint64))
            out[:, w] = chunk.astype(np.uint64) @ weights
        return out

    def encode(
        self, df: DataFrame, vec_col: str = "vec", id_col: str = "id",
        codes_col: str = "bq_words",
    ) -> DataFrame:
        bq = df.sparkSession.sparkContext.broadcast(self)

        def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            codec: BinaryQuantizer = bq.value
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
                words = codec.encode_numpy(mat).astype(np.int64)  # spark has no uint64
                yield pd.DataFrame(
                    {id_col: pdf[id_col].to_numpy(), codes_col: list(words)}
                )

        return df.mapInPandas(enc, schema=f"{id_col} long, {codes_col} array<bigint>")

    def query_stage1(self, qmat: np.ndarray, metric: str, residual: bool = False):
        """Query-side stage-1 payload ``("bq", q_words, dim)``: hamming is
        a metric-agnostic ranking proxy (BuildScoreProvider.java:170-212),
        so ``metric`` and ``residual`` do not change it."""
        return ("bq", self.encode_numpy(qmat), self.dim)

    def decode_codes(self, col) -> np.ndarray:
        """Stored ``codes`` cells (packed sign words) -> (n, words) uint64."""
        return np.frombuffer(b"".join(col), dtype=np.uint64).reshape(
            len(col), self.words
        )

    def row_magnitudes(self, code_idx: np.ndarray) -> None:
        """Hamming scoring needs no row norms."""
        return None

    def similarity(self, a: np.ndarray, b: np.ndarray) -> np.ndarray:
        """Pairwise 1 - hamming/dim over (m, words) x (n, words) int64 views
        (ref BQVectors.java:116-117)."""
        x = np.bitwise_xor(a[:, None, :], b[None, :, :]).view(np.uint8)
        pop = np.unpackbits(x, axis=-1).sum(axis=-1)
        return 1.0 - pop / float(self.dim)

    def save(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "params.json"), "w") as f:
            json.dump({"type": "bq", "version": 1, "dim": self.dim}, f)

    @classmethod
    def load(cls, path: str) -> "BinaryQuantizer":
        with open(os.path.join(path, "params.json")) as f:
            return cls(dim=json.load(f)["dim"])
