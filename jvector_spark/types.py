"""Index manifest schema and on-disk layout.

Reference mapping (SURVEY.md §1.1, §3.3): the reference's on-disk index is a
single random-access file with a CommonHeader (version, dim, entryNode,
layerInfo, idUpperBound) + feature flags (``graph/disk/CommonHeader.java:59``,
``graph/disk/feature/FeatureId.java:31-36``). Our Spark-native analog is a
directory of Parquet component tables plus a JSON manifest:

    <index>/
      meta.json                      # manifest (below)
      tombstones.parquet             # deleted ids (F2/M5), optional; one
                                     # file (a directory in older indexes)
      segments/<seg>/
        centroids.parquet            # coarse centroids (the "upper layers")
        vectors.parquet/             # (id, vec) partitioned by part_id
        codes.parquet/               # (id, codes) partitioned by part_id
        pq/                          # codebooks + params.json

Multiple segments accumulate from streaming ingest (ST1/ST3); search unions
them (J6); compaction (U1) rewrites N segments as one. The manifest version
increments on every mutation and is swapped atomically (tmp + rename), which
is the snapshot-isolation analog of the reference's immutable on-disk index
+ concurrent-read contract (ST2, TestConcurrentReadWriteDeletes.java).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field

MANIFEST_VERSION = 1


@dataclass
class SegmentInfo:
    name: str
    n_rows: int
    n_partitions: int


@dataclass
class IndexManifest:
    dim: int
    metric: str
    pq_m: int
    pq_clusters: int
    n_partitions: int | None = None  # build config; None = auto (~sqrt(n))
    spill: int = 1  # copies per vector (multi-assignment recall boost)
    rerank: str = "fp32"  # stage-2 resolution: "fp32" | "nvq" (FeatureId analog)
    first_pass: str = "pq"  # stage-1 codec: "pq" (ADC) | "bq" (hamming)
    anisotropic_threshold: float | None = None  # ScaNN-style PQ objective
    fine_factor: int = 0  # fine sub-clusters per coarse partition (0 = off)
    pq_residual: bool = False  # PQ codes encode (vec - coarse centroid)
    # storage layout of the full-resolution vec column:
    #   "packed_f32": one binary cell of little-endian f32 bytes per row —
    #     plain byte-array parquet encode/shuffle (no per-element rep
    #     levels; measured 9x faster Spark parquet write at d=1024) and a
    #     single frombuffer decode in the Arrow kernels. Values are the
    #     same f32s the list layout stores, so scores are bit-identical.
    #   "list": array<float> (legacy segments; pre-r6 manifests load as
    #     this via the dataclass default).
    vec_format: str = "list"
    # which stored copies carry the full-resolution fp32 column:
    #   "all": every copy (legacy/default) — exact rerank and exact
    #     threshold search everywhere, at 4*dim bytes x spill per row.
    #   "none": NO fp32 column at all (requires rerank="nvq") — the
    #     reference's own storage economics (its index carries PQ codes +
    #     NVQ bytes, never fp32: FeatureId.java:31-36, 115.99 MB at
    #     100k x 1024 per 671.testing.md:8-13). Stage 2 reranks from
    #     dequantized NVQ (~1 byte/dim); searches are bit-identical to a
    #     fat index searched with rerank="nvq" (same codes, same kernels).
    #     Exact-score surfaces are refused: threshold_search and
    #     rerank="fp32" raise; vectors() returns dequantized NVQ.
    store_fp32: str = "all"
    segments: list[SegmentInfo] = field(default_factory=list)
    version: int = 0
    format_version: int = MANIFEST_VERSION
    created_at: float = 0.0

    def features(self) -> dict[str, list[str]]:
        """X6 Feature SPI analog (ref ``graph/disk/feature/Feature.java``,
        ``FeatureId.java:31-36``): which on-disk components this index
        carries, mapped to the Parquet columns / sub-tables that implement
        them. The reference enumerates features in the index header and
        readers dispatch on the set; here the manifest config determines
        the set, and readers (the search reads' column list, the codec
        loader) dispatch the same way — this accessor is the introspection
        surface that keeps the mapping explicit and testable.
        """
        out: dict[str, list[str]] = {}
        if self.store_fp32 != "none":
            # full-resolution vectors stored (compaction / exact fallbacks
            # read them) — the INLINE_VECTORS analog
            out["INLINE_VECTORS"] = [f"data.parquet: vec ({self.vec_format})"]
        if self.first_pass == "bq":
            out["BQ_CODES"] = ["data.parquet: codes (packed sign words)"]
        elif self.pq_residual:
            out["FUSED_ADC_PQ_RESIDUAL"] = [
                "data.parquet: codes (coarse-residual), rsq",
                "pq/ codebooks (residual space)",
            ]
        else:
            out["FUSED_ADC_PQ"] = ["data.parquet: codes", "pq/ codebooks"]
        if self.rerank == "nvq":
            out["NVQ_VECTORS"] = ["data.parquet: nvq, nvq_params"]
        if self.fine_factor > 0:
            out["FINE_CENTROIDS"] = [
                "fine_centroids.parquet",
                "data.parquet: sub_id (row-group sorted)",
            ]
        if self.spill > 1:
            out["SPILLED_ASSIGNMENT"] = [f"data.parquet: {self.spill}x part_id copies"]
        return out

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=2)

    @classmethod
    def from_json(cls, s: str) -> "IndexManifest":
        def known(dc, d: dict) -> dict:
            # unknown keys (fields of other versions) are dropped, so older
            # and newer manifests still load
            return {k: v for k, v in d.items() if k in dc.__dataclass_fields__}

        d = json.loads(s)
        d["segments"] = [
            SegmentInfo(**known(SegmentInfo, seg)) for seg in d.get("segments", [])
        ]
        return cls(**known(cls, d))

    def save(self, index_path: str) -> None:
        """Atomic manifest swap: readers holding the old manifest keep a
        consistent snapshot (segment dirs are immutable once written)."""
        self.version += 1
        self.created_at = time.time()
        tmp = os.path.join(index_path, "meta.json.tmp")
        with open(tmp, "w") as f:
            f.write(self.to_json())
        os.replace(tmp, os.path.join(index_path, "meta.json"))

    @classmethod
    def load(cls, index_path: str) -> "IndexManifest":
        with open(os.path.join(index_path, "meta.json")) as f:
            return cls.from_json(f.read())
