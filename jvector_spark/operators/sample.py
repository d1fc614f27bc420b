"""Exact row count + exact-uniform bounded sampling, deciding membership
on 8-byte keys in the JVM.

The training-set sampler shared by the index builder and the quantizer
trainers (ref ``ProductQuantization.java:64,141-179`` — Floyd sampling
capped at ``MAX_PQ_TRAINING_SET_SIZE`` plus a ``size()`` call; SURVEY.md
§2.5 A4).

Design (guide §8 "decide with small rows, move big rows once"): every row
draws a uniform key **as a JVM expression** — ``xxhash64(seed, <row>)``,
mapped to [0,1) for the keep filter. The key is a pure function of the
row's CONTENT, so the sampled set is invariant under partitioning, core
count and task retries
(``F.rand(seed)`` was seeded per partition index: the 8-core and 32-core
driver runs drew different samples, different kmeans layouts, and recall
entries that swung ±0.03 on identical code — r9 driver artifacts). The
global ``sample_cap`` smallest keys form an exact uniform sample
(distributed bottom-k). Membership is decided by a JVM-side
``key <= fraction`` filter sized so the true bottom-cap is inside the kept
set with overwhelming probability (Chernoff slack), and the kept set is
trimmed to the exact bottom-k on the driver. Only ~``sample_cap`` vectors
ever cross the JVM→Python boundary — the previous implementation shipped
every partition's 4x-quota slice (the full corpus whenever
``n <= sample_cap``) through a ``mapInPandas`` pass, which profiled at
~25 s of a 100 s d=1024 build.

Exactness guard: the kept set provably contains the global bottom-k iff it
holds >= ``sample_cap`` rows (then the cap-th smallest key overall is
<= the filter threshold). If the Chernoff tail ever loses (kept < cap
while kept < n), ONE corrective fetch takes everything. Skewed layouts
need no special casing — the filter is value-based, not partition-based.

Scale: only ``O(sample_cap)`` vectors ever reach the driver regardless of
corpus size; both jobs are map-only (no shuffle beyond the input's own
lineage, which downstream build jobs reuse).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def sample_and_count(
    df: DataFrame, sample_cap: int, seed: int, vec_col: str = "vec"
) -> tuple[int, np.ndarray]:
    """Exact row count + exact-uniform ``sample_cap``-row training sample
    in TWO jobs (count + bounded fetch). Returns ``(n_rows, sample)`` with
    ``sample`` a float32 (<=cap, d) matrix sorted by its uniform key — so
    any PREFIX is itself an exact-uniform subsample. f32 is what every
    index stores and scores, so training on the f32 values is exact
    w.r.t. the data the index will actually hold."""
    n = int(df.count())
    return n, bottom_k_sample(df, sample_cap, seed, n, vec_col=vec_col)


def bottom_k_sample(
    df: DataFrame, sample_cap: int, seed: int, n: int, vec_col: str = "vec"
) -> np.ndarray:
    """The fetch half of :func:`sample_and_count` for callers that already
    hold the exact row count ``n`` (the index builder counts first so it
    can size the cap from its trainers' true needs).

    Column contract: the sample key hashes EVERY column of ``df``, so pass
    exactly the id and vector columns. An extra column changes which rows
    are drawn; a missing id makes exact-duplicate vectors share one key."""
    if n == 0:
        raise ValueError("cannot sample an empty DataFrame")
    # content-keyed uniform draw: xxhash64 of (seed, EVERY input column).
    # Hashing all columns keeps the key row-unique when the caller passes
    # an id alongside the vector (the index builder and sample_and_count
    # callers do), so exact-duplicate vectors still sample independently
    # — a vec-only hash collapsed them onto one key and biased the draw on
    # dedup corpora (test_skewed_partition_...). The bottom-k orders by
    # the int64 key itself; its [0, 1) double image keeps only 53 bits,
    # so distinct keys can tie there, and it serves only the keep filter.
    keyed = df.select(
        F.col(vec_col).alias("vec"),
        F.xxhash64(F.lit(int(seed)), *[F.col(c) for c in df.columns]).alias("_k"),
    )
    if sample_cap >= n:
        pdf = keyed.toPandas()
    else:
        # keep-fraction = cap/n + Chernoff slack: P(kept < cap) < e^-20
        frac = min(
            1.0, (sample_cap + 8.0 * math.sqrt(sample_cap) + 64.0) / n
        )
        unit = F.col("_k").cast("double") / F.lit(float(2**64)) + F.lit(0.5)
        pdf = keyed.filter(unit <= F.lit(frac)).toPandas()
        if len(pdf) < sample_cap:
            # astronomically rare tail loss — one corrective full fetch
            # keeps the bottom-k EXACT rather than merely near-uniform
            pdf = keyed.toPandas()
    pdf = pdf.nsmallest(min(sample_cap, len(pdf)), "_k")
    from jvector_spark.functions import kernels

    # f32 is LOSSLESS here — the sampled values are f32 storage either way
    # (the index stores f32; array<float> sources arrive as f32). Keeping
    # the training sample f32 halves trainer BLAS bytes (the d=1024 driver
    # training phase was ~36 s of a 130 s build at f64).
    return kernels.as_matrix(pdf["vec"], dtype=np.float32)
