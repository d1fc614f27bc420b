"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding near-dup.

Scale design (100 TB posture):
- **exact**: one hash-groupBy shuffle on a 16-byte digest — the minimum
  possible; canonical = min doc_id per group (deterministic).
- **minhash_lsh**: shingle -> minhash signature (map-only) -> explode to
  ``bands`` rows/doc -> self-join on band bucket (shuffle carries doc_id +
  band key only, not text) -> candidate pairs -> exact Jaccard verify on
  the (small) candidate set. The classic shuffle-bounded near-dup join:
  no O(n^2) stage exists anywhere.
- **simhash**: 32-bit fingerprint (map-only), banded into 4 x 8-bit keys
  (pigeonhole: any pair within Hamming distance <= 3 agrees on >= 1 of 4
  bands), candidates verified by bit_count(xor).
- **ngram_jaccard**: exact pairwise Jaccard *within a blocking key*
  (``source``) — the honest exact variant; unblocked it would be O(n^2),
  so the LSH operator above is the scale path.
- **embedding near-dup**: exact cosine-threshold self-join with
  precomputed norms; the IVF index threshold search (operators/index.py)
  is the approximate scale path.

All hashes derive from md5 (first 15 hex digits -> int64) so the DuckDB
oracle replicates them bit-for-bit; every stage is JVM-side Catalyst
expressions — no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from jvector_spark.pipeline.text import norm_text, sql_norm_text

# ---------------------------------------------------------------------------
# shared hash helpers (Spark + DuckDB twins)
# ---------------------------------------------------------------------------


def fan_out(df: DataFrame) -> DataFrame:
    """Spread a CPU-heavy map stage across the cluster when the input scan
    under-partitions (a small parquet file arrives as ONE task, so an
    expensive projection — shingling, fingerprinting — runs on one core).
    No-op when the scan already has enough partitions, so at real scale
    this never adds a shuffle; below that, the text shuffle it adds is
    trivially cheaper than a serial map stage."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() < p:
        return df.repartition(p)
    return df


def h64(c: Column) -> Column:
    """Deterministic 60-bit hash from md5 hex prefix (both engines agree)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def sql_h64(c: str) -> str:
    return f"('0x' || substr(md5({c}), 1, 15))::BIGINT"


def shingles(c: Column, n: int = 3) -> Column:
    """Distinct, sorted character n-grams of the (already normalized) text."""
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(n)),
    )
    return F.array_sort(F.array_distinct(grams))


def sql_shingles(c: str, n: int = 3) -> str:
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, greatest(length({c}) - {n - 1}, 1) + 1), "
        f"i -> substring({c}, i, {n}))))"
    )


def word_shingles(c: Column, n: int = 5) -> Column:
    """Distinct, sorted word n-grams of the (already normalized) text.

    Word shingles (not characters) are the right unit for document-level
    MinHash: the shingle space is |vocab|^n, so unrelated documents share
    almost no shingles even when they share most of their vocabulary —
    char trigrams over a small vocabulary degenerate (every doc contains
    nearly every trigram, all minima collide, LSH buckets explode)."""
    toks = F.split(c, " ")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    return F.array_sort(F.array_distinct(grams))


def sql_word_shingles(c: str, n: int = 5) -> str:
    return (
        f"list_sort(list_distinct(list_transform("
        f"range(1, greatest(len(string_split({c}, ' ')) - {n - 1}, 1) + 1), "
        f"i -> array_to_string(string_split({c}, ' ')[i:i+{n - 1}], ' '))))"
    )


# ---------------------------------------------------------------------------
# D1: exact dedup — hash groupBy
# ---------------------------------------------------------------------------


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups by md5 of normalized text.

    Returns (doc_id, content_hash, group_size, is_canonical) where the
    canonical row is the min doc_id of its group. One shuffle on the digest.
    """
    hashed = docs.select("doc_id", F.md5(norm_text(text_col)).alias("content_hash"))
    groups = hashed.groupBy("content_hash").agg(
        F.count("*").alias("group_size"), F.min("doc_id").alias("_canon")
    )
    return hashed.join(groups, "content_hash").select(
        "doc_id",
        "content_hash",
        "group_size",
        (F.col("doc_id") == F.col("_canon")).alias("is_canonical"),
    )


def exact_dedup_sql(text_col: str = "text") -> str:
    n = sql_norm_text(text_col)
    return f"""
WITH h AS (SELECT doc_id, md5({n}) AS content_hash FROM documents),
g AS (
  SELECT content_hash, COUNT(*) AS group_size, MIN(doc_id) AS canon
  FROM h GROUP BY content_hash
)
SELECT h.doc_id, h.content_hash, g.group_size, h.doc_id = g.canon AS is_canonical
FROM h JOIN g USING (content_hash)
"""


# ---------------------------------------------------------------------------
# D2: n-gram Jaccard (exact, blocked)
# ---------------------------------------------------------------------------


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard over distinct-element arrays: |a ∩ b| / |a ∪ b|."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    block_col: str = "source",
    text_col: str = "text",
    tiles: int = 4,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs within a blocking key.

    Docs hash into ``tiles`` sub-tiles per block and every unordered tile
    pair becomes one task scoring its cross-pairs with a single boolean
    matmul. Compared to one-task-per-block, a skewed block (one dominant
    ``source`` at corpus scale) fans out over tiles*(tiles+1)/2 tasks and
    peak memory per task drops quadratically — the same all-pairs shape
    as ``embedding_neardup``. Each doc's shingle array replicates to its
    ``tiles`` tile-pair groups through one shuffle. Still O(block^2) pair
    work by contract; the unblocked scale path remains minhash_lsh_pairs.
    """
    import numpy as np
    import pandas as pd

    sh = fan_out(docs).select(
        F.col("doc_id"),
        F.col(block_col).alias("_blk"),
        shingles(norm_text(text_col), n).alias("_sh"),
    )
    t = F.pmod(F.xxhash64(F.col("doc_id")), F.lit(tiles)).cast("int")
    pair_keys = F.array(
        *[
            F.struct(F.least(t, F.lit(o)).alias("t1"), F.greatest(t, F.lit(o)).alias("t2"))
            for o in range(tiles)
        ]
    )
    exploded = sh.select(
        "doc_id", "_blk", "_sh", t.alias("_t"),
        F.explode(F.array_distinct(pair_keys)).alias("tp"),
    ).select("doc_id", "_blk", "_sh", "_t", F.col("tp.t1").alias("t1"), F.col("tp.t2").alias("t2"))

    def tile_pairs(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        _blk, t1, t2 = key
        empty = pd.DataFrame({"doc_a": [], "doc_b": [], "jaccard": []}).astype(
            {"doc_a": "int64", "doc_b": "int64", "jaccard": "float64"}
        )
        left = pdf[pdf["_t"] == t1]
        right = pdf[pdf["_t"] == t2] if t1 != t2 else left
        if len(left) == 0 or len(right) == 0 or (t1 == t2 and len(left) < 2):
            return empty
        # one binary doc-x-gram matrix over the tile pair's gram union;
        # boolean matmul gives all intersection sizes at once
        all_sets = list(left["_sh"]) + ([] if t1 == t2 else list(right["_sh"]))
        lens = np.array([len(s) for s in all_sets])
        flat = np.concatenate([np.asarray(s, dtype=object) for s in all_sets])
        _, gram_idx = np.unique(flat, return_inverse=True)
        row_idx = np.repeat(np.arange(len(all_sets)), lens)
        mat = np.zeros((len(all_sets), gram_idx.max() + 1), dtype=np.float32)
        mat[row_idx, gram_idx] = 1.0
        la = mat[: len(left)]
        rb = la if t1 == t2 else mat[len(left):]
        ids_a_all = left["doc_id"].to_numpy()
        ids_b_all = right["doc_id"].to_numpy()
        # counts are small integers -> exact in float32; divide in float64
        # so ROUND(x, 6) matches the oracle's double math bit-for-bit
        inter = (la @ rb.T).astype(np.float64)
        sa = la.sum(axis=1, dtype=np.float64)
        sb = rb.sum(axis=1, dtype=np.float64)
        union = sa[:, None] + sb[None, :] - inter
        # round BEFORE thresholding so the cut matches the oracle's
        # ROUND(x, 6) >= t exactly at the boundary (and minhash_lsh_pairs)
        jac = np.round(inter / union, 6)
        ia, ib = np.nonzero(jac >= threshold)
        ids_a, ids_b, vals = ids_a_all[ia], ids_b_all[ib], jac[ia, ib]
        if t1 == t2:
            keep = ids_a < ids_b  # same-tile matrix holds both orientations
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], vals[keep]
        else:
            swap = ids_a > ids_b  # cross-tile pairs appear once; orient
            ids_a2 = np.where(swap, ids_b, ids_a)
            ids_b2 = np.where(swap, ids_a, ids_b)
            keep = ids_a2 != ids_b2
            ids_a, ids_b, vals = ids_a2[keep], ids_b2[keep], vals[keep]
        return pd.DataFrame({"doc_a": ids_a, "doc_b": ids_b, "jaccard": vals})

    return exploded.groupBy("_blk", "t1", "t2").applyInPandas(
        tile_pairs, schema="doc_a long, doc_b long, jaccard double"
    )


def ngram_jaccard_pairs_sql(
    threshold: float = 0.8, n: int = 3, block_col: str = "source", text_col: str = "text"
) -> str:
    norm = sql_norm_text(text_col)
    return f"""
WITH s AS (
  SELECT doc_id, {block_col} AS blk, {sql_shingles(norm, n)} AS sh FROM documents
), p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(len(list_intersect(a.sh, b.sh))
               / CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS DOUBLE), 6) AS jaccard
  FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# D3: MinHash + LSH banding
# ---------------------------------------------------------------------------


# Universal-hash constants for deriving n minhash functions from ONE base
# hash per shingle: h_i(g) = (A_i * (h64(g) % 2^30) + B_i) % P. Products
# stay < 2^60 so int64 math is exact in both engines.
_UH_P = 1_000_000_007
_BASE_MOD = 1 << 30


def _uh_consts(n_hashes: int) -> list[tuple[int, int]]:
    # deterministic constants derived from md5 of the seed index
    out = []
    for i in range(n_hashes):
        import hashlib

        hx = hashlib.md5(f"uh:{i}".encode()).hexdigest()
        a = (int(hx[:8], 16) % (_BASE_MOD - 1)) | 1  # odd, < 2^30
        b = int(hx[8:16], 16) % _UH_P
        out.append((a, b))
    return out


def base_hashes(sh: Column) -> Column:
    """One md5-derived base hash per shingle (materialize this as a column
    BEFORE calling minhash_signature — Catalyst inlines expression trees,
    so passing the raw expression would recompute the md5 pass per
    signature element)."""
    return F.transform(sh, lambda g: h64(g) % F.lit(_BASE_MOD))


def minhash_signature(base: Column, n_hashes: int) -> Column:
    """MinHash signature from the base-hash array + n universal-hash mixes:
    sig_i = min over shingles of (A_i * base + B_i) % P. One md5 per
    shingle total, instead of n_hashes of them."""

    def _mix(a: int, bconst: int):
        return lambda h: (F.lit(a) * h + F.lit(bconst)) % F.lit(_UH_P)

    return F.array(
        *[
            F.array_min(F.transform(base, _mix(a, bc)))
            for a, bc in _uh_consts(n_hashes)
        ]
    )


def _band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Band bucket keys as strings; the band index prefixes the key so
    buckets from different bands never collide."""
    keys = []
    for b in range(bands):
        part = F.slice(sig, b * rows_per_band + 1, rows_per_band)
        keys.append(F.concat_ws("_", F.lit(str(b)), *[part[i] for i in range(rows_per_band)]))
    return F.array(*keys)


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    text_col: str = "text",
    broadcast_verify: bool = False,
    cache_bands: bool = True,
) -> DataFrame:
    """MinHash/LSH near-dup pairs, verified with exact Jaccard.

    shingle -> n_hashes minhashes -> bands -> explode band keys -> self-join
    on key -> distinct candidate pairs -> exact Jaccard >= threshold.

    ``broadcast_verify=False`` (default) lets Catalyst/AQE pick the verify
    join strategy — it still auto-broadcasts a shingle table under the
    broadcast threshold, and shuffles when it is corpus-sized, so the
    DEFAULT is safe at 100 TB (r3 verdict: a forced-broadcast default was
    the one scale-killer flag in this operator). ``True`` forces the
    broadcast hint for corpora known to fit executor memory.

    ``cache_bands=True`` caches the banded (doc_id, bkey) table so the
    self-join's two sides share one signature computation — right at
    bench scales. At 100 TB the banded table is corpus-scale (r7 verdict
    note): pass ``False`` there and persist the UPSTREAM corpus (or write
    the banded table to parquet) yourself — recomputing signatures twice
    map-only is cheaper than a corpus-sized cache eviction storm.
    """
    rows_per_band = n_hashes // bands
    # tokens materialized once; word_shingles applied to the raw text would
    # re-split it once per gram (Catalyst inlines expression trees)
    toks = fan_out(docs).select("doc_id", F.split(norm_text(text_col), " ").alias("_tk"))
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_tk") - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i, n)),
    )
    sh = toks.select("doc_id", F.array_sort(F.array_distinct(grams)).alias("_sh"))
    # materialize base hashes, then signatures, in separate projections so
    # each map pass computes once (not once per downstream reference)
    sig = sh.withColumn("_base", base_hashes(F.col("_sh"))).withColumn(
        "_sig", minhash_signature(F.col("_base"), n_hashes)
    )
    # band keys only — the self-join shuffle carries (doc_id, bkey), never
    # the shingle arrays. Cached (when cache_bands): both join sides
    # reuse one computation.
    banded = sig.select(
        "doc_id", F.explode(_band_keys(F.col("_sig"), bands, rows_per_band)).alias("bkey")
    )
    if cache_bands:
        banded = banded.cache()
    a, b2 = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b2, F.col("a.bkey") == F.col("b.bkey"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact-Jaccard verification: join the candidate pair set back to the
    # shingle sets. Unhinted (the default), AQE broadcasts a small shingle
    # table and shuffles a corpus-sized one; at 100 TB also persist `sh`
    # instead of recomputing it.
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("_sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("_sh").alias("sh_b"))
    if broadcast_verify:
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    j = jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(j, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_lsh_pairs_sql(
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    text_col: str = "text",
) -> str:
    rows_per_band = n_hashes // bands
    norm = sql_norm_text(text_col)
    base = f"{sql_h64('g')} % {_BASE_MOD}"
    sig_elems = ", ".join(
        f"list_min(list_transform(base, h -> ({a} * h + {bc}) % {_UH_P}))"
        for a, bc in _uh_consts(n_hashes)
    )
    band_keys = ", ".join(
        "concat_ws('_', '{b}', {elems})".format(
            b=b,
            elems=", ".join(f"sig[{b * rows_per_band + i + 1}]" for i in range(rows_per_band)),
        )
        for b in range(bands)
    )
    return f"""
WITH s AS (
  SELECT doc_id, {sql_word_shingles(norm, n)} AS sh FROM documents
), based AS (
  SELECT doc_id, sh, list_transform(sh, g -> {base}) AS base FROM s
), sig AS (
  SELECT doc_id, [{sig_elems}] AS sig FROM based
), banded AS (
  SELECT doc_id, unnest([{band_keys}]) AS bkey FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
), verified AS (
  SELECT c.doc_a, c.doc_b,
         ROUND(len(list_intersect(sa.sh, sb.sh))
               / CAST(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS DOUBLE), 6) AS jaccard
  FROM cand c
  JOIN s sa ON sa.doc_id = c.doc_a
  JOIN s sb ON sb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM verified WHERE jaccard >= {threshold}
"""


# ---------------------------------------------------------------------------
# D4: SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """32-bit SimHash per doc: bit b set iff the sum over token hashes of
    (bit b set ? +1 : -1) is positive. Map-only.

    Token hashes are materialized once per row (projection) so the 32
    per-bit votes reuse the same array instead of re-hashing 32 times.
    """
    toks = F.split(norm_text(text_col), " ")
    hashed = fan_out(docs).select("doc_id", F.transform(toks, h64).alias("_hs"))
    hs = F.col("_hs")

    def _vote(bit: int):
        return lambda acc, h: acc + (F.shiftright(h, bit) % F.lit(2)) * F.lit(2) - F.lit(1)

    fp_expr = None
    for b in range(32):
        vote = F.aggregate(hs, F.lit(0).cast("long"), _vote(b))
        bit = F.when(vote > 0, F.lit(2**b).cast("long")).otherwise(F.lit(0).cast("long"))
        fp_expr = bit if fp_expr is None else fp_expr + bit
    return hashed.select("doc_id", fp_expr.alias("fp"))


def simhash_pairs(docs: DataFrame, max_hamming: int = 3, text_col: str = "text") -> DataFrame:
    """SimHash near-dup pairs: fingerprints banded into 4 bytes for
    candidate generation, verified with bit_count(xor) <= max_hamming.

    The 4-band pigeonhole guarantees full recall only for pairs within
    Hamming distance 3; beyond that recall degrades gracefully (a looser
    ``max_hamming`` keeps whatever candidates banding surfaces).
    """
    fp = simhash_fingerprints(docs, text_col)

    band_keys = F.array(
        *[
            F.concat_ws("_", F.lit(str(b)), (F.shiftright(F.col("fp"), 8 * b) % F.lit(256)))
            for b in range(4)
        ]
    )
    banded = fp.select("doc_id", "fp", F.explode(band_keys).alias("bkey"))
    a, b2 = banded.alias("a"), banded.alias("b")
    ham = F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
    return (
        a.join(b2, F.col("a.bkey") == F.col("b.bkey"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("long").alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_pairs_sql(max_hamming: int = 3, text_col: str = "text") -> str:
    norm = sql_norm_text(text_col)
    g_hash = sql_h64("g")
    vote_terms = ", ".join(
        f"CASE WHEN list_sum(list_transform(hs, h -> ((h >> {b}) % 2) * 2 - 1)) > 0 "
        f"THEN CAST({2**b} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for b in range(32)
    )
    band_keys = ", ".join(
        f"concat_ws('_', '{b}', CAST((fp >> {8 * b}) % 256 AS VARCHAR))" for b in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_transform(string_split({norm}, ' '), g -> {g_hash}) AS hs
  FROM documents
), f AS (
  SELECT doc_id, list_sum([{vote_terms}]) AS fp FROM t
), banded AS (
  SELECT doc_id, fp, unnest([{band_keys}]) AS bkey FROM f
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming
  FROM banded a JOIN banded b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, hamming FROM cand WHERE hamming <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# D5: embedding cosine near-dup (exact threshold self-join)
# ---------------------------------------------------------------------------


def embedding_neardup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """Exact cosine near-dup pairs over an embedding column, as a blocked
    matrix multiply.

    Rows are hashed into ``n_blocks`` blocks; every unordered block pair
    (i <= j) becomes one task that scores its pair with a single BLAS
    matmul. Each row is replicated ~n_blocks/2 times through one shuffle —
    O(n*B) data movement for O(n^2) pair work, the standard distributed
    all-pairs shape (vs a pairwise expression join, which is ~100x slower
    per pair). Score is raw cosine (dedup thresholds are cosine-native).
    The approximate scale path is IVFIndex threshold search.
    """
    import numpy as np
    import pandas as pd

    from jvector_spark.functions import kernels

    src = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    blk = (F.col("id") % n_blocks).cast("int")
    # replicate each row to every block pair (min(b, other), max(b, other))
    pair_keys = F.array(
        *[
            F.struct(
                F.least(blk, F.lit(o)).alias("b1"), F.greatest(blk, F.lit(o)).alias("b2")
            )
            for o in range(n_blocks)
        ]
    )
    exploded = src.select(
        "id", "v", blk.alias("_blk"), F.explode(F.array_distinct(pair_keys)).alias("bp")
    ).select("id", "v", "_blk", F.col("bp.b1").alias("b1"), F.col("bp.b2").alias("b2"))

    def score_block(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        b1, b2 = key
        left = pdf[pdf["_blk"] == b1]
        right = pdf[pdf["_blk"] == b2] if b1 != b2 else left
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        # r9 two-phase scoring (guide §1.2: the f64 (m, n) cosine matrix +
        # its full-matrix np.round copy were ~2/3 of this operator's wall
        # — ~42 GB of f64 traffic per 100k corpus for ~312 surviving
        # pairs). Phase 1: f32 GEMM pre-filter with a 1e-3 margin (f32
        # cosine error at d<=4096 is <~1e-5, so no true pair can be
        # missed); phase 2: exact f64 rescore of the surviving pairs only
        # — decoded from the same stored f32 values, so scores and the
        # ROUND(x,6) >= t decision are unchanged (oracle-verified).
        la32 = kernels.as_matrix(left["v"], dtype=np.float32)
        rb32 = kernels.as_matrix(right["v"], dtype=np.float32)
        # r9: the (m, n) score/denominator/mask matrices run in reused
        # scratch (kernels.scratch) — a fresh ~150 MB triple per block
        # pair serialized the 32 workers on the kernel mmap/page-zero
        # path (same pathology measured on the graph build). Same ops,
        # same operand order as kernels.cosine -> bit-identical scores.
        # r9 item 25: phase 1 is row-chunked (~24 MB score blocks) so a
        # COLD worker's first block pair zeroes ~55 MB of scratch, not
        # ~350 MB — in-bench the speculative tune sweep triples the
        # python-worker pool, so every dedup run kept landing on cold
        # workers and the min-of-2 still sampled the page-zero stall
        # (measured: 52-78 s after a tune sweep vs 7.6-7.9 s in a warm
        # isolated session, 100k x 64). Each chunk runs the SAME ops in
        # the same operand order on the same rows, and the
        # 1e-3 pre-filter margin already covers any summation-order ulp
        # — the f64 rescore below recomputes survivors exactly.
        m_, n_ = len(la32), len(rb32)
        na32 = np.sqrt(np.einsum("ij,ij->i", la32, la32))
        nb32 = np.sqrt(np.einsum("ij,ij->i", rb32, rb32))
        step = max(256, (6 << 20) // max(n_, 1))
        ia_parts, ib_parts = [], []
        for lo in range(0, m_, step):
            hi = min(lo + step, m_)
            c_ = hi - lo
            cos32 = kernels.scratch("dedup_cos", (c_, n_), np.float32)
            np.matmul(la32[lo:hi], rb32.T, out=cos32)
            den32 = kernels.scratch("dedup_den", (c_, n_), np.float32)
            np.multiply(na32[lo:hi, None], nb32[None, :], out=den32)
            mask = kernels.scratch("dedup_mask", (c_, n_), np.bool_)
            np.equal(den32, 0.0, out=mask)
            den32[mask] = 1.0
            cos32 /= den32
            np.greater_equal(cos32, threshold - 1e-3, out=mask)
            ia_c, ib_c = np.nonzero(mask)
            if len(ia_c):
                ia_parts.append(ia_c + lo)
                ib_parts.append(ib_c)
        if ia_parts:
            ia = np.concatenate(ia_parts)
            ib = np.concatenate(ib_parts)
        else:
            ia = ib = np.empty(0, dtype=np.int64)
        if len(ia) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        a64 = la32[ia].astype(np.float64)
        b64 = rb32[ib].astype(np.float64)
        dots = np.einsum("ij,ij->i", a64, b64)
        na = np.sqrt(np.einsum("ij,ij->i", a64, a64))
        nb = np.sqrt(np.einsum("ij,ij->i", b64, b64))
        denom = na * nb
        denom[denom == 0.0] = 1.0
        # round BEFORE thresholding — matches the oracle's ROUND(x,6) >= t
        vals = np.round(dots / denom, 6)
        keep2 = vals >= threshold
        ia, ib, vals = ia[keep2], ib[keep2], vals[keep2]
        ids_a = left["id"].to_numpy()[ia]
        ids_b = right["id"].to_numpy()[ib]
        if b1 == b2:
            # same-block matrix contains both orientations + the diagonal
            keep = ids_a < ids_b
            ids_a, ids_b, vals = ids_a[keep], ids_b[keep], vals[keep]
        else:
            # cross-block pairs appear exactly once — normalize orientation
            ids_a, ids_b = np.minimum(ids_a, ids_b), np.maximum(ids_a, ids_b)
        return pd.DataFrame(
            {"id_a": ids_a, "id_b": ids_b, "cos": np.round(vals, 6)}
        )

    return exploded.groupBy("b1", "b2").applyInPandas(
        score_block, schema="id_a long, id_b long, cos double"
    )


def embedding_neardup_sql(threshold: float = 0.95) -> str:
    return f"""
WITH n AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM p WHERE cos >= {threshold}
"""


# ---------------------------------------------------------------------------
# D6: Winnowing fingerprints (Schleimer/Wilkerson/Aiken "Winnowing: Local
# Algorithms for Document Fingerprinting", SIGMOD'03 — the MOSS algorithm)
# ---------------------------------------------------------------------------


def winnowing_fingerprints(
    docs: DataFrame, k: int = 4, w: int = 5, text_col: str = "text"
) -> DataFrame:
    """(doc_id, fp): the document's distinct winnowed fingerprints.

    k-gram hashes -> minimum of every w-hash sliding window -> distinct.
    Winnowing guarantees any shared substring of length >= k + w - 1
    produces at least one SHARED fingerprint, while keeping ~2/(w+1) of
    the hashes — the edit-robust middle ground between exact digests
    (fragile) and full shingle sets (large). All JVM-side HOFs (sequence /
    slice / array_min), map-only, no Python."""
    base = fan_out(docs).select(
        "doc_id", F.split(norm_text(text_col), " ").alias("_tk")
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_tk") - F.lit(k - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i, k)),
    )
    hashed = base.select(
        "doc_id", F.transform(grams, lambda g: h64(g)).alias("_h")
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_h") - F.lit(w - 1), F.lit(1))),
        lambda j: F.array_min(F.slice(F.col("_h"), j, w)),
    )
    return hashed.select(
        "doc_id", F.explode(F.array_distinct(wins)).alias("fp")
    )


def winnowing_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    k: int = 4,
    w: int = 5,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs sharing >= ``min_shared`` winnowed fingerprints.

    The bucketed shape again: explode (doc_id, fp), equi-join on the
    fingerprint, count shared per pair — shuffle carries (fp, doc_id)
    only, AQE skew-join splits hot fingerprints (boilerplate text). No
    all-pairs anywhere; pair work is proportional to actual fingerprint
    collisions, the winnowing paper's contract."""
    fps = winnowing_fingerprints(docs, k=k, w=w, text_col=text_col).cache()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(b, F.col("a.fp") == F.col("b.fp"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= int(min_shared))
    )


def winnowing_pairs_sql(
    min_shared: int = 2, k: int = 4, w: int = 5, text_col: str = "text"
) -> str:
    """DuckDB twin of :func:`winnowing_pairs` over ``documents``."""
    n = sql_norm_text(text_col)
    return f"""
WITH t AS (SELECT doc_id, string_split({n}, ' ') AS toks FROM documents),
g AS (
  SELECT doc_id,
         [array_to_string(toks[i:i+{k - 1}], ' ')
          for i in generate_series(1, greatest(len(toks) - {k - 1}, 1))] AS grams
  FROM t
),
h AS (SELECT doc_id, [{sql_h64("x")} for x in grams] AS hs FROM g),
wn AS (
  SELECT doc_id,
         list_distinct([list_min(hs[j:j+{w - 1}])
                        for j in generate_series(1, greatest(len(hs) - {w - 1}, 1))]) AS fps
  FROM h
),
f AS (SELECT doc_id, unnest(fps) AS fp FROM wn)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# D7: line-level dedup across the corpus (C4 §2.2 / RefinedWeb / Dolma rule:
# boilerplate lines recur across millions of pages — keep each line's FIRST
# occurrence, drop the rest, reassemble documents)
# ---------------------------------------------------------------------------


def line_dedup(
    docs: DataFrame,
    text_col: str = "text",
    min_len: int = 20,
    hash_lines: bool = False,
) -> DataFrame:
    """Corpus-wide line-level dedup: split each document into lines, keep
    every line's FIRST occurrence in (doc_id, line position) order, drop
    later occurrences, and reassemble each document from its surviving
    lines (original order). Lines shorter than ``min_len`` are exempt
    (never treated as duplicates — short/blank lines are structure, not
    boilerplate), matching the C4-family heuristics.

    Returns (doc_id, text) with the deduplicated text. A document whose
    EVERY line was a later occurrence drops out entirely (the C4-family
    pipelines discard emptied documents the same way).

    Scale shape: one groupBy on the line key (map-side partial min, the
    key + an 8-byte occurrence ordinal cross the exchange), then one
    equi-join of the exploded lines against the winners and one rebuild
    groupBy — every shuffle is keyed, no all-pairs stage anywhere.
    ``hash_lines=True`` is the 100 TB path: group/join on xxhash64(line)
    so full line text never keys an exchange (C4 itself dedups on
    hashes); the default groups on raw lines so the result is exactly
    SQL-replicable (the oracle gate runs this mode).
    """
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    key = F.xxhash64("line") if hash_lines else F.col("line")
    eligible = lines.filter(F.length("line") >= min_len)
    # first occurrence per line: min over a single scalar ordinal —
    # (doc_id, pos) packed so map-side combine stays a plain min
    firsts = eligible.groupBy(key.alias("lkey")).agg(
        F.min(F.struct("doc_id", "pos")).alias("first")
    )
    kept = lines.join(
        firsts, key == F.col("lkey"), "left"
    ).filter(
        (F.length("line") < min_len)
        | (
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.pos") == F.col("pos"))
        )
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias(text_col)
    )
    return rebuilt.orderBy("doc_id")


def span_dedup(
    docs: DataFrame,
    text_col: str = "text",
    span_len: int = 50,
    hash_windows: bool = False,
) -> DataFrame:
    """Exact-substring span dedup (the "ExactSubstr" rule of Lee et al.
    2022, *Deduplicating Training Data Makes Language Models Better*),
    relaxed from byte suffix-arrays to word windows so it distributes:
    every ``span_len``-word window that occurs MORE than once corpus-wide
    (across documents or repeated within one) keeps only its FIRST
    occurrence in (doc_id, position) order; every word covered by a
    later occurrence of a duplicated window is removed, and documents are
    reassembled from their surviving words. A document whose every word
    sat inside duplicated spans drops out entirely.

    This is the span-level member of the dedup family: exact/minhash/
    simhash decide about whole documents, ``line_dedup`` about boilerplate
    lines — this one removes long verbatim passages (licenses, templated
    paragraphs, quoted chain-mail) that near-dup scoring under-weights in
    long documents, which is exactly the case Lee et al. built suffix
    arrays for.

    Scale shape (no suffix array needed): windows are a map-side
    ``posexplode`` over each document's own tokens; first occurrences are
    one groupBy on the window key with a map-side ``min`` over a packed
    (doc_id, pos) struct; later occurrences come from one equi-join of
    windows against those winners; cover positions explode only from
    MARKED windows (bounded by the duplicated fraction, not the corpus);
    the final removal is a doc_id-co-keyed anti-join. Every exchange is
    keyed — nothing is all-pairs. ``hash_windows=True`` is the 100 TB
    mode: exchanges key on ``xxhash64(window)`` so window text never
    crosses the wire; the default keys on raw windows so the result is
    exactly SQL-replicable (the oracle gate runs this mode).
    """
    n = span_len
    docs = fan_out(docs)  # window explode is CPU-heavy; don't run it 1-wide
    toks_arr = F.split(F.col(text_col), " ")
    # windows exist only where a full n-word slice does; sequence() would
    # count DOWN for shorter docs, so gate it to an empty array instead
    wins = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(toks_arr) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size(toks_arr) - F.lit(n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks_arr, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("wpos", "win"),
    )
    key = F.xxhash64("win") if hash_windows else F.col("win")
    firsts = wins.groupBy(key.alias("wkey")).agg(
        F.min(F.struct("doc_id", "wpos")).alias("first")
    )
    # a count-1 window IS its own first occurrence, so inequality against
    # the winner marks exactly the duplicated later occurrences
    marked = wins.join(firsts, key == F.col("wkey")).filter(
        ~(
            (F.col("first.doc_id") == F.col("doc_id"))
            & (F.col("first.wpos") == F.col("wpos"))
        )
    )
    cover = marked.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("wpos"), F.col("wpos") + F.lit(n - 1))
        ).alias("tpos"),
    ).distinct()
    tokens = docs.select(
        "doc_id", F.posexplode(toks_arr).alias("tpos", "token")
    )
    kept = tokens.join(cover, ["doc_id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "token"))),
                lambda s: s["token"],
            ),
        ).alias(text_col)
    )
    return rebuilt.orderBy("doc_id")


def span_dedup_sql(
    text_col: str = "text", span_len: int = 50, src: str = "documents"
) -> str:
    """DuckDB twin of :func:`span_dedup` (raw-window mode). Parallel
    ``unnest`` calls zip, replicating posexplode; each window is one
    ``string_agg`` over the next ``span_len`` token rows, and every
    occurrence of a window after its lexicographic (doc_id, wpos) first
    is marked by ``row_number`` — no window list per document and no
    self-join, so memory follows the window count."""
    n = span_len
    return f"""
WITH toks_e AS (
  SELECT doc_id, unnest(string_split({text_col}, ' ')) AS token,
         unnest(range(0, len(string_split({text_col}, ' ')))) AS tpos
  FROM {src}
),
framed AS (
  SELECT doc_id, tpos AS wpos, string_agg(token, ' ') OVER w AS win,
         count(*) OVER w AS width
  FROM toks_e
  WINDOW w AS (PARTITION BY doc_id ORDER BY tpos
               ROWS BETWEEN CURRENT ROW AND {n - 1} FOLLOWING)
),
marked AS (
  SELECT doc_id, wpos FROM (
    SELECT doc_id, wpos,
           row_number() OVER (PARTITION BY win ORDER BY doc_id, wpos) AS occ
    FROM framed WHERE width = {n}
  ) WHERE occ > 1
),
cover AS (
  SELECT DISTINCT doc_id, tpos FROM (
    SELECT doc_id, unnest(range(wpos, wpos + {n})) AS tpos FROM marked
  )
),
kept AS (
  SELECT t.doc_id, t.tpos, t.token FROM toks_e t
  ANTI JOIN cover c ON t.doc_id = c.doc_id AND t.tpos = c.tpos
)
SELECT doc_id, string_agg(token, ' ' ORDER BY tpos) AS {text_col}
FROM kept GROUP BY doc_id ORDER BY doc_id
"""


def line_dedup_sql(
    text_col: str = "text", min_len: int = 20, src: str = "documents"
) -> str:
    """DuckDB twin of :func:`line_dedup` (raw-line mode). Parallel
    ``unnest`` calls zip in DuckDB, giving posexplode semantics; the
    named-struct MIN picks the same lexicographic (doc_id, pos) first
    occurrence Spark's ``min(struct(...))`` does."""
    return f"""
WITH lines AS (
  SELECT doc_id,
         unnest(string_split({text_col}, chr(10))) AS line,
         unnest(range(0, len(string_split({text_col}, chr(10))))) AS pos
  FROM {src}
),
firsts AS (
  SELECT line AS lkey, MIN(struct_pack(doc_id := doc_id, pos := pos)) AS first
  FROM lines WHERE length(line) >= {min_len} GROUP BY line
),
kept AS (
  SELECT l.doc_id, l.pos, l.line
  FROM lines l LEFT JOIN firsts f ON l.line = f.lkey
  WHERE length(l.line) < {min_len}
     OR (f.first.doc_id = l.doc_id AND f.first.pos = l.pos)
)
SELECT doc_id,
       string_agg(line, chr(10) ORDER BY pos) AS {text_col}
FROM kept GROUP BY doc_id ORDER BY doc_id
"""
