"""Streaming MinHash/LSH near-duplicate detection with custom keyed state.

The streaming twin of ``pipeline.dedup.minhash_lsh_pairs`` (same
shingling, same seeded signature family, same banding, same exact-Jaccard
verification): documents stream in; every verified near-dup pair
(doc_a < doc_b, jaccard >= threshold) is emitted EXACTLY ONCE across all
micro-batches, as soon as the second member of the pair arrives.

Mechanics (the batch operator's band self-join, re-expressed as keyed
state): each document's band keys are computed map-only upstream (the
SAME ``base_hashes``/``minhash_signature``/``_band_keys`` expressions as
the batch path, so the candidate sets are identical); rows are keyed by
band-bucket via ``applyInPandasWithState``; each bucket's state holds the
(doc_id, band keys, shingle-hash set) of every document seen in it. A new
arrival exact-Jaccard-verifies against the bucket's members. A colliding
pair can share several buckets — it is emitted only from its CANONICAL
bucket (the lowest-index shared band), a decision every shared bucket can
make locally from the two band-key lists, so no cross-bucket
deduplication state is needed.

Grouping key (r6, second micro-bench round): the state GROUP is a hash
SHARD of the band-bucket key, not the bucket itself. The first bench
showed the per-GROUP applyInPandasWithState round trip (~3 ms Python
state (de)serialization per group per micro-batch) dominating end-to-end
cost at ~5k distinct buckets/batch — ~15 s of pure group overhead for
~1 s of Jaccard work. Sharding bounds the group count at ``state_shards``
(default 128) while each shard's state keeps members bucket-attributed
(``bkey`` rides in the member meta), so candidate generation, the
verification set, and the canonical-bucket emission rule are bit-identical
to per-bucket grouping — only the state partitioning is coarser. The
shuffle volume is unchanged (same exploded (row, bucket) pairs; the
shard is a function of the bucket key, so a bucket's rows still meet in
one task).

State representation (r6 — the first micro-bench showed JSON-ed shingle
STRINGS dominating both state bytes and CPU): members are two parallel
state arrays — a small JSON meta string (id + band keys + bucket + seen
timestamp) and a binary-packed sorted int64 array of the member's
distinct per-shingle base hashes (the SAME ``base_hashes`` values the
signature family consumes). Jaccard over the hash sets equals Jaccard
over the string sets absent 61-bit collisions, and ``np.intersect1d`` on
packed sorted arrays replaces Python string-set intersection.

Scale shape: state is partitioned by shard-of-band-key (a coarsening of
the exact shuffle key of the batch self-join); a bucket's members are the
same O(bucket size) working set the batch join materializes per key, held
across batches instead of per job. ``state_ttl_ms`` bounds state for
unbounded streams PER MEMBER: each member records its arrival processing
time and is pruned once older than the TTL on any later shard visit, so
only pairs whose members arrive within the TTL window of each other are
reported (the standard windowed contract) — an expired-then-reappearing
document is re-admitted as new. The shard-level timeout is only the
garbage collector for wholly idle shards (every member there is at least
TTL old by construction, so dropping the shard prunes exactly the
already-expired).

Cost model (measured r6): per-group overhead is ~3 ms x ``state_shards``
per micro-batch (bounded, amortized across all buckets in the shard)
plus the vectorized Jaccard work, so throughput scales with cores until
verification compute binds. For BULK backfills the batch
``minhash_lsh_pairs`` is still the right tool (same candidates, same
verification, no state round-trip at all on a resident corpus).
"""

from __future__ import annotations

import json
from typing import Any, Iterable, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from jvector_spark.operators.exact import in_list
from jvector_spark.pipeline.dedup import (
    _band_keys,
    base_hashes,
    minhash_signature,
    norm_text,
)

# foreachBatch verify-join pruning: candidate doc ids collected to the
# driver (two longs each) and pushed as a parquet In() filter; above the
# cap, fall back to a semi-join (no footer pruning, still no state
# shuffle). 100k ids ~ 1.6 MB driver-side.
_CAND_ID_CAP = 100_000

# Pruning only pays once state is a multiple of the running batch: the
# candidate-id collect is an extra job per batch (cand must materialize
# early) and the In() scan replans the verify joins — measured r9 at the
# bench's fb32x shape (state <= 3 deltas) as a 19 -> 31 s regression,
# while the 12-batch trend probe (state up to 11 deltas) needs the prune
# to stay flat. Below this state/delta byte ratio the batch keeps the
# plain full-scan verify (r8 path, no extra job).
_PRUNE_STATE_OVER_DELTA = 6.0


def _make_shard_fn(threshold: float, state_ttl_ms: int | None):
    def shard_fn(
        key: Tuple[Any, ...],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # every member is >= TTL old (the timer is re-armed on each
            # arrival, and members time-stamp their arrival), so the whole
            # shard is exactly the expired set
            state.remove()
            return iter(())
        now = (
            state.getCurrentProcessingTimeMs()
            if state_ttl_ms is not None
            else 0
        )
        # bucket -> list[(meta, shingle-hash array)]; members carry their
        # bucket in the meta so one shard can host many buckets without
        # ever comparing across buckets
        members: dict[Any, list] = {}
        seen: dict[Any, set] = {}
        if state.exists:
            metas, shs = state.get
            for m, s in zip(metas, shs):
                meta = json.loads(m)
                if (
                    state_ttl_ms is not None
                    and now - meta.get("ts", now) > state_ttl_ms
                ):
                    continue  # member-level TTL prune (windowed contract)
                bk = meta["bkey"]
                members.setdefault(bk, []).append(
                    (meta, np.frombuffer(s, dtype=np.int64))
                )
                seen.setdefault(bk, set()).add(meta["id"])
        rows = [pdf for pdf in pdfs if len(pdf)]
        out_a, out_b, out_j = [], [], []
        if rows:
            # doc_id order makes emission deterministic: a pair is emitted
            # while processing its LATER member, against the earlier one
            # already in the bucket's member list
            batch = pd.concat(rows, ignore_index=True).sort_values("doc_id")
            for row in batch.itertuples(index=False):
                doc_id = int(row.doc_id)
                bkey = row.bkey
                mlist = members.setdefault(bkey, [])
                sset = seen.setdefault(bkey, set())
                if doc_id in sset:
                    continue  # replayed (row, bucket): already a member
                sh = np.asarray(row.shh, dtype=np.int64)  # sorted, distinct
                bands = list(row.bands)
                for meta, m_sh in mlist:
                    inter = len(np.intersect1d(sh, m_sh, assume_unique=True))
                    union = len(sh) + len(m_sh) - inter
                    if union == 0:
                        continue
                    j = round(inter / union, 6)
                    if j < threshold:
                        continue
                    shared = [
                        i
                        for i, (x, y) in enumerate(zip(bands, meta["bands"]))
                        if x == y
                    ]
                    # emit only from the canonical (lowest shared band) bucket
                    if shared and bands[shared[0]] == bkey:
                        a, b = sorted((doc_id, meta["id"]))
                        out_a.append(a)
                        out_b.append(b)
                        out_j.append(j)
                mlist.append(
                    ({"id": doc_id, "bands": bands, "bkey": bkey, "ts": now}, sh)
                )
                sset.add(doc_id)
        flat = [mv for ml in members.values() for mv in ml]
        state.update(
            (
                [json.dumps(m) for m, _ in flat],
                [s.tobytes() for _, s in flat],
            )
        )
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if not out_a:
            return iter(())
        return iter(
            (pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "jaccard": out_j}),)
        )

    return shard_fn


def streaming_minhash_neardup(
    docs: DataFrame,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    state_ttl_ms: int | None = None,
    state_shards: int = 128,
) -> DataFrame:
    """Emit every verified near-dup pair (doc_a, doc_b, jaccard) exactly
    once over the life of the stream. The union of emitted pairs equals
    the batch ``minhash_lsh_pairs`` result on the same documents (same
    parameters), which is how the test pins it.

    ``state_shards`` bounds the number of state groups per micro-batch
    (the dominant streaming cost is per-group overhead, not compute);
    raise it on large clusters for more state parallelism — results are
    identical for any value >= 1."""
    rows_per_band = n_hashes // bands
    toks = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.split(norm_text(text_col), " ").alias("_tk"),
    )
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size("_tk") - F.lit(n - 1), F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i, n)),
    )
    sh = toks.select(
        "doc_id", F.array_sort(F.array_distinct(grams)).alias("sh")
    )
    sig = sh.withColumn("_base", base_hashes(F.col("sh"))).withColumn(
        "_sig", minhash_signature(F.col("_base"), n_hashes)
    )
    # The explode's generator input is the band-key CreateArray EXPRESSION,
    # not the `bands` attribute, even though the same expression is also
    # carried as a column: exploding an attribute makes Catalyst's
    # InferFiltersFromGenerate add `size(bands) > 0` and push it below the
    # shuffle with the WHOLE shingle/minhash tree inlined — a measured 20x
    # slowdown (52 s -> 4 s per 1250-doc micro-batch at sf0.1). With a
    # CreateArray input the array size is foldable and no filter is
    # inferred; `_sig` stays referenced >1 time so its projection is kept
    # and the band keys are the only (trivial) double-computation.
    keyed = (
        sig.select(
            "doc_id",
            # verification set = sorted distinct per-shingle base hashes
            # (identical Jaccard to the string sets absent 61-bit collisions;
            # packed int64s keep the keyed state small and the intersection
            # vectorized)
            F.array_sort(F.array_distinct(F.col("_base"))).alias("shh"),
            _band_keys(F.col("_sig"), bands, rows_per_band).alias("bands"),
            F.explode(
                _band_keys(F.col("_sig"), bands, rows_per_band)
            ).alias("bkey"),
        )
        .withColumn("shard", F.pmod(F.hash("bkey"), F.lit(state_shards)))
    )
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return keyed.groupBy("shard").applyInPandasWithState(
        _make_shard_fn(threshold, state_ttl_ms),
        outputStructType="doc_a long, doc_b long, jaccard double",
        stateStructType="metas array<string>, shs array<binary>",
        outputMode="update",
        timeoutConf=timeout,
    )


# ---------------------------------------------------------------------------
# foreachBatch throughput variant (r7)
# ---------------------------------------------------------------------------


def stream_neardup_foreachbatch(
    stream_docs: DataFrame,
    state_dir: str,
    pairs_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    n_hashes: int = 16,
    bands: int = 4,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    compact_every: int = 16,
    trigger: dict | None = None,
    on_batch=None,
    prune: str = "auto",
):
    """Streaming MinHash near-dup as a ``foreachBatch`` JOIN against a
    compacted parquet state table — the THROUGHPUT path (the keyed-state
    operator above is the per-record-latency path; measured r6, its
    per-group ``applyInPandasWithState`` round-trip costs ~15x the
    Jaccard compute, capping it at ~700 rows/s on local[32]).

    Same contract as :func:`streaming_minhash_neardup` / the batch
    ``minhash_lsh_pairs``: every verified pair (doc_a < doc_b,
    jaccard >= threshold) lands in ``pairs_dir`` EXACTLY ONCE across the
    life of the stream, as soon as its second member arrives. Per
    micro-batch — all JVM-side expressions, no Python in the hot path,
    and the batch operator's own two-table shape (slim band rows drive
    candidate generation; shingle arrays only ever move for verified
    candidates):

    - state is ONE parquet table of (doc_id, shh, bands) — one row per
      document (the shingle-hash array is NOT replicated per band; the
      first r7 cut stored exploded band rows and the 4x shh copies
      dominated both the delta writes and the join shuffle);
    - band rows (doc_id, bkey) are DERIVED on read with ``explode`` —
      in-plan, never on disk;
    - candidates = batch band rows vs (state ∪ batch) band rows on
      ``bkey`` (ordered ids for batch-vs-batch so each unordered pair
      forms once), then ``least/greatest + distinct`` — the batch
      operator's dedup, cheap because candidate rows are two longs;
    - verification joins the candidate ids back to the doc tables for
      their shh arrays: ``array_intersect`` Jaccard in codegen, exactly
      the batch operator's verify join (AQE broadcasts the small side).

    Exactly-once under replays (the ``stream_ingest`` segment pattern):
    batch ``e`` first anti-joins its docs against state (a re-delivered
    doc never re-enters), writes its state delta to ``state_dir/delta=e``
    (overwrite — this is also the batch's one materialization of the
    signature expressions; the pair join reads it back columnar), then
    its pairs to ``pairs_dir/batch=e`` (overwrite). The state read
    EXCLUDES the running epoch's delta, and compaction (every
    ``compact_every`` deltas, folded into ``state_dir/compact-<e>``)
    only ever includes epochs STRICTLY BEFORE the running one — so a
    replayed epoch recomputes identical pairs and overwrites its own
    files, never seeing its own rows as "old".

    Scale shape: the candidate join is one keyed exchange on ``bkey``
    carrying (doc_id, bkey) rows only; shingle arrays move in the
    verify join, O(candidate pairs), exactly like the batch operator at
    100 TB. State is a plain parquet table — size O(corpus), rewritten
    only at compaction (size-tiered-ish: deltas fold into one compact
    table). Per-batch state touch (r9, the r8-verdict O(state) fix):
    once state bytes reach ``_PRUNE_STATE_OVER_DELTA`` times the running
    delta's, the verify sides read shh ONLY for collected candidate ids,
    pushed as an In() predicate so parquet footer stats skip old deltas
    whose doc_id ranges hold no candidate (deltas are id-clustered per
    epoch by construction); below that ratio the plain full-scan verify
    is cheaper than the prune's extra collect job (measured r9, fb32x
    shape). The candidate join streams state's slim
    (doc_id, bkey) rows map-side against the broadcast batch bands. The
    remaining per-batch O(state) terms are columnar single-column
    scans — the anti-join's doc_id column and the band explode's bands
    column — with no exchange; truly unbounded streams should route to
    the keyed-state operator, whose ``state_ttl_ms`` gives windowed
    retention.

    ``prune``: ``"auto"`` (default) applies the candidate-id state
    pruning only once state bytes reach ``_PRUNE_STATE_OVER_DELTA`` x
    the running delta's; ``"always"`` / ``"never"`` force one path —
    ``"always"`` is what the state-growth gates use, so the flatness
    they assert is the pruned path's, not an artifact of the onset
    step between the two regimes. All three settings produce identical
    pairs.

    Measured (r7, local[32], sf0.1 documents, 4 micro-batches): 877
    rows/s at 1,250 docs/batch (parity with the keyed-state op — fixed
    per-trigger cost dominates tiny batches) and 3,738 rows/s at 40k
    docs/batch, 5.1x the keyed-state path, pairs identical to the batch
    operator both times. The remaining gap to signature-compute bound
    (~12k rows/s) is per-STAGE scheduling latency on small shuffles
    (~8-9 stages/batch x ~0.3 s); it amortizes with batch size, so
    sustained-throughput deployments should trigger on larger batches.
    A cross-batch persisted state cache was tried and REVERTED: its
    per-batch materialization job cost more than the parquet re-read
    it saved (43.8 s -> 45.9 s on the 32x micro-bench).
    """
    import os as _os

    if prune not in ("auto", "always", "never"):
        raise ValueError(f"prune must be auto/always/never, got {prune!r}")
    rows_per_band = n_hashes // bands
    state_schema = "doc_id long, shh array<long>, bands array<string>"

    def _docs_table(docs: DataFrame) -> DataFrame:
        toks = docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.split(norm_text(text_col), " ").alias("_tk"),
        )
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(F.size("_tk") - F.lit(n - 1), F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(F.col("_tk"), i, n)),
        )
        sh = toks.select(
            "doc_id", F.array_sort(F.array_distinct(grams)).alias("_sh")
        )
        sig = sh.withColumn("_base", base_hashes(F.col("_sh"))).withColumn(
            "_sig", minhash_signature(F.col("_base"), n_hashes)
        )
        return sig.select(
            "doc_id",
            # verification set: sorted distinct per-shingle base hashes —
            # the same values the keyed-state kernel intersects; Jaccard
            # over them equals string-set Jaccard absent 61-bit collisions
            F.array_sort(F.array_distinct(F.col("_base"))).alias("shh"),
            _band_keys(F.col("_sig"), bands, rows_per_band).alias("bands"),
        )

    def _bands_of(docs_tbl: DataFrame) -> DataFrame:
        return docs_tbl.select("doc_id", F.explode("bands").alias("bkey"))

    def _state_paths(current_epoch: int) -> list[str]:
        if not _os.path.isdir(state_dir):
            return []
        out = []
        for name in sorted(_os.listdir(state_dir)):
            p = _os.path.join(state_dir, name)
            if name.startswith("compact-") and not name.endswith(".tmp"):
                # .tmp = compaction crashed before its atomic rename;
                # the source deltas/compacts are all still present
                out.append(p)
            elif name.startswith("delta="):
                if int(name.split("=", 1)[1]) != current_epoch:
                    out.append(p)
        return out

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        # The micro-batch inherits the SOURCE's partitioning — a file-per-
        # trigger stream hands one task the whole batch, and every
        # signature expression downstream (shingle + md5 + 16 minhash
        # mixes, interpreted HOFs) would run single-threaded on it.
        # Measured (r8, 40k docs/batch, local[32]): delta_write 15-20 s
        # single-task vs ~2.3 s when spread; one cheap exchange of raw
        # (doc_id, text) rows buys back the whole cluster.
        batch_df = batch_df.repartition(
            spark.sparkContext.defaultParallelism
        )
        paths = _state_paths(epoch_id)
        old = (
            spark.read.schema(state_schema).parquet(*paths)
            if paths
            else spark.createDataFrame([], state_schema)
        )
        # crash window between a compaction's dir-rename and its delta
        # deletes can leave a doc in BOTH a compact table and a delta —
        # dedup on the state key so it cannot double pair rows. The
        # overlap is DETECTABLE from dir names alone (compaction folds
        # every delta with epoch < its own and deletes them, so a delta
        # older than the newest compact table exists only after such a
        # crash) — the healthy path skips the corpus-wide shuffle.
        delta_es = [
            int(_os.path.basename(p).split("=", 1)[1])
            for p in paths
            if _os.path.basename(p).startswith("delta=")
        ]
        compact_es = [
            int(_os.path.basename(p).split("-", 1)[1])
            for p in paths
            if _os.path.basename(p).startswith("compact-")
        ]
        if delta_es and compact_es and min(delta_es) < max(compact_es):
            old = old.dropDuplicates(["doc_id"])
        new = _docs_table(batch_df)
        # a replayed / re-delivered doc_id already in state never
        # re-enters (the keyed-state `seen` contract)
        new = new.join(old.select("doc_id"), "doc_id", "left_anti")
        # ONE materialization of the signature expressions: write the
        # delta, read it back columnar for everything downstream
        new.write.mode("overwrite").parquet(f"{state_dir}/delta={epoch_id}")
        new = spark.read.schema(state_schema).parquet(
            f"{state_dir}/delta={epoch_id}"
        )
        nb, ob = _bands_of(new), _bands_of(old)
        l = nb.alias("l")
        r = (
            ob.withColumn("_new", F.lit(0))
            .unionByName(nb.withColumn("_new", F.lit(1)))
            .alias("r")
        )
        cand = (
            l.join(
                r,
                (F.col("l.bkey") == F.col("r.bkey"))
                & (
                    (F.col("r._new") == 0)
                    | (F.col("r.doc_id") < F.col("l.doc_id"))
                )
                & (F.col("l.doc_id") != F.col("r.doc_id")),
            )
            .select(
                F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
                F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
            )
            .distinct()
        )
        # Verification needs shh arrays ONLY for candidate doc ids — a few
        # hundred per batch, vs the whole state table. Collect them and
        # push an In() predicate into the state scan: deltas are written
        # per epoch, so their doc_id row-group stats are tight ranges and
        # parquet footer pruning skips every old delta holding no
        # candidate (the r8-verdict O(state)-per-batch term). The driver
        # residency is bounded: above _CAND_ID_CAP ids fall back to the
        # broadcast-semi-join shape (still no state shuffle, just no
        # footer pruning). cand is cached so the id collect and the pair
        # join share one evaluation of the band join.
        #
        # The prune is CONDITIONAL on state actually dwarfing the batch
        # (byte ratio from driver-side file stats — no job): its collect
        # is an extra per-batch job and its filter replans the verify
        # joins, which costs more than the skipped scan saves while
        # state is only a few deltas deep (measured r9, fb32x shape).
        def _dir_bytes(dirs: list[str]) -> int:
            total = 0
            for d in dirs:
                for root, _, names in _os.walk(d):
                    for nm in names:
                        if not nm.startswith(("_", ".")):
                            try:
                                total += _os.path.getsize(
                                    _os.path.join(root, nm)
                                )
                            except OSError:
                                pass
            return total

        if prune == "auto":
            delta_bytes = _dir_bytes([f"{state_dir}/delta={epoch_id}"])
            state_bytes = _dir_bytes(paths)
            do_prune = (
                delta_bytes > 0
                and state_bytes >= _PRUNE_STATE_OVER_DELTA * delta_bytes
            )
        else:
            do_prune = prune == "always"
        both = new.unionByName(old)
        if do_prune:
            cand = cand.cache()
            cand_ids = [
                r[0]
                for r in cand.select(
                    F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
                )
                .distinct()
                .collect()
            ]
            if len(cand_ids) <= _CAND_ID_CAP:
                both = both.filter(in_list("doc_id", cand_ids))
            else:
                both = both.join(
                    cand.select(F.col("doc_a").alias("doc_id"))
                    .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
                    .distinct(),
                    "doc_id",
                    "left_semi",
                )
        sa = both.select(F.col("doc_id").alias("doc_a"), F.col("shh").alias("sh_a"))
        sb = both.select(F.col("doc_id").alias("doc_b"), F.col("shh").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size("sh_a") + F.size("sh_b") - inter
        pairs = (
            cand.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.round(inter / union.cast("double"), 6).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )
        # NO coalesce(1): a pre-write coalesce folds the verify join's
        # final stage into ONE task (all array_intersect work serialized
        # — measured r8 as a principal per-batch cost); AQE's partition
        # coalescing keeps the output file count small on its own.
        pairs.write.mode("overwrite").parquet(
            f"{pairs_dir}/batch={epoch_id}"
        )
        if do_prune:
            cand.unpersist()
        # size-tiered-ish state compaction: fold accumulated deltas
        # (epochs < e only — replay safety) into one compact table
        deltas = [
            p for p in _state_paths(epoch_id)
            if _os.path.basename(p).startswith("delta=")
        ]
        if len(deltas) >= compact_every:
            compacts = [
                _os.path.join(state_dir, d)
                for d in _os.listdir(state_dir)
                if d.startswith("compact-") and not d.endswith(".tmp")
            ]
            merged = spark.read.schema(state_schema).parquet(*(deltas + compacts))
            tmp = f"{state_dir}/compact-{epoch_id}.tmp"
            merged.write.mode("overwrite").parquet(tmp)
            _os.replace(tmp, f"{state_dir}/compact-{epoch_id}")
            import shutil as _shutil

            for p in deltas + compacts:
                _shutil.rmtree(p, ignore_errors=True)
        if on_batch is not None:
            # count from the durable output (one tiny file), not a second
            # evaluation of the candidate join
            n_pairs = spark.read.parquet(f"{pairs_dir}/batch={epoch_id}").count()
            on_batch(int(epoch_id), int(n_pairs))

    writer = stream_docs.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    trigger = trigger or {"availableNow": True}
    return writer.trigger(**trigger).start()
