"""Incremental near-duplicate filtering for a document STREAM — the
arriving-corpus counterpart of ``ops/dedup.minhash_lsh_candidates``.

A 100 TB training corpus is not deduplicated once: new crawls arrive
continuously and each batch must be checked against everything already
accepted. The batch LSH pipeline recomputes signatures over the whole
corpus; this operator keeps a persistent (band, bucket) store instead
and processes each micro-batch incrementally:

1. compute MinHash band buckets for the batch's documents (the same
   seeded arithmetic as the batch operator),
2. anti-join against the seen-bands store -> documents sharing ANY
   band bucket with an accepted document are dropped as near-dups,
3. within-batch collisions resolve to the lowest id,
4. append the survivors' bands to the store (bucket-partitioned
   parquet).

Work per batch is proportional to batch size, not corpus size: the
store join is an equi-join on the 8-byte band hash (shuffle keyed by a
near-uniform hash -> skew-resistant); the store grows one
``batch_id=N`` partition per micro-batch, and each batch only ever
(over)writes its own partition.

Fault tolerance: Structured Streaming replays a micro-batch whose
checkpoint commit didn't land, so a plain ``mode("append")`` sink
would duplicate both accepted docs and band rows on recovery. Each
batch therefore OVERWRITES its own ``batch_id=N`` subdirectory in both
sinks (replay rewrites identical content — idempotent), and the store
read excludes the current batch's partition so a replayed batch never
collides with its own half-written bands. Both sink paths are
partition-discovered parquet tables keyed by ``batch_id``; they are
tied to ONE checkpoint lineage (batch ids are per-checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ops.dedup import band_buckets, minhash_signatures


def _path_exists(spark, path: str) -> bool:
    """True iff `path` exists — delegates to the shared ops/fs helper
    (JVM Hadoop FileSystem API: works for any configured filesystem,
    not just local)."""
    from ..ops.fs import path_exists

    return path_exists(spark, path)


def _band_buckets(
    docs: DataFrame, id_col: str, text_col: str,
    n: int, num_hashes: int, bands: int, seed: int,
) -> DataFrame:
    """(id, band, bucket) rows — one per document band. Delegates to
    the SHARED ops/dedup.band_buckets (identical arithmetic:
    xxhash64 over the comma-joined band values), so the streaming
    band store and every batch operator band identically and a future
    banding change cannot silently diverge between them."""
    sigs = minhash_signatures(docs, id_col, text_col, n, num_hashes, seed)
    return band_buckets(sigs, num_hashes, bands)


def _process_batch(
    batch_df: DataFrame, batch_id: int, store_path: str,
    accepted_path: str, id_col: str, text_col: str,
    n: int, num_hashes: int, bands: int, seed: int,
) -> None:
    """One idempotent micro-batch: replaying the same (batch_df,
    batch_id) pair overwrites the same two subdirectories with the
    same content, so recovery after a crash between the two writes (or
    after the writes but before the checkpoint commit) cannot
    duplicate rows."""
    if batch_df.isEmpty():
        return
    spark = batch_df.sparkSession
    batch = batch_df.select(id_col, text_col)
    bb = _band_buckets(
        batch, id_col, text_col, n, num_hashes, bands, seed
    ).persist()
    try:
        # (a) collide vs the persistent store — excluding this batch's
        # own partition, which exists iff we are replaying after a
        # failure and must not self-collide.  The no-store-yet case is
        # detected by an explicit existence check (Hadoop FileSystem),
        # NOT a broad except: a store that exists but can't be read in
        # the expected shape must fail the batch loudly, or the whole
        # dedup history would be silently ignored.
        if _path_exists(spark, store_path):
            store = spark.read.parquet(store_path)
            if "batch_id" not in store.columns:
                raise ValueError(
                    f"dedup_stream store at {store_path!r} lacks the "
                    "batch_id partition column (written by an older "
                    "flat-append version?); migrate it to "
                    "batch_id=N partitions before resuming"
                )
            seen = (
                store
                .filter(F.col("batch_id") < F.lit(batch_id))
                .select("band", "bucket")
            )
            hits = bb.join(seen, ["band", "bucket"], "leftsemi") \
                .select("id").distinct()
        else:  # first batch: no store yet
            hits = bb.select("id").filter(F.lit(False))
        # (b) within-batch collisions: keep the lowest id per bucket
        first = bb.groupBy("band", "bucket").agg(F.min("id").alias("keep"))
        batch_dups = (
            bb.join(first, ["band", "bucket"])
            .filter(F.col("id") != F.col("keep"))
            .select("id").distinct()
        )
        dropped = hits.union(batch_dups).distinct()
        survivors = batch.join(
            dropped.withColumnRenamed("id", id_col), [id_col],
            "left_anti",
        )
        survivors.write.mode("overwrite") \
            .parquet(f"{accepted_path}/batch_id={batch_id}")
        bb.join(
            dropped, bb["id"] == dropped["id"], "left_anti"
        ).select("id", "band", "bucket") \
            .write.mode("overwrite") \
            .parquet(f"{store_path}/batch_id={batch_id}")
    finally:
        bb.unpersist()


def dedup_stream(
    docs_stream: DataFrame, store_path: str, checkpoint_dir: str,
    accepted_path: str, id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_hashes: int = 64, bands: int = 16, seed: int = 42,
):
    """Start the incremental near-dup filter on a document stream.

    Accepted (novel) documents land under ``accepted_path`` and their
    band buckets under ``store_path``, each as a ``batch_id``-
    partitioned parquet table (read either with plain
    ``spark.read.parquet(path)`` — partition discovery adds the
    ``batch_id`` column). Returns the StreamingQuery (caller
    awaits/stops). Batch semantics match running the batch LSH
    candidates against (store ∪ batch) and keeping non-colliding docs;
    micro-batch replay after failure is idempotent (see
    ``_process_batch``).
    """

    def process(batch_df: DataFrame, batch_id: int) -> None:
        _process_batch(
            batch_df, batch_id, store_path, accepted_path,
            id_col, text_col, n, num_hashes, bands, seed,
        )

    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_against_stream(
    spark, name: str, doc_stream, store,
    sink, threshold: float = 0.5,
    include_exact: bool = True, exclude_self: bool = False,
    hot_bucket_cap: "int | None" = None, add_clean: bool = False,
    run_id: "str | None" = None,
):
    """Dedup a STREAM of document batches against a NAMED persisted
    dedup index (ops/dedup_index) — the crawl-ingest loop when the
    corpus side was built with ``build_dedup_index`` (estimates,
    threshold, and the exact fingerprint route; contrast
    :func:`dedup_stream`, which maintains its own anonymous band
    store with drop-on-any-shared-band semantics).

    Per micro-batch, ``sink(pairs_df, batch_id)`` receives the same
    (new_id, corpus_id, est_jaccard, match_kind) frame the batch
    :func:`~brahmand_spark.ops.dedup_index.dedup_against` returns;
    with ``add_clean=True`` the batch's CLEAN documents (no duplicate
    pair at all) are then appended to the index via
    :func:`~brahmand_spark.ops.dedup_index.dedup_index_add`, so later
    batches dedup against earlier ones — incremental corpus growth
    with zero re-hashing.

    Same foreachBatch shape as streaming/vector.ann_search_stream
    (the bucket join and estimate filter are batch constructs). No
    streaming state of our own — the index IS the state, durably on
    disk. Micro-batch REPLAY after a crash is idempotent end to end
    (r9): each batch's probe EXCLUDES its own ``batch=<batch_id>``
    index partitions (so a half-written add from the failed attempt
    can't self-collide), re-emits the same pairs, and under
    ``add_clean`` the re-add OVERWRITES the same partitions via
    ``dedup_index_add(batch_key=str(batch_id))`` — the same
    per-batch-partition device as :func:`dedup_stream`. ``add_clean``
    checks batch-vs-index only: two near-dup docs arriving in the
    SAME micro-batch both count as clean (run
    minhash_lsh_candidates within the batch first if that matters).
    Requires an index built with the r9 batch-partitioned layout
    (any fresh ``build_dedup_index``). ``run_id`` scopes the batch
    keys (``<run_id>-<batch_id>``): REQUIRED to be a stable,
    per-stream-unique string whenever more than one ingest stream
    grows the SAME index — without it, two streams' checkpoints both
    number batches from 0 and a later stream's add would overwrite
    an earlier one's partitions. A restart on the same checkpoint
    must reuse the same run_id (that's the replay idempotence).
    Returns the ``DataStreamWriter`` — call ``.start()``."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        _against_batch(
            spark, name, batch_df, batch_id, store, sink, threshold,
            include_exact, exclude_self, hot_bucket_cap, add_clean,
            run_id)

    return doc_stream.writeStream.foreachBatch(handle)


def _against_batch(
    spark, name: str, batch_df: DataFrame, batch_id: int, store,
    sink, threshold: float, include_exact: bool, exclude_self: bool,
    hot_bucket_cap: "int | None", add_clean: bool,
    run_id: "str | None" = None,
) -> None:
    """One idempotent micro-batch of :func:`dedup_against_stream`:
    probe excluding this batch's own index partitions, sink the
    pairs, and (under ``add_clean``) overwrite-add the clean docs
    under ``batch_key=str(batch_id)`` — replaying the same
    (batch_df, batch_id) pair rewrites identical partitions and
    corrects ``n_docs``, so recovery cannot duplicate index rows."""
    from ..ops.dedup_index import dedup_against, dedup_index_add

    if batch_df.isEmpty():
        return
    key = f"{run_id}-{batch_id}" if run_id else str(batch_id)
    pairs = dedup_against(
        spark, name, batch_df, store, threshold=threshold,
        include_exact=include_exact, exclude_self=exclude_self,
        hot_bucket_cap=hot_bucket_cap,
        exclude_batches=[key]).persist()
    full = None
    try:
        sink(pairs, batch_id)
        if add_clean:
            # clean-ness must come from the exact-INCLUSIVE
            # verdict: with include_exact=False the sink's frame
            # deliberately omits known exact duplicates, and
            # appending those would accumulate dups in the index
            # forever. The hot-bucket cap is KEPT for the
            # recompute (dropping it would reintroduce the
            # quadratic hot-bucket join the cap exists to bound —
            # capped-away near pairs count clean, the documented
            # recall trade; boilerplate dups are near-always
            # exact and the fingerprint route still catches
            # them). Threshold applies too: below-threshold
            # similarity is non-duplicate by definition.
            if not include_exact:
                full = dedup_against(
                    spark, name, batch_df, store,
                    threshold=threshold, include_exact=True,
                    exclude_self=exclude_self,
                    hot_bucket_cap=hot_bucket_cap,
                    exclude_batches=[key]).persist()
                verdict = full
            else:
                verdict = pairs  # persisted — reused
            params = store.load(name, "dedup_index")["params"]
            id_col = params["id_col"]
            clean = batch_df.join(
                verdict.select(F.col("new_id").alias(id_col))
                .distinct(),
                id_col, "left_anti")
            if not clean.isEmpty():
                # batch_key=<batch_id>: a replay overwrites its
                # own partitions and corrects n_docs instead of
                # re-appending; 'allow' because the clean set is
                # disjoint from the index BY CONSTRUCTION (the
                # anti-join above) — the conflict scan would be
                # pure cost
                dedup_index_add(spark, name, clean, store,
                                batch_key=key, on_conflict="allow")
    finally:
        pairs.unpersist()
        if full is not None:
            full.unpersist()
