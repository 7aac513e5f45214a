"""Persisted dedup index — hash the corpus ONCE, dedup every future
batch against it.

The in-memory dedup family (ops/dedup.py) re-shingles and re-minhashes
the FULL corpus on every call — right for exploration, wrong for the
production loop where a 100 TB corpus sits still and new crawl batches
arrive daily. ``build_dedup_index`` does the expensive half once: per-doc
exact fingerprints + MinHash signatures land in a narrow parquet table
(id, fp, signature — ~0.5 KB/doc regardless of document size), and the
LSH band buckets in a second (id, band, bucket) table. ``dedup_against``
then hashes ONLY the new batch (cost ∝ batch, never corpus) and meets
the stored tables in equi-joins:

- exact route: fingerprint equality (identical text modulo 64-bit hash
  collisions — the :func:`~brahmand_spark.ops.dedup.cross_corpus_overlap`
  caveat);
- near route: band-bucket equality (the same banded join as
  :func:`~brahmand_spark.ops.dedup.minhash_lsh_candidates` — only
  same-bucket docs are compared, no all-pairs anywhere), with the
  Jaccard ESTIMATE computed from the stored signatures — the corpus
  TEXT is never re-read, which is the entire point at 100 TB.

``dedup_index_add`` appends a batch's rows (after it has been deduped
and accepted) without rewriting the index. The permutation parameters
are persisted in the ModelStore (kind ``dedup_index``) at build time
and passed back into :func:`~brahmand_spark.ops.dedup.minhash_signatures`
on every later encode, so add/probe batches are guaranteed to use the
index's permutations.

Analogue of the persisted ANN index (ops/similarity.build_ann_index):
fit once / encode once / serve forever, artifacts in the ModelStore,
frames shared with the in-memory operators so results are bit-identical
by construction.

Layout (r9): every table directory holds only ``batch=<key>``
subdirectories — the build lands in ``batch=base`` and each
``dedup_index_add`` call in its own partition. A re-run add with the
same ``batch_key`` OVERWRITES its own partition instead of appending,
which is what makes the streaming ingest loop
(:func:`~brahmand_spark.streaming.dedup_stream.dedup_against_stream`
with ``add_clean=True``) replay-idempotent after a crash — the same
device as ``dedup_stream``'s per-batch partition overwrite.

Scale notes (100 TB posture):
- Probe cost: one narrow scan of the buckets table + a shuffle
  equi-join on (band, bucket); the batch side is small in practice and
  AQE broadcasts it. Signature joins afterwards touch only candidate
  ids. No all-pairs joins; bucket sizes are near-uniform under hashing
  EXCEPT for genuinely duplicate-heavy content (boilerplate pages),
  where a bucket holding B corpus copies × b batch copies emits B·b
  candidate rows — inherent to LSH. ``hot_bucket_cap`` skips corpus
  buckets larger than the cap: the standard skip-common-buckets trade
  — such pairs are overwhelmingly boilerplate exact-dups that the
  fingerprint route still catches.
- The hot set comes from a persisted ``(band, bucket, n)`` STATS
  table maintained incrementally (build writes the merged base, each
  add appends a batch-sized partial-count delta, compaction refolds):
  a capped probe reads the base through a PUSHED ``n > cap`` filter —
  no corpus-side aggregation in the probe plan (r8 verdict: the
  previous implementation re-aggregated the whole buckets table per
  probe, exactly on the boilerplate-heavy corpora that need the cap).
  Delta partials and tombstoned docs are reconciled by batch-sized
  joins only when they exist; deltas auto-fold into the base every
  ``stats_fold_every`` adds (amortized LSM maintenance).
- The reference engine has no dedup surface at all (extension; ref
  README.md feature table) — this is training-data-pipeline surface.
"""

from __future__ import annotations

import os
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import (
    _perm_params,
    band_buckets,
    minhash_signatures,
    sig_agreement,
)

PAIR_COLUMNS = ["new_id", "corpus_id", "est_jaccard", "match_kind"]

#: adds before the stats deltas are folded back into the base (each
#: fold is one aggregation over the stats table — amortized across
#: the window, the standard LSM compaction trade)
DEFAULT_STATS_FOLD_EVERY = 32

#: replay bookkeeping horizon: per-batch row counts kept in the params
#: doc so a replayed ``batch_key`` corrects ``n_docs`` instead of
#: double-counting; replays only ever revisit the most recent batch,
#: so the dict is trimmed FIFO at this size
_BATCH_COUNT_KEEP = 100

_BATCH_KEY_RE = re.compile(r"[A-Za-z0-9_.\-]+\Z")


def _index_parts(
    df: DataFrame,
    perms: list[tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The three probe-side frames, separately (so consumers that
    need only one never pay for the others — the exact route reads
    fingerprints without dragging the MinHash aggregation through a
    join):

    - ``ids_fp``: (id, fp) — one cheap whole-text hash per doc
      (xxhash64, or the SQL-replayable md5-derived 60-bit hash under
      ``hash_fn='portable'``), no shuffle, no spread (one hash per
      row is trivial next to shingling). NULL text ⇒ NULL fp in BOTH
      hash modes — a NULL fingerprint never equi-joins, so
      failed-extraction rows can't all collapse onto one hash value
      and cross-match each other (xxhash64 of a NULL input would
      otherwise return the seed for every such row).
    - ``sig_rows``: (id, signature) — the ``num_hashes``-element
      MinHash array; docs with fewer than ``n`` tokens yield NO row
      (they participate in exact matching only). The expensive frame;
      minhash_signatures spreads its own input.
    - ``buckets``: (id, band, bucket) — the LSH band keys over
      ``sig_rows``."""
    if hash_fn == "portable":
        from .text import md5_hash60

        fp = md5_hash60(F.col(text_col))
    else:
        fp = F.when(F.col(text_col).isNotNull(),
                    F.xxhash64(text_col))
    base = df.select(F.col(id_col), F.col(text_col))
    ids_fp = base.select(F.col(id_col).alias("id"), fp.alias("fp"))
    sig_rows = minhash_signatures(
        base, id_col, text_col, n, num_hashes, seed=0,
        hash_fn=hash_fn, perms=perms)
    buckets = band_buckets(sig_rows, num_hashes, bands, hash_fn)
    return ids_fp, sig_rows, buckets


def dedup_index_frames(
    df: DataFrame,
    perms: list[tuple[int, int]],
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """The persistable index rows for a document frame:

    - ``sigs``: (id, fp, signature) — signature NULL for docs with
      fewer than ``n`` tokens (exact matching only); fp NULL for
      NULL text (never matches).
    - ``buckets``: (id, band, bucket) — the LSH band keys, one row per
      band per signed doc.

    Both :func:`build_dedup_index` (which writes them) and
    :func:`dedup_against` (which computes the same parts for the probe
    batch in-memory) derive from :func:`_index_parts`, so stored and
    probe-side rows are identical by construction."""
    ids_fp, sig_rows, buckets = _index_parts(
        df, perms, id_col, text_col, n, num_hashes, bands, hash_fn)
    sigs = ids_fp.join(sig_rows, "id", "left")
    return sigs.select("id", "fp", "signature"), buckets


def build_dedup_index(
    df: DataFrame, name: str, store,
    id_col: str = "doc_id", text_col: str = "text",
    n: int = 3, num_hashes: int = 64, bands: int = 16, seed: int = 42,
    hash_fn: str = "xxhash64",
    sigs_path: str | None = None, buckets_path: str | None = None,
    stats_fold_every: int = DEFAULT_STATS_FOLD_EVERY,
) -> dict:
    """Build and PERSIST a dedup index over ``df``:

    1. derive the ``num_hashes`` permutation parameters from ``seed``
       (they become part of the index — later batches reuse them);
    2. write the :func:`dedup_index_frames` rows as parquet — one
       full-corpus pass; the signatures table is ~0.5 KB/doc and the
       buckets table 8–16 B/doc/band, independent of document size —
       each under its table's ``batch=base`` partition (adds land in
       sibling ``batch=<key>`` partitions; see module docstring);
    3. aggregate the buckets into the ``(band, bucket, n)`` STATS
       base (read back from the just-written narrow parquet, so the
       corpus is still shingled exactly once) — the table
       ``hot_bucket_cap`` probes consult instead of re-counting;
    4. save the permutations + params in ``store`` (models.ModelStore)
       under ``name``, kind ``dedup_index``.

    Sizing: ``num_hashes``/``bands`` set the match curve exactly as in
    :func:`~brahmand_spark.ops.dedup.minhash_lsh_candidates` — with
    r = num_hashes/bands rows per band, the probe catches a pair of
    true Jaccard s with probability 1-(1-s^r)^bands (64/16 ⇒ ~50 % at
    s≈0.47, >99 % at s≈0.8). ``n`` is the word-shingle width (3 word
    grams by default, like the in-memory family). Returns the saved
    params dict."""
    from .fs import delete_path

    spark = df.sparkSession
    perms = _perm_params(num_hashes, seed)
    if sigs_path is None:
        sigs_path = os.path.join(store.path, f"{name}.dedup.sigs")
    if buckets_path is None:
        buckets_path = os.path.join(store.path, f"{name}.dedup.buckets")
    sigs, _ = dedup_index_frames(
        df, perms, id_col, text_col, n, num_hashes, bands, hash_fn)
    stats_path = buckets_path + ".stats"
    # clear the whole table dirs first: a rebuild must not leave a
    # previous index's batch=<key> partitions beside the new base
    for p in (sigs_path, buckets_path, stats_path):
        delete_path(spark, p)
    # n_docs rides the sigs write as an observed metric (one job
    # instead of write + a separate count-scan job; guide §2.4 — at
    # build time batch=base is the whole table, so the metric equals
    # the old re-read count exactly)
    from pyspark.sql import Observation

    obs = Observation()
    (sigs.observe(obs, F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(f"{sigs_path}/batch=base"))
    n_docs = int(obs.get["n"])
    # Bands derive from the JUST-WRITTEN narrow signatures, not from
    # the in-memory frame: the sigs and buckets writes are separate
    # jobs, and a lazy ``buckets`` would re-run the corpus-sized
    # shingle + MinHash aggregation a second time (r14; the corpus is
    # now hashed exactly once, as the module docstring promises).
    # Identical rows — banding is a pure function of the signatures.
    buckets = band_buckets(
        spark.read.parquet(f"{sigs_path}/batch=base")
        .filter(F.col("signature").isNotNull())
        .select("id", "signature"),
        num_hashes, bands, hash_fn)
    buckets.write.mode("overwrite").parquet(
        f"{buckets_path}/batch=base")
    (spark.read.parquet(buckets_path)
     .groupBy("band", "bucket").agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").parquet(f"{stats_path}/batch=base"))
    params = {
        "id_col": id_col, "text_col": text_col, "n": n,
        "num_hashes": num_hashes, "bands": bands, "seed": seed,
        "hash_fn": hash_fn, "sigs_path": sigs_path,
        "buckets_path": buckets_path, "stats_path": stats_path,
        "n_docs": n_docs, "batch_counts": {}, "stats_deltas": 0,
        "stats_fold_every": int(stats_fold_every),
    }
    store.save(name, "dedup_index", {"perms": [list(p) for p in perms]},
               params)
    return params


def _load_index(store, name: str) -> tuple[dict, list[tuple[int, int]]]:
    doc = store.load(name, "dedup_index")
    perms = [tuple(p) for p in doc["payload"]["perms"]]
    return doc["params"], perms


def _is_legacy(params: dict) -> bool:
    """True for a pre-r9 flat-layout index (no stats table, plain
    appends). Probes fall back to on-the-fly hot-bucket aggregation
    and adds keep appending; rebuild to upgrade."""
    return "stats_path" not in params


def _fold_stats(spark, params: dict) -> None:
    """Merge all stats delta partitions back into ``batch=base``:
    one aggregation over the stats table (≤ one row per distinct
    bucket per batch), write-new-then-swap. Called automatically by
    :func:`dedup_index_add` every ``stats_fold_every`` adds and by
    :func:`dedup_index_compact`."""
    from .fs import delete_path, replace_dir

    sp = params["stats_path"]
    merged = (spark.read.parquet(sp)
              .groupBy("band", "bucket").agg(F.sum("n").alias("n")))
    tmp = sp + ".fold"
    delete_path(spark, tmp)
    merged.write.mode("overwrite").parquet(f"{tmp}/batch=base")
    replace_dir(spark, tmp, sp)


def dedup_index_add(
    spark, name: str, new_docs: DataFrame, store,
    id_col: str | None = None, text_col: str | None = None,
    batch_key: str | None = None, on_conflict: str = "error",
) -> dict:
    """Append a document batch to a persisted dedup index WITHOUT
    touching existing rows: encode with the STORED permutations and
    write into the batch's own ``batch=<key>`` partition of each
    table — per-batch cost ∝ batch. Returns the updated params.

    ``batch_key`` names the partition (``[A-Za-z0-9_.-]+``, not
    ``base``); re-adding the SAME key OVERWRITES that partition and
    corrects ``n_docs`` instead of double-counting — the replay-
    idempotence contract the streaming ingest loop relies on. With
    no key a fresh anonymous one is generated (plain append
    semantics).

    ``on_conflict`` governs ids already present in the index
    (duplicated ids would silently inflate ``n_docs`` and double
    every later probe's pair rows for that doc):

    - ``'error'`` (default): raise if any batch id is already
      indexed — one narrow id scan of the sigs table, the same cost
      the tombstone guard pays;
    - ``'skip'``: silently drop already-indexed ids from the batch
      (same scan, as an anti-join);
    - ``'allow'``: trust the caller, no scan — the pre-r9 behavior;
      right when the batch is known-disjoint (the normal
      ``dedup_against``-then-add loop, and the streaming path whose
      batches are pre-deduped).

    The batch's own partition never counts as a conflict, so a
    replayed half-written batch passes its own guard."""
    from .tombstones import reject_tombstoned

    params, perms = _load_index(store, name)
    icol = id_col or params["id_col"]
    legacy = _is_legacy(params)
    if on_conflict not in ("error", "skip", "allow"):
        raise ValueError(
            f"on_conflict must be 'error', 'skip' or 'allow' "
            f"(got {on_conflict!r})")
    if batch_key is not None:
        if legacy:
            raise ValueError(
                f"index '{name}' predates the batch-partitioned "
                f"layout; rebuild it (build_dedup_index) to use "
                f"batch_key replay semantics")
        if batch_key == "base" or not _BATCH_KEY_RE.match(batch_key):
            raise ValueError(
                f"batch_key must match [A-Za-z0-9_.-]+ and not be "
                f"'base' (got {batch_key!r})")
    key = batch_key if batch_key is not None else f"a-{uuid.uuid4().hex}"
    # tombstone guard FIRST: a tombstoned id is still physically in
    # the sigs table, so the conflict scan would otherwise claim it
    # with the less actionable 'already present' message
    reject_tombstoned(
        spark, new_docs.select(F.col(icol).alias("id")), "id",
        _deletes_path(params), name, "dedup_index_compact")
    if on_conflict != "allow":
        existing = spark.read.parquet(params["sigs_path"])
        if not legacy:
            # a replayed batch's half-written rows are its own, not
            # a conflict — partition-pruned exclusion
            existing = existing.filter(F.col("batch") != F.lit(key))
        existing_ids = existing.select(F.col("id").alias(icol))
        if on_conflict == "error":
            clash = new_docs.select(icol).join(
                existing_ids, icol, "leftsemi").limit(1).count()
            if clash:
                raise ValueError(
                    f"batch contains ids already present in index "
                    f"'{name}' — re-adding would duplicate their "
                    f"rows and inflate n_docs; use "
                    f"on_conflict='skip' to drop them or 'allow' if "
                    f"this is intentional")
        else:  # skip
            new_docs = new_docs.join(existing_ids, icol, "left_anti")
    sigs, _ = dedup_index_frames(
        new_docs, perms,
        icol, text_col or params["text_col"],
        params["n"], params["num_hashes"], params["bands"],
        params["hash_fn"])
    # Materialize the signatures with lineage CUT before touching the
    # index files: the caller's new_docs plan may itself READ this
    # index (dedup_against_stream's add_clean anti-joins the probe
    # result), and Spark recaches/re-evaluates any plan over a path
    # that was just written — a lazy frame would recompute against
    # the half-updated index between the two appends (observed: the
    # buckets append then writes rows for the WRONG doc set and the
    # doc count reads 0). localCheckpoint pins the pre-append
    # snapshot as plain RDD blocks no recache can re-derive;
    # batch-sized by contract. Bands derive from the CHECKPOINTED
    # signatures (r14) — the batch is hashed once, and the derived
    # frame can't see the half-updated index either, so it needs no
    # checkpoint of its own.
    # the batch count rides the checkpoint job as an observed metric
    # (r14) — counting the BATCH, not the whole table: re-counting the
    # index after every append would make per-add cost grow with
    # corpus size, against the module's per-batch-cost contract
    from pyspark.sql import Observation

    _obs = Observation()
    sigs = sigs.observe(
        _obs, F.count(F.lit(1)).alias("n")).localCheckpoint()
    buckets = band_buckets(
        sigs.filter(F.col("signature").isNotNull())
        .select("id", "signature"),
        params["num_hashes"], params["bands"], params["hash_fn"])
    n_new = _obs.get["n"]
    if legacy:
        sigs.write.mode("append").parquet(params["sigs_path"])
        buckets.write.mode("append").parquet(params["buckets_path"])
        params["n_docs"] = int(params["n_docs"]) + n_new
        store.save(name, "dedup_index",
                   {"perms": [list(p) for p in perms]}, params)
        return params
    fold_every = int(params.get("stats_fold_every",
                                DEFAULT_STATS_FOLD_EVERY))
    if int(params.get("stats_deltas", 0)) >= fold_every:
        # fold BEFORE writing this batch's delta, so a replay of this
        # batch can't be double-absorbed; a replay that re-runs a
        # fold only over-counts stats (hot-set upper bound — the
        # conservative direction for a skip heuristic)
        _fold_stats(spark, params)
        params["stats_deltas"] = 0
    # per-batch partial counts (batch-sized; derives from the
    # checkpointed buckets, so it cannot see the post-write index)
    stats_part = buckets.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("n"))
    sigs.write.mode("overwrite").parquet(
        f"{params['sigs_path']}/batch={key}")
    buckets.write.mode("overwrite").parquet(
        f"{params['buckets_path']}/batch={key}")
    stats_part.write.mode("overwrite").parquet(
        f"{params['stats_path']}/batch={key}")
    bc = dict(params.get("batch_counts", {}))
    prev = bc.get(key)
    params["n_docs"] = int(params["n_docs"]) + n_new - int(prev or 0)
    if prev is None:
        params["stats_deltas"] = int(params.get("stats_deltas", 0)) + 1
    bc[key] = n_new
    while len(bc) > _BATCH_COUNT_KEEP:
        del bc[next(iter(bc))]
    params["batch_counts"] = bc
    store.save(name, "dedup_index", {"perms": [list(p) for p in perms]},
               params)
    return params


def _deletes_path(params: dict) -> str:
    return params["sigs_path"] + ".deletes"


def _live(spark, params: dict, df: "DataFrame") -> "DataFrame":
    """Filter out tombstoned ids (anti-join against the deletes
    table, when one exists). The tombstone table holds only REMOVED
    ids — small by design; :func:`dedup_index_compact` folds it in
    and clears it."""
    from .tombstones import anti_tombstones

    return anti_tombstones(spark, df, "id", _deletes_path(params))


def dedup_index_remove(
    spark, name: str, ids, store,
) -> dict:
    """Remove documents from a persisted dedup index WITHOUT
    rewriting it: append their ids to a tombstone table (the LSM
    delete pattern — O(batch) per call); every probe anti-joins the
    tombstones, so removed docs stop matching immediately.

    ``ids``: a DataFrame whose FIRST column holds the doc ids, or a
    Python list of ids (any id type — string keys stay strings). Ids
    already tombstoned (or never present) are ignored — removal is
    idempotent and ``n_docs`` only counts ids that were actually
    live. Run :func:`dedup_index_compact` when the tombstone table
    has grown enough to matter."""
    from .tombstones import append_tombstones, coerce_ids

    params, perms = _load_index(store, name)
    n_removed = append_tombstones(
        spark,
        coerce_ids(spark, ids, "id", like_path=params["sigs_path"]),
        "id", params["sigs_path"], _deletes_path(params))
    if n_removed:
        params["n_docs"] = int(params["n_docs"]) - n_removed
        store.save(name, "dedup_index",
                   {"perms": [list(p) for p in perms]}, params)
    return params


def dedup_index_compact(spark, name: str, store) -> dict:
    """Fold the tombstones in: rewrite the signatures and buckets
    tables without removed docs (all batch partitions fold back into
    ``batch=base``), recompute the bucket STATS base exactly from the
    live buckets, and clear the deletes table — the corpus-sized
    maintenance pass that keeps probe-time anti-joins cheap.
    Write-new-then-swap (never in-place: Spark cannot overwrite its
    own input); run without concurrent probes OR a live ingest stream
    (a crash-replayed micro-batch from before the compact would
    re-add docs the compact already folded into base), or on
    snapshot-isolating storage."""
    from .fs import delete_path, path_exists
    from .tombstones import compact_parquet, compact_parquet_to_batch

    params, perms = _load_index(store, name)
    dp = _deletes_path(params)
    if not path_exists(spark, dp):
        return params
    if _is_legacy(params):
        for path in (params["sigs_path"], params["buckets_path"]):
            compact_parquet(spark, path, dp, "id")
    else:
        for path in (params["sigs_path"], params["buckets_path"]):
            compact_parquet_to_batch(spark, path, dp, "id")
        # stats rebuild EXACTLY from the compacted live buckets (no
        # delta fold first — its output would be overwritten here)
        sp = params["stats_path"]
        stats = (spark.read.parquet(params["buckets_path"])
                 .groupBy("band", "bucket")
                 .agg(F.count(F.lit(1)).alias("n")))
        tmp = sp + ".fold"
        delete_path(spark, tmp)
        stats.write.mode("overwrite").parquet(f"{tmp}/batch=base")
        from .fs import replace_dir

        replace_dir(spark, tmp, sp)
        params["batch_counts"] = {}
        params["stats_deltas"] = 0
    delete_path(spark, dp)
    params["n_docs"] = spark.read.parquet(
        params["sigs_path"]).count()
    store.save(name, "dedup_index",
               {"perms": [list(p) for p in perms]}, params)
    return params


def _hot_buckets(
    spark, params: dict, cap: int,
    s_buckets_raw: DataFrame, s_buckets_live: DataFrame,
    exclude: list[str],
) -> DataFrame:
    """The (band, bucket) hot set for ``hot_bucket_cap`` — buckets
    whose LIVE corpus occupancy exceeds ``cap``:

    - base verdicts come from the persisted stats table through a
      PUSHED ``n > cap`` filter on the partition-pruned ``batch=base``
      scan — no aggregation over anything corpus-sized;
    - buckets touched by add DELTAS or TOMBSTONES (both batch-scale
      by the module's contracts) get exact totals via a small
      aggregate + a join back onto the base counts, and their base
      verdict is replaced — so a tombstone-cooled bucket un-skips and
      a delta-heated one skips, matching what a full recount would
      say (replays between a crash and its retry can briefly
      over-count — the conservative direction for a skip heuristic;
      compaction restores exactness);
    - legacy (pre-r9) indexes with no stats table fall back to the
      on-the-fly aggregation over the buckets table."""
    from .fs import path_exists

    if _is_legacy(params) or not path_exists(spark, params["stats_path"]):
        return (
            s_buckets_live.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > int(cap))
            .select("band", "bucket")
        )
    stats = spark.read.parquet(params["stats_path"])
    base = stats.filter(F.col("batch") == "base")
    hot = (base.filter(F.col("n") > int(cap))
           .select("band", "bucket"))
    has_deltas = int(params.get("stats_deltas", 0)) > 0
    has_tombs = path_exists(spark, _deletes_path(params))
    if not (has_deltas or has_tombs):
        return hot
    adjs = []
    if has_deltas:
        delta = stats.filter(F.col("batch") != "base")
        if exclude:
            delta = delta.filter(~F.col("batch").isin(exclude))
        adjs.append(delta.select(
            "band", "bucket", F.col("n").cast("long").alias("adj")))
    if has_tombs:
        dels = spark.read.parquet(_deletes_path(params)).select("id")
        dead = (s_buckets_raw.join(dels, "id", "leftsemi")
                .groupBy("band", "bucket")
                .agg((-F.count(F.lit(1))).alias("adj")))
        adjs.append(dead)
    adj = adjs[0]
    for a in adjs[1:]:
        adj = adj.unionByName(a)
    adj = adj.groupBy("band", "bucket").agg(F.sum("adj").alias("adj"))
    tot = (adj.join(base.select("band", "bucket",
                                F.col("n").cast("long").alias("bn")),
                    ["band", "bucket"], "left")
           .select("band", "bucket",
                   (F.coalesce(F.col("bn"), F.lit(0))
                    + F.col("adj")).alias("n2")))
    hot_adj = tot.filter(F.col("n2") > int(cap)).select("band", "bucket")
    return (
        hot.join(tot.select("band", "bucket"),
                 ["band", "bucket"], "left_anti")
        .unionByName(hot_adj)
    )


def dedup_against(
    spark, name: str, batch: DataFrame, store,
    threshold: float = 0.5, include_exact: bool = True,
    exclude_self: bool = False, hot_bucket_cap: int | None = None,
    id_col: str | None = None, text_col: str | None = None,
    exclude_batches: list[str] | None = None,
) -> DataFrame:
    """Dedup a new document batch AGAINST a persisted index: returns
    (new_id, corpus_id, est_jaccard, match_kind) — one row per
    (batch doc, indexed doc) duplicate pair found, ``match_kind``
    'exact' (identical text by whole-text fingerprint; est_jaccard
    1.0) or 'near' (same LSH bucket in ≥1 band AND signature-estimated
    Jaccard ≥ ``threshold``). Only the BATCH is shingled and hashed;
    the corpus side is served entirely from the stored narrow tables.

    ``exclude_self`` (default False — a crawl batch's id space is
    normally disjoint from the corpus) drops candidates whose
    corpus_id equals the new_id: pass True when probing the index
    with a slice of its own corpus, where the self-pair is a
    tautology. Left False otherwise so an accidental numeric
    collision can't silently hide a true duplicate (the ann_search
    convention, ops/similarity.py).

    ``hot_bucket_cap`` (optional) skips corpus buckets holding more
    than that many LIVE docs before the candidate join — bounds the
    B·b candidate blow-up on boilerplate-heavy corpora at a
    documented recall cost (such pairs are near-always exact dups the
    fingerprint route still catches). Served from the persisted stats
    table — a pushed filtered scan, never a corpus-side aggregation
    (see :func:`_hot_buckets`).

    ``exclude_batches`` drops the named ``batch=<key>`` index
    partitions from the corpus side (partition-pruned) — how a
    crash-replayed streaming micro-batch avoids colliding with its
    own half-written add (streaming/dedup_stream.dedup_against_stream)."""
    params, perms = _load_index(store, name)
    if batch.isStreaming:
        raise ValueError(
            "dedup_against takes a BATCH frame; dedup a STREAM with "
            "streaming.dedup_stream or run this per micro-batch via "
            "foreachBatch")
    b_fp, b_sig_rows, b_buckets = _index_parts(
        batch, perms,
        id_col or params["id_col"], text_col or params["text_col"],
        params["n"], params["num_hashes"], params["bands"],
        params["hash_fn"])
    s_sigs_raw = spark.read.parquet(params["sigs_path"])
    s_buckets_raw = spark.read.parquet(params["buckets_path"])
    excl = list(exclude_batches or [])
    if excl and "batch" in s_sigs_raw.columns:
        s_sigs_raw = s_sigs_raw.filter(~F.col("batch").isin(excl))
        s_buckets_raw = s_buckets_raw.filter(
            ~F.col("batch").isin(excl))
    s_sigs = _live(spark, params, s_sigs_raw)
    s_buckets = _live(spark, params, s_buckets_raw)
    if hot_bucket_cap is not None:
        hot = _hot_buckets(spark, params, int(hot_bucket_cap),
                           s_buckets_raw, s_buckets, excl)
        s_buckets = s_buckets.join(hot, ["band", "bucket"], "left_anti")

    def _self(pairs: DataFrame) -> DataFrame:
        if exclude_self:
            return pairs.filter(F.col("new_id") != F.col("corpus_id"))
        return pairs

    # exact route: fp-only frames on both sides (the probe side never
    # touches the MinHash aggregation; NULL fps drop in the equi-join)
    exact = _self(
        b_fp.select(F.col("id").alias("new_id"), "fp")
        .join(s_sigs.select(F.col("id").alias("corpus_id"), "fp"), "fp")
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    # near candidates: bucket-equality join, ids only through the
    # shuffle; signatures join back onto the (far smaller) candidate
    # set — the minhash_lsh_candidates shape with the corpus side
    # read from parquet instead of recomputed.
    cands = _self(
        b_buckets.select(F.col("id").alias("new_id"), "band", "bucket")
        .join(s_buckets.select(F.col("id").alias("corpus_id"),
                               "band", "bucket"),
              ["band", "bucket"])
        .select("new_id", "corpus_id")
        .dropDuplicates(["new_id", "corpus_id"])
    )
    near = (
        cands
        .join(b_sig_rows.select(F.col("id").alias("new_id"),
                                F.col("signature").alias("sig_a")),
              "new_id")
        .join(s_sigs.select(F.col("id").alias("corpus_id"),
                            F.col("signature").alias("sig_b")),
              "corpus_id")
        .withColumn("est_jaccard", sig_agreement(params["num_hashes"]))
        .filter(F.col("est_jaccard") >= float(threshold))
        .join(exact, ["new_id", "corpus_id"], "left_anti")
        .select("new_id", "corpus_id", "est_jaccard",
                F.lit("near").alias("match_kind"))
    )
    if not include_exact:
        return near.select(*PAIR_COLUMNS)
    exact_rows = exact.select(
        "new_id", "corpus_id",
        F.lit(1.0).alias("est_jaccard"),
        F.lit("exact").alias("match_kind"))
    return exact_rows.unionByName(near).select(*PAIR_COLUMNS)
