"""Random-walk corpus generation — the DeepWalk / node2vec data step
(Perozzi et al. 2014, "DeepWalk: Online Learning of Social
Representations", KDD; Grover & Leskovec 2016): turn a graph into a
corpus of node sequences that skip-gram-style embedding trainers
consume exactly like sentences. This is where the engine's two halves
meet: the graph side supplies adjacency, the pipeline side treats the
walks as training documents (chunking, dedup, packing all apply).

Spark shape, deterministic by construction:

- neighbors are ranked per source once in SALTED SUB-BUCKETS — each
  neighbor hashes into one of ``n_buckets`` salt buckets and is
  ranked within ``(src, bucket)``, then the global rank is composed
  as ``bucket_offset + local_rank`` from the per-bucket sizes (≤
  ``n_buckets`` rows per source). No window ever partitions by the
  source alone, so a power-law supernode's neighbor list sorts
  across ``n_buckets`` tasks instead of serializing into one —
  the r5 scale defect. ``max_degree`` additionally caps each
  vertex's usable neighbors to the first ``max_degree`` in
  (bucket, v) order — a deterministic uniform-ish sample (bucket
  assignment is a hash of the neighbor id), node2vec's standard
  degree-cap trick;
- each walk step picks ``rank = H(walk_id, step) % degree`` where H is
  the md5-portable 60-bit hash — a seeded pseudo-random but fully
  deterministic choice, so the whole corpus is a pure function of
  (graph, n_walks, walk_length, seed): retries, partitioning, and
  engine replays (pure Python / DuckDB) all agree;
- a step is ONE equi-join of the frontier against the ranked adjacency
  (shuffle keyed by the current vertex), walk_length steps total —
  the same superstep shape as the iterative algorithms, lineage cut
  by localCheckpoint;
- dead ends (out-degree 0) terminate the walk early; the emitted
  sequence keeps the visited prefix, exactly like the reference
  implementations.

Driver state: none (no collects in the loop). Output:
``(walk_id, start, walk array<bigint>)`` — n_walks rows per start
vertex. At 100 TB-scale graphs the per-step shuffle is the cost, and
it is proportional to the number of LIVE walks, not the edge count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .algos import _ckpt, _prepare_ckpt
from .text import md5_hash60


def ranked_adjacency(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_degree: int | None = None, n_buckets: int = 32,
) -> DataFrame:
    """(src, dst, rank, degree): each source's distinct neighbors
    ranked 0..degree-1 — the indexable adjacency the walk step joins
    against. Build once per graph and reuse across walk batches.

    The rank order is ``(salt_bucket, v)`` where ``salt_bucket =
    md5_60('nb:' || v) % n_buckets``: ranking windows partition by
    ``(u, salt_bucket)`` so the widest sort any single task performs
    is ``degree / n_buckets`` rows — a supernode no longer serializes
    into one task (the full per-vertex window was the r5 ``weak``
    finding). Global ranks are composed from per-bucket prefix sums
    (≤ ``n_buckets`` rows per vertex in that window), so they remain
    contiguous ``0..degree-1``.

    ``max_degree`` keeps only the first ``max_degree`` neighbors in
    rank order (degree is capped to match) — because bucket
    assignment hashes the neighbor id, this is a deterministic
    pseudo-random neighbor sample, bounding per-step walk fan-in on
    power-law graphs. Output is a pure function of
    (graph, n_buckets, max_degree)."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if max_degree is not None and max_degree < 1:
        raise ValueError("max_degree must be >= 1 when set")
    nbrs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")) \
        .distinct()
    loc = nbrs.withColumn(
        "_bkt",
        F.pmod(md5_hash60(F.concat(F.lit("nb:"),
                                   F.col("v").cast("string"))),
               F.lit(n_buckets)))
    wloc = Window.partitionBy("u", "_bkt").orderBy("v")
    loc = loc.withColumn("_lr", F.row_number().over(wloc) - 1)
    if max_degree is not None:
        # a row with local rank >= max_degree can never reach a
        # global rank < max_degree (offset >= 0): safe pre-prune —
        # and it BOUNDS every vertex at n_buckets * max_degree rows,
        # so the final per-vertex window below is safe at any skew
        # (two exchanges, no join; Spark's WindowGroupLimit prunes
        # the rank limit map-side)
        loc = loc.filter(F.col("_lr") < max_degree)
        wv = Window.partitionBy("u").orderBy("_bkt", "v")
        capped = (
            loc.withColumn("_gr", F.row_number().over(wv) - 1)
            .filter(F.col("_gr") < max_degree)
        )
        return capped.select(
            "u", "v", F.col("_gr").alias("rank"),
            F.least(
                F.count(F.lit(1)).over(Window.partitionBy("u")),
                F.lit(max_degree)).alias("degree"),
        )
    # uncapped: nothing bounds a per-vertex window, so global ranks
    # compose from per-bucket prefix sums (<= n_buckets rows per
    # vertex in that window) instead
    sizes = loc.groupBy("u", "_bkt").agg(F.count(F.lit(1)).alias("_sz"))
    wpre = (Window.partitionBy("u").orderBy("_bkt")
            .rowsBetween(Window.unboundedPreceding, -1))
    offs = sizes.select(
        "u", "_bkt",
        F.coalesce(F.sum("_sz").over(wpre), F.lit(0)).alias("_off"),
        F.sum("_sz").over(Window.partitionBy("u")).alias("_tot"),
    )
    return loc.join(offs, ["u", "_bkt"]).select(
        "u", "v",
        (F.col("_off") + F.col("_lr")).alias("rank"),
        F.col("_tot").alias("degree"),
    )


def random_walks(
    edges: DataFrame, n_walks: int = 2, walk_length: int = 8,
    src: str = "src", dst: str = "dst", seed: int = 42,
    starts: DataFrame | None = None, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
    max_degree: int | None = None, n_buckets: int = 32,
    ckpt_interval: int = 4,
) -> DataFrame:
    """Generate ``n_walks`` walks of up to ``walk_length`` steps from
    every vertex (or from ``starts``' ``id`` column). Returns
    (walk_id, start, walk) with walk[0] = start; walk_id is globally
    unique and stable (start * n_walks + walk index).

    The neighbor choice at step t is
    ``rank = md5_60('w:{seed}:' || walk_id || ':' || t) % degree`` —
    deterministic, uniform over neighbors, independent across steps
    and walks; every engine that can md5 replays the corpus
    bit-for-bit. ``max_degree``/``n_buckets`` pass through to
    :func:`ranked_adjacency` (degree-capped, salt-bucketed neighbor
    ranking — the 100 TB posture on power-law graphs).

    Vertex ids must be integral: walk_id is derived as
    ``start * n_walks + walk_index``, which is meaningless (silently
    NULL) on string ids — those fail loudly here instead (hash
    string ids to bigints upstream, e.g. via ``xxhash64``).

    r14 optimization (guide §2.4/§5): each step references the state
    ONCE — dead walks ride through the step's left join unmatched
    instead of being filtered out and unioned back — so lineage grows
    by one join per step and a checkpoint every ``ckpt_interval``
    steps (instead of every step) truncates it; intermediate steps
    are no longer materialized. Same walks (the join/filter/project
    arithmetic is unchanged), 1/interval of the per-step barrier
    jobs."""
    checkpoint = _prepare_ckpt(edges, checkpoint, checkpoint_dir)
    if n_walks < 1 or walk_length < 1:
        raise ValueError("n_walks and walk_length must be >= 1")
    if ckpt_interval < 1:
        raise ValueError("ckpt_interval must be >= 1")
    # validate BEFORE the eager adjacency checkpoint: the loud type
    # failure must not cost a full ranked-adjacency job first
    starts = _walk_starts(edges, starts, src, dst, "random_walks")
    adj = _ckpt(
        ranked_adjacency(edges, src, dst, max_degree=max_degree,
                         n_buckets=n_buckets), checkpoint)
    state = starts.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("_w"),
        F.col("id").alias("start"),
    ).select(
        (F.col("start") * n_walks + F.col("_w")).alias("walk_id"),
        "start",
        F.array(F.col("start")).alias("walk"),
        F.col("start").alias("cur"),
        F.lit(True).alias("live"),
    )
    state = _ckpt(state, checkpoint)
    since = 0
    for t in range(1, walk_length):
        h = md5_hash60(F.concat(
            F.lit(f"w:{seed}:"), F.col("walk_id").cast("string"),
            F.lit(":"), F.lit(t).cast("string")))
        state = (
            state.join(adj,
                       state["live"] & (state["cur"] == adj["u"]),
                       "left")
            .filter(F.col("u").isNull()
                    | (F.col("rank") == F.pmod(h, F.col("degree"))))
            .select(
                F.col("walk_id"), F.col("start"),
                F.when(F.col("v").isNull(), F.col("walk"))
                .otherwise(F.concat("walk", F.array("v")))
                .alias("walk"),
                F.coalesce("v", "cur").alias("cur"),
                F.col("v").isNotNull().alias("live"),
            )
        )
        since += 1
        if since >= ckpt_interval and t < walk_length - 1:
            state = _ckpt(state, checkpoint)
            since = 0
    return state.select("walk_id", "start", "walk")


def _walk_starts(edges, starts, src, dst, fn_name):
    """Start-vertex frame for a walk generator, with the integral-id
    check applied BEFORE any eager adjacency work (walk_id = start *
    n_walks + index is meaningless on string ids — fail loudly and
    free, ADVICE r5 / review r6)."""
    if starts is None:
        starts = edges.select(F.col(src).alias("id")).union(
            edges.select(F.col(dst).alias("id"))).distinct()
    else:
        starts = starts.select(F.col("id"))
    id_type = starts.schema["id"].dataType.typeName()
    if id_type not in ("byte", "short", "integer", "long"):
        raise TypeError(
            f"{fn_name} needs integral vertex ids to derive "
            f"walk_id = start * n_walks + index; got '{id_type}' — "
            f"hash non-numeric ids to bigint first")
    return starts


def _uniform_step(live, adj, h, with_prev: bool):
    """One uniform walk step (rank == H % degree): the shared body of
    random_walks' every step and node2vec's first (prev-less) step —
    ``with_prev`` additionally emits the prev column the biased
    sampler threads through."""
    cols = [
        F.col("walk_id"), F.col("start"),
        F.when(F.col("v").isNull(), F.col("walk"))
        .otherwise(F.concat("walk", F.array("v"))).alias("walk"),
        F.coalesce("v", "cur").alias("cur"),
    ]
    if with_prev:
        cols.append(
            F.when(F.col("v").isNotNull(), F.col("cur")).alias("prev"))
    cols.append(F.col("v").isNotNull().alias("live"))
    return (
        live.join(adj, live["cur"] == adj["u"], "left")
        .filter(F.col("u").isNull()
                | (F.col("rank") == F.pmod(h, F.col("degree"))))
        .select(*cols)
    )


def node_embeddings(
    edges: DataFrame, dim: int = 32, n_walks: int = 2,
    walk_length: int = 8, window: int = 2,
    src: str = "src", dst: str = "dst", seed: int = 42,
    max_degree: int | None = None, normalize: bool = True,
    checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
    p: float | None = None, q: float | None = None,
) -> DataFrame:
    """Node embeddings from the walk corpus by RANDOM INDEXING
    (Kanerva et al. 2000; Sahlgren 2005, "An introduction to random
    indexing"): each context vertex gets a seeded ±1 index vector
    (``sign_j(c) = md5_60('emb:{seed}:{j}:' || c) % 2 * 2 - 1``) and
    a vertex's embedding is the INTEGER sum of its skip-gram
    co-occurrence counts times those signs —
    ``e_j(u) = Σ_c n(u,c) * sign_j(c)`` — optionally L2-normalized.
    This is a random projection of the co-occurrence matrix, the
    same family DeepWalk factorizes implicitly (Levy & Goldberg
    2014); compose with ops/stats.pca for a dense whitened basis.

    Chosen over an SGD skip-gram trainer deliberately: SGD needs
    V x dim mutable driver state and per-pair update order breaks
    partition determinism, while this formulation is ONE map-side-
    combinable integer aggregate — order-independent, a pure function
    of (graph, params), bit-for-bit replayable in any engine with
    md5, and driver state ZERO. Downstream ANN / SemDeDup / k-means
    consume the output directly.

    With ``p``/``q`` set the corpus comes from the node2vec biased
    walks instead of the uniform DeepWalk ones (the second-order
    sampler's mandatory degree cap defaults to 64 when unset).

    Returns (id, embedding array<double>). Shuffles: the walk steps
    (∝ live walks), the pair count, and the final per-vertex sum."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if p is not None or q is not None:
        walks = node2vec_walks(
            edges, n_walks=n_walks, walk_length=walk_length,
            p=p if p is not None else 1.0,
            q=q if q is not None else 1.0,
            src=src, dst=dst, seed=seed,
            max_degree=max_degree if max_degree is not None else 64,
            checkpoint=checkpoint, checkpoint_dir=checkpoint_dir)
    else:
        walks = random_walks(
            edges, n_walks=n_walks, walk_length=walk_length, src=src,
            dst=dst, seed=seed, max_degree=max_degree,
            checkpoint=checkpoint, checkpoint_dir=checkpoint_dir)
    pairs = skipgram_pairs(walks, window=window)
    sums = []
    for j in range(dim):
        sign = (
            F.pmod(md5_hash60(F.concat(
                F.lit(f"emb:{seed}:{j}:"),
                F.col("context").cast("string"))), F.lit(2)) * 2 - 1
        )
        sums.append(F.sum(F.col("n") * sign).alias(f"_e{j}"))
    emb = pairs.groupBy(F.col("center").alias("id")).agg(*sums)
    vec = F.array(*[F.col(f"_e{j}").cast("double")
                    for j in range(dim)])
    if normalize:
        nrm = F.sqrt(F.aggregate(
            vec, F.lit(0.0), lambda a, x: a + x * x))
        vec = F.when(nrm > 0, F.transform(vec, lambda x: x / nrm)) \
            .otherwise(vec)
    return emb.select("id", vec.alias("embedding"))


def skipgram_pairs(
    walks: DataFrame, window: int = 2,
) -> DataFrame:
    """(center, context, weight=1) training pairs from walks — the
    skip-gram extraction (every ordered pair within ``window`` hops
    along the walk). Narrow posexplode + self-zip inside each walk
    array; the only shuffle is the final pair-count aggregate."""
    if window < 1:
        raise ValueError("window must be >= 1")
    pos = walks.select(
        "walk_id",
        F.posexplode("walk").alias("i", "center"),
        F.col("walk"),
    )
    # the 1-based window around position i (0-based), excluding i
    # itself BY POSITION — a walk revisiting the center's vertex still
    # yields that legit (center, context=center) pair
    start = F.greatest(F.col("i") - window + 1, F.lit(1))
    end = F.least(F.col("i") + window + 1, F.size("walk"))
    left = F.slice(F.col("walk"), start, F.col("i") + 1 - start)
    right = F.slice(F.col("walk"), F.col("i") + 2, end - F.col("i") - 1)
    return (
        pos.select(
            "center",
            F.explode(F.concat(left, right)).alias("context"),
        )
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def node2vec_walks(
    edges: DataFrame, n_walks: int = 2, walk_length: int = 8,
    p: float = 1.0, q: float = 1.0,
    src: str = "src", dst: str = "dst", seed: int = 42,
    starts: DataFrame | None = None, checkpoint: bool | str = True,
    checkpoint_dir: str | None = None,
    max_degree: int = 64, n_buckets: int = 32,
) -> DataFrame:
    """Second-order biased walks (Grover & Leskovec 2016, "node2vec:
    Scalable feature learning for networks"): the step from ``cur``
    remembers ``prev`` and weights each candidate neighbor ``v`` by

    - ``1/p``  when ``v == prev``          (return),
    - ``1``    when ``prev -> v`` exists   (BFS-ish, stays close),
    - ``1/q``  otherwise                   (DFS-ish, explores out),

    then samples proportionally. Low ``q`` explores (structural
    roles), low ``p`` backtracks (tight communities); ``p=q=1``
    weighs all candidates equally (uniform over neighbors, like
    DeepWalk, though sampled through the weighted mechanism).

    Deterministic INTEGER arithmetic end to end, the house recipe:
    weights are micro-units (``round(1e6/p)`` etc.), each walk-step's
    candidates carry a cumulative weight sum ordered by the adjacency
    rank, and the choice is the unique candidate whose cumulative
    range contains ``md5_60('n2v:{seed}:' || walk_id || ':' || t) %
    total`` — a pure function of (graph, params, seed) that replays
    bit-for-bit in Python or any md5-capable engine.

    Spark shape per step: one fan-out join of the live frontier
    against the degree-capped ranked adjacency (candidates), one
    (prev, v) membership join against the UNCAPPED distinct edge set
    (the distance-1 test — a real edge weighs 1 even when the cap
    pruned it from the candidate sample, ADVICE r6), and one
    per-walk window for the cumulative
    sums — the window partition is BOUNDED by ``max_degree``
    (mandatory here, default 64: the second-order window makes an
    uncapped supernode a single-task sort, so the cap is load-bearing
    rather than optional). First step has no ``prev`` and picks
    uniformly, exactly like :func:`random_walks`.

    Returns (walk_id, start, walk). Dead ends terminate the walk
    with the visited prefix."""
    checkpoint = _prepare_ckpt(edges, checkpoint, checkpoint_dir)
    if n_walks < 1 or walk_length < 1:
        raise ValueError("n_walks and walk_length must be >= 1")
    # bound p/q so every micro-weight is >= 1 (a rounded-to-zero
    # weight class would make a step's total 0 -> pmod NULL -> the
    # walk silently vanishes) and the per-step cumulative sum stays
    # far from long overflow even at large degree caps (review r6)
    if not (1e-6 <= p <= 1e6) or not (1e-6 <= q <= 1e6):
        raise ValueError(
            "p and q must be in [1e-6, 1e6] (integer micro-weights: "
            "round(1e6/x) must stay >= 1 and sums within bigint)")
    if max_degree is None or max_degree < 1:
        raise ValueError(
            "node2vec_walks requires a max_degree cap (the per-walk "
            "candidate window is bounded by it)")
    starts = _walk_starts(edges, starts, src, dst, "node2vec_walks")
    w_ret = int(round(1_000_000 / p))
    w_in = 1_000_000
    w_out = int(round(1_000_000 / q))
    adj = _ckpt(
        ranked_adjacency(edges, src, dst, max_degree=max_degree,
                         n_buckets=n_buckets), checkpoint)
    # distance-1 membership tests against the UNCAPPED edge set: a
    # real prev->v edge must weigh 1 (in) even when max_degree pruned
    # it from the candidate sample — testing against the capped
    # adjacency would mis-weight it 1/q (ADVICE r6). The candidate
    # CAP itself (what v can be stepped to) stays, per standard
    # node2vec neighbor sampling.
    member = _ckpt(
        edges.select(F.col(src).alias("_mp"),
                     F.col(dst).alias("_mv")).distinct(),
        checkpoint)
    state = starts.select(
        F.explode(F.sequence(F.lit(0), F.lit(n_walks - 1))).alias("_w"),
        F.col("id").alias("start"),
    ).select(
        (F.col("start") * n_walks + F.col("_w")).alias("walk_id"),
        "start",
        F.array(F.col("start")).alias("walk"),
        F.col("start").alias("cur"),
        F.lit(None).cast("long").alias("prev"),
        F.lit(True).alias("live"),
    )
    state = _ckpt(state, checkpoint)
    for t in range(1, walk_length):
        h = md5_hash60(F.concat(
            F.lit(f"n2v:{seed}:"), F.col("walk_id").cast("string"),
            F.lit(":"), F.lit(t).cast("string")))
        live = state.filter("live")
        if t == 1:
            # no prev yet: uniform over neighbors, the random_walks
            # step body (shared helper), plus the prev column
            stepped = _uniform_step(live, adj, h, with_prev=True)
        else:
            cands = live.join(adj, live["cur"] == adj["u"], "left")
            dead = cands.filter(F.col("u").isNull()).select(
                "walk_id", "start", "walk", "cur",
                F.lit(None).cast("long").alias("prev"),
                F.lit(False).alias("live"),
            )
            alive = (
                cands.filter(F.col("u").isNotNull())
                .join(member,
                      (F.col("prev") == F.col("_mp"))
                      & (F.col("v") == F.col("_mv")), "left")
                .withColumn(
                    "_wt",
                    F.when(F.col("v") == F.col("prev"), F.lit(w_ret))
                    .when(F.col("_mp").isNotNull(), F.lit(w_in))
                    .otherwise(F.lit(w_out)).cast("long"))
            )
            wcum = (Window.partitionBy("walk_id").orderBy("rank")
                    .rowsBetween(Window.unboundedPreceding, 0))
            wtot = Window.partitionBy("walk_id")
            alive = alive.withColumn("_cum", F.sum("_wt").over(wcum)) \
                .withColumn("_tot", F.sum("_wt").over(wtot))
            pick = F.pmod(h, F.col("_tot"))
            chosen = alive.filter(
                (F.col("_cum") - F.col("_wt") <= pick)
                & (pick < F.col("_cum"))
            ).select(
                "walk_id", "start",
                F.concat("walk", F.array("v")).alias("walk"),
                F.col("v").alias("cur"),
                F.col("cur").alias("prev"),
                F.lit(True).alias("live"),
            )
            stepped = chosen.unionByName(dead)
        state = _ckpt(
            stepped.unionByName(state.filter(~F.col("live"))),
            checkpoint)
    return state.select("walk_id", "start", "walk")
