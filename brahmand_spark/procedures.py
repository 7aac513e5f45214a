"""Graph-algorithm procedures callable from Cypher (extension — the
reference has no CALL; this is the Neo4j-GDS-shaped surface over
``ops/algos``, so the analytics half of the engine is reachable from
the same query language as the traversal half).

``CALL graph.pagerank('FOLLOWS', 5) YIELD id, rank ORDER BY rank DESC
LIMIT 10`` — the procedure builds the edge list straight from the
relationship's catalog entry (from/to id columns, the same physical
columns the MATCH planner joins on) and returns the algorithm's
DataFrame; YIELD projects/renames, WHERE/ORDER BY/SKIP/LIMIT compile
through the same ExprCompiler as any query. The iterative algorithms
are NOT lazy: each checkpoints its prologue and every superstep with
``localCheckpoint(eager=True)``, so their Spark jobs run inside the
call, and the returned frame reads the last checkpoint when the caller
acts.

Projection reuse (``graph.pagerank``): the pagerank prologue (vertex
set, degree-joined edges, dangling set) is a projection of the held
entry of the relationship's table (``resident.Held``), keyed by its
from/to columns, and reused while that entry is current: while
``session.tables`` still holds the frame the entry was built from.
Every commit installs a new frame object (``writes._store``, a
rolled-back batch's snapshot restore, ``register_table``), so object
identity is the table version, and the entry that replaces the old
one drops its projections, so Spark's cleaner can free their
checkpoint blocks. A relationship read from a path or view on each
call has no entry and is never cached, and a call that raises drops
its projection. Every procedure reads a relationship's edges through
``GraphSchema.edge_rows``, so an FK-backed relationship's rows with a
NULL foreign key are no edges.

Procedure args are positional literals (or ``$parameters``), mirroring
each ops/algos signature's leading arguments.
"""

from __future__ import annotations

import json as _json
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .compile.expressions import ExprCompiler
from .compile.scope import ScalarBinding, Scope
from .errors import PlanError
from .io import local_frame
from .parser import ast


def _rel(session, rel_type: str):
    rel = session.schema.relationships.get(rel_type)
    if rel is None:
        raise PlanError(
            f"unknown relationship type '{rel_type}' "
            f"(known: {sorted(session.schema.relationships)})")
    return rel


def _src_dst(session, df: DataFrame, rel) -> DataFrame:
    """The (src, dst) edges of ``rel`` in ``df``, its table."""
    return session.schema.edge_rows(rel, df).select(
        F.col(rel.from_column).alias("src"),
        F.col(rel.to_column).alias("dst"),
    )


def _edges(session, rel_type: str) -> DataFrame:
    rel = _rel(session, rel_type)
    return _src_dst(session, session._load_for_label(rel_type), rel)


def _sources(session, ids) -> DataFrame:
    vals = ids if isinstance(ids, (list, tuple)) else [ids]
    return local_frame(
        session.spark, [(int(v),) for v in vals], "id bigint")


def _p_pagerank(session, rel, iterations=10, damping=0.85,
                sources=None):
    """Optional 4th arg: a seed id or id list -> PERSONALIZED
    PageRank (random walk with restart to the seeds). The prologue is
    reused across calls while the relationship's registered frame is
    unchanged (module docstring)."""
    from .ops.algos import pagerank_loop, pagerank_prologue

    r = _rel(session, rel)
    held = session._entry(rel)
    key = ("pagerank", r.from_column, r.to_column)
    if held is None:
        prologue = pagerank_prologue(_edges(session, rel))
    else:
        prologue = held.projection(
            key, lambda df: pagerank_prologue(_src_dst(session, df, r)))
    try:
        return pagerank_loop(
            prologue, iterations=int(iterations), damping=float(damping),
            sources=None if sources is None else _sources(session, sources))
    except Exception:
        # lost checkpoint blocks cost one failed call, not a dead
        # projection
        if held is not None:
            held.projections.pop(key, None)
        raise


def _p_wcc(session, rel, algorithm="hashmin"):
    from .ops.algos import connected_components

    return connected_components(_edges(session, rel),
                                algorithm=algorithm)


def _p_scc(session, rel, max_rounds=20):
    from .ops.algos import strongly_connected_components

    return strongly_connected_components(
        _edges(session, rel), max_rounds=int(max_rounds))


def _p_lpa(session, rel, max_iterations=5):
    from .ops.algos import label_propagation

    return label_propagation(_edges(session, rel),
                             max_iterations=int(max_iterations))


def _p_kcore(session, rel, k):
    from .ops.algos import k_core

    return k_core(_edges(session, rel), int(k))


def _p_triangles(session, rel):
    from .ops.algos import triangle_count

    return triangle_count(_edges(session, rel))


def _p_degrees(session, rel):
    from .ops.algos import degrees

    return degrees(_edges(session, rel))


def _p_bfs(session, rel, source, max_hops=10):
    from .ops.algos import bfs_distances

    return bfs_distances(_edges(session, rel),
                         _sources(session, source),
                         max_hops=int(max_hops))


def _p_sssp(session, rel, weight_prop, source, max_iterations=20):
    from .ops.algos import sssp_weighted

    r = _rel(session, rel)
    if weight_prop not in r.column_names:
        raise PlanError(
            f"relationship '{rel}' has no property '{weight_prop}' "
            f"(has: {r.column_names})")
    df = session.schema.edge_rows(r, session._load_for_label(rel))
    edges = df.select(
        F.col(r.from_column).alias("src"),
        F.col(r.to_column).alias("dst"),
        F.col(weight_prop).alias("weight"),
    )
    return sssp_weighted(edges, _sources(session, source),
                         max_iterations=int(max_iterations))


def _p_harmonic(session, rel, n_samples=None, max_hops=10):
    from .ops.algos import harmonic_centrality

    return harmonic_centrality(
        _edges(session, rel),
        n_samples=None if n_samples is None else int(n_samples),
        max_hops=int(max_hops))


def _p_clustering_coeff(session, rel):
    from .ops.algos import clustering_coefficient

    return clustering_coefficient(_edges(session, rel))


def _p_mis(session, rel, seed=42):
    from .ops.algos import maximal_independent_set

    return maximal_independent_set(_edges(session, rel),
                                   seed=int(seed))


def _p_betweenness(session, rel, n_samples=None, max_hops=10):
    from .ops.algos import betweenness_centrality

    return betweenness_centrality(
        _edges(session, rel),
        n_samples=None if n_samples is None else int(n_samples),
        max_hops=int(max_hops))


def _p_walks(session, rel, n_walks=2, walk_length=8, seed=42,
             max_degree=None):
    """Deterministic random-walk corpus over a catalog relationship
    (ops/walks.random_walks — the DeepWalk data step from Cypher);
    ``max_degree`` caps each vertex's usable neighbors (the supernode
    sample for power-law graphs)."""
    from .ops.walks import random_walks

    return random_walks(
        _edges(session, rel), n_walks=int(n_walks),
        walk_length=int(walk_length), seed=int(seed),
        max_degree=None if max_degree is None else int(max_degree))


def _p_node2vec(session, rel, n_walks=2, walk_length=8, p=1.0, q=1.0,
                seed=42, max_degree=64):
    """Second-order biased walk corpus over a catalog relationship
    (ops/walks.node2vec_walks — Grover & Leskovec 2016; integer
    micro-weight sampling, deterministic)."""
    from .ops.walks import node2vec_walks

    return node2vec_walks(
        _edges(session, rel), n_walks=int(n_walks),
        walk_length=int(walk_length), p=float(p), q=float(q),
        seed=int(seed), max_degree=int(max_degree))


def _p_embeddings(session, rel, dim=32, n_walks=2, walk_length=8,
                  window=2, seed=42, max_degree=None, p=None, q=None):
    """Node embeddings over a catalog relationship
    (ops/walks.node_embeddings — random-indexing projection of the
    walk co-occurrence matrix): (id, embedding array<double>),
    unit-normalized; feed straight into corpus.semdedup / ANN. Pass
    ``p``/``q`` to train on the node2vec biased corpus instead of
    the uniform walks."""
    from .ops.walks import node_embeddings

    return node_embeddings(
        _edges(session, rel), dim=int(dim), n_walks=int(n_walks),
        walk_length=int(walk_length), window=int(window),
        seed=int(seed),
        max_degree=None if max_degree is None else int(max_degree),
        p=None if p is None else float(p),
        q=None if q is None else float(q))


def _p_corpus_profile(session, label, exact=False):
    """Data-card profile of a registered node/relationship table
    (ops/profile.profile_corpus through the catalog)."""
    from .ops.profile import profile_corpus

    return profile_corpus(session._load_for_label(label),
                          exact_distinct=bool(exact))


def _p_corpus_histogram(session, label, column, bins=20):
    from .ops.profile import numeric_histogram

    return numeric_histogram(session._load_for_label(label),
                             column, bins=int(bins))


def _p_corpus_url_dedup(session, label, url_col="url",
                        id_col="doc_id", max_docs_per_domain=None):
    """URL front-door curation over a catalog table
    (ops/urls.curate_urls): normalize + URL-exact dedup + optional
    per-domain cap; returns the survivors with
    url_norm/host/registered_domain attached."""
    from .ops.urls import curate_urls

    return curate_urls(
        session._load_for_label(label), url_col=url_col,
        id_col=id_col,
        max_docs_per_domain=(None if max_docs_per_domain is None
                             else int(max_docs_per_domain)))


def _p_corpus_dedup_minhash(session, label, threshold=0.7,
                            id_col="doc_id", text_col="text",
                            num_hashes=64, bands=16):
    """Near-duplicate candidate pairs over a catalog table via MinHash
    LSH banding (ops/dedup.minhash_lsh_candidates): (id_a, id_b,
    est_jaccard) with est_jaccard >= threshold."""
    from .ops.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        session._load_for_label(label), id_col, text_col,
        num_hashes=int(num_hashes), bands=int(bands),
    ).filter(F.col("est_jaccard") >= float(threshold))


def _p_corpus_dedup_groups(session, label, threshold=0.7,
                           id_col="doc_id", text_col="text"):
    """Transitive near-duplicate GROUPS (MinHash LSH candidate graph
    -> connected components, the ops/pipeline.curate dedup stage):
    (doc_id, group, keep) for every document — keep = smallest id of
    its group; singletons keep themselves."""
    from pyspark.sql import functions as F2

    from .ops.algos import connected_components
    from .ops.dedup import minhash_lsh_candidates

    docs = session._load_for_label(label)
    pairs = minhash_lsh_candidates(docs, id_col, text_col)         .filter(F2.col("est_jaccard") >= float(threshold))
    comps = connected_components(
        pairs.select(F2.col("id_a").alias("src"),
                     F2.col("id_b").alias("dst")))
    return (
        docs.select(F2.col(id_col))
        .join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F2.coalesce("component", F2.col(id_col)).alias("group"),
        )
        .withColumn("keep", F2.col(id_col) == F2.col("group"))
    )


def _p_corpus_semdedup(session, label, threshold=0.95, k=8,
                       id_col="vec_id", vec_col="embedding"):
    """SemDeDup decision per vector of a catalog embedding table
    (ops/semdedup.semdedup): (id, cluster, keep). ``k <= 0`` (r11)
    auto-sizes k = ceil(sqrt(N)) — the scaling default."""
    from .ops.semdedup import semdedup

    return semdedup(session._load_for_label(label),
                    k=int(k) if int(k) > 0 else None,
                    threshold=float(threshold), id_col=id_col,
                    vec_col=vec_col)


def _p_corpus_bm25(session, label, query, k=20,
                   id_col="doc_id", text_col="text"):
    """BM25 top-k over a catalog document table (ops/search.bm25_topk);
    ``query`` is a whitespace-separated term string or a term list."""
    from .ops.search import bm25_topk

    terms = query.split() if isinstance(query, str) else [
        str(t) for t in query]
    return bm25_topk(session._load_for_label(label), terms, k=int(k),
                     text_col=text_col, id_col=id_col)


def _p_corpus_curate(session, label, languages="en", min_quality=0.3,
                     est_threshold=0.7, id_col="doc_id",
                     text_col="text", benchmark_label=None):
    """End-to-end curation (ops/pipeline.curate: language -> quality ->
    exact dedup -> transitive near-dedup -> [decontaminate] -> split)
    of a catalog document table; returns the surviving documents with
    their ``split`` column. ``benchmark_label`` names a catalog table
    of eval documents to decontaminate against (r8)."""
    from .ops.pipeline import curate

    langs = (languages,) if isinstance(languages, str) else tuple(
        str(x) for x in languages)
    out, _ = curate(
        session._load_for_label(label), id_col=id_col,
        text_col=text_col, languages=langs,
        min_quality=float(min_quality),
        est_threshold=float(est_threshold),
        benchmark=(session._load_for_label(benchmark_label)
                   if benchmark_label else None),
    )
    return out


def _p_corpus_pca(session, label, k=8, id_col="vec_id",
                  vec_col="embedding", model=None):
    """PCA projection of a catalog embedding table
    (ops/stats.pca: one exact-decimal Gram aggregate + numpy eigh +
    codegen'd literal-dot projection). With ``model`` set, the fit is
    loaded from the session's model store when present, else fitted
    once and SAVED under that name — later calls (even in new
    sessions) reuse the identical components."""
    from .ops.stats import pca, pca_fit, pca_transform

    df = session._load_for_label(label)
    if model is None:
        return pca(df, k=int(k), id_col=id_col, vec_col=vec_col)
    store = session.model_store
    if store.exists(model):
        doc = store.load(model, "pca")
        _check_model_params(doc, model, k=int(k))
        mean, comps = doc["payload"]["mean"], doc["payload"]["components"]
    else:
        mean, comps, var = pca_fit(df, int(k), vec_col)
        store.save_pca(model, mean, comps, var, k=int(k),
                       label=label, vec_col=vec_col)
    return pca_transform(df, mean, comps, id_col, vec_col)


def _p_corpus_quality_lr(session, label, ref_label, min_score=0.5,
                         dim=4096, epochs=8, id_col="doc_id",
                         text_col="text", model=None):
    """Learned quality filter (ops/classifier.quality_filter_lr):
    train a hashed-feature logistic regression reference-vs-corpus
    and keep documents scoring >= min_score. With ``model`` set, the
    weight vector is loaded from the session's model store when
    present, else trained once and SAVED under that name."""
    from .ops.classifier import quality_filter_lr, train_text_classifier

    df = session._load_for_label(label)
    weights = None
    if model is not None:
        store = session.model_store
        if store.exists(model):
            doc = store.load(model, "lr_weights")
            _check_model_params(doc, model, dim=int(dim))
            weights = doc["payload"]
        else:
            weights = train_text_classifier(
                session._load_for_label(ref_label), df, text_col,
                id_col, int(dim), int(epochs))
            store.save_lr_weights(model, weights, dim=int(dim),
                                  epochs=int(epochs), label=label,
                                  ref_label=ref_label)
    return quality_filter_lr(
        df,
        None if weights is not None
        else session._load_for_label(ref_label),
        min_score=float(min_score), text_col=text_col, id_col=id_col,
        dim=int(dim), epochs=int(epochs), weights=weights)


def _check_model_params(doc: dict, name: str, **wanted) -> None:
    """A loaded model must match the shape the caller asked for —
    silently returning an 8-component projection when k=16 was
    requested hands back wrong-shaped results with no error."""
    from .errors import CatalogError

    params = doc.get("params", {})
    for key, want in wanted.items():
        have = params.get(key)
        if have is not None and have != want:
            raise CatalogError(
                f"saved model '{name}' was fitted with {key}={have}, "
                f"but {key}={want} was requested — delete the model "
                f"or match its parameters")


def _p_corpus_lang_id(session, label, method="markers", model=None,
                      sample_label=None, id_col="doc_id",
                      text_col="text", dim=1024, epochs=6, n=3):
    """Language ID over a catalog document table (ops/text.lang_id).
    ``method='lr'``: the trained one-vs-rest char-``n``-gram model —
    loaded from the store under ``model`` when present (the stored
    fit's ``n``/``dim`` are validated against the request), else
    trained from ``sample_label`` (a catalog table with ``lang`` +
    text columns) and SAVED under ``model`` with its fit params."""
    from .ops.text import lang_id

    if method not in ("markers", "lr"):
        raise PlanError(
            f"corpus.lang_id method must be 'markers' or 'lr', "
            f"got {method!r}")
    df = session._load_for_label(label)
    if method != "lr":
        return lang_id(df, text_col, id_col)
    store = session.model_store
    if model is not None and store.exists(model):
        doc = store.load(model, "lang_lr")
        _check_model_params(doc, model, dim=int(dim), n=int(n))
        models = doc["payload"]
    else:
        if sample_label is None:
            raise PlanError(
                "corpus.lang_id(method='lr') needs a saved model "
                "name or a sample_label table (doc_id, text, lang) "
                "to train from")
        from .ops.classifier import train_lang_classifier

        models = train_lang_classifier(
            session._load_for_label(sample_label), text_col=text_col,
            id_col=id_col, dim=int(dim), epochs=int(epochs), n=int(n))
        if model is not None:
            store.save_lang_lr(model, models, dim=int(dim),
                               epochs=int(epochs), n=int(n))
    return lang_id(df, text_col, id_col, method="lr", models=models,
                   n=int(n))


def _p_corpus_image_near_dup(session, label, max_hamming=5,
                             method="dhash", id_col="id",
                             binary_col="content"):
    """Perceptual-hash image near-dup pairs over a catalog table with
    a binary image column (ops/multimodal.image_near_dup_pairs)."""
    from .ops.multimodal import image_near_dup_pairs

    return image_near_dup_pairs(
        session._load_for_label(label), id_col=id_col,
        binary_col=binary_col, max_hamming=int(max_hamming),
        method=method)


def _p_corpus_image_dedup_groups(session, label, max_hamming=5,
                                 method="dhash", id_col="id",
                                 binary_col="content"):
    """Transitive image near-duplicate GROUPS: perceptual-hash pair
    graph (corpus.image_near_dup) -> connected components; (id,
    group, keep) for every image — keep = smallest id of its group,
    singletons keep themselves (the text dedup_groups contract over
    the image pair graph)."""
    from .ops.algos import connected_components
    from .ops.multimodal import image_near_dup_pairs

    imgs = session._load_for_label(label)
    pairs = image_near_dup_pairs(
        imgs, id_col=id_col, binary_col=binary_col,
        max_hamming=int(max_hamming), method=method)
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"),
                     F.col("id_b").alias("dst")))
    return (
        imgs.select(F.col(id_col))
        .join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("group"),
        )
        .withColumn("keep", F.col(id_col) == F.col("group"))
    )


def _p_corpus_image_dedup_against(session, new_label, phash_label,
                                  max_hamming=5, method="dhash",
                                  id_col="id", binary_col="content"):
    """Probe a NEW image table against a stored perceptual-hash table
    (ops/multimodal.image_dedup_against): only the batch decodes; the
    corpus side is served from the 8-byte-per-image hash table. Rows:
    (new_id, corpus_id, hamming)."""
    from .ops.multimodal import image_dedup_against

    return image_dedup_against(
        session._load_for_label(new_label),
        session._load_for_label(phash_label),
        id_col=id_col, binary_col=binary_col,
        max_hamming=int(max_hamming), method=method)


def _p_corpus_decontaminate(session, train_label, eval_label, n=8,
                            min_shared=1):
    """Benchmark decontamination (ops/dedup.decontaminate): one
    verdict row per train document — eval-overlap counts and the
    contaminated drop flag. The eval side is benchmark-sized, so the
    shingle-hash join broadcasts it and the train side never
    shuffles."""
    from .ops.dedup import decontaminate

    return decontaminate(
        session._load_for_label(train_label),
        session._load_for_label(eval_label),
        n=int(n), min_shared=int(min_shared))


def _p_corpus_build_dedup_index(session, label, name, n=3,
                                num_hashes=64, bands=16,
                                id_col="doc_id", text_col="text"):
    """Build and persist a dedup index over a catalog document table
    (ops/dedup_index.build_dedup_index): fingerprints + MinHash
    signatures + LSH band buckets written once beside the model
    store, permutations saved under ``name``. One metadata row
    back."""
    from .ops.dedup_index import build_dedup_index

    params = build_dedup_index(
        session._load_for_label(label), name, session.model_store,
        id_col=id_col, text_col=text_col, n=int(n),
        num_hashes=int(num_hashes), bands=int(bands))
    return local_frame(
        session.spark,
        [(name, label, int(params["n_docs"]),
          int(params["num_hashes"]), int(params["bands"]),
          params["sigs_path"])],
        "name string, label string, n_docs long, num_hashes int, "
        "bands int, sigs_path string")


def _p_corpus_dedup_add(session, name, label, on_conflict="error"):
    """Append a catalog document table's rows to a persisted dedup
    index without rewriting it (ops/dedup_index.dedup_index_add):
    encode with the STORED permutations, partitioned append.
    ``on_conflict``: 'error' (default) | 'skip' | 'allow' — what to
    do with ids already present in the index."""
    from .ops.dedup_index import dedup_index_add

    params = dedup_index_add(
        session.spark, name, session._load_for_label(label),
        session.model_store, on_conflict=on_conflict)
    return local_frame(
        session.spark, [(name, label, int(params["n_docs"]))],
        "name string, label string, n_docs long")


def _p_corpus_dedup_remove(session, name, label, id_col="doc_id"):
    """Tombstone a catalog table's ids out of a persisted dedup index
    (ops/dedup_index.dedup_index_remove — O(batch), no rewrite)."""
    from .ops.dedup_index import dedup_index_remove

    params = dedup_index_remove(
        session.spark, name,
        session._load_for_label(label).select(id_col),
        session.model_store)
    return local_frame(
        session.spark,
        [(name, int(params["n_docs"]))], "name string, n_docs long")


def _p_corpus_dedup_compact(session, name):
    """Fold a dedup index's tombstones in (ops/dedup_index.
    dedup_index_compact — rewrite-and-swap, clears the deletes)."""
    from .ops.dedup_index import dedup_index_compact

    params = dedup_index_compact(session.spark, name,
                                 session.model_store)
    return local_frame(
        session.spark,
        [(name, int(params["n_docs"]))], "name string, n_docs long")


def _p_vector_remove(session, name, label, id_col="vec_id"):
    """Tombstone a catalog table's ids out of a persisted ANN index
    (ops/similarity.ann_remove)."""
    from .ops.similarity import ann_remove

    params = ann_remove(
        session.spark, name,
        session._load_for_label(label).select(id_col),
        session.model_store)
    return local_frame(
        session.spark, [(name, int(params["n_vectors"]))],
        "name string, n_vectors long")


def _p_vector_compact(session, name):
    """Fold an ANN index's tombstones in (ops/similarity.ann_compact)."""
    from .ops.similarity import ann_compact

    params = ann_compact(session.spark, name, session.model_store)
    return local_frame(
        session.spark, [(name, int(params["n_vectors"]))],
        "name string, n_vectors long")


def _p_corpus_dedup_against(session, name, label, threshold=0.5,
                            include_exact=True, exclude_self=False):
    """Dedup a catalog document table AGAINST a persisted index
    (ops/dedup_index.dedup_against): only the probe batch is hashed;
    the corpus side is served from the stored narrow tables. Rows:
    (new_id, corpus_id, est_jaccard, match_kind)."""
    from .ops.dedup_index import dedup_against

    return dedup_against(
        session.spark, name, session._load_for_label(label),
        session.model_store, threshold=float(threshold),
        include_exact=bool(include_exact),
        exclude_self=bool(exclude_self))


def _p_vector_build_index(session, label, name, n_cells=16, m=4,
                          n_codes=16, id_col="vec_id",
                          vec_col="embedding"):
    """Build and persist an IVF-PQ index over a catalog embedding
    table (ops/similarity.build_ann_index): codes parquet partitioned
    by cell beside the model store, centroids+codebooks saved under
    ``name``. Records the source LABEL so vector.search can re-rank
    without re-specifying the corpus. One metadata row back."""
    from .ops.similarity import build_ann_index

    params = build_ann_index(
        session._load_for_label(label), name, session.model_store,
        id_col=id_col, vec_col=vec_col, n_cells=int(n_cells),
        m=int(m), n_codes=int(n_codes))
    # record the catalog label for corpus-free searches
    doc = session.model_store.load(name, "ann_index")
    doc["params"]["source_label"] = label
    session.model_store.save(name, "ann_index", doc["payload"],
                             doc["params"])
    return local_frame(
        session.spark,
        [(name, label, int(params["n_vectors"]),
          int(params["n_cells"]), int(params["m"]),
          int(params["n_codes"]), params["codes_path"])],
        "name string, label string, n_vectors long, n_cells int, "
        "m int, n_codes int, codes_path string")


def _p_vector_add(session, name, label, id_col=None, vec_col=None,
                  reindex_skew=None):
    """Append a catalog embedding table's rows to a persisted index
    without refitting (ops/similarity.ann_add): encode with the
    stored artifacts, partitioned append of the codes. The LABEL
    joins the index's recorded source labels, so vector.search's
    exact re-rank covers the added rows too (r7 review).

    ``reindex_skew`` (r10 — the maintenance auto-trigger): after the
    add, when the cell-occupancy skew (max/mean live per cell, the
    vector.stats signal) exceeds the threshold, refit in place from
    the recorded source labels (vector.reindex's corpus assembly).
    The returned row carries (last_skew, reindexed)."""
    from .ops.similarity import ann_add, ann_reindex, ann_skew

    store = session.model_store
    # validate the trigger BEFORE anything is written — the same
    # fail-fast contract ann_add's own reindex_skew enforces (review
    # r10: a bad threshold previously raised after the append, leaving
    # a half-applied add behind an error that implied none happened)
    if reindex_skew is not None and float(reindex_skew) <= 1.0:
        raise PlanError(
            f"reindex_skew must exceed 1.0, got {reindex_skew}")
    params = ann_add(session.spark, name,
                     session._load_for_label(label), store,
                     id_col=id_col, vec_col=vec_col)
    doc = store.load(name, "ann_index")
    labels = _source_labels(doc["params"])
    if label not in labels:
        labels = labels + [label]
        doc["params"]["source_labels"] = labels
        doc["params"].pop("source_label", None)
        store.save(name, "ann_index", doc["payload"], doc["params"])
    skew, reindexed = None, False
    if reindex_skew is not None:
        skew = ann_skew(session.spark, name, store)
        if skew > float(reindex_skew):
            # select only (id, vec) per label: the reindex needs
            # nothing else, and labels with differing extra columns
            # would otherwise break the union (r10 advice)
            icol = doc["params"]["id_col"]
            vcol = doc["params"]["vec_col"]
            corpus = None
            for lbl in labels:
                t = session._load_for_label(lbl).select(icol, vcol)
                corpus = t if corpus is None else corpus.unionByName(t)
            params = ann_reindex(session.spark, name, store,
                                 corpus=corpus)
            reindexed = True
    return local_frame(
        session.spark,
        [(name, label, int(params["n_vectors"]), skew, reindexed)],
        "name string, label string, n_vectors long, "
        "last_skew double, reindexed boolean")


def _source_labels(params: dict) -> list:
    """Recorded source labels — normalizes the single source_label
    key into the list form."""
    if params.get("source_labels"):
        return list(params["source_labels"])
    return [params["source_label"]] if params.get("source_label") else []


def _p_vector_search(session, name, query_label, k=10, nprobe=4,
                     rerank=None, exclude_self=True,
                     allowed_label=None, allowed_id_col="vec_id"):
    """Top-k search against a persisted IVF-PQ index
    (ops/similarity.ann_search): queries come from a catalog table;
    the corpus for the exact re-rank is the index's recorded source
    label (vector.build_index) or source_path. Pass
    ``exclude_self=false`` when the query table's ids are unrelated
    to the corpus ids. ``allowed_label`` (r8) names a catalog table
    whose ids pre-filter the index — a FILTERED search (top-k fills
    from allowed candidates only)."""
    from .ops.similarity import ann_search

    store = session.model_store
    doc = store.load(name, "ann_index")
    corpus = None
    for lbl in _source_labels(doc["params"]):
        t = session._load_for_label(lbl)
        corpus = t if corpus is None else corpus.unionByName(t)
    allowed = None
    if allowed_label is not None:
        allowed = session._load_for_label(allowed_label).select(
            allowed_id_col)
    return ann_search(
        session.spark, name, session._load_for_label(query_label),
        store, k=int(k), nprobe=int(nprobe),
        rerank=None if rerank is None else int(rerank), corpus=corpus,
        exclude_self=bool(exclude_self), allowed_ids=allowed)


def _p_vector_stats(session, name):
    """Cell-occupancy histogram of a persisted ANN index
    (ops/similarity.ann_stats) — the drift monitor: one aggregate
    over the narrow codes table, tombstones excluded. Heavy skew
    after many vector.add batches means the frozen fits no longer
    match the corpus: run vector.reindex."""
    from .ops.similarity import ann_stats

    return ann_stats(session.spark, name, session.model_store)


def _p_vector_reindex(session, name, n_cells=None, m=None,
                      n_codes=None):
    """Refit + re-encode a persisted ANN index in place
    (ops/similarity.ann_reindex): fresh centroids/codebooks from the
    CURRENT corpus (recorded source labels), one re-encode pass,
    write-swap, tombstones folded. Sizing overridable. One metadata
    row back."""
    from .ops.similarity import ann_reindex

    store = session.model_store
    doc = store.load(name, "ann_index")
    corpus = None
    for lbl in _source_labels(doc["params"]):
        t = session._load_for_label(lbl)
        corpus = t if corpus is None else corpus.unionByName(t)
    params = ann_reindex(
        session.spark, name, store, corpus=corpus,
        n_cells=None if n_cells is None else int(n_cells),
        m=None if m is None else int(m),
        n_codes=None if n_codes is None else int(n_codes))
    return local_frame(
        session.spark,
        [(name, int(params["n_vectors"]), int(params["n_cells"]),
          int(params["m"]), int(params["n_codes"]))],
        "name string, n_vectors long, n_cells int, m int, "
        "n_codes int")


def _p_db_models(session):
    """List the session's persisted fit artifacts (models.ModelStore):
    one metadata row per saved model."""
    rows = [(m["name"], m["kind"], _json.dumps(m["params"], sort_keys=True))
            for m in session.model_store.list_models()]
    return local_frame(
        session.spark, rows, "name string, kind string, params string")


def _p_db_indexes(session):
    """One introspection surface over BOTH persisted index families
    (r10, VERDICT r9 #7): a row per dedup index and ANN index with
    the operational health counters an operator watches for drift —
    live size, add-batch count, stats-delta fold depth (dedup),
    tombstone count, and ANN cell-occupancy skew (max/mean live rows
    per cell from ann_stats; several x means run vector.reindex).
    Sizing config rides as one JSON string. Tombstone counts and the
    skew are one narrow aggregate per index; everything else is
    metadata from the model document."""
    from .ops.dedup_index import _deletes_path
    from .ops.fs import path_exists
    from .ops.similarity import _ann_deletes_path, ann_skew

    spark = session.spark
    store = session.model_store

    def tomb_count(path: str) -> int:
        if not path_exists(spark, path):
            return 0
        return spark.read.parquet(path).count()

    rows = []
    # list_models already parsed every document's params — no
    # per-index store.load re-reads (review r10)
    for m in store.list_models():
        p = m["params"]
        if m["kind"] == "dedup_index":
            cfg = {k: p[k] for k in ("n", "num_hashes", "bands")
                   if k in p}
            rows.append((
                m["name"], "dedup_index", int(p.get("n_docs", 0)),
                len(p.get("batch_counts", {})),
                int(p.get("stats_deltas", 0)),
                tomb_count(_deletes_path(p)), None,
                _json.dumps(cfg, sort_keys=True)))
        elif m["kind"] == "ann_index":
            cfg = {k: p[k] for k in ("n_cells", "m", "n_codes", "dim")
                   if k in p}
            rows.append((
                m["name"], "ann_index", int(p.get("n_vectors", 0)),
                len(p.get("batch_counts", {})), None,
                tomb_count(_ann_deletes_path(p)),
                ann_skew(spark, m["name"], store),
                _json.dumps(cfg, sort_keys=True)))
    return local_frame(
        spark, rows, "name string, kind string, n_live bigint, "
                     "add_batches int, stats_delta_depth int, "
                     "tombstones bigint, cell_skew double, config string")


def _p_db_labels(session):
    """Catalog introspection: one row per node label (metadata-sized
    driver DataFrame, like Neo4j's db.labels)."""
    rows = [
        (n.label, n.table_name, n.node_id, len(n.column_names))
        for n in session.schema.nodes.values()
    ]
    return local_frame(
        session.spark, rows,
        "label string, table string, id_column string, n_properties int")


def _p_db_relationships(session):
    rows = [
        (r.type_name, r.table_name, r.from_node, r.to_node,
         r.from_column, r.to_column, bool(r.adj_index))
        for r in session.schema.relationships.values()
    ]
    return local_frame(
        session.spark, rows,
        "type string, table string, from_node string, to_node string, "
        "from_column string, to_column string, adj_index boolean")


PROCEDURES: dict[str, Callable] = {
    "db.labels": _p_db_labels,
    "db.relationships": _p_db_relationships,
    "db.models": _p_db_models,
    "db.indexes": _p_db_indexes,
    "corpus.profile": _p_corpus_profile,
    "corpus.histogram": _p_corpus_histogram,
    "corpus.url_dedup": _p_corpus_url_dedup,
    "corpus.dedup_minhash": _p_corpus_dedup_minhash,
    "corpus.dedup_groups": _p_corpus_dedup_groups,
    "corpus.semdedup": _p_corpus_semdedup,
    "corpus.bm25": _p_corpus_bm25,
    "corpus.curate": _p_corpus_curate,
    "corpus.quality_lr": _p_corpus_quality_lr,
    "corpus.pca": _p_corpus_pca,
    "corpus.lang_id": _p_corpus_lang_id,
    "corpus.image_near_dup": _p_corpus_image_near_dup,
    "corpus.decontaminate": _p_corpus_decontaminate,
    "corpus.build_dedup_index": _p_corpus_build_dedup_index,
    "corpus.dedup_add": _p_corpus_dedup_add,
    "corpus.dedup_against": _p_corpus_dedup_against,
    "corpus.dedup_remove": _p_corpus_dedup_remove,
    "corpus.dedup_compact": _p_corpus_dedup_compact,
    "corpus.image_dedup_groups": _p_corpus_image_dedup_groups,
    "corpus.image_dedup_against": _p_corpus_image_dedup_against,
    "vector.build_index": _p_vector_build_index,
    "vector.add": _p_vector_add,
    "vector.search": _p_vector_search,
    "vector.remove": _p_vector_remove,
    "vector.compact": _p_vector_compact,
    "vector.stats": _p_vector_stats,
    "vector.reindex": _p_vector_reindex,
    "graph.pagerank": _p_pagerank,
    "graph.wcc": _p_wcc,
    "graph.scc": _p_scc,
    "graph.lpa": _p_lpa,
    "graph.kcore": _p_kcore,
    "graph.triangles": _p_triangles,
    "graph.degrees": _p_degrees,
    "graph.bfs": _p_bfs,
    "graph.sssp": _p_sssp,
    "graph.harmonic": _p_harmonic,
    "graph.betweenness": _p_betweenness,
    "graph.clustering": _p_clustering_coeff,
    "graph.mis": _p_mis,
    "graph.walks": _p_walks,
    "graph.node2vec": _p_node2vec,
    "graph.embeddings": _p_embeddings,
}


def _eval_arg(e: ast.Expr, params: dict):
    if isinstance(e, ast.Literal):
        return e.value
    if isinstance(e, ast.Parameter):
        if e.name not in params:
            raise PlanError(f"missing parameter ${e.name}")
        return params[e.name]
    if isinstance(e, ast.ListLiteral):
        return [_eval_arg(x, params) for x in e.items]
    raise PlanError(
        "procedure arguments must be literals or $parameters")


def run_call(session, stmt: ast.CallProcedure,
             params: dict | None = None) -> DataFrame:
    params = params or {}
    proc = PROCEDURES.get(stmt.name)
    if proc is None:
        raise PlanError(
            f"unknown procedure '{stmt.name}' "
            f"(known: {sorted(PROCEDURES)})")
    args = [_eval_arg(a, params) for a in stmt.args]
    try:
        df = proc(session, *args)
    except TypeError as exc:
        raise PlanError(f"CALL {stmt.name}: {exc}") from exc
    if stmt.yields:
        cols = []
        for item in stmt.yields:
            name = item.expr.name
            if name not in df.columns:
                raise PlanError(
                    f"CALL {stmt.name} yields no column '{name}' "
                    f"(has: {df.columns})")
            cols.append(F.col(name).alias(item.alias or name))
        df = df.select(*cols)
    scope = Scope()
    df_dtypes = dict(df.dtypes)
    for c in df.columns:
        scope.bind(ScalarBinding(alias=c, dtype=df_dtypes.get(c)))
    ec = ExprCompiler(scope, params)
    if stmt.where is not None:
        df = df.filter(ec.compile(stmt.where))
    if stmt.order_by:
        df = df.orderBy(*[
            ec.compile(o.expr).asc() if o.ascending
            else ec.compile(o.expr).desc()
            for o in stmt.order_by
        ])
    if stmt.skip is not None:
        df = df.offset(stmt.skip)
    if stmt.limit is not None:
        df = df.limit(stmt.limit)
    return df
