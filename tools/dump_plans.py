"""Generate PLANS.md: formatted physical plans of representative queries
with scale commentary. Run: PYTHONPATH=/root/repo python3 tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

SHOWCASES = [
    (
        "Spatial bbox predicate stays a parquet PushedFilter (r12)",
        """MATCH (c:Customer)
           WHERE point.withinBBox(point({x: c.c_acctbal, y: 0.0}),
                 point({x: 0.0, y: -1.0}), point({x: 1000.0, y: 1.0}))
           RETURN c.c_custkey AS ck""",
        "point() is a plain struct and withinBBox plain comparisons "
        "(compile/spatial.py): Catalyst constant-folds the corner "
        "structs away and the residual c_acctbal range lands in the "
        "scan's PushedFilters — spatial filtering at 100 TB is scan "
        "pruning inside WholeStageCodegen, never a UDF pass.",
    ),
    (
        "Three-hop traversal with filters + implicit GROUP BY",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)
           WHERE o.o_totalprice > 300000 AND c.c_acctbal > 0
           RETURN c.c_name AS name, count(*) AS n""",
        "FK-edge fusion collapses the chain to one scan per TABLE "
        "(customer ⋈ orders ⋈ lineitem — the edge 'tables' are FK "
        "projections of the node tables, so no separate edge scans or "
        "back-joins); AQE picks broadcast/shuffled hash joins; both "
        "WHERE conjuncts reach their parquet scans as PushedFilters; "
        "ReadSchema shows only referenced columns are read. At cluster "
        "scale the same plan shuffles on the join keys; skewed keys are "
        "split by AQE skew-join (enabled in io.configure).",
    ),
    (
        "Either-direction same-label hop (UNION DISTINCT of orientations)",
        """MATCH (a:Customer)-[:NEXT_CUST]-(b:Customer)
           WHERE a.c_custkey <= 10
           RETURN a.c_custkey AS src, b.c_custkey AS dst""",
        "The undirected hop unions both edge orientations then "
        "de-duplicates (the reference's UNION DISTINCT device, "
        "graph_traversal_planning.rs:524-616); Catalyst pushes the "
        "frontier filter into BOTH union branches.",
    ),
    (
        "Pattern comprehension (grouped collect_list LEFT-joined back)",
        """MATCH (c:Customer) WHERE c.c_custkey <= 100
           RETURN c.c_custkey AS ck,
                  [ (c)-[:PLACED]->(o:Order)
                    WHERE o.o_totalprice > 150000 | o.o_orderkey ]
                  AS big""",
        "The comprehension compiles onto the COUNT { } rewrite "
        "machinery (r7): the sub-pattern assembles independently, its "
        "map values collect per anchor-id group (array_sort for "
        "determinism), and ONE left join attaches the hidden list "
        "column with coalesce-to-[] for no-match rows — never a "
        "per-row loop. The inner WHERE pushes into the sub-pattern's "
        "orders scan.",
    ),
    (
        "Correlated CALL { } with a chained WITH (per-invocation agg)",
        """MATCH (c:Customer) WHERE c.c_custkey <= 100
           CALL { WITH c MATCH (c)-[:PLACED]->(o:Order)
                  WITH o WHERE o.o_totalprice > 100000
                  RETURN count(*) AS n }
           RETURN c.c_custkey AS ck, n""",
        "The block is ONE relational plan (r7): the anchor re-scans "
        "inside it, the intermediate WITH implicitly carries the "
        "anchor columns, the all-aggregate RETURN groups by the "
        "anchor id and LEFT-joins back with count->0 — openCypher's "
        "per-row semantics without any per-row execution.",
    ),
    (
        "Correlated CALL { } with UNION ALL arms (per-arm agg + union)",
        """MATCH (c:Customer) WHERE c.c_custkey <= 100
           CALL { WITH c MATCH (c)-[:PLACED]->(o:Order)
                  WHERE o.o_totalprice > 300000
                  RETURN count(*) AS n
                  UNION ALL
                  WITH c MATCH (c)-[:PLACED]->(o:Order)
                  RETURN count(*) AS n }
           RETURN c.c_custkey AS ck, n""",
        "Each arm compiles independently (anchor re-scan + per-anchor "
        "aggregate); ALL-aggregate arms complete against the outer "
        "anchor-id set BEFORE the union (count->0 rows per "
        "invocation), the arms union, and ONE join attaches the "
        "result back on the anchor ids — openCypher's per-row UNION "
        "semantics with zero per-row execution (r8).",
    ),
    (
        "WITH pipeline (aggregate, filter, re-match)",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE o.o_totalprice > 300000
           WITH DISTINCT c
           MATCH (c)-[:CUST_IN]->(n:Nation)
           RETURN n.n_name AS nation, count(*) AS big_spenders""",
        "The WITH boundary is just a node in the single DataFrame plan — "
        "no materialization; Catalyst plans across it (note the filter on "
        "o_totalprice at the scan, below the distinct).",
    ),
    (
        "Temporal literals + duration arithmetic + truncation "
        "(r10; r11: offset literal + chained accessor; r12: named "
        "IANA zone)",
        """MATCH (e:Event)
           WHERE e.ts >= datetime('2024-01-07T19:00:00[America/New_York]')
             AND e.ts < datetime('2024-01-08') + duration('P7D')
           WITH e.ts AS t, e.event_type AS et, e.ts.year AS y
           RETURN datetime.truncate('day', t) AS d, et, y,
                  count(*) AS cnt, min(t.dayOfWeek) AS dw""",
        "duration('P7D') folds to an interval CONSTANT at plan time "
        "(compile/temporal.py — no UDFs anywhere in the temporal "
        "surface), and the NAMED-ZONE literal (r12; offsets since "
        "r11) normalizes to its UTC instant at compile time through "
        "the system tz database, DST-correct (New York at 19:00 EST "
        "-> the same 2024-01-08 00:00 bound), so BOTH window bounds "
        "reach the events parquet scan as PushedFilters on ts; the "
        "chained accessor on the raw node property (e.ts.year, r11 — "
        "typed from the table schema, no WITH hop) and date_trunc are "
        "native JVM expressions inside WholeStageCodegen. A year of "
        "100 TB events prunes to the probed window at the scan, "
        "which is the "
        "entire game for event-time queries.",
    ),
]


def _dedup_probe(spark, docs, store_dir):
    """Build a dedup index over 4/5 of the docs and return the probe
    plan for the held-out fifth (id-shifted, disjoint id space)."""
    from pyspark.sql import functions as F

    from brahmand_spark.models import ModelStore
    from brahmand_spark.ops.dedup_index import (
        build_dedup_index, dedup_against,
    )

    store = ModelStore(store_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0).select(
        "doc_id", "text")
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    build_dedup_index(corpus, "plans_dix", store)
    return dedup_against(spark, "plans_dix", batch, store,
                         threshold=0.5)


def _dedup_probe_capped(spark, docs, store_dir):
    """Capped probe against the index `_dedup_probe` already built —
    the hot set must come from the persisted stats base, not a
    corpus-side aggregation (r9)."""
    from pyspark.sql import functions as F

    from brahmand_spark.models import ModelStore
    from brahmand_spark.ops.dedup_index import dedup_against

    store = ModelStore(store_dir)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    return dedup_against(spark, "plans_dix", batch, store,
                         threshold=0.5, hot_bucket_cap=8)


def main() -> None:
    from pyspark.sql import SparkSession

    from brahmand_spark.graphs.tpch import build_session

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .appName("dump_plans")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    session = build_session(spark, SF_DIR)

    # Separate session with the PLACED adjacency index materialized —
    # shows the planner-integrated grouped-adjacency traversal.
    adj_session = build_session(spark, SF_DIR)
    adj_session.build_adj_index("PLACED")
    adj_showcase = (
        "Grouped-adjacency hop (ADJ INDEX(true) planner integration)",
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE c.c_custkey <= 100
           RETURN c.c_custkey AS src, o.o_orderkey AS dst""",
        "PLACED carries an adjacency index, so the eligible hop scans "
        "the pre-grouped {rel}_outgoing table and explodes neighbors "
        "(the reference's arrayJoin(bitmapToArray(...)) analogue) — no "
        "edge-table join; the frontier filter pushes into the "
        "adjacency scan. Hops with rel filters/projections fall back "
        "to the edge list automatically.",
    )

    # Extension-operator showcases (DataFrame API, not Cypher).
    from pyspark.sql import functions as F

    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.dedup import simhash_near_pairs
    from brahmand_spark.ops.search import bm25_topk
    from brahmand_spark.ops.sketches import hll_distinct
    from brahmand_spark.ops.temporal import as_of_join

    docs = read_parquet(spark, f"{SF_DIR}/documents.parquet")
    ev = read_parquet(spark, f"{SF_DIR}/events.parquet")
    li = read_parquet(spark, f"{SF_DIR}/lineitem.parquet")
    ext_showcases = [
        (
            "AS-OF join (union-and-carry, exactly one Exchange)",
            as_of_join(
                ev.filter(F.col("event_type") == "purchase")
                .select("user_id", "ts", "value"),
                ev.filter(F.col("event_type") == "click")
                .select("user_id", "ts", "value"),
                "user_id",
            ),
            "One keyed-window shuffle carries the latest right payload "
            "forward (last_value ignoreNulls over ts-ordered union); no "
            "range self-join, no per-key explosion — the single Exchange "
            "is the window's, identical at any scale.",
        ),
        (
            "HyperLogLog distinct sketch (map-side-combinable registers)",
            hll_distinct(li, "l_orderkey",
                         ["l_returnflag", "l_linestatus"]),
            "The register build is one hash-aggregate shuffle on "
            "(group, bucket) with map-side partial aggregation — at most "
            "2^p rows per group survive the combine regardless of corpus "
            "size; the estimator fold is a tiny per-group aggregate in "
            "exact integer arithmetic.",
        ),
        (
            "SimHash near-pairs (hamming filtered before any shuffle)",
            simhash_near_pairs(docs, max_hamming=3, hash_fn="portable"),
            "Fingerprint arrays ride through the chunk-bucket self-join "
            "and the statically-unrolled bit_count(xor) Hamming sum runs "
            "INSIDE whole-stage codegen on the join output — the "
            "quadratic candidate set is cut to true near-pairs map-side, "
            "before the only pair-level shuffle (the dedup).",
        ),
        (
            "BM25 top-k (corpus-wide TakeOrderedAndProject)",
            bm25_topk(docs, ["spark", "join", "vector"], k=20),
            "Query-term filtering happens inside the token array before "
            "the explode (the shuffle carries only matches); df/corpus "
            "stats broadcast back; the corpus-wide top-k compiles to "
            "TakeOrderedAndProject — no global sort, no full-corpus "
            "single-partition window.",
        ),
    ]

    from brahmand_spark.ops.bpe import train_bpe, bpe_token_count
    from brahmand_spark.ops.clustering import kmeans_fit
    from brahmand_spark.ops.semdedup import semdedup_pairs

    emb = read_parquet(spark, f"{SF_DIR}/embeddings.parquet")
    sem_cents = kmeans_fit(emb, k=8, iters=3)
    bpe_merges = train_bpe(docs, n_merges=12, min_count=2,
                           merges_per_round=4)
    from brahmand_spark.ops.stats import pca_fit, pca_transform
    from brahmand_spark.ops.walks import random_walks

    pca_mean, pca_comps, _ = pca_fit(emb, k=4)
    ext_showcases += [
        (
            "PCA projection (literal-dot, zero shuffles)",
            pca_transform(emb, pca_mean, pca_comps),
            "The fit is ONE exact-decimal Gram-matrix aggregate (not "
            "shown — O(dim^2) driver values); the projection folds the "
            "mean shift into per-component constants and runs as "
            "codegen'd literal-array dots — a pure narrow map, no "
            "Exchange.",
        ),
        (
            "Random-walk step (ranked adjacency join, live-walk bound)",
            random_walks(
                ev.select(F.col("user_id").alias("src"),
                          (F.col("user_id") + 1).alias("dst")),
                n_walks=1, walk_length=3, max_degree=64),
            "Each step is one equi-join of the live frontier against "
            "the ranked adjacency with the deterministic md5 pick "
            "folded into the join filter; shuffle volume per step is "
            "proportional to LIVE walks, not edges, and dead walks "
            "exit the join entirely. The adjacency ranking (r6) "
            "windows over (src, md5 salt bucket) — never src alone — "
            "so a supernode's neighbor list sorts across 32 tasks, "
            "and max_degree caps its usable fan-out deterministically.",
        ),
    ]
    from brahmand_spark.ops.similarity import (
        ivfpq_topk, pq_fit, train_ivf_centroids)
    from brahmand_spark.ops.urls import curate_urls
    from brahmand_spark.ops.walks import node_embeddings

    url_docs = docs.select(
        "doc_id",
        F.concat(F.lit("https://www.Site"),
                 (F.col("doc_id") % 50).cast("string"),
                 F.lit(".com/p/"),
                 (F.col("doc_id") % 97).cast("string"),
                 F.lit("/?utm_source=x&k="),
                 (F.col("doc_id") % 3).cast("string")).alias("url"))
    pq_cents = train_ivf_centroids(emb, 8)
    pq_books = pq_fit(emb, m=4, n_codes=16)
    ext_showcases += [
        (
            "URL curation front door (normalize -> dedup -> cap)",
            curate_urls(url_docs, max_docs_per_domain=20),
            "Normalization is one codegen'd regexp/HOF projection on "
            "the scan; URL-exact dedup is a single min-aggregate "
            "shuffle on the normalized URL; registered-domain "
            "extraction is three LEFT BroadcastHashJoins against the "
            "public-suffix table (no Exchange); the per-domain cap "
            "ranks inside (domain, md5 salt bucket) windows and "
            "composes global ranks from per-bucket prefix sums — a "
            "hot domain spreads over 32 tasks instead of serializing.",
        ),
        (
            "IVF-PQ candidate scan (codes-only ADC scoring)",
            ivfpq_topk(emb, emb.limit(3), k=5, centroids=pq_cents,
                       codebooks=pq_books, nprobe=3),
            "Candidate scoring touches ONLY the coarse cell id and the "
            "m PQ codes: the per-query lookup tables (m x n_codes "
            "dot products) ride the broadcast query side, and the ADC "
            "score is a per-row table lookup fold. At production scale "
            "the (cell, codes) projection is written once — the ANN "
            "scan then reads m bytes per row instead of dim*8 — and "
            "only the top-`rerank` shortlist joins back to original "
            "vectors for the exact cosine re-rank.",
        ),
        (
            "Node embeddings (random indexing over walk co-occurrence)",
            node_embeddings(
                ev.select(F.col("user_id").alias("src"),
                          (F.col("user_id") + 1).alias("dst")),
                dim=8, n_walks=1, walk_length=3),
            "Embedding = integer sum of skip-gram co-occurrence counts "
            "times seeded md5 sign vectors: after the walk joins, the "
            "whole trainer is ONE map-side-combinable aggregate with "
            "dim sums per vertex — zero driver state (vs V x dim for "
            "SGD skip-gram), order-independent, engine-replayable.",
        ),
    ]
    import tempfile

    from brahmand_spark.models import ModelStore
    from brahmand_spark.ops.multimodal import image_near_dup_pairs
    from brahmand_spark.ops.similarity import ann_search, build_ann_index

    ann_dir = tempfile.mkdtemp(prefix="plans_ann_")
    ann_store = ModelStore(ann_dir)
    build_ann_index(emb, "showcase", ann_store, n_cells=8, m=4,
                    n_codes=16)
    fake_hashes = emb.select(
        F.col("vec_id").alias("id"),
        F.xxhash64("vec_id").alias("phash"))
    ext_showcases += [
        (
            "Persisted ANN search (partition-pruned codes scan)",
            ann_search(spark, "showcase", emb.limit(3), ann_store,
                       k=5, nprobe=2, corpus=emb),
            "build_ann_index wrote the PQ codes ONCE as parquet "
            "partitioned by the coarse cell; the search collects the "
            "query batch's probed cells (bounded driver round-trip on "
            "the small broadcast side) and the codes scan shows "
            "PartitionFilters on `cell` — unprobed cells are pruned at "
            "file-listing time — with a ReadSchema of just "
            "(corpus_id, codes, rnorm): m ints + a double per row, "
            "never the vectors. Only the top-`rerank` shortlist joins "
            "back to the original embedding table.",
        ),
        (
            "Persisted dedup-index probe (batch-only hashing)",
            _dedup_probe(spark, docs, ann_dir),
            "build_dedup_index wrote per-doc fingerprints + MinHash "
            "signatures and the LSH band buckets ONCE as narrow "
            "parquet (~0.5 KB/doc); the probe hashes ONLY the batch — "
            "the plan's shingle/posexplode/min-aggregate subtrees all "
            "hang off the BATCH scan, while the corpus side appears "
            "solely as two parquet scans with ReadSchema (id, fp) and "
            "(id, band, bucket)/(id, signature): the corpus TEXT is "
            "never re-read. The exact route is one fp equi-join; the "
            "near route is the band-bucket equi-join (ids only through "
            "the shuffle) with the signature-agreement estimate joined "
            "onto the candidate set afterwards.",
        ),
        (
            "Capped dedup-index probe (persisted bucket stats, "
            "no corpus-side aggregation)",
            _dedup_probe_capped(spark, docs, ann_dir),
            "hot_bucket_cap probes read the hot set from the "
            "persisted (band, bucket, n) STATS table through a PUSHED "
            "`n > cap` filter on the partition-pruned batch=base scan "
            "(r9 — the pre-r9 plan re-AGGREGATED the whole corpus "
            "buckets table on every probe, exactly on the "
            "boilerplate-heavy corpora that need the cap). The hot "
            "set anti-joins the bucket scan; with no add deltas and "
            "no tombstones the capped plan carries ZERO extra "
            "aggregations over the uncapped one.",
        ),
        (
            "Weighted var-length path (per-hop rel structs)",
            session.execute(
                "MATCH p = (a:Customer)-[:NEXT_CUST*1..3]->"
                "(b:Customer) WHERE a.c_custkey <= 1000 "
                "RETURN a.c_custkey AS ak, b.c_custkey AS bk, "
                "reduce(t = 0, x IN relationships(p) | t + x.hop_w) "
                "AS w"),
            "relationships(p) on a var-length segment (r9): each "
            "k-fold self-join level carries its hop's (src, dst, "
            "hop_w) struct, the per-path array assembles in the "
            "projection (no extra shuffle — the joins are the same "
            "id-keyed hops the pair walk already runs), and reduce() "
            "folds the weights as a codegen'd aggregate lambda. When "
            "a query never touches the structs, Catalyst prunes both "
            "the array construction and the property reads back out "
            "of the scan.",
        ),
        (
            "Image near-dup pair join (pigeonhole Hamming banding)",
            image_near_dup_pairs(None, max_hamming=5,
                                 phashes=fake_hashes),
            "The 64-bit perceptual hash splits into max_hamming+1 "
            "chunks (shiftrightunsigned/mask — codegen'd), the "
            "self-join keys on (chunk_pos, chunk_val) so any pair "
            "within the bound meets in >= 1 bucket (complete, never "
            "all-pairs), and the exact bit_count(xor) Hamming distance "
            "filters candidates map-side before the dedup shuffle — "
            "the simhash_near_pairs shape over 8-byte image "
            "fingerprints.",
        ),
    ]
    ext_showcases += [
        (
            "SemDeDup within-cluster pair join (no all-pairs stage)",
            semdedup_pairs(emb, sem_cents, threshold=0.4),
            "Nearest-centroid assignment is a narrow projection against "
            "centroid literals (no shuffle); the only join is keyed by "
            "the cluster id, so the quadratic cosine work is confined "
            "to clusters — the strategy is left to AQE (broadcast here "
            "at fixture size; a corpus-sized side exceeds the "
            "threshold and shuffles on `cluster`).",
        ),
        (
            "BPE application (word-TYPE table folds, corpus joins by word)",
            bpe_token_count(docs, bpe_merges),
            "The trained merge list re-segments only the DISTINCT word "
            "table (chunked JVM aggregate folds — zero Python); the "
            "corpus explodes to words once and equi-joins the "
            "segmentation back by word; per-doc counts finish in one "
            "map-side-combined aggregate.",
        ),
    ]

    def squash(plan: str, limit: int = 400) -> str:
        """Elide giant literal blobs (centroid/hyperplane matrices ride
        plans as array literals) so the plan SHAPE stays readable."""
        return "\n".join(
            ln if len(ln) <= limit
            else ln[:limit] + f" …[{len(ln) - limit} chars of literals elided]"
            for ln in plan.splitlines()
        )

    out = [
        "# PLANS — physical plans of representative compiled queries",
        "",
        f"Generated by tools/dump_plans.py against `{SF_DIR}` "
        "(AQE on; plans shown post-compilation, pre-execution; lines "
        "over 400 chars — literal matrices — are elided).",
        "",
    ]
    for i, (title, cypher, commentary) in enumerate(
            SHOWCASES + [adj_showcase]):
        sess = adj_session if i == len(SHOWCASES) else session
        df = sess.execute(cypher)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [
            f"## {title}", "",
            "```cypher", cypher.strip(), "```", "",
            commentary, "",
            "```", squash(plan.strip()), "```", "",
        ]
    for title, df, commentary in ext_showcases:
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        out += [
            f"## {title}", "",
            commentary, "",
            "```", squash(plan.strip()), "```", "",
        ]
    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
