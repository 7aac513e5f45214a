"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship Cypher query on sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 (the
openCypher surface compiled to DataFrames) plus the scale extensions
(dedup / similarity / text analysis / multimodal / windowed events /
graph algorithms). ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL
for each — including GENERATED oracles that replay the hash-family and
iterative operators (minhash/simhash/hyperplane-LSH/IVF/pagerank) from
the same seeded constants, so every registered gate is value-checked.

The registry is capped at 50 names — the driver grades exactly the
first 50, so every unique operator keeps a gate here and redundant
variants (direction flips, degenerate hop counts, extra pattern-
predicate shapes) live in ``tests/test_folded_gates.py`` with the same
DuckDB-oracle comparison.

Every aggregate/computed column is aliased identically in the Cypher/
DataFrame code and the SQL so the driver's column-sorted value-hash
comparison lines up.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_SESSIONS: dict = {}


def _tpch(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _SESSIONS:
        from brahmand_spark.graphs.tpch import build_session

        _SESSIONS[key] = build_session(spark, sf_dir)
    return _SESSIONS[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.dedup import _spread

    # A real corpus scan has thousands of splits; the test file has one.
    # Spreading to the session's parallelism mirrors that, so the
    # per-row text/hash compute uses every core instead of one.
    return _spread(read_parquet(spark, f"{sf_dir}/documents.parquet"))


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.dedup import _spread

    return _spread(read_parquet(spark, f"{sf_dir}/embeddings.parquet"))


_DIMS: dict[str, int] = {}


def _emb_dim(spark: SparkSession, sf_dir: str) -> int:
    """Embedding dimensionality (probed once per dataset; used to unroll
    vector math into codegen-friendly expressions)."""
    if sf_dir not in _DIMS:
        row = _embeddings(spark, sf_dir).select(
            F.size("embedding").alias("d")
        ).first()
        _DIMS[sf_dir] = int(row["d"]) if row else 0
    return _DIMS[sf_dir]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from brahmand_spark.io import read_parquet

    return read_parquet(spark, f"{sf_dir}/events.parquet")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 2-hop graph traversal + implicit GROUP BY on sf0.001."""
    s = _tpch(spark, "/root/testdata/sf0.001")
    return s.execute(
        """MATCH (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
           RETURN r.r_name AS region, count(*) AS customers,
                  round(avg(c.c_acctbal), 2) AS avg_bal
           ORDER BY region"""
    )


# --------------------------------------------------------------------------
# Cypher queries over the TPC-H property graph (SURVEY §2 surface)
# --------------------------------------------------------------------------

_CYPHER: dict[str, str] = {
    # §2.1 MATCH + WHERE + RETURN (single hop, filter, projection)
    "match_filter_project": """
        MATCH (c:Customer)-[:PLACED]->(o:Order)
        WHERE o.o_totalprice > 200000
        RETURN c.c_name AS name, o.o_totalprice AS price""",
    # inline {k: v} properties (per-table equality filters)
    # relationship property access
    "rel_property_access": """
        MATCH (o:Order)-[h:HAS_LINE]->(l:Lineitem)
        WHERE h.l_linenumber = 1 AND l.l_quantity > 45
        RETURN o.o_orderkey AS okey, l.l_extendedprice AS price""",
    # multi-hop chain (3 hops)
    "multi_hop": """
        MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)-[:OF_PART]->(p:Part)
        WHERE p.p_size > 40 AND o.o_orderstatus = 'O'
        RETURN c.c_name AS name, p.p_name AS part, l.l_quantity AS qty""",
    # comma-separated patterns sharing an alias (duplicate-scan handling)
    "shared_alias_patterns": """
        MATCH (c:Customer)-[:CUST_IN]->(n:Nation), (s:Supplier)-[:SUPP_IN]->(n)
        RETURN n.n_name AS nation, count(*) AS pairs""",
    # the reference's five aggregates together
    "aggregates_five": """
        MATCH (o:Order)-[:HAS_LINE]->(l:Lineitem)
        RETURN o.o_orderstatus AS status, count(*) AS n,
               round(sum(l.l_quantity), 1) AS total_qty,
               max(l.l_extendedprice) AS max_price,
               min(l.l_discount) AS min_disc,
               round(avg(l.l_tax), 4) AS avg_tax""",
    # ORDER BY + SKIP + LIMIT (total order -> deterministic pagination)
    "order_skip_limit": """
        MATCH (c:Customer)
        RETURN c.c_name AS name, c.c_acctbal AS bal
        ORDER BY bal DESC, name ASC SKIP 5 LIMIT 10""",
    # boolean operators + IN list
    "where_operators": """
        MATCH (c:Customer)
        WHERE (c.c_acctbal >= 1000 AND c.c_acctbal <= 5000)
           OR c.c_mktsegment IN ['MACHINERY', 'HOUSEHOLD']
        RETURN c.c_name AS name""",
    # scalar function pass-through (toUpper/substring/abs)
    "scalar_functions": """
        MATCH (c:Customer)
        RETURN toUpper(c.c_mktsegment) AS seg_u,
               substring(c.c_name, 0, 8) AS name8,
               abs(c.c_acctbal) AS mag""",
    # WITH pipeline: aggregate then filter (HAVING semantics)
    "with_having": """
        MATCH (c:Customer)-[:PLACED]->(o:Order)
        WITH c.c_name AS name, count(*) AS n
        WHERE n >= 12 RETURN name, n""",
    # WITH rebinding a node for a second MATCH
    # openCypher temporal surface (r10: typed literals, duration
    # arithmetic, ISO accessors, truncation — compile/temporal.py);
    # replaces the folded with_rebind_match gate (WITH-boundary
    # rebinding machinery also ridden by with_having and every
    # correlated-CALL gate; still oracle-checked in
    # tests/test_folded_gates.py FOLDED_CYPHER)
    # r11 additions: OFFSET-bearing literals (+02:00 / -05:00 both
    # normalize to the same 2024-01-08 00:00 UTC instant at plan time,
    # still PushedFilters) and a CHAINED accessor on the raw node
    # property (e.ts.year — catalog-typed, no WITH hop needed)
    "temporal_arithmetic": """
        MATCH (e:Event)
        WHERE e.ts >= datetime('2024-01-07T19:00:00[America/New_York]')
          AND e.ts < datetime('2024-01-07T19:00:00-05:00')
                     + duration('P7D')
        WITH datetime.truncate('day', e.ts) AS d, e.ts AS t,
             e.event_type AS et, e.ts.year AS y
        RETURN d, et, y, count(*) AS cnt, min(t.dayOfWeek) AS dw,
               max(t.hour) AS h_max, min(t.ordinalDay) AS od
        ORDER BY d, et""",
    # OPTIONAL MATCH (extension; the reference has only a TODO)
    "optional_match": """
        MATCH (c:Customer)
        OPTIONAL MATCH (c)-[:PLACED]->(o:Order)
        WHERE o.o_totalprice > 300000
        RETURN c.c_name AS name, count(o) AS n_big""",
    # Variable-length traversal, now written as a QUANTIFIED PATH
    # PATTERN (r13 flagship, openCypher 25 / GQL — replaces the
    # var_length_multi *2..3 spelling, which desugars to the SAME
    # var-length machinery and stays oracle-checked in
    # tests/test_folded_gates.py FOLDED_CYPHER): a 2-label group
    # ((x)-[:R]->(y)){2,3} between two labeled endpoints; the group
    # WHERE equality fold is covered by test_fuzz_parity._qpp_query
    # mode 2 and TestQuantifiedPathPatterns (an all-hops equality on
    # this +1 chain is only satisfiable at one hop, so the gate keeps
    # the pure quantifier shape).
    "qpp_var_length": """
        MATCH (a:Customer) ((x)-[:NEXT_CUST]->(y)){2,3} (b:Customer)
        WHERE a.c_custkey <= 100
        RETURN a.c_custkey AS src, b.c_custkey AS dst""",
    # path variables + introspection functions (extension; SURVEY §2.1
    # lists them as unsupported in the reference)
    "path_variable": """
        MATCH p = (c:Customer)-[:CUST_IN]->(n:Nation)-[:IN_REGION]->(r:Region)
        WHERE r.r_name = 'ASIA'
        RETURN c.c_custkey AS cust, length(p) AS hops,
               size(nodes(p)) AS n_nodes""",
    # shortestPath via frontier BFS (extension)
    "shortest_path": """
        MATCH p = shortestPath((a:Customer)-[:NEXT_CUST*..3]->(b:Customer))
        WHERE a.c_custkey <= 50
        RETURN a.c_custkey AS src, b.c_custkey AS dst, length(p) AS dist""",
    # Cypher-level UNION / UNION ALL (extension)
    # Correlated CALL with a RELATIONSHIP import (r11 flagship —
    # replaces the folded pattern_predicate_exists gate, whose
    # leftsemi machinery also rides the folded pattern_comprehension
    # / collect_subquery / count_subquery cases; still oracle-checked
    # in tests/test_folded_gates.py): the imported rel's properties
    # ride into the block and back out as null-safe correlation keys,
    # so each (order, lineitem-edge) invocation aggregates its own
    # later-lines count.
    "call_rel_import": """
        MATCH (o:Order)-[r:HAS_LINE]->(l:Lineitem)
        WHERE o.o_orderkey < 2000
        CALL { WITH o, r MATCH (o)-[r2:HAS_LINE]->(l2:Lineitem)
               WHERE r2.l_linenumber > r.l_linenumber
               RETURN count(*) AS later }
        RETURN o.o_orderkey AS ok, r.l_linenumber AS ln, later
        ORDER BY ok, ln""",
    # List reduce / quantifiers (extension) — all JVM-side higher-order
    # functions (filter/transform/exists/forall/aggregate), no Python
    # in the row path. (list_comprehension folded r4 to
    # tests/test_folded_gates.py — literal-list variant of this
    # surface; slot went to text_chunking.)
    "list_reduce_quantifiers": """
        MATCH (n:Nation)<-[:CUST_IN]-(c:Customer)
        WITH n.n_name AS nation, collect(c.c_custkey) AS keys
        RETURN nation,
               reduce(acc = 0, k IN keys | acc + k) AS total,
               any(k IN keys WHERE k % 10 = 0) AS has_round
        ORDER BY nation""",
}

_CYPHER_ORACLES: dict[str, str] = {
    "match_filter_project": """
        SELECT c.c_name AS name, o.o_totalprice AS price
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE o.o_totalprice > 200000""",
    "rel_property_access": """
        SELECT l_orderkey AS okey, l_extendedprice AS price
        FROM lineitem WHERE l_linenumber = 1 AND l_quantity > 45""",
    "multi_hop": """
        SELECT c.c_name AS name, p.p_name AS part, l.l_quantity AS qty
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_size > 40 AND o.o_orderstatus = 'O'""",
    "shared_alias_patterns": """
        SELECT n.n_name AS nation, count(*) AS pairs
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN supplier s ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name""",
    "aggregates_five": """
        SELECT o.o_orderstatus AS status, count(*) AS n,
               round(sum(l.l_quantity), 1) AS total_qty,
               max(l.l_extendedprice) AS max_price,
               min(l.l_discount) AS min_disc,
               round(avg(l.l_tax), 4) AS avg_tax
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus""",
    "order_skip_limit": """
        SELECT c_name AS name, c_acctbal AS bal FROM customer
        ORDER BY bal DESC, name ASC LIMIT 10 OFFSET 5""",
    "where_operators": """
        SELECT c_name AS name FROM customer
        WHERE (c_acctbal >= 1000 AND c_acctbal <= 5000)
           OR c_mktsegment IN ('MACHINERY', 'HOUSEHOLD')""",
    "scalar_functions": """
        SELECT upper(c_mktsegment) AS seg_u, substring(c_name, 1, 8) AS name8,
               abs(c_acctbal) AS mag FROM customer""",
    "with_having": """
        SELECT c.c_name AS name, count(*) AS n
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_name HAVING count(*) >= 12""",
    "temporal_arithmetic": """
        SELECT date_trunc('day', ts) AS d, event_type AS et,
               CAST(year(ts) AS INT) AS y,
               count(*) AS cnt,
               CAST(min(isodow(ts)) AS INT) AS dw,
               CAST(max(hour(ts)) AS INT) AS h_max,
               CAST(min(dayofyear(ts)) AS INT) AS od
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-08'
          AND ts < TIMESTAMP '2024-01-08' + INTERVAL 7 DAY
        GROUP BY 1, 2, 3 ORDER BY 1, 2""",
    "optional_match": """
        SELECT c.c_name AS name, count(o.o_orderkey) AS n_big
        FROM customer c
        LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
          ON o.o_custkey = c.c_custkey
        GROUP BY c.c_name""",
    "qpp_var_length": """
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM customer a JOIN customer b
          ON b.c_custkey - a.c_custkey IN (2, 3)
        WHERE a.c_custkey <= 100""",
    "path_variable": """
        SELECT c.c_custkey AS cust, 2::INT AS hops, 3::INT AS n_nodes
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'""",
    "shortest_path": """
        SELECT a.c_custkey AS src, b.c_custkey AS dst,
               (b.c_custkey - a.c_custkey)::INT AS dist
        FROM customer a JOIN customer b
          ON b.c_custkey - a.c_custkey IN (1, 2, 3)
        WHERE a.c_custkey <= 50""",
    "call_rel_import": """
        SELECT o.o_orderkey AS ok, l.l_linenumber AS ln,
               (SELECT count(*) FROM lineitem l2
                WHERE l2.l_orderkey = o.o_orderkey
                  AND l2.l_linenumber > l.l_linenumber) AS later
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey < 2000
        ORDER BY ok, ln""",
    "list_reduce_quantifiers": """
        SELECT n.n_name AS nation,
               sum(c.c_custkey)::BIGINT AS total,
               bool_or(c.c_custkey % 10 = 0) AS has_round
        FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name ORDER BY nation""",
}


# --------------------------------------------------------------------------
# Scale-extension queries (dedup / similarity / text / events)
# --------------------------------------------------------------------------

def _q_cc_two_phase(spark, sf_dir):
    """Large-star/small-star connected components (O(log n) rounds,
    the 100 TB scale path) over the same within-region nation cliques
    as graph_components — the window-min oracle checks both
    algorithms' exact labels. Replaces the folded dedup_exact gate
    (0 rows at sf0.01; still oracle-checked in
    tests/test_folded_gates.py per the fold policy)."""
    from brahmand_spark.ops.algos import connected_components

    return connected_components(
        _nation_pairs(spark, sf_dir), algorithm="two-phase"
    )


def _q_ngram_jaccard(spark, sf_dir):
    from brahmand_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.8
    )


def _q_minhash_lsh(spark, sf_dir):
    # hash_fn='portable': the SQL-expressible polynomial base hash, so
    # the ENTIRE signature->banding->estimate pipeline replays in the
    # DuckDB oracle (hash-match gate instead of rows-only). The default
    # xxhash64 path differs only in that base hash (pytest covers it).
    from brahmand_spark.ops.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _docs(spark, sf_dir), n=3, num_hashes=64, bands=16,
        hash_fn="portable",
    ).filter(F.col("est_jaccard") >= 0.5)


def _q_dedup_index_probe(spark, sf_dir):
    """Persisted dedup index probe (r8/r9, ops/dedup_index): build
    the index ONCE over 4/5 of the corpus (hash_fn='portable' so the
    whole fingerprint + MinHash + banding + estimate pipeline replays
    in SQL), then dedup the held-out near-duplicate batch against the
    STORED tables — only the batch is shingled; the corpus side is
    served from the narrow sigs/buckets parquet. Extension (the
    reference has no dedup surface; ref README.md feature table)."""
    import hashlib
    import os
    import tempfile

    from brahmand_spark.models import ModelStore
    from brahmand_spark.ops.dedup_index import (
        build_dedup_index, dedup_against,
    )

    docs = _docs(spark, sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    st = ModelStore(os.path.join(
        tempfile.gettempdir(), f"brahmand_dix_{key}"))
    build_dedup_index(corpus, "gate_dix", st, hash_fn="portable")
    return dedup_against(spark, "gate_dix", batch, st, threshold=0.5)


def _q_decontaminate(spark, sf_dir):
    """Benchmark decontamination verdict (r8, ops/dedup.decontaminate
    — GPT-3 appendix C style): flag every TRAIN document sharing a
    verbatim 8-word-gram with the EVAL split. One equi-join on the
    shingle hash; the eval side broadcasts, the train side never
    shuffles. Extension."""
    from brahmand_spark.ops.dedup import decontaminate

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 5 != 0)
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    return decontaminate(train, ev, n=8)


def _q_simhash(spark, sf_dir):
    # hash_fn='portable': 60-bit fingerprint from two polynomial char
    # folds — SQL-expressible, so the full fingerprint/banding/Hamming
    # pipeline replays in the DuckDB oracle. Default xxhash64 path is
    # identical but for the base hash (pytest covers it).
    from brahmand_spark.ops.dedup import simhash_near_pairs

    return simhash_near_pairs(
        _docs(spark, sf_dir), max_hamming=3, hash_fn="portable"
    )


def _q_duplicate_spans(spark, sf_dir):
    # hash_fn='portable': the md5-derived window hash, so the full
    # window->count->coverage computation replays in the DuckDB oracle.
    from brahmand_spark.ops.dedup import duplicate_span_stats

    return duplicate_span_stats(
        _docs(spark, sf_dir), window=5, min_count=2, hash_fn="portable"
    )


def _q_dedup_semantic(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) over the embeddings table: k-means
    clusters (same fit as the cluster_kmeans gate), within-cluster
    cosine pairs, keep-first decision. threshold=0.4 so the sf0.01
    fixture yields real drops (the corpus is random-ish; 0.95 would
    drop nothing). Replaces the folded graph_components gate (HashMin
    CC — same oracle and fixture as the registered graph_cc_two_phase;
    still oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.semdedup import semdedup

    # dim deliberately NOT passed: at gate scale the pair join sees
    # ~250k pairs where the HOF cosine's interpreted cost (~1s) beats
    # the unrolled expression's per-plan janino compile (~8s under the
    # fresh-plan bench); callers at real scale pass dim to unroll.
    return semdedup(_embeddings(spark, sf_dir), k=8, iters=3,
                    threshold=0.4)


def _q_cluster_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means (k=8, 3 iterations, lowest-id init)
    over the embeddings table — deterministic end to end, so the DuckDB
    oracle replays every assignment/update round as chained CTEs."""
    from brahmand_spark.ops.clustering import kmeans

    return kmeans(_embeddings(spark, sf_dir), k=8, iters=3)


def _q_seq_packing(spark, sf_dir):
    """Greedy token-budget sequence packing (budget=256, 8 buckets) —
    the training-batch construction op. Deterministic (id-bucketed,
    id-ordered), so the DuckDB oracle replays the greedy scan as a
    per-bucket recursive CTE."""
    from brahmand_spark.ops.packing import pack_sequences
    from brahmand_spark.ops.text import token_count

    counts = token_count(_docs(spark, sf_dir)) \
        .select("doc_id", "n_tokens")
    return pack_sequences(counts, budget=256, n_buckets=8)


def _q_embedding_near_dup(spark, sf_dir):
    from brahmand_spark.ops.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _embeddings(spark, sf_dir), threshold=0.4
    )


def _q_ann_topk(spark, sf_dir):
    from brahmand_spark.ops.similarity import cosine_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return cosine_topk(emb, queries, k=10)


def _q_ann_lsh_topk(spark, sf_dir):
    from brahmand_spark.ops.similarity import hyperplane_lsh_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return hyperplane_lsh_topk(
        emb, queries, k=10, dim=_emb_dim(spark, sf_dir)
    )


def _q_ann_ivf_topk(spark, sf_dir):
    from brahmand_spark.ops.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(
        emb, queries, k=10, n_cells=16, nprobe=4,
        dim=_emb_dim(spark, sf_dir),
    )


def _q_dedup_embedding_lsh(spark, sf_dir):
    from brahmand_spark.ops.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(
        _embeddings(spark, sf_dir), threshold=0.4, method="lsh",
        dim=_emb_dim(spark, sf_dir),
    )


def _q_token_count(spark, sf_dir):
    from brahmand_spark.ops.text import token_count

    return token_count(_docs(spark, sf_dir))


BM25_QUERY_TERMS = ["spark", "join", "vector"]


def _q_text_bm25(spark, sf_dir):
    """BM25 top-20 for a fixed bag-of-terms query (ops/search):
    query-term-filtered explode -> integer micro-unit score fold ->
    TakeOrderedAndProject top-k. Per-term float steps share literals
    and association with the DuckDB oracle, so scores hash-match.
    Replaces the folded text_token_count gate (simple per-row length
    arithmetic; still oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.search import bm25_topk

    return bm25_topk(_docs(spark, sf_dir), BM25_QUERY_TERMS, k=20)


def _q_quality(spark, sf_dir):
    from brahmand_spark.ops.text import quality_score

    return quality_score(_docs(spark, sf_dir))


URL_CAP = 40


def _url_docs(docs):
    """Deterministic synthetic URLs over the documents table (the
    corpus has no url column — same fixture strategy as _scc_edges):
    scheme case + www + default tracking params + trailing slashes +
    a co.uk suffix + a blocklisted domain, all varying by doc_id
    residues so URL-exact collisions genuinely occur."""
    d = F.col("doc_id").cast("bigint")
    scheme = F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("HTTP"))
    host = (F.when(d % 5 == 0, F.lit("Example.COM"))
            .when(d % 5 == 1, F.lit("www.example.com"))
            .when(d % 5 == 2, F.lit("news.example.co.uk"))
            .when(d % 5 == 3, F.lit("blog.testsite.org"))
            .otherwise(F.lit("cdn.testsite.org")))
    q = (F.when(d % 3 == 0,
                F.concat(F.lit("?utm_source=feed&x="),
                         (d % 4).cast("string")))
         .when(d % 3 == 1,
               F.concat(F.lit("?x="), (d % 4).cast("string")))
         .otherwise(F.lit("")))
    trail = F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    url = F.concat(scheme, F.lit("://"), host, F.lit("/page/"),
                   (d % 50).cast("string"), trail, q)
    return docs.select("doc_id", url.alias("url"))


def _q_text_url_dedup(spark, sf_dir):
    """URL front-door curation (ops/urls — the r6 web-corpus front
    door): normalize (case/www/utm/trailing-slash), URL-exact dedup
    keeping the smallest doc_id, registered-domain extraction through
    the broadcast public-suffix joins, blocklist filtering, and the
    salted per-domain cap (no per-domain-only window). The oracle is
    a static SQL replay of the entire chain. Replaces the folded
    text_lang_id gate (per-row marker counting, same shape as the
    registered text_quality_score; still oracle-checked in
    tests/test_folded_gates.py)."""
    from brahmand_spark.ops.urls import curate_urls

    out = curate_urls(
        _url_docs(_docs(spark, sf_dir)),
        blocklist=["testsite.org"], max_docs_per_domain=URL_CAP)
    return out.select("doc_id", "url_norm", "registered_domain")


def _q_text_repetition(spark, sf_dir):
    """Gopher-style within-document repetition filters (duplicate-line
    fractions + top word-bigram character fraction) — pure per-row
    array arithmetic, zero shuffles. Replaces the folded unwind gate
    (5 literal rows, no table scan; still oracle-checked in
    tests/test_folded_gates.py)."""
    from brahmand_spark.ops.text import repetition_signals

    return repetition_signals(_docs(spark, sf_dir))


def _q_hll_distinct(spark, sf_dir):
    """Deterministic HyperLogLog distinct sketch (ops/sketches) over
    lineitem: distinct l_orderkey per (returnflag, linestatus), p=10,
    joined with the exact count + relative error. The register build is
    one map-side-combinable shuffle; the md5-portable hash lets the
    DuckDB oracle replay every register and the integer-scaled
    harmonic fold bit-for-bit. Replaces the folded incoming_direction
    gate (direction flip of registered hop shapes; still oracle-checked
    in tests/test_folded_gates.py)."""
    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.sketches import hll_distinct_with_exact

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return hll_distinct_with_exact(
        li, "l_orderkey", ["l_returnflag", "l_linestatus"], p=10
    )


def _q_text_chunking(spark, sf_dir):
    """Fixed token-window chunking with overlap (ops/text
    chunk_documents, size 16 / stride 12): the document -> training-
    sequence splitting step. Narrow per-row explode, zero shuffles.
    Replaces the folded list_comprehension gate (literal-list variant
    of the registered list_reduce_quantifiers surface; still
    oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.text import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), chunk_size=16, stride=12)


def _q_cms_topk(spark, sf_dir):
    """Count-min-sketch heavy hitters (ops/sketches.cms_heavy_hitters):
    top-20 corpus tokens with exact counts AND their CMS estimates
    (depth 4, width 64 — narrow enough that collisions inflate some
    estimates, which is the behavior under test; the sketch never
    underestimates). One (row, bucket) count shuffle builds the
    sketch; the probe broadcasts the <= 256-cell table. Replaces the
    folded graph_bfs gate (7-row output; the frontier-expansion
    surface stays registered via shortest_path and
    graph_sssp_weighted; still oracle-checked in
    tests/test_folded_gates.py)."""
    from brahmand_spark.ops.sketches import cms_heavy_hitters
    from brahmand_spark.ops.text import tokens

    toks = _docs(spark, sf_dir).select(
        F.explode(tokens(F.col("text"))).alias("token")
    )
    return cms_heavy_hitters(toks, "token", k=20, depth=4, width=64)


def _q_events_asof(spark, sf_dir):
    """AS-OF join (ops/temporal.as_of_join): every purchase event gets
    the user's latest click at-or-before it — the union-and-carry
    shape (one keyed-window shuffle, linear; no range self-join). The
    oracle is DuckDB's native ASOF LEFT JOIN, so the semantics are
    checked against an independent first-class implementation.
    Replaces the folded label_inference gate (25-row inference
    variant; the inference surface stays covered by the folded
    rel_type_inference check and the fuzz suite)."""
    from brahmand_spark.ops.temporal import as_of_join

    ev = _events(spark, sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round("value", 2).alias("purchase_value")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.round("value", 2).alias("click_value")
    )
    return as_of_join(left, right, "user_id")


def _q_events_window(spark, sf_dir):
    ev = _events(spark, sf_dir)
    # Tumbling window = date_trunc on the key: same grouping as
    # F.window("ts", "1 hour") but skips the window-struct expansion
    # (~2x faster; for sliding windows see events_sliding_counts).
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def _q_events_sessionize(spark, sf_dir):
    from brahmand_spark.streaming import sessionize

    return sessionize(_events(spark, sf_dir), gap="30 minutes")


def _q_events_sliding(spark, sf_dir):
    from brahmand_spark.streaming import sliding_counts

    return sliding_counts(
        _events(spark, sf_dir), window="1 hour", slide="30 minutes"
    )


def _q_multimodal_metadata(spark, sf_dir):
    """Binary-column metadata sniffing (ops/multimodal) — synthesizes
    image-like payloads from document text (PNG/JPEG magic prefixes on a
    doc_id rotation) since the test corpus has no binary column, then
    runs the JVM-side header sniff. Exercises the real multimodal
    metadata path end-to-end against a SQL oracle."""
    from brahmand_spark.ops.multimodal import attach_image_metadata

    docs = _docs(spark, sf_dir)
    payload = (
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.unhex(F.lit("89504E47")),
                        F.encode("text", "UTF-8")))
        .when(F.col("doc_id") % 3 == 1,
              F.concat(F.unhex(F.lit("FFD8FFE0")),
                       F.encode("text", "UTF-8")))
        .otherwise(F.encode("text", "UTF-8"))
    )
    binary = docs.select("doc_id", payload.alias("content"))
    return attach_image_metadata(binary).select(
        "doc_id", "format", "n_bytes"
    )


def _nation_pairs(spark, sf_dir):
    """Undirected nation-nation edges (same region) for algo queries."""
    nation = _tpch(spark, sf_dir).tables["Nation"]
    a = nation.select(
        F.col("n_nationkey").cast("bigint").alias("src"),
        F.col("n_regionkey").alias("r"),
    )
    b = nation.select(
        F.col("n_nationkey").cast("bigint").alias("dst"),
        F.col("n_regionkey").alias("r"),
    )
    return a.join(b, "r").filter(F.col("src") < F.col("dst")).select("src", "dst")


def _q_skew_two_phase_agg(spark, sf_dir):
    """Skew-safe two-phase aggregation (salt then merge) — must equal a
    plain GROUP BY."""
    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.skew import two_phase_agg

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    out = two_phase_agg(
        li, ["l_returnflag"], {"n": "count", "qty": "sum:l_quantity"},
        factor=8,
    )
    return out.select(
        "l_returnflag", "n", F.round("qty", 1).alias("total_qty")
    )


_ADJ_SESSIONS: dict = {}


def _tpch_adj(spark, sf_dir):
    """Separate session with PLACED's adjacency index materialized —
    isolated so the main session's gate plans stay edge-list-based."""
    key = (id(spark), sf_dir)
    if key not in _ADJ_SESSIONS:
        from brahmand_spark.graphs.tpch import build_session

        s = build_session(spark, sf_dir)
        s.build_adj_index("PLACED")
        _ADJ_SESSIONS[key] = s
    return _ADJ_SESSIONS[key]


def _q_adjacency_traversal(spark, sf_dir):
    """Planner-integrated grouped-adjacency hop: PLACED carries an
    adjacency index, so the Cypher compiler routes the (filter-free,
    unprojected) hop through the pre-grouped {rel}_outgoing table and
    explodes neighbors — the reference's bitmap-index traversal
    (ddl_query.rs:290-311 auto-build; query_validation.rs:103-124
    eligibility; graph_traversal_planning.rs:678-807 arrayJoin
    expansion)."""
    return _tpch_adj(spark, sf_dir).execute(
        """MATCH (c:Customer)-[:PLACED]->(o:Order)
           WHERE c.c_custkey <= 100
           RETURN c.c_custkey AS src, o.o_orderkey AS dst"""
    )


def _q_graph_bfs(spark, sf_dir):
    from brahmand_spark.ops.algos import bfs_distances

    s = _tpch(spark, sf_dir)
    edges = s.tables["NEXT_CUST"].select(
        F.col("from_Customer").alias("src"), F.col("to_Customer").alias("dst")
    )
    sources = spark.createDataFrame([(0,)], "id long")
    return bfs_distances(edges, sources, max_hops=6)


def _q_graph_components(spark, sf_dir):
    from brahmand_spark.ops.algos import connected_components

    return connected_components(_nation_pairs(spark, sf_dir))


def _q_graph_triangles(spark, sf_dir):
    from brahmand_spark.ops.algos import triangle_count

    return triangle_count(_nation_pairs(spark, sf_dir))


def _q_graph_pagerank(spark, sf_dir):
    from brahmand_spark.ops.algos import pagerank
    from brahmand_spark.procedures import _edges

    edges = _edges(_tpch(spark, sf_dir), "SUPP_IN").select(
        "src", (F.col("dst") + F.lit(1_000_000)).alias("dst"))
    pr = pagerank(edges, iterations=5)
    return pr.select("id", F.round("rank", 6).alias("rank"))


def _q_graph_lpa(spark, sf_dir):
    """Deterministic label propagation over customer same-nation cliques
    (25 cliques of ~SF*6000 customers). Synchronous updates with the
    smallest-label tie-break, so the oracle can replay the exact vote/
    argmax dynamics round by round."""
    from brahmand_spark.ops.algos import label_propagation

    cust = _tpch(spark, sf_dir).tables["Customer"]
    a = cust.select(F.col("c_custkey").cast("bigint").alias("src"),
                    F.col("c_nationkey").alias("nk"))
    b = cust.select(F.col("c_custkey").cast("bigint").alias("dst"),
                    F.col("c_nationkey").alias("nk"))
    # src != dst (not src < dst): the self-join emits BOTH orientations
    # of every clique edge directly, so LPA's symmetrized=True fast
    # path skips the explode + 9M-row dedup prep entirely.
    edges = a.join(b, "nk").filter(F.col("src") != F.col("dst")) \
             .select("src", "dst")
    return label_propagation(edges, max_iterations=4, symmetrized=True)


def _q_graph_sssp(spark, sf_dir):
    """Weighted multi-source shortest paths (frontier Bellman-Ford,
    ops/algos.sssp_weighted) on a synthetic two-lane customer graph:
    step edges k -> k+1 (weight 1 + k%5) and express edges k -> k+7
    (weight 3 + k%4), sources every 100th key — min-cost paths mix
    both lanes, so the relaxation dynamics are non-trivial. Integer
    weights keep every distance exact; the oracle replays the same 12
    relaxation rounds in DuckDB. Replaces the folded
    events_sliding_counts gate (sliding variant of the registered
    window gates; still oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.algos import sssp_weighted

    cust = _tpch(spark, sf_dir).tables["Customer"]
    k = F.col("c_custkey").cast("bigint")
    edges = cust.select(
        k.alias("src"), (k + 1).alias("dst"),
        (F.lit(1) + k % 5).alias("weight"),
    ).unionByName(cust.select(
        k.alias("src"), (k + 7).alias("dst"),
        (F.lit(3) + k % 4).alias("weight"),
    ))
    sources = cust.filter(k % 100 == 1).select(k.alias("id"))
    return sssp_weighted(edges, sources, max_iterations=12)


def _q_graph_kcore(spark, sf_dir):
    """4-core of the thinned part<->supplier co-shipment graph
    (l_quantity >= 48 keeps ~6% of lineitems, giving a real peeling
    cascade: 4 rounds at sf0.01 vs 0 on the full graph). Supplier ids
    offset by 10M into a disjoint namespace."""
    from brahmand_spark.io import read_parquet
    from brahmand_spark.ops.algos import k_core

    li = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    edges = (
        li.filter(F.col("l_quantity") >= 48)
        .select(
            F.col("l_partkey").cast("bigint").alias("src"),
            (F.col("l_suppkey") + F.lit(10_000_000)).cast("bigint")
            .alias("dst"),
        )
    )
    return k_core(edges, 4)


def _scc_edges(cust):
    """Deterministic digraph over customer keys, block of 10 per key:
    pos 0-5 form a 6-cycle (nontrivial SCC), pos 6-8 a DAG tail
    hanging off the cycle (drained by the trim phase), pos 9 a
    self-loop-only vertex (singleton SCC — the vertex-universe edge
    case), and even blocks bridge one-way into the next block (so odd
    blocks' cycles have out-of-SCC ancestors and the coloring/backward
    sweep needs a second outer round)."""
    k = F.col("c_custkey").cast("bigint")
    pos = (k - F.lit(1)) % 10
    base = k - F.lit(1) - pos
    block = (base / 10).cast("bigint")
    cycle = cust.filter(pos <= 5).select(
        k.alias("src"), (base + (pos + 1) % 6 + 1).alias("dst"))
    tail = cust.filter((pos >= 6) & (pos <= 8)).select(
        k.alias("src"), (k - 1).alias("dst"))
    loop = cust.filter(pos == 9).select(k.alias("src"), k.alias("dst"))
    bridge = cust.filter((pos == 0) & (block % 2 == 0)).select(
        k.alias("src"), (k + 10).alias("dst"))
    return cycle.unionByName(tail).unionByName(loop).unionByName(bridge)


def _q_graph_scc(spark, sf_dir):
    """Exact strongly connected components (ops/algos — FW-BW-Trim
    family: bulk trim + Orzan coloring fixpoint + per-color backward
    sweep) on the block-structured customer digraph (_scc_edges): 150
    six-cycles, 600 singletons at sf0.01, two outer rounds. The oracle
    is an INDEPENDENT algorithm — DuckDB recursive-CTE transitive
    closure, scc(v) = min over mutually-reachable vertices — so the
    check doesn't share the implementation's structure. Replaces the
    folded graph_triangles gate (closed-form oracle on the same
    _nation_pairs fixture as the registered graph_cc_two_phase; still
    oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.algos import strongly_connected_components

    cust = _tpch(spark, sf_dir).tables["Customer"]
    return strongly_connected_components(_scc_edges(cust), max_rounds=8)


WALK_N, WALK_LEN, WALK_MAX_DEG, WALK_SEED, WALK_MOD = 1, 5, 8, 42, 1500


def _walk_edges(cust):
    """Deterministic digraph over customer keys with a built-in
    supernode: every key k gets three multiplicative-hash out-edges
    (k*7/11/13 mod 1500, +1) and vertex 1 fans out to EVERY key —
    out-degree |customer|, the power-law shape the degree cap
    (max_degree=8) exists for. The graded gate exercises BOTH r6
    walk changes: salted sub-bucket neighbor ranking and the
    deterministic degree-capped supernode sample."""
    k = F.col("c_custkey").cast("bigint")
    parts = [
        cust.select(k.alias("src"),
                    ((k * m) % WALK_MOD + 1).alias("dst"))
        for m in (7, 11, 13)
    ]
    hub = cust.select(F.lit(1).cast("bigint").alias("src"),
                      k.alias("dst"))
    out = parts[0]
    for p in parts[1:] + [hub]:
        out = out.unionByName(p)
    return out


def _q_graph_walks(spark, sf_dir):
    """DeepWalk random-walk corpus (ops/walks) over the supernode
    digraph: 1 walk of length 5 per vertex, neighbor ranking in
    salted sub-buckets (no per-vertex window — the r5 `weak`
    finding), supernode capped at max_degree=8. The oracle replays
    the ENTIRE generation in DuckDB: ranked adjacency with the same
    md5 bucket salt + cap, then one chained CTE per step with the
    same seeded md5 pick. Replaces the folded text_fingerprint gate
    (single-hash projection whose machinery every dedup gate already
    exercises; still oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.walks import random_walks

    cust = _tpch(spark, sf_dir).tables["Customer"]
    walks = random_walks(
        _walk_edges(cust), n_walks=WALK_N, walk_length=WALK_LEN,
        seed=WALK_SEED, max_degree=WALK_MAX_DEG)
    return walks.select(
        "walk_id", "start",
        F.array_join(F.transform("walk", lambda x: x.cast("string")),
                     " ").alias("walk_s"))


BPE_N_MERGES, BPE_MIN_COUNT, BPE_PER_ROUND = 16, 2, 4


def _q_bpe_segment(spark, sf_dir):
    """Distributed BPE train + apply (ops/bpe, Sennrich et al. 2016):
    train 16 merge rules on the corpus word-type table (4 symbol-
    disjoint merges per pair-count shuffle), segment every document,
    return (doc_id, n_bpe_tokens, segmented). The oracle re-trains the
    same rules with a pure-Python replica at oracle-build time and
    replays the application IN SQL as a literal-merge replace chain
    over \\x01/\\x02-delimited symbol strings (greedy left-to-right,
    boundary-safe). Replaces the folded skew_two_phase_agg gate
    (3-row GROUP BY parity; the skew surface stays pinned by
    tests/test_skew.py and the 40-hop salted fuzz; still
    oracle-checked in tests/test_folded_gates.py)."""
    from brahmand_spark.ops.bpe import bpe_segment, train_bpe

    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, n_merges=BPE_N_MERGES,
                       min_count=BPE_MIN_COUNT,
                       merges_per_round=BPE_PER_ROUND)
    return bpe_segment(docs, merges).select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_bpe_tokens"),
        F.concat_ws(" ", "tokens").alias("segmented"),
    )


_EXTENSIONS: dict[str, Callable] = {
    "graph_cc_two_phase": _q_cc_two_phase,
    "dedup_ngram_jaccard": _q_ngram_jaccard,
    "dedup_minhash_lsh": _q_minhash_lsh,
    "dedup_index_probe": _q_dedup_index_probe,
    "decontaminate_verdict": _q_decontaminate,
    "dedup_simhash": _q_simhash,
    "dedup_duplicate_spans": _q_duplicate_spans,
    "seq_packing": _q_seq_packing,
    "cluster_kmeans": _q_cluster_kmeans,
    "dedup_semantic": _q_dedup_semantic,
    "dedup_embedding_cosine": _q_embedding_near_dup,
    "ann_cosine_topk": _q_ann_topk,
    "ann_lsh_topk": _q_ann_lsh_topk,
    "ann_ivf_topk": _q_ann_ivf_topk,
    "dedup_embedding_lsh": _q_dedup_embedding_lsh,
    "text_bm25": _q_text_bm25,
    "text_quality_score": _q_quality,
    "text_url_dedup": _q_text_url_dedup,
    "graph_walks": _q_graph_walks,
    "text_repetition": _q_text_repetition,
    "text_chunking": _q_text_chunking,
    "multimodal_metadata": _q_multimodal_metadata,
    "sketch_hll_distinct": _q_hll_distinct,
    "sketch_cms_topk": _q_cms_topk,
    "events_asof_join": _q_events_asof,
    "events_window_agg": _q_events_window,
    "events_sessionize": _q_events_sessionize,
    "graph_sssp_weighted": _q_graph_sssp,
    "adjacency_traversal": _q_adjacency_traversal,
    "graph_scc": _q_graph_scc,
    "bpe_segment": _q_bpe_segment,
    "graph_pagerank": _q_graph_pagerank,
    "graph_lpa": _q_graph_lpa,
    "graph_kcore": _q_graph_kcore,
}

_EXTENSION_ORACLES: dict[str, str] = {
    # decontaminate(n=8, min_shared=1) over train = %5<>0, eval =
    # %5=0: the oracle joins the 8-word-gram STRINGS directly where
    # the operator joins their xxhash64 values — identical modulo
    # 64-bit collisions (the cross_corpus_overlap caveat)
    "decontaminate_verdict": r"""
        WITH train AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        ev AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        tsh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 6),
                       i -> array_to_string(t[i:i+7], ' ')))) AS s
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '') AS t
                  FROM train)),
        esh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 6),
                       i -> array_to_string(t[i:i+7], ' ')))) AS s
            FROM (SELECT doc_id,
                         list_filter(string_split_regex(text, '\s+'),
                                     x -> x <> '') AS t
                  FROM ev)),
        pairs AS (
            SELECT tsh.doc_id AS train_id, esh.doc_id AS eval_id,
                   count(*) AS n_shared
            FROM tsh JOIN esh ON tsh.s = esh.s
            GROUP BY 1, 2),
        per AS (
            SELECT train_id, count(*) AS n_eval_docs,
                   max(n_shared) AS max_shared
            FROM pairs GROUP BY 1)
        SELECT t.doc_id AS doc_id,
               coalesce(per.n_eval_docs, 0) AS n_eval_docs,
               coalesce(per.max_shared, 0) AS max_shared,
               coalesce(per.n_eval_docs, 0) > 0 AS contaminated
        FROM (SELECT doc_id FROM train) t
        LEFT JOIN per ON per.train_id = t.doc_id""",
    "graph_cc_two_phase": """
        SELECT n_nationkey::BIGINT AS id,
               min(n_nationkey::BIGINT) OVER (PARTITION BY n_regionkey)
                   AS component
        FROM nation""",
    "dedup_ngram_jaccard": r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
            FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.8""",
    "dedup_embedding_cosine": """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(
                   a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(
                  a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4""",
    "ann_cosine_topk": """
        WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_cosine_similarity(
                       c.embedding::DOUBLE[], q.embedding::DOUBLE[]), 6) AS cosine
            FROM embeddings c, q WHERE c.vec_id <> q.vec_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, corpus_id ASC) AS rank
            FROM scored)
        SELECT query_id, corpus_id, cosine, rank FROM ranked WHERE rank <= 10""",
    "text_quality_score": r"""
        WITH base AS (
            SELECT doc_id, length(text) AS n_chars,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t,
                   length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
                   length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS n_alpha
            FROM documents),
        feat AS (
            SELECT doc_id, n_chars, len(t) AS n_tokens, n_punct, n_alpha,
                   len(list_filter(t, x -> lower(x) IN
                       ('the','a','an','and','or','of','to','in','is','it',
                        'for','on','with','as','at','by'))) AS n_stop
            FROM base)
        SELECT doc_id, n_chars AS n_chars_c, n_tokens,
               round((n_chars - n_tokens + 1) * 1.0 / greatest(n_tokens, 1), 4) AS mean_token_len,
               round(n_punct * 1.0 / greatest(n_chars, 1), 4) AS punct_ratio,
               round(n_alpha * 1.0 / greatest(n_chars, 1), 4) AS alpha_ratio,
               round(n_stop * 1.0 / greatest(n_tokens, 1), 4) AS stopword_ratio,
               round(CASE WHEN n_tokens < 5 THEN 0.0 ELSE
                   0.4 * round(n_stop * 1.0 / greatest(n_tokens, 1), 4)
                 + 0.4 * round(n_alpha * 1.0 / greatest(n_chars, 1), 4)
                 + 0.2 * least(n_tokens / 100.0, 1.0) END, 4) AS quality
        FROM feat""",
    "text_repetition": r"""
        WITH lines AS (
            SELECT doc_id,
                   list_filter(string_split(text, chr(10)),
                               ln -> trim(ln) <> '') AS ls
            FROM documents),
        line_rows AS (SELECT doc_id, unnest(ls) AS ln FROM lines),
        line_counts AS (
            SELECT doc_id, ln, count(*) AS c
            FROM line_rows GROUP BY doc_id, ln),
        line_stats AS (
            SELECT doc_id,
                   sum(c) AS n_lines,
                   sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_lines,
                   sum(c * length(ln)) AS n_chars,
                   sum(CASE WHEN c > 1 THEN c * length(ln) ELSE 0 END)
                       AS dup_chars
            FROM line_counts GROUP BY doc_id),
        toks AS (
            SELECT doc_id, text,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS t
            FROM documents),
        bigram_rows AS (
            SELECT doc_id, text,
                   unnest(list_transform(range(1, greatest(len(t), 2)),
                                         i -> t[i] || ' ' || t[i+1])) AS bg
            FROM toks WHERE len(t) >= 2),
        bigram_counts AS (
            SELECT doc_id, text, bg, count(*) AS c
            FROM bigram_rows GROUP BY doc_id, text, bg),
        bigram_top AS (
            SELECT doc_id, max(c * length(bg)) AS top_chars,
                   any_value(length(text)) AS tl
            FROM bigram_counts GROUP BY doc_id)
        SELECT d.doc_id,
               round(coalesce(ls.dup_lines / ls.n_lines, 0), 6)
                   AS dup_line_frac,
               round(coalesce(ls.dup_chars / greatest(ls.n_chars, 1), 0), 6)
                   AS dup_line_char_frac,
               round(coalesce(bt.top_chars / greatest(length(d.text), 1), 0),
                     6) AS top_bigram_char_frac
        FROM documents d
        LEFT JOIN line_stats ls USING (doc_id)
        LEFT JOIN bigram_top bt USING (doc_id)""",
    "text_chunking": r"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS t
            FROM documents),
        sized AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) >= 1),
        st AS (SELECT doc_id, t,
                      unnest(range(1, n + 1, 12)) AS start
               FROM sized)
        SELECT doc_id, ((start - 1) // 12)::INT AS chunk_idx,
               len(t[start:start + 15]) AS n_chunk_tokens,
               array_to_string(t[start:start + 15], ' ') AS chunk_text
        FROM st""",
    "multimodal_metadata": """
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'png'
                    WHEN doc_id % 3 = 1 THEN 'jpeg'
                    ELSE 'unknown' END AS format,
               (octet_length(encode(text))
                + CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 4 END)::INT AS n_bytes
        FROM documents""",
    "events_asof_join": """
        SELECT l.user_id, l.ts, round(l.value, 2) AS purchase_value,
               r.ts AS ts_right, round(r.value, 2) AS click_value_right
        FROM (SELECT * FROM events WHERE event_type = 'purchase') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
          ON l.user_id = r.user_id AND l.ts >= r.ts""",
    "events_window_agg": """
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n, round(sum(value), 2) AS total_value
        FROM events GROUP BY 1, 2""",
    "events_sessionize": """
        WITH marked AS (
            SELECT user_id, ts, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        numbered AS (
            SELECT *, sum(new_session) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked)
        SELECT user_id, min(ts) AS session_start,
               max(ts) + INTERVAL 30 MINUTE AS session_end,
               count(*) AS n_events, round(sum(value), 2) AS total_value
        FROM numbered GROUP BY user_id, sid""",
    "adjacency_traversal": """
        SELECT o_custkey AS src, o_orderkey AS dst
        FROM orders WHERE o_custkey <= 100""",
    # dedup_minhash_lsh / dedup_simhash / dedup_embedding_lsh /
    # ann_lsh_topk / ann_ivf_topk / graph_pagerank get GENERATED
    # oracles (below): seeded modular arithmetic, literal hyperplanes,
    # sample-derived centroids and chained-CTE power iterations are all
    # replayable in DuckDB.
}


def _sql_arr(xs) -> str:
    """DuckDB double-array literal with full float precision."""
    return "[" + ", ".join(repr(float(x)) for x in xs) + "]"


def _md5h60_sql(expr: str) -> str:
    """DuckDB replay of ops/text.md5_hash60: first 15 hex chars of md5
    folded to a bigint (== Spark's conv(substring(md5(x),1,15),16,10))."""
    return (
        "list_reduce(list_transform("
        f"string_split(substr(md5({expr}), 1, 15), ''), "
        "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), "
        "(a, b) -> a * 16 + b)"
    )


def _hll_oracle() -> str:
    """Replay of ops/sketches.hll_distinct_with_exact(p=10) on
    lineitem.l_orderkey grouped by (l_returnflag, l_linestatus):
    md5-derived 60-bit hash -> bucket = low 10 bits, rho = rank of the
    first 1-bit in the high 50 -> per-bucket max -> integer-scaled
    harmonic fold -> linear-counting small-range branch."""
    from brahmand_spark.ops.sketches import _alpha

    p, bits = 10, 60
    m, q, k = 1 << p, bits - p, bits - p + 1
    numer = _alpha(m) * m * m * float(1 << k)
    h = _md5h60_sql("l_orderkey::VARCHAR")
    return f"""
        WITH hashed AS (
            SELECT l_returnflag, l_linestatus, {h} AS h FROM lineitem),
        rows_rho AS (
            SELECT l_returnflag, l_linestatus, h % {m} AS bucket,
                   CASE WHEN (h >> {p}) = 0 THEN {k}
                        ELSE {q} - length(bin(h >> {p})) + 1 END AS rho
            FROM hashed),
        reg AS (
            SELECT l_returnflag, l_linestatus, bucket, max(rho) AS max_rho
            FROM rows_rho GROUP BY 1, 2, 3),
        agg AS (
            SELECT l_returnflag, l_linestatus, count(*) AS n_present,
                   sum(1::BIGINT << ({k} - max_rho)) AS s_present
            FROM reg GROUP BY 1, 2),
        est AS (
            SELECT l_returnflag, l_linestatus, n_present,
                   {numer!r} / (s_present
                       + ({m} - n_present) * {1 << k})::DOUBLE AS e_raw,
                   {m} - n_present AS v
            FROM agg),
        fin AS (
            SELECT l_returnflag, l_linestatus, n_present,
                   CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
                        THEN {float(m)!r} * ln({float(m)!r} / v)
                        ELSE e_raw END AS e
            FROM est),
        ex AS (
            SELECT l_returnflag, l_linestatus,
                   count(DISTINCT l_orderkey) AS exact_distinct
            FROM lineitem GROUP BY 1, 2)
        SELECT f.l_returnflag, f.l_linestatus,
               f.n_present AS n_registers,
               round(f.e, 4) AS hll_estimate,
               ex.exact_distinct,
               round(abs(round(f.e, 4) - ex.exact_distinct)
                     / greatest(ex.exact_distinct, 1)::DOUBLE, 4) AS rel_err
        FROM fin f
        JOIN ex USING (l_returnflag, l_linestatus)"""


def _dedup_index_probe_oracle() -> str:
    """Replay of build_dedup_index(hash_fn='portable') +
    dedup_against(threshold=0.5) — the full persisted-index probe:
    whole-text md5-60 fingerprints (exact route, est 1.0), seeded
    permutation mins -> 16-band bucket equality -> signature-agreement
    estimate (near route, exact pairs excluded). Mirrors the pytest
    replay (tests/test_dedup_index.py::TestDuckDBReplay) with the
    held-out %5 split as the probe batch."""
    from brahmand_spark.ops.dedup import HASH_P, _perm_params

    num_hashes, bands, rows = 64, 16, 4
    perms = _perm_params(num_hashes, 42)
    mins = ",\n                   ".join(
        f"min(({a} * h + {b}) % {HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(perms)
    )

    def side(name: str, srcq: str) -> str:
        return rf"""
        {name}_sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS s
            FROM (SELECT doc_id,
                         list_filter(
                             string_split_regex(text, '\s+'),
                             x -> x <> '') AS t
                  FROM {srcq})),
        {name}_sig AS (
            SELECT doc_id, {mins}
            FROM (SELECT doc_id,
                         {_md5h60_sql('s')} % {HASH_P} AS h
                  FROM {name}_sh)
            GROUP BY doc_id),
        {name}_fp AS (
            SELECT doc_id, {_md5h60_sql('text')} AS fp
            FROM {srcq})"""

    band_conds = "\n              OR ".join(
        "(" + " AND ".join(
            f"sa.m{b * rows + r} = sb.m{b * rows + r}"
            for r in range(rows)) + ")"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes)
    )
    return rf"""
        WITH corpus AS (
            SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        batch AS (
            SELECT doc_id + 10000000 AS doc_id, text || ' zzz' AS text
            FROM documents WHERE doc_id % 5 = 0),
        {side('c', 'corpus')},
        {side('b', 'batch')},
        exact AS (
            SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
            FROM b_fp b JOIN c_fp c ON b.fp = c.fp),
        near AS (
            SELECT sb.doc_id AS new_id, sa.doc_id AS corpus_id,
                   round(({matches}) / 64.0, 6) AS est_jaccard
            FROM b_sig sb JOIN c_sig sa ON ({band_conds})
            WHERE round(({matches}) / 64.0, 6) >= 0.5
              AND NOT EXISTS (
                  SELECT 1 FROM exact e
                  WHERE e.new_id = sb.doc_id
                    AND e.corpus_id = sa.doc_id))
        SELECT new_id, corpus_id, 1.0::DOUBLE AS est_jaccard,
               'exact' AS match_kind FROM exact
        UNION ALL
        SELECT new_id, corpus_id, est_jaccard, 'near' FROM near"""


def _minhash_lsh_oracle() -> str:
    """Replay of ops/dedup.minhash_lsh_candidates(hash_fn='portable',
    n=3, num_hashes=64, bands=16, seed=42) + est>=0.5: shingle ->
    md5-derived base hash mod p -> 64 seeded permutation mins ->
    16-band bucket equality (disjunction of band conjuncts — same pair
    set as the banded join) -> signature-agreement estimate."""
    from brahmand_spark.ops.dedup import HASH_P, _perm_params

    num_hashes, bands, rows = 64, 16, 4
    perms = _perm_params(num_hashes, 42)
    mins = ",\n                   ".join(
        f"min(({a} * h + {b}) % {HASH_P}) AS m{i}"
        for i, (a, b) in enumerate(perms)
    )
    band_conds = "\n              OR ".join(
        "(" + " AND ".join(
            f"sa.m{b * rows + r} = sb.m{b * rows + r}" for r in range(rows)
        ) + ")"
        for b in range(bands)
    )
    matches = " + ".join(
        f"(sa.m{i} = sb.m{i})::INT" for i in range(num_hashes)
    )
    return rf"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS t
            FROM documents),
        sh AS (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       range(1, len(t) - 1),
                       i -> array_to_string(t[i:i+2], ' ')))) AS shingle
            FROM toks),
        hs AS (
            SELECT doc_id,
                   {_md5h60_sql('shingle')} % {HASH_P} AS h
            FROM sh),
        sig AS (SELECT doc_id, {mins}
                FROM hs GROUP BY doc_id)
        SELECT sa.doc_id AS id_a, sb.doc_id AS id_b,
               round(({matches}) / 64.0, 6) AS est_jaccard
        FROM sig sa JOIN sig sb
          ON sa.doc_id < sb.doc_id AND ({band_conds})
        WHERE round(({matches}) / 64.0, 6) >= 0.5"""


def _duplicate_spans_oracle() -> str:
    """Replay of ops/dedup.duplicate_span_stats(window=5, min_count=2,
    hash_fn='portable'): sliding 5-token windows -> md5-derived window
    hash -> corpus-wide occurrence count -> per-doc merged coverage of
    duplicated windows (lead-window interval union)."""
    w = 5
    return rf"""
        WITH tok AS (
            SELECT doc_id,
                   list_filter(string_split_regex(text, '\s+'),
                               x -> x <> '') AS toks
            FROM documents),
        base AS (
            SELECT doc_id, toks, len(toks) AS n_tokens FROM tok),
        wins AS (
            SELECT doc_id, n_tokens, i - 1 AS start,
                   array_to_string(toks[i:i+{w - 1}], ' ') AS s
            FROM base,
                 LATERAL (SELECT unnest(range(1, n_tokens - {w} + 2))
                          AS i) u
            WHERE n_tokens >= {w}),
        hashed AS (
            SELECT doc_id, n_tokens, start, {_md5h60_sql('s')} AS h
            FROM wins),
        duph AS (SELECT h FROM hashed GROUP BY h HAVING count(*) >= 2),
        marked AS (SELECT hashed.* FROM hashed JOIN duph USING (h)),
        cover AS (
            SELECT doc_id, n_tokens,
                   least({w}, coalesce(
                       lead(start) OVER (PARTITION BY doc_id
                                         ORDER BY start) - start,
                       {w})) AS covered
            FROM marked),
        per_doc AS (
            SELECT doc_id, n_tokens, count(*) AS dup_windows,
                   sum(covered) AS dup_covered_tokens
            FROM cover GROUP BY doc_id, n_tokens)
        SELECT b.doc_id, b.n_tokens,
               coalesce(p.dup_windows, 0)::BIGINT AS dup_windows,
               coalesce(p.dup_covered_tokens, 0)::BIGINT
                   AS dup_covered_tokens,
               round(coalesce(p.dup_covered_tokens, 0)::DOUBLE
                     / greatest(b.n_tokens, 1), 6) AS dup_token_frac
        FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id"""


def _kmeans_ctes(k: int = 8, iters: int = 3) -> str:
    """WITH-clause body replaying ops/clustering.kmeans_fit(k, iters):
    lowest-id init, then per iteration a nearest-centroid assignment
    (argmax of v.c - |c|^2/2, ties to the lower cell — the same
    struct-max order as similarity.ivf_cell) and a per-dimension mean
    update with empty cells keeping their previous centroid. Ends in
    CTE ``fin(id, v, cell)``: the final assignment against the last
    centroids, with the vector carried for downstream cosine work
    (the semdedup oracle)."""
    parts = [f"""v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
                FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY id) - 1 AS cell,
                      v AS c
               FROM (SELECT * FROM v ORDER BY id LIMIT {k}))"""]
    for i in range(1, iters + 1):
        parts.append(f"""
        a{i} AS (
            SELECT id, v, cell FROM (
                SELECT v.id, v.v, c.cell,
                       row_number() OVER (PARTITION BY v.id
                           ORDER BY list_dot_product(v.v, c.c)
                                    - list_dot_product(c.c, c.c) / 2
                                    DESC,
                                    c.cell ASC) AS rn
                FROM v CROSS JOIN c{i - 1} c) WHERE rn = 1),
        u{i} AS (
            SELECT cell, p.pos, avg(v[p.pos]) AS m
            FROM a{i},
                 LATERAL (SELECT unnest(range(1, len(v) + 1)) AS pos) p
            GROUP BY cell, p.pos),
        c{i} AS (
            SELECT c.cell, coalesce(u.c, c.c) AS c
            FROM c{i - 1} c
            LEFT JOIN (SELECT cell, list(m ORDER BY pos) AS c
                       FROM u{i} GROUP BY cell) u USING (cell))""")
    parts.append(f"""
        fin AS (
            SELECT id, v, cell FROM (
                SELECT v.id, v.v, c.cell,
                       row_number() OVER (PARTITION BY v.id
                           ORDER BY list_dot_product(v.v, c.c)
                                    - list_dot_product(c.c, c.c) / 2 DESC,
                                    c.cell ASC) AS rn
                FROM v CROSS JOIN c{iters} c) WHERE rn = 1)""")
    return ",".join(parts)


def _kmeans_oracle(k: int = 8, iters: int = 3) -> str:
    """Replay of ops/clustering.kmeans(k=8, iters=3) — see
    _kmeans_ctes."""
    return ("WITH " + _kmeans_ctes(k, iters)
            + " SELECT id AS vec_id, cell AS cluster FROM fin")


def _semdedup_oracle(k: int = 8, iters: int = 3,
                     threshold: float = 0.4) -> str:
    """Replay of ops/semdedup.semdedup(k=8, iters=3, threshold=0.4):
    the kmeans assignment CTEs, then a within-cluster pair join — a
    vector is dropped iff some lower-id vector in its cluster has
    round(cosine, 6) >= threshold (the deterministic keep-first
    rule)."""
    return ("WITH " + _kmeans_ctes(k, iters) + f""",
        drops AS (
            SELECT DISTINCT b.id FROM fin a JOIN fin b
              ON a.cell = b.cell AND a.id < b.id
            WHERE round(list_cosine_similarity(a.v, b.v), 6)
                  >= {threshold})
        SELECT f.id AS vec_id, f.cell AS cluster,
               (d.id IS NULL) AS keep
        FROM fin f LEFT JOIN drops d ON f.id = d.id""")


def _seq_packing_oracle() -> str:
    """Replay of ops/packing.pack_sequences(budget=256, n_buckets=8)
    over token_count(documents): the greedy fill scan as a per-bucket
    recursive CTE stepping through the id-ordered row numbers."""
    budget, nb = 256, 8
    return rf"""
        WITH RECURSIVE t AS (
            SELECT (doc_id % {nb})::INT AS bucket,
                   doc_id::BIGINT AS doc_id,
                   len(list_filter(string_split_regex(text, '\s+'),
                       x -> x <> ''))::BIGINT AS n_tokens,
                   row_number() OVER (PARTITION BY doc_id % {nb}
                                      ORDER BY doc_id) AS rn
            FROM documents),
        packed AS (
            SELECT bucket, rn, doc_id, n_tokens,
                   0::BIGINT AS seq_id, 0::BIGINT AS seq_offset,
                   n_tokens AS fill
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.bucket, t.rn, t.doc_id, t.n_tokens,
                   CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {budget}
                        THEN p.seq_id + 1 ELSE p.seq_id END,
                   CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {budget}
                        THEN 0 ELSE p.fill END,
                   CASE WHEN p.fill > 0 AND p.fill + t.n_tokens > {budget}
                        THEN t.n_tokens ELSE p.fill + t.n_tokens END
            FROM packed p
            JOIN t ON t.bucket = p.bucket AND t.rn = p.rn + 1)
        SELECT bucket, doc_id, n_tokens, seq_id, seq_offset FROM packed"""


def _embedding_lsh_oracle() -> str:
    """Replay of ops/dedup.embedding_near_dup_pairs(method='lsh',
    threshold=0.4, n_planes=6, n_tables=8, seed=42, dim=64): candidate
    pairs share a sign-bit bucket in ANY of the 8 seeded hyperplane
    tables; exact cosine (rounded 6) filters."""
    from brahmand_spark.ops.similarity import _hyperplanes

    n_planes, n_tables, seed, dim = 6, 8, 42, 64

    def bucket(alias: str, planes) -> str:
        return " + ".join(
            f"(list_dot_product({alias}.v, {_sql_arr(p)}) >= 0)::INT"
            f" * {1 << (n_planes - 1 - j)}"
            for j, p in enumerate(planes)
        )

    table_conds = "\n              OR ".join(
        f"({bucket('a', _hyperplanes(dim, n_planes, seed + t))})"
        f" = ({bucket('b', _hyperplanes(dim, n_planes, seed + t))})"
        for t in range(n_tables)
    )
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cosine
        FROM v a JOIN v b
          ON a.vec_id < b.vec_id AND ({table_conds})
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4"""


def _simhash_oracle() -> str:
    """Replay of ops/dedup.simhash_near_pairs(max_hamming=3,
    hash_fn='portable'): 60-bit md5-derived fingerprint, majority-vote
    bits, 4-chunk pigeonhole candidates, exact Hamming <= 3."""
    from brahmand_spark.ops.dedup import (
        _chunk_widths, SIMHASH_PORTABLE_BITS,
    )

    bits, n_chunks = SIMHASH_PORTABLE_BITS, 4

    votes = ",\n                   ".join(
        f"sum((h >> {i}) & 1) AS v{i}" for i in range(bits)
    )
    chunk_exprs = []
    pos = 0
    for ci, width in enumerate(_chunk_widths(bits, n_chunks)):
        terms = " + ".join(
            f"((2 * v{pos + i} > n)::BIGINT << {width - 1 - i})"
            for i in range(width)
        )
        chunk_exprs.append(f"({terms}) AS c{ci}")
        pos += width
    chunks = ",\n                   ".join(chunk_exprs)
    share = " OR ".join(f"a.c{c} = b.c{c}" for c in range(n_chunks))
    ham = " + ".join(
        f"bit_count(xor(a.c{c}, b.c{c}))" for c in range(n_chunks)
    )
    return rf"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_distinct(list_filter(
                       string_split_regex(text, '\s+'),
                       x -> x <> ''))) AS t
            FROM documents),
        hs AS (
            SELECT doc_id, {_md5h60_sql('t')} AS h
            FROM toks),
        votes AS (
            SELECT doc_id, count(*) AS n,
                   {votes}
            FROM hs GROUP BY doc_id),
        fp AS (
            SELECT doc_id,
                   {chunks}
            FROM votes)
        SELECT id_a, id_b, hamming FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ({ham})::INT AS hamming
            FROM fp a JOIN fp b
              ON a.doc_id < b.doc_id AND ({share}))
        WHERE hamming <= 3"""


def _ann_ivf_oracle() -> str:
    """Replay of ops/similarity.ivf_topk(k=10, n_cells=16, nprobe=4,
    dim=64, seed=42) over queries vec_id < 10.

    The coarse quantizer is deterministic (seeded k-means over the
    lowest-10k-id sample), so the oracle derives bit-identical centroid
    literals by running the same ``_kmeans`` on the same sample — read
    from the sf0.01 parquet the driver grades against (oracle_sql() has
    no sf parameter; correctness always runs at sf0.01). Cell
    assignment is argmax of (v·c - |c|²/2) with first-win ties, probes
    are the 4 best cells per query, exact cosine re-ranks."""
    import duckdb
    import numpy as np

    from brahmand_spark.ops.similarity import _kmeans

    con = duckdb.connect()
    sample = con.execute(
        "SELECT embedding::DOUBLE[] AS v FROM "
        "'/root/testdata/sf0.01/embeddings.parquet' "
        "ORDER BY vec_id LIMIT 10000"
    ).df()
    X = np.vstack(sample["v"].to_numpy()).astype("float64")
    cents = _kmeans(X, 16, 10, 42)
    scores = "[" + ",\n                   ".join(
        f"list_dot_product(v, {_sql_arr(c)})"
        f" - {repr(sum(x * x for x in c) / 2.0)}"
        for c in cents
    ) + "]"
    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        sc AS (
            SELECT vec_id, v,
                   {scores} AS scores
            FROM v),
        corp AS (
            SELECT vec_id AS corpus_id, v AS cv,
                   list_position(scores, list_max(scores)) - 1 AS cell
            FROM sc),
        qprobe AS (
            SELECT query_id, qv, cell FROM (
                SELECT q.vec_id AS query_id, q.v AS qv, u.cell,
                       q.scores[u.cell + 1] AS s,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY q.scores[u.cell + 1] DESC,
                                    u.cell ASC) AS rn
                FROM sc q, (SELECT unnest(range(16)) AS cell) u
                WHERE q.vec_id < 10)
            WHERE rn <= 4),
        scored AS (
            SELECT q.query_id, c.corpus_id,
                   round(list_cosine_similarity(c.cv, q.qv), 6) AS cosine
            FROM corp c JOIN qprobe q
              ON c.cell = q.cell AND c.corpus_id <> q.query_id),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, corpus_id ASC) AS rank
            FROM scored)
        SELECT query_id, corpus_id, cosine, rank
        FROM ranked WHERE rank <= 10"""


def _pagerank_oracle() -> str:
    """Replay of ops/algos.pagerank(iterations=5, damping=0.85) over
    the SUPP_IN graph (supplier -> nation+1M): five chained CTE
    iterations; the driver-collected dangling mass becomes a scalar
    subquery per iteration. Float literals mirror Python's computed
    values (1.0-0.85 != 0.15 exactly)."""
    d = 0.85
    iters = 5
    parts = [
        """e AS (SELECT s_suppkey::BIGINT AS src,
                        (s_nationkey + 1000000)::BIGINT AS dst
                 FROM supplier),
        v AS (SELECT DISTINCT id FROM (
                  SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
        outdeg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        nv AS (SELECT count(*)::DOUBLE AS n FROM v),
        r0 AS (SELECT id, 1.0::DOUBLE AS rank FROM v)"""
    ]
    for k in range(1, iters + 1):
        parts.append(f"""
        dang{k} AS (
            SELECT coalesce(sum(r.rank), 0.0) AS m
            FROM r{k - 1} r LEFT JOIN outdeg o ON r.id = o.src
            WHERE o.src IS NULL),
        recv{k} AS (
            SELECT e.dst AS id, sum(r.rank / o.deg) AS recv
            FROM r{k - 1} r
            JOIN outdeg o ON r.id = o.src
            JOIN e ON e.src = r.id
            GROUP BY e.dst),
        r{k} AS (
            SELECT v.id,
                   ({1.0 - d!r} + {d!r} * (SELECT m FROM dang{k})
                                 / (SELECT n FROM nv))
                   + {d!r} * coalesce(c.recv, 0.0) AS rank
            FROM v LEFT JOIN recv{k} c ON v.id = c.id)""")
    return ("WITH " + ",".join(parts)
            + f"\n        SELECT id, round(rank, 6) AS rank FROM r{iters}")


def _lpa_oracle(iterations: int = 4) -> str:
    """Replay of ops/algos.label_propagation(max_iterations=4) over the
    customer same-nation clique graph: per round, neighbor-label vote
    counts -> argmax by (count DESC, label ASC) -> coalesce onto the
    previous labels. Spark's early-convergence break is safe to replay
    past — once no label changes, the vote profile (and thus the argmax)
    is stationary."""
    parts = [
        """raw AS (
            SELECT a.c_custkey::BIGINT AS a, b.c_custkey::BIGINT AS b
            FROM customer a JOIN customer b
              ON a.c_nationkey = b.c_nationkey
             AND a.c_custkey < b.c_custkey),
        und AS (SELECT a, b FROM raw UNION SELECT b, a FROM raw),
        l0 AS (SELECT DISTINCT a AS id, a AS community FROM und)"""
    ]
    for r in range(1, iterations + 1):
        parts.append(f"""
        v{r} AS (
            SELECT e.b AS id, l.community, count(*) AS n
            FROM l{r - 1} l JOIN und e ON l.id = e.a
            GROUP BY 1, 2),
        b{r} AS (
            SELECT id, community AS nc FROM (
                SELECT id, community, row_number() OVER (
                    PARTITION BY id
                    ORDER BY n DESC, community ASC) AS rn
                FROM v{r})
            WHERE rn = 1),
        l{r} AS (
            SELECT l.id, coalesce(b.nc, l.community) AS community
            FROM l{r - 1} l LEFT JOIN b{r} b ON l.id = b.id)""")
    return ("WITH " + ",".join(parts)
            + f"\n        SELECT id, community FROM l{iterations}")


def _kcore_oracle(k: int = 4, rounds: int = 12) -> str:
    """Replay of ops/algos.k_core(k=4) on the thinned part<->supplier
    graph: chained peel rounds (degree -> keep -> semi-join both
    endpoints). 12 rounds is safely past the measured peeling depth
    (8 at sf0.001, 4 at sf0.01/0.1); extra rounds are no-ops at the
    fixpoint, matching Spark's converge-then-break loop.

    Every edge-set CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    each round references the previous edge set three times, so 12
    un-materialized rounds would expand to 3^12 base-table scans."""
    parts = [
        """raw AS MATERIALIZED (
            SELECT DISTINCT l_partkey::BIGINT AS a,
                   (l_suppkey + 10000000)::BIGINT AS b
            FROM lineitem WHERE l_quantity >= 48),
        e0 AS MATERIALIZED (
            SELECT a, b FROM raw UNION SELECT b, a FROM raw)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
        d{r} AS (SELECT a, count(*) AS d FROM e{r - 1} GROUP BY a),
        k{r} AS MATERIALIZED (SELECT a FROM d{r} WHERE d >= {k}),
        e{r} AS MATERIALIZED (
            SELECT e.a, e.b FROM e{r - 1} e
            JOIN k{r} x ON e.a = x.a
            JOIN k{r} y ON e.b = y.a)""")
    return ("WITH " + ",".join(parts)
            + f"""
        SELECT a AS id, count(*) AS degree FROM e{rounds}
        GROUP BY a HAVING count(*) >= {k}""")


def _cms_oracle(k: int = 20, depth: int = 4, width: int = 64,
                seed: int = 42) -> str:
    """Replay of ops/sketches.cms_heavy_hitters on corpus tokens:
    seeded md5-derived row hashes -> (row, bucket) cell counts ->
    min-over-rows point estimates for the exact top-k tokens."""
    def bucket(i: int) -> str:
        return (_md5h60_sql(f"'{seed + i}:' || t") + f" % {width}")

    cell_rows = "\n            UNION ALL ".join(
        f"SELECT {i} AS row, {bucket(i)} AS bucket FROM tok"
        for i in range(depth)
    )
    probe_rows = "\n            UNION ALL ".join(
        f"SELECT t, {i} AS row, {bucket(i)} AS bucket FROM topk"
        for i in range(depth)
    )
    return f"""
        WITH tok AS (
            SELECT unnest(list_filter(string_split_regex(text, '\\s+'),
                                      x -> x <> '')) AS t
            FROM documents),
        exact AS (SELECT t, count(*) AS exact_count FROM tok GROUP BY t),
        topk AS (SELECT * FROM exact
                 ORDER BY exact_count DESC, t ASC LIMIT {k}),
        cells AS (
            SELECT row, bucket, count(*) AS c FROM (
            {cell_rows}
            ) GROUP BY row, bucket),
        probes AS (
            {probe_rows}),
        est AS (
            SELECT p.t, min(coalesce(c.c, 0)) AS cms_estimate
            FROM probes p LEFT JOIN cells c USING (row, bucket)
            GROUP BY p.t)
        SELECT k.t AS token, k.exact_count, e.cms_estimate,
               row_number() OVER (ORDER BY k.exact_count DESC, k.t ASC)
                   AS rank
        FROM topk k JOIN est e USING (t)"""


def _sssp_oracle(rounds: int = 12) -> str:
    """Replay of ops/algos.sssp_weighted(max_iterations=12) on the
    two-lane customer graph: each round is
    ``d_i = min(d_{i-1}, min over edges(d_{i-1}(src) + w))`` — exact
    shortest paths over <= i edges, so round 12 matches Spark's
    frontier Bellman-Ford whether or not it converged early.
    Distance CTEs are MATERIALIZED (each round reads the previous one
    twice)."""
    parts = [
        """edges AS MATERIALIZED (
            SELECT c_custkey::BIGINT AS src,
                   (c_custkey + 1)::BIGINT AS dst,
                   (1 + c_custkey % 5)::BIGINT AS w
            FROM customer
            UNION ALL
            SELECT c_custkey::BIGINT, (c_custkey + 7)::BIGINT,
                   (3 + c_custkey % 4)::BIGINT
            FROM customer),
        d0 AS MATERIALIZED (
            SELECT c_custkey::BIGINT AS id, 0::BIGINT AS dist
            FROM customer WHERE c_custkey % 100 = 1)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""
        d{r} AS MATERIALIZED (
            SELECT id, min(dist) AS dist FROM (
                SELECT id, dist FROM d{r - 1}
                UNION ALL
                SELECT e.dst AS id, d.dist + e.w AS dist
                FROM d{r - 1} d JOIN edges e ON e.src = d.id
            ) GROUP BY id)""")
    return ("WITH " + ",".join(parts)
            + f"\n        SELECT id, dist FROM d{rounds}")


def _ann_lsh_oracle() -> str:
    """Replay of ops/similarity.hyperplane_lsh_topk(k=10, dim=64,
    n_planes=4, seed=42) over queries vec_id < 10: same-bucket
    candidates, exact cosine re-rank, row_number <= 10."""
    from brahmand_spark.ops.similarity import _hyperplanes

    planes = _hyperplanes(64, 4, 42)

    def bucket(alias: str) -> str:
        return " + ".join(
            f"(list_dot_product({alias}.v, {_sql_arr(p)}) >= 0)::INT"
            f" * {1 << (len(planes) - 1 - j)}"
            for j, p in enumerate(planes)
        )

    return f"""
        WITH v AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                   round(list_cosine_similarity(c.v, q.v), 6) AS cosine
            FROM v c JOIN v q
              ON q.vec_id < 10 AND c.vec_id <> q.vec_id
             AND ({bucket('c')}) = ({bucket('q')})),
        ranked AS (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, corpus_id ASC) AS rank
            FROM scored)
        SELECT query_id, corpus_id, cosine, rank
        FROM ranked WHERE rank <= 10"""


_PLAN_MEMO: dict = {}


def _memo(name: str, fn: Callable) -> Callable[[SparkSession, str], DataFrame]:
    """Memoize the built DataFrame per (session, dataset, query).

    The correctness driver runs each gate once; memoizing avoids
    rebuilding iterative plans (whose supersteps run eagerly at
    construction) if a harness touches a gate twice. The bench takes
    ``queries(fresh=True)`` instead — it must pay full construction +
    execution per timed pass (see bench.py)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        key = (id(spark), sf_dir, name)
        if key not in _PLAN_MEMO:
            _PLAN_MEMO[key] = fn(spark, sf_dir)
        return _PLAN_MEMO[key]

    return run


def _url_dedup_oracle() -> str:
    """Static DuckDB replay of the text_url_dedup gate: the synthetic
    URL fixture, the full normalization chain (scheme/host lowering,
    userinfo + default-port + single-www strip, fragment drop,
    trailing-slash trim, tracking-param filter with order preserved),
    min-id URL-exact dedup, registered-domain extraction against the
    same built-in suffix list (split by label count; the built-in
    list has no 3-label entries), the domain blocklist, and the
    hash-order per-domain cap (single-window form of the operator's
    salted-bucket rank composition)."""
    from brahmand_spark.ops.urls import COMMON_SUFFIXES

    sfx2 = ", ".join(f"'{s}'" for s in COMMON_SUFFIXES
                     if s.count(".") == 1)
    sfx1 = ", ".join(f"'{s}'" for s in COMMON_SUFFIXES
                     if s.count(".") == 0)
    h = _md5h60_sql("'cap:' || doc_id")
    return f"""
        WITH synth AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 2 = 0 THEN 'https'
                         ELSE 'HTTP' END)
                   || '://'
                   || (CASE doc_id % 5
                       WHEN 0 THEN 'Example.COM'
                       WHEN 1 THEN 'www.example.com'
                       WHEN 2 THEN 'news.example.co.uk'
                       WHEN 3 THEN 'blog.testsite.org'
                       ELSE 'cdn.testsite.org' END)
                   || '/page/' || (doc_id % 50)
                   || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
                   || (CASE WHEN doc_id % 3 = 0
                            THEN '?utm_source=feed&x=' || (doc_id % 4)
                            WHEN doc_id % 3 = 1
                            THEN '?x=' || (doc_id % 4)
                            ELSE '' END) AS url
            FROM documents),
        p AS (
            SELECT doc_id,
                lower(regexp_extract(trim(url),
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                regexp_replace(regexp_extract(trim(url),
                    '^[A-Za-z][A-Za-z0-9+.-]*://(.*)$', 1),
                    '#.*$', '') AS nofrag
            FROM synth),
        hp0 AS (
            SELECT doc_id, scheme, nofrag,
                lower(regexp_replace(regexp_extract(nofrag,
                    '^([^/?#]*)', 1), '^[^@]*@', '')) AS hp_raw
            FROM p),
        parts AS (
            SELECT doc_id, scheme,
                regexp_replace(
                    CASE WHEN scheme = 'http'
                         THEN regexp_replace(hp_raw, ':80$', '')
                         WHEN scheme = 'https'
                         THEN regexp_replace(hp_raw, ':443$', '')
                         ELSE hp_raw END,
                    '^www\\.', '') AS host,
                regexp_replace(regexp_extract(nofrag,
                    '^[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
                coalesce(array_to_string(list_filter(
                    string_split(coalesce(regexp_extract(nofrag,
                        '\\?([^#]*)', 1), ''), '&'),
                    q -> q <> '' AND NOT regexp_matches(q,
                        '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|igshid|mc_eid)=')),
                    '&'), '') AS qn
            FROM hp0),
        normed AS (
            SELECT doc_id, host,
                   CASE WHEN scheme <> '' AND host <> ''
                        THEN scheme || '://' || host || path ||
                             CASE WHEN qn = '' THEN ''
                                  ELSE '?' || qn END
                   END AS url_norm
            FROM parts),
        deduped AS (
            SELECT doc_id, host, url_norm
            FROM normed
            WHERE url_norm IS NOT NULL
            QUALIFY row_number() OVER (
                PARTITION BY url_norm ORDER BY doc_id) = 1),
        domained AS (
            SELECT doc_id, url_norm,
                   CASE WHEN len(labels) > 2
                             AND labels[-2] || '.' || labels[-1]
                                 IN ({sfx2})
                        THEN labels[-3] || '.' || labels[-2]
                             || '.' || labels[-1]
                        WHEN len(labels) > 1 AND labels[-1] IN ({sfx1})
                        THEN labels[-2] || '.' || labels[-1]
                        ELSE host END AS registered_domain
            FROM (SELECT doc_id, host, url_norm,
                         string_split(host, '.') AS labels
                  FROM deduped)),
        blocked AS (
            SELECT * FROM domained
            WHERE registered_domain <> 'testsite.org'),
        capped AS (
            SELECT doc_id, url_norm, registered_domain
            FROM blocked
            QUALIFY row_number() OVER (
                PARTITION BY registered_domain
                ORDER BY ({h}) % 32, {h}, doc_id) <= {URL_CAP})
        SELECT doc_id, url_norm, registered_domain FROM capped"""


def _walks_oracle() -> str:
    """Full DuckDB replay of the graph_walks gate: the _walk_edges
    digraph, salted sub-bucket neighbor ranking (single-window form —
    row_number over (bucket, v) composes to the same contiguous
    global ranks as the operator's per-bucket prefix sums), the
    max_degree cap, and one chained CTE per walk step with the same
    seeded md5 pick. Static SQL — nothing is read at oracle-build
    time, so this gate can never silently degrade to rows-only."""
    bkt = _md5h60_sql("'nb:' || v")
    steps = [f"""
        kk AS (SELECT c_custkey::BIGINT AS k FROM customer),
        e AS (
            SELECT k AS u, ((k * 7) % {WALK_MOD} + 1)::BIGINT AS v
            FROM kk
            UNION ALL
            SELECT k, ((k * 11) % {WALK_MOD} + 1)::BIGINT FROM kk
            UNION ALL
            SELECT k, ((k * 13) % {WALK_MOD} + 1)::BIGINT FROM kk
            UNION ALL SELECT 1::BIGINT, k FROM kk),
        rk0 AS (
            SELECT u, v,
                   row_number() OVER (PARTITION BY u ORDER BY bkt, v)
                       - 1 AS rank,
                   count(*) OVER (PARTITION BY u) AS degree
            FROM (SELECT u, v, {bkt} % 32 AS bkt
                  FROM (SELECT DISTINCT u, v FROM e))),
        ranked AS (
            SELECT u, v, rank, least(degree, {WALK_MAX_DEG}) AS degree
            FROM rk0 WHERE rank < {WALK_MAX_DEG}),
        verts AS (SELECT DISTINCT id FROM (
            SELECT u AS id FROM e UNION ALL SELECT v FROM e)),
        s0 AS (
            SELECT (id * {WALK_N} + w.r)::BIGINT AS walk_id,
                   id::BIGINT AS start, [id::BIGINT] AS walk,
                   id::BIGINT AS cur, true AS live
            FROM verts, (SELECT unnest(range({WALK_N})) AS r) w)"""]
    for t in range(1, WALK_LEN):
        h = _md5h60_sql(f"'w:{WALK_SEED}:' || s.walk_id || ':{t}'")
        steps.append(f"""
        s{t} AS (
            SELECT s.walk_id, s.start,
                   CASE WHEN r.v IS NULL THEN s.walk
                        ELSE list_append(s.walk, r.v::BIGINT)
                   END AS walk,
                   coalesce(r.v::BIGINT, s.cur) AS cur,
                   r.v IS NOT NULL AS live
            FROM s{t - 1} s LEFT JOIN ranked r
              ON s.live AND r.u = s.cur
             AND r.rank = ({h}) % r.degree)""")
    return ("WITH " + ",".join(steps)
            + f" SELECT walk_id, start, array_to_string(walk, ' ') "
              f"AS walk_s FROM s{WALK_LEN - 1}")


def _scc_oracle() -> str:
    """Independent SCC ground truth for the _scc_edges digraph: DuckDB
    recursive-CTE transitive closure (UNION-distinct terminates on
    cycles), then scc(v) = min over {u : u ~> v AND v ~> u} ∪ {v}.
    The vertex universe derives from the UNFILTERED edge list (self-
    loop-only vertices are singleton SCCs), exactly like the
    operator."""
    return """
        WITH RECURSIVE kk AS (
            SELECT c_custkey::BIGINT AS k,
                   (c_custkey - 1) % 10 AS pos,
                   (c_custkey - 1) - (c_custkey - 1) % 10 AS base
            FROM customer),
        e AS (
            SELECT k AS u, (base + (pos + 1) % 6 + 1)::BIGINT AS v
            FROM kk WHERE pos <= 5
            UNION ALL SELECT k, k - 1 FROM kk WHERE pos BETWEEN 6 AND 8
            UNION ALL SELECT k, k FROM kk WHERE pos = 9
            UNION ALL SELECT k, k + 10 FROM kk
                WHERE pos = 0 AND (base // 10) % 2 = 0),
        verts AS (SELECT DISTINCT id FROM (
            SELECT u AS id FROM e UNION ALL SELECT v FROM e)),
        enl AS (SELECT DISTINCT u, v FROM e WHERE u <> v),
        reach(u, v) AS (
            SELECT u, v FROM enl
            UNION
            SELECT r.u, e2.v FROM reach r JOIN enl e2 ON e2.u = r.v),
        mutual AS (
            SELECT a.u AS id, a.v AS m
            FROM reach a JOIN reach b ON b.u = a.v AND b.v = a.u)
        SELECT verts.id,
               least(verts.id, coalesce(min(mutual.m), verts.id)) AS scc
        FROM verts LEFT JOIN mutual ON mutual.id = verts.id
        GROUP BY verts.id"""


def _py_bpe_train(word_cnt: list[tuple[str, int]], n_merges: int,
                  per_round: int) -> list[tuple[str, str]]:
    """Pure-Python replica of ops/bpe.train_bpe's exact dynamics:
    weighted adjacent-pair counts on the word-TYPE table, n > 1
    filter, (count DESC, a ASC, b ASC) argmax, top-(4k) headroom,
    symbol-disjoint batch of per_round merges, greedy left-to-right
    application. Bit-identical rule lists (asserted in
    tests/test_oracle_extensions.py)."""
    from brahmand_spark.ops.bpe import END

    words = [(list(w) + [END], c) for w, c in word_cnt]
    merges: list[tuple[str, str]] = []

    def apply(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    while len(merges) < n_merges:
        k = min(per_round, n_merges - len(merges))
        pc: dict[tuple[str, str], int] = {}
        for syms, c in words:
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        top = sorted(((n, a, b) for (a, b), n in pc.items() if n > 1),
                     key=lambda t: (-t[0], t[1], t[2]))[:max(k * 4, k)]
        if not top:
            break
        chosen, used = [], set()
        for n, a, b in top:
            if len(chosen) == k:
                break
            if {a, b, a + b} & used:
                continue
            chosen.append((a, b))
            used.update((a, b, a + b))
        if not chosen:
            break
        for a, b in chosen:
            words = [(apply(s, a, b), c) for s, c in words]
        merges.extend(chosen)
    return merges


def _sql_str(s: str) -> str:
    """Standard SQL single-quoted literal: '' doubling, raw bytes
    otherwise (DuckDB takes control characters verbatim inside
    quotes; regular strings do no backslash processing, so tokens
    containing backslashes pass through untouched)."""
    return "'" + s.replace("'", "''") + "'"


def _bpe_oracle(
    doc_parquet: str = "/root/testdata/sf0.01/documents.parquet",
) -> str:
    """Replay of _q_bpe_segment: merge rules re-derived by the
    pure-Python trainer from the sf0.01 word counts (read via DuckDB —
    same regex engine family as the graded SQL), application replayed
    IN SQL as a chain of literal replaces over \\x01/\\x02-wrapped
    symbol strings. Wrapping every symbol as \\x01sym\\x02 makes the
    greedy left-to-right non-overlapping string replace EQUAL to the
    per-symbol merge fold (no shared boundary characters between
    adjacent matches), and merges can never fire across word ends
    because no learned rule's left symbol ends with the </w> marker.
    Raises if the corpus contains the delimiter bytes."""
    import duckdb

    from brahmand_spark.ops.bpe import END, WORD_RE

    con = duckdb.connect()
    doc = f"'{doc_parquet}'"
    bad = con.execute(
        f"SELECT count(*) FROM {doc} WHERE text LIKE '%'||chr(1)||'%' "
        "OR text LIKE '%'||chr(2)||'%'").fetchone()[0]
    if bad:
        raise ValueError("corpus contains \\x01/\\x02 delimiter bytes")
    wc = con.execute(
        f"SELECT w, count(*) c FROM (SELECT unnest(regexp_extract_all("
        f"text, '{WORD_RE}')) w FROM {doc}) GROUP BY w "
        f"HAVING count(*) >= {BPE_MIN_COUNT}").fetchall()
    merges = _py_bpe_train(wc, BPE_N_MERGES, BPE_PER_ROUND)
    s1, s2 = "\x01", "\x02"
    col = (f"{_sql_str(s1)} || array_to_string(list_transform("
           f"regexp_extract_all(text, '{WORD_RE}'), "
           f"w -> array_to_string(regexp_extract_all(w, '.'), "
           f"{_sql_str(s2 + s1)}) || {_sql_str(s2 + s1)} || '{END}'), "
           f"{_sql_str(s2 + s1)}) || {_sql_str(s2)}")
    for a, b in merges:
        col = (f"replace({col},\n            "
               f"{_sql_str(s1 + a + s2 + s1 + b + s2)}, "
               f"{_sql_str(s1 + a + b + s2)})")
    return f"""
        WITH applied AS (
            SELECT doc_id, {col} AS s FROM documents),
        seg AS (
            SELECT doc_id,
                   CASE WHEN s = {_sql_str(s1 + s2)} THEN ''
                        ELSE trim(replace(s, {_sql_str(s2 + s1)}, ' '),
                                  {_sql_str(s1 + s2)}) END AS segmented
            FROM applied)
        SELECT doc_id,
               (CASE WHEN segmented = '' THEN 0
                     ELSE len(string_split(segmented, ' ')) END)::BIGINT
                   AS n_bpe_tokens,
               segmented
        FROM seg"""


def queries(
    fresh: bool = False,
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Gate-name -> (spark, sf_dir) -> DataFrame.

    Default (``fresh=False``): extension plans are memoized per
    (session, dataset, query) — the build-once/run-repeatedly shape the
    correctness driver wants (each gate runs once). ``fresh=True``
    rebuilds the full plan on every call: bench.py uses this so each
    timed pass pays the complete construction + execution cost —
    memoized iterative operators would otherwise only re-write their
    already-checkpointed result (~0.02 s, meaningless as a trend
    line)."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

    def make_cypher(c: str) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            return _tpch(spark, sf_dir).execute(c)

        return run

    for name, cypher in _CYPHER.items():
        out[name] = make_cypher(cypher)
    for name, fn in _EXTENSIONS.items():
        out[name] = fn if fresh else _memo(name, fn)
    return out


def oracle_sql() -> dict[str, str]:
    out = dict(_CYPHER_ORACLES)
    out.update(_EXTENSION_ORACLES)
    out["dedup_minhash_lsh"] = _minhash_lsh_oracle()
    out["dedup_index_probe"] = _dedup_index_probe_oracle()
    out["dedup_simhash"] = _simhash_oracle()
    out["dedup_duplicate_spans"] = _duplicate_spans_oracle()
    out["seq_packing"] = _seq_packing_oracle()
    out["cluster_kmeans"] = _kmeans_oracle()
    out["dedup_semantic"] = _semdedup_oracle()
    out["sketch_hll_distinct"] = _hll_oracle()
    from brahmand_spark.ops.search import bm25_oracle_sql

    out["text_bm25"] = bm25_oracle_sql(BM25_QUERY_TERMS, k=20)
    out["graph_sssp_weighted"] = _sssp_oracle()
    out["sketch_cms_topk"] = _cms_oracle()
    out["dedup_embedding_lsh"] = _embedding_lsh_oracle()
    out["ann_lsh_topk"] = _ann_lsh_oracle()
    out["graph_pagerank"] = _pagerank_oracle()
    out["graph_lpa"] = _lpa_oracle()
    out["graph_kcore"] = _kcore_oracle()
    out["graph_scc"] = _scc_oracle()
    out["graph_walks"] = _walks_oracle()
    out["text_url_dedup"] = _url_dedup_oracle()
    # These two oracles READ sample parquet at build time (centroid /
    # merge-rule literals). If that fails the gate silently degrades
    # to rows-only checking — make the downgrade LOUD so a generator
    # regression cannot hide behind a weaker gate (VERDICT r5 #4).
    try:
        out["ann_ivf_topk"] = _ann_ivf_oracle()
    except Exception as exc:
        print(f"WARNING: oracle_sql(): ann_ivf_topk oracle generation "
              f"failed ({exc!r}); gate DEGRADES to rows-only checking",
              file=sys.stderr)
    try:
        out["bpe_segment"] = _bpe_oracle()
    except Exception as exc:
        print(f"WARNING: oracle_sql(): bpe_segment oracle generation "
              f"failed ({exc!r}); gate DEGRADES to rows-only checking",
              file=sys.stderr)
    return out
