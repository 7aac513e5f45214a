"""CALL procedures (brahmand_spark/procedures.py): Cypher surface over
ops/algos — parity with direct calls, a DuckDB oracle through the full
CALL pipeline, and the error surface."""

import pytest

from brahmand_spark.errors import PlanError

from .helpers import assert_same, count_jobs


class TestCallProcedures:
    def test_degrees_full_pipeline_vs_duckdb(self, tpch, duck):
        got = tpch.execute(
            "CALL graph.degrees('PLACED') YIELD id, out_degree AS o "
            "WHERE o >= 5 ORDER BY o DESC, id ASC SKIP 2 LIMIT 10")
        want = duck.sql("""
            SELECT id, o FROM (
                SELECT o_custkey AS id, count(*) AS o
                FROM orders GROUP BY o_custkey)
            WHERE o >= 5 ORDER BY o DESC, id ASC OFFSET 2 LIMIT 10""")
        assert_same(got, want)

    def test_pagerank_matches_direct_call(self, tpch):
        from brahmand_spark.ops.algos import pagerank
        from pyspark.sql import functions as F

        via_call = tpch.execute(
            "CALL graph.pagerank('NEXT_CUST', 5) YIELD id, rank")
        edges = tpch.tables["NEXT_CUST"].select(
            F.col("from_Customer").alias("src"),
            F.col("to_Customer").alias("dst"))
        direct = pagerank(edges, iterations=5)
        assert sorted(map(tuple, via_call.collect())) \
            == sorted(map(tuple, direct.collect()))

    def test_scc_and_wcc_and_harmonic(self, tpch):
        from brahmand_spark.ops.algos import connected_components
        from pyspark.sql import functions as F

        wcc = tpch.execute("CALL graph.wcc('NEXT_CUST')")
        assert set(wcc.columns) == {"id", "component"}
        edges = tpch.tables["NEXT_CUST"].select(
            F.col("from_Customer").alias("src"),
            F.col("to_Customer").alias("dst"))
        assert sorted(map(tuple, wcc.collect())) \
            == sorted(map(tuple, connected_components(edges).collect()))
        scc = tpch.execute("CALL graph.scc('NEXT_CUST', 30)")
        # NEXT_CUST is a directed chain: every vertex its own SCC
        assert scc.filter("id <> scc").count() == 0
        h = tpch.execute(
            "CALL graph.harmonic('NEXT_CUST', 8, 4) "
            "YIELD id, centrality ORDER BY centrality DESC LIMIT 5")
        assert h.count() == 5

    def test_parameter_args(self, tpch):
        a = tpch.execute(
            "CALL graph.bfs('NEXT_CUST', $src, 3) YIELD id, distance",
            params={"src": 0})
        assert sorted(r["id"] for r in a.collect()) == [0, 1, 2, 3]

    def test_error_surface(self, tpch):
        with pytest.raises(PlanError, match="unknown procedure"):
            tpch.execute("CALL graph.nope('PLACED')")
        with pytest.raises(PlanError, match="unknown relationship"):
            tpch.execute("CALL graph.pagerank('NOPE')")
        with pytest.raises(PlanError, match="yields no column"):
            tpch.execute("CALL graph.pagerank('NEXT_CUST') YIELD nope")
        with pytest.raises(PlanError, match="literals"):
            tpch.execute("CALL graph.pagerank(1 + 2)")
        with pytest.raises(PlanError, match="graph.kcore"):
            tpch.execute("CALL graph.kcore('NEXT_CUST')")  # k missing


class TestDbIntrospection:
    def test_labels_and_relationships(self, tpch):
        labels = {r["label"]: r for r in
                  tpch.execute("CALL db.labels()").collect()}
        assert "Customer" in labels and "Order" in labels
        assert labels["Customer"]["id_column"] == "c_custkey"
        rels = {r["type"]: r for r in tpch.execute(
            "CALL db.relationships() YIELD type, from_node, to_node"
        ).collect()}
        assert rels["PLACED"]["from_node"] == "Customer"
        assert rels["PLACED"]["to_node"] == "Order"

    def test_filterable_like_any_call(self, tpch):
        one = tpch.execute(
            "CALL db.relationships() YIELD type, adj_index "
            "WHERE type = 'PLACED'")
        assert one.count() == 1


class TestSsspProcedure:
    def test_matches_direct_call(self, tpch):
        from brahmand_spark.ops.algos import sssp_weighted
        from pyspark.sql import functions as F

        got = tpch.execute(
            "CALL graph.sssp('HAS_LINE', 'l_linenumber', 1, 4) "
            "YIELD id, dist ORDER BY id")
        edges = tpch.tables["Lineitem"].select(
            F.col("l_orderkey").alias("src"),
            F.col("li_id").alias("dst"),
            F.col("l_linenumber").alias("weight"))
        src = tpch.spark.createDataFrame([(1,)], "id bigint")
        want = sssp_weighted(edges, src, max_iterations=4)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))

    def test_unknown_weight_property(self, tpch):
        import pytest
        from brahmand_spark.errors import PlanError

        with pytest.raises(PlanError, match="no property"):
            tpch.execute("CALL graph.sssp('HAS_LINE', 'nope', 1)")


class TestCorpusProcedures:
    def test_profile_via_call(self, tpch):
        from brahmand_spark.ops.profile import profile_corpus

        got = tpch.execute("CALL corpus.profile('Customer', true)")
        want = profile_corpus(tpch._load_for_label("Customer"),
                              exact_distinct=True)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, want.collect()))

    def test_histogram_via_call(self, tpch):
        from pyspark.sql import functions as F

        h = tpch.execute(
            "CALL corpus.histogram('Order', 'o_totalprice', 5)")
        n = tpch._load_for_label("Order").count()
        assert h.agg(F.sum("n")).first()[0] == n
        assert h.count() <= 5


def test_personalized_pagerank_via_call(tpch):
    from brahmand_spark.ops.algos import pagerank
    from pyspark.sql import functions as F

    got = tpch.execute(
        "CALL graph.pagerank('NEXT_CUST', 5, 0.85, [0, 1]) "
        "YIELD id, rank")
    edges = tpch.tables["NEXT_CUST"].select(
        F.col("from_Customer").alias("src"),
        F.col("to_Customer").alias("dst"))
    seeds = tpch.spark.createDataFrame([(0,), (1,)], "id bigint")
    want = pagerank(edges, iterations=5, sources=seeds)
    assert sorted(map(tuple, got.collect())) \
        == sorted(map(tuple, want.collect()))


class TestCorpusPipelineProcedures:
    """The LLM-pipeline flagship operators reachable from Cypher:
    CALL corpus.{dedup_minhash,semdedup,bm25,curate} dispatch onto the
    existing ops, so a Cypher-first user gets the pipeline half of the
    engine from the query language. Parity with direct calls + the
    existing DuckDB oracles through the full CALL pipeline."""

    def test_bm25_via_call_vs_duckdb_oracle(self, tpch, duck):
        from brahmand_spark.ops.search import bm25_oracle_sql

        got = tpch.execute(
            "CALL corpus.bm25('Document', 'spark join vector', 20)")
        assert_same(got, duck.sql(
            bm25_oracle_sql(["spark", "join", "vector"], k=20)))

    def test_bm25_term_list_and_pipeline_tail(self, tpch):
        a = tpch.execute(
            "CALL corpus.bm25('Document', ['spark', 'join'], 10) "
            "YIELD doc_id, bm25 WHERE bm25 > 0 "
            "ORDER BY bm25 DESC, doc_id LIMIT 5")
        assert 0 < a.count() <= 5

    def test_dedup_minhash_via_call_matches_direct(self, tpch):
        from brahmand_spark.ops.dedup import minhash_lsh_candidates
        from pyspark.sql import functions as F

        got = tpch.execute(
            "CALL corpus.dedup_minhash('Document', 0.5)")
        direct = minhash_lsh_candidates(
            tpch.tables["Document"], "doc_id", "text",
            num_hashes=64, bands=16,
        ).filter(F.col("est_jaccard") >= 0.5)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, direct.collect()))

    def test_semdedup_via_call_matches_direct(self, tpch):
        from brahmand_spark.ops.semdedup import semdedup

        got = tpch.execute(
            "CALL corpus.semdedup('Embedding', 0.4, 4) "
            "YIELD vec_id, keep")
        direct = semdedup(tpch.tables["Embedding"], k=4,
                          threshold=0.4).select("vec_id", "keep")
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, direct.collect()))
        # the threshold actually drops something at 0.4
        assert got.filter("NOT keep").count() > 0

    def test_curate_via_call_matches_direct(self, tpch):
        from brahmand_spark.ops.pipeline import curate

        got = tpch.execute(
            "CALL corpus.curate('Document', ['en', 'de', 'es', 'fr'], "
            "0.1) YIELD doc_id, split")
        direct, _ = curate(
            tpch.tables["Document"],
            languages=("en", "de", "es", "fr"), min_quality=0.1)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple,
                          direct.select("doc_id", "split").collect()))

    def test_unknown_label_error(self, tpch):
        with pytest.raises(Exception, match="unknown label"):
            tpch.execute(
                "CALL corpus.bm25('Nope', 'spark', 5)").collect()

    def test_dedup_groups_via_call(self, tpch):
        """Transitive groups: keep = min id of each component; total
        over the corpus; keep-count equals distinct groups."""
        got = tpch.execute(
            "CALL corpus.dedup_groups('Document', 0.5)")
        rows = got.collect()
        assert len(rows) == tpch.tables["Document"].count()
        groups = {}
        for r in rows:
            groups.setdefault(r["group"], []).append(
                (r["doc_id"], r["keep"]))
        for g, members in groups.items():
            kept = [d for d, k in members if k]
            assert kept == [min(d for d, _ in members)] == [g]


class TestDbIndexes:
    """CALL db.indexes() (r10): one introspection surface over BOTH
    persisted index families with the drift/health counters."""

    def test_lists_both_families_with_health_counters(
            self, spark, tmp_path):
        import json

        from pyspark.sql import functions as F

        from brahmand_spark import GraphSession
        from .conftest import SF_SMOKE

        s = GraphSession(spark, models_path=str(tmp_path / "m"),
                         allow_writes=False)
        docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet") \
            .select("doc_id", "text")
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        s.execute("CREATE NODE TABLE Doc (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.register_table("Doc", docs.filter(F.col("doc_id") % 2 == 0))
        s.execute("CREATE NODE TABLE DocB (doc_id Int64, text String, "
                  "NODE ID (doc_id))")
        s.register_table("DocB", docs.filter(F.col("doc_id") % 2 == 1))
        s.execute("CREATE NODE TABLE Gone (doc_id Int64, "
                  "NODE ID (doc_id))")
        s.register_table(
            "Gone", docs.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id"))
        s.execute("CREATE NODE TABLE Embedding (vec_id Int64, "
                  "NODE ID (vec_id))")
        s.register_table("Embedding", emb)

        s.execute("CALL corpus.build_dedup_index('Doc', 'dix')")
        s.execute("CALL corpus.dedup_add('dix', 'DocB')")
        n_gone = s.tables["Gone"].count()
        s.execute("CALL corpus.dedup_remove('dix', 'Gone')")
        s.execute("CALL vector.build_index('Embedding', 'vidx', 8, 4, 8)")

        rows = {r["name"]: r for r in
                s.execute("CALL db.indexes()").collect()}
        assert set(rows) == {"dix", "vidx"}
        d = rows["dix"]
        assert d["kind"] == "dedup_index"
        # n_docs is maintained net of tombstones by dedup_index_remove
        assert d["n_live"] == docs.count() - n_gone
        assert d["add_batches"] == 1       # the dedup_add batch
        assert d["tombstones"] == n_gone
        assert d["cell_skew"] is None
        assert json.loads(d["config"])["bands"] == 16
        v = rows["vidx"]
        assert v["kind"] == "ann_index"
        assert v["n_live"] == emb.count()
        assert v["tombstones"] == 0
        assert v["stats_delta_depth"] is None
        assert v["cell_skew"] is not None and v["cell_skew"] >= 1.0
        assert json.loads(v["config"])["n_cells"] == 8

    def test_empty_store_returns_no_rows(self, spark, tmp_path):
        from brahmand_spark import GraphSession

        s = GraphSession(spark, models_path=str(tmp_path / "m2"))
        assert s.execute("CALL db.indexes()").count() == 0

    def test_yield_filter_on_health_columns(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from brahmand_spark import GraphSession
        from .conftest import SF_SMOKE

        s = GraphSession(spark, models_path=str(tmp_path / "m3"))
        emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        s.execute("CREATE NODE TABLE Embedding (vec_id Int64, "
                  "NODE ID (vec_id))")
        s.register_table("Embedding", emb)
        s.execute("CALL vector.build_index('Embedding', 'v1', 8, 4, 8)")
        out = s.execute(
            "CALL db.indexes() YIELD name, kind, cell_skew "
            "WHERE kind = 'ann_index' ORDER BY name").collect()
        assert [r["name"] for r in out] == ["v1"]
        assert out[0]["cell_skew"] >= 1.0


# -- graph.pagerank projection reuse ----------------------------------------

KNOWS = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 0)]
PR_CALL = "CALL graph.pagerank('KNOWS', 3) YIELD id, rank"


def _knows_session(spark, edges=KNOWS):
    """Writable session: Person 0..6 and KNOWS ``edges``, registered."""
    from brahmand_spark import GraphSession
    from brahmand_spark.io import local_frame

    s = GraphSession(spark, allow_writes=True)
    s.execute("CREATE NODE TABLE Person (id Int64, "
              "PRIMARY KEY(id), NODE ID(id))")
    s.execute("CREATE REL TABLE KNOWS FROM Person TO Person ()")
    s.register_table("Person", local_frame(
        spark, [(i,) for i in range(7)], "id bigint"))
    s.register_table("KNOWS", local_frame(
        spark, edges, "from_Person bigint, to_Person bigint"))
    return s


def _prologue(s, rel="KNOWS"):
    """The pagerank prologue held for the relationship's current table
    (brahmand_spark/resident.py), or None."""
    r = s.schema.relationships[rel]
    held = s._held.get(r.table_name)
    if held is None or held.base is not s.tables.get(r.table_name):
        return None
    return held.projections.get(("pagerank", r.from_column, r.to_column))


def _ranks(session, cypher=PR_CALL):
    return sorted(map(tuple, session.execute(cypher).collect()))


def _same_ranks(a, b):
    return [i for i, _ in a] == [i for i, _ in b] and all(
        abs(x - y) < 1e-12 for (_, x), (_, y) in zip(a, b))


class TestPagerankProjection:
    """Served pagerank keeps its prologue (vertex set, degree-joined
    edges, dangling set) per relationship version: a second call
    skips it, and every way a relationship's table changes makes the
    next call rebuild from the new table."""

    def test_second_call_reuses_prologue(self, spark):
        s = _knows_session(spark)
        first, n_cold = count_jobs(spark, lambda: _ranks(s))
        assert _prologue(s) is not None
        second, n_warm = count_jobs(spark, lambda: _ranks(s))
        assert n_warm < n_cold
        assert second == first

    @pytest.mark.parametrize("write, edges", [
        ("MATCH (a:Person {id: 4}) MATCH (b:Person {id: 6}) "
         "CREATE (a)-[:KNOWS]->(b)", KNOWS + [(4, 6)]),
        ("MATCH (a:Person {id: 5})-[r:KNOWS]->(b:Person) DELETE r",
         KNOWS[:-1]),
    ], ids=["create_edge", "delete_edge"])
    def test_cypher_write_rebuilds(self, spark, write, edges):
        s = _knows_session(spark)
        cached = _ranks(s)
        s.execute(write).collect()
        assert _prologue(s) is None
        got = _ranks(s)
        assert _same_ranks(got, _ranks(_knows_session(spark, edges)))
        assert not _same_ranks(got, cached)

    def test_register_table_rebuilds(self, spark):
        from brahmand_spark.io import local_frame

        s = _knows_session(spark)
        cached = _ranks(s)
        edges = KNOWS + [(6, 5)]
        s.register_table("KNOWS", local_frame(
            spark, edges, "from_Person bigint, to_Person bigint"))
        assert _prologue(s) is None
        got = _ranks(s)
        assert _same_ranks(got, _ranks(_knows_session(spark, edges)))
        assert not _same_ranks(got, cached)

    def test_new_frame_or_columns_rebuild(self, spark):
        """The entry is checked against the frame object and the
        from/to columns, whatever path replaced them."""
        from brahmand_spark.io import local_frame

        s = _knows_session(spark)
        cached = _ranks(s)
        edges = KNOWS + [(6, 5)]
        s.tables["KNOWS"] = local_frame(
            spark, edges, "from_Person bigint, to_Person bigint")
        got = _ranks(s)
        assert _same_ranks(got, _ranks(_knows_session(spark, edges)))
        assert not _same_ranks(got, cached)
        rel = s.schema.relationships["KNOWS"]
        rel.from_column, rel.to_column = rel.to_column, rel.from_column
        flipped = _ranks(_knows_session(spark, [(b, a) for a, b in edges]))
        assert _same_ranks(_ranks(s), flipped)

    def test_failed_transaction_batch_rebuilds(self, spark, monkeypatch):
        """Batch 0 commits 4->6; batch 1 commits 5->6 and then fails,
        so its snapshot restore puts batch 0's table back."""
        from brahmand_spark import writes

        s = _knows_session(spark)
        cached = _ranks(s)
        real, calls = writes.apply_write, []

        def second_batch_fails(*a, **k):
            out = real(*a, **k)
            calls.append(1)
            if len(calls) == 2:
                raise RuntimeError("batch failed after its commit")
            return out

        monkeypatch.setattr(writes, "apply_write", second_batch_fails)
        out = s.execute(
            "MATCH (p:Person) MATCH (q:Person) "
            "WHERE p.id IN [4, 5] AND q.id = 6 "
            "CALL { WITH p, q CREATE (p)-[:KNOWS]->(q) } "
            "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE").collect()
        monkeypatch.undo()
        assert [r["committed"] for r in out] == [True, False]
        got = _ranks(s)
        assert _same_ranks(
            got, _ranks(_knows_session(spark, KNOWS + [(4, 6)])))
        assert not _same_ranks(got, cached)

    def test_personalized_on_cached_inputs(self, spark):
        from pyspark.sql import functions as F

        from brahmand_spark.io import local_frame
        from brahmand_spark.ops.algos import pagerank

        s = _knows_session(spark)
        _ranks(s)  # builds the projection
        got = _ranks(s, "CALL graph.pagerank('KNOWS', 5, 0.85, [0, 3]) "
                        "YIELD id, rank")
        edges = s.tables["KNOWS"].select(
            F.col("from_Person").alias("src"),
            F.col("to_Person").alias("dst"))
        want = sorted(map(tuple, pagerank(
            edges, iterations=5,
            sources=local_frame(spark, [(0,), (3,)], "id bigint"),
        ).collect()))
        assert _same_ranks(got, want)
        # the preference is per call: the uniform run is unchanged
        assert _same_ranks(_ranks(s), _ranks(_knows_session(spark)))

    def test_path_backed_relationship_never_cached(self, spark, tmp_path):
        from brahmand_spark import GraphSession
        from brahmand_spark.catalog import NodeSchema, RelationshipSchema

        path = str(tmp_path / "knows.parquet")
        cols = "from_Person bigint, to_Person bigint"
        spark.createDataFrame(KNOWS, cols).write.parquet(path)
        s = GraphSession(spark)
        s.schema.add_node(NodeSchema(
            label="Person", table_name="Person", node_id="id",
            column_names=["id"], primary_keys=["id"]))
        s.schema.add_relationship(RelationshipSchema(
            type_name="KNOWS", table_name=path, from_node="Person",
            to_node="Person", from_column="from_Person",
            to_column="to_Person", column_names=[]))
        first = _ranks(s)
        assert s._held == {}
        assert _same_ranks(first, _ranks(_knows_session(spark)))
        # the file changes under the session: the next call reads it
        edges = KNOWS + [(6, 5)]
        spark.createDataFrame(edges, cols).write.mode("overwrite") \
            .parquet(path)
        assert _same_ranks(_ranks(s), _ranks(_knows_session(spark, edges)))
        assert s._held == {}

    def test_raising_call_leaves_no_entry(self, spark, monkeypatch):
        from brahmand_spark.ops import algos

        s = _knows_session(spark)
        _ranks(s)
        assert _prologue(s) is not None

        def boom(*a, **k):
            raise RuntimeError("lost checkpoint block")

        monkeypatch.setattr(algos, "pagerank_loop", boom)
        with pytest.raises(RuntimeError, match="lost checkpoint"):
            s.execute(PR_CALL)
        assert _prologue(s) is None
        monkeypatch.undo()
        assert _same_ranks(_ranks(s), _ranks(_knows_session(spark)))

    def test_concurrent_calls_on_empty_cache(self, spark):
        from concurrent.futures import ThreadPoolExecutor

        s = _knows_session(spark)
        with ThreadPoolExecutor(max_workers=4) as pool:
            results = list(pool.map(lambda _: _ranks(s), range(4)))
        serial = _ranks(_knows_session(spark))
        assert all(_same_ranks(r, serial) for r in results)
        assert _same_ranks(_ranks(s), serial)


# Jobs of a warm served call: the 3 prologue checkpoints are reused, so
# each superstep's jobs plus the final collect remain. Tighten only;
# before projection reuse pagerank(2) ran 23 jobs and pagerank(0) 9.
JOB_BUDGETS = {0: 1, 2: 15}


@pytest.mark.parametrize("iters", sorted(JOB_BUDGETS))
def test_warm_pagerank_job_budget(spark, iters):
    import numpy as np

    rng = np.random.default_rng(1)
    n = 300
    src = np.concatenate([rng.integers(0, n, 1500), np.arange(n)])
    dst = np.concatenate([(rng.zipf(1.5, 1500) - 1) % n,
                          (np.arange(n) + 1) % n])
    edges = [(int(a), int(b)) for a, b in zip(src, dst) if a != b]
    s = _knows_session(spark, edges)
    call = f"CALL graph.pagerank('KNOWS', {iters}) YIELD id, rank"
    _ranks(s, call)  # warm: builds the projection
    _, n_jobs = count_jobs(spark, lambda: _ranks(s, call))
    assert 0 < n_jobs <= JOB_BUDGETS[iters]
