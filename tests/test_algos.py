"""Graph-algorithm tests: hand-checkable fixtures + numpy power-iteration
oracle for PageRank + DuckDB recursive-CTE oracle for BFS."""

import numpy as np
import pytest
import pyspark.sql.functions as F

from .helpers import canon


def edges_df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def concrete_dataframe_cls():
    """The class whose methods instances actually resolve to: in
    PySpark 4 `pyspark.sql.DataFrame` is an abstract facade and classic
    sessions build `pyspark.sql.classic.dataframe.DataFrame`."""
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - pyspark < 4 fallback
        from pyspark.sql import DataFrame
    return DataFrame


def numpy_pagerank(pairs, iterations, damping=0.85):
    """Power-iteration oracle: ranks sum to n, dangling mass uniform."""
    ids = sorted({x for p in pairs for x in p})
    idx = {v: i for i, v in enumerate(ids)}
    n = len(ids)
    M = np.zeros((n, n))
    out_deg = {}
    for s, d in pairs:
        out_deg[s] = out_deg.get(s, 0) + 1
    for s, d in pairs:
        M[idx[d], idx[s]] = 1.0 / out_deg[s]
    r = np.ones(n)
    for _ in range(iterations):
        dangling = sum(r[idx[v]] for v in ids if v not in out_deg)
        r = (1 - damping) + damping * (M @ r + dangling / n)
    return {v: r[idx[v]] for v in ids}


class TestPageRank:
    def test_matches_power_iteration(self, spark):
        pairs = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)]
        from brahmand_spark.ops.algos import pagerank

        got = {
            r.id: r.rank
            for r in pagerank(edges_df(spark, pairs), iterations=25).collect()
        }
        want = numpy_pagerank(pairs, 25)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])

    def test_dangling_mass_redistributes(self, spark):
        """Vertex 3 has no out-edges: its rank must be redistributed
        uniformly each superstep (checks the broadcast dangling term)."""
        from brahmand_spark.ops.algos import pagerank

        pairs = [(1, 2), (2, 3), (1, 3)]
        got = {
            r.id: r.rank
            for r in pagerank(edges_df(spark, pairs), iterations=20).collect()
        }
        want = numpy_pagerank(pairs, 20)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-6, (v, got[v], want[v])

    def test_no_driver_action_per_superstep(self, spark, monkeypatch):
        """Round-2 fix: the dangling scalar is a broadcast 1-row
        aggregate, not a .first() fetch — building the plan must run
        zero first()/collect() actions (one per superstep before)."""
        from brahmand_spark.ops.algos import pagerank

        DataFrame = concrete_dataframe_cls()

        def boom(self, *a, **k):  # pragma: no cover - assertion path
            raise AssertionError("driver action inside pagerank loop")

        monkeypatch.setattr(DataFrame, "first", boom)
        monkeypatch.setattr(DataFrame, "collect", boom)
        df = pagerank(edges_df(spark, [(1, 2), (2, 3)]),
                      iterations=3, checkpoint=False)
        monkeypatch.undo()
        total = df.agg(F.sum("rank")).first()[0]
        assert abs(total - 3.0) < 1e-6

    def test_ranks_sum_to_n(self, spark):
        from brahmand_spark.ops.algos import pagerank

        pairs = [(i, (i + 1) % 10) for i in range(10)]
        total = pagerank(edges_df(spark, pairs), iterations=5) \
            .agg(F.sum("rank")).first()[0]
        assert abs(total - 10.0) < 1e-6


class TestConnectedComponents:
    def test_two_components(self, spark):
        from brahmand_spark.ops.algos import connected_components

        pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10)]
        comps = {
            r.id: r.component
            for r in connected_components(edges_df(spark, pairs)).collect()
        }
        assert comps[1] == comps[2] == comps[3] == 1
        assert comps[10] == comps[11] == comps[12] == 10
        assert comps[1] != comps[10]

    def test_chain_converges(self, spark):
        from brahmand_spark.ops.algos import connected_components

        pairs = [(i, i + 1) for i in range(15)]
        comps = connected_components(
            edges_df(spark, pairs), max_iterations=20
        ).select("component").distinct().collect()
        assert len(comps) == 1 and comps[0].component == 0


class TestBFS:
    def test_distances_vs_duckdb_recursive(self, spark, duck):
        from brahmand_spark.ops.algos import bfs_distances

        pairs = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (4, 6), (7, 8)]
        e = edges_df(spark, pairs)
        src = spark.createDataFrame([(1,)], "id long")
        got = bfs_distances(e, src, max_hops=10)
        values = ", ".join(f"({a}, {b})" for a, b in pairs)
        want = duck.sql(f"""
            WITH RECURSIVE g(src, dst) AS (SELECT * FROM (VALUES {values})),
            walk(id, distance) AS (
                SELECT 1::BIGINT, 0
                UNION ALL
                SELECT g.dst, w.distance + 1
                FROM walk w JOIN g ON g.src = w.id WHERE w.distance < 10)
            SELECT id, min(distance) AS distance FROM walk GROUP BY id""")
        assert canon(got.toPandas()) == canon(want.df())

    def test_unreachable_absent(self, spark):
        from brahmand_spark.ops.algos import bfs_distances

        e = edges_df(spark, [(1, 2), (3, 4)])
        src = spark.createDataFrame([(1,)], "id long")
        ids = {r.id for r in bfs_distances(e, src).collect()}
        assert ids == {1, 2}


class TestTriangles:
    def test_known_triangles(self, spark):
        from brahmand_spark.ops.algos import triangle_count

        # triangle 1-2-3 plus a pendant edge 3-4
        pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
        got = {
            r.id: r.triangles
            for r in triangle_count(edges_df(spark, pairs)).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}

    def test_two_triangles_shared_edge(self, spark):
        from brahmand_spark.ops.algos import triangle_count

        pairs = [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4)]
        got = {
            r.id: r.triangles
            for r in triangle_count(edges_df(spark, pairs)).collect()
        }
        assert got == {1: 1, 2: 2, 3: 2, 4: 1}


class TestLabelPropagation:
    def test_two_cliques_with_bridge(self, spark):
        """Two 4-cliques joined by one bridge edge: LPA must assign one
        community per clique (labels converge to each clique's min id)."""
        import itertools

        from brahmand_spark.ops.algos import label_propagation

        c1, c2 = [0, 1, 2, 3], [10, 11, 12, 13]
        edges = (list(itertools.combinations(c1, 2))
                 + list(itertools.combinations(c2, 2))
                 + [(3, 10)])
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {r.id: r.community
               for r in label_propagation(df, max_iterations=8).collect()}
        assert len({out[v] for v in c1}) == 1
        assert len({out[v] for v in c2}) == 1
        assert out[0] != out[10]

    def test_single_clique_converges_to_one(self, spark):
        import itertools

        from brahmand_spark.ops.algos import label_propagation

        df = spark.createDataFrame(
            list(itertools.combinations(range(5), 2)), "src long, dst long")
        out = {r.community
               for r in label_propagation(df, max_iterations=8).collect()}
        assert len(out) == 1

    def test_symmetrized_fast_path_matches_default(self, spark):
        """symmetrized=True on a both-directions edge list must produce
        the identical community assignment as the default prep on the
        one-direction list."""
        import itertools

        from brahmand_spark.ops.algos import label_propagation

        c1, c2 = [0, 1, 2, 3], [10, 11, 12, 13]
        one_dir = (list(itertools.combinations(c1, 2))
                   + list(itertools.combinations(c2, 2))
                   + [(3, 10)])
        both_dir = one_dir + [(b, a) for a, b in one_dir]
        d1 = spark.createDataFrame(one_dir, "src long, dst long")
        d2 = spark.createDataFrame(both_dir, "src long, dst long")
        r1 = sorted(
            (r.id, r.community)
            for r in label_propagation(d1, max_iterations=8).collect())
        r2 = sorted(
            (r.id, r.community)
            for r in label_propagation(
                d2, max_iterations=8, symmetrized=True).collect())
        assert r1 == r2

    def test_adjacency_chunking_matches_unchunked(self, spark):
        """r14 internals: the symmetric edge set rides as chunked
        adjacency lists. Forcing tiny chunks (every vertex's list split
        across many rows) must not change any community — vote counts
        are per exploded edge, so chunk boundaries are invisible."""
        import itertools

        from brahmand_spark.ops.algos import label_propagation

        c1, c2 = [0, 1, 2, 3, 4], [10, 11, 12, 13]
        edges = (list(itertools.combinations(c1, 2))
                 + list(itertools.combinations(c2, 2))
                 + [(4, 10), (0, 13)])
        df = spark.createDataFrame(edges, "src long, dst long")
        big = sorted(
            (r.id, r.community)
            for r in label_propagation(df, max_iterations=8).collect())
        tiny = sorted(
            (r.id, r.community)
            for r in label_propagation(
                df, max_iterations=8, adj_chunk=2).collect())
        assert big == tiny
        # and the chunked rows really exist: degree 4-5 at chunk 2
        # means (on average) >= 2 rows per vertex in the grouped state
        # — sanity-check via the public result only (internals free to
        # change); the equality above is the contract.


class TestDegreesAndKCore:
    def test_degrees(self, spark):
        from brahmand_spark.ops.algos import degrees

        df = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3)], "src long, dst long")
        out = {r.id: (r.out_degree, r.in_degree, r.degree)
               for r in degrees(df).collect()}
        assert out == {1: (2, 0, 2), 2: (1, 1, 2), 3: (0, 2, 2)}

    def test_k_core_peels_tail(self, spark):
        """A 4-clique with a pendant path: 3-core = the clique only
        (peeling must cascade through the path)."""
        import itertools

        from brahmand_spark.ops.algos import k_core

        clique = list(itertools.combinations([0, 1, 2, 3], 2))
        path = [(3, 10), (10, 11), (11, 12)]
        df = spark.createDataFrame(clique + path, "src long, dst long")
        core3 = {r.id for r in k_core(df, 3).collect()}
        assert core3 == {0, 1, 2, 3}
        core1 = {r.id for r in k_core(df, 1).collect()}
        assert core1 == {0, 1, 2, 3, 10, 11, 12}
        assert k_core(df, 4).count() == 0

    def test_no_count_action_per_round(self, spark, monkeypatch):
        """r14: the per-round edge count rides the checkpoint job as an
        observed metric (`_ckpt_obs`), so the whole call runs ZERO
        count() driver actions (r2 had one per round + one up-front)."""
        import itertools

        from brahmand_spark.ops.algos import k_core

        DataFrame = concrete_dataframe_cls()
        clique = list(itertools.combinations([0, 1, 2, 3], 2))
        path = [(3, 10), (10, 11), (11, 12)]
        df = spark.createDataFrame(clique + path, "src long, dst long")
        calls = []
        orig = DataFrame.count

        def counting(self):
            calls.append(1)
            return orig(self)

        monkeypatch.setattr(DataFrame, "count", counting)
        core3 = {r.id for r in k_core(df, 3).collect()}
        monkeypatch.undo()
        assert core3 == {0, 1, 2, 3}
        # round 1 peels all three path vertices at once (degrees 1/2/2),
        # round 2 is the fixpoint check — both counts observed on the
        # checkpoint jobs, none as separate actions
        assert len(calls) == 0, calls


class TestTwoPhaseCC:
    """Large-star/small-star connected components: O(log n) rounds
    regardless of diameter (Kiveris et al., SoCC'14) — the scale path
    for 100 TB graphs where HashMin's O(diameter) supersteps would
    dominate."""

    def _labels(self, df):
        return sorted(map(tuple, df.collect()))

    def test_parity_with_hashmin_random_graph(self, spark):
        """Both algorithms must match driver-side union-find ground
        truth (HashMin needs enough iterations: this seed produces a
        111-node component whose diameter exceeds the default 20)."""
        import random

        from brahmand_spark.ops.algos import connected_components

        rnd = random.Random(7)
        edges = [(rnd.randrange(200), rnd.randrange(200))
                 for _ in range(150)]
        parent = list(range(200))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        vs = set()
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
            vs.update((a, b))
        truth = sorted((v, find(v)) for v in vs)

        df = spark.createDataFrame(edges, "src long, dst long")
        hm = self._labels(connected_components(df, max_iterations=80))
        tp = self._labels(connected_components(df, algorithm="two-phase"))
        assert tp == truth
        assert hm == truth

    def test_parity_with_hashmin_two_components_and_selfloop(self, spark):
        from brahmand_spark.ops.algos import connected_components

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (12, 12)], "src long, dst long")
        hm = self._labels(connected_components(df))
        tp = self._labels(connected_components(df, algorithm="two-phase"))
        assert tp == hm
        assert (12, 12) in tp  # self-loop-only vertex keeps its own id

    def test_log_rounds_on_long_path(self, spark):
        """A 200-node path has diameter 199: HashMin would need ~199
        supersteps; two-phase must converge in O(log n) rounds."""
        from brahmand_spark.ops.algos import _cc_two_phase

        n = 200
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "src long, dst long")
        labels, rounds = _cc_two_phase(df, max_iterations=30)
        assert rounds <= 12, f"expected O(log n) rounds, ran {rounds}"
        got = sorted(map(tuple, labels.collect()))
        assert got == [(i, 0) for i in range(n)]

    def test_unknown_algorithm_rejected(self, spark):
        import pytest

        from brahmand_spark.ops.algos import connected_components

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="two-phase"):
            connected_components(df, algorithm="banana")


class TestSsspWeighted:
    def test_hand_computed_diamond(self, spark):
        """1->2 (w4), 1->3 (w1), 3->2 (w1), 2->4 (w10), 3->4 (w7):
        shortest 1->2 is via 3 (2), 1->4 via 3 direct (8)."""
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 10), (3, 4, 7)],
            "src long, dst long, weight long",
        )
        sources = spark.createDataFrame([(1,)], "id long")
        got = dict(map(tuple, sssp_weighted(edges, sources).collect()))
        assert got == {1: 0, 2: 2, 3: 1, 4: 8}

    def test_multi_source_takes_min(self, spark):
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 5), (9, 2, 1)], "src long, dst long, weight long",
        )
        sources = spark.createDataFrame([(1,), (9,)], "id long")
        got = dict(map(tuple, sssp_weighted(edges, sources).collect()))
        assert got == {1: 0, 9: 0, 2: 1}

    def test_iteration_cap_limits_path_length(self, spark):
        """max_iterations=2 must return exact shortest paths over <=2
        edges: the cheap 3-edge detour is not yet visible."""
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 9, 100), (1, 2, 1), (2, 3, 1), (3, 9, 1)],
            "src long, dst long, weight long",
        )
        sources = spark.createDataFrame([(1,)], "id long")
        capped = dict(map(tuple, sssp_weighted(
            edges, sources, max_iterations=2).collect()))
        assert capped[9] == 100
        full = dict(map(tuple, sssp_weighted(
            edges, sources, max_iterations=5).collect()))
        assert full[9] == 3

    def test_unreachable_absent(self, spark):
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 1), (5, 6, 1)], "src long, dst long, weight long",
        )
        sources = spark.createDataFrame([(1,)], "id long")
        got = dict(map(tuple, sssp_weighted(edges, sources).collect()))
        assert set(got) == {1, 2}

    @pytest.mark.parametrize("iters", [5, 20])
    def test_negative_cycle_raises(self, spark, iters):
        """2->3 (-5), 3->2 (1) is a negative cycle: the answer used to
        depend on the bound (dist(3) = -8 at 5 rounds, -40 at 20)."""
        from brahmand_spark.errors import PlanError
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 1), (2, 3, -5), (3, 2, 1), (3, 4, 1)],
            "src long, dst long, weight long")
        sources = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(PlanError, match="negative or NaN"):
            sssp_weighted(edges, sources, max_iterations=iters)

    def test_nan_weight_raises(self, spark):
        """A NaN weight on 2->3 used to give vertex 3 a NaN distance."""
        from brahmand_spark.errors import PlanError
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, 1.0), (2, 3, float("nan")), (3, 4, 1.0)],
            "src long, dst long, weight double")
        sources = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(PlanError, match="negative or NaN"):
            sssp_weighted(edges, sources)

    def test_inf_weight_and_unreached_negative_stay_legal(self, spark):
        """Inf is a legal weight, and only edges the search reaches are
        checked: a negative edge elsewhere in the graph is fine."""
        from brahmand_spark.ops.algos import sssp_weighted

        edges = spark.createDataFrame(
            [(1, 2, float("inf")), (1, 3, 2.0), (7, 8, -1.0)],
            "src long, dst long, weight double")
        sources = spark.createDataFrame([(1,)], "id long")
        got = dict(map(tuple, sssp_weighted(edges, sources).collect()))
        assert got == {1: 0.0, 2: float("inf"), 3: 2.0}

    def test_gate_oracle_parity(self, spark, duck):
        """The driver's comparison at sf0.001: Spark frontier
        Bellman-Ford vs the 12-round DuckDB relaxation replay."""
        import __spark_entry__ as entry

        from .conftest import SF_SMOKE
        from .helpers import assert_same

        fn = entry.queries()["graph_sssp_weighted"]
        sql = entry.oracle_sql()["graph_sssp_weighted"]
        assert_same(fn(spark, SF_SMOKE), duck.sql(sql))


class TestPersonalizedPageRank:
    def _graph(self, spark):
        # two weakly-linked clusters: 0-1-2 cycle, 3-4 pair reachable
        # only via 2->3; 5 isolated-from-sources (only 5->0)
        return spark.createDataFrame(
            [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 0)],
            "src long, dst long",
        )

    def test_uniform_path_unchanged_bit_for_bit(self, spark, duck):
        """sources=None must replay the generated chained-CTE oracle
        exactly — the personalized refactor multiplies by literal 1.0,
        which is exact."""
        import __spark_entry__ as entry

        from .conftest import SF_SMOKE
        from .helpers import assert_same

        fn = entry.queries(fresh=True)["graph_pagerank"]
        sql = entry.oracle_sql()["graph_pagerank"]
        assert_same(fn(spark, SF_SMOKE), duck.sql(sql))

    def test_mass_conserved_and_source_proximity(self, spark):
        from brahmand_spark.ops.algos import pagerank

        edges = self._graph(spark)
        sources = spark.createDataFrame([(0,)], "id long")
        got = {r["id"]: r["rank"]
               for r in pagerank(edges, iterations=30,
                                 sources=sources).collect()}
        assert abs(sum(got.values()) - 6.0) < 1e-6  # n = 6
        # 5 only points INTO the graph; nothing walks to it -> rank 0
        # (uniform PageRank gives every vertex >= 1 - d, so this zero
        # is the personalized signature)
        assert got[5] == 0.0
        uni = {r["id"]: r["rank"]
               for r in pagerank(edges, iterations=30).collect()}
        assert uni[5] >= 0.15 - 1e-9
        # restart mass lands on the source: it beats its own uniform
        # rank share of the walk
        assert got[0] > uni[0]

    def test_matches_python_replay(self, spark):
        """3 personalized iterations vs an exact driver-side replay of
        the same update rule."""
        from brahmand_spark.ops.algos import pagerank

        edges = self._graph(spark)
        e = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 0)]
        sources = spark.createDataFrame([(0,), (3,)], "id long")
        got = {r["id"]: r["rank"]
               for r in pagerank(edges, iterations=3,
                                 sources=sources).collect()}
        n, d = 6, 0.85
        pref = {v: (n / 2 if v in (0, 3) else 0.0) for v in range(6)}
        out_deg = {}
        for s, _ in e:
            out_deg[s] = out_deg.get(s, 0) + 1
        rank = {v: 1.0 for v in range(6)}
        for _ in range(3):
            recv = {v: 0.0 for v in range(6)}
            for s, t in e:
                recv[t] += rank[s] / out_deg[s]
            dang = sum(rank[v] for v in range(6) if v not in out_deg)
            rank = {
                v: (1 - d) * pref[v] + d * (recv[v] + dang * pref[v] / n)
                for v in range(6)
            }
        for v in range(6):
            assert abs(got[v] - rank[v]) < 1e-9, (v, got[v], rank[v])

    def test_empty_sources_rejected(self, spark):
        import pytest

        from brahmand_spark.ops.algos import pagerank

        edges = self._graph(spark)
        with pytest.raises(ValueError):
            pagerank(edges, sources=spark.createDataFrame([], "id long"))


class TestHarmonicCentrality:
    PAIRS = [(0, 1), (1, 2), (2, 3), (3, 4), (1, 5), (5, 6),
             (7, 8)]  # two components; undirected by default

    def _py_exact(self, pairs, directed=False):
        from collections import deque

        adj = {}
        for a, b in pairs:
            adj.setdefault(a, set()).add(b)
            if not directed:
                adj.setdefault(b, set()).add(a)
            adj.setdefault(b, set())
            adj.setdefault(a, set())
        nodes = sorted(adj)
        cent = {v: 0.0 for v in nodes}
        for s in nodes:
            dist = {s: 0}
            dq = deque([s])
            while dq:
                u = dq.popleft()
                for w in adj[u]:
                    if w not in dist:
                        dist[w] = dist[u] + 1
                        dq.append(w)
            for v, d in dist.items():
                if d > 0:
                    cent[v] += 1.0 / d
        return cent

    def test_exact_matches_python_bfs(self, spark):
        from brahmand_spark.ops.algos import harmonic_centrality

        got = {r["id"]: r["centrality"] for r in harmonic_centrality(
            edges_df(spark, self.PAIRS)).collect()}
        want = self._py_exact(self.PAIRS)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])

    def test_directed_distances(self, spark):
        from brahmand_spark.ops.algos import harmonic_centrality

        got = {r["id"]: r["centrality"] for r in harmonic_centrality(
            edges_df(spark, self.PAIRS), directed=True).collect()}
        want = self._py_exact(self.PAIRS, directed=True)
        for v in want:
            assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])

    def test_full_sample_equals_exact_and_deterministic(self, spark):
        from brahmand_spark.ops.algos import harmonic_centrality

        e = edges_df(spark, self.PAIRS)
        exact = sorted(map(tuple, harmonic_centrality(e).collect()))
        full = sorted(map(tuple, harmonic_centrality(
            e, n_samples=9).collect()))
        assert exact == full
        again = sorted(map(tuple, harmonic_centrality(
            e.repartition(5), n_samples=9).collect()))
        assert exact == again

    def test_sampled_is_unbiased_shape(self, spark):
        """k < n: the estimator stays deterministic, every vertex gets
        a value, isolated-component vertices keep finite centrality,
        and the n/k scaling keeps magnitudes in the exact range."""
        from brahmand_spark.ops.algos import harmonic_centrality

        e = edges_df(spark, self.PAIRS)
        got = {r["id"]: r["centrality"] for r in harmonic_centrality(
            e, n_samples=4, seed=7).collect()}
        assert set(got) == set(range(9))
        assert all(v >= 0.0 for v in got.values())
        again = {r["id"]: r["centrality"] for r in harmonic_centrality(
            e.repartition(3), n_samples=4, seed=7).collect()}
        assert got == again


class TestStronglyConnectedComponents:
    def _py_tarjan(self, pairs):
        """Iterative Tarjan ground truth; scc labeled by min member."""
        adj = {}
        nodes = set()
        for a, b in pairs:
            if a != b:
                adj.setdefault(a, []).append(b)
            nodes.update((a, b))
        for n in nodes:
            adj.setdefault(n, [])
        index = {}
        low = {}
        on_stack = set()
        stack = []
        sccs = []
        counter = [0]
        for s in sorted(nodes):
            if s in index:
                continue
            work = [(s, 0)]
            while work:
                v, pi = work[-1]
                if pi == 0:
                    index[v] = low[v] = counter[0]
                    counter[0] += 1
                    stack.append(v)
                    on_stack.add(v)
                recurse = False
                for i in range(pi, len(adj[v])):
                    w = adj[v][i]
                    if w not in index:
                        work[-1] = (v, i + 1)
                        work.append((w, 0))
                        recurse = True
                        break
                    elif w in on_stack:
                        low[v] = min(low[v], index[w])
                if recurse:
                    continue
                if low[v] == index[v]:
                    comp = []
                    while True:
                        w = stack.pop()
                        on_stack.discard(w)
                        comp.append(w)
                        if w == v:
                            break
                    sccs.append(comp)
                work.pop()
                if work:
                    u, _ = work[-1]
                    low[u] = min(low[u], low[v])
        out = {}
        for comp in sccs:
            m = min(comp)
            for v in comp:
                out[v] = m
        return out

    def _check(self, spark, pairs, **kw):
        from brahmand_spark.ops.algos import strongly_connected_components

        got = {r["id"]: r["scc"] for r in strongly_connected_components(
            edges_df(spark, pairs), **kw).collect()}
        assert got == self._py_tarjan(pairs)

    def test_single_cycle(self, spark):
        self._check(spark, [(0, 1), (1, 2), (2, 3), (3, 0)])

    def test_dag_is_all_singletons_one_round(self, spark):
        self._check(spark, [(0, 1), (0, 2), (1, 3), (2, 3)],
                    max_rounds=1)

    def test_two_cycles_one_way_bridge(self, spark):
        # 0-1-2 cycle -> bridge -> 10-11 cycle; plus a dangling tail
        self._check(spark, [(0, 1), (1, 2), (2, 0), (2, 10),
                            (10, 11), (11, 10), (11, 20)])

    def test_figure_eight_and_nested(self, spark):
        # two cycles sharing vertex 5 merge into ONE scc
        self._check(spark, [(5, 1), (1, 5), (5, 2), (2, 3), (3, 5),
                            (7, 8), (8, 7), (3, 7)])

    def test_random_digraphs_match_tarjan(self, spark):
        import random

        for seed in (3, 17):
            rng = random.Random(seed)
            n = 30
            pairs = sorted({
                (rng.randrange(n), rng.randrange(n))
                for _ in range(70)
            })
            pairs = [(a, b) for a, b in pairs if a != b]
            self._check(spark, pairs)

    def test_deterministic_under_repartition(self, spark):
        from brahmand_spark.ops.algos import strongly_connected_components

        pairs = [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10)]
        a = sorted(map(tuple, strongly_connected_components(
            edges_df(spark, pairs)).collect()))
        b = sorted(map(tuple, strongly_connected_components(
            edges_df(spark, pairs).repartition(5)).collect()))
        assert a == b

    def test_max_rounds_raises(self, spark):
        import pytest
        from brahmand_spark.ops.algos import strongly_connected_components

        # a 3-chain of singleton SCCs where each round only drains the
        # root color classes; force failure with max_rounds=0
        with pytest.raises(ValueError, match="did not converge"):
            strongly_connected_components(
                edges_df(spark, [(0, 1), (1, 0), (1, 2), (2, 1)]),
                max_rounds=0).collect()

    def test_self_loop_only_vertex_is_singleton_scc(self, spark):
        """A vertex whose only edges are self-loops is a valid SCC —
        it must appear in the output (parity with
        connected_components, which keeps such vertices)."""
        self._check(spark, [(0, 1), (1, 0), (7, 7)])

    def test_all_self_loops(self, spark):
        self._check(spark, [(3, 3), (4, 4)])

    def test_scc_long_cycle_jump_equals_plain(self, spark, monkeypatch):
        """A 12-cycle with a 5-deep ancestor tail: the coloring
        fixpoint needs ~12 plain supersteps, so the pointer-jump
        branch (active from _JUMP_AFTER on) carries most of the
        convergence. Results must equal Tarjan AND the jump-disabled
        run — the threshold is a performance knob, never a semantic
        one."""
        import brahmand_spark.ops.algos as algos

        n = 12
        pairs = [(i, (i + 1) % n) for i in range(n)]
        pairs += [(100 + i, 99 + i) for i in range(1, 6)]  # tail chain
        pairs += [(100, 0)]  # tail feeds the cycle
        self._check(spark, pairs)  # jump active (default threshold)
        monkeypatch.setattr(algos, "_JUMP_AFTER", 10 ** 9)
        self._check(spark, pairs)  # plain path, same labels

    def test_scc_deep_cycle_sweep_jump_caps_barriers(
            self, spark, monkeypatch):
        """r15 (VERDICT r14 #6): on a single 48-cycle the backward
        sweep alone would need ~48 frontier rounds; the pointer-jump
        tail must cap the WHOLE run (trim + coloring + sweep + live
        shrink) well below one barrier per cycle vertex, with labels
        still exact. The barrier probe counts _ckpt calls — every
        checkpoint barrier goes through it, observed or not. (A 200-cycle
        verified the same way while building the tail finished in 45
        barriers vs ~210 for pure BFS — see OPTIMIZATION_r15.md.)"""
        import brahmand_spark.ops.algos as algos

        n = 48
        pairs = [(i, (i + 1) % n) for i in range(n)]
        calls = {"n": 0}
        real = algos._ckpt

        def counting(*a, **k):
            calls["n"] += 1
            return real(*a, **k)

        monkeypatch.setattr(algos, "_ckpt", counting)
        self._check(spark, pairs)
        assert calls["n"] < n, (
            f"hybrid sweep took {calls['n']} barriers on a {n}-cycle")


class TestBetweennessCentrality:
    def _py_brandes_micro(self, pairs, directed, max_hops=10,
                          sample=None, seed=42):
        """Bit-exact replay of the integer micro-unit recursion."""
        from collections import deque

        MICRO = 1_000_000
        edges = set()
        verts = set()
        for a, b in pairs:
            verts.update((a, b))
            edges.add((a, b))
            if not directed:
                edges.add((b, a))
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        seeds = sorted(verts) if sample is None else sample
        n, k = len(verts), len(seeds)
        score = {v: 0 for v in verts}
        for s in seeds:
            dist = {s: 0}
            sigma = {s: 1}
            levels = {0: [s]}
            q = deque([s])
            while q:
                v = q.popleft()
                if dist[v] >= max_hops:
                    continue
                for w in adj.get(v, []):
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0
                        levels.setdefault(dist[w], []).append(w)
                        q.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            delta = {v: 0 for v in dist}
            for t in sorted(levels, reverse=True):
                if t == 0:
                    continue
                for v in levels.get(t - 1, []):
                    c = 0
                    for w in adj.get(v, []):
                        if dist.get(w) == t:
                            c += (sigma[v] * (MICRO + delta[w])
                                  ) // sigma[w]
                    delta[v] = c
            for v, d in delta.items():
                if v != s:
                    score[v] += d
        return {v: d / MICRO * (n / k) for v, d in score.items()}

    def _check(self, spark, pairs, directed, **kw):
        from brahmand_spark.ops.algos import betweenness_centrality

        got = {r["id"]: r["centrality"] for r in betweenness_centrality(
            edges_df(spark, pairs), directed=directed, **kw).collect()}
        want = self._py_brandes_micro(pairs, directed)
        assert set(got) == set(want)
        for v in got:
            assert abs(got[v] - want[v]) < 1e-9, (v, got[v], want[v])

    def test_path_graph_exact(self, spark):
        # path 0-1-2-3-4: interior vertices bridge everything
        self._check(spark, [(0, 1), (1, 2), (2, 3), (3, 4)],
                    directed=False)

    def test_star_center_dominates(self, spark):
        from brahmand_spark.ops.algos import betweenness_centrality

        pairs = [(0, i) for i in range(1, 7)]
        got = {r["id"]: r["centrality"] for r in betweenness_centrality(
            edges_df(spark, pairs), directed=False).collect()}
        assert got[0] > max(got[i] for i in range(1, 7)) * 10
        assert all(abs(got[i]) < 1e-9 for i in range(1, 7))

    def test_directed_graph(self, spark):
        self._check(spark, [(0, 1), (1, 2), (0, 2), (2, 3), (1, 3)],
                    directed=True)

    def test_matches_float_brandes_closely(self, spark):
        """The micro-unit recursion tracks the textbook float Brandes
        within flooring error on a random graph."""
        import random

        from brahmand_spark.ops.algos import betweenness_centrality

        rnd = random.Random(9)
        pairs = sorted({(rnd.randrange(12), rnd.randrange(12))
                        for _ in range(30)})
        pairs = [(a, b) for a, b in pairs if a != b]

        # float reference
        from collections import deque
        edges = set()
        verts = set()
        for a, b in pairs:
            verts.update((a, b))
            edges.add((a, b))
            edges.add((b, a))
        adj = {}
        for a, b in edges:
            adj.setdefault(a, []).append(b)
        ref = {v: 0.0 for v in verts}
        for s in sorted(verts):
            dist, sigma, order = {s: 0}, {s: 1}, [s]
            q = deque([s])
            while q:
                v = q.popleft()
                for w in adj.get(v, []):
                    if w not in dist:
                        dist[w] = dist[v] + 1
                        sigma[w] = 0
                        order.append(w)
                        q.append(w)
                    if dist[w] == dist[v] + 1:
                        sigma[w] += sigma[v]
            delta = {v: 0.0 for v in dist}
            for v in reversed(order):
                for w in adj.get(v, []):
                    if dist.get(w) == dist[v] + 1:
                        delta[v] += sigma[v] / sigma[w] * (1 + delta[w])
                if v != s:
                    ref[v] += delta[v]
        got = {r["id"]: r["centrality"] for r in betweenness_centrality(
            edges_df(spark, pairs), directed=False).collect()}
        for v in got:
            assert abs(got[v] - ref[v]) < 1e-3 * max(ref[v], 1.0)

    def test_sampled_deterministic_and_unbiased_shape(self, spark):
        from brahmand_spark.ops.algos import betweenness_centrality

        pairs = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (1, 4)]
        a = sorted(map(tuple, betweenness_centrality(
            edges_df(spark, pairs), n_samples=3).collect()))
        b = sorted(map(tuple, betweenness_centrality(
            edges_df(spark, pairs).repartition(5),
            n_samples=3).collect()))
        assert a == b
        full = {r["id"]: r["centrality"] for r in betweenness_centrality(
            edges_df(spark, pairs)).collect()}
        # sampled full == exact
        sampled_full = {r["id"]: r["centrality"]
                        for r in betweenness_centrality(
                            edges_df(spark, pairs),
                            n_samples=6).collect()}
        assert all(abs(full[v] - sampled_full[v]) < 1e-9 for v in full)

    def test_via_call(self, tpch):
        got = tpch.execute(
            "CALL graph.betweenness('NEXT_CUST', 20, 6) "
            "YIELD id, centrality ORDER BY centrality DESC LIMIT 5")
        assert got.count() == 5

    def test_hop_cap_truncation_warns(self, spark):
        """A frontier still live at max_hops means paths beyond the
        cap are being ignored — that truncation must be LOUD, not
        silent (ADVICE r5)."""
        import warnings

        from brahmand_spark.ops.algos import betweenness_centrality

        pairs = [(i, i + 1) for i in range(6)]  # P7: diameter 6
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            betweenness_centrality(
                edges_df(spark, pairs), max_hops=3).collect()
        assert any("max_hops=3" in str(w.message) for w in caught)
        # a cap that covers the diameter stays silent
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            betweenness_centrality(
                edges_df(spark, pairs), max_hops=6).collect()
        assert not [w for w in caught
                    if "frontier still live" in str(w.message)]


class TestClusteringCoefficient:
    def test_matches_python(self, spark):
        from brahmand_spark.ops.algos import clustering_coefficient

        # triangle 0-1-2 + pendant 3 on 0 + isolated edge 4-5
        pairs = [(0, 1), (1, 2), (2, 0), (0, 3), (4, 5)]
        got = {r["id"]: (r["degree"], r["triangles"],
                         round(r["coefficient"], 6))
               for r in clustering_coefficient(
                   edges_df(spark, pairs)).collect()}
        assert got[0] == (3, 1, round(2 * 1 / (3 * 2), 6))
        assert got[1] == (2, 1, 1.0)
        assert got[2] == (2, 1, 1.0)
        assert got[3] == (1, 0, 0.0)
        assert got[4] == (1, 0, 0.0) and got[5] == (1, 0, 0.0)

    def test_complete_graph_is_all_ones(self, spark):
        from brahmand_spark.ops.algos import clustering_coefficient

        pairs = [(a, b) for a in range(5) for b in range(5) if a < b]
        got = clustering_coefficient(edges_df(spark, pairs)).collect()
        assert all(abs(r["coefficient"] - 1.0) < 1e-12 for r in got)


class TestMaximalIndependentSet:
    def _props(self, pairs, rows):
        in_set = {r["id"] for r in rows if r["in_set"]}
        out = {r["id"] for r in rows if not r["in_set"]}
        und = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
        # independence: no edge inside the set
        assert not any((a, b) in und
                       for a in in_set for b in in_set if a != b)
        # maximality: every outsider has a set neighbor
        for v in out:
            assert any((v, u) in und for u in in_set), v
        return in_set

    def test_random_graphs_independent_and_maximal(self, spark):
        import random

        from brahmand_spark.ops.algos import maximal_independent_set

        for sd in (1, 7):
            rnd = random.Random(sd)
            pairs = sorted({(rnd.randrange(25), rnd.randrange(25))
                            for _ in range(60)})
            pairs = [(a, b) for a, b in pairs if a != b]
            rows = maximal_independent_set(
                edges_df(spark, pairs)).collect()
            self._props(pairs, rows)

    def test_path_graph(self, spark):
        from brahmand_spark.ops.algos import maximal_independent_set

        pairs = [(i, i + 1) for i in range(9)]
        rows = maximal_independent_set(edges_df(spark, pairs)).collect()
        in_set = self._props(pairs, rows)
        assert len(in_set) >= 3  # any MIS of P10 has >= 4... >=3 safe

    def test_deterministic_under_repartition(self, spark):
        from brahmand_spark.ops.algos import maximal_independent_set

        pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)]
        a = sorted(map(tuple, maximal_independent_set(
            edges_df(spark, pairs)).collect()))
        b = sorted(map(tuple, maximal_independent_set(
            edges_df(spark, pairs).repartition(6)).collect()))
        assert a == b

    def test_different_seed_still_valid(self, spark):
        from brahmand_spark.ops.algos import maximal_independent_set

        pairs = [(i, (i + 1) % 8) for i in range(8)]
        rows = maximal_independent_set(
            edges_df(spark, pairs), seed=99).collect()
        self._props(pairs, rows)

    def test_self_loop_vertex_never_in_set(self, spark):
        """A self-adjacent vertex conflicts with itself: it must come
        back in_set=false even when the loop is its only edge, and its
        other neighbors stay eligible (ADVICE r5)."""
        from brahmand_spark.ops.algos import maximal_independent_set

        # 7 has ONLY a self-loop; 0 has a self-loop plus edge to 1
        pairs = [(7, 7), (0, 0), (0, 1), (1, 2), (2, 3)]
        got = {r["id"]: r["in_set"] for r in maximal_independent_set(
            edges_df(spark, pairs)).collect()}
        assert got[7] is False
        assert got[0] is False
        # the loop-free chain 1-2-3 still yields an independent set
        # that is maximal among eligible vertices
        assert got[1] or got[2]
        assert not (got[1] and got[2])
        assert not (got[2] and got[3])


class TestReliableCheckpoint:
    """r9 (VERDICT r8 Missing #5): checkpoint='reliable' +
    checkpoint_dir= truncate each round via DataFrame.checkpoint to a
    durable store instead of executor-local blocks — identical
    results, different failure-recovery behavior (executor loss costs
    a re-read, not a rerun)."""

    PAIRS = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (2, 5),
             (6, 7), (7, 6), (8, 6)]

    def test_pagerank_reliable_identical(self, spark, tmp_path):
        import os

        from brahmand_spark.ops.algos import pagerank

        e = edges_df(spark, self.PAIRS)
        local = sorted((r.id, round(r.rank, 10)) for r in
                       pagerank(e, iterations=8).collect())
        ckdir = str(tmp_path / "ck")
        reliable = sorted(
            (r.id, round(r.rank, 10)) for r in
            pagerank(e, iterations=8, checkpoint="reliable",
                     checkpoint_dir=ckdir).collect())
        assert reliable == local
        # rounds actually landed in the durable store
        assert os.listdir(ckdir)

    def test_scc_reliable_identical(self, spark, tmp_path):
        from brahmand_spark.ops.algos import (
            strongly_connected_components,
        )

        e = edges_df(spark, self.PAIRS)
        local = sorted((r["id"], r["scc"]) for r in
                       strongly_connected_components(e).collect())
        reliable = sorted(
            (r["id"], r["scc"]) for r in
            strongly_connected_components(
                e, checkpoint="reliable",
                checkpoint_dir=str(tmp_path / "ck")).collect())
        assert reliable == local and len(local) > 0

    def test_walks_reliable_identical(self, spark, tmp_path):
        from brahmand_spark.ops.walks import random_walks

        e = edges_df(spark, self.PAIRS)
        local = sorted(map(tuple, random_walks(
            e, n_walks=2, walk_length=4, seed=7).collect()))
        reliable = sorted(map(tuple, random_walks(
            e, n_walks=2, walk_length=4, seed=7,
            checkpoint="reliable",
            checkpoint_dir=str(tmp_path / "ck")).collect()))
        assert reliable == local and len(local) > 0

    def test_dir_alone_upgrades_to_reliable(self, spark, tmp_path):
        """Passing checkpoint_dir without a mode means 'use it':
        the default True upgrades to reliable (files appear)."""
        import os

        from brahmand_spark.ops.algos import connected_components

        ckdir = str(tmp_path / "ck")
        got = sorted((r["id"], r["component"]) for r in connected_components(
            edges_df(spark, self.PAIRS),
            checkpoint_dir=ckdir).collect())
        assert got and os.listdir(ckdir)

    def test_bad_mode_rejected(self, spark):
        import pytest

        from brahmand_spark.ops.algos import pagerank

        with pytest.raises(ValueError, match="checkpoint"):
            pagerank(edges_df(spark, self.PAIRS), iterations=2,
                     checkpoint="nope").collect()


class TestPartitionCountInvariance:
    """Loop results are a pure function of the data: the session's
    reduce-partition count is a performance setting only."""

    def test_loop_results_identical_at_1_and_8_partitions(self, spark):
        from brahmand_spark.ops.algos import (
            k_core, sssp_weighted, strongly_connected_components)

        pairs = [(0, 1), (1, 2), (2, 0), (2, 10), (10, 11), (11, 10),
                 (11, 20), (20, 21), (21, 22)]
        edges = edges_df(spark, pairs)
        srcs = spark.createDataFrame([(0,)], "id long")
        wedges = edges.withColumn("weight", F.lit(1))

        def all_results():
            return (
                sorted(map(tuple, strongly_connected_components(
                    edges).collect())),
                sorted(map(tuple, sssp_weighted(wedges, srcs).collect())),
                sorted(map(tuple, k_core(edges, 2).collect())),
            )

        key = "spark.sql.shuffle.partitions"
        orig = spark.conf.get(key)
        try:
            spark.conf.set(key, "1")
            one = all_results()
            spark.conf.set(key, "8")
            assert all_results() == one
        finally:
            spark.conf.set(key, orig)


class TestAqeCoalescesLoopCheckpoints:
    """The loops leave reduce-partition counts to AQE. That rests on
    AQE coalescing reaching the shuffles that feed each round's
    ``localCheckpoint(eager=True)`` job: at 32 shuffle partitions a
    fixture-sized k-core must run no 32-task stage. The same run with
    coalescing off shows the probe can see the difference."""

    def _max_stage_tasks(self, spark, coalesce: bool) -> int:
        import uuid

        from brahmand_spark.ops.algos import k_core

        sc = spark.sparkContext
        keys = {"spark.sql.shuffle.partitions": "32",
                "spark.sql.adaptive.coalescePartitions.enabled":
                    str(coalesce).lower()}
        orig = {k: spark.conf.get(k) for k in keys}
        # a 2-partition input keeps every map stage over it below 32
        edges = edges_df(spark, [(i, (i + 1) % 40) for i in range(40)]
                         + [(i, i + 40) for i in range(20)]).coalesce(2)
        group = f"aqe-coalesce-{uuid.uuid4().hex}"
        try:
            for k, v in keys.items():
                spark.conf.set(k, v)
            sc.setJobGroup(group, "k-core under AQE")
            assert k_core(edges, 2).count() == 40
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            for k, v in orig.items():
                spark.conf.set(k, v)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        tasks = [
            info.numTasks
            for job in tracker.getJobIdsForGroup(group)
            for stage in tracker.getJobInfo(job).stageIds
            if (info := tracker.getStageInfo(stage)) is not None
        ]
        assert tasks, "no stages recorded for the k-core job group"
        return max(tasks)

    def test_reduce_stages_coalesced_inside_checkpoints(self, spark):
        assert self._max_stage_tasks(spark, coalesce=True) < 32
        assert self._max_stage_tasks(spark, coalesce=False) == 32


class TestResetStats:
    def test_failed_rebuild_warns_and_keeps_frame(self, spark,
                                                  monkeypatch):
        """A failing JVM rebuild must not silently switch off the
        overflow guard: the frame comes back unchanged, with a
        warning."""
        import pytest

        from brahmand_spark.ops.algos import _reset_stats

        class _Broken:
            def __getattr__(self, name):
                raise RuntimeError("rebuild unavailable")

        df = spark.range(3)
        monkeypatch.setattr(spark, "_jsparkSession", _Broken())
        with pytest.warns(RuntimeWarning, match="statistics"):
            out = _reset_stats(df)
        monkeypatch.undo()
        assert out is df


class TestCkptObs:
    """`_ckpt_obs`: the convergence-probe metric must ride the
    checkpoint job (no separate action) and agree with a plain
    aggregate in every checkpoint mode."""

    def test_metrics_agree_across_modes(self, spark, tmp_path):
        from brahmand_spark.ops.algos import _ckpt_obs

        df = (spark.range(5000)
              .withColumn("k", F.col("id") % 37)
              .groupBy("k").agg(F.count(F.lit(1)).alias("n"))
              .withColumn("chg", F.col("k") % 3 == 0))
        want_chg = df.filter("chg").count()
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        for mode in (False, True, "local", "reliable"):
            out, m = _ckpt_obs(
                df, mode, F.count(F.when(F.col("chg"), True)).alias("c"),
                F.count(F.lit(1)).alias("n"))
            assert m["c"] == want_chg, mode
            assert m["n"] == 37, mode
            # the returned frame holds the same rows
            assert out.count() == 37, mode

    def test_empty_frame_counts_zero(self, spark):
        from brahmand_spark.ops.algos import _ckpt_obs

        df = spark.range(10).filter("id < 0")
        out, m = _ckpt_obs(df, True, F.count(F.lit(1)).alias("n"))
        assert m["n"] == 0
        assert out.count() == 0

    def test_no_separate_action_when_checkpointing(self, spark,
                                                   monkeypatch):
        """With a real checkpoint the metric must come from the
        checkpoint job itself: count/first/collect stay untouched."""
        from brahmand_spark.ops.algos import _ckpt_obs

        DataFrame = concrete_dataframe_cls()
        calls = []
        for name in ("count", "first", "collect"):
            orig = getattr(DataFrame, name)

            def spy(self, *a, _orig=orig, _n=name, **kw):
                calls.append(_n)
                return _orig(self, *a, **kw)

            monkeypatch.setattr(DataFrame, name, spy)
        df = spark.range(100).withColumn("chg", F.col("id") % 2 == 0)
        out, m = _ckpt_obs(
            df, True, F.count(F.when(F.col("chg"), True)).alias("c"))
        monkeypatch.undo()
        assert m["c"] == 50
        assert calls == [], calls
