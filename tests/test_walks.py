"""Random-walk corpus generation (ops/walks.py): exact pure-Python
replay of the seeded walks, a DuckDB chained-CTE replay, dead-end
termination, determinism under repartition, and skip-gram extraction
parity."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
import pytest

from brahmand_spark.ops.walks import (
    random_walks, ranked_adjacency, skipgram_pairs,
)

from .helpers import assert_same

EDGES = [
    (0, 1), (0, 2), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2),
    (5, 6),  # 6 is a dead end
]


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _rank_py(vs, n_buckets=32, max_degree=None):
    """The salted-sub-bucket neighbor order: (md5 bucket, v) asc,
    optionally truncated to the first max_degree."""
    ordered = sorted(vs, key=lambda v: (_h60(f"nb:{v}") % n_buckets, v))
    return ordered if max_degree is None else ordered[:max_degree]


def _py_walks(pairs, n_walks, walk_length, seed=42, max_degree=None,
              n_buckets=32):
    adj = {}
    verts = set()
    for u, v in pairs:
        verts.update((u, v))
        adj.setdefault(u, set()).add(v)
    ranked = {u: _rank_py(vs, n_buckets, max_degree)
              for u, vs in adj.items()}
    out = {}
    for s in sorted(verts):
        for w in range(n_walks):
            wid = s * n_walks + w
            walk, cur = [s], s
            for t in range(1, walk_length):
                nbrs = ranked.get(cur)
                if not nbrs:
                    break
                pick = _h60(f"w:{seed}:{wid}:{t}") % len(nbrs)
                cur = nbrs[pick]
                walk.append(cur)
            out[wid] = (s, walk)
    return out


def _edges_df(spark, pairs=EDGES):
    return spark.createDataFrame(pairs, "src long, dst long")


class TestRandomWalks:
    def test_matches_python_replay(self, spark):
        got = {r["walk_id"]: (r["start"], list(r["walk"]))
               for r in random_walks(
                   _edges_df(spark), n_walks=3, walk_length=6).collect()}
        assert got == _py_walks(EDGES, 3, 6)

    def test_dead_end_terminates_with_prefix(self, spark):
        got = {r["walk_id"]: list(r["walk"])
               for r in random_walks(
                   _edges_df(spark), n_walks=1, walk_length=5).collect()}
        # 5 -> 6 (dead end): walk stops at length 2; 6 alone: length 1
        assert got[5] == [5, 6]
        assert got[6] == [6]

    def test_deterministic_under_repartition(self, spark):
        a = sorted(map(str, random_walks(
            _edges_df(spark), n_walks=2, walk_length=5).collect()))
        b = sorted(map(str, random_walks(
            _edges_df(spark).repartition(7), n_walks=2,
            walk_length=5).collect()))
        assert a == b

    def test_walks_cover_every_vertex(self, spark):
        walks = random_walks(_edges_df(spark), n_walks=2, walk_length=4)
        starts = {r["start"] for r in walks.select("start").collect()}
        assert starts == {0, 1, 2, 3, 4, 5, 6}
        assert walks.count() == 7 * 2

    def test_matches_duckdb_chained_replay(self, spark, duck):
        """The whole generation replays in DuckDB: ranked adjacency +
        one chained CTE per step with the same md5 fold — walk arrays
        agree exactly."""
        nw, wl, seed = 2, 4, 42
        got = random_walks(_edges_df(spark), n_walks=nw,
                           walk_length=wl, seed=seed) \
            .select("walk_id", "start",
                    F.array_join(F.transform(
                        "walk", lambda x: x.cast("string")), " ")
                    .alias("walk_s"))
        vals = ", ".join(f"({u}, {v})" for u, v in EDGES)
        md5f = ("list_reduce(list_transform(string_split(substr(md5("
                "'w:{seed}:' || s.walk_id || ':{t}'), 1, 15), ''), "
                "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), "
                "(a, b) -> a * 16 + b)")
        bktf = ("list_reduce(list_transform(string_split(substr(md5("
                "'nb:' || v), 1, 15), ''), "
                "c -> (strpos('0123456789abcdef', c) - 1)::BIGINT), "
                "(a, b) -> a * 16 + b) % 32")
        parts = [f"""
            e(u, v) AS (VALUES {vals}),
            ranked AS (
                SELECT u, v,
                       row_number() OVER (PARTITION BY u
                                          ORDER BY bkt, v)
                           - 1 AS rank,
                       count(*) OVER (PARTITION BY u) AS degree
                FROM (SELECT u, v, {bktf} AS bkt
                      FROM (SELECT DISTINCT u, v FROM e))),
            verts AS (SELECT DISTINCT id FROM (
                SELECT u AS id FROM e UNION ALL SELECT v FROM e)),
            s0 AS (
                SELECT (id * {nw} + w.r)::BIGINT AS walk_id,
                       id::BIGINT AS start, [id::BIGINT] AS walk,
                       id::BIGINT AS cur, true AS live
                FROM verts, (SELECT unnest(range({nw})) AS r) w)"""]
        for t in range(1, wl):
            h = md5f.format(seed=seed, t=t)
            parts.append(f"""
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
        sql = ("WITH " + ",".join(parts)
               + f" SELECT walk_id, start, array_to_string(walk, ' ') "
                 f"AS walk_s FROM s{wl - 1}")
        assert_same(got, duck.sql(sql))


class TestWalkCorpus:

    def test_skipgram_pairs_match_python(self, spark):
        walks = random_walks(_edges_df(spark), n_walks=2, walk_length=6)
        got = {(r["center"], r["context"]): r["n"]
               for r in skipgram_pairs(walks, window=2).collect()}
        want: dict = {}
        for _, (_, walk) in _py_walks(EDGES, 2, 6).items():
            for i, c in enumerate(walk):
                for j in range(max(0, i - 2), min(len(walk), i + 3)):
                    if j == i:
                        continue
                    k = (c, walk[j])
                    want[k] = want.get(k, 0) + 1
        assert got == want

    def test_ranked_adjacency_shape(self, spark):
        adj = {(r["u"], r["v"]): (r["rank"], r["degree"])
               for r in ranked_adjacency(_edges_df(spark)).collect()}
        # ranks follow the salted (bucket, v) order, contiguous per u
        want01 = _rank_py({1, 2})
        assert adj[(0, want01[0])] == (0, 2)
        assert adj[(0, want01[1])] == (1, 2)
        assert adj[(2, 0)][1] == 2  # 2 -> {0, 3}
        by_u = {}
        for (u, v), (rank, deg) in adj.items():
            by_u.setdefault(u, []).append((rank, v, deg))
        for u, rows in by_u.items():
            ranks = sorted(r for r, _, _ in rows)
            assert ranks == list(range(len(rows)))
            assert all(d == len(rows) for _, _, d in rows)

    def test_ranked_adjacency_max_degree_cap(self, spark):
        """max_degree keeps exactly the first max_degree neighbors in
        (salt bucket, v) order with contiguous ranks and a capped
        degree — the deterministic supernode sample."""
        pairs = [(0, v) for v in range(10)] + [(1, 2)]
        df = spark.createDataFrame(pairs, "src long, dst long")
        adj = ranked_adjacency(df, max_degree=4).collect()
        mine = sorted((r["rank"], r["v"]) for r in adj if r["u"] == 0)
        want = _rank_py(set(range(10)), max_degree=4)
        assert mine == [(i, v) for i, v in enumerate(want)]
        assert all(r["degree"] == 4 for r in adj if r["u"] == 0)
        # under-cap vertices are untouched
        assert [(r["rank"], r["v"], r["degree"]) for r in adj
                if r["u"] == 1] == [(0, 2, 1)]

    def test_ranked_adjacency_no_per_vertex_window(self, spark):
        """The neighbor-ranking row_number must partition by
        (u, salt bucket), never by u alone — a supernode's neighbor
        list must not sort in a single task (r5 `weak` finding)."""
        plan = ranked_adjacency(_edges_df(spark)) \
            ._jdf.queryExecution().optimizedPlan().toString()
        rn_lines = [ln for ln in plan.splitlines()
                    if "row_number" in ln]
        assert rn_lines, plan
        for ln in rn_lines:
            assert "_bkt" in ln, ln

    def test_ranked_adjacency_capped_path_bounded_windows(self, spark):
        """With max_degree set, the deepest window still partitions by
        (u, salt bucket) over the raw rows; the final per-vertex
        window only ever sees <= n_buckets * max_degree rows (its
        input is the locally-capped set)."""
        plan = ranked_adjacency(_edges_df(spark), max_degree=2) \
            ._jdf.queryExecution().optimizedPlan().toString()
        wins = [ln for ln in plan.splitlines()
                if ln.strip().lstrip("+-: ").startswith("Window ")]
        assert wins, plan
        # deepest Window node (last in text) ranks the raw rows
        assert "_bkt" in wins[-1], plan

    def test_string_ids_fail_loudly(self, spark):
        import pytest

        df = spark.createDataFrame(
            [("a", "b")], "src string, dst string")
        with pytest.raises(TypeError, match="integral vertex ids"):
            random_walks(df, n_walks=1, walk_length=3)

    def test_walks_with_max_degree_match_python(self, spark):
        pairs = [(0, v) for v in range(8)] + [(1, 0), (2, 0), (3, 0)]
        df = spark.createDataFrame(pairs, "src long, dst long")
        got = {r["walk_id"]: (r["start"], list(r["walk"]))
               for r in random_walks(
                   df, n_walks=2, walk_length=5,
                   max_degree=3).collect()}
        assert got == _py_walks(pairs, 2, 5, max_degree=3)


class TestNodeEmbeddings:
    def _py_embeddings(self, pairs, dim, n_walks, walk_length, window,
                       seed=42, normalize=True, max_degree=None):
        """Bit-exact replay: python walks -> skip-gram counts ->
        integer sign sums -> optional L2 normalization."""
        import math

        counts: dict = {}
        for _, (_, walk) in _py_walks(
                pairs, n_walks, walk_length, seed=seed,
                max_degree=max_degree).items():
            for i, c in enumerate(walk):
                lo, hi = max(0, i - window), min(len(walk), i + window + 1)
                for j in range(lo, hi):
                    if j != i:
                        k = (c, walk[j])
                        counts[k] = counts.get(k, 0) + 1
        sums: dict = {}
        for (u, c), n in counts.items():
            vec = sums.setdefault(u, [0] * dim)
            for j in range(dim):
                s = (_h60(f"emb:{seed}:{j}:{c}") % 2) * 2 - 1
                vec[j] += n * s
        out = {}
        for u, vec in sums.items():
            fv = [float(x) for x in vec]
            if normalize:
                nrm = math.sqrt(sum(x * x for x in fv))
                if nrm > 0:
                    fv = [x / nrm for x in fv]
            out[u] = fv
        return out

    def test_matches_python_replay(self, spark):
        from brahmand_spark.ops.walks import node_embeddings

        got = {r["id"]: list(r["embedding"])
               for r in node_embeddings(
                   _edges_df(spark), dim=8, n_walks=2, walk_length=5,
                   window=2).collect()}
        want = self._py_embeddings(EDGES, 8, 2, 5, 2)
        assert set(got) == set(want)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-12)

    def test_unnormalized_integer_exact(self, spark):
        from brahmand_spark.ops.walks import node_embeddings

        got = {r["id"]: list(r["embedding"])
               for r in node_embeddings(
                   _edges_df(spark), dim=4, n_walks=1, walk_length=4,
                   normalize=False).collect()}
        want = self._py_embeddings(EDGES, 4, 1, 4, 2, normalize=False)
        assert got == want  # exact integer sums, no tolerance

    def test_deterministic_under_repartition(self, spark):
        from brahmand_spark.ops.walks import node_embeddings

        a = sorted(map(str, node_embeddings(
            _edges_df(spark), dim=6, n_walks=2,
            walk_length=4).collect()))
        b = sorted(map(str, node_embeddings(
            _edges_df(spark).repartition(7), dim=6, n_walks=2,
            walk_length=4).collect()))
        assert a == b

    def test_unit_norm(self, spark):
        from brahmand_spark.ops.walks import node_embeddings

        import math
        for r in node_embeddings(
                _edges_df(spark), dim=8, n_walks=2,
                walk_length=5).collect():
            nrm = math.sqrt(sum(x * x for x in r["embedding"]))
            assert nrm == pytest.approx(1.0, abs=1e-9) or nrm == 0.0

    def test_community_structure_separates(self, spark):
        """Two cliques joined by one bridge: within-clique cosine
        must exceed cross-clique cosine on average — the embeddings
        carry usable graph structure for semdedup/ANN."""
        import math

        from brahmand_spark.ops.walks import node_embeddings

        a = [(i, j) for i in range(5) for j in range(5) if i != j]
        b = [(i, j) for i in range(10, 15) for j in range(10, 15)
             if i != j]
        pairs = a + b + [(4, 10), (10, 4)]
        df = spark.createDataFrame(pairs, "src long, dst long")
        emb = {r["id"]: r["embedding"]
               for r in node_embeddings(
                   df, dim=16, n_walks=6, walk_length=6,
                   window=2).collect()}

        def cos(u, v):
            return sum(x * y for x, y in zip(emb[u], emb[v]))

        within = [cos(u, v) for u in (0, 1, 2) for v in (1, 2, 3)
                  if u != v]
        across = [cos(u, v) for u in (0, 1, 2) for v in (11, 12, 13)]
        assert sum(within) / len(within) > sum(across) / len(across)

    def test_via_call(self, tpch):
        from brahmand_spark.ops.walks import node_embeddings
        from pyspark.sql import functions as F

        got = tpch.execute(
            "CALL graph.embeddings('NEXT_CUST', 8, 1, 4) "
            "YIELD id, embedding ORDER BY id LIMIT 5").collect()
        edges = tpch.tables["NEXT_CUST"].select(
            F.col("from_Customer").alias("src"),
            F.col("to_Customer").alias("dst"))
        want = {r["id"]: list(r["embedding"])
                for r in node_embeddings(
                    edges, dim=8, n_walks=1, walk_length=4).collect()}
        for r in got:
            assert list(r["embedding"]) == want[r["id"]]


def test_walks_via_call(tpch):
    """CALL graph.walks rides the same deterministic generator."""
    from brahmand_spark.ops.walks import random_walks
    from pyspark.sql import functions as F

    got = tpch.execute(
        "CALL graph.walks('NEXT_CUST', 1, 4) "
        "YIELD walk_id, start, walk ORDER BY walk_id LIMIT 10").collect()
    edges = tpch.tables["NEXT_CUST"].select(
        F.col("from_Customer").alias("src"),
        F.col("to_Customer").alias("dst"))
    want = {r["walk_id"]: list(r["walk"])
            for r in random_walks(edges, n_walks=1,
                                  walk_length=4).collect()}
    for r in got:
        assert list(r["walk"]) == want[r["walk_id"]]
        assert r["walk"][0] == r["start"]


class TestNode2vecWalks:
    def _py_n2v(self, pairs, n_walks, walk_length, p, q, seed=42,
                max_degree=64, n_buckets=32):
        """Bit-exact replay of the integer micro-weight sampling."""
        adj: dict = {}
        verts = set()
        for u, v in pairs:
            verts.update((u, v))
            adj.setdefault(u, set()).add(v)
        ranked = {u: _rank_py(vs, n_buckets, max_degree)
                  for u, vs in adj.items()}
        # membership (the distance-1 weight test) uses the UNCAPPED
        # edge set, matching the operator (ADVICE r6)
        nbr = {u: set(vs) for u, vs in adj.items()}
        w_ret = round(1_000_000 / p)
        w_in = 1_000_000
        w_out = round(1_000_000 / q)
        out = {}
        for s in sorted(verts):
            for w in range(n_walks):
                wid = s * n_walks + w
                walk, cur, prev = [s], s, None
                for t in range(1, walk_length):
                    nb = ranked.get(cur)
                    if not nb:
                        break
                    h = _h60(f"n2v:{seed}:{wid}:{t}")
                    if t == 1:
                        nxt = nb[h % len(nb)]
                    else:
                        wts = [w_ret if v == prev
                               else (w_in if v in nbr.get(prev, set())
                                     else w_out) for v in nb]
                        r = h % sum(wts)
                        cum = 0
                        for v, wt in zip(nb, wts):
                            cum += wt
                            if r < cum:
                                nxt = v
                                break
                    walk.append(nxt)
                    prev, cur = cur, nxt
                out[wid] = (s, walk)
        return out

    def test_matches_python_replay(self, spark):
        from brahmand_spark.ops.walks import node2vec_walks

        for p, q in ((0.5, 2.0), (1.0, 1.0), (4.0, 0.25)):
            got = {r["walk_id"]: (r["start"], list(r["walk"]))
                   for r in node2vec_walks(
                       _edges_df(spark), n_walks=2, walk_length=6,
                       p=p, q=q).collect()}
            assert got == self._py_n2v(EDGES, 2, 6, p, q), (p, q)

    def test_membership_uses_uncapped_edges(self, spark):
        """A real prev->v edge pruned from the candidate sample by
        max_degree must still weigh w_in (=1), not w_out (=1/q): the
        membership frame comes from the UNCAPPED edge set (ADVICE
        r6). A dense hub (degree 6 > max_degree 2) exercises it."""
        from brahmand_spark.ops.walks import node2vec_walks

        pairs = ([(0, v) for v in range(1, 7)]       # hub 0 -> 1..6
                 + [(v, 0) for v in range(1, 7)]     # back edges
                 + [(v, (v % 6) + 1) for v in range(1, 7)])  # ring
        for p, q in ((0.5, 8.0), (4.0, 0.125)):
            got = {r["walk_id"]: (r["start"], list(r["walk"]))
                   for r in node2vec_walks(
                       _edges_df(spark, pairs), n_walks=2,
                       walk_length=6, p=p, q=q, max_degree=2,
                       n_buckets=4).collect()}
            assert got == self._py_n2v(pairs, 2, 6, p, q,
                                       max_degree=2, n_buckets=4), (p, q)

    def test_dead_end_terminates(self, spark):
        from brahmand_spark.ops.walks import node2vec_walks

        got = {r["walk_id"]: list(r["walk"])
               for r in node2vec_walks(
                   _edges_df(spark), n_walks=1, walk_length=5).collect()}
        assert got[5] == [5, 6]
        assert got[6] == [6]

    def test_deterministic_under_repartition(self, spark):
        from brahmand_spark.ops.walks import node2vec_walks

        a = sorted(map(str, node2vec_walks(
            _edges_df(spark), n_walks=2, walk_length=5,
            p=0.5, q=2.0).collect()))
        b = sorted(map(str, node2vec_walks(
            _edges_df(spark).repartition(7), n_walks=2, walk_length=5,
            p=0.5, q=2.0).collect()))
        assert a == b

    def test_low_p_backtracks_more(self, spark):
        """Statistical sanity: very low p (cheap returns) produces
        more immediate backtracks v[t+1] == v[t-1] than very high p
        on the same graph."""
        from brahmand_spark.ops.walks import node2vec_walks

        def backtracks(p):
            n = 0
            for r in node2vec_walks(
                    _edges_df(spark), n_walks=8, walk_length=8,
                    p=p, q=1.0, seed=7).collect():
                w = list(r["walk"])
                n += sum(1 for i in range(2, len(w))
                         if w[i] == w[i - 2])
            return n

        assert backtracks(0.05) > backtracks(20.0)

    def test_validation(self, spark):
        from brahmand_spark.ops.walks import node2vec_walks

        with pytest.raises(ValueError, match="p and q"):
            node2vec_walks(_edges_df(spark), p=0.0)
        with pytest.raises(ValueError, match="max_degree"):
            node2vec_walks(_edges_df(spark), max_degree=0)
        df = spark.createDataFrame([("a", "b")], "src string, dst string")
        with pytest.raises(TypeError, match="integral"):
            node2vec_walks(df)

    def test_via_call(self, tpch):
        from brahmand_spark.ops.walks import node2vec_walks
        from pyspark.sql import functions as F

        got = tpch.execute(
            "CALL graph.node2vec('NEXT_CUST', 1, 4, 0.5, 2.0) "
            "YIELD walk_id, start, walk ORDER BY walk_id LIMIT 8").collect()
        edges = tpch.tables["NEXT_CUST"].select(
            F.col("from_Customer").alias("src"),
            F.col("to_Customer").alias("dst"))
        want = {r["walk_id"]: list(r["walk"])
                for r in node2vec_walks(
                    edges, n_walks=1, walk_length=4,
                    p=0.5, q=2.0).collect()}
        for r in got:
            assert list(r["walk"]) == want[r["walk_id"]]


def test_node_embeddings_biased_corpus(spark):
    """p/q switch node_embeddings onto the node2vec corpus: the
    result differs from the uniform-walk embeddings but stays
    deterministic and unit-norm."""
    import math

    from brahmand_spark.ops.walks import node_embeddings

    df = _edges_df(spark)
    uni = {r["id"]: list(r["embedding"]) for r in node_embeddings(
        df, dim=8, n_walks=4, walk_length=6).collect()}
    biased = {r["id"]: list(r["embedding"]) for r in node_embeddings(
        df, dim=8, n_walks=4, walk_length=6, p=0.25, q=4.0).collect()}
    again = {r["id"]: list(r["embedding"]) for r in node_embeddings(
        df.repartition(5), dim=8, n_walks=4, walk_length=6,
        p=0.25, q=4.0).collect()}
    assert biased == again  # deterministic
    assert any(uni[k] != biased[k] for k in uni if k in biased)
    for vec in biased.values():
        nrm = math.sqrt(sum(x * x for x in vec))
        assert abs(nrm - 1.0) < 1e-9 or nrm == 0.0


def test_node2vec_extreme_pq_rejected(spark):
    """Weights that would round to zero (or overflow the cumulative
    sum) are rejected up front — a zero-total step would make walks
    silently vanish (r6 review)."""
    from brahmand_spark.ops.walks import node2vec_walks

    for bad_p, bad_q in ((3e6, 1.0), (1.0, 1e-9), (1e7, 1e7)):
        with pytest.raises(ValueError, match=r"1e-6, 1e6"):
            node2vec_walks(_edges_df(spark), p=bad_p, q=bad_q)
    # boundary values work and lose no walks
    out = node2vec_walks(_edges_df(spark), n_walks=1, walk_length=4,
                         p=1e6, q=1e-6)
    assert out.count() == 7
