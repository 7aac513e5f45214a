"""The four workloads as seeded streams of operations.

Every workload is a closed loop over *rounds*: a round is a short,
seeded list of operations. A timed run issues a fixed number of rounds,
set by ``--seconds`` through ``ROUNDS_PER_S`` and not by how fast the
host is, so every run measures the same count and mix of operations.
Each operation carries the SQL that checks it.

Traffic skew. Keys (customers, nations) are drawn from a Zipfian
distribution with constant 0.99, the request distribution of the YCSB
core workloads (Cooper et al., "Benchmarking Cloud Serving Systems with
YCSB", SoCC 2010). The non-key parameters (price and count thresholds)
come from a short fixed list per template, as in LDBC's parameter
curation (Gubichev and Boncz, "Parameter Curation for Benchmark
Queries", TPCTC 2014), so that repeated templates run with a few
comparable bindings. The share of repeated (text, params) pairs this
gives is a property of the stream; ``repeat_share`` prints it.
"""

from __future__ import annotations

import dataclasses
import json
from typing import Iterator, Optional

import numpy as np

# The analytic workload replays these gates from the repo's gate
# registry (``__spark_entry__._CYPHER``), checked by their DuckDB oracles.
ANALYTIC_GATES = (
    "multi_hop", "aggregates_five", "with_having", "call_rel_import",
    "shared_alias_patterns", "qpp_var_length", "shortest_path",
    "temporal_arithmetic",
)

# name -> (Cypher, checking SQL over DuckDB tables of the same parquet).
# No round(): the two engines round ties differently, so results are
# compared unrounded, with a tolerance.
READS = {
    "hop1": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp",
        "SELECT o_orderkey AS ok, o_totalprice AS tp FROM orders "
        "WHERE o_custkey = $k"),
    "hop3": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)"
        "-[:OF_PART]->(p:Part) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty",
        "SELECT o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty "
        "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = $k"),
    "nation_agg": (
        "MATCH (c:Customer)-[:CUST_IN]->(n:Nation) WHERE n.n_nationkey = $n "
        "RETURN n.n_name AS nation, count(*) AS customers, "
        "avg(c.c_acctbal) AS avg_bal",
        "SELECT n.n_name AS nation, count(*) AS customers, "
        "avg(c.c_acctbal) AS avg_bal FROM customer c "
        "JOIN nation n ON c.c_nationkey = n.n_nationkey "
        "WHERE n.n_nationkey = $n GROUP BY n.n_name"),
    "next_cust": (
        "MATCH (a:Customer)-[:NEXT_CUST*1..3]->(b:Customer) "
        "WHERE a.c_custkey = $k RETURN b.c_custkey AS dst",
        "SELECT c_custkey AS dst FROM customer "
        "WHERE c_custkey BETWEEN $k + 1 AND $k + 3"),
    "optional": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k "
        "OPTIONAL MATCH (c)-[:PLACED]->(o:Order) WHERE o.o_totalprice > $p "
        "RETURN c.c_name AS name, count(o) AS n_big",
        "SELECT c.c_name AS name, count(o.o_orderkey) AS n_big "
        "FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey "
        "AND o.o_totalprice > $p WHERE c.c_custkey = $k GROUP BY c.c_name"),
    "with_agg": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_nationkey = $n "
        "WITH c.c_custkey AS ck, count(*) AS n, sum(o.o_totalprice) AS tot "
        "WHERE n >= $m RETURN ck, n, tot",
        "SELECT c.c_custkey AS ck, count(*) AS n, "
        "sum(o.o_totalprice) AS tot FROM customer c "
        "JOIN orders o ON o.o_custkey = c.c_custkey "
        "WHERE c.c_nationkey = $n GROUP BY c.c_custkey "
        "HAVING count(*) >= $m"),
    # mixed_rw only: point reads that observe the writes
    "cust_point": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k "
        "RETURN c.c_name AS name, c.c_acctbal AS bal",
        "SELECT c_name AS name, c_acctbal AS bal FROM customer "
        "WHERE c_custkey = $k"),
    "order_point": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.o_orderkey = $ok "
        "RETURN c.c_custkey AS ck, o.o_totalprice AS tp",
        "SELECT o_custkey AS ck, o_totalprice AS tp FROM orders "
        "WHERE o_orderkey = $ok"),
}
SERVE_TEMPLATES = ("hop1", "hop3", "nation_agg", "next_cust", "optional",
                   "with_agg")

# name -> (Cypher, DuckDB statement applying it to the replica,
#          the write-stats counter that must read 1)
WRITES = {
    "set_cust": (
        "MATCH (c:Customer) WHERE c.c_custkey = $k SET c.c_acctbal = $v",
        "UPDATE customer SET c_acctbal = $v WHERE c_custkey = $k",
        "properties_set"),
    "new_order": (
        "CREATE (o:Order {o_orderkey: $ok, o_custkey: $k, "
        "o_orderstatus: 'O', o_totalprice: $tp, "
        "o_orderpriority: '1-URGENT'})",
        "INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, "
        "o_totalprice, o_orderpriority) VALUES ($ok, $k, 'O', $tp, "
        "'1-URGENT')",
        "nodes_created"),
    "set_order": (
        "MATCH (o:Order) WHERE o.o_orderkey = $ok SET o.o_totalprice = $tp",
        "UPDATE orders SET o_totalprice = $tp WHERE o_orderkey = $ok",
        "properties_set"),
}

# name -> Cypher; sources and query terms are drawn per call, and the
# superstep bounds are parameters so the warm-up can run fewer of them
CALLS = {
    "pagerank": "CALL graph.pagerank('LINK', $iters) YIELD id, rank",
    "wcc": "CALL graph.wcc('LINK') YIELD id, component",
    "lpa": "CALL graph.lpa('LINK', $iters) YIELD id, community",
    "bfs": "CALL graph.bfs('LINK', $src, $iters) YIELD id, distance",
    "kcore": "CALL graph.kcore('LINK', 3) YIELD id, degree",
    "sssp": "CALL graph.sssp('LINK', 'w', $src, $iters) YIELD id, dist",
    "bm25": "CALL corpus.bm25('Document', $q, 10) YIELD doc_id, bm25, rank",
}
# superstep bounds of the timed calls, kept low: per-call set-up, not the
# supersteps, dominates (1.5-2.5 s per call on a 4-core host, as for wcc
# and kcore, which run to convergence)
CALL_ITERS = {"pagerank": 2, "lpa": 2, "bfs": 3, "sssp": 3}
# Timed rounds per second of ``--seconds``, somewhat below what a quiet
# 4-core host completes at the default scale; a run issues
# round(seconds * rate) rounds, at least one. Per 20 s: 18 serve_point
# rounds (108 reads), one analytic and one procedures round, seven
# mixed_rw rounds (38 ops: 7 writes, 28 reads, 3 pagerank calls).
ROUNDS_PER_S = {"serve_point": 0.9, "analytic": 0.05,
                "procedures": 0.05, "mixed_rw": 0.35}
ZIPF_S = 0.99
BM25_TERMS = ("spark join vector table scan query hash graph shuffle cache "
              "plan stage").split()


@dataclasses.dataclass(frozen=True)
class Op:
    kind: str            # "read" | "write" | "call"
    name: str            # template / gate / procedure name
    query: str
    params: Optional[dict] = None

    def key(self) -> tuple:
        return (self.query, json.dumps(self.params, sort_keys=True))


class _Keys:
    """Zipf-skewed draws over a seeded permutation of [0, n): a few hot
    keys repeat often, so some (text, params) pairs recur."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        self.perm = rng.permutation(n)
        w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def draw(self) -> int:
        i = int(np.searchsorted(self.cdf, self.rng.random()))
        return int(self.perm[min(i, len(self.perm) - 1)])


class Workload:
    """Seeded op stream for one workload over data of the given sizes."""

    CLIENTS = {"serve_point": 4, "analytic": 1, "procedures": 1,
               "mixed_rw": 4}

    def __init__(self, name: str, seed: int, sizes: dict, cpus: int):
        if name not in self.CLIENTS:
            raise ValueError(f"unknown workload {name!r}")
        self.name = name
        self.clients = min(self.CLIENTS[name], cpus)
        self.rng = np.random.default_rng([seed, 1])
        self.sizes = sizes
        self.cust = _Keys(self.rng, sizes["customer"])
        self.nation = _Keys(self.rng, 25)
        self.next_order = sizes["orders"] + 1_000
        self.last_write: Optional[tuple] = None
        self._n_rounds = 0
        self._stream = self._rounds()
        self._gates = None

    # -- reads ------------------------------------------------------------
    def read(self, name: str, **params) -> Op:
        return Op("read", name, READS[name][0], params)

    def serve_read(self, name: str) -> Op:
        r = self.rng
        if name in ("hop1", "hop3", "next_cust"):
            return self.read(name, k=self.cust.draw())
        if name == "optional":
            return self.read(name, k=self.cust.draw(),
                             p=int(r.choice([100_000, 250_000, 400_000])))
        if name == "with_agg":
            return self.read(name, n=self.nation.draw(),
                             m=int(r.choice([10, 12, 14])))
        return self.read(name, n=self.nation.draw())

    # -- rounds -----------------------------------------------------------
    def rounds(self) -> Iterator[list[Op]]:
        return self._stream

    def timed_rounds(self, seconds: float) -> list[list[Op]]:
        """The rounds a timed run of ``seconds`` issues (after warm-up)."""
        n = max(1, round(seconds * ROUNDS_PER_S[self.name]))
        return [next(self._stream) for _ in range(n)]

    def _rounds(self) -> Iterator[list[Op]]:
        while True:
            yield getattr(self, f"_round_{self.name}")()

    def _shuffled(self, ops: list[Op]) -> list[Op]:
        return [ops[i] for i in self.rng.permutation(len(ops))]

    def _round_serve_point(self) -> list[Op]:
        return self._shuffled([self.serve_read(t) for t in SERVE_TEMPLATES])

    def _round_analytic(self) -> list[Op]:
        if self._gates is None:
            import __spark_entry__ as gates

            self._gates = gates._CYPHER
        return self._shuffled([Op("read", g, self._gates[g])
                               for g in ANALYTIC_GATES])

    def _round_procedures(self, warm: bool = False) -> list[Op]:
        ops = []
        for name, q in CALLS.items():
            params = {}
            if name in ("bfs", "sssp"):
                # several sources keep the reached set (and the work)
                # about the same from seed to seed
                params["src"] = sorted(int(v) for v in self.rng.choice(
                    self.sizes["vertices"], 8, replace=False))
            elif name == "bm25":
                params["q"] = " ".join(self.rng.choice(
                    BM25_TERMS, 3, replace=False))
            if name in CALL_ITERS:
                params["iters"] = 1 if warm else CALL_ITERS[name]
            ops.append(Op("call", name, q, params or None))
        return self._shuffled(ops)

    def _round_mixed_rw(self) -> list[Op]:
        """One write, then four reads: one of the key it wrote, two
        nation aggregates (which scan the rewritten Customer table) and
        a customer point read. Write kinds cycle, so every three rounds
        hold the same mix; the first round of each cycle after the
        warm-up one also calls ``graph.pagerank``, whose superstep loop
        keeps the procedure and superstep layers in this workload (a
        fixed superstep count keeps its work the same from seed to
        seed). The clients run the reads of a round concurrently; each
        write and call runs alone (``run.phases``)."""
        i = self._n_rounds % 3
        self._n_rounds += 1
        write = self._write(list(WRITES)[i])
        name, params = self.last_write
        ops = [write, self.read(name, **params),
               self.serve_read("nation_agg"),
               self.read("cust_point", k=self.cust.draw()),
               self.serve_read("nation_agg")]
        if i == 1:
            ops.append(self._pagerank())
        return ops

    def _pagerank(self) -> Op:
        return Op("call", "pagerank", CALLS["pagerank"],
                  {"iters": CALL_ITERS["pagerank"]})

    def _write(self, kind: str) -> Op:
        r = self.rng
        if kind == "set_cust":
            params = {"k": self.cust.draw(),
                      "v": round(float(r.uniform(-999, 9999)), 2)}
            self.last_write = ("cust_point", {"k": params["k"]})
        elif kind == "new_order":
            params = {"ok": self.next_order, "k": self.cust.draw(),
                      "tp": round(float(r.uniform(900, 450000)), 2)}
            self.next_order += 1
            self.last_write = ("hop1", {"k": params["k"]})
        else:
            params = {"ok": int(r.integers(0, self.sizes["orders"])),
                      "tp": round(float(r.uniform(900, 450000)), 2)}
            self.last_write = ("order_point", {"ok": params["ok"]})
        return Op("write", kind, WRITES[kind][0], params)

    def warmup(self) -> list[list[Op]]:
        """Rounds run before timing starts (part of set-up). The
        procedures warm up on one superstep per loop; ``mixed_rw`` on one
        round (one write) plus the reads that only follow the other write
        kinds and the pagerank call, so every template has run once."""
        if self.name == "procedures":
            return [self._round_procedures(warm=True)]
        if self.name == "mixed_rw":
            return [next(self._stream), [
                self.serve_read("hop1"),
                self.read("order_point", ok=int(
                    self.rng.integers(0, self.sizes["orders"]))),
                self._pagerank()]]
        n = {"serve_point": 3, "analytic": 1}[self.name]
        return [next(self._stream) for _ in range(n)]
