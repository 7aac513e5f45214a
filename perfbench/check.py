"""Independent result checks, run after the timed window.

Reads are checked against DuckDB SQL over the same parquet: the
per-template SQL in ``workloads.READS`` and, for the analytic gates, the
repo's gate oracles (``__spark_entry__._CYPHER_ORACLES``). Writes are
applied, in the order the server acknowledged them, to a DuckDB copy of
the tables, so each later read is checked against the state it should
see. The graph procedures are replayed with NumPy and ``corpus.bm25``
is recomputed in Python.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import workloads

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events")


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.isoformat()
    if isinstance(v, dt.date):  # DuckDB truncates timestamps to dates
        return dt.datetime.combine(v, dt.time()).isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, np.generic):
        return v.item()
    return v


def _close(a, b) -> bool:
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    return a == b


def _sort_key(row: dict, cols: list[str]) -> tuple:
    key = []
    for c in cols:
        v = row[c]
        if v is None:
            key.append((2, 0))
        elif isinstance(v, (int, float)):
            key.append((0, round(v, 3)))
        else:
            key.append((1, str(v)))
    return tuple(key)


def same_rows(got: list[dict], want: list[dict]) -> bool:
    """Multiset equality of rows, floats compared with a tolerance."""
    if len(got) != len(want):
        return False
    if not want:
        return True
    cols = sorted(want[0])
    if any(sorted(r) != cols for r in got):
        return False
    g = sorted(got, key=lambda r: _sort_key(r, cols))
    w = sorted(want, key=lambda r: _sort_key(r, cols))
    return all(_close(a[c], b[c]) for a, b in zip(g, w) for c in cols)


class Checker:
    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE TABLE {t} AS SELECT * FROM "
                f"'{os.path.join(data_dir, t + '.parquet')}'")
        self._oracles = None
        self._graph = None
        self._docs = None
        self._cache: dict = {}
        self._mutated = False

    def sql(self, query: str, params: dict | None = None) -> list[dict]:
        cur = self.con.execute(query, params or {})
        cols = [d[0] for d in cur.description]
        return [{c: _norm(v) for c, v in zip(cols, row)}
                for row in cur.fetchall()]

    # -- reads and writes ---------------------------------------------------
    def expected_read(self, op) -> list[dict]:
        if op.name in workloads.READS:
            return self.sql(workloads.READS[op.name][1], op.params)
        if self._oracles is None:
            import __spark_entry__ as gates

            self._oracles = gates._CYPHER_ORACLES
        return self.sql(self._oracles[op.name])

    def apply_write(self, op, rows: list[dict]) -> bool:
        """Check the write's stats row; apply the write to the replica."""
        _, stmt, counter = workloads.WRITES[op.name]
        if len(rows) != 1 or rows[0].get(counter) != 1:
            return False
        self.con.execute(stmt, op.params)
        self._mutated = True
        return True

    def check(self, op, rows: list[dict]) -> bool:
        """True when ``rows`` is the correct answer to ``op``. Ops must be
        checked in the order the server completed them."""
        if op.kind == "write":
            return self.apply_write(op, rows)
        if op.kind == "call":
            return self.check_call(op, rows)
        if self._mutated:
            return same_rows(rows, self.expected_read(op))
        # reads of unchanged data repeat: cache their expected rows
        key = op.key()
        if key not in self._cache:
            self._cache[key] = self.expected_read(op)
        return same_rows(rows, self._cache[key])

    # -- procedures ---------------------------------------------------------
    def _edges(self):
        if self._graph is None:
            t = pq.read_table(os.path.join(self.data_dir, "link.parquet"))
            self._graph = tuple(t[c].to_numpy() for c in ("src", "dst", "w"))
        return self._graph

    def check_call(self, op, rows: list[dict]) -> bool:
        key = op.key()
        if key not in self._cache:
            self._cache[key] = getattr(self, f"_want_{op.name}")(
                **(op.params or {}))
        return same_rows(rows, self._cache[key])

    def _want_pagerank(self, iters, d=0.85):
        src, dst, _ = self._edges()
        ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s, t = inv[:len(src)], inv[len(src):]
        n = len(ids)
        out = np.bincount(s, minlength=n).astype(np.float64)
        rank = np.ones(n)
        for _ in range(iters):
            recv = np.bincount(t, weights=rank[s] / out[s], minlength=n)
            dangling = rank[out == 0].sum()
            rank = (1.0 - d) + d * (recv + dangling / n)
        return [{"id": int(i), "rank": float(r)} for i, r in zip(ids, rank)]

    def _sym(self):
        src, dst, _ = self._edges()
        a = np.concatenate([src, dst])
        b = np.concatenate([dst, src])
        pairs = np.unique(np.stack([a, b], axis=1), axis=0)
        return pairs[:, 0], pairs[:, 1]

    def _want_wcc(self, max_iterations=20):
        a, b = self._sym()
        ids = np.unique(a)
        idx = {int(v): i for i, v in enumerate(ids)}
        ai = np.array([idx[int(v)] for v in a])
        bi = np.array([idx[int(v)] for v in b])
        comp = ids.copy()
        for _ in range(max_iterations):
            nbr = comp.copy()
            np.minimum.at(nbr, bi, comp[ai])
            if np.array_equal(nbr, comp):
                break
            comp = nbr
        return [{"id": int(i), "component": int(c)} for i, c in zip(ids, comp)]

    def _want_lpa(self, iters):
        a, b = self._sym()
        ids = np.unique(a)
        pos = np.searchsorted(ids, a), np.searchsorted(ids, b)
        label = ids.copy()
        for _ in range(iters):
            votes = np.stack([pos[1], label[pos[0]]], axis=1)
            uniq, cnt = np.unique(votes, axis=0, return_counts=True)
            # per vertex: most votes, then smallest label
            order = np.lexsort((uniq[:, 1], -cnt, uniq[:, 0]))
            uniq = uniq[order]
            first = np.ones(len(uniq), bool)
            first[1:] = uniq[1:, 0] != uniq[:-1, 0]
            new = label.copy()
            new[uniq[first, 0]] = uniq[first, 1]
            if np.array_equal(new, label):
                break
            label = new
        return [{"id": int(i), "community": int(c)}
                for i, c in zip(ids, label)]

    def _adjacency(self):
        src, dst, w = self._edges()
        adj: dict[int, list] = {}
        for s, t, x in zip(src.tolist(), dst.tolist(), w.tolist()):
            adj.setdefault(s, []).append((t, x))
        return adj

    def _want_bfs(self, src, iters):
        adj = self._adjacency()
        dist = {s: 0 for s in src}
        frontier = list(dist)
        for hop in range(1, iters + 1):
            nxt = {t for u in frontier for t, _ in adj.get(u, ())
                   if t not in dist}
            if not nxt:
                break
            for t in nxt:
                dist[t] = hop
            frontier = nxt
        return [{"id": k, "distance": v} for k, v in dist.items()]

    def _want_sssp(self, src, iters):
        adj = self._adjacency()
        dist = {s: 0 for s in src}
        frontier = set(dist)
        for _ in range(iters):
            cand: dict[int, int] = {}
            for u in frontier:
                for t, x in adj.get(u, ()):
                    c = dist[u] + x
                    if c < cand.get(t, c + 1):
                        cand[t] = c
            improved = {t for t, c in cand.items()
                        if t not in dist or c < dist[t]}
            for t in improved:
                dist[t] = cand[t]
            if not improved:
                break
            frontier = improved
        return [{"id": k, "dist": v} for k, v in dist.items()]

    def _want_kcore(self, k=3, max_iterations=30):
        a, b = self._sym()
        keep_rows = a != b
        a, b = a[keep_rows], b[keep_rows]
        for _ in range(max_iterations):
            ids, deg = np.unique(a, return_counts=True)
            keep = ids[deg >= k]
            m = np.isin(a, keep) & np.isin(b, keep)
            if m.all():
                break
            a, b = a[m], b[m]
        ids, deg = np.unique(a, return_counts=True)
        return [{"id": int(i), "degree": int(d)}
                for i, d in zip(ids, deg) if d >= k]

    def _documents(self):
        if self._docs is None:
            t = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
            self._docs = list(zip(t["doc_id"].to_pylist(),
                                  t["text"].to_pylist()))
        return self._docs

    def _want_bm25(self, q, k=10, k1=1.2, b=0.75):
        terms = sorted({t.lower() for t in q.split()})
        docs = [(i, [x for x in re.split(r"\s+", text.lower()) if x])
                for i, text in self._documents()]
        n_docs = len(docs)
        avgdl = float(sum(len(t) for _, t in docs)) / n_docs
        tf = {i: {t: toks.count(t) for t in terms if t in toks}
              for i, toks in docs}
        dft = {t: sum(1 for i in tf if t in tf[i]) for t in terms}
        dl = {i: len(toks) for i, toks in docs}
        scores = []
        for i, hits in tf.items():
            if not hits:
                continue
            s = 0
            for t, f in hits.items():
                idf = math.log(1.0 + (n_docs - dft[t] + 0.5) / (dft[t] + 0.5))
                denom = f + k1 * ((1.0 - b) + b * dl[i] / avgdl)
                s += math.floor(idf * (f * (k1 + 1.0)) / denom * 1e6)
            scores.append((-s, i, len(hits)))
        scores.sort()
        # Spark rounds the double's shortest decimal form half-up
        return [{"doc_id": i, "rank": r + 1, "bm25": float(
                    decimal.Decimal(repr(-s / 1e6)).quantize(
                        decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP))}
                for r, (s, i, _) in enumerate(scores[:k])]
