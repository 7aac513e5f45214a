"""Seeded input generation: a TPC-H-shaped property graph plus a
degree-skewed edge table for the graph procedures.

The same (seed, scale) always writes byte-identical parquet. Scale 1.0
has the row counts of the TPC-H sf0.01 tables (1,500 customers, 15,000
orders, ~60,000 line items); sizes grow linearly with ``scale``.
Customer and order keys are contiguous from 0, which the per-template
SQL checks rely on (``NEXT_CUST`` links key k to k + 1).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("spark join vector table scan query row column hash key value "
         "batch stream window merge sort group filter agg order part line "
         "customer data fast slow big small index graph node edge path "
         "shuffle cache plan stage task").split()
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "green", "steel"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "spring"]
EVENT_TYPES = ["click", "view", "error", "purchase"]
EMB_DIM = 16


def sizes(scale: float) -> dict[str, int]:
    def n(base: int) -> int:
        return max(20, int(round(base * scale)))

    return {
        "customer": n(1500), "supplier": n(100), "part": n(2000),
        "orders": n(15000), "events": n(10000), "documents": n(500),
        "embeddings": n(500), "vertices": n(3000), "edges": n(12000),
    }


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    micros = int(base.timestamp() * 1e6) + seconds.astype(np.int64) * 1_000_000
    return pa.array(micros, type=pa.timestamp("us"))


def generate(out: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write every table under ``out``; returns the row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    epoch = dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc)

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc = sz["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })

    ns = sz["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })

    npart = sz["part"]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(PART_ADJ), npart),
            rng.integers(0, len(PART_NOUN), npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [["LARGE", "SMALL", "ECONOMY", "PROMO"][i]
                   for i in rng.integers(0, 4, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, npart), 2),
    })

    no = sz["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [["O", "F", "P"][i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900, 450000, no), 2),
        "o_orderdate": _ts(epoch, rng.integers(0, 2400, no) * 86400),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okeys = np.repeat(np.arange(no), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [["O", "F"][i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(epoch, rng.integers(0, 2500, nl) * 86400),
    })

    ne = sz["events"]
    jan = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    secs = np.sort(rng.integers(0, 28 * 86400, ne))
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(jan, secs),
        "user_id": pa.array(rng.integers(0, max(10, ne // 60), ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 4, ne)],
        "value": np.round(rng.uniform(0, 20, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })

    nd = sz["documents"]
    texts = [" ".join(WORDS[j] for j in rng.integers(
        0, len(WORDS), int(rng.integers(20, 60)))) for _ in range(nd)]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": ["en"] * nd,
        "source": [f"src{i % 7}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = sz["embeddings"]
    emb = rng.standard_normal((nv, EMB_DIM)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 8, nv), pa.int32()),
    })

    # Degree-skewed directed graph: destinations follow a Zipf-like
    # popularity over a seeded permutation of the vertices, sources are
    # uniform. A ring over all vertices keeps the graph connected so the
    # traversal procedures reach every vertex in a few hops.
    nvert, nedge = sz["vertices"], sz["edges"]
    perm = rng.permutation(nvert)
    pop = 1.0 / np.arange(1, nvert + 1) ** 0.9
    pop /= pop.sum()
    src = rng.integers(0, nvert, nedge)
    dst = perm[rng.choice(nvert, nedge, p=pop)]
    src = np.concatenate([src, perm])
    dst = np.concatenate([dst, np.roll(perm, -1)])
    keep = src != dst
    src, dst = src[keep], dst[keep]
    _write(out, "link_vertex", {"v_id": pa.array(np.arange(nvert), pa.int64())})
    _write(out, "link", {
        "src": pa.array(src, pa.int64()),
        "dst": pa.array(dst, pa.int64()),
        "w": pa.array(rng.integers(1, 10, len(src)), pa.int64()),
    })
    counts = dict(sz)
    counts["lineitem"] = nl
    counts["edges"] = int(len(src))
    return counts
