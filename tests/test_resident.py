"""Resident tables (brahmand_spark/resident.py): a served read pins each
registered table in Spark storage once per table version, and every
later read of that version scans the held frame."""

import pytest

from .conftest import SF_SMOKE
from .helpers import count_jobs

POINT = ("MATCH (c:Customer) WHERE c.c_custkey = $k "
         "RETURN c.c_acctbal AS b")


@pytest.fixture
def fresh(spark):
    """A TPC-H session no read has touched yet."""
    from brahmand_spark.graphs.tpch import build_session

    s = build_session(spark, SF_SMOKE)
    s.allow_writes = True
    return s


def _read(s, cypher, **params):
    df = s.execute(cypher, params=params)
    return [tuple(r) for r in df.collect()], df


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_second_read_runs_no_pin_and_no_parquet_scan(spark, fresh):
    (first, _), n_first = count_jobs(spark, lambda: _read(fresh, POINT, k=1))
    held = fresh._held["Customer"]
    assert held.base is fresh.tables["Customer"]
    assert held.frame is not held.base  # pinned
    (second, df), n_second = count_jobs(
        spark, lambda: _read(fresh, POINT, k=2))
    assert fresh._held["Customer"] is held
    # the first read also ran the pin; the second only its collect
    assert n_first == n_second + 1
    assert "FileScan parquet" not in _plan(df)
    assert "Scan ExistingRDD" in _plan(df)
    assert len(first) == len(second) == 1


def test_read_after_write_does_not_pin_the_commit(spark, fresh):
    _read(fresh, POINT, k=1)
    fresh.execute("MATCH (c:Customer {c_custkey: 1}) "
                  "SET c.c_acctbal = 12.5").collect()
    commit = fresh.tables["Customer"]
    held = fresh._held["Customer"]
    assert held.base is commit and held.frame is commit
    (rows, _), n = count_jobs(spark, lambda: _read(fresh, POINT, k=1))
    assert rows == [(12.5,)]
    assert n == 1  # the collect; no second checkpoint of the commit
    assert fresh._held["Customer"] is held


def test_write_pins_no_table_it_reads(fresh):
    """A write reads a table it misses as it is: Order, read by the
    MATCH, stays unpinned, and Customer holds only the commit."""
    fresh.execute("MATCH (c:Customer)-[:PLACED]->(o:Order) "
                  "WHERE c.c_custkey = 1 AND o.o_orderkey > 0 "
                  "SET c.c_acctbal = 12.5").collect()
    assert set(fresh._held) == {"Customer"}
    held = fresh._held["Customer"]
    assert held.base is held.frame is fresh.tables["Customer"]


def test_first_read_does_not_wait_for_a_write(fresh):
    """A pin runs under its own lock: a first read completes while
    another thread holds the write lock."""
    import threading

    taken, release = threading.Event(), threading.Event()

    def writer():
        with fresh._write_lock:
            taken.set()
            release.wait(120)

    w = threading.Thread(target=writer)
    w.start()
    try:
        assert taken.wait(60)
        done = []
        r = threading.Thread(
            target=lambda: done.append(_read(fresh, POINT, k=1)[0]))
        r.start()
        r.join(timeout=120)
        assert not r.is_alive() and len(done[0]) == 1
        assert fresh._held["Customer"].frame is not fresh.tables["Customer"]
    finally:
        release.set()
        w.join()


def test_register_table_pins_the_new_frame(spark, fresh):
    _read(fresh, POINT, k=1)
    old = fresh._held["Customer"]
    cust = fresh.tables["Customer"].filter("c_custkey <> 1")
    fresh.register_table("Customer", cust)
    assert "Customer" not in fresh._held
    (rows, _), n = count_jobs(spark, lambda: _read(fresh, POINT, k=1))
    assert rows == []
    held = fresh._held["Customer"]
    assert held is not old and held.base is cust
    assert held.frame is not cust and n == 2  # pin + collect


def test_rolled_back_batch_pins_the_restored_frame(spark, fresh,
                                                   monkeypatch):
    """The only batch commits and then fails; its rollback restores
    the parquet-backed frame, and the next read pins that again."""
    from brahmand_spark import writes

    (before, _) = _read(fresh, POINT, k=1)
    base = fresh.tables["Customer"]
    real = writes.apply_write

    def fails_after_commit(*a, **k):
        real(*a, **k)
        raise RuntimeError("batch failed after its commit")

    monkeypatch.setattr(writes, "apply_write", fails_after_commit)
    out = fresh.execute(
        "MATCH (c:Customer) WHERE c.c_custkey = 1 "
        "CALL { WITH c SET c.c_acctbal = 0 } "
        "IN TRANSACTIONS OF 1 ROWS ON ERROR CONTINUE").collect()
    monkeypatch.undo()
    assert [r["committed"] for r in out] == [False]
    assert fresh.tables["Customer"] is base
    assert fresh._held["Customer"].base is not base  # the failed commit
    (rows, _), n = count_jobs(spark, lambda: _read(fresh, POINT, k=1))
    assert rows == before
    held = fresh._held["Customer"]
    assert held.base is base and held.frame is not base
    assert n == 2  # pin + collect


def test_table_larger_than_storage_keeps_its_scan(spark):
    """A 10^12-row table does not fit the free storage memory: it is
    held unpinned, so a LIMIT read returns at once."""
    from brahmand_spark import GraphSession
    from brahmand_spark.catalog import NodeSchema

    s = GraphSession(spark)
    s.schema.add_node(NodeSchema(
        label="Big", table_name="Big", node_id="id",
        column_names=["id"], primary_keys=["id"]))
    big = spark.range(0, 10**12)
    s.register_table("Big", big)
    rows, n = count_jobs(spark, lambda: s.execute(
        "MATCH (n:Big) RETURN n.id AS id LIMIT 5").collect())
    assert len(rows) == 5
    held = s._held["Big"]
    assert held.base is big and held.frame is big
    assert n <= 2


def test_reads_do_not_change_the_registry(fresh):
    before = dict(fresh.tables)
    _read(fresh, "MATCH (c:Customer)-[:PLACED]->(o:Order) "
                 "WHERE c.c_custkey = $k RETURN o.o_orderkey", k=1)
    assert set(fresh.tables) == set(before)
    assert all(fresh.tables[n] is df for n, df in before.items())


def test_concurrent_first_reads_pin_once(spark, fresh):
    """More reader threads than cores race on a table no read has
    touched: every one gets the same held entry, so the table was
    pinned once, and every answer is the same."""
    import sys
    import threading

    results, entries = [], []

    def reader():
        rows, _ = _read(fresh, POINT, k=3)
        results.append(rows)
        entries.append(fresh._held["Customer"])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert len(results) == 8 and all(r == results[0] for r in results)
    assert all(e is entries[0] for e in entries)
    assert entries[0].base is fresh.tables["Customer"]
