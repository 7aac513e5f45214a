"""Server parity tests: POST /query over a real socket, all output
formats (reference: server/handlers.rs + models.rs:20-27)."""

import json
import re
import threading
import time
import urllib.request

import pytest


@pytest.fixture(scope="module")
def server(tpch):
    from brahmand_spark.server import serve

    httpd = serve(tpch, port=0)  # ephemeral port
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{httpd.server_address[1]}"
    httpd.shutdown()


def post(url, body):
    req = urllib.request.Request(
        f"{url}/query", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


class TestServer:
    def test_json_each_row(self, server):
        status, body = post(server, {
            "query": "MATCH (r:Region) RETURN r.r_name AS name ORDER BY name",
            "format": "JSONEachRow",
        })
        assert status == 200
        lines = [json.loads(x) for x in body.strip().splitlines()]
        assert {"name": "ASIA"} in lines
        assert len(lines) == 5

    def test_pretty_has_elapsed(self, server):
        status, body = post(server, {
            "query": "MATCH (r:Region) RETURN count(*) AS n",
            "format": "PrettyCompact",
        })
        assert status == 200
        assert "Elapsed:" in body
        assert "| n" in body or "| 5" in body

    def test_csv_with_names(self, server):
        status, body = post(server, {
            "query": "MATCH (r:Region) RETURN r.r_name AS name ORDER BY name LIMIT 2",
            "format": "CSVWithNames",
        })
        assert status == 200
        assert body.splitlines()[0] == "name"

    def test_parse_error_400(self, server):
        status, body = post(server, {"query": "MATCH (r:Region RETURN 1"})
        assert status == 400
        assert "error" in json.loads(body)

    def test_unknown_format_400(self, server):
        status, _ = post(server, {
            "query": "MATCH (r:Region) RETURN 1 AS x", "format": "XML",
        })
        assert status == 400

    def test_write_query_rejected(self, server):
        status, body = post(server, {
            "query": "MATCH (r:Region) SET r.r_name = 'x'",
        })
        assert status == 400
        assert "not executable" in json.loads(body)["error"]

    def test_params(self, server):
        status, body = post(server, {
            "query": "MATCH (r:Region) WHERE r.r_name = $name RETURN count(*) AS n",
            "params": {"name": "ASIA"},
        })
        assert status == 200
        assert json.loads(body.strip()) == {"n": 1}

    def test_explain_statement(self, server):
        status, body = post(server, {
            "query": ("EXPLAIN MATCH (c:Customer)-[:PLACED]->(o:Order) "
                      "RETURN c.c_name AS n, count(*) AS cnt"),
        })
        assert status == 200
        row = json.loads(body.strip().splitlines()[0])
        assert "Physical Plan" in row["plan"]

    def test_profile_statement(self, server):
        status, body = post(server, {
            "query": "PROFILE MATCH (r:Region) RETURN count(*) AS n",
        })
        assert status == 200
        row = json.loads(body.strip().splitlines()[0])
        assert row["rows"] == 1
        assert row["python_stages"] == 0
        assert row["elapsed_s"] >= 0
        assert row["final_plan"] is True
        # the counters come from the plan that ran (AQE's final plan),
        # counted once: its "Initial Plan" section is not added in
        status, body = post(server, {
            "query": "PROFILE MATCH (c:Customer)-[:PLACED]->(o:Order) "
                     "RETURN c.c_name AS n, count(*) AS cnt",
        })
        assert status == 200
        row = json.loads(body.strip().splitlines()[0])
        assert row["final_plan"] is True
        assert row["rows"] > 1
        assert row["shuffle_exchanges"] == 1


def test_jsoneachrow_serializes_structs_as_objects(tpch):
    """Map-projection / properties() results must land as JSON
    OBJECTS with field names, not field-nameless arrays (r7)."""
    import json as _json

    from brahmand_spark.server import format_rows

    df = tpch.execute(
        "MATCH (n:Nation) WHERE n.n_nationkey = 1 "
        "RETURN n {.n_name, .n_regionkey} AS m, keys(n) AS k")
    out = "".join(format_rows(df.columns, iter(df.collect()),
                              "JSONEachRow", 0.0))
    rec = _json.loads(out.strip())
    assert rec["m"] == {"n_name": "NATION_1", "n_regionkey": 1}
    assert rec["k"] == ["n_nationkey", "n_name", "n_regionkey"]


def _serving(session):
    from brahmand_spark.server import serve

    httpd = serve(session, port=0)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    return httpd, f"http://127.0.0.1:{httpd.server_address[1]}"


def test_elapsed_covers_the_pull():
    """``Elapsed`` is taken after the rows are pulled, so a statement
    whose execution takes 0.3 s reports at least that."""
    from pyspark.sql import Row

    class SlowFrame:
        columns = ["x"]

        def collect(self):
            time.sleep(0.3)
            return [Row(x=1)]

        def toLocalIterator(self):
            time.sleep(0.3)
            yield Row(x=1)

    class StubSession:
        def execute(self, query, params=None):
            return SlowFrame()

    httpd, url = _serving(StubSession())
    try:
        status, body = post(url, {"query": "RETURN 1 AS x",
                                  "format": "PrettyCompact"})
    finally:
        httpd.shutdown()
    assert status == 200
    elapsed = float(re.search(r"Elapsed: ([0-9.]+) sec", body).group(1))
    assert elapsed >= 0.3


def test_one_spark_job_per_statement(spark):
    """The server pulls a result in one Spark action: a read over a
    table registered with 8 partitions launches as many jobs as over
    the same table in 1 partition."""
    from brahmand_spark import GraphSession

    s = GraphSession(spark)
    s.execute("CREATE NODE TABLE P (p_id Int64, NODE ID (p_id))")
    sc = spark.sparkContext
    httpd, url = _serving(s)

    def jobs(parts: int) -> int:
        s.register_table("P", spark.range(0, 64, 1, parts).toDF("p_id"))
        before = set(sc.statusTracker().getJobIdsForGroup())
        status, body = post(url, {"query": "MATCH (p:P) RETURN p.p_id AS id"})
        assert status == 200
        assert len(body.splitlines()) == 64
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(set(sc.statusTracker().getJobIdsForGroup()) - before)

    try:
        one, eight = jobs(1), jobs(8)
    finally:
        httpd.shutdown()
    assert one >= 1  # the jobs were seen at all
    assert eight == one


def test_malformed_requests_rejected_before_running():
    """A request is validated before its body is read or its query
    run: a bad Content-Length, a body over the size cap, non-JSON, a
    non-object body and mistyped fields each get a 4xx reply, and the
    session never executes."""
    import socket

    from brahmand_spark.server import MAX_BODY_BYTES

    executed = []

    class StubSession:
        def execute(self, query, params=None):
            executed.append(query)
            raise AssertionError("a rejected request must not run")

    def send(length, body=b""):
        with socket.create_connection(
                ("127.0.0.1", httpd.server_address[1]), timeout=5) as s:
            s.sendall(b"POST /query HTTP/1.1\r\nHost: localhost\r\n"
                      b"Content-Type: application/json\r\n"
                      b"Content-Length: " + length.encode()
                      + b"\r\n\r\n" + body)
            status_line = s.makefile("rb").readline()
        return int(status_line.split()[1])

    query = json.dumps({"query": "RETURN 1 AS x"}).encode()
    cases = [
        (str(-1), query, 400),
        ("abc", query, 400),
        (str(MAX_BODY_BYTES + 1), b"", 413),
        (None, b"[1, 2]", 400),
        (None, b"{not json", 400),
        (None, b'{"query": 5}', 400),
        (None, b'{"query": "RETURN 1 AS x", "params": [1]}', 400),
        (None, b'{"query": "RETURN 1 AS x", "format": ["CSV"]}', 400),
    ]
    httpd, _ = _serving(StubSession())
    try:
        got = [send(str(len(body)) if length is None else length, body)
               for length, body, _ in cases]
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert got == [want for _, _, want in cases]
    assert executed == []


def test_concurrent_writes_keep_every_update(spark):
    """Every write on a served session runs under the session write
    lock, so 8 clients each SETting a different customer at once keep
    all 8 updates. Without it each write rewrites the whole table from
    the frame it read, and the later commits drop the earlier ones."""
    from brahmand_spark import GraphSession

    s = GraphSession(spark, allow_writes=True)
    s.execute("CREATE NODE TABLE Customer (c_custkey Int64, "
              "c_acctbal Float64, NODE ID (c_custkey))")
    s.register_table("Customer", spark.range(1, 65).selectExpr(
        "id AS c_custkey", "CAST(id AS DOUBLE) AS c_acctbal"))
    keys = list(range(1, 9))
    start = threading.Barrier(len(keys))
    statuses = {}

    def set_one(k):
        start.wait()
        statuses[k] = post(url, {
            "query": "MATCH (c:Customer) WHERE c.c_custkey = $k "
                     "SET c.c_acctbal = -777.0",
            "params": {"k": k}})[0]

    httpd, url = _serving(s)
    try:
        clients = [threading.Thread(target=set_one, args=(k,))
                   for k in keys]
        for t in clients:
            t.start()
        for t in clients:
            t.join()
    finally:
        httpd.shutdown()
        httpd.server_close()
    assert statuses == {k: 200 for k in keys}
    got = {r["k"] for r in s.execute(
        "MATCH (c:Customer) WHERE c.c_acctbal = -777.0 "
        "RETURN c.c_custkey AS k").collect()}
    assert got == set(keys)
