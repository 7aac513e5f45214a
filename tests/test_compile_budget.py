"""JVM round trips (py4j ``send_command`` calls) spent compiling the
served point reads. Each rename or projection step is one DataFrame
call and each join key one expression, so the count does not grow
with a table's width; the budgets catch a return to per-column
Column construction."""

import py4j.clientserver as clientserver
import pytest

# Half the calls these templates took when every renamed, projected or
# key column was its own Column (293, 910 and 1,275).
BUDGETS = {
    "hop1": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp", 146),
    "hop3": (
        "MATCH (c:Customer)-[:PLACED]->(o:Order)-[:HAS_LINE]->(l:Lineitem)"
        "-[:OF_PART]->(p:Part) WHERE c.c_custkey = $k "
        "RETURN o.o_orderkey AS ok, p.p_name AS part, l.l_quantity AS qty",
        455),
    "next_cust": (
        "MATCH (a:Customer)-[:NEXT_CUST*1..3]->(b:Customer) "
        "WHERE a.c_custkey = $k RETURN b.c_custkey AS dst", 637),
    # Multi-type hop and path-carrying walk: half the calls they took
    # when each arm built one Column per selected field (245 and 449).
    "hop_multi": (
        "MATCH (a:Customer)-[r:NEXT_CUST|PREV_CUST]->(b:Customer) "
        "WHERE a.c_custkey = $k "
        "RETURN b.c_custkey AS dst, r.hop_w AS w, type(r) AS t", 122),
    "var_carry_multi": (
        "MATCH p = (a:Customer)-[:NEXT_CUST|PREV_CUST*1..2]->(b:Customer) "
        "WHERE a.c_custkey = $k RETURN size(relationships(p)) AS n", 224),
}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_compile_py4j_budget(tpch, monkeypatch, name):
    query, budget = BUDGETS[name]
    tpch.execute(query, params={"k": 7})  # warm the table schemas
    calls = []
    send = clientserver.ClientServerConnection.send_command

    def counting(conn, command, *args, **kwargs):
        if not command.startswith("m\n"):  # skip py4j's GC messages
            calls.append(command)
        return send(conn, command, *args, **kwargs)

    monkeypatch.setattr(clientserver.ClientServerConnection,
                        "send_command", counting)
    tpch.execute(query, params={"k": 7})
    monkeypatch.undo()
    assert 0 < len(calls) <= budget
