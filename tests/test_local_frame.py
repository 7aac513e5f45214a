"""io.local_frame, the one builder of driver-side result frames:
same schema and rows as ``createDataFrame(rows, schema)``, but a JVM
LocalRelation that collects without a Spark job or a Python worker."""

import datetime

import pytest
from pyspark.sql import types as T

from brahmand_spark.io import local_frame
from brahmand_spark.session import GraphSession

# every schema the library's call sites pass (stats rows, status rows,
# PROFILE/EXPLAIN, DDL acks, procedure acks and listings, ops tables)
SCHEMAS = [
    "nodes_created bigint, relationships_created bigint, "
    "properties_set bigint, nodes_deleted bigint, "
    "relationships_deleted bigint",
    "batch bigint, committed boolean, error string, nodes_created bigint, "
    "relationships_created bigint, properties_set bigint, "
    "nodes_deleted bigint, relationships_deleted bigint",
    "scans int, joins int, shuffle_exchanges int, broadcast_exchanges int, "
    "explodes int, python_stages int, rows bigint, elapsed_s double, "
    "final_plan boolean",
    "plan string",
    "operation string, table string, status string",
    "id bigint",
    "name string, label string, n_docs long, num_hashes int, bands int, "
    "sigs_path string",
    "name string, label string, n_docs long",
    "name string, n_docs long",
    "name string, n_vectors long",
    "name string, label string, n_vectors long, n_cells int, m int, "
    "n_codes int, codes_path string",
    "name string, label string, n_vectors long, last_skew double, "
    "reindexed boolean",
    "name string, n_vectors long, n_cells int, m int, n_codes int",
    "name string, kind string, params string",
    "name string, kind string, n_live bigint, add_batches int, "
    "stats_delta_depth int, tombstones bigint, cell_skew double, "
    "config string",
    "label string, table string, id_column string, n_properties int",
    "type string, table string, from_node string, to_node string, "
    "from_column string, to_column string, adj_index boolean",
    "suffix string, n_labels int",
    "registered_domain string",
    "idx int, w bigint",
    "doc_id string",
]

_SAMPLES = {
    T.LongType: (2**40, -3), T.IntegerType: (7, 0),
    T.DoubleType: (1.5, -0.25), T.BooleanType: (True, False),
    T.StringType: ("x", ""),
}


def _rows(schema, spark):
    """Three rows per schema: two of typed values, one all-None."""
    struct = spark.createDataFrame([], schema).schema
    return [tuple(_SAMPLES[type(f.dataType)][k] for f in struct)
            for k in (0, 1)] + [tuple(None for _ in struct)]


@pytest.mark.parametrize("schema", SCHEMAS)
def test_same_schema_and_rows_as_create_dataframe(spark, schema):
    for rows in (_rows(schema, spark), []):
        want = spark.createDataFrame(rows, schema)
        got = local_frame(spark, rows, schema)
        assert got.schema == want.schema
        assert got.collect() == want.collect()
        assert got._jdf.queryExecution().analyzed().getClass() \
            .getSimpleName() == "LocalRelation"


def test_struct_schema_keeps_types_and_nullability(spark):
    struct = T.StructType([
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.DateType()),
        T.StructField("c", T.ShortType()),
        T.StructField("d", T.FloatType()),
        T.StructField("e", T.BinaryType()),
    ])
    rows = [(1, datetime.date(2020, 1, 2), 3, 0.5, b"\x00\x01")]
    for r in (rows, []):
        got = local_frame(spark, r, struct)
        assert got.schema == struct
        assert got.collect() == spark.createDataFrame(r, struct).collect()


def test_row_arity_mismatch_raises(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2), (3,)], "a bigint, b bigint")
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a bigint")


def test_ddl_tables_start_as_local_relations(spark):
    """A DDL-declared table reads as an empty LocalRelation until its
    first write — no Python-RDD scan (and Python worker) per read."""
    s = GraphSession(spark)
    s.execute("CREATE NODE TABLE Person (id Int64, name String, "
              "PRIMARY KEY(id), NODE ID(id))")
    s.execute("CREATE REL TABLE KNOWS FROM Person TO Person (since Int64)")
    for q in ("MATCH (p:Person) RETURN p.name AS n",
              "MATCH (a:Person)-[k:KNOWS]->(b:Person) "
              "RETURN a.id AS a, k.since AS s, b.name AS b"):
        df = s.execute(q)
        assert df.collect() == []
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        names = {leaves.apply(i).getClass().getSimpleName()
                 for i in range(leaves.size())}
        assert names == {"LocalRelation"}


def test_tombstone_id_lists_keep_their_type(spark):
    from brahmand_spark.ops.tombstones import coerce_ids

    assert coerce_ids(spark, [3, 1, 3], "k").dtypes == [("k", "bigint")]
    assert coerce_ids(spark, ["a"], "k").dtypes == [("k", "string")]
    assert coerce_ids(spark, [], "k").dtypes == [("k", "bigint")]
    with pytest.raises(TypeError, match="all int or all str"):
        coerce_ids(spark, [1, "a"], "k")
    with pytest.raises(TypeError, match="all int or all str"):
        coerce_ids(spark, [True], "k")
