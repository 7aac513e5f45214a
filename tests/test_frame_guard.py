"""Regrowth guard: driver-built rows become DataFrames only through
``io.local_frame``. ``spark.createDataFrame(rows, schema)`` over Python
rows builds a Python-RDD scan, whose every read starts a Python worker
(~300 ms for a one-row answer); the helper builds a JVM LocalRelation.
A ``createDataFrame`` call anywhere else in brahmand_spark/ fails this
test unless it is listed below with its reason."""

import ast
import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "brahmand_spark"

ALLOWED = {
    "io.local_frame": "the helper itself, over an Arrow table",
    "writes.apply_call_in_transactions":
        "the batch ids are an RDD computed on the executors, not "
        "driver rows",
    "ops/algos._reset_stats":
        "JVM createDataFrame over the checkpoint's own row RDD",
}


class _Sites(ast.NodeVisitor):
    """``module.function`` of every ``.createDataFrame`` reference
    (``<module>`` outside any function)."""

    def __init__(self, mod):
        self.mod, self.fn, self.sites = mod, "<module>", []

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.sites.append(f"{self.mod}.{self.fn}")
        self.generic_visit(node)


def test_driver_rows_go_through_local_frame():
    sites = []
    for path in sorted(LIB.rglob("*.py")):
        v = _Sites(path.relative_to(LIB).with_suffix("").as_posix())
        v.visit(ast.parse(path.read_text()))
        sites += v.sites
    stray = sorted(set(sites) - set(ALLOWED))
    assert not stray, (
        f"createDataFrame outside io.local_frame: {stray} — build "
        "driver rows with brahmand_spark.io.local_frame")
    assert set(ALLOWED) <= set(sites), set(ALLOWED) - set(sites)
