"""Regrowth guards over brahmand_spark/, each failing on a call site
that is not listed with its reason.

- Driver-built rows become DataFrames only through ``io.local_frame``.
  ``spark.createDataFrame(rows, schema)`` over Python rows builds a
  Python-RDD scan, whose every read starts a Python worker (~300 ms for
  a one-row answer); the helper builds a JVM LocalRelation.
- Session conf is set only by ``io``. A ``conf.set`` anywhere else
  changes the plan of every query running on the session meanwhile;
  choices local to one plan belong in that plan (hints, repartition),
  and physical sizing is AQE's.
- No session temp views. A view name lives in the session catalog, so
  one request's registration is visible to, and replaced by, every
  other request on the session; frames are passed as frames.
- No threads but the server's. Concurrency on a session comes from its
  callers (the server's request threads), ordered by the session write
  lock; the library starts no thread, pool or event of its own.
- Existing rows change in one place. ``writes._store`` commits a table
  snapshot; SET, REMOVE and DELETE reach it only through
  ``writes._rewrite``, so a second hand-built join-and-store copy (and
  its own counter ``count()``) cannot grow back."""

import ast
import pathlib

LIB = pathlib.Path(__file__).resolve().parent.parent / "brahmand_spark"

CREATE_ALLOWED = {
    "io.local_frame": "the helper itself, over an Arrow table",
    "writes.apply_call_in_transactions":
        "the batch ids are an RDD computed on the executors, not "
        "driver rows",
    "ops/algos._reset_stats":
        "JVM createDataFrame over the checkpoint's own row RDD",
}


CONF_SET_ALLOWED = {
    "io.configure": "session tuning for entry points",
}

THREAD_NAMES = ("ThreadPoolExecutor", "Thread", "Event",
                "ThreadingHTTPServer")

THREAD_ALLOWED = {
    "server.serve": "ThreadingHTTPServer: one thread per request, "
                    "whose writes the session write lock orders",
}

STORE_ALLOWED = {
    "writes._rewrite": "the one rewrite of existing rows: SET, REMOVE "
                       "and DELETE",
    "writes._apply_create": "CREATE appends its new nodes and "
                            "relationships",
    "writes._apply_merge": "MERGE appends the rows its anti-join found "
                           "missing",
}


class _Sites(ast.NodeVisitor):
    """``module.function`` of every reference to the dotted attribute
    ``attr`` (``"createDataFrame"``, ``"conf.set"``; ``<module>``
    outside any function). Receiver names match with leading
    underscores dropped, so ``self._conf.set`` is a ``conf.set``."""

    def __init__(self, mod, attr):
        self.mod, self.fn, self.sites = mod, "<module>", []
        self.want = attr.split(".")

    def visit_FunctionDef(self, node):
        outer, self.fn = self.fn, node.name
        self.generic_visit(node)
        self.fn = outer

    def visit_Attribute(self, node):
        chain, inner = [node.attr], node.value
        while len(chain) < len(self.want):
            if isinstance(inner, ast.Attribute):
                chain.insert(0, inner.attr.lstrip("_"))
                inner = inner.value
            elif isinstance(inner, ast.Name):
                chain.insert(0, inner.id.lstrip("_"))
                break
            else:
                break
        if chain == self.want:
            self.sites.append(f"{self.mod}.{self.fn}")
        self.generic_visit(node)


def _sites(attr, visitor=_Sites):
    sites = []
    for path in sorted(LIB.rglob("*.py")):
        v = visitor(path.relative_to(LIB).with_suffix("").as_posix(), attr)
        v.visit(ast.parse(path.read_text()))
        sites += v.sites
    return set(sites)


def test_driver_rows_go_through_local_frame():
    sites = _sites("createDataFrame")
    stray = sorted(sites - set(CREATE_ALLOWED))
    assert not stray, (
        f"createDataFrame outside io.local_frame: {stray} — build "
        "driver rows with brahmand_spark.io.local_frame")
    assert set(CREATE_ALLOWED) <= sites, set(CREATE_ALLOWED) - sites


def test_session_conf_set_only_in_io():
    sites = _sites("conf.set")
    stray = sorted(sites - set(CONF_SET_ALLOWED))
    assert not stray, (
        f"conf.set outside io: {stray} — a session-global setting "
        "changes every concurrent query's plan; keep the choice local "
        "to the plan")
    assert set(CONF_SET_ALLOWED) <= sites, set(CONF_SET_ALLOWED) - sites


def test_no_session_temp_views():
    sites = sorted(
        site
        for attr in ("createOrReplaceTempView", "createTempView",
                     "createGlobalTempView")
        for site in _sites(attr))
    assert not sites, (
        f"session temp views registered at {sites} — a view name is "
        "session-global; pass the DataFrame instead")


class _NameSites(_Sites):
    """``module.function`` of every use of one of ``names``, as a bare
    name (``Thread``) or an attribute (``threading.Thread``)."""

    def __init__(self, mod, names):
        self.mod, self.fn, self.names, self.sites = mod, "<module>", names, []

    def visit_Name(self, node):
        if node.id in self.names:
            self.sites.append(f"{self.mod}.{self.fn}")

    def visit_Attribute(self, node):
        if node.attr in self.names:
            self.sites.append(f"{self.mod}.{self.fn}")
        self.generic_visit(node)


def test_no_threads_outside_the_server():
    sites = _sites(THREAD_NAMES, _NameSites)
    stray = sorted(sites - set(THREAD_ALLOWED))
    assert not stray, (
        f"threads started at {stray} — the library runs on its "
        "caller's thread; serialize writes with the session write lock")
    assert set(THREAD_ALLOWED) <= sites, set(THREAD_ALLOWED) - sites


def test_table_commits_only_at_the_rewrite_and_appends():
    sites = _sites(("_store",), _NameSites)
    stray = sorted(sites - set(STORE_ALLOWED))
    assert not stray, (
        f"writes._store called from {stray} — change existing rows "
        "through writes._rewrite")
    assert set(STORE_ALLOWED) <= sites, set(STORE_ALLOWED) - sites
