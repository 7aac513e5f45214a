"""Regrowth guard: every public top-level def in brahmand_spark/, and
every public method of a top-level library class, is referenced
somewhere in the production code (the library itself, the
gate registry, bench.py, perfbench/ or tools/), not only in tests/. A
name counts as reached when it occurs in code outside its own def: as a
name, an attribute, an imported name, or a string constant that is a
bare identifier (getattr, ``__all__``, registry keys). Words in
docstrings and comments do not count."""

import ast
import pathlib
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent

# kept although only tests call them
ALLOWED = {
    "server.repl": "interactive client-parity entry point, run by hand",
    "ops/similarity.pq_encode":
        "reference encoder the tests check pq_fit/ivfpq_topk against",
    "session.GraphSession.drop_adj_index":
        "releases build_adj_index's session-lifetime persist",
    "session.GraphSession.refresh_catalog":
        "the reference's multi-instance catalog re-poll, run from a "
        "caller's timer",
}


def _production_files():
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    for d in ("brahmand_spark", "perfbench", "tools"):
        yield from sorted((ROOT / d).rglob("*.py"))


def _code_names(tree: ast.AST) -> Counter:
    """Identifiers the code under ``tree`` refers to."""
    names = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names[node.id] += 1
        elif isinstance(node, ast.Attribute):
            names[node.attr] += 1
        elif isinstance(node, ast.alias):
            names.update(node.name.split("."))
        elif (isinstance(node, ast.Constant)
              and isinstance(node.value, str)
              and node.value.isidentifier()):
            names[node.value] += 1
    return names


def test_docstring_mentions_do_not_count():
    tree = ast.parse(
        'def f():\n    """Calls g; see also h."""\n    # and k\n'
        '    return g(x.h2, "k2", "not one")\n'
        'import m.n as o\nfrom p import q\n')
    names = _code_names(tree)
    assert {"g", "x", "h2", "k2", "m", "n", "q"} <= set(names)
    assert not {"h", "k", "not one", "o", "p", "f"} & set(names)


def _public_defs(body, prefix):
    """``(key, node)`` for each public def in ``body`` and, inside a
    public class, each of its public methods."""
    for node in body:
        if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                or node.name.startswith("_")):
            continue
        key = f"{prefix}.{node.name}"
        yield key, node
        if isinstance(node, ast.ClassDef):
            for meth in node.body:
                if (isinstance(meth, ast.FunctionDef)
                        and not meth.name.startswith("_")):
                    yield f"{key}.{meth.name}", meth


def test_every_public_library_def_is_reached_outside_tests():
    names = Counter()
    for p in _production_files():
        names.update(_code_names(ast.parse(p.read_text())))
    lib = ROOT / "brahmand_spark"
    seen, unreached = set(), []
    for path in sorted(lib.rglob("*.py")):
        prefix = path.relative_to(lib).with_suffix("").as_posix()
        for key, node in _public_defs(
                ast.parse(path.read_text()).body, prefix):
            seen.add(key)
            if (names[node.name] == _code_names(node)[node.name]
                    and key not in ALLOWED):
                unreached.append(key)
    assert not unreached, (
        f"library defs only tests reach: {unreached} — delete them "
        "with their tests, or call them from production code")
    assert set(ALLOWED) <= seen, set(ALLOWED) - seen
