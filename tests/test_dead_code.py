"""Regrowth guard: every public top-level def in brahmand_spark/ is
named somewhere in the production code (the library itself, the gate
registry, bench.py, perfbench/ or tools/), not only in tests/. A name
counts as reached when it appears as a word outside its own def,
docstrings and comments included."""

import ast
import pathlib
import re
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parent.parent
WORD = re.compile(r"\w+")

# kept although only tests call them
ALLOWED = {
    "server.repl": "interactive client-parity entry point, run by hand",
    "ops/sketches.bloom_might_contain":
        "reference probe the tests check bloom_table against",
    "ops/similarity.dequantize_embeddings":
        "reference decoder the tests check quantize_embeddings against",
    "ops/similarity.pq_encode":
        "reference encoder the tests check pq_fit/ivfpq_topk against",
}


def _production_files():
    yield ROOT / "__spark_entry__.py"
    yield ROOT / "bench.py"
    for d in ("brahmand_spark", "perfbench", "tools"):
        yield from sorted((ROOT / d).rglob("*.py"))


def test_every_public_library_def_is_reached_outside_tests():
    words = Counter()
    for p in _production_files():
        words.update(WORD.findall(p.read_text()))
    lib = ROOT / "brahmand_spark"
    seen, unreached = set(), []
    for path in sorted(lib.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if (not isinstance(node, (ast.FunctionDef, ast.ClassDef))
                    or node.name.startswith("_")):
                continue
            own = WORD.findall(
                "\n".join(lines[node.lineno - 1:node.end_lineno]))
            key = (f"{path.relative_to(lib).with_suffix('').as_posix()}"
                   f".{node.name}")
            seen.add(key)
            if (words[node.name] == own.count(node.name)
                    and key not in ALLOWED):
                unreached.append(key)
    assert not unreached, (
        f"library defs only tests reach: {unreached} — delete them "
        "with their tests, or call them from production code")
    assert set(ALLOWED) <= seen, set(ALLOWED) - seen
