"""One definition per public name: a public top-level function or class
defined in two modules of ``kstream_spark`` is a second implementation of
one operator, and the copies drift apart.  The query inventories register
one ``q_*`` per query and are left out."""

import ast
import pathlib
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1] / "kstream_spark"

# names defined on purpose in more than one module
ALLOWED = {
    "admit_stream",          # one streaming admission sink per domain
    "connected_components",  # dedup's schema facade over the graph operator
}


def _definitions() -> dict[str, list[str]]:
    where = defaultdict(list)
    for path in sorted(ROOT.rglob("*.py")):
        if path.name.startswith("inventory"):
            continue
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)) \
                    and not node.name.startswith("_"):
                where[node.name].append(str(path.relative_to(ROOT)))
    return where


def test_no_public_name_is_defined_twice():
    dupes = {name: mods for name, mods in _definitions().items()
             if len(mods) > 1 and name not in ALLOWED}
    assert not dupes, f"defined in more than one module: {dupes}"


def test_every_allowed_duplicate_still_exists():
    where = _definitions()
    assert all(len(where[name]) > 1 for name in ALLOWED)
