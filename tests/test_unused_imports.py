"""Dead-import guard: every name a module imports at module level is
used somewhere in that module. No linter ships with the toolchain, so
this AST scan is the check; it covers the package, the tools, the tests
and the top-level scripts."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ("mousedatapipeline_spark", "tools", "tests")


def _modules():
    for top in SCANNED:
        yield from sorted((ROOT / top).rglob("*.py"))
    yield from sorted(ROOT.glob("*.py"))


def unused_imports(source: str) -> list[str]:
    """Names bound by module-level imports that the module never reads
    (a name listed in ``__all__`` counts as read: a re-export)."""
    tree = ast.parse(source)
    bound: list[str] = []
    for node in tree.body:
        if isinstance(node, ast.Import):
            bound += [a.asname or a.name.split(".")[0] for a in node.names]
        elif (isinstance(node, ast.ImportFrom)
              and node.module != "__future__"):
            bound += [a.asname or a.name for a in node.names]
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for node in ast.walk(tree):
        if (isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__"
                        for t in node.targets)):
            used |= {e.value for e in node.value.elts
                     if isinstance(e, ast.Constant)}
    return [name for name in bound if name not in used]


def test_scan_flags_an_unused_import():
    src = "import os\nfrom a import b, c as d\n__all__ = ['b']\n"
    assert unused_imports(src) == ["os", "d"]


def test_no_module_imports_a_name_it_never_uses():
    found = {str(p.relative_to(ROOT)): names for p in _modules()
             if (names := unused_imports(p.read_text()))}
    assert found == {}
