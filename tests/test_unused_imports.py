"""No package module imports a name that its scope never uses.

There is no linter in the toolchain, so this is the stdlib-``ast``
form of the unused-import rule: for every import statement in a
package module (``__init__.py`` files, which re-export, and
``from __future__`` are skipped), the bound name must be read
somewhere in the scope that imports it — the module for a top-level
import, the function for a local one (uses inside nested functions
and lambdas count)."""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "real_time_data_analytics_cassandra_spark"
)


def _unused_imports(tree: ast.AST) -> list[tuple[str, int]]:
    found: list[tuple[str, int]] = []

    def scope(node: ast.AST) -> None:
        imported: list[tuple[str, int]] = []
        used: set[str] = set()

        def visit(n: ast.AST) -> None:
            for ch in ast.iter_child_nodes(n):
                if isinstance(ch, (ast.Import, ast.ImportFrom)):
                    if isinstance(ch, ast.ImportFrom) and ch.module == "__future__":
                        continue
                    for a in ch.names:
                        imported.append(
                            (a.asname or a.name.split(".")[0], ch.lineno)
                        )
                elif isinstance(
                    ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
                ):
                    scope(ch)
                    used.update(
                        s.id for s in ast.walk(ch) if isinstance(s, ast.Name)
                    )
                else:
                    if isinstance(ch, ast.Name):
                        used.add(ch.id)
                    visit(ch)

        visit(node)
        found.extend((nm, ln) for nm, ln in imported if nm not in used)

    scope(tree)
    return found


def test_unused_import_scan_sees_both_scopes():
    src = (
        "import os\n"
        "from a import b, c\n"
        "def f():\n"
        "    from d import e, g\n"
        "    return e + c\n"
        "def h():\n"
        "    import k\n"
        "    return lambda: k\n"
    )
    assert sorted(_unused_imports(ast.parse(src))) == [
        ("b", 2),
        ("g", 4),
        ("os", 1),
    ]


def test_package_modules_use_every_import():
    bad = [
        f"{p.relative_to(PKG.parent)}:{ln}: {nm}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "__init__.py"
        for nm, ln in _unused_imports(ast.parse(p.read_text()))
    ]
    assert bad == []
