"""No package module imports a name that its scope never uses, and
no package module defines a top-level name that nothing refers to.

There is no linter in the toolchain, so these are stdlib-``ast``
forms of two rules:

- unused imports: for every import statement in a package module
  (``__init__.py`` files, which re-export, and ``from __future__`` are
  skipped), the bound name must be read somewhere in the scope that
  imports it — the module for a top-level import, the function for a
  local one (uses inside nested functions and lambdas count);
- unreferred definitions: every module-level function, class or
  assigned name of a package module (``__init__.py`` and dunders
  skipped) must be referred to somewhere in the package, ``tools/``,
  ``tests/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``
  — as a loaded name, an attribute, an imported name, or an
  identifier string literal (registry keys, ``getattr`` targets)."""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "real_time_data_analytics_cassandra_spark"


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


def _defined_names(tree: ast.Module) -> list[tuple[str, int]]:
    """Module-level functions, classes and assigned names, dunders
    skipped."""
    found: list[tuple[str, int]] = []
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            found.append((node.name, node.lineno))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = (
                node.targets if isinstance(node, ast.Assign) else [node.target]
            )
            found.extend(
                (n.id, node.lineno)
                for t in targets
                for n in ast.walk(t)
                if isinstance(n, ast.Name)
            )
    return [
        (nm, ln)
        for nm, ln in found
        if not (nm.startswith("__") and nm.endswith("__"))
    ]


def _referred_names(tree: ast.AST) -> set[str]:
    """Every name a module refers to: loaded names, attributes,
    imported names and identifier string literals."""
    refs: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                refs.add(n.value)
    return refs


def test_unreferred_name_scan_counts_every_reference_kind():
    defs = ast.parse(
        "A = 1\n"
        "B, C = 2, 3\n"
        "__all__ = []\n"
        "def f(): return A\n"
        "def g(): pass\n"
        "class K: pass\n"
        "def h(): pass\n"
        "def unused(): pass\n"
    )
    refs = _referred_names(
        ast.parse("import m.h\nfrom m import g as gg\nm.K\nx = ['B']\nf()\n")
    ) | _referred_names(defs)
    assert sorted(nm for nm, _ in _defined_names(defs) if nm not in refs) == [
        "C",
        "unused",
    ]


def test_package_modules_define_no_unreferred_names():
    sources = [
        *PKG.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    refs: set[str] = set()
    for p in sources:
        refs |= _referred_names(ast.parse(p.read_text()))
    dead = [
        f"{p.relative_to(ROOT)}:{ln}: {nm}"
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "__init__.py"
        for nm, ln in _defined_names(ast.parse(p.read_text()))
        if nm not in refs
    ]
    assert dead == []
