"""Unused and misplaced imports, found with the standard library's
``ast``.

The repository runs no linter, so an import that nothing reads survives
every refactor that removes its last use.  This check walks every
module of the package, the tests, the entry points and the benchmark,
and fails on an import whose bound name is never read in the scope
that imports it: the module for a module-level import, the function
(nested functions and lambdas included) for a function-level one.

A second check fails on a function-level import, inside the package,
of a module its file already imports at top level: that import breaks
no cycle (the module is loaded with the file anyway) and belongs at the
top.  Lazy imports of modules the file does not import at top level
are left alone.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SOURCES = sorted(
    [
        *(ROOT / "kafka_stream_processing_spark").rglob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),
        *(ROOT / "tests").glob("*.py"),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
    ]
)

#: Imports kept for their side effect, by (file, function).  The
#: registry's loader imports every operator module so that its
#: ``@register`` decorators run; the benchmark's ``main`` imports the
#: registry to fail early when the package is not importable.
SIDE_EFFECT_SCOPES = {
    ("kafka_stream_processing_spark/registry.py", "_load"),
    ("perfbench/run.py", "main"),
}


def _bound_names(node: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(node, ast.ImportFrom) and node.module == "__future__":
        return []
    names = []
    for alias in node.names:
        if alias.name == "*":
            continue
        # ``import a.b`` binds ``a``.
        names.append(alias.asname or alias.name.split(".")[0])
    return names


def _own_import_nodes(scope: ast.AST) -> list[ast.Import | ast.ImportFrom]:
    """The import statements directly in ``scope``'s body (inside its
    if/try/with/for blocks too), not in nested functions or classes."""
    found: list[ast.Import | ast.ImportFrom] = []
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            found.append(node)
        elif not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef,
                   ast.Lambda)
        ):
            stack.extend(ast.iter_child_nodes(node))
    return found


def _own_imports(scope: ast.AST) -> list[str]:
    """The names imported directly in ``scope``'s body."""
    return [n for node in _own_import_nodes(scope) for n in _bound_names(node)]


def _imported_modules(node: ast.Import | ast.ImportFrom) -> list[str]:
    if isinstance(node, ast.ImportFrom):
        return [node.module] if node.level == 0 else []
    return [alias.name for alias in node.names]


def hoistable_imports(tree: ast.Module, rel: str) -> list[str]:
    """Function-level imports of a module that ``tree`` already imports
    at top level."""
    top = {m for node in _own_import_nodes(tree)
           for m in _imported_modules(node)}
    found = []
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        for node in sorted(_own_import_nodes(fn), key=lambda n: n.lineno):
            found += [
                f"{rel}:{node.lineno} {fn.name}: {m}"
                for m in _imported_modules(node) if m in top
            ]
    return found


def _read_names(scope: ast.AST) -> set[str]:
    """Every name read anywhere under ``scope``, plus the names listed
    in a module's ``__all__``."""
    read = set()
    for node in ast.walk(scope):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            read.add(node.id)
        elif (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__"
                    for t in node.targets)
            and isinstance(node.value, (ast.List, ast.Tuple))
        ):
            read.update(
                e.value for e in node.value.elts
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return read


def unused_imports(path: Path) -> list[str]:
    rel = path.relative_to(ROOT).as_posix()
    tree = ast.parse(path.read_text(), filename=rel)
    scopes: list[tuple[str, ast.AST]] = [("<module>", tree)]
    scopes += [
        (node.name, node) for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    unused = []
    for name, scope in scopes:
        if (rel, name) in SIDE_EFFECT_SCOPES:
            continue
        imported = _own_imports(scope)
        if not imported:
            continue
        read = _read_names(scope)
        unused += [
            f"{rel}:{name}: {imp}" for imp in imported if imp not in read
        ]
    return unused


def test_no_unused_imports():
    found = [u for path in SOURCES for u in unused_imports(path)]
    assert not found, "imports never read in their scope:\n" + "\n".join(
        found
    )


def test_scan_sees_function_and_module_imports():
    tree = ast.parse(
        "import os\n"
        "from x import used\n"
        "def f():\n"
        "    from y import Window as _W\n"
        "    from z import kept\n"
        "    return lambda: kept + used\n"
    )
    f = tree.body[2]
    assert sorted(_own_imports(tree)) == ["os", "used"]
    assert sorted(_own_imports(f)) == ["_W", "kept"]
    assert {"kept", "used"} <= _read_names(tree)
    assert not {"os", "_W"} & _read_names(tree)


def test_no_function_import_of_a_top_level_module():
    pkg = ROOT / "kafka_stream_processing_spark"
    found = [
        h
        for path in sorted(pkg.rglob("*.py"))
        for h in hoistable_imports(
            ast.parse(path.read_text()), path.relative_to(ROOT).as_posix()
        )
    ]
    assert not found, (
        "function-level imports of a module already imported at top "
        "level:\n" + "\n".join(found)
    )


def test_hoist_scan_flags_only_top_level_modules():
    tree = ast.parse(
        "import os\n"
        "from pyspark.sql import DataFrame\n"
        "def f():\n"
        "    import os\n"
        "    from pyspark.sql import Window as _W\n"
        "    from pyspark.sql.types import LongType\n"
        "    def g():\n"
        "        from pyspark.sql import Column\n"
        "    return _W, LongType, g\n"
    )
    assert hoistable_imports(tree, "m.py") == [
        "m.py:4 f: os",
        "m.py:5 f: pyspark.sql",
        "m.py:8 g: pyspark.sql",
    ]
