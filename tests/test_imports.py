"""Unused imports, found with the standard library's ``ast``.

The repository runs no linter, so an import that nothing reads survives
every refactor that removes its last use.  This check walks every
module of the package, the tests, the entry points and the benchmark,
and fails on an import whose bound name is never read in the scope
that imports it: the module for a module-level import, the function
(nested functions and lambdas included) for a function-level one.
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


def _own_imports(scope: ast.AST) -> list[str]:
    """The names imported directly in ``scope``'s body (inside its
    if/try/with/for blocks too), not in nested functions or classes."""
    found: list[str] = []
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            found.extend(_bound_names(node))
        elif not isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef,
                   ast.Lambda)
        ):
            stack.extend(ast.iter_child_nodes(node))
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
