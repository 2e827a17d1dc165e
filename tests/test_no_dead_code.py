"""Every module-level function and class in the package has a user: a
reference by name somewhere in the package, the tests, the tools, the
benchmark or the driver entry points."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "lakeside_spark"
#: where a reference counts
USERS = ("lakeside_spark", "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _files(entries):
    for entry in entries:
        path = ROOT / entry
        yield from sorted(path.rglob("*.py")) if path.is_dir() else [path]


def _referenced(tree: ast.AST) -> set[str]:
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_module_level_definition_is_referenced():
    used: set[str] = set()
    for path in _files(USERS):
        used |= _referenced(ast.parse(path.read_text()))
    unused = [
        f"{path.relative_to(ROOT)}:{node.lineno} {node.name}"
        for path in _files(["lakeside_spark"])
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and node.name not in used
    ]
    assert not unused, unused
