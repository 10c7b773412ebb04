"""Every package module is imported, at some depth, from an entry point,
every public function and class is named outside the tests, and the
supplier path imports none of the query catalog.

A module or function that only its own tests use is code nothing runs.
The walks are static (stdlib ``ast``, no Spark): they follow ``import``
and ``from … import`` statements anywhere in a file, including function
bodies, because the query catalog imports operators lazily.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "etl_jetro_spark"

# besides ``etl_jetro_spark/__main__.py``
ENTRY_POINTS = [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py"))]

# Public names of the package that only a run-time lookup reaches, each
# with its reason. A catalog query needs no entry: ``@query`` registers it.
DYNAMIC_NAMES: dict[str, str] = {}

def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path, package: str):
    """Dotted names a file imports; ``from a import b`` yields ``a`` and
    ``a.b``, since ``b`` may be a submodule."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:  # from .x / from ..x: drop level-1 trailing parts
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{a.name}" for a in node.names)


# the modules ``python -m etl_jetro_spark run`` and the PO control tick import
SUPPLIER_ROOTS = [
    "pipelines.runner",
    "streaming.orchestrator",
    "streaming.snapshot",
    "sinks.notify",
    "sinks.pdf",
    "session",
]

# everything the supplier roots may reach, besides the package itself
SUPPLIER_MODULES = {
    "functions",
    "functions.dates",
    "functions.na",
    "functions.text",
    "normalize",
    "normalize.grid",
    "operators",
    "operators.canonical",
    "operators.joins",
    "operators.sort",
    "operators.unpivot",
    "pipelines",
    "pipelines.batch",
    "pipelines.runner",
    "session",
    "sinks",
    "sinks.excel_sink",
    "sinks.macro",
    "sinks.notify",
    "sinks.pdf",
    "sources",
    "sources.csv_po",
    "sources.excel",
    "sources.json_dim",
    "sources.sheet",
    "sources.xlsx",
    "sqltext",
    "streaming",
    "streaming.orchestrator",
    "streaming.snapshot",
}


def _walk(mods: dict[str, Path], roots: list[str]) -> set[str]:
    seen: set[str] = set()

    def visit(name: str) -> None:
        parts = name.split(".")
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        for i in range(1, len(parts) + 1):
            dotted = ".".join(parts[:i])
            if dotted in mods and dotted not in seen:
                seen.add(dotted)
                path = mods[dotted]
                package = dotted if path.name == "__init__.py" else dotted.rpartition(".")[0]
                for imported in _imported_names(path, package):
                    visit(imported)

    for name in roots:
        visit(name)
    return seen


def _reached(mods: dict[str, Path]) -> set[str]:
    roots = [f"{PKG}.__main__"]  # python -m etl_jetro_spark
    for path in ENTRY_POINTS:
        roots += _imported_names(path, "")
    return _walk(mods, roots)


def test_every_package_module_is_reached():
    mods = _package_modules()
    reached = _reached(mods)
    unreached = sorted(set(mods) - reached)
    assert not unreached, f"no entry point imports these modules: {unreached}"


def _names_used(tree: ast.AST) -> set[str]:
    """Every name a file reads, reads as an attribute, or imports."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rpartition(".")[2])
    return used


def _registered(node: ast.AST) -> bool:
    """A catalog query: its ``@query(...)`` decorator registers it."""
    return any(
        isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
        for d in getattr(node, "decorator_list", [])
    )


def test_every_public_function_is_reached():
    """Each public top-level function or class of the package is named in
    the package, ``perfbench/``, ``tools/`` or ``__spark_entry__.py``;
    one that only tests name is test code kept in the package."""
    files = [*_package_modules().values(), *ENTRY_POINTS, *sorted((ROOT / "tools").glob("*.py"))]
    defined: dict[str, str] = {}
    used: set[str] = set()
    for path in files:
        tree = ast.parse(path.read_text(), str(path))
        used |= _names_used(tree)
        if PKG in path.relative_to(ROOT).parts:
            for node in tree.body:
                public = isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_")
                if public and not _registered(node):
                    defined[node.name] = f"{path.relative_to(ROOT)}:{node.lineno}"
    unreached = sorted(
        f"{where} {name}" for name, where in defined.items()
        if name not in used and name not in DYNAMIC_NAMES
    )
    assert not unreached, f"only tests name these: {unreached}"


def test_supplier_path_reaches_only_its_modules():
    reached = _walk(_package_modules(), [f"{PKG}.{m}" for m in SUPPLIER_ROOTS])
    reached = {m.removeprefix(f"{PKG}.") for m in reached - {PKG}}
    assert "plans.queries" not in reached, "the supplier path imports the query catalog"
    extra = sorted(reached - SUPPLIER_MODULES)
    assert not extra, f"the supplier path imports modules outside its set: {extra}"
    # a module the path no longer reaches is dropped from the set, not kept
    assert SUPPLIER_MODULES <= reached, sorted(SUPPLIER_MODULES - reached)
