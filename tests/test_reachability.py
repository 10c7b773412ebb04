"""Every package module is imported, at some depth, from an entry point,
and the supplier path imports none of the query catalog.

A module that only its own tests import is code nothing runs. The walk is
static (stdlib ``ast``, no Spark): it follows ``import`` and
``from … import`` statements anywhere in a file, including function
bodies, because the query catalog imports operators lazily.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "etl_jetro_spark"

# besides ``etl_jetro_spark/__main__.py``
ENTRY_POINTS = [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py"))]

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


def test_supplier_path_reaches_only_its_modules():
    reached = _walk(_package_modules(), [f"{PKG}.{m}" for m in SUPPLIER_ROOTS])
    reached = {m.removeprefix(f"{PKG}.") for m in reached - {PKG}}
    assert "plans.queries" not in reached, "the supplier path imports the query catalog"
    extra = sorted(reached - SUPPLIER_MODULES)
    assert not extra, f"the supplier path imports modules outside its set: {extra}"
    # a module the path no longer reaches is dropped from the set, not kept
    assert SUPPLIER_MODULES <= reached, sorted(SUPPLIER_MODULES - reached)
