"""No dead modules (Spark-free): every module of the package is reached
by a static import walk from the code that runs it — the registry
families, the query entry point, the CLI, ``bench.py`` and the benchmark
harness. A module nothing imports is code no query, command or benchmark
can run, so it is deleted rather than kept."""

from __future__ import annotations

import ast
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "otlp_cardinality_checker_spark"


def _path_of(module: str) -> Path | None:
    """The checkout file that defines ``module``, if there is one."""
    base = ROOT.joinpath(*module.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported(module: str, path: Path) -> set[str]:
    """Every checkout module that ``path`` (module ``module``) imports,
    anywhere in its body: the parent packages of each imported module
    too, and ``from pkg import mod`` resolved to the submodule."""
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = importlib.util.resolve_name("." * node.level + base, package)
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if _path_of(prefix) is not None:
                found.add(prefix)
    return found


def _roots() -> list[str]:
    from registry import FAMILIES

    return [
        *(f"registry.{f}" for f in FAMILIES),
        "__spark_entry__",
        f"{PACKAGE}.__main__",
        "bench",
        *(f"perfbench.{p.stem}" for p in sorted((ROOT / "perfbench").glob("*.py"))),
    ]


def test_every_package_module_is_reached():
    reached: set[str] = set()
    todo = _roots()
    while todo:
        module = todo.pop()
        if module in reached:
            continue
        reached.add(module)
        todo.extend(_imported(module, _path_of(module)) - reached)
    package = ROOT / PACKAGE
    modules = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in package.rglob("*.py")
    }
    dead = sorted(m.removeprefix(f"{PACKAGE}.") for m in modules - reached)
    assert not dead, f"package modules no query, command or benchmark imports: {dead}"
