"""Every module of the package is imported, directly or through other
package modules, by a program that runs: a job (``jobs/*.py``), the
benchmark (``perfbench/*.py`` without its tests), the driver entry
(``__spark_entry__.py``) or a bench script. A module that only tests
import is dead code. The walk reads import statements with ``ast``
(imports inside functions count); nothing is imported and no Spark
starts."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "tgist_features_spark"


def _entry_points() -> list[Path]:
    perfbench = [p for p in sorted((ROOT / "perfbench").glob("*.py"))
                 if not p.name.startswith("test_")]
    return (sorted((ROOT / "jobs").glob("*.py")) + perfbench
            + [ROOT / n for n in ("__spark_entry__.py", "bench.py", "bench_extra.py")])


def _module_file(mod: str) -> Path | None:
    p = ROOT.joinpath(*mod.split("."))
    for f in (p / "__init__.py", p.with_suffix(".py")):
        if f.is_file():
            return f
    return None


def _module_name(f: Path) -> str:
    parts = f.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imports(f: Path) -> set[str]:
    """Package modules that ``f``'s import statements load, with every
    parent package each of them imports on the way."""
    here = _module_name(f).split(".")
    if f.name != "__init__.py":
        here = here[:-1]
    named = []
    for node in ast.walk(ast.parse(f.read_text(), str(f))):
        if isinstance(node, ast.Import):
            named += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                base = ".".join(here[: len(here) - node.level + 1] + ([base] if base else []))
            # ``from pkg import name``: name is a submodule or an attribute
            named += [base] + [f"{base}.{a.name}" for a in node.names]
    out = set()
    for name in named:
        parts = name.split(".")
        if parts[0] == PKG:
            out |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return {m for m in out if _module_file(m)}


def test_every_package_module_is_reached_from_an_entry_point():
    entries = _entry_points()
    assert all(f.is_file() for f in entries)
    reached: set[str] = set()
    todo = set().union(*map(_imports, entries))
    while todo:
        mod = todo.pop()
        reached.add(mod)
        todo |= _imports(_module_file(mod)) - reached
    package = {_module_name(f) for f in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(package - reached)
    assert not unreached, f"modules no entry point imports: {unreached}"
