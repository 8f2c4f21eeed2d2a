"""Every module under scheduler_spark/ is reached from an entry point.

A static `ast` walk of the imports (function-local ones included) from
the programs that run the package: `python -m scheduler_spark`,
`__spark_entry__.py`, `bench.py`, `bench_extra.py`, `perfbench/` and
`tools/`.  A module that only its own tests import is a second code path
nobody runs; this test is the alarm for one.  No Spark session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "scheduler_spark"

# Unreached today but kept: the paper's front end (sitemap source catalog)
# and back end (per-source release graphs).  ROADMAP direction 6 wires
# them into the CLI as `--sources` and `--release-dir`.
EXEMPT = {f"{PKG}.sources.sitemap", f"{PKG}.operators.export"}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imports(path: Path, name: str, is_pkg: bool) -> set[str]:
    """Fully qualified names a file imports, relative imports resolved;
    `from a import b` yields both `a` and `a.b` (b may be a submodule)."""
    base = name.split(".") if is_pkg else name.split(".")[:-1]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = base[: len(base) - node.level + 1]
                mod = ".".join(anchor + ([node.module] if node.module else []))
            else:
                mod = node.module
            out.add(mod)
            out.update(f"{mod}.{alias.name}" for alias in node.names)
    return out


def _reached(modules: dict[str, Path]) -> set[str]:
    entry_files = [
        ROOT / PKG / "__main__.py",
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    todo = [(p, _module_name(p), False) for p in entry_files]
    reached = {name for _, name, _ in todo}
    while todo:
        path, name, is_pkg = todo.pop()
        for imported in _imports(path, name, is_pkg):
            parts = imported.split(".")
            # importing a.b.c runs a/__init__ and a/b/__init__ too
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    p = modules[mod]
                    todo.append((p, mod, p.name == "__init__.py"))
    return reached


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    assert EXEMPT <= modules.keys(), "an exempt module is gone: drop it from EXEMPT"
    # the package that holds an exempt module is exempt with it
    exempt = EXEMPT | {m.rsplit(".", 1)[0] for m in EXEMPT}
    unreached = modules.keys() - _reached(modules) - exempt
    assert not unreached, (
        f"modules no entry point imports: {sorted(unreached)} — "
        "wire them into an entry point or delete them"
    )
