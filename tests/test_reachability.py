"""Every module, top-level function and method under scheduler_spark/ is
reached from an entry point.

A static `ast` walk of the imports (function-local ones included) from
the programs that run the package: `python -m scheduler_spark`,
`__spark_entry__.py`, `bench.py`, `bench_extra.py`, `perfbench/` and
`tools/`; then a walk of the names that reached code mentions.  A
module, function or method that only its own tests use is a second code
path nobody runs; these tests are the alarm for one.  No Spark session.
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

# Top-level functions no entry point calls, kept on purpose.  A test
# oracle names the test that compares the operator against it.
EXEMPT_FUNCTIONS = {
    f"{PKG}.operators.dedup.simhash64": "oracle of tests/test_dedup_similarity.py"
    "::test_simhash_table_equals_expression_path",
    f"{PKG}.operators.dedup.ngram_jaccard_pairs": "oracle of tests/test_dedup_similarity.py"
    "::test_prefix_jaccard_equals_quadratic_on_corpus",
    f"{PKG}.queries._contamination_pairwise": "oracle of tests/test_contamination.py"
    "::test_gram_join_equals_pairwise_at_sf001",
    f"{PKG}.operators.geo.bbox_intersect_join_gridded": "the spatial join for two sides "
    "too large to broadcast; tests/test_geo.py pins it to bbox_intersect_join",
    f"{PKG}.operators.geo.synth_features": "the deterministic feature table the geo "
    "and GeoParquet tests build their inputs from",
    f"{PKG}.operators.pca.pca_project": "the projection half of the PCA that "
    "embedding_covariance's covariance_matrix starts; tests pin it to numpy",
}


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


def _names(node: ast.AST) -> set[str]:
    """Every name a piece of code mentions: variables, attributes and
    the names a `from` import binds."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(alias.name for alias in n.names)
    return out


def _reach():
    """The top-level functions and the methods of the reached modules,
    and the names reached code mentions.  By name, not by scope: a
    function or method counts as reached when code that runs mentions
    its name.  Module-level code of a reached module runs (a decorator
    registers the function it wraps), and so do every entry file whole
    and the parts of a class body outside its methods.  A dunder method
    is a root: the language calls it, not a name."""
    modules = _package_modules()
    functions: dict[str, list[tuple[str, ast.AST]]] = {}
    methods: dict[str, list[tuple[str, ast.AST]]] = {}
    seen: set[str] = set()
    for path in [ROOT / "__spark_entry__.py", ROOT / "bench.py", ROOT / "bench_extra.py",
                 *(ROOT / "perfbench").glob("*.py"), *(ROOT / "tools").glob("*.py")]:
        seen |= _names(ast.parse(path.read_text(), str(path)))
    for mod in sorted(_reached(modules) & modules.keys()):
        for node in ast.parse(modules[mod].read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                functions.setdefault(node.name, []).append((mod, node))
                if node.decorator_list or f"{mod}.{node.name}" in EXEMPT_FUNCTIONS:
                    seen.add(node.name)
            elif isinstance(node, ast.ClassDef):
                for part in [*node.bases, *node.keywords, *node.decorator_list]:
                    seen |= _names(part)
                for item in node.body:
                    if isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        methods.setdefault(item.name, []).append((f"{mod}.{node.name}", item))
                        if item.name.startswith("__") and item.name.endswith("__"):
                            seen.add(item.name)
                    else:
                        seen |= _names(item)
            else:
                seen |= _names(node)
    todo, reached = list(seen), set()
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, node in functions.get(name, []) + methods.get(name, []):
                todo.extend(_names(node))
    return functions, methods, reached


def test_every_top_level_function_is_reached_from_an_entry_point():
    functions, _, reached = _reach()
    defined = {f"{mod}.{name}" for name, defs in functions.items() for mod, _ in defs}
    assert EXEMPT_FUNCTIONS.keys() <= defined, "an exempt function is gone: drop it"
    unreached = sorted(f"{mod}.{name}" for name, defs in functions.items()
                       if name not in reached for mod, _ in defs)
    assert not unreached, (
        f"top-level functions no entry point reaches: {unreached} — "
        "call them from an entry point, exempt them with a reason, or delete them"
    )


def test_every_method_is_reached_from_an_entry_point():
    _, methods, reached = _reach()
    unreached = sorted(f"{cls}.{name}" for name, defs in methods.items()
                       if name not in reached for cls, _ in defs)
    assert not unreached, (
        f"methods no entry point reaches: {unreached} — "
        "call them from an entry point or delete them"
    )
