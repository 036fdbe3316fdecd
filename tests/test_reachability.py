"""Package reachability: no module exists only for its tests.

A package module is reached when an import chain leads to it from one
of the roots the package is run through: the CLI, the query registry,
`bench.py`, `__spark_entry__.py`, the benchmark (`perfbench/*.py`) and
`tools/driver_sim.py`. The walk is static (AST), follows relative
imports and function-level lazy imports, and counts each imported
module's parent packages as reached too.

The modules that only tests reach are listed in `TEST_ONLY` by name.
The test fails both when a listed module becomes reached (drop it from
the list) and when any other module is unreached (delete it, or give
it a caller), so the list only shrinks.
"""

from __future__ import annotations

import ast
import pathlib

import lcmap_firebird_spark

PKG = pathlib.Path(lcmap_firebird_spark.__file__).parent
REPO = PKG.parent

ROOT_FILES = [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    REPO / "tools" / "driver_sim.py",
    *(REPO / "perfbench").glob("*.py"),
]
ROOT_MODULES = ("cli", "queries")

# reached only from tests today; each family leaves this list when it
# gains a caller or is deleted
TEST_ONLY = {"sources.ardgen"}


def _package_modules(pkg: pathlib.Path) -> dict[str, pathlib.Path]:
    """Dotted name (relative to the package, '' for its root) → file."""
    out = {}
    for f in pkg.rglob("*.py"):
        parts = list(f.relative_to(pkg).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = f
    return out


def _imports(path: pathlib.Path, module: str | None) -> set[str]:
    """Absolute dotted names every import statement in `path` names,
    at any depth (lazy imports included). `module` is the file's own
    absolute dotted name, or None outside the package; relative
    imports resolve against it. `from X import y` yields both X and
    X.y, since y may be a submodule."""
    tree = ast.parse(path.read_text(), filename=str(path))
    is_pkg = path.name == "__init__.py"
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                assert module is not None, f"relative import in {path}"
                here = module.split(".")
                up = node.level - 1 if is_pkg else node.level
                base = here[: len(here) - up]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            names.add(mod)
            names.update(f"{mod}.{a.name}" for a in node.names)
    return names


def unreached(pkg: pathlib.Path, root_files, root_modules) -> set[str]:
    """Package modules no import chain from the roots reaches."""
    modules = _package_modules(pkg)
    prefix = pkg.name + "."
    seen: set[str] = set()
    todo = [(f, None) for f in root_files]

    def reach(name: str) -> None:
        if name != pkg.name and not name.startswith(prefix):
            return
        parts = name.split(".")[1:]
        # importing a.b.c imports the packages a and a.b first
        for i in range(len(parts) + 1):
            m = ".".join(parts[:i])
            if m in modules and m not in seen:
                seen.add(m)
                todo.append((modules[m], f"{prefix}{m}".rstrip(".")))

    for m in root_modules:
        reach(prefix + m)
    while todo:
        path, module = todo.pop()
        for name in _imports(path, module):
            reach(name)
    return set(modules) - seen


def test_walk_follows_relative_lazy_and_parent_imports(tmp_path):
    pkg = tmp_path / "pkgx"
    (pkg / "sub").mkdir(parents=True)
    files = {
        "__init__.py": "",
        "entry.py": "def f():\n    from .sub import lazy\n",
        "sub/__init__.py": "from . import rel\n",
        "sub/lazy.py": "from ..deep import thing\n",
        "sub/rel.py": "",
        "deep.py": "",
        "orphan.py": "import os\n",
    }
    for name, src in files.items():
        (pkg / name).write_text(src)
    assert unreached(pkg, [], ["entry"]) == {"orphan"}
    root = tmp_path / "root.py"
    root.write_text("import pkgx.sub.rel\n")
    assert unreached(pkg, [root], []) == {"entry", "sub.lazy", "deep", "orphan"}


def test_only_listed_modules_are_test_only():
    assert unreached(PKG, ROOT_FILES, ROOT_MODULES) == TEST_ONLY
