"""Package reachability: no module or def exists only for its tests.

The roots are the files and modules the package is run through: the
CLI, the query registry, `bench.py`, `__spark_entry__.py`, the
benchmark (`perfbench/*.py`) and every `tools/*.py`.

A package module is reached when an import chain leads to it from a
root. The walk is static (AST), follows relative imports and
function-level lazy imports, and counts each imported module's parent
packages as reached too.

A def (a top-level function or class, or a non-dunder method of a
top-level class) in a reached module is reached when a `Name`, an
`Attribute` or an import alias names it from a root, from a reached
module's top-level code (decorators, class bodies and defaults
included) or from the body of a reached def; the walk repeats until
nothing new is reached. A def's own body, comments, docstrings and
string constants do not count, and neither do annotations. Names
match by their last part, whatever object they are looked up on. A
method of a class derived from a `pyspark.sql.datasource` class is
exempt when that base defines it: Spark calls it by protocol.

The modules and defs that only tests reach are listed in `TEST_ONLY`
and `TEST_ONLY_DEFS`. The tests fail both when a listed name becomes
reached (drop it from the list) and when any other one is unreached
(delete it, or give it a caller), so the lists only shrink.
"""

from __future__ import annotations

import ast
import dataclasses
import pathlib

import pyspark.sql.datasource

import lcmap_firebird_spark

PKG = pathlib.Path(lcmap_firebird_spark.__file__).parent
REPO = PKG.parent

ROOT_FILES = [
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
    *(REPO / "tools").glob("*.py"),
    *(REPO / "perfbench").glob("*.py"),
]
ROOT_MODULES = ("cli", "queries")

# reached only from tests today; each family leaves this list when it
# gains a caller or is deleted
TEST_ONLY = {"sources.ardgen"}

TEST_ONLY_DEFS = {
    # the paper's defs, kept until the product path gives them a caller
    "schemas.ard_schema",  # dense-wide ARD, ccdc/timeseries.py:33-45
    "schemas.aux_schema",  # aux layers, ccdc/timeseries.py:46-56
    "schemas.tile_schema",  # tile table, ccdc/tile.py:16-25
    "plans.classification.attach_predictions",  # J3, ccdc/segment.py:103-116
    "sources.ids.tile_ids",  # tile work list, ccdc/ids.py:16-20
    "grid.training_chips",  # training neighborhood, ccdc/grid.py:83-89
    "functions.dates.ordinal_to_date",  # ordinals, ccdc/pyccd.py:113-115
    "functions.dates.ordinal_to_iso",  # ordinals, ccdc/pyccd.py:146
    "functions.dates.date_to_ordinal",  # ordinals, ccdc/pyccd.py:113-115
    "functions.dates.acquired",  # acquired range, ccdc/core.py:41-50
    "functions.dates.parse_acquired",  # acquired range, ccdc/core.py:41-50
    "catalog.read_partitioned",  # chip sink read-back, ccdc/chip.py:49-51
    # reference code that tests compare the product against
    "operators.rf_replay.predict_row",  # per-row forest oracle
    "operators.rf_replay.predict_row_soft",  # per-row soft-vote oracle
    "operators.rf_replay._descend",  # the oracles' tree walk
    "operators.timeseries.explode_series",  # the tests' inverse of assemble
    # tied to other code
    "operators.classifier.train_log_odds",  # feeds prepare_corpus(quality_model=)
    "lakehouse.LakeTable.add_column",  # goes with old-log retired_cols reads
    # kept under a standing decision
    "queries.relational.a9_approx_distinct",
}


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


def reached_modules(
    pkg: pathlib.Path, root_files, root_modules
) -> set[str]:
    """Package modules an import chain from the roots reaches."""
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
    return seen


def unreached(pkg: pathlib.Path, root_files, root_modules) -> set[str]:
    """Package modules no import chain from the roots reaches."""
    reached = reached_modules(pkg, root_files, root_modules)
    return set(_package_modules(pkg)) - reached


def _names(nodes) -> set[str]:
    """Every name a Name, an Attribute or an import alias spells in
    `nodes` (AST nodes or lists of them), annotations left out."""
    out: set[str] = set()

    def visit(node) -> None:
        if isinstance(node, list):
            for n in node:
                visit(n)
            return
        if not isinstance(node, ast.AST):
            return
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rpartition(".")[2])
        for field, value in ast.iter_fields(node):
            if field in ("annotation", "returns"):
                continue
            visit(value)

    visit(nodes)
    return out


def _outer(fn) -> list:
    """The parts of a def that run where it is defined, not when it is
    called: decorators, defaults, and a class's bases and keywords."""
    parts = [*fn.decorator_list]
    if isinstance(fn, ast.ClassDef):
        return parts + fn.bases + fn.keywords
    return parts + fn.args.defaults + [d for d in fn.args.kw_defaults if d]


@dataclasses.dataclass
class Def:
    name: str  # the bare name a reference must spell
    path: pathlib.Path
    line: int
    lines: int
    body: set[str]  # names its body references once it is reached
    cls: str | None = None  # the qualified class of a method
    exempt: bool = False  # a protocol method Spark calls


def _datasource_bases(tree: ast.Module) -> dict[str, type]:
    """Local name → `pyspark.sql.datasource` class, for that module's
    `from pyspark.sql.datasource import X [as Y]` imports."""
    out = {}
    for node in tree.body:
        if (
            isinstance(node, ast.ImportFrom)
            and node.module == "pyspark.sql.datasource"
        ):
            for a in node.names:
                base = getattr(pyspark.sql.datasource, a.name, None)
                if isinstance(base, type):
                    out[a.asname or a.name] = base
    return out


def _module_defs(
    module: str, path: pathlib.Path
) -> tuple[dict[str, Def], set[str]]:
    """The checked defs of one module, by qualified name, and the names
    its top-level code references."""
    tree = ast.parse(path.read_text(), filename=str(path))
    protocol = _datasource_bases(tree)
    prefix = f"{module}." if module else ""
    defs: dict[str, Def] = {}
    top: list = []

    def add(qual: str, fn, body: set[str], **kw) -> None:
        first = min([fn.lineno] + [d.lineno for d in fn.decorator_list])
        lines = fn.end_lineno - first + 1
        defs[qual] = Def(fn.name, path, first, lines, body, **kw)

    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            top += _outer(node)
            add(prefix + node.name, node, _names(node.body))
        elif isinstance(node, ast.ClassDef):
            top += _outer(node)
            cls = prefix + node.name
            bases = [
                protocol[b.id]
                for b in node.bases
                if isinstance(b, ast.Name) and b.id in protocol
            ]
            dunder_bodies: list = []
            for item in node.body:
                if not isinstance(item, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    top.append(item)
                    continue
                top += _outer(item)
                if item.name.startswith("__") and item.name.endswith("__"):
                    dunder_bodies += item.body
                    continue
                exempt = any(hasattr(b, item.name) for b in bases)
                add(
                    f"{cls}.{item.name}", item, _names(item.body),
                    cls=cls, exempt=exempt,
                )
            add(cls, node, _names(dunder_bodies))
        else:
            top.append(node)
    return defs, _names(top)


def unreached_defs(
    pkg: pathlib.Path, root_files, root_modules
) -> dict[str, Def]:
    """Defs in reached package modules that no reference from the
    roots reaches, by qualified name (relative to the package)."""
    modules = _package_modules(pkg)
    defs: dict[str, Def] = {}
    refs: set[str] = set()
    for f in root_files:
        refs |= _names(ast.parse(f.read_text(), filename=str(f)))
    for m in reached_modules(pkg, root_files, root_modules):
        module_defs, top = _module_defs(m, modules[m])
        defs.update(module_defs)
        refs |= top
    todo = dict(defs)
    changed = True
    while changed:
        changed = False
        for qual, d in list(todo.items()):
            if d.cls is not None and d.cls in todo:
                continue  # a method waits for its class
            if d.exempt or d.name in refs:
                del todo[qual]
                refs |= d.body
                changed = True
    return todo


def _report(defs: dict[str, Def]) -> str:
    """One `file:line name (n lines)` row per def, in file order."""
    rows = []
    for qual, d in sorted(defs.items(), key=lambda kv: (str(kv[1].path), kv[1].line)):
        path = d.path.relative_to(REPO) if d.path.is_relative_to(REPO) else d.path
        rows.append(f"  {path}:{d.line} {qual} ({d.lines} lines)")
    return "\n".join(rows)


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


def test_def_walk_follows_calls_and_skips_text_and_self_reference(tmp_path):
    pkg = tmp_path / "pkgy"
    pkg.mkdir()
    files = {
        "__init__.py": "",
        "entry.py": (
            "from . import api\n"
            "def run(x=api.DEFAULT):\n"
            "    from .lazy import helper\n"
            "    return helper(x)\n"
        ),
        "api.py": (
            "DEFAULT = 1\n"
            "class Table:\n"
            "    def __init__(self):\n"
            "        self.n = build()\n"
            "    def scan(self):\n"
            "        return self.n\n"
            "    def spare(self):\n"
            "        return 0\n"
            "def build():\n"
            "    return 2\n"
            "def recursive(n):\n"
            '    """Calls only itself; see also documented()."""\n'
            "    return recursive(n - 1)  # and commented()\n"
            "def documented():\n"
            "    return 'commented'\n"
            "def commented():\n"
            "    return 3\n"
        ),
        "lazy.py": (
            "from pyspark.sql.datasource import DataSourceReader\n"
            "from .api import Table\n"
            "def helper(x):\n"
            "    return Table().scan() + x\n"
            "class Reader(DataSourceReader):\n"
            "    def read(self, partition):\n"
            "        yield from ()\n"
            "    def own(self):\n"
            "        return 1\n"
        ),
    }
    for name, src in files.items():
        (pkg / name).write_text(src)
    root = tmp_path / "root.py"
    root.write_text("from pkgy.entry import run\nrun()\nfrom pkgy.lazy import Reader\n")
    found = unreached_defs(pkg, [root], [])
    assert set(found) == {
        "api.Table.spare",
        "api.recursive",
        "api.documented",
        "api.commented",
        "lazy.Reader.own",
    }
    report = _report(found)
    assert f"{pkg / 'api.py'}:11 api.recursive (3 lines)" in report
    # without a root reference, the class takes its methods with it,
    # but a protocol method only waits for its class
    root.write_text("from pkgy.entry import run\nrun()\n")
    assert {"lazy.Reader", "lazy.Reader.own"} <= set(unreached_defs(pkg, [root], []))
    assert "lazy.Reader.read" in unreached_defs(pkg, [root], [])


def test_only_listed_modules_are_test_only():
    assert unreached(PKG, ROOT_FILES, ROOT_MODULES) == TEST_ONLY


def test_only_listed_defs_are_test_only():
    found = unreached_defs(PKG, ROOT_FILES, ROOT_MODULES)
    new = {q: d for q, d in found.items() if q not in TEST_ONLY_DEFS}
    gone = TEST_ONLY_DEFS - set(found)
    assert not new, "reached only from tests; delete or give a caller:\n" + _report(new)
    assert not gone, f"reached now; drop from TEST_ONLY_DEFS: {sorted(gone)}"
