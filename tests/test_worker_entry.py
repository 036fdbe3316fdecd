"""Python-worker entry points and their per-task fixed cost.

Every function the package ships to Spark's Python workers — a
`mapInPandas`/`applyInPandas`/`applyInPandasWithState` kernel, a
`pandas_udf`, a Python DataSource reader's `read` — calls
`worker.drop_zip_finders()` first, so the next task's
`importlib.invalidate_caches()` does not re-read pyspark.zip (PLANS.md,
"Python-worker per-task fixed cost"). This file pins:

- the helper itself, in-process with no Spark: it drops every
  zipimporter, imports from the zip still work, and invalidating the
  import caches afterwards reads no zip directory;
- a source-scan lint in the style of tests/test_registry_lint.py:
  each worker entry point calls the helper first, its module imports
  the helper at module level and registers itself by value
  (CLAUDE.md invariant 2), and the helper's module ends with its own
  registration;
- the two CCD kernels from a foreign cwd with PYTHONPATH stripped,
  the pattern of tests/test_lake_datasource_hardening.py.
"""

from __future__ import annotations

import ast
import importlib
import os
import pathlib
import subprocess
import sys
import zipfile
import zipimport

import pytest

import lcmap_firebird_spark
from lcmap_firebird_spark.worker import drop_zip_finders

PKG = pathlib.Path(lcmap_firebird_spark.__file__).parent
HELPER = "drop_zip_finders"
WORKER_CALLS = ("mapInPandas", "applyInPandas", "applyInPandasWithState")
READER_BASES = ("DataSourceReader", "DataSourceStreamReader")


def _zip_finders() -> list[str]:
    return [
        p
        for p, f in list(sys.path_importer_cache.items())
        if isinstance(f, zipimport.zipimporter)
    ]


def test_drop_zip_finders_stops_zip_directory_rereads(tmp_path, monkeypatch):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/sub/__init__.py", "")
        z.writestr("zpkg/sub/a.py", "A = 1\n")
        z.writestr("zpkg/sub/b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(archive))
    for m in ("zpkg", "zpkg.sub", "zpkg.sub.a", "zpkg.sub.b"):
        monkeypatch.setitem(sys.modules, m, None)
        del sys.modules[m]  # restored (removed) at teardown
    importlib.import_module("zpkg.sub.a")
    # one finder for the archive root, one for each package directory
    assert len([p for p in _zip_finders() if str(archive) in p]) >= 2

    drop_zip_finders()
    assert _zip_finders() == []

    reads = []
    real = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    assert reads == []
    # a further submodule still imports from the zip, and its finder
    # comes from zipimport's directory cache without a re-read
    assert importlib.import_module("zpkg.sub.b").B == 2
    assert reads == []


# -- source-scan lint -------------------------------------------------------


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Call):
        return _name(node.func)
    return None


def _worker_functions(tree: ast.Module) -> list[ast.FunctionDef]:
    """The functions of one module that run in Python workers."""
    defs: dict[str, list[ast.FunctionDef]] = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.FunctionDef):
            defs.setdefault(n.name, []).append(n)
    out: list[ast.FunctionDef] = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Call) and n.args:
            f = _name(n.func)
            if f in WORKER_CALLS or f == "pandas_udf":
                arg = n.args[0]
                if isinstance(arg, ast.Name) and arg.id in defs:
                    out += defs[arg.id]
                elif f in WORKER_CALLS:
                    raise AssertionError(
                        f"line {n.lineno}: pass {f} a named kernel so "
                        "the lint can check it"
                    )
        if isinstance(n, ast.FunctionDef) and any(
            _name(d) == "pandas_udf" for d in n.decorator_list
        ):
            out.append(n)
    readers = set(READER_BASES)
    classes = [n for n in ast.walk(tree) if isinstance(n, ast.ClassDef)]
    for _ in classes:  # subclasses of in-module readers are readers
        for c in classes:
            if any(_name(b) in readers for b in c.bases):
                readers.add(c.name)
    for c in classes:
        if c.name in readers:
            out += [
                f
                for f in c.body
                if isinstance(f, ast.FunctionDef) and f.name == "read"
            ]
    return out


def _calls_helper_first(fn: ast.FunctionDef) -> bool:
    body = fn.body
    if (
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Constant)
        and isinstance(body[0].value.value, str)
    ):
        body = body[1:]  # docstring
    return bool(
        body
        and isinstance(body[0], ast.Expr)
        and isinstance(body[0].value, ast.Call)
        and _name(body[0].value.func) == HELPER
        and not body[0].value.args
    )


def _registers_by_value(stmt: ast.stmt) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Call)
        and _name(stmt.value.func) == "register_pickle_by_value"
    )


def _lint(source: str) -> tuple[bool, list[str]]:
    """(ships worker code, violations) for one module's source."""
    tree = ast.parse(source)
    fns = _worker_functions(tree)
    bad = [
        f"line {f.lineno}: {f.name} must call {HELPER}() first"
        for f in fns
        if not _calls_helper_first(f)
    ]
    if fns:
        if not any(
            isinstance(s, ast.ImportFrom)
            and (s.module or "").endswith("worker")
            and any(a.name == HELPER for a in s.names)
            for s in tree.body
        ):
            bad.append(f"{HELPER} must be imported at module level")
        if not any(_registers_by_value(s) for s in tree.body):
            bad.append("module must register_pickle_by_value itself")
    return bool(fns), bad


def test_every_worker_entry_point_drops_zip_finders():
    shipping, bad = set(), []
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        ships, problems = _lint(py.read_text())
        if ships:
            shipping.add(rel)
        bad += [f"{rel}: {p}" for p in problems]
    assert not bad, "\n".join(bad)
    # the scan must keep seeing the package's worker code
    assert {
        "operators/segmentation.py",
        "operators/pyccd.py",
        "operators/multimodal.py",
        "sources/external.py",
        "sources/ardgen.py",
    } <= shipping


def test_helper_module_ends_with_its_registration():
    tree = ast.parse((PKG / "worker.py").read_text())
    assert _registers_by_value(tree.body[-1])


@pytest.mark.parametrize(
    "body",
    [
        "df.mapInPandas(kernel, s)",
        "df.groupBy('k').applyInPandas(kernel, s)",
    ],
)
def test_lint_flags_a_kernel_without_the_helper(body):
    head = "import sys\nfrom ..worker import drop_zip_finders\n\n"
    tail = "\nregister_pickle_by_value(sys.modules[__name__])\n"
    fn = "def f(df, s):\n    def kernel(it):\n{first}        yield from it\n    return " + body + "\n"
    ships, bad = _lint(head + fn.format(first="") + tail)
    assert ships and bad
    ships, bad = _lint(
        head + fn.format(first="        drop_zip_finders()\n") + tail
    )
    assert ships and not bad
    reader = (
        "class R(DataSourceReader):\n    def read(self, p):\n"
        "        yield from ()\n"
    )
    assert _lint(head + reader + tail)[1]


def test_ccd_kernels_run_from_foreign_cwd(tmp_path):
    """`pyccd.detect` (mapInPandas) and `ccd_segments` (applyInPandas)
    with the package importable only in the driver: the kernels and
    the helper they call travel by value."""
    repo = str(PKG.parent)
    script = tmp_path / "probe.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from lcmap_firebird_spark import schemas
from lcmap_firebird_spark.operators import pyccd
from lcmap_firebird_spark.operators.segmentation import ccd_segments

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
dates = [100 + 10 * i for i in range(60)][::-1]
vals = [(3000 if d >= 400 else 1000) + d % 7 for d in dates]
row = {{"cx": 0, "cy": 0, "px": 1, "py": 1, "dates": dates,
       "qas": [66] * len(dates), **{{c: vals for c in pyccd.BAND_MAP}}}}
ard = spark.createDataFrame(
    [tuple(row[f.name] for f in schemas.ard_schema().fields)],
    schemas.ard_schema())
segs = pyccd.detect(ard).collect()
assert len(segs) >= 2, segs
longs = spark.createDataFrame(
    [(1, d, float(v)) for d, v in zip(dates, vals)], "px int, t long, v double")
long_segs = ccd_segments(longs, ["px"], "t", "v").collect()
assert len(long_segs) >= 2, long_segs
print("FOREIGN_CWD_OK")
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env=env,
        timeout=420,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
    assert "FOREIGN_CWD_OK" in r.stdout
