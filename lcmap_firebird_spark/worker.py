"""Python-worker per-task fixed cost: the zip finders.

PySpark's worker runs `worker_util.setup_spark_files` at the start of
every task, and that ends in `importlib.invalidate_caches()`. With
`SPARK_HOME` set, a worker imports pyspark from
`$SPARK_HOME/python/lib/pyspark.zip`, and a reused worker holds one
`zipimport.zipimporter` per pyspark package directory, plus one for
the py4j zip, in `sys.path_importer_cache`. On CPython 3.11 each
zipimporter's `invalidate_caches` re-reads the whole zip central
directory, so every task re-parsed the zip about 16 times (PLANS.md
rule 34 has the measurements).

`sys.path_importer_cache` is documented as deletable: a dropped entry
is rebuilt on demand by the path hook, and a new `zipimporter` takes
the archive's directory from `zipimport`'s own cache without a
re-read. So every Python-worker entry point the package ships calls
`drop_zip_finders()` first (tests/test_worker_entry.py enforces it),
and the next task's `invalidate_caches` has nothing to reload. The
scan of the ~90 cache entries takes about 10 µs, cheap enough to run
per group in `applyInPandas`.
"""

from __future__ import annotations

import sys
import zipimport


def drop_zip_finders() -> None:
    """Delete every `zipimporter` from `sys.path_importer_cache`."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


# kernels of other modules capture this function by value
# (CLAUDE.md invariant 2)
import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
