"""Custom Python Data Source with chip-id filter pushdown.

SURVEY §4/§7.4 names exactly one candidate for custom planner work:
"a DataSource V2 wrapper with SupportsPushDownFilters for chip-id
pruning, mirroring the J1 join". Spark 4's Python Data Source API
makes that implementable without JVM code: `pushFilters` receives
the query's predicates, the reader keeps the cx/cy ones, and
`partitions()` plans ONE input partition per *surviving* chip — so
`spark.read.format("ardgen").load().filter(cx == X)` never even
schedules the other chips. That is Cassandra-partition-key pruning
(resources/schema.cql:54) re-expressed at the source boundary.

The generator is a deterministic synthetic-ARD server stand-in
(seeded per chip): the real Chipmunk HTTP fetch would slot into
`read()` unchanged — partition pruning and the per-partition fetch
loop are the architecture, the payload source is a detail.

Registration: `spark.dataSource.register(ArdDataSource)` then
`spark.read.format("ardgen").option("chips", "0:0;3000:0")...`.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    In,
    InputPartition,
)

from ..worker import drop_zip_finders


@dataclass
class ChipPartition(InputPartition):
    cx: int
    cy: int
    n_pixels: int
    n_obs: int


class ArdDataSource(DataSource):
    """format name: ardgen. Options:
    - chips: 'cx:cy;cx:cy;...' chip inventory (the "service catalog")
    - n_pixels: pixels per chip side-squared stand-in (default 4)
    - n_obs: observations per pixel (default 20)
    """

    @classmethod
    def name(cls) -> str:
        return "ardgen"

    def schema(self) -> str:
        return "cx int, cy int, px int, py int, t int, value double"

    def reader(self, schema) -> "ArdReader":
        return ArdReader(self.options)


class ArdReader(DataSourceReader):
    def __init__(self, options):
        self._chips = [
            (int(x), int(y))
            for x, y in (
                p.split(":") for p in options.get("chips", "0:0").split(";")
            )
        ]
        self._n_pixels = int(options.get("n_pixels", "4"))
        self._n_obs = int(options.get("n_obs", "20"))
        self._cx_keep: set[int] | None = None
        self._cy_keep: set[int] | None = None

    def pushFilters(self, filters: list[Filter]):
        """Accept cx/cy equality and IN predicates; everything else
        is returned (= Spark keeps evaluating it post-scan)."""
        for f in filters:
            col = f.attribute[0] if isinstance(f, (EqualTo, In)) else None
            if col in ("cx", "cy"):
                vals = (
                    {f.value} if isinstance(f, EqualTo) else set(f.value)
                )
                if col == "cx":
                    self._cx_keep = (
                        vals if self._cx_keep is None else self._cx_keep & vals
                    )
                else:
                    self._cy_keep = (
                        vals if self._cy_keep is None else self._cy_keep & vals
                    )
            else:
                yield f  # unsupported → not consumed

    def partitions(self):
        """One partition per chip AFTER pruning — unselected chips
        are never scheduled, let alone read."""
        parts = []
        for cx, cy in self._chips:
            if self._cx_keep is not None and cx not in self._cx_keep:
                continue
            if self._cy_keep is not None and cy not in self._cy_keep:
                continue
            parts.append(ChipPartition(cx, cy, self._n_pixels, self._n_obs))
        return parts

    def read(self, part: ChipPartition):
        """Deterministic per-chip raster generation (the fetch loop a
        real HTTP source would run here, one chip per task)."""
        drop_zip_finders()
        import numpy as np

        rng = np.random.default_rng((part.cx * 1_000_003 + part.cy) & 0x7FFFFFFF)
        for px in range(1, part.n_pixels + 1):
            for py in range(1, part.n_pixels + 1):
                base = float(rng.integers(100, 2000))
                for i in range(part.n_obs):
                    t = 100 + 10 * i
                    yield (
                        part.cx,
                        part.cy,
                        px,
                        py,
                        t,
                        base + float(rng.normal(0, 5.0)),
                    )


def register(spark) -> None:
    # Python-source pushdown is opt-in (Spark 4.1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(ArdDataSource)


# The DataSource/Reader classes are pickled to Python workers; ship
# them by value so executors don't need this repo on PYTHONPATH
# (same trap as the pandas-UDF kernels — see operators/segmentation.py).
import sys as _sys  # noqa: E402

import pyspark.cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])
