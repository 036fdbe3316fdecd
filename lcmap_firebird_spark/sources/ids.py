"""Work-list (ids) sources — S1/S2 of the operator inventory.

The reference parallelizes driver-side chip/tile coordinate lists
into RDDs under explicit schemas (ccdc/ids.py:23-40 rdd,
:43-55 dataframe). DataFrame-native: the list becomes a
`pyarrow.Table` handed to `createDataFrame`, which always takes the
Arrow path (whatever `spark.sql.execution.arrow.pyspark.enabled`
says) and plans a JVM-local `LocalRelation`. A Python list (or a
pandas frame with Arrow off) would instead be `sc.parallelize` — a
Python RDD whose tasks start Python workers again at every
evaluation of the work list, AQE partition probes included
(PLANS.md rule 5). An explicit partition count stands in for the
reference's `chunk_size` fan-out control.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from ..schemas import chip_id_schema, tile_id_schema


def _ids_frame(spark, xys, schema, num_partitions):
    if num_partitions is not None and num_partitions < 1:
        # a falsy-0 used to silently mean "no repartition" — loud
        # beats silent for a fan-out control (r8 glue review)
        raise ValueError(f"num_partitions must be >= 1, got {num_partitions}")
    names = schema.fieldNames()
    table = pa.Table.from_pylist(
        [dict(zip(names, (int(x), int(y)))) for x, y in xys],
        schema=pa.schema([(n, pa.int32()) for n in names]),
    )
    df = spark.createDataFrame(table, schema)
    return df.repartition(num_partitions) if num_partitions else df


def chip_ids(
    spark: SparkSession,
    xys: Sequence[tuple[int, int]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Chip-coordinate work list (ccdc/ids.py:23-40; schema
    ids.py:9-13). Partition count bounds downstream fan-out the way
    the reference's chunk_size does (ccdc/core.py:98-99)."""
    return _ids_frame(spark, xys, chip_id_schema(), num_partitions)


def tile_ids(
    spark: SparkSession,
    xys: Sequence[tuple[int, int]],
    num_partitions: int | None = None,
) -> DataFrame:
    """Tile-coordinate work list (ccdc/ids.py:16-20 schema)."""
    return _ids_frame(spark, xys, tile_id_schema(), num_partitions)
