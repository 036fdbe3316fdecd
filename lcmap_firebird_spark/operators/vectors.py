"""Feature-vector operators — densify/dedensify (U1/U2).

The reference collapses 33 feature columns into one ml.linalg.Vector
with a row-at-a-time @udf (ccdc/udfs.py:7-21) and unpacks predictions
with an RDD map (ccdc/randomforest.py:106-123). Spark-native:
`array_to_vector`/`vector_to_array` (pyspark.ml.functions) — JVM-side,
no Python worker at all.

Fidelity note (SURVEY §7.5): the reference's densify takes only
`first(x)` of any array-valued feature (ccdc/udfs.py:19-21) — a lossy
flatten. `densify(..., compat=True)` reproduces that exactly;
compat=False REFUSES array-valued features with a clear error —
callers wanting every element pre-explode the array into scalar
columns themselves (a deliberate non-feature: silent multi-slot
expansion would change feature-vector width under the caller).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.ml.functions import array_to_vector, vector_to_array


def _scalarize(df: DataFrame, col: str, compat: bool) -> Column:
    dtype = dict(df.dtypes)[col]
    c = F.col(col)
    if dtype.startswith("array"):
        if not compat:
            raise ValueError(
                f"{col} is array-typed; pass compat=True for the reference's "
                "first-element flatten or pre-explode it"
            )
        c = F.element_at(c, 1)  # ccdc/udfs.py:19-21 first() semantics
    return c.cast("double")


def densify(
    df: DataFrame,
    feature_cols: Sequence[str],
    output_col: str = "features",
    compat: bool = True,
) -> DataFrame:
    """columns → one VectorUDT column (U1; ccdc/udfs.py:7-21 via
    ccdc/features.py:53-63), JVM-side. The column's ML attribute
    metadata records the vector size, so MLlib stages that need it
    (`VectorIndexer.fit`) read it from the schema instead of running
    a `head()` job over the input."""
    arr = F.array(*[_scalarize(df, c, compat) for c in feature_cols])
    meta = {"ml_attr": {"num_attrs": len(feature_cols)}}
    vec = array_to_vector(arr).alias(output_col, metadata=meta)
    return df.withColumn(output_col, vec)


def dedensify(
    df: DataFrame,
    vector_col: str,
    output_col: str | None = None,
    renames: dict[str, str] | None = None,
) -> DataFrame:
    """VectorUDT → array<double> + optional key renames (U2;
    ccdc/randomforest.py:106-123 did this with an RDD round-trip)."""
    out = df.withColumn(output_col or vector_col, vector_to_array(F.col(vector_col)))
    if renames:
        out = out.withColumnsRenamed(renames)
    return out
