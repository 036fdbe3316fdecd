"""lcmap_firebird_spark — a PySpark-native analytics engine.

A ground-up, DataFrame-first re-expression of the capabilities of
USGS-EROS/lcmap-firebird (reference: /root/reference, `ccdc/` package):
grid/chip/pixel data model, selective-read joins, schema-conforming
projections, per-pixel time-series segmentation, and an ML
classification pipeline — plus the full relational operator surface
(aggregations, windows, set ops) and large-scale training-data
pipeline operators (dedup, similarity search, text analysis,
multimodal columns) that a 100 TB Spark deployment needs.

Design stance (SURVEY.md §7.1): everything is a DataFrame plan. The
reference's RDD legs (parallelize ids, HTTP-explode, per-pixel
flatMap — ccdc/ids.py:23-40, ccdc/timeseries.py:92-126,
ccdc/pyccd.py:151-183) become a JVM-local `createDataFrame` over an
Arrow table (not a Python RDD), source+explode stages, and
`groupBy(...).applyInPandas(...)` so Catalyst sees the whole query.
No import-time side effects (the reference notes its own footgun at
ccdc/__init__.py:11-12).
"""

__version__ = "0.1.0"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
