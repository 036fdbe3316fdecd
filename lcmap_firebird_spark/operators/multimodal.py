"""Multimodal (image/video) column operators.

Design (BASELINE.json north-star): media travel as opaque `binary`
columns with typed metadata alongside — the same dense-wide stance
the reference takes for raster bands (arrays next to keys,
ccdc/timeseries.py:33-45). All heavy per-item work runs as
Arrow-batched `mapInPandas` kernels so executors stream batches
without per-row pickling; the DataFrame plan (schema, partitioning,
batch shape) is real and tested.

The actual codec calls (PIL/ffmpeg) are NOT available in this
container — they are STUBBED behind `_HAS_CODECS`, with a
deterministic metadata kernel exercising the identical plumbing. The
Spark-side contract (schemas, mapInPandas signatures, partition
sizing) is what matters here and is fully real.

Scale notes:
- binary payloads make rows wide: keep `spark.sql.files.
  maxPartitionBytes` moderate and repartition by a content-hash
  bucket before shuffles so a few giant media files can't skew tasks.
- decode kernels are CPU-bound: `mapInPandas` keeps them off the
  driver and lets AQE size the stage by bytes, not row count.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..worker import drop_zip_finders

# Probe for a real image codec at import time: when PIL exists the
# decode kernel runs it; otherwise the deterministic stubs
# exercise the identical plumbing. (This container has no PIL, so the
# stub path runs here — but the gate is live, not hardcoded.)
from importlib.util import find_spec as _find_spec  # noqa: E402

_HAS_CODECS = _find_spec("PIL") is not None

# Ship mapInPandas kernels by value — executors may not have this
# repo on PYTHONPATH (see operators/segmentation.py).
import sys as _sys  # noqa: E402

import pyspark.cloudpickle as _cloudpickle  # noqa: E402

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def feature_schema() -> StructType:
    return StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("n_bytes", LongType(), False),
            StructField("checksum", StringType(), False),
            StructField("width", IntegerType(), True),
            StructField("height", IntegerType(), True),
        ]
    )


def to_media_table(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Build a binary media table from any source column (here: UTF-8
    document payloads standing in for image bytes)."""
    from .dedup import spread

    # coalesce NULL text to the empty payload: every downstream
    # kernel (len/md5/frombuffer) dies on a None payload
    payload = F.encode(F.coalesce(F.col(text_col), F.lit("")), "utf-8")
    return spread(df, id_col).select(
        F.col(id_col).cast("long").alias("media_id"),
        payload.alias("payload"),
        F.lit("application/octet-stream").alias("media_type"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


def _decode_image(payload: bytes) -> tuple[int | None, int | None]:
    """Image dimension probe: PIL when available, else a
    deterministic stub (fake dimensions derived from the payload) so
    the full pipeline — schema, nullability, Arrow round-trip — is
    exercised identically on codec-less containers."""
    if _HAS_CODECS:  # pragma: no cover — PIL absent in this container
        import io

        from PIL import Image

        try:
            with Image.open(io.BytesIO(payload)) as img:
                return int(img.width), int(img.height)
        except Exception:
            return None, None  # undecodable payload → null dims
    h = hashlib.md5(payload).digest()
    return 1 + h[0] % 64, 1 + h[1] % 64


def extract_features(media: DataFrame, batch_size: int = 1024) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    mapInPandas streams Arrow batches through the Python worker —
    payload bytes never materialize on the driver and never pickle
    row-at-a-time. Arrow's own batch size tops out at
    spark.sql.execution.arrow.maxRecordsPerBatch (10k default) —
    far too many rows when each payload is megabytes — so the kernel
    additionally re-slices every incoming batch to `batch_size` rows,
    bounding worker memory to ~batch_size × payload bytes.
    """

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for big in batches:
          for lo in range(0, len(big), batch_size):
            pdf = big.iloc[lo : lo + batch_size]
            payloads = pdf["payload"]
            dims = [_decode_image(p) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "checksum": payloads.map(
                        lambda b: hashlib.md5(b).hexdigest()
                    ),
                    "width": pd.array([d[0] for d in dims], dtype="Int32"),
                    "height": pd.array([d[1] for d in dims], dtype="Int32"),
                }
            )

    return media.mapInPandas(kernel, feature_schema())


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """Frame-sampling stub shaped like video keyframe extraction:
    1 row in → N sampled 'frames' out (here: byte-offset windows),
    demonstrating the explode-shaped mapInPandas contract real video
    sampling uses (1 clip → k frames)."""
    schema = StructType(
        [
            StructField("media_id", LongType(), False),
            StructField("frame_idx", IntegerType(), False),
            StructField("frame_bytes", BinaryType(), False),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_finders()
        for pdf in batches:
            out: dict[str, list] = {"media_id": [], "frame_idx": [], "frame_bytes": []}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, off in enumerate(range(0, len(payload), every_n_bytes)):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame_bytes"].append(payload[off : off + every_n_bytes])
            yield pd.DataFrame(out)

    return media.mapInPandas(kernel, schema)
