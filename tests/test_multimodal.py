"""Multimodal kernel contracts: batch shape, schema, determinism."""

from __future__ import annotations

import pytest

from lcmap_firebird_spark.operators import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [(1, "short"), (2, "x" * 100), (3, "body " * 40)], ["doc_id", "text"]
    )
    return M.to_media_table(docs)


def test_media_table_schema(media):
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,payload:binary,media_type:string,n_bytes:bigint>"
    )
    rows = {r.media_id: r for r in media.collect()}
    assert rows[2].n_bytes == 100
    assert bytes(rows[1].payload) == b"short"


def test_extract_features_deterministic(media):
    a = sorted(map(tuple, M.extract_features(media).collect()))
    b = sorted(map(tuple, M.extract_features(media).collect()))
    assert a == b
    by_id = {r[0]: r for r in a}
    assert by_id[1][1] == 5  # n_bytes
    assert len(by_id[1][2]) == 32  # md5 hex checksum
    assert by_id[1][3] is not None and by_id[1][4] is not None  # stub dims


def test_frame_sample_explodes(media):
    frames = M.frame_sample(media, every_n_bytes=50).collect()
    by_id: dict[int, list] = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id[1]) == 1  # 5 bytes → 1 frame
    assert len(by_id[2]) == 2  # 100 bytes → 2×50
    assert [r.frame_idx for r in sorted(by_id[2], key=lambda r: r.frame_idx)] == [0, 1]
