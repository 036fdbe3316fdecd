"""Round-2 additions: connected-component dedup clusters and Z-order
multi-column clustering."""

from __future__ import annotations

import pytest

from lcmap_firebird_spark.operators import dedup as D
from lcmap_firebird_spark.operators.zorder import sql_zvalue, zvalue


# --- dedup_clusters ---------------------------------------------------------


def _clusters(spark, edges, all_ids=None):
    pairs = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    ids = (
        spark.createDataFrame([(i,) for i in all_ids], ["doc_id"])
        if all_ids is not None
        else None
    )
    return {
        r.doc_id: (r.cluster_id, r.is_keeper)
        for r in D.dedup_clusters(pairs, all_ids=ids).collect()
    }


def test_clusters_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain plus isolated pair 10-11 → two components
    got = _clusters(spark, [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)])
    assert {d: c for d, (c, _) in got.items()} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10,
    }
    assert got[1][1] and got[10][1]  # component minima are keepers
    assert not got[2][1] and not got[11][1]


def test_clusters_long_path_converges(spark):
    # a 64-node path exercises pointer jumping (O(log n) rounds must
    # suffice within the max_iter cap)
    edges = [(i, i + 1) for i in range(64)]
    got = _clusters(spark, edges)
    assert all(c == 0 for c, _ in got.values())


def test_clusters_singletons_from_all_ids(spark):
    got = _clusters(spark, [(1, 2)], all_ids=[1, 2, 7, 9])
    assert got[7] == (7, True) and got[9] == (9, True)
    assert got[2] == (1, False)


# --- zorder -----------------------------------------------------------------


def test_zvalue_interleaves_bits(spark):
    df = spark.createDataFrame([(0b1010, 0b0110)], ["x", "y"])
    (got,) = df.select(zvalue(["x", "y"], bits=4).alias("z")).collect()
    # bit (b*2)   = bit b of x → 1010 → bits 6,2 set
    # bit (b*2+1) = bit b of y → 0110 → bits 5,3 set
    assert got.z == (1 << 6) | (1 << 2) | (1 << 5) | (1 << 3)


def test_zvalue_matches_duckdb(spark, oracle, sf_dir):
    import duckdb

    con = duckdb.connect()
    want = con.execute(
        f"SELECT {sql_zvalue(['x', 'y'], 8)} FROM (VALUES (37, 201)) t(x, y)"
    ).fetchone()[0]
    (got,) = (
        spark.createDataFrame([(37, 201)], ["x", "y"])
        .select(zvalue(["x", "y"], 8).alias("z"))
        .collect()
    )
    assert got.z == want


def test_zvalue_rejects_overflow():
    with pytest.raises(ValueError):
        zvalue(["a", "b", "c", "d"], bits=16)  # 64 bits > signed range

