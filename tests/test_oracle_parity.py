"""The correctness gate, run locally: every queries() entry with an
oracle must hash-match its DuckDB twin (exact values, order- and
column-order-insensitive) — the same comparison the driver records in
CORRECTNESS_r{N}.json."""

from __future__ import annotations

import pytest

from lcmap_firebird_spark.queries import merged
from .helpers import assert_parity, slow_enabled

QUERIES, ORACLES = merged()

# Default run: one representative per operator family (including the
# heaviest iterative/lakehouse/streaming members) so a broken operator
# family still goes red inside the driver's verify window; the full
# 50-query sweep runs under SPARK_GRAFT_SLOW=1 and is ALSO exactly
# what `tools/driver_sim.py` (the mandated pre-commit gate) and the
# driver's own CORRECTNESS harness execute (r12 VERDICT #2).
_REPRESENTATIVES = [
    "a4_pricing_summary",
    "j2_revenue_by_nation",
    "w1_rank_topk_per_group",
    "d3_minhash_lsh",
    "d7_clusters_pagerank",
    "d6_semdedup",
    "s3_knn_lsh",
    "t1_token_stats",
    "t2_lang_id_nb",
    "t3_quality_fingerprint",
    "x4_dsir_stratified",
    "x5_upsert",
    "st2_session_windows",
    "u5_ccd_segments",
    "m1_media_pipeline",
    "f6_semistructured",
]


@pytest.mark.parametrize(
    "name",
    sorted(QUERIES) if slow_enabled() else _REPRESENTATIVES,
)
def test_parity(name, spark, oracle, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    if name not in ORACLES:
        # rows-only check, like the driver's weaker path
        assert df.count() >= 0
        return
    assert_parity(df, oracle, ORACLES[name], name)
