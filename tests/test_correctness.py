"""Every registered workload query must match the DuckDB oracle at sf0.001.

This is a local mirror of the verification driver's CORRECTNESS gate
(row count + column set + order-insensitive values).

Sharding (round 9, suite-hygiene): each query is marked with its FAMILY
(first name segment: ``family_tpch``, ``family_job``, ...) and with one of
four stable hash shards (``shard0``..``shard3``), so the sweep can split
across processes::

    pytest tests/test_correctness.py -m shard0   # ~¼ of the queries
    pytest tests/test_correctness.py -m family_tpcds

Shard assignment hashes the query NAME (md5, stable across runs and
machines — not Python's salted hash), so adding queries never reshuffles
existing ones between CI partitions except at the margin.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from duckdb_parachute_spark.testkit.compare import compare_frames
from duckdb_parachute_spark.workload import load_all

QUERIES = load_all()

N_SHARDS = 4


def _family(name: str) -> str:
    return name.split("_", 1)[0]


def _shard(name: str) -> int:
    return int(hashlib.md5(name.encode()).hexdigest(), 16) % N_SHARDS


_PARAMS = [
    pytest.param(
        n,
        marks=[
            getattr(pytest.mark, f"family_{_family(n)}"),
            getattr(pytest.mark, f"shard{_shard(n)}"),
        ],
    )
    for n in sorted(QUERIES)
]


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(name, spark, sf_dir, oracle):
    qd = QUERIES[name]
    spark_pdf = qd.fn(spark, sf_dir).toPandas()
    if qd.oracle is None:
        assert len(spark_pdf) >= 0  # rows-only check (driver behaves the same)
        return
    oracle_pdf = oracle.sql(qd.oracle)
    res = compare_frames(name, spark_pdf, oracle_pdf)
    assert res.ok, str(res)


#: Queries whose DuckDB oracle returns no rows on the default sf0.001 test
#: data: their oracle check compares nothing but the column set. A query
#: fixed to return rows leaves this list in the same change; a query whose
#: check becomes vacuous fails here instead of passing silently.
ZERO_ROW_ORACLES = {
    "cb_point_hash_offset",
    "cb_point_lookup",
    "dedup_embedding_neardup",
    "dedup_semantic_pairs",
    "dedup_semantic_probes",
    "join_anti_not_exists",
    "tpcds_q24_netpaid_threshold",
    "tpcds_q37_catalog_stock_items",
    "tpcds_q6_state_above_avg_price",
    "tpch_q11_important_stock",
    "tpch_q20_potential_promotion",
    "tpch_q21_suppliers_kept_waiting",
    "tpch_q22_global_sales_opportunity",
    "tpch_q7_volume_shipping",
}


def test_zero_row_oracles_are_pinned(sf_dir, oracle):
    # the set holds for one scale only (tpch_q7 returns rows at sf0.01)
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip(f"zero-row set pinned for sf0.001 data, not {sf_dir}")
    zero = {
        name for name, qd in QUERIES.items()
        if qd.oracle is not None and len(oracle.sql(qd.oracle)) == 0
    }
    assert zero == ZERO_ROW_ORACLES
