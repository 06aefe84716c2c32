"""Session-level settings that only show across many queries."""

from __future__ import annotations

from duckdb_parachute_spark.workload import load_all

#: The benchmark's `read_sf01` operations plus four TPC-H queries: together
#: more distinct generated classes than Spark's default 100-entry cache holds.
CODEGEN_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "join_bucketed_big_big",
    "dialect_qualify",
    "recursive_cte_graph_reach",
    "dedup_minhash_pairs",
    "sim_lsh_topk",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
]


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty the JVM-wide generated-class cache (a private static field), so
    the first pass below compiles its classes whatever ran before it."""
    jvm = spark._jvm
    holder = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = holder.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(None).invalidateAll()


def test_codegen_cache_compiles_each_class_once(spark, sf_dir):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "8192"
    registry = load_all()
    # join_bucketed_big_big writes its bucketed tables on first build
    # (amortized set-up); do that before counting.
    registry["join_bucketed_big_big"].fn(spark, sf_dir)
    _clear_codegen_cache(spark)

    per_pass = []
    for _ in range(2):
        before = _compiles(spark)
        for name in CODEGEN_QUERIES:
            registry[name].fn(spark, sf_dir).collect()
        per_pass.append(_compiles(spark) - before)
    assert per_pass[0] > 100, per_pass
    assert per_pass[1] == 0, per_pass


def test_dataframe_call_site_capture_is_off(spark):
    # each conf collects a stack trace on every DataFrame call; off, error
    # messages lose their DataFrame call-site section
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert spark.conf.get("spark.sql.dataFrameQueryContext.enabled") == "false"
