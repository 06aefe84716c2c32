"""Session-level settings that only show across many queries."""

from __future__ import annotations

import warnings
from datetime import date, datetime
from decimal import Decimal

import pytest
from pyspark.core.rdd import RDD
from pyspark.errors import PySparkTypeError
from pyspark.sql import Row

from duckdb_parachute_spark.session import get_session, install_local_rows_shim
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


def _lineage(df) -> str:
    return df._jdf.queryExecution().toRdd().toDebugString()


def test_local_rows_reach_the_jvm_without_a_python_worker(spark):
    # PySpark's own method adds an identity-map PythonRDD here
    df = spark.createDataFrame([(i, str(i)) for i in range(100)], "a bigint, b string")
    assert "PythonRDD[" not in _lineage(df)
    assert df.count() == 100


LOCAL_ROWS_CASES = {
    "nulls": ([(1, None), (None, "b"), (None, None)], "a int, b string"),
    "decimal": ([(Decimal("1.50"),), (Decimal("-1234567890123456.78"),), (None,)], "d decimal(18,2)"),
    "date": ([(date(2020, 2, 29),), (date(1, 1, 1),), (None,)], "d date"),
    "timestamps": (
        [(datetime(2020, 1, 1, 12, 30, 45, 123456), datetime(1999, 12, 31, 23, 59, 59, 999999)),
         (None, None)],
        "t timestamp, n timestamp_ntz",
    ),
    "binary": ([(b"\x00\x01\xff",), (bytearray(b"ab"),), (None,)], "b binary"),
    "array_with_nulls": ([([1, None, 3],), ([],), (None,)], "a array<int>"),
    "map_of_arrays": (
        [({"x": [1.0, None], "y": []},), ({},), (None,)],
        "m map<string,array<double>>",
    ),
    "struct": ([((1, "a"),), (Row(i=2, t=None),), (None,)], "s struct<i:int,t:string>"),
    "row_objects": ([Row(a=1, b="x"), Row(a=None, b="y")], "a int, b string"),
    "dict_rows": ([{"a": 1, "b": "x"}, {"a": 2, "b": None}], "a int, b string"),
    "empty": ([], "a int, b string"),
    "5000_rows": ([(i, str(i), i / 7) for i in range(5000)], "a bigint, b string, c double"),
    "nan": ([(float("nan"),), (float("inf"),), (-0.0,)], "f double"),
    "tinyint": ([(127,), (-128,), (None,)], "t tinyint"),
}


@pytest.mark.parametrize("case", sorted(LOCAL_ROWS_CASES))
def test_local_rows_match_pyspark_stock_method(spark, monkeypatch, case):
    data, ddl = LOCAL_ROWS_CASES[case]
    df = spark.createDataFrame(data, ddl)
    got = (df.schema, df.collect())
    with monkeypatch.context() as m:
        m.setattr(RDD, "_to_java_object_rdd", RDD._to_java_object_rdd.stock)
        stock_df = spark.createDataFrame(data, ddl)
        want = (stock_df.schema, stock_df.collect())
    assert "PythonRDD[" in _lineage(stock_df)
    # repr: NaN is not equal to itself
    assert repr(got) == repr(want)
    assert df.rdd.getNumPartitions() == stock_df.rdd.getNumPartitions()


def test_local_rows_type_mismatch_still_raises(spark):
    with pytest.raises(PySparkTypeError):
        spark.createDataFrame([("not an int",)], "a int")


def test_python_rdd_to_dataframe_still_works(spark):
    rdd = spark.sparkContext.parallelize([(1, "a"), (2, "b")]).map(lambda r: (r[0] * 10, r[1]))
    assert rdd.toDF("a bigint, b string").orderBy("a").collect() == [Row(a=10, b="a"), Row(a=20, b="b")]


def test_local_rows_shim_installs_once(spark):
    shim = RDD._to_java_object_rdd
    assert install_local_rows_shim() and install_local_rows_shim()
    assert RDD._to_java_object_rdd is shim
    assert not hasattr(shim.stock, "stock")


def test_local_rows_shim_engages_on_installed_pyspark(spark, monkeypatch):
    # Fails when a PySpark upgrade renames the method, moves the serializer
    # classes or stops `_create_dataframe` from calling the method: a red
    # test instead of a silent slowdown.
    from pyspark.serializers import BatchedSerializer, CPickleSerializer

    shim = RDD._to_java_object_rdd
    assert hasattr(shim, "stock"), "RDD._to_java_object_rdd is PySpark's own"
    seen = []

    def spy(self):
        seen.append(self._jrdd_deserializer)
        return shim(self)

    monkeypatch.setattr(RDD, "_to_java_object_rdd", spy)
    df = spark.createDataFrame([(1, "a")], "a int, b string")
    assert df.collect() == [Row(a=1, b="a")]
    assert len(seen) == 1, "createDataFrame no longer calls RDD._to_java_object_rdd"
    assert type(seen[0]) is BatchedSerializer
    assert type(seen[0].serializer) is CPickleSerializer


def test_get_session_warns_only_for_an_override_it_cannot_apply(spark):
    # a static conf cannot change on a live session: an override equal to
    # its value is already in force and stays quiet, a different one warns;
    # int and bool overrides compare in the builder's string spelling
    kw = dict(
        master=spark.sparkContext.master,
        shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    started = spark.sparkContext.getConf()
    memory = started.get("spark.driver.memory")
    entries = int(started.get("spark.sql.codegen.cache.maxEntries"))
    ui = started.get("spark.ui.enabled") == "true"
    cases = {
        "spark.driver.memory": (memory, "3g" if memory != "3g" else "5g"),
        "spark.sql.codegen.cache.maxEntries": (entries, entries + 1),
        "spark.ui.enabled": (ui, not ui),
    }
    try:
        for key, (same, other) in cases.items():
            for value, warns in ((same, False), (other, True)):
                with warnings.catch_warnings(record=True) as caught:
                    warnings.simplefilter("always")
                    get_session(**kw, extra_conf={key: value})
                unapplied = [
                    w for w in caught if issubclass(w.category, RuntimeWarning) and key in str(w.message)
                ]
                assert bool(unapplied) == warns, (key, value, [str(w.message) for w in caught])
    finally:
        # getOrCreate copies a builder's core confs into the live session's
        # SQL conf without applying them; put the readable values back
        for key in cases:
            spark._jsparkSession.sessionState().conf().setConfString(key, started.get(key))
