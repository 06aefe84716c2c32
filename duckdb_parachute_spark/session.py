"""Session factory with scale-oriented defaults.

The reference engine (DuckDB) gets its parallelism from shared-memory
morsel-driven pipelines (reference: src/parallel/executor.cpp:387,
src/parallel/task_scheduler.cpp:283). The Spark analogue is tasks over file
splits plus shuffles at exchange boundaries, so the session defaults below
focus on what DuckDB gets for free and Spark gates behind configs:

- AQE (runtime re-planning ≈ DuckDB's adaptive build/probe side choice,
  reference: src/optimizer/build_probe_side_optimizer.cpp),
- CBO + join reorder (≈ DuckDB's DP join ordering, reference:
  src/optimizer/join_order/plan_enumerator.cpp:318),
- runtime bloom filters + dynamic partition pruning (≈ DuckDB's
  join-filter pushdown, reference:
  src/optimizer/join_filter_pushdown_optimizer.cpp:149),
- ANSI mode (≈ DuckDB's overflow-checked arithmetic, reference:
  src/common/operator/add.cpp-style checked ops),
- UTC session timezone + NTZ parquet timestamps for deterministic
  timestamp semantics matching the reference's naive TIMESTAMP,
- a codegen class cache sized to the registry's working set. DuckDB
  interprets every plan (vectorized `DataChunk`s), so it never compiles;
  Spark compiles each whole-stage class with Janino and keeps the classes
  in one JVM-wide LRU (`spark.sql.codegen.cache.maxEntries`, default 100).
  The seven `read_sf01` benchmark operations alone generate about 130
  distinct classes, so at 100 entries the LRU thrashes and every steady
  pass recompiles 106-130 of them (460-530 ms of Janino per pass on 4
  cores). The 538 registry queries at sf0.001 generate about 4,500
  distinct classes; 8192 is the next power of two, so a session compiles
  each class once. Holding the whole registry costs 20-30 MB of
  metaspace (218 -> 248 MB after one sweep). It stays bounded because
  DML compiles literal-specialized classes that would otherwise pile up
  in a long-lived session. The same static conf sizes each executor's
  cache on a cluster,
- no DataFrame call-site capture. Spark collects a stack trace on every
  DataFrame call for two confs, both on by default:
  `spark.python.sql.dataFrameDebugging.enabled` (static; each wrapped
  PySpark call also pays `getActiveSession`, `conf.get` and origin
  set/clear Py4J round trips) and `spark.sql.dataFrameQueryContext.enabled`
  (runtime). With both off, a `read_sf01` benchmark operation makes about
  500 Py4J round trips instead of about 930. The trade: error messages
  lose their DataFrame call-site section (which PySpark line built the
  failing expression); the error class and message text are unchanged,
- local rows handed straight to the JVM. `createDataFrame` over a Python
  list pickles the rows into `parallelize` batches
  (`BatchedSerializer(CPickleSerializer(), n)`); PySpark's
  `RDD._to_java_object_rdd` finds that serializer unequal to its
  `AutoBatchedSerializer(CPickleSerializer())` and adds an identity `map`,
  so every partition of a local list ran a Python worker only to re-pickle
  the same lists, although `SerDeUtil.pythonToJava(jrdd, batched=True)`
  unpickles the lists of either. `install_local_rows_shim` sends such an
  RDD's `_jrdd` straight to `pythonToJava`; every other RDD keeps
  PySpark's method. A 200-row `createDataFrame` plus parquet write took
  0.096 / 0.142 s (min / median) instead of 0.212 / 0.282 s, and a
  `write_mix` benchmark run starts no Python worker. Plan (`LogicalRDD`),
  partitioning, Python-side `verifySchema` and rows are unchanged. The
  trade: the shim patches a private PySpark method for the whole process
  (every session in it). It checks for what it relies on and leaves
  PySpark alone when that is missing, and `tests/test_session.py` fails
  when an upgrade stops it from engaging.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession
from pyspark.sql.utils import to_str

#: Dynamic (runtime-settable) confs that query code may rely on. Applied both
#: at session build time and defensively by `apply_runtime_conf` when we are
#: handed an externally created session (e.g. the verification driver's).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.cbo.joinReorder.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.dynamicPartitionPruning.enabled": "true",
    # The driver testdata's events table stores TIMESTAMP(NANOS) which the
    # vanilla Spark parquet reader rejects; read as long + convert (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive parquet timestamps -> TIMESTAMP_NTZ: timezone-free semantics that
    # match the reference's TIMESTAMP type exactly.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 100 TB posture: partial aggregation pushed into the scan where possible.
    "spark.sql.parquet.aggregatePushdown": "true",
    # DuckDB map_concat / map literals keep the LAST duplicate key
    # (measured: map_concat({'a':1},{'a':9}) = {'a':9}); Spark's default
    # EXCEPTION would throw instead (round 12).
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    # no stack trace per DataFrame call (module docstring)
    "spark.sql.dataFrameQueryContext.enabled": "false",
}


def install_local_rows_shim() -> bool:
    """Hand pickle-batched RDDs to the JVM without a Python worker (module
    docstring). Idempotent; returns whether the shim is in place."""
    try:
        from pyspark.core.rdd import RDD
        from pyspark.serializers import (
            AutoBatchedSerializer,
            BatchedSerializer,
            CPickleSerializer,
        )
    except ImportError:
        return False
    stock = getattr(RDD, "_to_java_object_rdd", None)
    if stock is None:
        return False
    if hasattr(stock, "stock"):
        return True

    def _to_java_object_rdd(self):
        ser = self._jrdd_deserializer
        if (
            type(ser) in (BatchedSerializer, AutoBatchedSerializer)
            and type(ser.serializer) is CPickleSerializer
        ):
            return self.ctx._jvm.SerDeUtil.pythonToJava(self._jrdd, True)
        return stock(self)

    _to_java_object_rdd.stock = stock
    RDD._to_java_object_rdd = _to_java_object_rdd
    return True


def default_parallelism() -> int:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus and cpus.isdigit():
        return int(cpus)
    return os.cpu_count() or 8


def get_session(
    app_name: str = "duckdb-parachute-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``); on a real cluster callers pass their own master/deploy
    config and only the SQL-level confs here matter.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    nshuffle = shuffle_partitions or default_parallelism()

    builder = SparkSession.builder.appName(app_name).master(master)
    static_conf = {
        "spark.sql.shuffle.partitions": str(nshuffle),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "24g"),
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
        # At 100 TB: 128 MB splits keep task counts sane; local runs are
        # unaffected (files are small).
        "spark.sql.files.maxPartitionBytes": "134217728",
        # Read once per JVM when codegen first runs; sizing in the module
        # docstring.
        "spark.sql.codegen.cache.maxEntries": "8192",
        # no stack trace per DataFrame call (module docstring)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    for k, v in {**static_conf, **RUNTIME_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    apply_runtime_conf(spark)
    # Caller overrides win over RUNTIME_CONF defaults even when the session
    # already existed (getOrCreate ignores builder confs then) — e.g. the
    # bench harness passing a data-scaled adaptive.enabled (scaled_adaptive).
    for k, v in (extra_conf or {}).items():
        try:
            spark.conf.set(k, v)
        except Exception as exc:  # static conf on a live session (e.g. driver.memory)
            # the builder stored to_str(v): compare in that spelling
            if spark.sparkContext.getConf().get(k, None) == to_str(v):
                continue  # in force: the JVM started with it (a new session)
            warnings.warn(
                f"get_session: override {k}={v!r} not applied to pre-existing "
                f"session (not runtime-settable): {exc}",
                RuntimeWarning,
                stacklevel=2,
            )
    return spark


def apply_runtime_conf(spark: SparkSession, force: bool = False) -> SparkSession:
    """Best-effort apply dynamic confs to an existing session.

    Used when an external harness hands us its own SparkSession: every conf in
    RUNTIME_CONF is runtime-settable in Spark 4.x, but we tolerate failures so
    a locked-down session still works for most queries.

    Static confs cannot be changed once the JVM has started, so a session
    created outside `get_session` (e.g. the verification driver's) keeps
    whatever its `SparkSession.builder` set: by default Spark's 100-entry
    codegen class cache, which recompiles generated classes once a
    workload's working set outgrows it (module docstring).

    Applied once per session (each conf.set is a py4j round-trip; hot paths
    like catalog.load_table call this defensively). ``force=True`` re-applies,
    e.g. after a test deliberately flipped one of these confs. Installs
    `install_local_rows_shim` too, so an external session gets it.
    """
    install_local_rows_shim()
    if not force and getattr(spark, "_parachute_conf_applied", False):
        return spark
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    try:
        spark._parachute_conf_applied = True
    except Exception:
        pass
    return spark


def scaled_shuffle_partitions(data_dir: str, floor: int = 8, ceiling: int = 2000) -> int:
    """Shuffle partition count sized to the data, not the machine.

    The rule that holds from laptop to cluster: target ~64 MB of input per
    shuffle partition (reference analogue: DuckDB sizes morsels to fixed row
    counts, src/parallel/task_scheduler.cpp — same idea, constant work per
    unit of parallelism). A 25 MB scale factor gets the floor (fewer, fuller
    partitions — task scheduling dominates below that); 100 TB gets the
    ceiling (AQE coalesces further at runtime). Callers pass the input
    directory; unknown/missing dirs fall back to core count."""
    import os

    try:
        total = 0
        for root, _, files in os.walk(data_dir):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
        if total == 0:
            return default_parallelism()
        return max(floor, min(ceiling, max(default_parallelism() * (total > 2**33), total // (64 * 2**20))))
    except OSError:
        return default_parallelism()


def _dir_bytes(data_dir: str) -> int:
    import os

    total = 0
    try:
        for root, _, files in os.walk(data_dir):
            for f in files:
                if f.endswith(".parquet"):
                    total += os.path.getsize(os.path.join(root, f))
    except OSError:
        pass
    return total


def scaled_adaptive(data_dir: str, threshold_bytes: int = 2**31) -> str:
    """AQE on/off sized to the data — the same dial-by-data philosophy as
    `scaled_shuffle_partitions`, applied to adaptive execution.

    AQE's mechanism is materializing every exchange as its own job boundary
    so it can re-plan on observed statistics. Each materialization costs a
    driver scheduling round (~0.05-0.15 s in local mode); its payoff —
    coalescing thousands of shuffle partitions, flipping sort-merge to
    broadcast, splitting skewed partitions — only exists when the input is
    big enough that those mistakes would cost more than the scheduling
    rounds. Below ~2 GiB of input, shuffle partitions are already sized to
    the data (scaled_shuffle_partitions), every dimension that should
    broadcast is hinted (catalog.maybe_broadcast), and AQE has nothing left
    to adapt: measured at sf0.1 it costs 11 % of suite wall-clock (BASELINE
    §round-8) for zero plan change. A 100 TB input gets "true"
    unconditionally — runtime re-plan is the scale story (session module
    docstring) — so the default threshold only ever disables AQE on
    interactive/sub-scale runs."""
    return "false" if 0 < _dir_bytes(data_dir) < threshold_bytes else "true"
