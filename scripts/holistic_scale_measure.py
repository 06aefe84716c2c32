"""Holistic-aggregate scale paths, measured (round 14, VERDICT r13 next #2).

Re-runs the round-13 uncapped-group measurement (lineitem replicated x25
with shifted keys, GROUP BY l_linestatus) across the three spellings that
now exist:

  exact / unshared : the round-13 posture — every select item re-sorts the
                     collected group (pass disabled for the measurement)
  exact / shared   : rewrite_shared_holistics hoists the identical
                     sorted-collect span into one lateral column alias
  approx           : SET holistic_exact = false routes the percentile
                     family onto approx_percentile (fixed-size sketch,
                     map-side partial aggregation)

DuckDB bases: the same exact aggregates, and approx_quantile for the
approx row. Best-of-3 per cell. Prints a markdown table for BASELINE.md.

Usage: python scripts/holistic_scale_measure.py [FACTOR]   (default 25)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 25
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = f"/tmp/parachute_holistic/x{FACTOR}"
RUNS = int(os.environ.get("BENCH_RUNS", "3"))

# same-column percentile family: median+mad share one sorted-double span
# (hoisted), the two quantile_disc items share a second (raw) span
EXACT_SQL = """
SELECT l_linestatus,
       median(l_extendedprice) AS med,
       mad(l_extendedprice) AS mdev,
       quantile_disc(l_extendedprice, 0.25) AS q25,
       quantile_disc(l_extendedprice, 0.75) AS q75
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""
APPROX_SQL = """
SELECT l_linestatus,
       median(l_extendedprice) AS med,
       quantile_cont(l_extendedprice, 0.9) AS q90,
       quantile_disc(l_extendedprice, 0.25) AS q25
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""
DUCK_APPROX_SQL = """
SELECT l_linestatus,
       approx_quantile(l_extendedprice, 0.5) AS med,
       approx_quantile(l_extendedprice, 0.9) AS q90,
       approx_quantile(l_extendedprice, 0.25) AS q25
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""

# Round 15 (VERDICT r14 next #2): the hoist now applies per SELECT block,
# so the CTE-shaped corpus-stats pipeline — where real percentile queries
# live — shares one sort per group inside the CTE body.
CTE_SQL = """
WITH stats AS (
  SELECT l_linestatus,
         quantile_disc(l_extendedprice, 0.25) AS q25,
         quantile_disc(l_extendedprice, 0.5) AS q50,
         quantile_disc(l_extendedprice, 0.75) AS q75
  FROM lineitem GROUP BY l_linestatus
)
SELECT l_linestatus, q50, q75 - q25 AS iqr FROM stats ORDER BY l_linestatus
"""

# Round 15 (VERDICT r14 next #3): mad routed onto the two-pass sketch
# under holistic_exact=false; the exact spelling is the same text with
# the knob off. DuckDB base: its exact mad (DuckDB has no approx mad).
MAD_SQL = """
SELECT l_linestatus, mad(l_extendedprice) AS mdev
FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
"""

# Round 16 (VERDICT r15 next #5): the 3-group shape hides the sketch
# story — the HIGH-CARDINALITY regime (100k groups at 15 M rows) shows
# the crossover and, more importantly, the per-group STATE: the exact
# path's collected arrays vs the sketch state, read as the partial
# bytes crossing each exchange (agg_state_bytes).
HC_MAD_SQL = """
SELECT l_orderkey % 100000 AS g, mad(l_extendedprice) AS mdev
FROM lineitem GROUP BY l_orderkey % 100000
"""


def agg_state_bytes(spark, df) -> int:
    """Max 'shuffle bytes written' (bytes) across the LAST SQL
    execution's exchanges, from the shared SQLAppStatusStore — the
    partial-aggregate state crossing the wire (the exact path ships
    collected values, the routed path ships sketches). These aggregate
    paths (ObjectHashAggregate / SortAggregate) report no 'peak memory'
    metric, so the exchange size is the honest state proxy."""
    import re
    import time as _time

    df.collect()
    _time.sleep(2.0)  # the status store updates via an async listener
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    last = execs.apply(execs.size() - 1)
    ids = set()
    mseq = last.metrics()
    for i in range(mseq.size()):
        m = mseq.apply(i)
        if m.name() == "shuffle bytes written":
            ids.add(m.accumulatorId())
    vals = store.executionMetrics(last.executionId())
    it = vals.iterator()
    best = 0
    unit = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30}
    while it.hasNext():
        kv = it.next()
        if kv._1() not in ids:
            continue
        for num, u in re.findall(r"([\d.]+)\s*(B|KiB|MiB|GiB)", str(kv._2())):
            best = max(best, int(float(num) * unit[u]))
    return best


def replicate(spark) -> None:
    import shutil

    if os.path.isdir(os.path.join(OUT, "lineitem.parquet")):
        return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT)
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table

    li = load_table(spark, SRC, "lineitem")
    copies = spark.range(FACTOR).withColumnRenamed("id", "__copy")
    big = li.crossJoin(copies).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("__copy") * F.lit(10_000_000)
    ).drop("__copy")
    big.write.parquet(os.path.join(OUT, "lineitem.parquet"))


def best_of(f, runs=RUNS):
    f()
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        f()
        best = min(best, time.perf_counter() - t0)
    return best


def time_spark(spark, sf_dir: str) -> dict[str, float]:
    from duckdb_parachute_spark import sqlx
    from duckdb_parachute_spark.catalog import load_table

    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    out = {}
    # unshared: disable the hoist pass for the A/B
    idx = sqlx.REWRITES.index(sqlx.rewrite_shared_holistics)
    sqlx.REWRITES[idx] = lambda s, parts: s
    try:
        out["exact_unshared"] = best_of(lambda: sqlx.sql(spark, EXACT_SQL).collect())
    finally:
        sqlx.REWRITES[idx] = sqlx.rewrite_shared_holistics
    out["exact_shared"] = best_of(lambda: sqlx.sql(spark, EXACT_SQL).collect())
    # CTE shape: unshared (pass disabled) vs per-block hoist (round 15)
    sqlx.REWRITES[idx] = lambda s, parts: s
    try:
        out["cte_unshared"] = best_of(lambda: sqlx.sql(spark, CTE_SQL).collect())
    finally:
        sqlx.REWRITES[idx] = sqlx.rewrite_shared_holistics
    assert "__hs" in sqlx.transpile(CTE_SQL)
    out["cte_shared"] = best_of(lambda: sqlx.sql(spark, CTE_SQL).collect())
    # mad: exact collect vs routed two-pass sketch (round 15)
    out["mad_exact"] = best_of(lambda: sqlx.sql(spark, MAD_SQL).collect())
    out["hc_exact"] = best_of(lambda: sqlx.sql(spark, HC_MAD_SQL).collect())
    out["hc_exact_peak"] = agg_state_bytes(spark, sqlx.sql(spark, HC_MAD_SQL))
    sqlx.sql(spark, "SET holistic_exact = false")
    try:
        assert "approx_percentile" in sqlx.transpile(APPROX_SQL, spark.conf)
        out["approx"] = best_of(lambda: sqlx.sql(spark, APPROX_SQL).collect())
        mad_df = sqlx.sql(spark, MAD_SQL)
        plan = mad_df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan, "mad approx path must not collect"
        out["mad_approx"] = best_of(lambda: sqlx.sql(spark, MAD_SQL).collect())
        assert "collect_list" not in sqlx.transpile(HC_MAD_SQL, spark.conf)
        out["hc_approx"] = best_of(lambda: sqlx.sql(spark, HC_MAD_SQL).collect())
        out["hc_approx_peak"] = agg_state_bytes(spark, sqlx.sql(spark, HC_MAD_SQL))
    finally:
        sqlx.sql(spark, "SET holistic_exact = true")
    return out


def time_duckdb(sf_dir: str) -> dict[str, float]:
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    p = os.path.join(sf_dir, "lineitem.parquet")
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{src}')")
    return {
        "exact": best_of(lambda: con.execute(EXACT_SQL).fetchall()),
        "approx": best_of(lambda: con.execute(DUCK_APPROX_SQL).fetchall()),
        "cte": best_of(lambda: con.execute(CTE_SQL).fetchall()),
        "mad": best_of(lambda: con.execute(MAD_SQL).fetchall()),
        "hc_mad": best_of(lambda: con.execute(HC_MAD_SQL).fetchall()),
    }


def main() -> None:
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.session import scaled_shuffle_partitions

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_session(app_name="parachute-holistic", master=f"local[{cpus}]")
    replicate(spark)
    spark.stop()

    rows = {}
    for tag, sf_dir in [("1x", SRC), (f"{FACTOR}x", OUT)]:
        spark = get_session(
            app_name=f"parachute-holistic-{tag}", master=f"local[{cpus}]",
            shuffle_partitions=scaled_shuffle_partitions(sf_dir),
        )
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        s = time_spark(spark, sf_dir)
        spark.stop()
        d = time_duckdb(sf_dir)
        rows[tag] = (s, d)
        print(f"{tag}: spark={s} duckdb={d}", file=sys.stderr)

    print("\n| scale | Spark exact unshared | Spark exact shared | Spark approx "
          "| DuckDB exact | DuckDB approx_quantile |")
    print("|---|---|---|---|---|---|")
    for tag in ("1x", f"{FACTOR}x"):
        s, d = rows[tag]
        print(f"| {tag} | {s['exact_unshared']:.2f}s | {s['exact_shared']:.2f}s "
              f"| {s['approx']:.2f}s | {d['exact']:.2f}s | {d['approx']:.2f}s |")
    print("\n| scale | Spark CTE unshared | Spark CTE hoisted | DuckDB CTE "
          "| Spark mad exact | Spark mad approx | DuckDB mad exact |")
    print("|---|---|---|---|---|---|---|")
    for tag in ("1x", f"{FACTOR}x"):
        s, d = rows[tag]
        print(f"| {tag} | {s['cte_unshared']:.2f}s | {s['cte_shared']:.2f}s "
              f"| {d['cte']:.2f}s | {s['mad_exact']:.2f}s | {s['mad_approx']:.2f}s "
              f"| {d['mad']:.2f}s |")
    print("\n| scale | groups | Spark mad exact | shuffled state | Spark mad routed "
          "| shuffled state | DuckDB mad exact |")
    print("|---|---|---|---|---|---|---|")
    for tag in ("1x", f"{FACTOR}x"):
        s, d = rows[tag]
        print(f"| {tag} | 100k | {s['hc_exact']:.2f}s "
              f"| {s['hc_exact_peak'] / 2**20:.0f} MiB | {s['hc_approx']:.2f}s "
              f"| {s['hc_approx_peak'] / 2**20:.0f} MiB | {d['hc_mad']:.2f}s |")


if __name__ == "__main__":
    main()
