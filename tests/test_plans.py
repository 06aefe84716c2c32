"""Plan-quality regression tests (SURVEY §4 posture): pushed filters, pruned
columns, broadcast dimensions, bounded shuffles — the properties that keep the
headline queries scale-safe. AQE is disabled for these assertions so the
static plan is inspected deterministically (AQE only improves it at runtime).
"""

from __future__ import annotations

import pytest

from duckdb_parachute_spark.plans import assert_plan
from duckdb_parachute_spark.workload import load_all


@pytest.fixture(scope="module")
def no_aqe(spark):
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    yield spark
    spark.conf.set("spark.sql.adaptive.enabled", "true")


def _q(name, spark, sf_dir):
    return load_all()[name].fn(spark, sf_dir)


def test_q1_scan_agg_plan(no_aqe, spark, sf_dir):
    # scan+filter+partial/final agg: exactly the one agg shuffle; the
    # l_shipdate predicate must reach the parquet reader; only the 7 needed
    # columns read.
    s = assert_plan(
        _q("tpch_q1_pricing_summary", spark, sf_dir),
        max_shuffles=1,
        require_pushed_filters=True,
        max_scan_columns=7,
    )
    # map-side combine: partial aggregates must run before the exchange
    from duckdb_parachute_spark.plans import physical_plan
    assert "partial_sum" in physical_plan(_q("tpch_q1_pricing_summary", spark, sf_dir), mode="simple")


def test_q3_broadcast_dims(no_aqe, spark, sf_dir):
    # orders and customer broadcast; lineitem shuffles once for the agg.
    assert_plan(
        _q("tpch_q3_shipping_priority", spark, sf_dir),
        max_shuffles=1,
        min_broadcasts=2,
        require_pushed_filters=True,
    )


def test_q5_single_fact_shuffle(no_aqe, spark, sf_dir):
    # 6-table star: every dimension broadcasts; the fact table shuffles once
    # (orders⋈lineitem equi-join is broadcast after the date filter at this
    # SF; at larger SF AQE decides — the invariant is ≤2 data shuffles).
    assert_plan(
        _q("tpch_q5_local_supplier_volume", spark, sf_dir),
        max_shuffles=2,
        min_broadcasts=3,
        require_pushed_filters=True,
    )


def test_minhash_bounded_shuffles(no_aqe, spark, sf_dir):
    # signature scan (cached) -> band groupBy -> pair distinct: ≤3 shuffles,
    # no cross joins, no O(n²) anywhere.
    s = assert_plan(
        _q("dedup_minhash_pairs", spark, sf_dir),
        max_shuffles=3,
    )
    assert "CartesianProduct" not in s.text and "BroadcastNestedLoop" not in s.text


def test_asof_single_shuffle(no_aqe, spark, sf_dir):
    # the union+window rewrite: exactly one shuffle of (L+R) on the partition
    # keys, never a range-join explosion.
    s = assert_plan(_q("join_asof_purchase", spark, sf_dir), max_shuffles=2)
    assert "CartesianProduct" not in s.text


def test_topk_uses_take_ordered(no_aqe, spark, sf_dir):
    s = assert_plan(_q("limit_offset_topn", spark, sf_dir))
    assert "TakeOrderedAndProject" in s.text


def test_bucketed_join_no_shuffle(no_aqe, spark, sf_dir):
    # Co-located join: both sides bucketed on the join key with equal bucket
    # counts -> SortMergeJoin with ZERO exchanges (each bucket pairs 1:1).
    # This is the 100 TB fact-fact join strategy when broadcast is impossible.
    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.plans import assert_plan
    from duckdb_parachute_spark.sources import write_bucketed

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(o.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"], 8)
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_lineitem").join(
            spark.table("b_orders"),
            spark.table("b_lineitem").l_orderkey == spark.table("b_orders").o_orderkey,
        )
        s = assert_plan(joined, max_shuffles=0)
        assert "SortMergeJoin" in s.text or "ShuffledHashJoin" in s.text
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_iejoin_no_nested_loop(no_aqe, spark, sf_dir):
    # Two-inequality join must take the bin-replicated equi path: a real hash
    # or sort-merge join on the bin key, never an O(n^2) fallback
    # (reference physical_iejoin.cpp's job, distributed).
    s = assert_plan(_q("join_iejoin_two_inequalities", spark, sf_dir))
    assert "BroadcastNestedLoop" not in s.text
    assert "CartesianProduct" not in s.text
    assert any(j in s.text for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"))


def test_inequality_join_outlier_clamped(spark):
    # A left row FAR below the right range must not expand one bin per unit
    # of the gap: the sequence start clamps to the right min bin, so the
    # fan-out stays bounded by the right side's span while results match.
    import pytest as _pytest
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.operators.rangejoin import inequality_join

    a = spark.createDataFrame(
        [(0, -1_000_000.0)] + [(i, float(i)) for i in range(1, 5)], "ka long, xa double"
    )
    b = spark.createDataFrame([(j, float(j)) for j in range(5)], "kb long, xb double")
    fast = inequality_join(a, b, a.xa, b.xb, bin_width=1.0)
    naive = a.join(b, a.xa < b.xb)
    assert sorted((r.ka, r.kb) for r in fast.collect()) == sorted(
        (r.ka, r.kb) for r in naive.collect()
    )
    # and a bin width that would need >1M bins is rejected up front
    wide = spark.createDataFrame([(0, 0.0), (1, 2e9)], "kb long, xb double")
    with _pytest.raises(ValueError, match="bins"):
        inequality_join(a, wide, a.xa, F.col("xb"), bin_width=1.0)


def test_inequality_join_matches_naive(spark):
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.operators.rangejoin import inequality_join

    a = spark.createDataFrame([(i, float(i % 7)) for i in range(40)], "ka long, xa double")
    b = spark.createDataFrame([(j, float(j % 5)) for j in range(40)], "kb long, xb double")
    fast = inequality_join(a, b, a.xa, b.xb, bin_width=2.0)
    naive = a.join(b, a.xa < b.xb)
    assert sorted((r.ka, r.kb) for r in fast.collect()) == sorted(
        (r.ka, r.kb) for r in naive.collect()
    )
    # non-strict + extra predicate
    fast2 = inequality_join(a, b, a.xa, b.xb, bin_width=2.0, strict=False, extra=a.ka > b.kb)
    naive2 = a.join(b, (a.xa <= b.xb) & (a.ka > b.kb))
    assert fast2.count() == naive2.count()


def test_ivf_index_partition_pruning(no_aqe, spark, sf_dir, tmp_path):
    # The persisted IVF index is partitioned by centroid_id; a probe's isin
    # filter must become a PartitionFilter (directory pruning at planning
    # time) and physically read fewer files than the index holds.
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.plans import physical_plan
    from duckdb_parachute_spark.similarity import ivf_build_centroids, write_ivf_index

    e = load_table(spark, sf_dir, "embeddings")
    cents_rows = ivf_build_centroids(e, n_centroids=8, iters=1).collect()
    cents = spark.createDataFrame(cents_rows, "centroid_id int, centroid array<double>")
    path = str(tmp_path / "ivf_idx")
    write_ivf_index(e, cents, path)

    pruned = spark.read.parquet(path).where(F.col("centroid_id").isin([1, 2]))
    plan = physical_plan(pruned)
    assert "PartitionFilters" in plan and "centroid_id" in plan

    n_all = spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    n_read = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < n_read < n_all


def test_lsh_index_probe_matches_flyweight(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.similarity import lsh_topk, lsh_topk_indexed, write_lsh_index

    e = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).head().embedding]
    path = str(tmp_path / "lsh_idx")
    write_lsh_index(e, path, num_planes=4, seed=7)
    idx_ids = {r.vec_id for r in lsh_topk_indexed(spark, path, qv, 10, num_planes=4, seed=7).collect()}
    fly_ids = {r.vec_id for r in lsh_topk(e, qv, 10, num_planes=4, num_tables=1).collect()}
    assert idx_ids == fly_ids and len(idx_ids) == 10


def test_lsh_topk_plan_has_no_round_robin_exchange(no_aqe, spark, sf_dir):
    # a repartition ahead of the bucket UDF buys nothing: Catalyst pushes
    # the UDF's filter below the round-robin exchange, so the UDF still runs
    # in the scan's tasks and the shuffle is pure cost
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.plans import physical_plan
    from duckdb_parachute_spark.similarity import lsh_topk

    e = load_table(spark, sf_dir, "embeddings")
    qv = [float(x) for x in e.where(F.col("vec_id") == 0).head().embedding]
    plan = physical_plan(lsh_topk(e, qv, 10, num_planes=4, num_tables=16))
    assert "ArrowEvalPython" in plan
    assert "RoundRobinPartitioning" not in plan, plan


def test_broadcast_gate_both_postures(no_aqe, spark, sf_dir, monkeypatch):
    # The size gate (catalog.maybe_broadcast): at test SF the sf-scaling dims
    # are tiny, so the hint stays and the star join broadcasts; with the cap
    # forced to 0 (emulating the 100 TB regime where customer/part/supplier
    # exceed any broadcast budget) the SAME query builds a shuffle join —
    # no unconditional broadcast of a scale-growing table survives.
    from duckdb_parachute_spark.plans import physical_plan

    hinted = physical_plan(_q("tpch_q3_shipping_priority", spark, sf_dir))
    assert "BroadcastHashJoin" in hinted
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_CAP", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = physical_plan(_q("tpch_q3_shipping_priority", spark, sf_dir))
        assert "SortMergeJoin" in gated or "ShuffledHashJoin" in gated
        assert "BroadcastHashJoin" not in gated
        # q5 keeps fixed-cardinality (nation/region) broadcastable by policy,
        # but none of customer/supplier/part may be hinted over the cap.
        gated5 = physical_plan(_q("tpch_q5_local_supplier_volume", spark, sf_dir))
        assert "SortMergeJoin" in gated5 or "ShuffledHashJoin" in gated5
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_broadcast_gate_metamorphic_results(no_aqe, spark, sf_dir, monkeypatch):
    # The gate must change ONLY the physical plan, never the results: the
    # same query under hinted (default cap) and gated-off (cap=0) postures
    # returns identical rows.
    def rows(name):
        return sorted(map(tuple, _q(name, spark, sf_dir).collect()))

    hinted = {n: rows(n) for n in ("tpch_q5_local_supplier_volume", "tpch_q9_product_type_profit")}
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_CAP", "0")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for n, want in hinted.items():
            assert rows(n) == want, n
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")


def test_maybe_broadcast_policy(spark, sf_dir, monkeypatch):
    from duckdb_parachute_spark.catalog import load_table, maybe_broadcast, table_bytes

    assert table_bytes(sf_dir, "customer") > 0
    assert table_bytes(sf_dir, "no_such_table") == 1 << 60
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_CAP", "0")
    # over-cap growing table: plan unchanged (same object, no hint node)
    assert maybe_broadcast(c, sf_dir, "customer") is c
    # fixed-cardinality tables are hinted regardless of cap
    assert maybe_broadcast(n, sf_dir, "nation") is not n
    monkeypatch.setenv("SPARK_GRAFT_BROADCAST_CAP", str(1 << 40))
    assert maybe_broadcast(c, sf_dir, "customer") is not c


def test_job_chain_broadcasts_single_fact_scan(no_aqe, spark, sf_dir):
    # Nine-table JOB-shaped star: every dimension must broadcast; the
    # lineitem fact never shuffles before the final aggregate.
    s = assert_plan(_q("job_chain_two_regions", spark, sf_dir))
    assert s.broadcasts >= 5
    assert "CartesianProduct" not in s.text and "BroadcastNestedLoop" not in s.text


def test_job_two_fact_bridge_no_nested_loop(no_aqe, spark, sf_dir):
    # Fact self-join on the bridge key with a role inequality: must be an
    # equi join on l_orderkey (inequality as residual), never a nested loop.
    s = assert_plan(_q("job_two_fact_bridge", spark, sf_dir))
    assert "CartesianProduct" not in s.text and "BroadcastNestedLoop" not in s.text


def test_tpcds_q25_fact_coshuffle(no_aqe, spark, sf_dir):
    # Three-way chain: both lineitem slices co-shuffle on l_orderkey and the
    # dims broadcast — exactly the two fact exchanges, nothing else.
    s = assert_plan(_q("tpcds_q25_threeway_chain", spark, sf_dir), max_shuffles=3)
    assert "CartesianProduct" not in s.text and "BroadcastNestedLoop" not in s.text


def test_h2o_big_big_is_shuffle_join(no_aqe, spark, sf_dir):
    # Both sides scale with the dataset, so neither carries a broadcast
    # HINT. At test SF the size-based autoBroadcastJoinThreshold still
    # (correctly) broadcasts tiny orders; disabling it must yield a
    # SortMergeJoin — proving the plan's broadcast is the planner's
    # size-based call, not a forced hint that would OOM at 100 TB.
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        s = assert_plan(_q("h2o_join_big_big", spark, sf_dir), max_shuffles=3)
        assert "BroadcastHashJoin" not in s.text
        assert "SortMergeJoin" in s.text
        assert "CartesianProduct" not in s.text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_job_cycle_closure_no_cartesian(no_aqe, spark, sf_dir):
    # The cycle-closing predicate (s_nationkey = c_nationkey) must ride the
    # equi-join chain as a residual filter, never become a join-less cross.
    s = assert_plan(_q("job_cycle_closure", spark, sf_dir))
    assert "CartesianProduct" not in s.text
    assert "BroadcastNestedLoop" not in s.text


def test_q72_week_offset_join_bounded(no_aqe, spark, sf_dir):
    # Inventory week-offset join: partkey equality bounds the blowup; the
    # two range predicates ride the equi-join — no nested loop, no cartesian.
    s = assert_plan(_q("tpcds_q72_inventory_week_offset", spark, sf_dir))
    assert "CartesianProduct" not in s.text
    assert "BroadcastNestedLoop" not in s.text


def test_q17_fact_fact_coshuffle(no_aqe, spark, sf_dir):
    # Sale/return fact-fact join: both slices exchange on the SAME orderkey,
    # then one agg shuffle — bounded total, no broadcast of a fact slice.
    assert_plan(_q("tpcds_q17_sale_return_stats", spark, sf_dir), max_shuffles=4)


def test_exclude_bounded_no_joins(no_aqe, spark, sf_dir):
    # The bounded-ROWS EXCLUDE rewrite is pure window arithmetic: two window
    # specs (global idx frame + peer-partitioned frame) and the final group —
    # NO join anywhere in the plan.
    s = assert_plan(_q("window_exclude_bounded", spark, sf_dir))
    assert "Join" not in s.text


def test_exclude_full_partition_no_window(no_aqe, spark, sf_dir):
    # Round-9 scale formulation: the FULL-partition EXCLUDE rewrite is
    # aggregates + null-safe join-back — NO Window operator anywhere, so a
    # low-cardinality partition key can never collapse the query to one
    # task per group (the old Window.partitionBy spelling did exactly that).
    s = assert_plan(_q("window_exclude_modes", spark, sf_dir))
    assert "Window" not in s.text, s.text


def test_global_rank_no_single_partition_window(spark):
    """Round-7 VERDICT item: global ranks must not plan a 'No Partition
    Defined' WindowExec. The two-phase helper's only window partitions by
    spark_partition_id, so every windowspecdefinition in the optimized plan
    must carry a partition column."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.functions.scalar import global_rank, global_row_number

    df = spark.range(500).select((F.col("id") % 7).alias("v"), F.col("id").alias("t"))
    for builder in (
        lambda: global_row_number(df, ["v", "t"]),
        lambda: global_rank(df, ["v"]),
    ):
        plan = builder()._jdf.queryExecution().optimizedPlan().toString()
        specs = [ln for ln in plan.splitlines() if "windowspecdefinition(" in ln]
        assert specs, "expected at least one window in the plan"
        for ln in specs:
            head = ln.split("windowspecdefinition(", 1)[1]
            # a global window spec starts directly with the ORDER clause
            # (e.g. 'v#3L ASC NULLS FIRST, specifiedwindowframe...');
            # a partitioned one leads with partition columns.
            assert not head.lstrip().startswith("specifiedwindowframe"), ln
            assert "__pid" in head.split(",")[0] or "ASC" not in head.split(",")[0], ln


def test_job_instantiations_no_cartesian_no_fact_shuffle(no_aqe, spark, sf_dir):
    """Round-7 JOB instantiations: the verdict's done-criterion — no
    cartesian product and at most one fact shuffle per query. The MIN
    battery needs zero data shuffles when every dim broadcasts; the only
    exchange allowed is the single-row final aggregate."""
    from duckdb_parachute_spark.plans import physical_plan

    for name in ["job_i01_like_prefix_urgent", "job_i09_deep_chain_six",
                 "job_i11_cnation_region_mix", "job_i14_narrow_everything",
                 # round-8 additions: repeated nation role, balance floors,
                 # ship/order double-window, the everything-mild deep chain
                 "job_i23_two_region_roles", "job_i25_deep_all_roles",
                 "job_i26_ship_vs_order_windows", "job_i27_balance_both_sides",
                 "job_i32_everything_mild",
                 # OR-disjunction tranche: cross-dim ORs must stay post-join
                 # filters, never degrade the join itself to a cartesian
                 "job_i56_or_two_groups", "job_i62_or_everything"]:
        text = physical_plan(_q(name, spark, sf_dir), mode="formatted")
        assert "CartesianProduct" not in text, name
        assert "BroadcastNestedLoop" not in text, name
        # every dim broadcasts at this sf, so the plan needs NO
        # hash-partitioned exchange at all (the ungrouped final agg uses a
        # SinglePartition exchange, which is not counted by this pattern —
        # formatted mode spells hash exchanges 'Arguments: hashpartitioning').
        assert text.count("hashpartitioning(") == 0, name


def test_tpcds5_rollup_preaggregates_before_expand(no_aqe, spark, sf_dir):
    """q18/q22 (round-7): Expand must sit ABOVE the finest-grain aggregate,
    never directly over the fact scan — the pre-agg keeps the rollup input
    dimension-sized."""
    from duckdb_parachute_spark.plans import physical_plan

    import re

    for name in ["tpcds_q18_demo_geo_rollup_avgs", "tpcds_q22_inventory_rollup_qoh"]:
        # simple mode nests children under parents by indentation: walk the
        # Expand node's SUBTREE and require a HashAggregate strictly between
        # Expand and the first table scan — the regressed shape (Expand
        # directly over the fact) has the scan first.
        text = physical_plan(_q(name, spark, sf_dir), mode="simple")
        lines = [ln for ln in text.splitlines() if ln.strip()]

        def indent(ln):
            return len(ln) - len(ln.lstrip(" :+-*("))

        expand_idx = next(
            (i for i, ln in enumerate(lines) if re.search(r"\bExpand\b", ln)), None
        )
        assert expand_idx is not None, f"{name}: no Expand node in the plan"
        exp_ind = indent(lines[expand_idx])
        saw_agg = False
        for ln in lines[expand_idx + 1 :]:
            if indent(ln) <= exp_ind:
                break
            if "HashAggregate" in ln:
                saw_agg = True
            if "Scan parquet" in ln or "FileScan" in ln:
                assert saw_agg, f"{name}: Expand reaches a scan before any aggregate"
                break
        assert saw_agg, f"{name}: no pre-aggregate under the Expand"


def test_tpcds4_yearpair_single_shuffle_per_channel(no_aqe, spark, sf_dir):
    """q4 (round-7): the conditional-aggregation reformulation — three
    channel aggregates, each ONE hash exchange on the customer key, then
    co-partitioned joins; no CTE re-scan blowup, no cartesian."""
    from duckdb_parachute_spark.plans import physical_plan

    text = physical_plan(_q("tpcds_q4_threechannel_growth", spark, sf_dir), mode="formatted")
    assert "CartesianProduct" not in text
    # 3 channel aggregates + join exchanges; the reference's 6-way self-join
    # spelling would need 6 year_total evaluations — here at most 6 base
    # scans total (2 lineitem slices, up to 3 orders, 1 customer), counted
    # from the formatted plan's per-operator detail entries.
    import re

    assert len(re.findall(r"\(\d+\) Scan parquet", text)) <= 6


def test_bucketed_query_join_no_exchange(no_aqe, spark, sf_dir):
    # join_bucketed_big_big: the registry's storage-bucketed big-big join.
    # Both sides bucketed on the join key with the same data-scaled bucket
    # count -> the JOIN runs with zero exchanges; the only shuffle in the
    # whole query is the small grouped aggregate AFTER the join. (This is
    # the 100 TB escape from the co-partitioned shuffle plateau measured in
    # BASELINE.md round-7 scale points.)
    from duckdb_parachute_spark.plans import physical_plan, plan_stats

    df = _q("join_bucketed_big_big", spark, sf_dir)
    s = plan_stats(df)
    assert "SortMergeJoin" in s.text
    # one agg shuffle (+ its single-partition sort for the ORDER BY), none
    # for the join itself
    assert s.shuffles <= 2, s.text
    # and the join inputs are bucket scans: in the tree-shaped simple plan,
    # everything BELOW the SortMergeJoin line (its children) must be
    # exchange-free, and the scans must advertise bucketing
    simple = physical_plan(df, mode="simple")
    below_join = simple.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below_join, simple
    assert "Bucketed: true" in below_join, simple


def test_materialized_cte_single_fact_scan(no_aqe, spark, sf_dir):
    # VERDICT r7 item 2: q24's ssales and q14's base aggregate are consumed
    # by MULTIPLE downstream branches. Without materialization, per-consumer
    # column pruning forks them into N full fact scans (ReuseExchange only
    # matches identical subplans). materialized_cte pins them: every
    # consumer is an InMemoryTableScan, and the executed plan tree contains
    # NO un-cached lineitem file scan beyond the expected count (0 for q24 —
    # all consumers read the cache; 1 for q14 — the avg_sales scalar, which
    # the oracle defines over the raw fact).
    def live_lineitem_scans(df):
        # collectLeaves walks the EXECUTED tree: the cached plan inside
        # InMemoryRelation is not part of it (it only *prints* per consumer),
        # so leaves are the honest "what will actually scan" census.
        jleaves = df._jdf.queryExecution().executedPlan().collectLeaves()
        names = [jleaves.apply(i).nodeName() for i in range(jleaves.size())]
        files = [
            jleaves.apply(i).toString().splitlines()[0]
            for i in range(jleaves.size())
        ]
        n_imts = sum("InMemoryTableScan" in n for n in names)
        n_li = sum(
            "lineitem" in f and "InMemoryTableScan" not in n
            for n, f in zip(names, files)
        )
        return n_imts, n_li

    imts, li = live_lineitem_scans(_q("tpcds_q24_netpaid_threshold", spark, sf_dir))
    assert imts >= 2, f"q24 consumers should read the cached CTE, saw {imts}"
    assert li == 0, f"q24 forked {li} live lineitem scans past the cache"

    imts, li = live_lineitem_scans(_q("tpcds_q14_cross_channel_intersect", spark, sf_dir))
    assert imts >= 4, f"q14 consumers should read the cached base agg, saw {imts}"
    assert li == 1, f"q14 should scan lineitem exactly once outside the cache (avg_sales), saw {li}"


def test_locale_collation_key_stays_jvm_side(spark, sf_dir):
    # the three-level ICU-style key is a plain Catalyst projection: no
    # Python eval node may appear, and ranking it must go through the
    # two-phase global_rank (no single-partition Window over all rows)
    from duckdb_parachute_spark.plans import physical_plan

    df = _q("collate_locale_da_rank", spark, sf_dir)
    s = physical_plan(df, mode="simple")
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "SinglePartition" not in s


def test_decontaminate_broadcasts_eval_side(no_aqe, spark, sf_dir):
    # the 100 TB posture: eval shingles broadcast; the corpus is never
    # exchanged at its own size (only matched pairs reach the per-doc agg)
    from duckdb_parachute_spark.plans import physical_plan

    s = physical_plan(_q("text_decontaminate", spark, sf_dir), mode="simple")
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_delta_scan_pushdown_reaches_parquet(no_aqe, spark, sf_dir, tmp_path):
    # a filter over delta_scan must land in the underlying parquet reader as
    # a pushed filter — the minimal log reader composes plain file scans, so
    # Catalyst's pushdown/pruning must survive the unionByName.
    import json
    import os

    from duckdb_parachute_spark.plans import assert_plan
    from duckdb_parachute_spark.sources import delta_scan

    root = str(tmp_path / "dlp")
    os.makedirs(os.path.join(root, "_delta_log"))
    import glob as g
    import shutil

    staging = os.path.join(root, ".s")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(staging)
    shutil.move(g.glob(os.path.join(staging, "part-*.parquet"))[0], os.path.join(root, "f.parquet"))
    shutil.rmtree(staging)
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"add": {"path": "f.parquet", "partitionValues": {}}}) + "\n")
    d = delta_scan(spark, root).where("id < 10").select("id")
    assert_plan(d, max_shuffles=0, require_pushed_filters=True, max_scan_columns=1)


def test_bigram_counts_partial_aggregate(no_aqe, spark, sf_dir):
    # the bigram model's count tables must map-side combine before their
    # exchange — at corpus scale the pre-shuffle reduction is the operator
    from duckdb_parachute_spark.plans import physical_plan

    plan = physical_plan(_q("text_bigram_logprob", spark, sf_dir), mode="simple")
    assert "partial_count" in plan or "partial_avg" in plan


def test_semantic_assign_zero_exchange_plan(spark):
    """Round-11 (VERDICT r10 item 3): the SemDeDup cluster-assignment stage
    must not shuffle the corpus — the old crossJoin+Window argmax exchanged
    k×N rows. Round 17: for a fixed common centroid width the argmax is
    UNROLLED into codegen'd literal arithmetic, so the plan is scan →
    Project — ZERO Exchange nodes AND no join node at all (the packed
    BroadcastNestedLoopJoin remains only as the mixed-width/oversized
    fallback)."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.dedup import semantic_cluster_assign

    df = spark.range(0, 200).select(
        F.col("id").alias("vid"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 5).cast("double"),
            F.lit(1.0),
        ).alias("emb"),
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0])],
        "centroid_id long, centroid array<double>",
    )
    assigned = semantic_cluster_assign(df, cents, "vid", "emb")
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    # round 17: the fixed-width unrolled argmax needs no join of any kind —
    # the centroids are literals in the projection
    for shuffle in ("Exchange hashpartitioning", "Exchange rangepartitioning", "Exchange SinglePartition"):
        assert shuffle not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" not in plan, plan
    # and it computes the right argmax (tie → lowest centroid_id)
    got = {r["vid"]: r["centroid_id"] for r in assigned.collect()}
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    cent = {0: [1.0, 0.0, 0.0], 1: [0.0, 1.0, 0.0], 2: [0.0, 0.0, 1.0]}
    for r in df.collect():
        best = min(cent, key=lambda c: (-cos(r["emb"], cent[c]), c))
        assert got[r["vid"]] == best, (r["vid"], got[r["vid"]], best)
    # multi-probe (round 11): top-2 clusters per row, still zero shuffle —
    # the only addition to the plan is a Generate (explode)
    multi = semantic_cluster_assign(df, cents, "vid", "emb", probes=2)
    mplan = multi._jdf.queryExecution().executedPlan().toString()
    for shuffle in ("Exchange hashpartitioning", "Exchange rangepartitioning", "Exchange SinglePartition"):
        assert shuffle not in mplan, mplan
    assert "Generate explode" in mplan, mplan
    assert multi.count() == 2 * df.count()
    mgot = {(r["vid"], r["centroid_id"]) for r in multi.collect()}
    for r in df.collect():
        top2 = sorted(cent, key=lambda c: (-cos(r["emb"], cent[c]), c))[:2]
        for c in top2:
            assert (r["vid"], c) in mgot, (r["vid"], c)


def test_q67_preaggregates_before_rollup_expand(no_aqe, spark, sf_dir):
    """Round-12 (VERDICT r11 what's-wrong #2): the rollup's Expand
    multiplies its input 4x, so Q67 must feed it the GROUPED relation, not
    the raw fact join — in the plan tree, an aggregate must sit BELOW the
    Expand (between Expand and the lineitem scan). At 100 TB this is the
    difference between Expand over O(groups) and Expand over O(fact)."""
    from duckdb_parachute_spark.plans import physical_plan

    plan = physical_plan(_q("tpcds_q67_rollup_topk", spark, sf_dir), mode="simple")
    assert "Expand" in plan
    # tree text prints parents above children: everything after the Expand
    # line is its input subtree (the window/sort stages are above it)
    below = plan[plan.index("Expand") :]
    assert "HashAggregate" in below, "Expand is fed by the raw fact join"
    # and the fine-grain pre-aggregate must itself map-side combine
    assert "partial_sum" in below


def test_recursive_cte_final_plan_truncated(spark, sf_dir):
    """The recursive-CTE graph-reach query's FINAL plan must be
    checkpoint-truncated (scan of checkpointed RDD blocks), not the full
    unrolled step lineage — the lineage-size invariant behind the adaptive
    unroll (round 12)."""
    from duckdb_parachute_spark.plans import physical_plan

    plan = physical_plan(_q("recursive_cte_graph_reach", spark, sf_dir), mode="simple")
    assert "Scan ExistingRDD" in plan or "LogicalRDD" in plan


def test_delta_dv_scan_broadcast_antijoin_and_pushdown(no_aqe, spark, tmp_path):
    """Round-12: a DV'd delta scan applies deletes as a BROADCAST anti-join
    on _metadata.row_index (never a shuffled one), and user predicates
    still push down to the parquet scan beneath it."""
    import glob as g
    import json
    import os
    import shutil

    from duckdb_parachute_spark.plans import physical_plan
    from duckdb_parachute_spark.sources import delta_scan
    from duckdb_parachute_spark.sources.deltadv import write_dv_file

    root = str(tmp_path / "dvplan")
    os.makedirs(os.path.join(root, "_delta_log"))
    staging = os.path.join(root, ".s")
    spark.range(1000).selectExpr("id", "id * 2 AS v").coalesce(1).write.parquet(staging)
    shutil.move(g.glob(os.path.join(staging, "part-*.parquet"))[0],
                os.path.join(root, "f.parquet"))
    shutil.rmtree(staging)
    dv = write_dv_file(root, [5, 6, 7])
    with open(os.path.join(root, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                                         "readerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"add": {"path": "f.parquet", "partitionValues": {},
                                    "deletionVector": dv}}) + "\n")
    d = delta_scan(spark, root).where("id < 100").select("id")
    plan = physical_plan(d, mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "PushedFilters" in plan or "id) AND (id" in plan or "lessthan" in plan.lower()
    assert sorted(r["id"] for r in d.collect()) == [i for i in range(100) if i not in (5, 6, 7)]


def _plan_nodes(plan, parent=None):
    """(node, parent) pairs of a JVM logical plan, top-down."""
    yield plan, parent
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i), plan)


def test_neardup_cosine_filter_stays_above_its_projection(no_aqe, spark):
    """With a dim hint the per-pair cosine is unrolled arithmetic behind
    functions.vector.evaluate_once: the optimized plan must compute it in
    ONE Project with the threshold Filter directly above, and never
    substitute it into the join condition (where it would be generated
    without expression splitting and evaluated again in the output)."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.dedup import embedding_neardup_pairs

    df = spark.range(0, 24).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(3)),
            lambda i: (F.cos(F.col("id") + i) + 1.0).cast("float"),
        ).alias("embedding"),
    )
    pairs = embedding_neardup_pairs(
        df, "vec_id", "embedding", 0.9, bucket_col="label", on_overflow="ignore", dim=4
    )
    nodes = list(_plan_nodes(pairs._jdf.queryExecution().optimizedPlan()))
    joins = [n for n, _ in nodes if n.nodeName() == "Join"]
    assert joins
    for j in joins:
        cond = j.condition().get().toString() if j.condition().isDefined() else ""
        assert "__v1" not in cond and "__n1" not in cond, cond

    def computes_cosine(n):
        items = n.projectList()
        return any(
            items.apply(i).name() == "cosine" and items.apply(i).nodeName() == "Alias"
            for i in range(items.size())
        )

    projects = [(n, p) for n, p in nodes if n.nodeName() == "Project" and computes_cosine(n)]
    assert len(projects) == 1, [n.toString() for n, _ in projects]
    above = projects[0][1]
    assert above is not None and above.nodeName() == "Filter", above
    assert "cosine" in above.condition().toString() and ">= 0.9" in above.condition().toString()

    # The unrolled sum is fast only outside whole-stage codegen: the fold in
    # its ELSE branch is CodegenFallback, which keeps the Project out of a
    # WholeStageCodegenExec, so per-expression codegen splits the sum into
    # small methods (the same sum whole-stage compiled ran 7x slower).
    def staged(plan, in_stage=False):
        name = plan.nodeName()
        in_stage = (in_stage or name.startswith("WholeStageCodegen")) and name != "InputAdapter"
        yield plan, in_stage
        kids = plan.children()
        for i in range(kids.size()):
            yield from staged(kids.apply(i), in_stage)

    executed = pairs._jdf.queryExecution().executedPlan()
    stages = [st for n, st in staged(executed) if n.nodeName() == "Project" and computes_cosine(n)]
    assert stages == [False], executed.toString()


def test_unroll_width_paths(spark):
    """Which path each width takes: a dim hint up to MAX_UNROLL_DIM unrolls
    (a CASE over the fixed-width sum), one wider takes the fold."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.functions.vector import MAX_UNROLL_DIM, dot_product, row_norm

    df = spark.createDataFrame([([1.0, 2.0],)], "v array<double>")

    def unrolled(c):
        return "CASE WHEN" in df.select(c.alias("d"))._jdf.queryExecution().analyzed().toString()

    v = F.col("v")
    assert unrolled(dot_product(v, v, MAX_UNROLL_DIM)) and unrolled(row_norm(v, MAX_UNROLL_DIM))
    assert not unrolled(dot_product(v, v, MAX_UNROLL_DIM + 1))
    assert not unrolled(row_norm(v, MAX_UNROLL_DIM + 1))
    # an expression operand has no SQL name: the fold, whatever the hint
    assert not unrolled(dot_product(v, F.reverse(v), 2))
