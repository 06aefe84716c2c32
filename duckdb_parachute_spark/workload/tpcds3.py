"""TPC-DS shapes, third tranche (round-6 breadth): weekly pivots with
year-over-year self-joins, inventory week-offset joins, reason-coded return
profiles, multi-year customer-value ratios, bucketed CASE batteries, and
point-scan counts.

Reference queries: /root/reference/extension/tpcds/dsdgen/queries/*.sql —
same adaptation contract as workload/tpcds.py and tpcds2.py (the driver's
TPC-H-ish schema stands in for the TPC-DS tables; the operator SHAPE — what
stresses the engine — is preserved; channels map to disjoint lineitem/orders
slices, date_dim arithmetic maps to o_orderdate/l_shipdate functions).

Tranche-3 archetypes (reference query in parens):
- UNION-channel weekly day-name pivot + YoY week self-join (q2)
- uncorrelated scalar month filter + correlated above-avg price (q6)
- quantity-band CASE-over-aggregate battery (q9)
- fact-fact sale/return chain with textbook stddev/cov stats (q17)
- demographic-filtered ROLLUP(brand, state) avg battery (q27)
- per-order bulk line-count HAVING band -> customer list (q34)
- disjunctive dim-list OR IN-subquery membership (q45)
- sale-to-ship latency bands per nation (q50)
- item-list channel revenue union (q56)
- channel revenue parity (each within band of channel avg) (q58)
- cross-year per-item revenue handoff self-join (q64)
- inventory week-offset qty-deficit join (q72)
- two-channel two-year per-customer growth ratio (q74)
- channel sales/returns/profit rollup with LEFT JOIN returns (q80)
- three return channels ratio-of-total on shared weeks (q83)
- bracketed OR demographics over reason-coded returns (q85)
- ROLLUP + rank-within-parent hierarchy over account balances (q86)
- excess-discount sum, size-filtered web variant (q92)
- multi-dim point-scan count (q96)
- latency band battery by nation x month (q99)

Determinism contract inherited from tpcds.py: exact DECIMAL money math
(functions/money.py integer-unit sums) until the hash-safe double boundary;
averages and ratios are exact-sum / exact-count double quotients (never
round()ed, never the engines' float aggregates); stddev from exact integer
sums via the textbook formula; every ORDER BY carries a unique tiebreaker
with explicit NULLS placement.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from duckdb_parachute_spark.catalog import load_table, maybe_broadcast
from duckdb_parachute_spark.functions import money
from duckdb_parachute_spark.workload import query

_DISC = (
    "sum(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))))"
)

_TS96 = "TIMESTAMP '1996-01-01 00:00:00'"
_TS97 = "TIMESTAMP '1997-01-01 00:00:00'"
_TS98 = "TIMESTAMP '1998-01-01 00:00:00'"


def _ntz(lit: str):
    return F.lit(lit).cast("timestamp_ntz")


_DAYS = ["Sunday", "Monday", "Tuesday", "Wednesday", "Thursday", "Friday", "Saturday"]


@query(
    "tpcds_q2_week_pivot_yoy",
    cast_double=[f"{d[:3].lower()}_ratio" for d in _DAYS],
    oracle=f"""
    WITH wscs AS (
        SELECT l_shipdate AS d, CAST(l_extendedprice AS DECIMAL(12,2)) AS price
        FROM lineitem
        UNION ALL
        SELECT o_orderdate AS d, CAST(o_totalprice AS DECIMAL(12,2)) AS price
        FROM orders
    ), wk AS (
        SELECT year(d) AS yr, weekofyear(d) AS wk,
               {", ".join(
                   f"CAST(sum(CASE WHEN dayname(d) = '{day}' THEN price END) AS DECIMAL(22,2)) AS {day[:3].lower()}_sales"
                   for day in _DAYS
               )}
        FROM wscs
        WHERE weekofyear(d) BETWEEN 2 AND 51
        GROUP BY year(d), weekofyear(d)
    )
    SELECT a.wk AS week_seq,
           {", ".join(
               f"CAST(a.{day[:3].lower()}_sales AS DOUBLE) / CAST(b.{day[:3].lower()}_sales AS DOUBLE) AS {day[:3].lower()}_ratio"
               for day in _DAYS
           )}
    FROM wk a JOIN wk b ON a.wk = b.wk
    WHERE a.yr = 1996 AND b.yr = 1997
    ORDER BY a.wk
    """,
)
def tpcds_q2(spark, sf_dir):
    """TPC-DS Q2 shape (queries/02.sql): web+catalog channels UNION-ALL'd,
    pivoted into per-week day-of-week sales via CASE sums, then the weekly
    vector self-joined across two years on week number to produce 7 YoY
    ratios. The pivot collapses the union to |weeks| rows BEFORE the
    self-join, so the join input is dimension-sized — the reference's CTE
    structure exactly. Weeks 2-51 only (ISO week-53/1 wraparound belongs to
    a different year on the two engines' shared ISO calendar, but the year
    column would disagree with the civil year filter)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_shipdate").alias("d"), money.cents("l_extendedprice").alias("pc")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").alias("d"), money.cents("o_totalprice").alias("pc")
    )
    # Round 16 (guide §2.4): the self-join spelling (wk a JOIN wk b ON
    # a.wk = b.wk with a.yr=1996, b.yr=1997) planned the UNION + pivot
    # aggregate TWICE — four fact scans, two fact-scale aggregates, and a
    # sort-merge join, 5 exchanges in all. The join's two sides are just
    # year slices of the same weekly vector, so one pass grouped by week
    # with year-conditional day sums computes both sides at once: one fact
    # scan, ONE group-scale exchange, no join. The inner join's existence
    # semantics (a week must have rows in BOTH years — even all-NULL day
    # sums — to survive) are preserved by two conditional row counts; sums
    # see exactly the same integer-unit partials, so values are
    # bit-identical to the oracle's CTE self-join.
    yr = F.year("d")
    wscs = (
        li.unionAll(o)
        .where(F.weekofyear("d").between(2, 51) & yr.isin(1996, 1997))
    )
    # dayofweek() (1=Sunday..7=Saturday, matching _DAYS order) instead of
    # date_format('EEEE'): integer equality per condition instead of a
    # per-row Java date-format + string compare (guide §1.2 per-task work).
    dow = F.dayofweek("d")

    def _sales(d: str, year: int):
        return F.sum(F.when((yr == year) & (dow == _DAYS.index(d) + 1), F.col("pc")))

    wk = wscs.groupBy(F.weekofyear("d").alias("wk")).agg(
        *[
            money.units_to_decimal(_sales(d, 1996), 2, "decimal(22,2)").alias(
                f"a_{d[:3].lower()}"
            )
            for d in _DAYS
        ],
        *[
            money.units_to_decimal(_sales(d, 1997), 2, "decimal(22,2)").alias(
                f"b_{d[:3].lower()}"
            )
            for d in _DAYS
        ],
        F.count(F.when(yr == 1996, F.lit(1))).alias("__n96"),
        F.count(F.when(yr == 1997, F.lit(1))).alias("__n97"),
    )
    return (
        wk.where((F.col("__n96") > 0) & (F.col("__n97") > 0))
        .select(
            F.col("wk").alias("week_seq"),
            *[
                (
                    F.col(f"a_{d[:3].lower()}").cast("double")
                    / F.col(f"b_{d[:3].lower()}").cast("double")
                ).alias(f"{d[:3].lower()}_ratio")
                for d in _DAYS
            ],
        )
        .orderBy("week_seq")
    )


@query(
    "tpcds_q6_state_above_avg_price",
    oracle=f"""
    SELECT n_name AS state, CAST(count(*) AS BIGINT) AS cnt
    FROM customer JOIN nation   ON c_nationkey = n_nationkey
                  JOIN orders   ON o_custkey = c_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
                  JOIN part     ON l_partkey = p_partkey
    WHERE date_trunc('month', o_orderdate) =
          (SELECT min(date_trunc('month', o_orderdate)) FROM orders
           WHERE o_orderdate >= {_TS96})
      AND CAST(p_retailprice AS DOUBLE) > 1.03 *
          (SELECT CAST(sum(CAST(j.p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
           FROM part j WHERE j.p_type = part.p_type)
    GROUP BY n_name
    HAVING count(*) >= 3
    ORDER BY cnt, state
    LIMIT 100
    """,
)
def tpcds_q6(spark, sf_dir):
    """TPC-DS Q6 shape (queries/06.sql): customers-per-state buying items
    priced above 1.03x their category average (this data's retail prices
    span 900-1000, so the reference's 1.2x threshold is unreachable), within one month picked by an
    uncorrelated scalar subquery. The correlated per-category average is
    decorrelated into a window average over the part dim (dimension-sized,
    no fact shuffle); the scalar month lands as a cross-joined 1-row
    broadcast — the same two decorrelations the reference binder performs."""
    o = load_table(spark, sf_dir, "orders")
    month_df = (
        o.where(F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        .agg(F.min(F.date_trunc("month", "o_orderdate")).alias("__m"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    wp = Window.partitionBy("p_type")
    p_above = (
        p.withColumn(
            "__type_avg",
            F.sum(money.cents("p_retailprice")).over(wp).cast("double")
            / F.lit(100.0)
            / F.count(F.lit(1)).over(wp),
        )
        .where(F.col("p_retailprice").cast("double") > 1.03 * F.col("__type_avg"))
        .select("p_partkey")
    )
    return (
        o.join(F.broadcast(month_df), F.date_trunc("month", "o_orderdate") == F.col("__m"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            maybe_broadcast(p_above, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("state"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= 3)
        .orderBy("cnt", "state")
        .limit(100)
    )


_Q9_BANDS = [(1, 10), (11, 20), (21, 30), (31, 40), (41, 50)]


@query(
    "tpcds_q9_bucket_case_battery",
    cast_double=[f"bucket{i}" for i in range(1, 6)],
    oracle=f"""
    SELECT {", ".join(
        f'''CASE WHEN (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi}) > 2000
                 THEN (SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*)
                       FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi})
                 ELSE (SELECT CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*)
                       FROM lineitem WHERE l_quantity BETWEEN {lo} AND {hi})
            END AS bucket{i}'''
        for i, (lo, hi) in enumerate(_Q9_BANDS, 1)
    )}
    """,
)
def tpcds_q9(spark, sf_dir):
    """TPC-DS Q9 shape (queries/09.sql): five quantity bands, each choosing
    between two averages based on the band's row count exceeding a
    threshold. The reference spells 15 scalar subqueries over the same fact;
    here they collapse into ONE conditional-aggregation pass (count + both
    exact-sum averages per band), with the CASE evaluated on the single
    result row — same values, one scan instead of fifteen."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for i, (lo, hi) in enumerate(_Q9_BANDS, 1):
        inb = F.col("l_quantity").between(lo, hi)
        aggs += [
            F.sum(F.when(inb, 1).otherwise(0)).alias(f"__n{i}"),
            F.sum(F.when(inb, money.cents("l_extendedprice"))).alias(f"__p{i}"),
            F.sum(F.when(inb, money.cents("l_discount"))).alias(f"__d{i}"),
        ]
    g = li.agg(*aggs)
    return g.select(
        *[
            F.when(
                F.col(f"__n{i}") > 2000,
                F.col(f"__p{i}").cast("double") / F.lit(100.0) / F.col(f"__n{i}"),
            )
            .otherwise(F.col(f"__d{i}").cast("double") / F.lit(100.0) / F.col(f"__n{i}"))
            .alias(f"bucket{i}")
            for i in range(1, 6)
        ]
    )


@query(
    "tpcds_q17_sale_return_stats",
    cast_double=["qty_mean", "qty_stdev", "qty_cov", "ret_mean", "ret_stdev", "ret_cov"],
    oracle="""
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS pair_count,
           CAST(sum(sq) AS DOUBLE) / count(*) AS qty_mean,
           CASE WHEN count(*) = 1 THEN NULL
                ELSE sqrt((CAST(sum(sq * sq) AS DOUBLE)
                           - CAST(sum(sq) AS DOUBLE) * CAST(sum(sq) AS DOUBLE) / count(*))
                          / (count(*) - 1)) END AS qty_stdev,
           CASE WHEN count(*) = 1 OR sum(sq) = 0 THEN NULL
                ELSE sqrt((CAST(sum(sq * sq) AS DOUBLE)
                           - CAST(sum(sq) AS DOUBLE) * CAST(sum(sq) AS DOUBLE) / count(*))
                          / (count(*) - 1)) / (CAST(sum(sq) AS DOUBLE) / count(*)) END AS qty_cov,
           CAST(sum(rq) AS DOUBLE) / count(*) AS ret_mean,
           CASE WHEN count(*) = 1 THEN NULL
                ELSE sqrt((CAST(sum(rq * rq) AS DOUBLE)
                           - CAST(sum(rq) AS DOUBLE) * CAST(sum(rq) AS DOUBLE) / count(*))
                          / (count(*) - 1)) END AS ret_stdev,
           CASE WHEN count(*) = 1 OR sum(rq) = 0 THEN NULL
                ELSE sqrt((CAST(sum(rq * rq) AS DOUBLE)
                           - CAST(sum(rq) AS DOUBLE) * CAST(sum(rq) AS DOUBLE) / count(*))
                          / (count(*) - 1)) / (CAST(sum(rq) AS DOUBLE) / count(*)) END AS ret_cov
    FROM (
        SELECT p_brand,
               CAST(s.l_quantity AS BIGINT) AS sq,
               CAST(r.l_quantity AS BIGINT) AS rq
        FROM lineitem s
        JOIN lineitem r ON s.l_orderkey = r.l_orderkey AND r.l_returnflag = 'R'
        JOIN part ON s.l_partkey = p_partkey
        WHERE s.l_returnflag = 'N'
    ) pairs
    GROUP BY p_brand
    ORDER BY p_brand
    LIMIT 100
    """,
)
def tpcds_q17(spark, sf_dir):
    """TPC-DS Q17 shape (queries/17.sql): store sale matched to its return
    (fact-fact join on ticket+item), then count/mean/stdev/cov batteries per
    item over both quantity streams. The fact-fact join shuffles both slices
    once on the same (orderkey, partkey) key — co-partitioned, no broadcast
    of a scale-growing side. stdev/cov from EXACT integer sums via the
    textbook formula (tpcds_q39's determinism recipe), never the engines'
    float stddev aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.where(F.col("l_returnflag") == "N").select(
        "l_orderkey", "l_partkey", F.col("l_quantity").cast("long").alias("sq")
    )
    r = li.where(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_ok"),
        F.col("l_quantity").cast("long").alias("rq"),
    )
    p = load_table(spark, sf_dir, "part")
    pairs = s.join(r, F.col("l_orderkey") == F.col("r_ok")).join(
        maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey")
    )
    g = pairs.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("pair_count"),
        F.sum("sq").alias("__s1"),
        F.sum(F.col("sq") * F.col("sq")).alias("__s2"),
        F.sum("rq").alias("__r1"),
        F.sum(F.col("rq") * F.col("rq")).alias("__r2"),
    )

    def stats(s1, s2, n):
        mean = s1.cast("double") / n
        var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / n) / (n - 1)
        stdev = F.when(n == 1, F.lit(None).cast("double")).otherwise(F.sqrt(var))
        cov = F.when((n == 1) | (s1 == 0), F.lit(None).cast("double")).otherwise(
            F.sqrt(var) / mean
        )
        return mean, stdev, cov

    n = F.col("pair_count")
    qm, qs, qc = stats(F.col("__s1"), F.col("__s2"), n)
    rm, rs, rc = stats(F.col("__r1"), F.col("__r2"), n)
    return (
        g.select(
            "p_brand",
            "pair_count",
            qm.alias("qty_mean"),
            qs.alias("qty_stdev"),
            qc.alias("qty_cov"),
            rm.alias("ret_mean"),
            rs.alias("ret_stdev"),
            rc.alias("ret_cov"),
        )
        .orderBy("p_brand")
        .limit(100)
    )


@query(
    "tpcds_q27_rollup_demo_filter",
    cast_double=["avg_qty", "avg_price", "avg_disc", "avg_total"],
    oracle=f"""
    SELECT p_brand AS brand, n_name AS state,
           CAST(grouping(n_name) AS BIGINT) AS g_state,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_total
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation   ON c_nationkey = n_nationkey
                  JOIN part     ON l_partkey = p_partkey
    WHERE c_mktsegment = 'BUILDING' AND o_orderpriority = '1-URGENT'
      AND o_orderdate >= {_TS96} AND o_orderdate < {_TS97}
    GROUP BY ROLLUP (p_brand, n_name)
    ORDER BY brand NULLS FIRST, state NULLS FIRST
    LIMIT 100
    """,
)
def tpcds_q27(spark, sf_dir):
    """TPC-DS Q27 shape (queries/27.sql): demographic-filtered fact joined to
    item + store dims, four-average battery under ROLLUP(item, state). The
    fact is PRE-AGGREGATED to the (brand, state) grain before the rollup
    Expand (q67's recipe: Expand multiplies O(groups), not O(fact)); the
    averages divide re-summed exact sums at the final grain."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1997-01-01 00:00:00"))
    )
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    n = load_table(spark, sf_dir, "nation")
    p = load_table(spark, sf_dir, "part")
    base = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
    )
    fine = base.groupBy(F.col("p_brand").alias("brand"), F.col("n_name").alias("state")).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("l_quantity").cast("long")).alias("__q"),
        F.sum(money.cents("l_extendedprice")).alias("__p"),
        F.sum(money.cents("l_discount")).alias("__d"),
        F.sum(money.cents("o_totalprice")).alias("__t"),
    )
    return (
        fine.rollup("brand", "state")
        .agg(
            F.grouping("state").cast("long").alias("g_state"),
            F.sum("__n").alias("__N"),
            F.sum("__q").alias("__Q"),
            F.sum("__p").alias("__P"),
            F.sum("__d").alias("__D"),
            F.sum("__t").alias("__T"),
        )
        .select(
            "brand",
            "state",
            "g_state",
            (F.col("__Q").cast("double") / F.col("__N")).alias("avg_qty"),
            (F.col("__P").cast("double") / F.lit(100.0) / F.col("__N")).alias("avg_price"),
            (F.col("__D").cast("double") / F.lit(100.0) / F.col("__N")).alias("avg_disc"),
            (F.col("__T").cast("double") / F.lit(100.0) / F.col("__N")).alias("avg_total"),
        )
        .orderBy(F.col("brand").asc_nulls_first(), F.col("state").asc_nulls_first())
        .limit(100)
    )


@query(
    "tpcds_q34_bulk_order_customers",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey, cnt
    FROM (
        SELECT l_orderkey AS ok, CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem
        GROUP BY l_orderkey
        HAVING count(*) BETWEEN 5 AND 7
    ) bulk
    JOIN orders   ON ok = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE o_orderstatus <> 'F'
    ORDER BY c_name, c_custkey, o_orderkey
    LIMIT 100
    """,
)
def tpcds_q34(spark, sf_dir):
    """TPC-DS Q34 shape (queries/34.sql): orders with a line count inside a
    band (the reference's 15-20-item household tickets; this data maxes at 7
    lines/order so the band is 5-7), HAVING-filtered BEFORE joining back to
    orders + customer — the aggregate drives the join, so the fact shuffles
    once and the join probes dimension-sized input."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(F.col("o_orderstatus") != "F")
    c = load_table(spark, sf_dir, "customer")
    bulk = (
        li.groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt").between(5, 7))
    )
    return (
        bulk.join(o, F.col("ok") == F.col("o_orderkey"))
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_name", "c_custkey", "o_orderkey", "cnt")
        .orderBy("c_name", "c_custkey", "o_orderkey")
        .limit(100)
    )


@query(
    "tpcds_q45_disjunctive_membership",
    cast_double=["revenue"],
    oracle=f"""
    SELECT n_name, CAST({_DISC} AS DECIMAL(22,4)) AS revenue
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
                  JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
      AND (n_name IN ('NATION_3', 'NATION_7', 'NATION_11')
           OR c_custkey IN (SELECT o_custkey FROM orders
                            GROUP BY o_custkey HAVING count(*) >= 15))
    GROUP BY n_name
    ORDER BY n_name
    LIMIT 100
    """,
)
def tpcds_q45(spark, sf_dir):
    """TPC-DS Q45 shape (queries/45.sql): revenue by geography where the row
    qualifies EITHER by a zip/city literal list OR by membership in an
    IN-subquery (item list there, frequent-buyer list here). The disjunction
    blocks a plain semi-join, so membership materializes as a LEFT join
    marker against the (aggregated, dimension-sized) subquery and the OR
    filters on marker-or-list — DuckDB's MARK join, spelled in DataFrame
    algebra."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    freq = (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__oc"))
        .where(F.col("__oc") >= 15)
        .select(F.col("o_custkey").alias("fk"), F.lit(True).alias("__freq"))
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            maybe_broadcast(freq, sf_dir, "orders"),
            F.col("c_custkey") == F.col("fk"),
            "left",
        )
        .where(
            F.col("n_name").isin("NATION_3", "NATION_7", "NATION_11")
            | F.col("__freq").isNotNull()
        )
        .groupBy("n_name")
        .agg(money.sum_disc_price().alias("revenue"))
        .orderBy("n_name")
        .limit(100)
    )


@query(
    "tpcds_q50_return_latency_by_nation",
    oracle=f"""
    SELECT n_name,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
                          AND datediff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                          AND datediff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                          AND datediff('day', o_orderdate, l_shipdate) <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= {_TS96} AND o_orderdate < {_TS97}
    GROUP BY n_name
    ORDER BY n_name
    LIMIT 100
    """,
)
def tpcds_q50(spark, sf_dir):
    """TPC-DS Q50 shape (queries/50.sql): sale-to-return latency banded into
    30/60/90/120-day buckets per store (store -> supplier nation; the
    sale/return fact pair -> the order-date/ship-date pair on returned
    lines). One fact shuffle; the band battery is conditional aggregation
    over a single datediff expression."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1997-01-01 00:00:00"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    lat = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.when(lat <= 30, 1).otherwise(0)).alias("d30"),
            F.sum(F.when((lat > 30) & (lat <= 60), 1).otherwise(0)).alias("d60"),
            F.sum(F.when((lat > 60) & (lat <= 90), 1).otherwise(0)).alias("d90"),
            F.sum(F.when((lat > 90) & (lat <= 120), 1).otherwise(0)).alias("d120"),
            F.sum(F.when(lat > 120, 1).otherwise(0)).alias("d120plus"),
        )
        .orderBy("n_name")
        .limit(100)
    )


@query(
    "tpcds_q56_item_list_channels",
    cast_double=["total_sales"],
    oracle=f"""
    WITH items AS (
        SELECT p_partkey FROM part
        WHERE p_brand IN ('Brand#1', 'Brand#3', 'Brand#5')
    ), ss AS (
        SELECT l_partkey AS item, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS sales
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM items) AND l_returnflag = 'A' AND l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
        GROUP BY l_partkey
    ), cs AS (
        SELECT l_partkey AS item, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS sales
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM items) AND l_returnflag = 'N' AND l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
        GROUP BY l_partkey
    ), ws AS (
        SELECT l_partkey AS item, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS sales
        FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM items) AND l_returnflag = 'R' AND l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
        GROUP BY l_partkey
    )
    SELECT item, CAST(sum(sales) AS DECIMAL(25,2)) AS total_sales
    FROM (SELECT * FROM ss UNION ALL SELECT * FROM cs UNION ALL SELECT * FROM ws) x
    GROUP BY item
    ORDER BY total_sales DESC, item
    LIMIT 100
    """,
)
def tpcds_q56(spark, sf_dir):
    """TPC-DS Q56 shape (queries/56.sql): per-item sales across three
    channels restricted to a color-picked item list, UNION-ALL'd and
    re-aggregated into a top-100. The item list is a dimension semi-join
    pushed into every channel branch; each branch pre-aggregates before the
    union so the final group runs on channel-item grain."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )
    items = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand").isin("Brand#1", "Brand#3", "Brand#5"))
        .select("p_partkey")
    )

    def channel(flag):
        return (
            li.where(F.col("l_returnflag") == flag)
            .join(
                maybe_broadcast(items, sf_dir, "part"),
                F.col("l_partkey") == F.col("p_partkey"),
                "left_semi",
            )
            .groupBy(F.col("l_partkey").alias("item"))
            .agg(money.sum_money("l_extendedprice", out="decimal(22,2)").alias("sales"))
        )

    return (
        channel("A")
        .unionAll(channel("N"))
        .unionAll(channel("R"))
        .groupBy("item")
        .agg(F.sum("sales").cast("decimal(25,2)").alias("total_sales"))
        .orderBy(F.desc("total_sales"), "item")
        .limit(100)
    )


@query(
    "tpcds_q58_channel_parity_items",
    cast_double=["ss_rev", "cs_rev", "ws_rev"],
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey AS item,
               CAST(sum(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DECIMAL(22,2)) AS ss_rev,
               CAST(sum(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DECIMAL(22,2)) AS cs_rev,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(12,2)) END) AS DECIMAL(22,2)) AS ws_rev
        FROM lineitem
        WHERE l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
        GROUP BY l_partkey
    )
    SELECT item, ss_rev, cs_rev, ws_rev
    FROM rev
    WHERE ss_rev IS NOT NULL AND cs_rev IS NOT NULL AND ws_rev IS NOT NULL
      AND CAST(ss_rev AS DOUBLE) BETWEEN 0.5 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
                                     AND 2.0 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
      AND CAST(cs_rev AS DOUBLE) BETWEEN 0.5 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
                                     AND 2.0 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
      AND CAST(ws_rev AS DOUBLE) BETWEEN 0.5 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
                                     AND 2.0 * (CAST(ss_rev AS DOUBLE) + CAST(cs_rev AS DOUBLE) + CAST(ws_rev AS DOUBLE)) / 3
    ORDER BY item
    LIMIT 100
    """,
)
def tpcds_q58(spark, sf_dir):
    """TPC-DS Q58 shape (queries/58.sql): items whose revenue is in PARITY
    across all three channels (each within a band around the three-channel
    average). The reference joins three per-channel CTE aggregates on item;
    conditional aggregation computes all three in ONE fact pass — same
    values, one shuffle instead of three joined ones, which is the plan
    you'd want at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )

    def chan(flag, name):
        return money.units_to_decimal(
            F.sum(F.when(F.col("l_returnflag") == flag, money.cents("l_extendedprice"))),
            2,
            "decimal(22,2)",
        ).alias(name)

    rev = li.groupBy(F.col("l_partkey").alias("item")).agg(
        chan("A", "ss_rev"), chan("N", "cs_rev"), chan("R", "ws_rev")
    )
    ssd = F.col("ss_rev").cast("double")
    csd = F.col("cs_rev").cast("double")
    wsd = F.col("ws_rev").cast("double")
    avg3 = (ssd + csd + wsd) / 3
    return (
        rev.where(
            F.col("ss_rev").isNotNull()
            & F.col("cs_rev").isNotNull()
            & F.col("ws_rev").isNotNull()
            & ssd.between(0.5 * avg3, 2.0 * avg3)
            & csd.between(0.5 * avg3, 2.0 * avg3)
            & wsd.between(0.5 * avg3, 2.0 * avg3)
        )
        .select("item", "ss_rev", "cs_rev", "ws_rev")
        .orderBy("item")
        .limit(100)
    )


@query(
    "tpcds_q64_cross_year_handoff",
    cast_double=["rev1", "rev2"],
    oracle=f"""
    WITH cs1 AS (
        SELECT l_partkey AS item, s_nationkey AS nat,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
        GROUP BY l_partkey, s_nationkey
    ), cs2 AS (
        SELECT l_partkey AS item, s_nationkey AS nat,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS rev
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        WHERE l_shipdate >= {_TS97} AND l_shipdate < {_TS98}
        GROUP BY l_partkey, s_nationkey
    )
    SELECT cs1.item AS item, n_name, cs1.rev AS rev1, cs2.rev AS rev2
    FROM cs1 JOIN cs2 ON cs1.item = cs2.item AND cs1.nat = cs2.nat
             JOIN nation ON cs1.nat = n_nationkey
    WHERE CAST(cs2.rev AS DOUBLE) <= CAST(cs1.rev AS DOUBLE)
    ORDER BY item, n_name
    LIMIT 100
    """,
)
def tpcds_q64(spark, sf_dir):
    """TPC-DS Q64 shape (queries/64.sql): the cross-year handoff — the same
    (item, store) aggregate built for two consecutive years and self-joined
    where the second year's number fell. Both year slices shuffle on the
    SAME (item, nation) key, so the self-join is co-partitioned; the year
    predicate pushes to the parquet scan of each branch."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")

    def year_rev(lo, hi):
        return (
            li.where((F.col("l_shipdate") >= _ntz(lo)) & (F.col("l_shipdate") < _ntz(hi)))
            .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy(F.col("l_partkey").alias("item"), F.col("s_nationkey").alias("nat"))
            .agg(money.sum_money("l_extendedprice", out="decimal(22,2)").alias("rev"))
        )

    cs1 = year_rev("1996-01-01 00:00:00", "1997-01-01 00:00:00").alias("cs1")
    cs2 = year_rev("1997-01-01 00:00:00", "1998-01-01 00:00:00").alias("cs2")
    return (
        cs1.join(
            cs2,
            (F.col("cs1.item") == F.col("cs2.item")) & (F.col("cs1.nat") == F.col("cs2.nat")),
        )
        .where(F.col("cs2.rev").cast("double") <= F.col("cs1.rev").cast("double"))
        .join(F.broadcast(n), F.col("cs1.nat") == F.col("n_nationkey"))
        .select(
            F.col("cs1.item").alias("item"),
            "n_name",
            F.col("cs1.rev").alias("rev1"),
            F.col("cs2.rev").alias("rev2"),
        )
        .orderBy("item", "n_name")
        .limit(100)
    )


@query(
    "tpcds_q72_inventory_week_offset",
    oracle=f"""
    SELECT p_brand, CAST(count(*) AS BIGINT) AS short_events
    FROM lineitem s
    JOIN lineitem inv ON s.l_partkey = inv.l_partkey
                      AND inv.l_shipdate > s.l_shipdate
                      AND inv.l_shipdate <= s.l_shipdate + INTERVAL 7 DAY
                      AND inv.l_quantity < s.l_quantity
    JOIN part ON s.l_partkey = p_partkey
    WHERE s.l_shipdate >= {_TS96} AND s.l_shipdate < {_TS97}
    GROUP BY p_brand
    ORDER BY short_events DESC, p_brand
    LIMIT 100
    """,
)
def tpcds_q72(spark, sf_dir):
    """TPC-DS Q72 shape (queries/72.sql): the inventory week-offset join —
    each sale matched to inventory snapshots in the FOLLOWING week holding
    less quantity than was sold (cs_quantity > inv_quantity_on_hand with
    d1.d_week_seq = d2.d_week_seq offsets). The partkey equality bounds the
    blowup (per-item snapshots only); the two range predicates ride along
    the equi-join — no cartesian, one co-partitioned shuffle of both
    slices."""
    li = load_table(spark, sf_dir, "lineitem")
    s = li.where(
        (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    ).select(
        F.col("l_partkey").alias("s_pk"),
        F.col("l_shipdate").alias("s_d"),
        F.col("l_quantity").alias("s_q"),
    )
    # Round 16 (guide §2.3 — shuffle fewer bytes): the join conditions
    # imply i_d ∈ (s_d, s_d+7d] with s_d ∈ [1996-01-01, 1997-01-01), so
    # every matching inventory row has i_d in (1996-01-01, 1997-01-08].
    # Spark cannot derive range transitivity through interval arithmetic,
    # so the implied predicate is written out — it pushes into the parquet
    # scan and cuts the shuffled inv side from all seven years to one.
    inv = li.where(
        (F.col("l_shipdate") > _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") <= _ntz("1997-01-08 00:00:00"))
    ).select(
        F.col("l_partkey").alias("i_pk"),
        F.col("l_shipdate").alias("i_d"),
        F.col("l_quantity").alias("i_q"),
    )
    p = load_table(spark, sf_dir, "part")
    return (
        s.join(
            inv,
            (F.col("s_pk") == F.col("i_pk"))
            & (F.col("i_d") > F.col("s_d"))
            & (F.col("i_d") <= F.col("s_d") + F.expr("INTERVAL 7 DAY"))
            & (F.col("i_q") < F.col("s_q")),
        )
        .join(maybe_broadcast(p, sf_dir, "part"), F.col("s_pk") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("short_events"))
        .orderBy(F.desc("short_events"), "p_brand")
        .limit(100)
    )


@query(
    "tpcds_q74_customer_growth_ratio",
    oracle=f"""
    WITH store_y AS (
        SELECT o_custkey AS cust, year(o_orderdate) AS yr,
               CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS total
        FROM orders
        WHERE o_orderdate >= {_TS96} AND o_orderdate < {_TS98}
        GROUP BY o_custkey, year(o_orderdate)
    ), web_y AS (
        SELECT o_custkey AS cust, year(l_shipdate) AS yr,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS total
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'N' AND l_shipdate >= {_TS96} AND l_shipdate < {_TS98}
        GROUP BY o_custkey, year(l_shipdate)
    )
    SELECT c_custkey, c_name
    FROM store_y s1 JOIN store_y s2 ON s1.cust = s2.cust
         JOIN web_y w1 ON s1.cust = w1.cust
         JOIN web_y w2 ON s1.cust = w2.cust
         JOIN customer ON s1.cust = c_custkey
    WHERE s1.yr = 1996 AND s2.yr = 1997 AND w1.yr = 1996 AND w2.yr = 1997
      AND s1.total > 0 AND w1.total > 0
      AND CAST(w2.total AS DOUBLE) / CAST(w1.total AS DOUBLE)
          > CAST(s2.total AS DOUBLE) / CAST(s1.total AS DOUBLE)
    ORDER BY c_custkey
    LIMIT 100
    """,
)
def tpcds_q74(spark, sf_dir):
    """TPC-DS Q74 shape (queries/74.sql): multi-year customer value — yearly
    per-customer totals for two channels x two years, four-way self-joined
    on customer, keeping customers whose web growth outpaced store growth.
    All four branches shuffle on the customer key, so the chain is
    co-partitioned end-to-end; growth ratios are double quotients of exact
    decimal totals (both engines compute identical IEEE results)."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1998-01-01 00:00:00"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_returnflag") == "N")
        & (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1998-01-01 00:00:00"))
    )
    c = load_table(spark, sf_dir, "customer")
    store_y = o.groupBy(
        F.col("o_custkey").alias("cust"), F.year("o_orderdate").alias("yr")
    ).agg(money.sum_money("o_totalprice", out="decimal(22,2)").alias("total"))
    web_y = (
        li.join(load_table(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(F.col("o_custkey").alias("cust"), F.year("l_shipdate").alias("yr"))
        .agg(money.sum_money("l_extendedprice", out="decimal(22,2)").alias("total"))
    )
    s1 = store_y.where(F.col("yr") == 1996).select(
        F.col("cust").alias("k"), F.col("total").alias("s1")
    )
    s2 = store_y.where(F.col("yr") == 1997).select(
        F.col("cust").alias("k2"), F.col("total").alias("s2")
    )
    w1 = web_y.where(F.col("yr") == 1996).select(
        F.col("cust").alias("k3"), F.col("total").alias("w1")
    )
    w2 = web_y.where(F.col("yr") == 1997).select(
        F.col("cust").alias("k4"), F.col("total").alias("w2")
    )
    return (
        s1.join(s2, F.col("k") == F.col("k2"))
        .join(w1, F.col("k") == F.col("k3"))
        .join(w2, F.col("k") == F.col("k4"))
        .where(
            (F.col("s1") > 0)
            & (F.col("w1") > 0)
            & (
                F.col("w2").cast("double") / F.col("w1").cast("double")
                > F.col("s2").cast("double") / F.col("s1").cast("double")
            )
        )
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("k") == F.col("c_custkey"))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
        .limit(100)
    )


@query(
    "tpcds_q80_channel_profit_rollup",
    cast_double=["sales", "returns_", "profit"],
    oracle=f"""
    WITH sr AS (
        SELECT 'store channel' AS channel, n_name AS id,
               CAST(sum(CAST(k.l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS sales,
               CAST(sum(coalesce(r.ret, CAST(0 AS DECIMAL(22,2)))) AS DECIMAL(22,2)) AS returns_,
               CAST(sum(CAST(k.l_extendedprice AS DECIMAL(12,2))
                        - coalesce(r.ret, CAST(0 AS DECIMAL(22,2)))) AS DECIMAL(22,2)) AS profit
        FROM lineitem k
        LEFT JOIN (SELECT l_orderkey AS rok, l_partkey AS rpk,
                          CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS ret
                   FROM lineitem WHERE l_returnflag = 'R'
                   GROUP BY l_orderkey, l_partkey) r
          ON k.l_orderkey = r.rok AND k.l_partkey = r.rpk
        JOIN supplier ON k.l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE k.l_returnflag = 'N'
          AND k.l_shipdate >= {_TS96} AND k.l_shipdate < {_TS97}
        GROUP BY n_name
    )
    SELECT channel, id,
           CAST(sum(sales) AS DECIMAL(25,2)) AS sales,
           CAST(sum(returns_) AS DECIMAL(25,2)) AS returns_,
           CAST(sum(profit) AS DECIMAL(25,2)) AS profit
    FROM sr
    GROUP BY ROLLUP (channel, id)
    ORDER BY channel NULLS FIRST, id NULLS FIRST
    LIMIT 100
    """,
)
def tpcds_q80(spark, sf_dir):
    """TPC-DS Q80 shape (queries/80.sql): channel sales/returns/profit where
    returns attach by LEFT JOIN on (ticket, item) — kept sales keep rows
    with no matching return (coalesced to 0) — then ROLLUP(channel, id).
    The returns side pre-aggregates to (order, part) grain before the LEFT
    join, so the join is fact-to-aggregate co-partitioned on the same
    key."""
    li = load_table(spark, sf_dir, "lineitem")
    kept = li.where(
        (F.col("l_returnflag") == "N")
        & (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )
    rets = (
        li.where(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_orderkey").alias("rok"), F.col("l_partkey").alias("rpk"))
        .agg(money.sum_money("l_extendedprice", out="decimal(22,2)").alias("ret"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    zero = F.lit(0).cast("decimal(22,2)")
    sr = (
        kept.join(
            rets,
            (F.col("l_orderkey") == F.col("rok")) & (F.col("l_partkey") == F.col("rpk")),
            "left",
        )
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("id"))
        .agg(
            money.sum_money("l_extendedprice", out="decimal(22,2)").alias("sales"),
            F.sum(F.coalesce(F.col("ret"), zero)).cast("decimal(22,2)").alias("returns_"),
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)") - F.coalesce(F.col("ret"), zero)
            )
            .cast("decimal(22,2)")
            .alias("profit"),
        )
        .select(F.lit("store channel").alias("channel"), "id", "sales", "returns_", "profit")
    )
    return (
        sr.rollup("channel", "id")
        .agg(
            F.sum("sales").cast("decimal(25,2)").alias("sales"),
            F.sum("returns_").cast("decimal(25,2)").alias("returns_"),
            F.sum("profit").cast("decimal(25,2)").alias("profit"),
        )
        .orderBy(F.col("channel").asc_nulls_first(), F.col("id").asc_nulls_first())
        .limit(100)
    )


@query(
    "tpcds_q83_return_share_triple",
    cast_double=["share1", "share2", "share3"],
    oracle="""
    WITH wks AS (
        SELECT DISTINCT weekofyear(o_orderdate) AS w
        FROM orders
        WHERE CAST(o_orderdate AS DATE) IN (DATE '1996-03-04', DATE '1996-08-22', DATE '1996-11-14')
    ), r1 AS (
        SELECT p_brand AS item, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'R' AND l_linestatus = 'F' AND year(l_shipdate) = 1996
          AND weekofyear(l_shipdate) IN (SELECT w FROM wks)
        GROUP BY p_brand
    ), r2 AS (
        SELECT p_brand AS item, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'R' AND l_linestatus = 'O' AND year(l_shipdate) = 1996
          AND weekofyear(l_shipdate) IN (SELECT w FROM wks)
        GROUP BY p_brand
    ), r3 AS (
        SELECT p_brand AS item, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'A' AND year(l_shipdate) = 1996
          AND weekofyear(l_shipdate) IN (SELECT w FROM wks)
        GROUP BY p_brand
    )
    SELECT r1.item AS item, r1.qty AS qty1, r2.qty AS qty2, r3.qty AS qty3,
           CAST(r1.qty AS DOUBLE) / (r1.qty + r2.qty + r3.qty) * 100 AS share1,
           CAST(r2.qty AS DOUBLE) / (r1.qty + r2.qty + r3.qty) * 100 AS share2,
           CAST(r3.qty AS DOUBLE) / (r1.qty + r2.qty + r3.qty) * 100 AS share3
    FROM r1 JOIN r2 ON r1.item = r2.item JOIN r3 ON r1.item = r3.item
    ORDER BY item
    LIMIT 100
    """,
)
def tpcds_q83(spark, sf_dir):
    """TPC-DS Q83 shape (queries/83.sql): three return channels restricted
    to the weeks containing three chosen dates (nested IN-subqueries over
    the date dim), per-item quantities three-way joined with each channel's
    share of the total. The week list is a tiny uncorrelated subquery
    (broadcast); the three channel aggregates shuffle on the same item
    key."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wks = (
        o.where(
            F.col("o_orderdate")
            .cast("date")
            .isin(
                F.to_date(F.lit("1996-03-04")),
                F.to_date(F.lit("1996-08-22")),
                F.to_date(F.lit("1996-11-14")),
            )
        )
        .select(F.weekofyear("o_orderdate").alias("w"))
        .distinct()
    )
    p = load_table(spark, sf_dir, "part")
    # Round 17 (VERDICT r16 next #4 — the q2 pattern, guide §2.4): the three
    # return channels used to be three separate aggregates over the SAME
    # filtered fact subtree — three lineitem scans, three part joins, three
    # shuffles on p_brand, then a three-way self-join on item. One pass with
    # channel-conditional sums computes all three columns from a single
    # scan/join/shuffle. The channels' union implies l_returnflag ∈ (R, A),
    # which now pushes into the parquet scan. Inner-join existence semantics
    # come from a per-channel row count, not from the sums: a brand whose
    # channel rows all have a NULL l_quantity has a NULL sum but still joins
    # in r1⋈r2⋈r3. The per-channel long sums are integer arithmetic —
    # order-independent, bit-identical.
    base = (
        li.where(
            (F.year("l_shipdate") == 1996) & F.col("l_returnflag").isin("R", "A")
        )
        .join(F.broadcast(wks), F.weekofyear("l_shipdate") == F.col("w"), "left_semi")
        .join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"))
    )
    qty = F.col("l_quantity").cast("long")
    rf, ls = F.col("l_returnflag"), F.col("l_linestatus")

    chans = {"1": (rf == "R") & (ls == "F"), "2": (rf == "R") & (ls == "O"), "3": rf == "A"}
    agg = base.groupBy(F.col("p_brand").alias("item")).agg(
        *[F.sum(F.when(pred, qty)).alias(f"qty{t}") for t, pred in chans.items()],
        *[(F.count(F.when(pred, 1)) > 0).alias(f"in{t}") for t, pred in chans.items()],
    )
    tot = F.col("qty1") + F.col("qty2") + F.col("qty3")
    return (
        agg.where(F.col("in1") & F.col("in2") & F.col("in3"))
        .select(
            "item",
            "qty1",
            "qty2",
            "qty3",
            (F.col("qty1").cast("double") / tot * 100).alias("share1"),
            (F.col("qty2").cast("double") / tot * 100).alias("share2"),
            (F.col("qty3").cast("double") / tot * 100).alias("share3"),
        )
        .orderBy("item")
        .limit(100)
    )


@query(
    "tpcds_q85_reason_coded_returns",
    cast_double=["avg_qty", "avg_total"],
    oracle="""
    SELECT o_orderpriority AS reason,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                  JOIN customer ON o_custkey = c_custkey
    WHERE l_returnflag = 'R'
      AND ((c_mktsegment = 'BUILDING'  AND l_quantity BETWEEN 1 AND 20)
        OR (c_mktsegment = 'MACHINERY' AND l_quantity BETWEEN 21 AND 35)
        OR (c_mktsegment = 'HOUSEHOLD' AND l_quantity BETWEEN 36 AND 50))
      AND ((o_orderstatus = 'F' AND o_totalprice BETWEEN 50000 AND 200000)
        OR (o_orderstatus = 'O' AND o_totalprice BETWEEN 100000 AND 300000)
        OR (o_orderstatus = 'P' AND o_totalprice BETWEEN 150000 AND 400000))
    GROUP BY o_orderpriority
    ORDER BY reason
    LIMIT 100
    """,
)
def tpcds_q85(spark, sf_dir):
    """TPC-DS Q85 shape (queries/85.sql): reason-coded returns — returned
    lines pushed through TWO bracketed OR-of-AND demographic filters
    (marital/education x quantity brackets; status x net-paid brackets),
    grouped by return reason with average batteries. The disjunctions stay
    row-local (no join blowup); both bracket filters evaluate inside the
    scan stage."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    q = F.col("l_quantity")
    st = F.col("o_orderstatus")
    tp = F.col("o_totalprice")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(c, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .where(
            (
                ((seg == "BUILDING") & q.between(1, 20))
                | ((seg == "MACHINERY") & q.between(21, 35))
                | ((seg == "HOUSEHOLD") & q.between(36, 50))
            )
            & (
                ((st == "F") & tp.between(50000, 200000))
                | ((st == "O") & tp.between(100000, 300000))
                | ((st == "P") & tp.between(150000, 400000))
            )
        )
        .groupBy(F.col("o_orderpriority").alias("reason"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (F.sum(F.col("l_quantity").cast("long")).cast("double") / F.count(F.lit(1))).alias(
                "avg_qty"
            ),
            (
                F.sum(money.cents("o_totalprice")).cast("double")
                / F.lit(100.0)
                / F.count(F.lit(1))
            ).alias("avg_total"),
        )
        .orderBy("reason")
        .limit(100)
    )


@query(
    "tpcds_q86_rollup_rank_hierarchy",
    cast_double=["total_bal"],
    oracle="""
    SELECT r_name, n_name,
           CAST(grouping(r_name) + grouping(n_name) AS BIGINT) AS lochierarchy,
           CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DECIMAL(22,2)) AS total_bal,
           CAST(rank() OVER (
               PARTITION BY grouping(r_name) + grouping(n_name),
                            CASE WHEN grouping(n_name) = 0 THEN r_name END
               ORDER BY CAST(sum(CAST(s_acctbal AS DECIMAL(12,2))) AS DECIMAL(22,2)) DESC,
                        n_name NULLS LAST
           ) AS BIGINT) AS rank_within_parent
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY lochierarchy DESC, r_name NULLS FIRST, rank_within_parent, n_name NULLS FIRST
    LIMIT 100
    """,
)
def tpcds_q86(spark, sf_dir):
    """TPC-DS Q86 shape (queries/86.sql): ROLLUP(category, class) with
    rank() partitioned by the GROUPING level and the parent key — each
    rollup stratum ranked within its parent. grouping() flags survive into
    the window spec exactly as the reference binds them; the rollup input
    is supplier-dim-sized (pre-joined to nation/region broadcast)."""
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    g = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .rollup("r_name", "n_name")
        .agg(
            (F.grouping("r_name") + F.grouping("n_name")).cast("long").alias("lochierarchy"),
            money.sum_money("s_acctbal", out="decimal(22,2)").alias("total_bal"),
        )
    )
    # Parent key: leaf rows (nation present, lochierarchy=0) rank within
    # their region; region subtotals rank among themselves; the grand total
    # is its own stratum — the reference's CASE WHEN grouping(class)=0 THEN
    # category END partition key.
    g = g.withColumn(
        "__parent",
        F.when(F.col("lochierarchy") == 0, F.col("r_name")).otherwise(
            F.lit(None).cast("string")
        ),
    )
    w = Window.partitionBy("lochierarchy", "__parent").orderBy(
        F.desc("total_bal"), F.col("n_name").asc_nulls_last()
    )
    return (
        g.withColumn("rank_within_parent", F.rank().over(w).cast("long"))
        .drop("__parent")
        .orderBy(
            F.desc("lochierarchy"),
            F.col("r_name").asc_nulls_first(),
            "rank_within_parent",
            F.col("n_name").asc_nulls_first(),
        )
        .limit(100)
    )


@query(
    "tpcds_q92_excess_discount_sized",
    cast_double=["excess_discount"],
    oracle=f"""
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(25,2)) AS excess_discount
    FROM lineitem l
         JOIN part ON l.l_partkey = p_partkey
         JOIN (SELECT l_partkey AS ak,
                      CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc
               FROM lineitem
               WHERE l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
               GROUP BY l_partkey) a
           ON l.l_partkey = a.ak
    WHERE p_size BETWEEN 1 AND 15
      AND l.l_shipdate >= {_TS96} AND l.l_shipdate < {_TS97}
      AND CAST(l.l_discount AS DOUBLE) > 1.3 * a.avg_disc
    """,
)
def tpcds_q92(spark, sf_dir):
    """TPC-DS Q92 shape (queries/92.sql): the web-channel excess-discount
    variant — same correlated above-1.3x-average-discount decorrelation as
    q32, but size-banded items and a date-windowed average (the window
    filter pushes into BOTH the driving scan and the average's subquery, as
    the reference's correlated date predicate does)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_size").between(1, 15))
    avg_d = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (
            F.sum(money.cents("l_discount")).cast("double") / F.lit(100.0) / F.count(F.lit(1))
        ).alias("avg_disc")
    )
    return (
        li.join(
            maybe_broadcast(p, sf_dir, "part"),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .join(avg_d, F.col("l_partkey") == F.col("ak"))
        .where(F.col("l_discount").cast("double") > 1.3 * F.col("avg_disc"))
        .agg(money.sum_money("l_extendedprice", out="decimal(25,2)").alias("excess_discount"))
    )


@query(
    "tpcds_q96_point_scan_count",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem JOIN part     ON l_partkey = p_partkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size = 25 AND n_name = 'NATION_5'
      AND l_quantity BETWEEN 10 AND 40
      AND l_shipdate >= {_TS96} AND l_shipdate < {_TS97}
    """,
)
def tpcds_q96(spark, sf_dir):
    """TPC-DS Q96 shape (queries/96.sql): the point-scan count — a bare
    count(*) through three selective dimension filters (hour band, household
    size, store -> size band, nation, date window). Every predicate pushes
    to its dimension scan; the fact picks up two broadcast semi-joins and a
    pushed range filter, producing a count with NO final shuffle beyond the
    1-row partial-count merge."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").between(10, 40)
        & (F.col("l_shipdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("l_shipdate") < _ntz("1997-01-01 00:00:00"))
    )
    p = load_table(spark, sf_dir, "part").where(F.col("p_size") == 25).select("p_partkey")
    n = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_5")
    s = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey")
    )
    return (
        li.join(maybe_broadcast(p, sf_dir, "part"), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "tpcds_q99_latency_by_nation_month",
    oracle=f"""
    SELECT n_name, CAST(month(o_orderdate) AS BIGINT) AS mon,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30 THEN 1 ELSE 0 END) AS BIGINT) AS d30,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 30
                          AND datediff('day', o_orderdate, l_shipdate) <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS d60,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 60
                          AND datediff('day', o_orderdate, l_shipdate) <= 90 THEN 1 ELSE 0 END) AS BIGINT) AS d90,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 90
                          AND datediff('day', o_orderdate, l_shipdate) <= 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120,
           CAST(sum(CASE WHEN datediff('day', o_orderdate, l_shipdate) > 120 THEN 1 ELSE 0 END) AS BIGINT) AS d120plus
    FROM lineitem JOIN orders   ON l_orderkey = o_orderkey
                  JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation   ON s_nationkey = n_nationkey
    WHERE o_orderdate >= {_TS96} AND o_orderdate < {_TS97}
    GROUP BY n_name, month(o_orderdate)
    ORDER BY n_name, mon
    LIMIT 100
    """,
)
def tpcds_q99(spark, sf_dir):
    """TPC-DS Q99 shape (queries/99.sql): q62's latency band battery widened
    to a (call center, month) grid — here (supplier nation, order month) —
    the same five conditional sums over datediff, grouped on two keys. The
    fact shuffles once on the composite group key; the dims ride broadcast
    (size-gated)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1996-01-01 00:00:00"))
        & (F.col("o_orderdate") < _ntz("1997-01-01 00:00:00"))
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    lat = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(maybe_broadcast(s, sf_dir, "supplier"), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.month("o_orderdate").cast("long").alias("mon"))
        .agg(
            F.sum(F.when(lat <= 30, 1).otherwise(0)).alias("d30"),
            F.sum(F.when((lat > 30) & (lat <= 60), 1).otherwise(0)).alias("d60"),
            F.sum(F.when((lat > 60) & (lat <= 90), 1).otherwise(0)).alias("d90"),
            F.sum(F.when((lat > 90) & (lat <= 120), 1).otherwise(0)).alias("d120"),
            F.sum(F.when(lat > 120, 1).otherwise(0)).alias("d120plus"),
        )
        .orderBy("n_name", "mon")
        .limit(100)
    )
