"""Measured scale-up (round-6 VERDICT item 6): convert the 100 TB
fixed-floor-amortization claim from plan-shape argument into numbers.

Generates a one-off 10x-sf0.1-equivalent dataset (facts replicated with
key shifts; documents word-salted per copy so cross-copy texts are NOT
near-duplicates and the dup rate stays linear), then times three
compute-bound queries on BOTH engines at 1x and 10x:

    dedup_minhash_pairs   (documents)
    tpcds_q67_rollup_topk (lineitem + part)
    window_ranks          (events)

Usage:  python scripts/scale_measure.py [factor]   (default 10)

Prints a markdown table for BASELINE.md. Writes the synthetic data under
/tmp/parachute_scaleup/ — nothing outside the repo or /tmp is touched.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 10
SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = f"/tmp/parachute_scaleup/x{FACTOR}"
QUERIES = [
    "dedup_minhash_pairs",
    "tpcds_q67_rollup_topk",
    "window_ranks",
    # round-7 additions (VERDICT item 4): the co-partitioned big-big
    # shuffle join and the LSH ANN probe — the two plan families with no
    # scale point yet.
    "h2o_join_big_big",
    "sim_lsh_topk",
    # round-8 additions (VERDICT items 4+8): the AS-OF join (events scale
    # with the factor), and the storage-bucketed big-big join (bucketed
    # write is setup outside the clock; the timed part is the
    # zero-exchange join itself).
    "join_asof_purchase",
    "join_bucketed_big_big",
    # round-9 addition (VERDICT item 8): dynamic PIVOT over full orders —
    # the driver-side value discovery is bounded metadata; the timed part
    # is the single-pass pivot aggregate, which must scale like any agg.
    "pivot_dynamic_values",
    # round-9 addition: connected components over the MinHash pair graph
    # (large-star/small-star rounds; word-salted copies keep the pair
    # count — and so the edge set — linear in the factor).
    "dedup_cluster_canonical",
    # late round-9 additions: the two corpus-sized text scorers (BM25's
    # pruned token shuffle; the bigram model's vocab-grained counts —
    # word-salting grows the vocab with the factor, the worst case).
    "text_bm25_topk",
    "text_bigram_logprob",
    # round-10 additions (VERDICT r9 item 8): the stratified sampler —
    # replicated copies keep the same lang values, so every stratum gets
    # FACTOR x hotter, exactly the hot-stratum shape the gate prefilter
    # exists for — and the PII scrub, a pure narrow regex map whose wall
    # must track the corpus linearly.
    "sample_stratified_topk",
    "text_pii_scrub",
    # plus RECURSIVE_SCALE / FRAMES_SCALE below — harness-local variants of
    # registry queries whose registry form caps its input (l_orderkey<300 /
    # 25-row nation dim), which a data scale-up never grows.
]
# Claim-check oracles (constant-row SQL) time nothing real in DuckDB; show
# the Spark scaling curve only for these.
NOT_RATIO_COMPARABLE = {"sim_lsh_topk"}

# Fact-sized recursion (round 8): depth-limited 2-branch reachability over an
# edge set derived from events' users (|edges| ~= 2x distinct users, which
# scales with FACTOR). Per-iteration cost is one scan+join of the fact-sized
# edge set against a small delta — the property that must scale. The registry
# query recursive_cte_graph_reach recurses over the 25-row nation dim, so a
# data scale-up never exercises it; this harness-local pair does.
RECURSIVE_SCALE = "recursive_scale_user_reach"
_REC_DEPTH = 8
_REC_SQL = f"""
WITH RECURSIVE r(node, d) AS (
    SELECT (SELECT CAST(min(user_id) AS BIGINT) FROM events), 0
    UNION ALL
    SELECT e.dst, r.d + 1
    FROM (
        SELECT CAST(user_id AS BIGINT) AS src,
               (CAST(user_id AS BIGINT) * 7 + 3)
                 % (SELECT CAST(max(user_id) + 1 AS BIGINT) FROM events) AS dst
        FROM events
        UNION
        SELECT CAST(user_id AS BIGINT),
               (CAST(user_id AS BIGINT) * 5 + 11)
                 % (SELECT CAST(max(user_id) + 1 AS BIGINT) FROM events)
        FROM events
    ) e JOIN r ON e.src = r.node
    WHERE r.d < {_REC_DEPTH}
)
SELECT CAST(count(*) AS BIGINT) AS paths,
       CAST(count(DISTINCT node) AS BIGINT) AS nodes
FROM r
"""


def _recursive_scale_df(spark, sf_dir):
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.operators import recursive_cte

    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("user_id").cast("long").alias("lo"), (F.max("user_id") + 1).cast("long").alias("m")
    ).collect()[0]
    lo, m = bounds["lo"], bounds["m"]
    u = ev.select(F.col("user_id").cast("long").alias("src")).distinct()
    edges = (
        u.select("src", ((F.col("src") * 7 + 3) % m).alias("dst"))
        .unionAll(u.select("src", ((F.col("src") * 5 + 11) % m).alias("dst")))
        .distinct()
    )
    base = spark.range(1).select(F.lit(lo).cast("long").alias("node"), F.lit(0).alias("d"))

    def step(prev):
        return (
            edges.join(
                F.broadcast(prev.where(F.col("d") < _REC_DEPTH)),
                edges.src == F.col("node"),
            )
            .select(F.col("dst").alias("node"), (F.col("d") + 1).alias("d"))
        )

    # round-13 experiment knob (VERDICT r12 perf-weak #1): REC_UNROLL=N
    # deepens the batch — measured depths land in BASELINE.md §round-13.
    r = recursive_cte(
        base,
        step,
        union_all=True,
        max_iterations=_REC_DEPTH + 2,
        max_unroll=int(os.environ.get("REC_UNROLL", "2")),
    )
    return r.agg(
        F.count(F.lit(1)).alias("paths"),
        F.countDistinct("node").alias("nodes"),
    )


# Full-fact EXCLUDE frame rewrite (round 9): the registry's
# window_exclude_modes caps lineitem at l_orderkey<300 for bounded graded
# output, so scale never exercises it. This variant runs exclude_sums over
# the WHOLE lineitem (the round-9 aggregate+join-back formulation — one
# fact shuffle, parallelism = shuffle partitions, NOT one task per
# l_returnflag) and reduces the result so neither engine times result
# transfer. DuckDB runs its NATIVE EXCLUDE frames on the same data.
FRAMES_SCALE = "frames_scale_exclude_full"
_FRAMES_SQL = """
WITH x AS (
    SELECT sum(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
               PARTITION BY l_returnflag ORDER BY l_quantity
               RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               EXCLUDE GROUP) AS eg,
           sum(CAST(l_extendedprice AS DECIMAL(12,2))) OVER (
               PARTITION BY l_returnflag ORDER BY l_quantity
               RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
               EXCLUDE TIES) AS et
    FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n,
       round(CAST(sum(eg) AS DOUBLE) / 1e9, 3) AS eg_b,
       round(CAST(sum(et) AS DOUBLE) / 1e9, 3) AS et_b
FROM x
"""


def _frames_scale_df(spark, sf_dir):
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.operators.frames import exclude_sums

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    out = exclude_sums(
        li,
        part=["l_returnflag"],
        order="l_quantity",
        value=F.col("l_extendedprice").cast("decimal(12,2)"),
    )
    return out.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("excl_group").cast("double") / 1e9, 3).alias("eg_b"),
        F.round(F.sum("excl_ties").cast("double") / 1e9, 3).alias("et_b"),
    )


# SemDeDup cluster assignment (round 11, VERDICT r10 item 3): the stage the
# r10 judge flagged as a k× corpus shuffle, now a zero-exchange broadcast
# argmax. The registry query dedup_semantic_pairs can't scale-run as-is: the
# 100× generator replicates embeddings VERBATIM, so the fixed 6-cluster pair
# stage's output grows quadratically by construction (the pair machinery's
# scale row is minhash's). This variant times the ASSIGNMENT over the full
# scaled corpus and reduces to a two-cell aggregate; DuckDB replays the same
# argmax via its k×N crossJoin + row_number (its natural plan for it).
SEMANTIC_SCALE = "semantic_scale_assign"
_SEM_SQL = """
WITH cents AS (
    SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c
    FROM embeddings WHERE vec_id < 6
),
assigned AS (
    SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.c) DESC,
                            c.cid
               ) AS rn
        FROM embeddings e CROSS JOIN cents c
    ) WHERE rn = 1
)
SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(cid) AS BIGINT) AS cid_sum
FROM assigned
"""


def _semantic_scale_df(spark, sf_dir):
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table
    from duckdb_parachute_spark.dedup import semantic_cluster_assign

    e = load_table(spark, sf_dir, "embeddings")
    cents = e.where(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").cast("array<double>").alias("centroid"),
    )
    a = semantic_cluster_assign(e, cents, "vec_id", "embedding")
    return a.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("centroid_id").cast("bigint").alias("cid_sum"),
    )


EXTRA = {RECURSIVE_SCALE: (_recursive_scale_df, _REC_SQL),
         FRAMES_SCALE: (_frames_scale_df, _FRAMES_SQL),
         SEMANTIC_SCALE: (_semantic_scale_df, _SEM_SQL)}

# SCALE_ONLY=a,b,c — time just a subset (data generation unchanged); the
# per-round additions don't need to re-time the whole table every time.
if os.environ.get("SCALE_ONLY"):
    _only = {s.strip() for s in os.environ["SCALE_ONLY"].split(",") if s.strip()}
    QUERIES = [q for q in QUERIES if q in _only]
    EXTRA = {k: v for k, v in EXTRA.items() if k in _only}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
RUNS = int(os.environ.get("BENCH_RUNS", "3"))


def generate(spark) -> None:
    # Round 17: the generator moved to testkit.scaleup (shared with
    # bench.py's BENCH_SCALE mode — VERDICT r16 next #1); the data shape
    # (key-shifted facts, word-salted documents, 1x dims) is unchanged.
    from duckdb_parachute_spark.testkit.scaleup import generate_scaled

    generate_scaled(
        spark, SRC, FACTOR, out_dir=OUT, reuse=os.environ.get("SCALE_REUSE") == "1"
    )


def time_spark(spark, sf_dir: str) -> dict[str, float]:
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.workload import load_all

    qs = load_all()
    out = {}
    for name in QUERIES + list(EXTRA):
        def build(_n=name):
            if _n in EXTRA:
                return EXTRA[_n][0](spark, sf_dir)
            return qs[_n].fn(spark, sf_dir)

        # bench.py's forcer: hash-aggregate EVERY column so Catalyst cannot
        # prune the window/sort/join work a bare count() would skip.
        def force():
            d = build()
            d.agg(F.sum(F.hash(*[F.col(c) for c in d.columns]))).collect()

        force()  # warm (codegen, file listing)
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            force()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def time_duckdb(sf_dir: str) -> dict[str, float]:
    import duckdb

    from duckdb_parachute_spark.workload import load_all

    qs = load_all()
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count()}")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        # Spark writes a DIRECTORY of part files; DuckDB wants a glob then.
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    out = {}
    for name in QUERIES + list(EXTRA):
        sql = EXTRA[name][1] if name in EXTRA else qs[name].oracle
        con.execute(sql).fetchall()  # warm
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        out[name] = round(best, 3)
    return out


def main() -> None:
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.session import scaled_shuffle_partitions

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    spark = get_session(app_name="parachute-scale", master=f"local[{cpus}]")
    print(f"generating {FACTOR}x data under {OUT} ...", file=sys.stderr)
    generate(spark)
    spark.stop()

    results = {}
    for tag, sf_dir in [("1x", SRC), (f"{FACTOR}x", OUT)]:
        spark = get_session(
            app_name=f"parachute-scale-{tag}",
            master=f"local[{cpus}]",
            shuffle_partitions=scaled_shuffle_partitions(sf_dir),
        )
        spark.range(1_000_000).selectExpr("sum(id)").collect()
        s = time_spark(spark, sf_dir)
        spark.stop()
        d = time_duckdb(sf_dir)
        results[tag] = (s, d)
        print(f"{tag}: spark={s} duckdb={d}", file=sys.stderr)

    print("\n| query | DuckDB 1x | Spark 1x | ratio 1x | "
          f"DuckDB {FACTOR}x | Spark {FACTOR}x | ratio {FACTOR}x |")
    print("|---|---|---|---|---|---|---|")
    s1, d1 = results["1x"]
    sN, dN = results[f"{FACTOR}x"]
    for q in QUERIES + list(EXTRA):
        if q in NOT_RATIO_COMPARABLE:
            print(f"| {q} | — | {s1[q]:.3f} | — | — | {sN[q]:.3f} | — "
                  f"(Spark {sN[q] / s1[q]:.2f}x at {FACTOR}x data) |")
            continue
        r1 = s1[q] / d1[q] if d1[q] else float("nan")
        rN = sN[q] / dN[q] if dN[q] else float("nan")
        print(f"| {q} | {d1[q]:.3f} | {s1[q]:.3f} | {r1:.2f}x "
              f"| {dN[q]:.3f} | {sN[q]:.3f} | {rN:.2f}x |")


if __name__ == "__main__":
    main()
