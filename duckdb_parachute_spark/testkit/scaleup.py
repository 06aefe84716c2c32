"""Factor-N scale-up data generator (round 17, VERDICT r16 next #1).

Extracted from scripts/scale_measure.py so BOTH surfaces share one
generator: the scale-measurement script (Spark-vs-DuckDB ratio tables) and
bench.py's BENCH_SCALE mode (the scaling-contract fix — at sf0.1 the
26-query suite is scheduling-floor-bound, so an 8-vs-32-core comparison
carries no signal; at 10x the per-query work dominates the floor and the
core-count ratio becomes falsifiable).

Shape (unchanged from the round-6..10 generator):
- facts (lineitem/orders/events) replicate with shifted keys — distinct
  entities per copy, same per-key row counts (the realistic scale-up);
- orders shift by the SAME key offset as lineitem so fact-fact joins match
  across every copy;
- embeddings replicate with shifted ids (vectors repeat — ANN buckets get
  FACTOR x denser, the pressure a probe faces at scale);
- documents word-salt each copy's text so cross-copy shingle sets are
  disjoint (Jaccard 0) and the near-dup pair count scales LINEARLY;
- dims stay 1x.

Deterministic: pure replication/arithmetic on the deterministic source
data, no rand() anywhere.
"""

from __future__ import annotations

import os
import shutil
import sys

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

DEFAULT_ROOT = "/tmp/parachute_scaleup"
#: written after every table, so a replica a killed run left behind is
#: never reused
_COMPLETE = "_COMPLETE"


def scaled_dir(factor: int, root: str = DEFAULT_ROOT) -> str:
    return os.path.join(root, f"x{factor}")


def generate_scaled(
    spark, src_dir: str, factor: int, out_dir: str | None = None, reuse: bool = False
) -> str:
    """Write a factor-x replica of ``src_dir`` under ``out_dir`` and return
    the path. ``reuse=True`` returns an existing complete output untouched
    (completeness probe: the ``_COMPLETE`` sentinel, written last)."""
    from pyspark.sql import functions as F

    from duckdb_parachute_spark.catalog import load_table

    out = out_dir or scaled_dir(factor)
    if os.path.exists(out):
        if reuse and os.path.exists(os.path.join(out, _COMPLETE)):
            print(f"reusing existing {out}", file=sys.stderr)
            return out
        shutil.rmtree(out)
    os.makedirs(out, exist_ok=True)
    copies = list(range(factor))

    li = load_table(spark, src_dir, "lineitem")
    max_ok = li.agg(F.max("l_orderkey")).collect()[0][0] + 1
    li_n = None
    ev = load_table(spark, src_dir, "events")
    max_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    docs = load_table(spark, src_dir, "documents")
    max_doc = docs.agg(F.max("doc_id")).collect()[0][0] + 1

    for i in copies:
        part_li = li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        li_n = part_li if li_n is None else li_n.unionAll(part_li)
    li_n.write.mode("overwrite").parquet(os.path.join(out, "lineitem.parquet"))

    o = load_table(spark, src_dir, "orders")
    o_n = None
    for i in copies:
        p = o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok))
        o_n = p if o_n is None else o_n.unionAll(p)
    o_n.write.mode("overwrite").parquet(os.path.join(out, "orders.parquet"))

    emb = load_table(spark, src_dir, "embeddings")
    max_vec = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    e_n = None
    for i in copies:
        p = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * max_vec)) if i else emb
        e_n = p if e_n is None else e_n.unionAll(p)
    e_n.write.mode("overwrite").parquet(os.path.join(out, "embeddings.parquet"))

    ev_n = None
    for i in copies:
        p = ev.withColumn("event_id", F.col("event_id") + F.lit(i * max_ev)).withColumn(
            "user_id", F.col("user_id") + F.lit(i * 1000)
        )
        ev_n = p if ev_n is None else ev_n.unionAll(p)
    ev_n.write.mode("overwrite").parquet(os.path.join(out, "events.parquet"))

    d_n = None
    for i in copies:
        p = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * max_doc)).withColumn(
            "text",
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "), lambda w: F.concat(w, F.lit(f"_{i}"))
                ),
                " ",
            ),
        )
        d_n = p if d_n is None else d_n.unionAll(p)
    d_n.write.mode("overwrite").parquet(os.path.join(out, "documents.parquet"))

    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            src = os.path.join(src_dir, f"{t}.parquet")
            (shutil.copytree if os.path.isdir(src) else shutil.copy)(src, dst)
    open(os.path.join(out, _COMPLETE), "w").close()
    return out
