"""The benchmark's workloads: their operation lists, set-up and checks.

Every operation is a call into the engine's public API; its latency runs
from that call until the result is collected (reads) or the commit
returns (writes). Reads are checked against an expected fingerprint kept
in ``expected/fingerprints.json``; ``write_mix`` is checked against a
DuckDB table that replays the same seed-generated operation log.
"""

from __future__ import annotations

import datetime as dt
import os
import random

#: Relational operations. Each is a registry query built fresh per operation
#: (``QueryDef.fn``), so driver build, ``sqlx`` and Catalyst are timed.
OLAP_OPS = [
    "tpch_q1_pricing_summary",
    "tpch_q6_forecast_revenue",
    "join_bucketed_big_big",
    # sqlx-driven: SQL text -> transpile -> spark.sql
    "dialect_qualify",
]

#: Driver-loop-bound operations: a fixpoint, a dedup pipeline and a
#: similarity probe, one per layer.
PIPELINE_OPS = [
    "recursive_cte_graph_reach",
    "dedup_minhash_pairs",
    "sim_lsh_topk",
]

#: The read workloads and their operation lists.
READ_WORKLOADS = {"read_sf01": OLAP_OPS + PIPELINE_OPS}

#: Registry queries whose DataFrame build writes persistent storage once
#: per session (amortized set-up): the benchmark builds them during set-up.
AMORTIZED = {"join_bucketed_big_big"}


def fingerprint_df(df):
    """One-row probe over every output column: the order-insensitive
    ``sum(hash(*cols))``. Columns Spark cannot hash (maps) are hashed
    through their JSON text."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import MapType

    cols = [
        F.to_json(F.struct(F.col(f.name))) if isinstance(f.dataType, MapType) else F.col(f.name)
        for f in df.schema.fields
    ]
    return df.agg(F.sum(F.hash(*cols)).alias("fp"), F.count(F.lit(1)).alias("n"))


class Ctx:
    """What an operation needs: the session, the data and the tracer."""

    def __init__(self, spark, data_dir: str, run_dir: str, tracer=None):
        self.spark, self.data_dir, self.run_dir, self.tracer = spark, data_dir, run_dir, tracer
        self.last_probe = None  # executed probe Dataset of the last read (Catalyst phases)

    def span(self, name):
        import contextlib

        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()


# -- read operations -----------------------------------------------------------


class RegistryRead:
    """A registry query; ``QueryDef.fn`` builds it inside the timed call."""

    def __init__(self, name: str, qd):
        self.name, self.qd = name, qd

    def run(self, ctx: Ctx):
        with ctx.span("workload.build"):
            df = self.qd.fn(ctx.spark, ctx.data_dir)
        probe = fingerprint_df(df)
        row = probe.collect()[0]
        ctx.last_probe = probe
        return [row["fp"], row["n"]]


def read_ops(workload: str, registry) -> list[RegistryRead]:
    return [RegistryRead(n, registry[n]) for n in READ_WORKLOADS[workload]]


# -- write_mix -----------------------------------------------------------------

ORDERS_DDL = (
    "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double, "
    "o_orderdate timestamp_ntz, o_orderpriority string"
)
AUDIT_DDL = "a_orderkey bigint, a_note string"
BATCH = 200  # rows per insert / delete / stream append
WRITE_KINDS = ["insert", "delete_where", "update_set", "merge_upsert", "txn_multi", "stream_append"]
READ_KINDS = ["snapshot_read", "time_travel_read"]
RETAIN = 6  # manifests kept by vacuum
ALL_KINDS = WRITE_KINDS + READ_KINDS + ["vacuum"]

SUMMARY_SQL = (
    "count(*) AS n, sum(o_orderkey) AS k, sum(o_custkey) AS c, "
    "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS p, count(DISTINCT o_orderstatus) AS s, "
    "min(o_orderdate) AS d0, max(o_orderdate) AS d1, sum(length(o_orderpriority)) AS l"
)


def gen_write_log(seed: int, n_blocks: int, base_rows: int) -> list[list[dict]]:
    """The seed's operation log, in blocks. A block holds every write kind
    once, in a seed-chosen order after the first block, with a snapshot or time-travel read after
    every second write, and ends with a vacuum. Inserts (fresh
    keys) are balanced by range deletes over the oldest keys, so the table
    size stays steady."""
    rng = random.Random(seed)
    next_key, del_lo = base_rows, 0
    statuses, prios = ["F", "O", "P"], ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

    def rows(keys):
        return [
            (k, rng.randrange(15_000), rng.choice(statuses), round(rng.uniform(1000, 500000), 2),
             dt.datetime(1995, 1, 1) + dt.timedelta(days=rng.randrange(2400)), rng.choice(prios))
            for k in keys
        ]

    blocks = []
    for b in range(n_blocks):
        kinds = WRITE_KINDS[:]
        if b:  # block 0 (first executions) keeps a fixed order, see op_order
            rng.shuffle(kinds)
        reads = READ_KINDS * (len(kinds) // 4) + [rng.choice(READ_KINDS)]
        rng.shuffle(reads)
        block: list[dict] = []
        for i, kind in enumerate(kinds):
            op: dict = {"kind": kind}
            if kind in ("insert", "stream_append"):
                op["rows"] = rows(range(next_key, next_key + BATCH))
                next_key += BATCH
            elif kind == "delete_where":
                op["lo"], op["hi"] = del_lo, del_lo + BATCH - 1
                del_lo += BATCH
            elif kind == "update_set":
                lo = del_lo + rng.randrange(0, 50_000)
                op.update(lo=lo, hi=lo + 99, status="U", price=round(rng.uniform(1, 999), 2))
            elif kind == "merge_upsert":
                lo = del_lo + rng.randrange(0, 50_000)
                op["rows"] = rows(range(lo, lo + BATCH // 2)) + rows(
                    range(next_key, next_key + BATCH // 2))
                next_key += BATCH // 2
            elif kind == "txn_multi":
                # one transaction over two tables: delete the oldest keys
                # from orders and record them in the audit table
                op["lo"], op["hi"] = del_lo, del_lo + BATCH // 2 - 1
                del_lo += BATCH // 2
                op["note"] = f"moved-{rng.randrange(10**6)}"
            block.append(op)
            if i % 2:
                block.append({"kind": reads.pop(), "back": rng.randrange(1, RETAIN)})
        block.append({"kind": "vacuum"})
        blocks.append(block)
    return blocks


def _dir_files(root: str) -> dict[str, int]:
    out = {}
    for r, _d, files in os.walk(root):
        for f in files:
            p = os.path.join(r, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass
    return out


class WriteMix:
    """Direct ``VersionedTable`` calls on a table built from ``orders``,
    mirrored in DuckDB. Each write's bytes on disk and rows changed feed
    ``write_amp``; ``space_amp`` is read at the end."""

    def __init__(self, ctx: Ctx, seed: int):
        self.ctx, self.seed = ctx, seed

    def setup(self) -> None:
        """Amortized set-up: the initial versioned tables."""
        from duckdb_parachute_spark.catalog import load_table
        from duckdb_parachute_spark.operators.acid import VersionedTable

        ctx, spark = self.ctx, self.ctx.spark
        self.root = os.path.join(ctx.run_dir, "orders_vt")
        self.audit_root = os.path.join(ctx.run_dir, "audit_vt")
        self.watch = os.path.join(ctx.run_dir, "stream_in")
        self.ckpt = os.path.join(ctx.run_dir, "stream_ckpt")
        os.makedirs(self.watch)
        orders = load_table(spark, ctx.data_dir, "orders")
        self.t = VersionedTable.create(spark, self.root, orders)
        self.a = VersionedTable.create(spark, self.audit_root, spark.createDataFrame([], AUDIT_DDL))

    def setup_mirror(self) -> None:
        """The DuckDB replay of the same log (checking only, untimed)."""
        import duckdb

        src = os.path.join(self.ctx.data_dir, "orders.parquet")
        self.con = duckdb.connect()
        self.con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}')")
        self.con.execute("CREATE TABLE a (a_orderkey BIGINT, a_note VARCHAR)")
        self.base_rows = self.con.execute("SELECT count(*) FROM t").fetchone()[0]
        self.expected: dict[int, list] = {self.t.snapshot.version: self._duck_summary()}
        self.versions = [self.t.snapshot.version]
        self.bytes_written = 0
        self.rows_changed = 0

    def log(self, n_blocks: int) -> list[list[dict]]:
        return gen_write_log(self.seed, n_blocks, self.base_rows)

    def _duck_summary(self) -> list:
        return [str(v) for v in self.con.execute(f"SELECT {SUMMARY_SQL} FROM t").fetchone()]

    def _spark_summary(self, df) -> list:
        row = df.selectExpr(*[s.strip() for s in _split_summary()]).collect()[0]
        return [str(v) for v in row]

    def _rows_df(self, rows):
        return self.ctx.spark.createDataFrame(rows, ORDERS_DDL)

    # one operation: returns (is_write, run_callable, after_callable)
    def run(self, op: dict):
        """Execute ``op`` against Spark (timed by the caller) and return a
        closure that applies it to the DuckDB mirror and checks (untimed)."""
        from pyspark.sql import functions as F

        from duckdb_parachute_spark.operators.acid import VersionedTable, commit_multi
        from duckdb_parachute_spark.streaming import stream_into_versioned_table

        kind, spark, con = op["kind"], self.ctx.spark, self.con
        key = F.col("o_orderkey")
        if kind == "insert":
            self.t = self.t.insert(self._rows_df(op["rows"]))
            return lambda: (con.executemany("INSERT INTO t VALUES (?,?,?,?,?,?)", op["rows"]), len(op["rows"]))[1]
        if kind == "delete_where":
            self.t = self.t.delete_where((key >= op["lo"]) & (key <= op["hi"]))
            return lambda: self._duck_count_then(
                f"o_orderkey BETWEEN {op['lo']} AND {op['hi']}",
                f"DELETE FROM t WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        if kind == "update_set":
            self.t = self.t.update_set(
                (key >= op["lo"]) & (key <= op["hi"]),
                {"o_orderstatus": F.lit(op["status"]), "o_totalprice": F.lit(op["price"])},
            )
            return lambda: self._duck_count_then(
                f"o_orderkey BETWEEN {op['lo']} AND {op['hi']}",
                f"UPDATE t SET o_orderstatus = '{op['status']}', o_totalprice = {op['price']} "
                f"WHERE o_orderkey BETWEEN {op['lo']} AND {op['hi']}")
        if kind == "merge_upsert":
            self.t = self.t.merge_upsert(self._rows_df(op["rows"]), "o_orderkey")

            def mirror():
                con.execute("CREATE OR REPLACE TEMP TABLE src (o_orderkey BIGINT, o_custkey BIGINT, "
                            "o_orderstatus VARCHAR, o_totalprice DOUBLE, o_orderdate TIMESTAMP, "
                            "o_orderpriority VARCHAR)")
                con.executemany("INSERT INTO src VALUES (?,?,?,?,?,?)", op["rows"])
                con.execute("DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM src)")
                con.execute("INSERT INTO t SELECT * FROM src")
                return len(op["rows"])

            return mirror
        if kind == "txn_multi":
            cond = (key >= op["lo"]) & (key <= op["hi"])
            moved = self.t.read().where(cond).select(
                key.alias("a_orderkey"), F.lit(op["note"]).alias("a_note"))
            ta = self.a.begin().insert(moved)
            tt = self.t.begin().delete_where(cond)
            done = commit_multi({"orders": tt, "audit": ta})
            self.t, self.a = done["orders"], done["audit"]

            def mirror():
                where = f"o_orderkey BETWEEN {op['lo']} AND {op['hi']}"
                con.execute(f"INSERT INTO a SELECT o_orderkey, '{op['note']}' FROM t WHERE {where}")
                return self._duck_count_then(where, f"DELETE FROM t WHERE {where}")

            return mirror
        if kind == "stream_append":
            # the new input file arrived before the clock (prepare())
            stream_df = spark.readStream.schema(ORDERS_DDL).parquet(self.watch)
            stream_into_versioned_table(stream_df, self.root, self.ckpt)
            self.t = VersionedTable.open(spark, self.root)
            return lambda: (con.executemany("INSERT INTO t VALUES (?,?,?,?,?,?)", op["rows"]), len(op["rows"]))[1]
        if kind == "vacuum":
            self.t.vacuum(retain_last=RETAIN)
            self.versions = self.versions[-RETAIN:]
            return lambda: 0
        if kind == "snapshot_read":
            got = self._spark_summary(VersionedTable.open(spark, self.root).read())
            want_v = self.t.snapshot.version
            return lambda: self._check(got, want_v)
        if kind == "time_travel_read":
            v = self.versions[max(0, len(self.versions) - 1 - op["back"])]
            got = self._spark_summary(VersionedTable.open(spark, self.root, version=v).read())
            return lambda: self._check(got, v)
        raise ValueError(kind)

    def prepare(self, op: dict) -> None:
        """Untimed input preparation: a stream op's file lands in the watch dir."""
        if op["kind"] == "stream_append":
            import pyarrow as pa
            import pyarrow.parquet as pq

            cols = list(zip(*op["rows"]))
            tbl = pa.table({
                "o_orderkey": pa.array(cols[0], pa.int64()),
                "o_custkey": pa.array(cols[1], pa.int64()),
                "o_orderstatus": pa.array(cols[2], pa.string()),
                "o_totalprice": pa.array(cols[3], pa.float64()),
                "o_orderdate": pa.array(cols[4], pa.timestamp("us")),
                "o_orderpriority": pa.array(cols[5], pa.string()),
            })
            pq.write_table(tbl, os.path.join(self.watch, f"batch-{op['rows'][0][0]}.parquet"))

    def _duck_count_then(self, where: str, stmt: str) -> int:
        n = self.con.execute(f"SELECT count(*) FROM t WHERE {where}").fetchone()[0]
        self.con.execute(stmt)
        return n

    def _check(self, got: list, version: int) -> int:
        want = self.expected.get(version)
        if want is None or got != want:
            raise AssertionError(f"snapshot v{version}: spark {got} != duckdb replay {want}")
        return 0

    def after_write(self, before: dict[str, int], rows_changed: int, is_write: bool) -> None:
        """Record bytes written by the last write and the replay's summary at
        the new version (untimed)."""
        after = _dir_files(self.root)
        after.update(_dir_files(self.audit_root))
        self.bytes_written += sum(s for p, s in after.items() if p not in before)
        self.rows_changed += rows_changed
        if is_write:
            v = self.t.snapshot.version
            self.expected[v] = self._duck_summary()
            self.versions.append(v)

    def files_now(self) -> dict[str, int]:
        out = _dir_files(self.root)
        out.update(_dir_files(self.audit_root))
        return out

    def finish(self) -> dict:
        """Final checks and amplification: the live snapshot must equal the
        DuckDB replay row for row (both directions of EXCEPT ALL)."""
        from duckdb_parachute_spark.operators.acid import VersionedTable

        spark = self.ctx.spark
        final = VersionedTable.open(spark, self.root)
        arrow = final.read().toArrow()  # noqa: F841 - read by DuckDB below
        self.con.register("spark_final", arrow)
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        diff = self.con.execute(
            f"SELECT (SELECT count(*) FROM (SELECT {cols} FROM spark_final EXCEPT ALL SELECT {cols} FROM t)),"
            f"       (SELECT count(*) FROM (SELECT {cols} FROM t EXCEPT ALL SELECT {cols} FROM spark_final))"
        ).fetchone()
        audit_n = VersionedTable.open(spark, self.audit_root).read().count()
        ok = diff == (0, 0) and audit_n == self.con.execute("SELECT count(*) FROM a").fetchone()[0]
        live = sum(os.path.getsize(os.path.join(self.root, f)) for f in final.snapshot.files)
        live_rows = arrow.num_rows
        on_disk = sum(_dir_files(self.root).values())
        user_bytes = self.rows_changed * (live / max(live_rows, 1))
        return {
            "ok": ok,
            "diff": diff,
            "write_amp": self.bytes_written / max(user_bytes, 1.0),
            "space_amp": on_disk / max(live, 1),
        }


def _split_summary() -> list[str]:
    out, depth, cur = [], 0, ""
    for ch in SUMMARY_SQL:
        if ch == "," and depth == 0:
            out.append(cur)
            cur = ""
            continue
        depth += ch == "("
        depth -= ch == ")"
        cur += ch
    return out + [cur]


def op_order(n: int, seed: int, pass_no: int) -> list[int]:
    """The seed's operation order for one pass. Pass 0, which holds each
    operation's first execution, keeps the list order: a first execution's
    cost depends on what ran before it in the process."""
    idx = list(range(n))
    if pass_no:
        random.Random(seed * 1009 + pass_no).shuffle(idx)
    return idx
