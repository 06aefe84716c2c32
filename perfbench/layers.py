"""Per-layer tracing for the benchmark (used only with ``--trace 1``).

Spans are recorded from here, around calls into the engine's public
functions: each wrapped function records a span with a name, start, end,
parent span and operation id. Spark's own job, stage and task data comes
from the uncompressed event log, parsed after the session stops; jobs are
attributed to an operation by job group, or by time window for jobs
started on other threads (streaming micro-batches). Catalyst phase times
come from each probe's ``QueryExecution.tracker``; streaming batch times
come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time

#: (module, attribute, span name) — attribute may be "Class.method"
WRAPPED = [
    ("duckdb_parachute_spark.sqlx", "sql", "sqlx.sql"),
    ("duckdb_parachute_spark.sqlx", "transpile", "sqlx.transpile"),
    ("duckdb_parachute_spark.catalog", "load_table", "catalog.load_table"),
    ("duckdb_parachute_spark.operators.recursive", "recursive_cte", "recursive"),
    ("duckdb_parachute_spark.dedup", "minhash_lsh_pairs", "dedup"),
    ("duckdb_parachute_spark.dedup", "embedding_neardup_pairs", "dedup"),
    ("duckdb_parachute_spark.dedup", "semantic_dup_pairs", "dedup"),
    ("duckdb_parachute_spark.dedup", "semantic_cluster_assign", "dedup"),
    ("duckdb_parachute_spark.dedup", "exact_dedup", "dedup"),
    ("duckdb_parachute_spark.dedup.components", "connected_components", "dedup"),
    ("duckdb_parachute_spark.similarity", "brute_force_topk", "similarity.probe"),
    ("duckdb_parachute_spark.similarity", "ivf_topk", "similarity.probe"),
    ("duckdb_parachute_spark.similarity", "ivf_topk_indexed", "similarity.probe"),
    ("duckdb_parachute_spark.similarity", "lsh_topk", "similarity.probe"),
    ("duckdb_parachute_spark.similarity", "lsh_topk_indexed", "similarity.probe"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.insert", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.insert_tagged", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.delete_where", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.update_set", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.merge_upsert", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.commit", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "commit_multi", "acid.write"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.vacuum", "acid.vacuum"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.read", "acid.read"),
    ("duckdb_parachute_spark.operators.acid", "VersionedTable.open", "acid.read"),
    ("duckdb_parachute_spark.streaming", "run_available_now", "streaming"),
    ("duckdb_parachute_spark.streaming", "stream_into_versioned_table", "streaming"),
    ("duckdb_parachute_spark.sources", "delta_scan", "sources.delta_scan"),
    ("duckdb_parachute_spark.sources", "write_bucketed", "sources.write"),
    ("duckdb_parachute_spark.sources", "copy_to", "sources.write"),
    ("duckdb_parachute_spark.sources", "copy_to_ordered", "sources.write"),
]


class Span:
    __slots__ = ("name", "start", "end", "parent", "op", "t0", "t1")

    def __init__(self, name, parent, op):
        self.name, self.parent, self.op = name, parent, op
        self.start = time.time()  # epoch seconds, comparable with event-log times
        self.t0 = time.perf_counter()
        self.end = self.t1 = None

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Keeps spans in memory; ``enabled`` gates recording so a traced
    process can also time passes with the hooks off (tracing overhead)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.op: int | None = None
        self.enabled = True
        self.stream_progress: list[dict] = []
        self.conflicts = 0

    def span(self, name):
        tracer = self

        class _Ctx:
            def __enter__(self_):
                if not tracer.enabled:
                    self_.s = None
                    return None
                parent = tracer.stack[-1] if tracer.stack else None
                self_.s = Span(name, parent, tracer.op)
                tracer.stack.append(self_.s)
                return self_.s

            def __exit__(self_, exc_type, exc, tb):
                s = self_.s
                if s is None:
                    return False
                s.end, s.t1 = time.time(), time.perf_counter()
                tracer.stack.pop()
                tracer.spans.append(s)
                if exc_type is not None and exc_type.__name__ == "CommitConflict":
                    tracer.conflicts += 1
                return False

        return _Ctx()

    def _wrap(self, fn, name):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name):
                return fn(*a, **kw)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self) -> None:
        """Wrap every function in WRAPPED, on its defining module and on
        every loaded package module that re-exports it. Must run before the
        workload registry is imported, so its from-imports bind wrappers."""
        import importlib

        for mod_name, attr, span_name in WRAPPED:
            mod = importlib.import_module(mod_name)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[meth]
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, span_name))
                elif isinstance(raw, staticmethod):
                    new = staticmethod(self._wrap(raw.__func__, span_name))
                else:
                    new = self._wrap(raw, span_name)
                setattr(cls, meth, new)
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(orig, span_name)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("duckdb_parachute_spark") and (
                    getattr(m, attr, None) is orig
                ):
                    setattr(m, attr, wrapped)

    def add_stream_listener(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        tracer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                d = dict(p.durationMs or {})
                tracer.stream_progress.append(
                    {
                        "rows": int(p.numInputRows or 0),
                        "batch_ms": float(d.get("triggerExecution", 0)),
                        "planning_ms": float(d.get("queryPlanning", 0)),
                        "wal_ms": float(d.get("walCommit", 0)),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Listener())


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds of an executed Dataset,
    from the public QueryExecution phase tracker."""
    out = {}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            out[kv._1()] = float(kv._2().durationMs())
    except Exception:  # noqa: BLE001 - a plan without a tracker reports nothing
        pass
    return out


# -- event log ---------------------------------------------------------------


def parse_event_log(log_dir: str, app_id: str) -> dict:
    """Jobs, stages and task metrics of application ``app_id`` from its
    uncompressed, non-rolling Spark event log (one JSON object per line)."""
    paths = [p for p in glob.glob(os.path.join(log_dir, app_id + "*")) if os.path.isfile(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    submitted: set[int] = set()
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "stages": [s["Stage ID"] for s in ev.get("Stage Infos", [])],
                        "tasks_planned": {
                            s["Stage ID"]: s.get("Number of Tasks", 0)
                            for s in ev.get("Stage Infos", [])
                        },
                    }
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    submitted.add(ev["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _zero_stage())
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    st["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    for j in jobs.values():
        j["skipped"] = sum(1 for s in j["stages"] if s not in submitted)
        j["run_stages"] = [s for s in j["stages"] if s in submitted]
    return {"jobs": jobs, "stages": stages}


def _zero_stage() -> dict:
    return dict.fromkeys(
        ["tasks", "task_s", "gc_s", "input_bytes", "shuffle_read_bytes",
         "shuffle_write_bytes", "spill_bytes"], 0,
    )


def attribute_jobs(jobs: dict, op_windows: list[tuple[int, float, float]]) -> dict[int, int]:
    """Map job id -> operation index. A job whose group is an operation's
    tag belongs to it. A job started on another thread (a streaming
    micro-batch runs under its query's own group, or none) belongs to the
    operation whose time window holds its submission. One closed-loop
    client means operation windows never overlap."""
    out = {}
    for jid, j in jobs.items():
        g = j.get("group") or ""
        if g.startswith("perfbench-op-"):
            out[jid] = int(g.rsplit("-", 1)[1])
            continue
        if g.startswith("perfbench-"):
            continue  # set-up, probes
        for idx, t0, t1 in op_windows:
            if t0 <= j["start"] <= t1:
                out[jid] = idx
                break
    return out


def self_time(spans: list[Span], name: str) -> float:
    """Total self time of spans called ``name``: each span's duration minus
    the part of it that its direct children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(id(s.parent), []).append(s)
    total = 0.0
    for s in spans:
        if s.name != name:
            continue
        covered, last_end = 0.0, s.t0
        for c in sorted(children.get(id(s), []), key=lambda c: c.t0):
            lo, hi = max(c.t0, last_end), min(c.t1, s.t1)
            if hi > lo:
                covered += hi - lo
                last_end = hi
        total += s.dur - covered
    return total
