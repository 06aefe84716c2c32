"""Benchmark entry point: one closed-loop client against ``local[4]``.

    python3 perfbench/run.py --workload read_sf01 --seed 1 --seconds 5 --trace 0

Run from the repository root. Prints progress on stderr and, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md for what each workload and metric
means.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
WORKLOADS = ["read_sf01", "write_mix"]
#: Steady passes per 5 s of ``--seconds``. A run makes a fixed number of
#: passes, not as many as fit in a time window: the engine's latencies keep
#: falling for a dozen passes as the JVM compiles its hot paths, so a run
#: on a fast moment of the host would fit more passes, and read faster
#: still. Two passes, not one: a single execution of an operation varies
#: by a third between runs, and where the seed puts a write in a
#: write_mix block changes its cost.
STEADY_PASSES = 2
#: No pass starts after this much process time, once one steady pass is
#: done, so that a run on a badly loaded host still ends within 180 s. It
#: is set high: cutting passes on a loaded host would change what a run
#: measures, and so widen the spread between runs.
DEADLINE_S = 120.0


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta function (Lentz)."""
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for aa in (m * (b - m) * x / ((a - 1.0 + 2 * m) * (a + 2 * m)),
                   -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 1.0 + 2 * m))):
            d = 1.0 + aa * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + aa / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return h


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x))
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of the p-quantile: a beta-weighted average of
    all order statistics. With a few dozen samples it does not jump when two
    operations' latencies swap ranks, as a single order statistic does."""
    s = sorted(xs)
    n = len(s)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * v for i, v in enumerate(s))


def dir_bytes(path: str) -> int:
    total = 0
    for r, _d, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(r, f))
            except OSError:
                pass
    return total


# -- process tree memory ---------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                kids.setdefault(ppid, []).append(int(d))
            except (OSError, IndexError, ValueError):
                pass
    return kids


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every descendant
    still alive (the JVM and its Python workers), in MB."""
    kids, todo, total = _children(), [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """Busy and steal ticks of the whole machine so far, from /proc/stat.
    Steal is time the hypervisor ran other machines while this one had
    work: on a shared host it is a large part of why runs differ."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the time this machine wanted the CPU between two
    ``cpu_ticks`` readings that the hypervisor gave to other machines."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / max(busy + steal, 1)


# -- session ---------------------------------------------------------------------


def launch_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """Spark settings the benchmark adds: temp and warehouse locations, and
    the line-JSON event log when tracing. They are static, so they go on
    the JVM command line and hold for every session the process creates."""
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def make_session(data_dir: str):
    """The program's own session factory with its data-sized settings."""
    from duckdb_parachute_spark import get_session
    from duckdb_parachute_spark.session import scaled_adaptive, scaled_shuffle_partitions

    return get_session(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=scaled_shuffle_partitions(data_dir),
        extra_conf={"spark.sql.adaptive.enabled": scaled_adaptive(data_dir)},
    )


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - already closed
            pass
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:  # noqa: BLE001
            pass
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - did not exit: kill and reap
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def isolate(trace: bool) -> str:
    """Create this process's run directory and point every temp, scratch
    and warehouse location of Python, Spark and the JVM into it. Must run
    before the JVM starts. The caller deletes the directory at exit."""
    run_dir = os.path.join(HERE, ".run", f"{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" if " " not in v else f'--conf "{k}={v}"'
        for k, v in launch_conf(run_dir, trace).items()
    ) + " pyspark-shell"
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # The host is shared: cap the driver heap below get_session's 24g default.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def warm_and_register(spark, data_dir: str) -> None:
    from duckdb_parachute_spark.catalog import TABLES, load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load_table(spark, data_dir, t)
    load_table(spark, data_dir, "lineitem").limit(1).collect()


# -- main ------------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--expected", help="alternate expected-fingerprint file (self-test)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "duckdb_parachute_spark", "__init__.py")):
        log(f"engine package not found under {ROOT}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    run_dir = isolate(bool(args.trace))
    cwd_warehouse = os.path.join(os.getcwd(), "spark-warehouse")
    warehouse_before = dir_bytes(cwd_warehouse)
    spark = None
    try:
        result = run(args, run_dir)
        spark = result.pop("_spark", None)
    finally:
        if spark is None:
            try:
                from pyspark.sql import SparkSession

                spark = SparkSession.getActiveSession()
            except Exception:  # noqa: BLE001
                spark = None
        if spark is not None:
            stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    leftover = dir_bytes(run_dir) + dir_bytes(cwd_warehouse) - warehouse_before
    log(f"bytes left behind after cleanup: {leftover}")
    if args.trace:
        result["metrics"]["run.leftover_bytes"] = {"value": leftover, "unit": "B"}
    print(json.dumps(result))
    return 0


def run(args, run_dir: str) -> dict:
    import datagen
    import workloads as wl

    # set-up runs from process start to the first timed operation, minus
    # input preparation (generating the tables, the write_mix replay)
    t0, k_start = time.perf_counter(), cpu_ticks()
    data_dir = os.path.join(HERE, ".data", "sf0.1")
    if datagen.ensure_base(data_dir):
        log(f"generated base tables under {data_dir}")
    prep_s = time.perf_counter() - t0
    trace = bool(args.trace)

    spark = make_session(data_dir)
    warm_and_register(spark, data_dir)
    session_s = time.perf_counter() - T_START - prep_s
    tracer = None
    if trace:
        import layers

        tracer = layers.Tracer()
        tracer.install()  # needs a session (module-level Window specs), precedes the registry
        tracer.add_stream_listener(spark)
    from duckdb_parachute_spark.workload import load_all

    registry = load_all()
    ctx = wl.Ctx(spark, data_dir, run_dir, tracer)
    sc = spark.sparkContext

    t0 = time.perf_counter()
    sc.setJobGroup("perfbench-setup", "amortized builds")
    if args.workload == "write_mix":
        mix = wl.WriteMix(ctx, args.seed)
        mix.setup()
        ops = None
    else:
        ops = wl.read_ops(args.workload, registry)
        for op in ops:
            if op.name in wl.AMORTIZED:
                op.qd.fn(spark, data_dir)
    amortized = time.perf_counter() - t0
    setup_s, k_setup = time.perf_counter() - T_START - prep_s, cpu_ticks()
    if ops is None:
        mix.setup_mirror()
    log(f"set-up: session {session_s:.3f}s, amortized builds {amortized:.3f}s, "
        f"setup_s {setup_s:.3f}s (input preparation {prep_s:.3f}s not counted)")

    with open(args.expected or os.path.join(HERE, "expected", "fingerprints.json")) as f:
        expected = json.load(f)
    records: list[dict] = []
    state = {"idx": 0}

    def timed(name, kind, fn, pass_no, traced):
        state["idx"] += 1
        idx = state["idx"]
        sc.setJobGroup(f"perfbench-op-{idx}", name)
        if tracer:
            tracer.enabled = traced
            tracer.op = idx
        ctx.last_probe = None
        e0, t0 = time.time(), time.perf_counter()
        err = None
        out = None
        try:
            if tracer and traced:
                with tracer.span("op"):
                    out = fn()
            else:
                out = fn()
        except Exception as exc:  # noqa: BLE001 - a raising operation is a failure
            err = f"{type(exc).__name__}: {str(exc)[:300]}"
        lat = time.perf_counter() - t0
        rec = {"idx": idx, "name": name, "kind": kind, "pass": pass_no, "lat": lat,
               "t0": e0, "t1": time.time(), "traced": traced, "err": err, "out": out}
        if tracer and traced and ctx.last_probe is not None:
            import layers

            rec["phases"] = layers.catalyst_phases(ctx.last_probe)
        records.append(rec)
        return rec

    def traced(pass_no, pos):
        """A traced run traces every first execution, and each operation in
        every other steady pass: half the operations in odd passes, half in
        even ones. Each operation then has traced and untraced executions,
        and the JVM's warm-up between passes cancels out of the overhead."""
        return trace and (pass_no == 0 or (pos + pass_no) % 2 == 0)

    def read_pass(pass_no):
        want = expected[args.workload]
        for i in wl.op_order(len(ops), args.seed, pass_no):
            op = ops[i]
            rec = timed(op.name, "read", lambda op=op: op.run(ctx), pass_no, traced(pass_no, i))
            if rec["err"] is None and rec["out"] != want.get(op.name):
                rec["err"] = f"fingerprint {rec['out']} != expected {want.get(op.name)}"
            if rec["err"]:
                log(f"FAILED {op.name}: {rec['err']}")

    def write_pass(pass_no):
        for op in blocks[pass_no]:
            kind = op["kind"]
            mix.prepare(op)
            before = mix.files_now()
            holder = {}
            rec = timed(kind, "write" if kind in wl.WRITE_KINDS else "read",
                        lambda op=op: holder.setdefault("m", mix.run(op)), pass_no,
                        traced(pass_no, wl.ALL_KINDS.index(kind)))
            if rec["err"] is None:
                try:
                    rows = holder["m"]()
                    mix.after_write(before, rows, kind in wl.WRITE_KINDS)
                except Exception as exc:  # noqa: BLE001 - replay mismatch is a failure
                    rec["err"] = f"{type(exc).__name__}: {str(exc)[:300]}"
            if rec["err"]:
                log(f"FAILED {kind}: {rec['err']}")

    # Closed loop, whole passes: pass 0 holds each operation's first
    # execution; the later passes are the steady state.
    # A traced run needs two steady passes, for the two halves of tracing.
    n_steady = round(args.seconds / 5 * STEADY_PASSES)
    n_passes = 1 + max(2 if trace else 1, n_steady)
    if ops is None:
        blocks = mix.log(n_passes)
    t_meas0, k0 = time.perf_counter(), cpu_ticks()
    for pass_no in range(n_passes):
        (read_pass if ops is not None else write_pass)(pass_no)
        if pass_no == 0:
            k_first = cpu_ticks()
        done_min = pass_no >= (2 if trace else 1)  # a traced run needs both halves
        if done_min and pass_no + 1 < n_passes and time.perf_counter() - T_START > DEADLINE_S:
            log(f"deadline: stopped after {pass_no} of {n_passes - 1} steady passes")
            break
    k_end = cpu_ticks()
    extra = {}
    if ops is None:
        try:
            extra = mix.finish()
        except Exception as exc:  # noqa: BLE001
            extra = {"ok": False, "diff": str(exc)[:300]}
        log(f"write_mix final check: {extra}")
    t_meas1 = time.perf_counter()
    steal = {"setup": steal_share(k_start, k_setup), "first": steal_share(k0, k_first),
             "steady": steal_share(k_first, k_end)}

    floor_s = None
    if trace:
        sc.setJobGroup("perfbench-floor", "spark_noop")
        floor_s = min(_timeit(lambda: spark.range(1).count()) for _ in range(5))
    rss = peak_rss_mb()

    # --- end-to-end ------------------------------------------------------------
    attempted = len(records)
    failed = sum(1 for r in records if r["err"])
    if ops is None and not extra.get("ok"):
        failed += 1
        attempted += 1
    firsts: dict[str, float] = {}
    for r in records:
        firsts.setdefault(r["name"], r["lat"])
    first_ids = {min(r["idx"] for r in records if r["name"] == n) for n in firsts}
    steady = [r for r in records if r["idx"] not in first_ids]
    untraced = [r for r in steady if not r["traced"]] if trace else steady
    steady_wall = sum(r["lat"] for r in untraced)

    def e2e(rs, keep=1.0):
        """Steady-state figures from passes after the first: each
        operation's best latency over those passes (min-of-N, as in
        bench.py), and the throughput of one of each operation at those
        latencies. Taking the best of several passes keeps a burst of load
        from other processes on the host out of the figures."""
        best: dict[str, float] = {}
        for r in rs:
            best[r["name"]] = min(best.get(r["name"], math.inf), r["lat"])
        lat = list(best.values())
        return {
            "op_p50_s": keep * quantile(lat, 0.5) if lat else 0.0,
            "op_p90_s": keep * quantile(lat, 0.9) if lat else 0.0,
            "ops_per_s": len(lat) / sum(lat) / keep if lat else 0.0,
        }

    # Reported times are the share of wall time this machine had its CPUs:
    # each phase's wall time times one minus the phase's steal share.
    first_p50 = quantile(firsts.values(), 0.5)
    m = {"setup_s": ((1 - steal["setup"]) * setup_s, "s"),
         "first_op_p50_s": ((1 - steal["first"]) * first_p50, "s"),
         "success_frac": ((attempted - failed) / attempted, "ratio")}
    for k, v in e2e(untraced, 1 - steal["steady"]).items():
        m[k] = (v, "1/s" if k == "ops_per_s" else "s")
    raw = {"setup_s": setup_s, "first_op_p50_s": first_p50, **e2e(untraced)}
    writes = [r["lat"] for r in steady if r["kind"] == "write"]
    log(f"samples: steady={len(untraced)} first={len(firsts)} wall={steady_wall:.2f}s "
        f"measured={t_meas1 - t_meas0:.2f}s attempted={attempted} failed={failed}")
    log("host steal share: " + ", ".join(f"{k} {v:.3f}" for k, v in steal.items()))
    log("raw wall time: " + ", ".join(f"{k}={v:.4f}" for k, v in raw.items()))
    if ops is None:
        log(f"write_p50_s={quantile(writes, 0.5):.4f} write_p90_s={quantile(writes, 0.9):.4f} "
            f"(n={len(writes)}) write_amp={extra.get('write_amp')} space_amp={extra.get('space_amp')}")
    log("steady latencies: " + " ".join(f"{r['name']}={r['lat']:.3f}" for r in untraced))
    log("first latencies: " + " ".join(f"{k}={v:.3f}" for k, v in firsts.items()))
    log("end-to-end: " + ", ".join(f"{k}={v[0]:.4f}{v[1]}" for k, v in m.items()))

    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "_spark": spark}
    if not trace:
        out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        return out

    # --- per-layer (traced run) ---------------------------------------------------
    import layers

    app_id = sc.applicationId
    stop_jvm(spark)
    out["_spark"] = None
    ev = layers.parse_event_log(os.path.join(run_dir, "eventlog"), app_id)
    layer = per_layer(layers, tracer, ev, records, steady, floor_s, extra,
                      e2e, mix if ops is None else None)
    layer["mem.peak_rss_mb"] = (rss, "MB")
    out["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
    return out


def _timeit(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def per_layer(tr, tracer, ev, records, steady, floor_s, extra, e2e, mix):
    import workloads as wl

    jobs, stages = ev["jobs"], ev["stages"]
    traced = [r for r in records if r["traced"]]
    windows = [(r["idx"], r["t0"], r["t1"]) for r in records]
    owner = tr.attribute_jobs(jobs, windows)
    by_op: dict[int, list[int]] = {}
    for jid, idx in owner.items():
        by_op.setdefault(idx, []).append(jid)
    ids = {r["idx"] for r in traced}
    n_ops = max(len(traced), 1)
    op_jobs = [j for idx in ids for j in by_op.get(idx, [])]
    spans = [s for s in tracer.spans if s.op in ids or s.op is None]

    def span_sum(name, in_ops=True):
        return sum(s.dur for s in spans if s.name == name and (not in_ops or s.op in ids))

    def span_jobs(name):
        hit = set()
        for s in spans:
            if s.name == name and s.op in ids:
                for jid in by_op.get(s.op, []):
                    if s.start <= jobs[jid]["start"] <= s.end:
                        hit.add(jid)
        return len(hit)

    def stage_sum(key):
        return sum(stages.get(st, {}).get(key, 0) for j in op_jobs for st in jobs[j]["run_stages"])

    phases = [r.get("phases", {}) for r in traced if r.get("phases")]

    def phase_ms(p):
        return statistics.mean(ph.get(p, 0.0) for ph in phases) if phases else 0.0

    def jobs_per_op(names):
        rs = [r for r in traced if r["name"] in names]
        return sum(len(by_op.get(r["idx"], [])) for r in rs) / max(len(rs), 1)

    task_s = stage_sum("task_s")
    busy_wall = sum(r["lat"] for r in traced)
    n_transpile = sum(1 for s in spans if s.name == "sqlx.transpile" and s.op in ids)
    writes = [r for r in traced if r["kind"] == "write"]
    write_ids = {r["idx"] for r in writes}
    write_jobs = sum(len(by_op.get(i, [])) for i in write_ids)
    vacuums = [s for s in spans if s.name == "acid.vacuum" and s.op in ids]
    prog = tracer.stream_progress
    stream_ops = max(sum(1 for r in traced if r["name"] == "stream_append"), 1)
    both = {r["name"] for r in steady if r["traced"]} & {r["name"] for r in steady if not r["traced"]}
    on = e2e([r for r in steady if r["traced"] and r["name"] in both])
    off = e2e([r for r in steady if not r["traced"] and r["name"] in both])
    all_writes = [r["lat"] for r in steady if r["kind"] == "write"]
    L = {
        "workload.build_s": (span_sum("workload.build") / n_ops, "s"),
        "workload.build_self_s": (tr.self_time([s for s in spans if s.op in ids], "workload.build") / n_ops, "s"),
        "workload.build_jobs": (span_jobs("workload.build") / n_ops, "count"),
        "sqlx.calls": (sum(1 for s in spans if s.name == "sqlx.sql" and s.op in ids) / n_ops, "count"),
        "sqlx.transpile_ms": (1000 * span_sum("sqlx.transpile") / max(n_transpile, 1), "ms"),
        "sqlx.sql_s": (span_sum("sqlx.sql") / n_ops, "s"),
        "catalog.calls": (sum(1 for s in spans if s.name == "catalog.load_table" and s.op in ids) / n_ops, "count"),
        "catalog.load_table_s": (span_sum("catalog.load_table") / n_ops, "s"),
        "catalyst.analysis_ms": (phase_ms("analysis"), "ms"),
        "catalyst.optimization_ms": (phase_ms("optimization"), "ms"),
        "catalyst.planning_ms": (phase_ms("planning"), "ms"),
        "sched.jobs_per_op": (len(op_jobs) / n_ops, "count"),
        "sched.jobs_per_relational_op": (jobs_per_op(wl.OLAP_OPS), "count"),
        "sched.jobs_per_pipeline_op": (jobs_per_op(wl.PIPELINE_OPS), "count"),
        "sched.stages_per_op": (sum(len(jobs[j]["run_stages"]) for j in op_jobs) / n_ops, "count"),
        "sched.tasks_per_op": (stage_sum("tasks") / n_ops, "count"),
        "sched.skipped_stages": (sum(jobs[j]["skipped"] for j in op_jobs) / n_ops, "count"),
        "sched.floor_s": (floor_s, "s"),
        "exec.task_s": (task_s / n_ops, "s"),
        "exec.busy_frac": (task_s / max(busy_wall * CORES, 1e-9), "ratio"),
        "exec.input_bytes": (stage_sum("input_bytes") / n_ops, "B"),
        "exec.shuffle_read_bytes": (stage_sum("shuffle_read_bytes") / n_ops, "B"),
        "exec.shuffle_write_bytes": (stage_sum("shuffle_write_bytes") / n_ops, "B"),
        "exec.spill_bytes": (stage_sum("spill_bytes") / n_ops, "B"),
        "exec.gc_s": (stage_sum("gc_s") / n_ops, "s"),
        "recursive.s": (span_sum("recursive") / n_ops, "s"),
        "recursive.jobs": (span_jobs("recursive") / n_ops, "count"),
        "dedup.s": (span_sum("dedup") / n_ops, "s"),
        "dedup.jobs": (span_jobs("dedup") / n_ops, "count"),
        "similarity.probe_s": (span_sum("similarity.probe") / n_ops, "s"),
        "acid.write_s": (span_sum("acid.write") / max(len(writes), 1), "s"),
        "acid.jobs_per_write": (write_jobs / max(len(writes), 1), "count"),
        "acid.bytes_written": ((mix.bytes_written if mix else 0) / max(len(writes), 1), "B"),
        "acid.conflicts": (tracer.conflicts, "count"),
        "acid.vacuum_s": (statistics.mean(s.dur for s in vacuums) if vacuums else 0.0, "s"),
        "acid.read_s": (span_sum("acid.read") / n_ops, "s"),
        "write.p50_s": (quantile(all_writes, 0.5) if all_writes else 0.0, "s"),
        "write.p90_s": (quantile(all_writes, 0.9) if all_writes else 0.0, "s"),
        "write.amp": (extra.get("write_amp", 0.0) if mix else 0.0, "ratio"),
        "write.space_amp": (extra.get("space_amp", 0.0) if mix else 0.0, "ratio"),
        "streaming.batches": (len(prog) / stream_ops if mix else 0.0, "count"),
        "streaming.rows": (sum(p["rows"] for p in prog) / stream_ops if mix else 0.0, "count"),
        "streaming.batch_ms": (statistics.mean(p["batch_ms"] for p in prog) if prog else 0.0, "ms"),
        "streaming.planning_ms": (statistics.mean(p["planning_ms"] for p in prog) if prog else 0.0, "ms"),
        "streaming.wal_ms": (statistics.mean(p["wal_ms"] for p in prog) if prog else 0.0, "ms"),
        "sources.delta_scan_s": (span_sum("sources.delta_scan") / n_ops, "s"),
        "sources.write_s": (sum(s.dur for s in tracer.spans if s.name == "sources.write"), "s"),
        "overhead.op_p50_s": (on["op_p50_s"] - off["op_p50_s"], "s"),
        "overhead.ops_per_s": (on["ops_per_s"] - off["ops_per_s"], "1/s"),
    }
    log("per-layer: " + ", ".join(f"{k}={v[0]:.4g}" for k, v in L.items()))
    return L


if __name__ == "__main__":
    sys.exit(main())
