"""Self-tests of the benchmark's own machinery.

    python3 perfbench/selftest.py

- classification: every operation's timed call runs all the Spark jobs
  its DataFrame build runs, plus its own, so no build is left outside
  the clock; and no amortized set-up build (the bucketed tables) runs
  again inside the clock;
- event log: the traced run's log parses as line JSON, jobs land on the
  operation that started them, and a streaming operation gets its
  micro-batch jobs, which its job group alone does not give it;
- correctness gate: expected fingerprints cannot be written when an
  oracle check failed, and a corrupted expected fingerprint makes the
  benchmark count failures and report ``correct: false``.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

STREAM_OP = "stream_stateful_user_totals"


def jobs_of_group(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def check_classification(spark, data_dir: str, run_dir: str) -> list[str]:
    import workloads as wl

    from duckdb_parachute_spark.workload import load_all

    registry = load_all()
    ctx = wl.Ctx(spark, data_dir, run_dir)
    sc = spark.sparkContext
    problems = []
    for workload in wl.READ_WORKLOADS:
        ops = wl.read_ops(workload, registry)
        for op in ops:  # amortized set-up, as run.py does it
            if op.name in wl.AMORTIZED:
                op.qd.fn(spark, data_dir)
        for op in ops:
            group = f"perfbench-build-{workload}-{op.name}"
            sc.setJobGroup(group, "build only")
            op.qd.fn(spark, data_dir)
            build_jobs = jobs_of_group(sc, group)
            sc.setJobGroup(group + "-timed", "timed call")
            op.run(ctx)
            timed_jobs = jobs_of_group(sc, group + "-timed")
            print(f"  {workload} {op.name}: build jobs {build_jobs}, timed call jobs {timed_jobs}",
                  file=sys.stderr)
            if timed_jobs < build_jobs + 1:
                problems.append(f"{op.name}: runs {build_jobs} jobs at build, but its timed call "
                                f"runs only {timed_jobs}: the build is outside the clock")
            if op.name in wl.AMORTIZED and build_jobs:
                problems.append(f"{op.name}: amortized build re-ran inside the clock ({build_jobs} jobs)")
    return problems


def check_event_log(spark, data_dir: str, run_dir: str) -> list[str]:
    import layers
    import run

    from duckdb_parachute_spark.workload import load_all

    sc = spark.sparkContext
    windows = []
    sc.setJobGroup("perfbench-op-1", "tiny job")
    t0 = time.time()
    spark.range(1000).selectExpr("sum(id)").collect()
    windows.append((1, t0, time.time()))
    sc.setJobGroup("perfbench-op-2", STREAM_OP)
    t0 = time.time()
    df = load_all()[STREAM_OP].fn(spark, data_dir)
    df.collect()
    windows.append((2, t0, time.time()))
    app_id = sc.applicationId
    run.stop_jvm(spark)
    problems = []
    try:
        ev = layers.parse_event_log(os.path.join(run_dir, "eventlog"), app_id)
    except Exception as exc:  # noqa: BLE001
        return [f"event log did not parse: {type(exc).__name__}: {exc}"]
    jobs = ev["jobs"]
    by_group = sum(1 for j in jobs.values() if j["group"] == "perfbench-op-2")
    owner = layers.attribute_jobs(jobs, windows)
    n1 = sum(1 for v in owner.values() if v == 1)
    n2 = sum(1 for v in owner.values() if v == 2)
    tasks = sum(s["tasks"] for s in ev["stages"].values())
    print(f"  jobs {len(jobs)} tasks {tasks}; tiny op {n1} jobs; {STREAM_OP}: "
          f"{by_group} jobs by group alone, {n2} with the time-window fallback", file=sys.stderr)
    if n1 < 1 or tasks < 1:
        problems.append("the tiny job was not found in the event log")
    if n2 < 1 or n2 <= by_group:
        problems.append(f"{STREAM_OP} got {n2} jobs; its micro-batches were not attributed")
    return problems


def check_gate_refuses_unchecked() -> list[str]:
    import record

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "fingerprints.json")
        with open(path, "w") as f:
            f.write("{}\n")
        try:
            record.write_expected({"read_sf01": {"x": [1, 1]}}, ["read_sf01/x: value mismatch"], path)
        except record.GateError:
            with open(path) as f:
                return [] if f.read() == "{}\n" else ["gate raised but the file changed"]
        return ["expected values were written although an oracle check failed"]


def check_corrupted_expected_fails() -> list[str]:
    with open(os.path.join(HERE, "expected", "fingerprints.json")) as f:
        expected = json.load(f)
    victim = "tpch_q6_forecast_revenue"
    expected["read_sf01"][victim][0] += 1
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=os.path.join(HERE, ".run"),
                                     delete=False) as f:
        json.dump(expected, f)
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "read_sf01",
             "--seed", "7", "--seconds", "1", "--trace", "0", "--expected", f.name],
            cwd=ROOT, capture_output=True, text=True, timeout=170,
        )
    finally:
        os.unlink(f.name)
    if out.returncode != 0:
        return [f"benchmark exited {out.returncode}: {out.stderr[-500:]}"]
    res = json.loads(out.stdout.strip().splitlines()[-1])
    frac = res["metrics"]["success_frac"]["value"]
    print(f"  corrupted {victim}: attempted {res['attempted']} failed {res['failed']} "
          f"success_frac {frac:.3f} correct {res['correct']}", file=sys.stderr)
    if res["correct"] or res["failed"] < 2 or frac >= 1.0:
        return ["a corrupted expected fingerprint did not count as failures"]
    return []


def main() -> int:
    import datagen
    import run

    run_dir = run.isolate(True)
    results = {}
    spark = None
    try:
        data_dir = os.path.join(HERE, ".data", "sf0.1")
        datagen.ensure_base(data_dir)
        spark = run.make_session(data_dir)
        run.warm_and_register(spark, data_dir)
        results["classification"] = check_classification(spark, data_dir, run_dir)
        results["event_log"] = check_event_log(spark, data_dir, run_dir)
        spark = None  # stopped by check_event_log
        results["gate_refuses_unchecked"] = check_gate_refuses_unchecked()
        results["corrupted_expected_fails"] = check_corrupted_expected_fails()
    finally:
        if spark is not None:
            run.stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for name, problems in results.items():
        print(f"{'PASS' if not problems else 'FAIL'} {name}", file=sys.stderr)
        for p in problems:
            print(f"     {p}", file=sys.stderr)
    return 0 if all(not p for p in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
