"""Record the expected read fingerprints, gated on the DuckDB oracle.

    python3 perfbench/record.py

For every read operation of ``read_sf01`` this runs
the operation on the benchmark's generated tables, checks its full result
against DuckDB on the same tables, runs the benchmark's fingerprint twice,
and rewrites ``expected/fingerprints.json`` only when every operation
passed. Re-run it when the generated tables or an operation list change.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

EXPECTED = os.path.join(HERE, "expected", "fingerprints.json")


class GateError(RuntimeError):
    """An expected value was about to be recorded from an unchecked run."""


def write_expected(values: dict, problems: list[str], path: str = EXPECTED) -> None:
    """Write ``values`` only if no operation failed its oracle check."""
    if problems:
        raise GateError("not recording expected fingerprints: " + "; ".join(problems))
    import datagen

    out = {"_data_seed": datagen.DATA_SEED, **values}
    with open(path + ".tmp", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    os.replace(path + ".tmp", path)


def main() -> int:
    import datagen
    import run
    import workloads as wl

    run_dir = run.isolate(False)
    spark = None
    try:
        data_dir = os.path.join(HERE, ".data", "sf0.1")
        datagen.ensure_base(data_dir)
        spark = run.make_session(data_dir)
        run.warm_and_register(spark, data_dir)
        from duckdb_parachute_spark.testkit import OracleSession, compare_frames
        from duckdb_parachute_spark.workload import load_all

        registry = load_all()
        oracle = OracleSession(data_dir)
        ctx = wl.Ctx(spark, data_dir, run_dir)
        values: dict[str, dict] = {}
        problems: list[str] = []
        for workload in wl.READ_WORKLOADS:
            values[workload] = {}
            for op in wl.read_ops(workload, registry):
                if op.name in wl.AMORTIZED:
                    op.qd.fn(spark, data_dir)
                got = op.qd.fn(spark, data_dir).toPandas()
                res = compare_frames(op.name, got, oracle.sql(op.qd.oracle))
                fps = [op.run(ctx), op.run(ctx)]
                ok, why = res.ok, str(res)
                if fps[0] != fps[1]:
                    ok, why = False, f"fingerprint not stable: {fps}"
                print(f"{'OK  ' if ok else 'FAIL'} {workload} {op.name}: {fps[0]}", file=sys.stderr)
                if not ok:
                    problems.append(f"{workload}/{op.name}: {why}")
                values[workload][op.name] = fps[0]
        write_expected(values, problems)
        print(f"wrote {EXPECTED}", file=sys.stderr)
        return 0
    finally:
        if spark is not None:
            run.stop_jvm(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
