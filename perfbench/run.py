"""Run one benchmark workload once and print its metrics.

    python3 perfbench/run.py --workload convert_dirty_ordered --seed 1 --seconds 10 --trace 0

Run from the repository root. One closed-loop client: each operation
starts after the previous one ends. Spark runs as ``local[N]`` with N
the usable cores, at most 4. Inputs are generated from ``--seed`` under
``.perfbench/`` and removed at exit.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json, measured without
tracing; with ``--trace 1`` they are the per-layer ones, and the spans
are written to ``.perfbench/trace-<workload>-seed<seed>.json``. A
per-layer metric of a layer the workload does not run reads 0. The line
before the result is the run's context stamp.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")

END_TO_END = {
    "setup_s": "s",
    "session_cpu_s": "s",
    "warm_op_cpu_s": "s",
    "rows_per_cpu_s": "1/s",
}

#: per-layer metrics, each with its unit; BENCHMARK.json lists the same
PER_LAYER = {
    "sources.sniff.detect_delimiter_s": "s",
    "plans.inference.infer_schema_s": "s",
    "plans.inference.infer_schema_distributed_s": "s",
    "plans.inference.jobs": "count",
    "sources.text.scan_s": "s",
    "functions.parsers.cast_s": "s",
    "operators.convert.observe_s": "s",
    "operators.convert.order_s": "s",
    "operators.convert.write_s": "s",
    "operators.convert.wall_s": "s",
    "operators.convert.jobs": "count",
    "operators.convert.stages": "count",
    "operators.convert.tasks": "count",
    "operators.convert.py4j_calls": "count",
    "operators.convert.bytes_out": "bytes",
    "operators.convert.files_out": "count",
    "operators.convert.row_groups_out": "count",
    "operators.convert.parse_errors": "count",
    "operators.convert.bytes_out_per_byte_in": "ratio",
    "sources.tables.load_table_s": "s",
    "sources.tables.jobs": "count",
    "trace.untraced_wall_s": "s",
    "trace.traced_wall_s": "s",
    "run.cold_op_wall_s": "s",
    "run.cold_op_cpu_s": "s",
    "run.warm_op_wall_s": "s",
    "run.query_geomean_s": "s",
    "run.peak_rss_mb": "MB",
}


def _query_layers() -> dict:
    from mix_workload import MIX

    units = {"build_s": "s", "build_jobs": "count", "py4j_calls": "count",
             "plan_s": "s", "exec_s": "s", "exec_jobs": "count"}
    return {f"q.{q}.{k}": u for q in MIX for k, u in units.items()}


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["convert_dirty_ordered", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    load1_before = os.getloadavg()[0]

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(OUT, run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything Spark, the JVM and Python spill stays inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_id, work, tmp, load1_before)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id: str, work: str, tmp: str, load1_before: float) -> int:
    import pyarrow
    from pyspark import SparkContext

    from spans import CpuClock
    from tabular_to_parquet_spark.session import get_spark

    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    gateway = SparkContext._gateway
    try:
        if args.workload == "query_mix":
            from mix_workload import MixWorkload as Workload
        else:
            from convert_workload import ConvertWorkload as Workload
        wl = Workload(spark, CpuClock(jvm_pid), args.seed, work)

        if args.trace:
            values, tracer = wl.traced(run_id)
            tracer.close()
            units = {**PER_LAYER, **_query_layers()}
        else:
            tracer = None
            values = {"setup_s": setup_s, **wl.run(args.seconds)}
            units = END_TO_END
        peak_rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024
        values.update(wl.walls, **{"run.peak_rss_mb": peak_rss_mb})

        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": run_id,
            "cores": spark.sparkContext.defaultParallelism,
            "load1_before": load1_before,
            "load1_after": os.getloadavg()[0],
            "inputs": wl.inputs(),
            "walls": wl.walls,
            "peak_rss_mb": peak_rss_mb,
            "spark": spark.version,
            "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0],
        }
        if tracer is not None:
            tracer.dump(os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json"), context)
    finally:
        spark.stop()
        # the JVM exits when its stdin closes; wait until it has
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)

    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
