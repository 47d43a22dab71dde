"""Benchmark of datachain_spark on this host: CDC bulk replay and a
microbatch tail with merge-on-read reads (workload `cdc`), and registry
queries checked against DuckDB (workload `registry-queries`).

    python3 perfbench/run.py --workload cdc --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints a host line, then, as the last line,
one JSON object {"correct", "attempted", "failed", "metrics"}: end-to-end
metrics with --trace 0, per-layer metrics with --trace 1. A failed
correctness gate prints the failure with no metric values and exits 1.
All files go to a per-run directory under .perfbench_run/, removed at exit.
"""

from __future__ import annotations

import os
import time

T_START = time.perf_counter()
CPU_START = sum(os.times()[:4])  # no children yet: the whole process tree
with open("/proc/stat") as _f:
    TICKS_START = [int(x) for x in _f.readline().split()[1:]]

import argparse  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("cdc", "registry-queries")
# --break-expectation: the gates each workload can be made to trip
GATES = {"cdc": ("replay", "tail", "keys", "changes", "ledger"), "registry-queries": ("query",)}
UNITS = {"setup_s": "s", "rows_per_cpu_s": "rows/cpu_s", "step_cpu_ms": "cpu_ms", "read_cpu_s": "cpu_s"}


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--break-expectation",
        metavar="GATE",
        choices=[g for gs in GATES.values() for g in gs],
        help="break the expectation of one gate (README.md); the run must fail",
    )
    args = ap.parse_args(argv)
    if args.break_expectation and args.break_expectation not in GATES[args.workload]:
        ap.error(f"workload {args.workload} has the gates {', '.join(GATES[args.workload])}")
    return args


def host_sizing(run_dir: str) -> dict[str, object]:
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    avail_mb = mem.get("MemAvailable", mem["MemTotal"]) // 1024
    # a quarter of free memory, 1-8 GiB: other tenants share this machine
    driver_mb = max(1024, min(8192, avail_mb // 4))
    return {
        "nproc": cores,
        "mem_available_mb": avail_mb,
        "driver_memory_mb": driver_mb,
        "scratch_fs": fs_type(run_dir),
    }


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding `path` ('tmpfs' or a disk fs)."""
    best, kind = "", "unknown"
    with open("/proc/self/mountinfo") as f:
        for line in f:
            left, _, right = line.partition(" - ")
            mnt = left.split()[4]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, kind = mnt, right.split()[0]
    return kind


def start_spark(cores: int, run_dir: str, trace: bool):
    from datachain_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(run_dir, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    t = time.perf_counter()
    spark = get_spark(cpus=cores, app_name="perfbench", extra_conf=conf)
    return spark, time.perf_counter() - t


def stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def emit(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> None:
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "datachain_spark", "__init__.py")):
        print("perfbench: the datachain_spark package is not beside perfbench/", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    # every temporary file of Python, the JVM and Spark goes under run_dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        }
    )
    os.environ.pop("SPARK_GRAFT_CONF", None)
    os.environ["TZ"] = "UTC"  # collected timestamps come back as naive local time
    time.tzset()
    sys.path[:0] = [HERE, ROOT]
    spark = None
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        import check
        import trace
        import workloads

        host = host_sizing(run_dir)
        os.environ["SPARK_DRIVER_MEM"] = f"{host['driver_memory_mb']}m"
        bench = workloads.Bench(
            spark=None,
            seed=args.seed,
            seconds=args.seconds,
            work_dir=run_dir,
            t_start=T_START,
            cpu_start=CPU_START,
            start_s=0.0,
            tracer=None,
            break_expectation=args.break_expectation,
        )
        workloads.prepare(args.workload, bench, pool)  # inputs are made while Spark starts
        spark, bench.start_s = start_spark(int(host["nproc"]), run_dir, bool(args.trace))
        bench.spark = spark
        host.update(
            spark=spark.version,
            java=spark.sparkContext._jvm.System.getProperty("java.version"),
            workload=args.workload,
            seed=args.seed,
            trace=args.trace,
        )
        print("# host " + json.dumps(host), flush=True)
        if args.trace:
            bench.tracer = trace.Tracer(spark)
            trace.install(bench.tracer)
        try:
            res = workloads.WORKLOADS[args.workload](bench)
        except check.GateError as e:
            print(f"# FAILED gate: {e}", flush=True)
            emit(False, 1, 0, {})
            return 1
        e2e = {"setup_s": bench.setup_cpu_s, **res.e2e}
        print(f"# end_to_end {json.dumps(e2e)}", flush=True)
        # steal_share: the share of the host's CPU time the hypervisor gave to
        # other guests during the run; a noisy neighbour shows here
        ticks = [b - a for a, b in zip(TICKS_START, workloads.cpu_ticks())]
        wall = {"setup_s": bench.setup_s, **res.wall}
        print(f"# wall {json.dumps(wall)} steal_share={ticks[7] / sum(ticks):.3f}", flush=True)
        if args.trace:
            stop_spark(spark)  # flushes the event log
            spark = None
            # every layer metric is printed; 0 where the workload does not run that layer
            layers = res.layers()
            metrics = {k: (layers.get(k, 0.0), layer_unit(k)) for k in workloads.LAYER_METRICS}
        else:
            metrics = {k: (v, UNITS[k]) for k, v in e2e.items()}
        emit(True, res.attempted, 0, metrics)
        return 0
    finally:
        pool.shutdown(wait=True, cancel_futures=True)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith(("skew", "share", "per_event", "per_input_byte")):
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
