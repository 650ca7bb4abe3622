"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_trickle,lanes} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Generates every input from ``--seed`` under
``.perfbench_work/``, starts a local Spark session through the engine's own
``session.get_test_spark`` with the host pinned from outside
(``SPARK_GRAFT_CPUS`` = usable cores, ``SPARK_GRAFT_DRIVER_MEM`` below host
RAM, ``SPARK_LOCAL_DIRS`` inside the checkout), runs the workload, checks
its outputs, stops the JVM and prints one JSON result as the last stdout
line. With ``--trace 0`` the result holds the end-to-end metrics, with
``--trace 1`` the per-layer ones; the traced run also writes its spans to
``.perfbench_out/``. The line before the result is a JSON detail record
(host, tail percentile, warm-up and check times, failures).

The stream workload replays a fixed 24 micro-batches, so its counts repeat
exactly from run to run; the lane workload makes at least three timed
passes and repeats until ``--seconds`` have passed. On 4 cores either
timed phase already exceeds the 10 s that BENCHMARK.json asks for.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("stream_trickle", "lanes")
SETUP_REPEATS = 5


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _host() -> dict:
    cores = len(os.sched_getaffinity(0))
    ram_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                ram_kb = int(line.split()[1])
    return {"nproc": cores, "ram_gb": round(ram_kb / 2**20, 1)}


def _pin_env(work: str, host: dict) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["nproc"]),
        # a 1 GB heap is enough for both workloads, and the smaller the
        # heap, the less room the JVM's adaptive heap growth has to move
        # peak RSS from run to run
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    host["driver_mem"] = os.environ["SPARK_GRAFT_DRIVER_MEM"]


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


def _stop(spark, gateway) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    if spark is not None:
        spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits when stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "kafkastreamingetl_spark"))):
        return _fail("run from the repository root: the engine sources are missing")
    try:
        import pyspark  # noqa: F401
    except ImportError:
        return _fail("pyspark is not installed")

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = _host()
    _pin_env(work, host)
    sys.path[:0] = [root, HERE]
    try:
        return _run(args, root, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str, host: dict) -> int:
    import datagen
    import lanes
    import pyspark
    import stats
    import streams
    from pyspark import SparkContext
    from tracing import StageCounters, Tracer

    from kafkastreamingetl_spark.catalog import load_table
    from kafkastreamingetl_spark.session import get_test_spark

    marks = [("start", time.perf_counter())]
    tables_dir = os.path.join(work, "sf0.1")
    table_rows = datagen.write_tables(tables_dir, args.seed, 0.1)
    marks.append(("inputs", time.perf_counter()))

    # set-up: the engine's session bootstrap plus the first job on the dim,
    # once cold (JVM launch) and SETUP_REPEATS times on a restarted session
    setup = []
    spark = None
    steal0 = _steal_jiffies()
    try:
        for _ in range(SETUP_REPEATS + 1):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = get_test_spark("perfbench")
            load_table(spark, tables_dir, "customer").count()
            setup.append(time.perf_counter() - t)
        marks.append(("setup", time.perf_counter()))
        host.update(pyspark=pyspark.__version__,
                    java=spark._jvm.System.getProperty("java.version"))
        tracer = Tracer(bool(args.trace))
        ctx = SimpleNamespace(
            seed=args.seed, seconds=args.seconds, work=work, tables_dir=tables_dir,
            table_rows=table_rows, tracer=tracer, cores=host["nproc"],
            counters=StageCounters(spark) if args.trace else None,
        )
        module = streams if args.workload == "stream_trickle" else lanes
        res = module.run_workload(spark, ctx)
        marks.append(("workload", time.perf_counter()))
        rss = {"jvm_hwm_mb": _vm_hwm_mb(SparkContext._gateway.proc.pid),
               "python_maxrss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0}
    finally:
        if SparkContext._gateway is not None:
            _stop(spark, SparkContext._gateway)
    marks.append(("stop", time.perf_counter()))
    elapsed = marks[-1][1] - marks[0][1]
    # CPU time the hypervisor gave to other guests while this run waited
    host["steal_share"] = round((_steal_jiffies() - steal0) / 100.0 / (elapsed * host["nproc"]), 4)

    failures = res["failures"]
    detail = {"workload": args.workload, "seed": args.seed, "host": host,
              "setup_samples_s": [round(s, 4) for s in setup], **rss,
              "phases_s": {b[0]: round(b[1] - a[1], 2) for a, b in zip(marks, marks[1:])},
              **res["detail"],
              "failures": failures}
    if args.trace:
        out_dir = os.path.join(root, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        span_file = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
        tracer.write(span_file)
        detail["span_file"] = os.path.relpath(span_file, root)
        layers = {k: 0.0 for k in stats.PER_LAYER}
        layers.update(res["layers"])
        layers["trace.wall_s"] = res["wall_s"]
        layers["trace.spans"] = float(len(tracer.spans))
        values, units = layers, stats.PER_LAYER
    else:
        values = {
            "setup_s": statistics.median(setup[1:]),
            "wall_s": res["wall_s"],
            "op_p50_ms": res["op_p50_ms"],
            "op_tail_ms": res["op_tail_ms"],
            "rows_per_s": res["rows_per_s"],
            "peak_rss_mb": sum(rss.values()),
        }
        units = stats.END_TO_END
    print(json.dumps(detail))
    print(stats.result_line(not failures, res["attempted"], len(failures), values, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
