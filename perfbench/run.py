"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload export_paged --seed 1 --seconds 15 --trace 0

Run it from the repository root. It starts the package's Spark session on
``local[<cores>]``, sets up and warms up the workload, runs its operations
for ``--seconds``, checks every output, and prints as its last stdout
line ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` the same run is
traced from the outside and the metrics are the per-layer ones. Working
files live under ``.perfbench_work/`` and are deleted at exit; span dumps
of traced runs are kept in ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_pipeline_for_elasticsearch_json_document_spark"

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
    "py_peak_rss_mb": "MB",
    "cpu_s_per_op": "s",
}
CLOCK_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of ``root`` and all its live
    descendants (the driver, its JVM and the JVM's Python workers).
    Unlike wall time, this leaves out time the machine gave to others."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited meanwhile
        children.setdefault(int(fields[1]), []).append(int(name))
        cpu[int(name)] = (int(fields[11]) + int(fields[12])) / CLOCK_TICK
    total, todo = 0.0, [root]
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0.0)
        todo += children.get(pid, [])
    return total


def reset_peak_rss() -> None:
    """Restart this process's peak-RSS count (VmHWM) at its current RSS,
    so the peak read afterwards leaves out imports and input generation."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc/self/status")


def environment(work_dir: str) -> dict:
    """Every setting the benchmark passes to the program."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": "--conf spark.ui.showConsoleProgress=false pyspark-shell",
    }


class Ctx:
    def __init__(self, seed: int, work_dir: str, tracer) -> None:
        self.seed, self.work_dir, self.tracer = seed, work_dir, tracer
        self.spark = None


def _stop_jvm(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from workloads import LAYER_METRICS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    os.makedirs(work_dir)
    os.environ.update(environment(work_dir))
    phases: dict = {}
    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
    ctx = Ctx(args.seed, work_dir, tracer)
    try:
        from etl_pipeline_for_elasticsearch_json_document_spark.session import get_spark

        phases = {"import": time.perf_counter() - T0}
        t0 = time.perf_counter()
        ctx.spark = get_spark("perfbench")
        ctx.spark.range(1).collect()  # the session answers
        start_s = phases["session"] = time.perf_counter() - t0
        ctx.spark.sparkContext.setLogLevel("ERROR")
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        wl.prepare()  # input generation: outside set-up time
        phases["prepare"] = time.perf_counter() - t0
        if tracer is not None:
            wl.trace_hooks()
        t0 = time.perf_counter()
        wl.warmup()
        warm_s = time.perf_counter() - t0
        if tracer is not None:
            tracer.spans.clear()
            tracer.notes.clear()
        phases["warmup"] = warm_s
        reset_peak_rss()
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        wl.run(t0 + args.seconds)
        phases["run"] = time.perf_counter() - t0
        cpu_per_op = (tree_cpu_s(os.getpid()) - cpu0) / max(1, wl.ops())
        rss_mb = peak_rss_mb()
        latency = statistics.median(wl.latencies)
        throughput = wl.throughput()
        if tracer is not None:
            tracer.unwrap_all()
        t0 = time.perf_counter()
        wl.check()
        phases["check"] = time.perf_counter() - t0
        print("perfbench: latencies " + " ".join(f"{x:.3f}" for x in wl.latencies), file=sys.stderr)
        for e in wl.errors[:20]:
            print(f"perfbench: check failed: {e}", file=sys.stderr)
        if tracer is not None:
            values = {k: 0.0 for k in LAYER_METRICS}
            values.update(wl.layer_metrics())
            values["session.start_s"] = start_s
            values["trace.latency_p50_s"] = latency
            values["trace.throughput_per_s"] = throughput
            trace_dir = os.path.join(base, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            tracer.dump(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.jsonl"))
            metrics = {k: {"value": float(values[k]), "unit": u} for k, (u, _) in LAYER_METRICS.items()}
        else:
            values = {
                "setup_s": start_s + warm_s,
                "latency_p50_s": latency,
                "throughput_per_s": throughput,
                "py_peak_rss_mb": rss_mb,
                "cpu_s_per_op": cpu_per_op,
            }
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END.items()}
        result = {
            "correct": wl.failed == 0 and not wl.errors,
            "attempted": int(wl.attempted),
            "failed": int(wl.failed),
            "metrics": metrics,
        }
    finally:
        t0 = time.perf_counter()
        if ctx.spark is not None:
            _stop_jvm(ctx.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
        phases["stop"] = time.perf_counter() - t0
        print("perfbench: phases " + " ".join(f"{k}={v:.1f}s" for k, v in phases.items()), file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
