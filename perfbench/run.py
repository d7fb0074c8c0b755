"""Benchmark entry point: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload request_hot --seed 1 --seconds 16 --trace 0

Run from the repository root. The run generates its input tables from
the seed, pins ``SPARK_GRAFT_CPUS=4``, starts its own SparkSession,
sets up (tables, cache prefill, an untimed warm pass), measures a
closed loop for ``--seconds``, checks every output afterwards and
prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's layer functions with spans, reports the per-layer metrics and
writes the spans to ``.perfbench_out/``. Everything the run writes
lives in a temporary directory under ``.perfbench_work/``, removed at
exit. All other output (Spark, Python workers) goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import LAYER_METRICS, SF, WORKLOADS  # noqa: E402

CPUS = "4"

END_TO_END = {
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}


@dataclass
class Context:
    spark: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: object


def pin_env(work: str) -> None:
    """Environment every run shares; set before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        # Python workers (streaming replays) import the engine by name
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # a heap sized from the start makes the peak RSS less dependent
        # on when the collector chose to grow it
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '-Xms1g -Djava.io.tmpdir={tmp}' pyspark-shell",
    )
    tempfile.tempdir = tmp


def measure(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    pin_env(work)
    from perfbench import datagen, harness, workloads
    from perfbench.trace import Tracer

    t_setup = time.perf_counter()
    stages: dict[str, float] = {}
    import __spark_entry__  # noqa: F401 - ships the protobuf fallback before the JVM starts
    from det_module_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload}")
    spark.sparkContext.setLogLevel("ERROR")
    stages["session_s"] = time.perf_counter() - t_setup

    t = time.perf_counter()
    data_dir = os.path.join(work, "data")
    datagen.write_tables(data_dir, SF, seed)
    stages["tables_s"] = time.perf_counter() - t

    tracer = Tracer(harness.SparkCounters(spark)) if trace else None
    wl = WORKLOADS[workload](Context(spark, data_dir, work, seed, tracer))
    try:
        if trace:
            wl.instrument()
        wl.setup(stages)
        setup_s = time.perf_counter() - t_setup

        ops, t0 = wl.timed(seconds)
        wl.check(ops)
        summary = harness.summarize(ops, t0)
        summary.update(peak_rss_mb=harness.peak_rss_mb(spark), setup_s=setup_s)
        if trace:
            layers = dict.fromkeys(LAYER_METRICS, 0.0)
            layers.update(wl.layers(ops))
            layers.update(workloads.spark_layers(tracer, ops))
            layers["trace.throughput_per_s"] = summary["throughput_per_s"]
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(
                os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"),
                {"workload": workload, "seed": seed, "ops": len(ops), "layers": layers},
            )
    finally:
        if tracer is not None:
            tracer.unwrap_all()
        stop_spark(spark)

    for op in ops:
        status = f"FAILED {op.error}" if op.error else "ok"
        print(f"# op {op.name} {op.start - t0:.2f}+{op.seconds:.2f}s {status}", file=sys.stderr)
    print(
        f"# {workload} seed={seed}: {summary['attempted']} ops, "
        f"{summary['failed']} failed (error_rate {summary['error_rate']:.4f}), "
        f"window {summary['window_s']:.2f}s, tail = p{summary['tail_percentile']:.1f} "
        f"of {summary['attempted']} samples, setup stages "
        + ", ".join(f"{k}={v:.2f}" for k, v in stages.items()),
        file=sys.stderr,
    )
    if trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": metrics,
    }


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_per_item"):
        return "bytes"
    if name.endswith("ratio"):
        return "ratio"
    return "count"


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    for need in ("det_module_spark", "__spark_entry__.py", os.path.join("tools", "check_parity.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"engine source missing: {need} (run from a full checkout)", file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # keep stdout for the result line alone: the JVM and Python workers
    # inherit fd 1, so point it at stderr and keep a private copy
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        result = measure(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    sys.stdout.flush()
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
