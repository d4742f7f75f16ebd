"""Benchmark entry point for the near-real-time retail warehouse.

    python3 perfbench/run.py --workload {ingest,dashboard} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Every run starts from the same on-disk
state: the work directory ``.perfbench_work/`` is recreated, Spark's and
the JVM's scratch dirs are pointed into it, and the inputs are generated
from ``--seed``. The bytes under the program's persistent cache roots
are recorded at the start and end of each run, in the report. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones. Diagnostics (the traced run's full report included) go to
standard error and to ``.perfbench_work/report.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "dashboard")
# The program's on-disk caches that outlive a process (catalog.py,
# operators/artifacts.py, operators/layout.py, operators/similarity.py).
# Neither workload reaches them; their sizes are recorded so that state
# one run leaves for the next shows in its report.
CACHE_ROOTS = (
    "/tmp/sparkgraft_ingest", "/tmp/sparkgraft_bucketed", "/tmp/sparkgraft_dedup_artifacts",
    "/tmp/sparkgraft_compaction", "/tmp/sparkgraft_zorder", "/tmp/sparkgraft_zorder3",
    "/tmp/sparkgraft_hilbert", "/tmp/sparkgraft_zorder_scaled", "/tmp/sparkgraft_timetravel",
    "/tmp/sparkgraft_ann_compact",
)


@dataclass
class Result:
    """What a workload hands back to the harness."""

    attempted: int
    failed: int
    latencies: list[float]
    throughput_per_s: float
    setup_s: float
    layers: dict[str, float] = field(default_factory=dict)
    report: dict = field(default_factory=dict)


def percentile(samples: list[float], q: int) -> float:
    """The q-th percentile (inclusive method) of ``samples``."""
    if len(samples) == 1:
        return samples[0]
    return statistics.quantiles(samples, n=100, method="inclusive")[q - 1]


def end_to_end(result: Result) -> dict[str, float]:
    return {
        "latency_p50_s": percentile(result.latencies, 50),
        "latency_p90_s": percentile(result.latencies, 90),
        "throughput_per_s": result.throughput_per_s,
        "setup_s": result.setup_s,
    }


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.lstat(os.path.join(root, n)).st_size
            except OSError:
                pass
    return total


def prepare(root: str) -> str:
    """Recreate the work dir and point every scratch location of Spark,
    the JVM and Python into it."""
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "cache", "data"):
        os.makedirs(os.path.join(work, sub))
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # -XX:-UsePerfData: no /tmp/hsperfdata_<user> file, so the run writes
    # nothing outside its checkout.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp "
        f"-Dderby.system.home={work}/tmp' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={work}/tmp/warehouse pyspark-shell"
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return work


def stop_spark() -> None:
    """Stop the SparkSession and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    sys.path.insert(0, BENCH_DIR)
    work = prepare(root)

    from tracer import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    if args.workload == "ingest":
        import ingest as workload
    else:
        import dashboard as workload
    inputs = workload.generate(work, args.seed, args.seconds)
    # The set-up clock starts here: importing the program, launching
    # Spark and everything up to the first timed op counts in setup_s;
    # generating the inputs does not.
    start_bytes = {p: dir_bytes(p) for p in CACHE_ROOTS}
    t0 = time.perf_counter()
    try:
        result = workload.run(inputs, args.seconds, tracer, t0)
    finally:
        tracer.restore()
        stop_spark()
    end_bytes = {p: dir_bytes(p) for p in CACHE_ROOTS}

    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "samples": len(result.latencies),
        "cache_bytes_start": start_bytes,
        "cache_bytes_end": end_bytes,
        **result.report,
    }
    line = record(result, bool(args.trace), load_spec())
    report["metrics"] = {k: v["value"] for k, v in line["metrics"].items()}
    with open(os.path.join(work, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True, default=str)
    print(json.dumps(report, sort_keys=True, default=str), file=sys.stderr)
    print(json.dumps(line))
    return 0


def record(result: Result, trace: bool, spec: dict) -> dict:
    """The run's result line: end-to-end metrics, or with ``trace`` every
    declared per-layer metric (a layer the workload does not exercise
    reports 0)."""
    if trace:
        layers = {**result.layers, "trace.latency_p50_s": percentile(result.latencies, 50)}
        declared = [m["name"] for m in spec["per_layer"]]
        unknown = set(layers) - set(declared)
        if unknown:
            raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
        chosen = {name: float(layers.get(name, 0.0)) for name in declared}
    else:
        chosen = end_to_end(result)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    return {
        "correct": result.failed == 0,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }


def load_spec() -> dict:
    """The benchmark's declaration of its metrics."""
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as fh:
        return json.load(fh)


if __name__ == "__main__":
    sys.exit(main())
