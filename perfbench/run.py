"""CDC engine benchmark — one workload per invocation.

    python3 perfbench/run.py --workload trickle --seed 3 --seconds 15 --trace 0

Runs from any working directory: the repository root is the parent of this
file's directory, and every file the run writes lands under
``<root>/.perfbench_work``. Prints a human-readable report, then, as the
last line of standard output, one JSON object::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
``BENCHMARK.json``; with ``--trace 1`` the per-layer ones. Exits 1 when an
oracle check fails and 2 when the engine package cannot be found.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "techtalk_data_pipeline_snowpark_spark"


def _prepare_environment(work: str) -> None:
    """Must run before pyspark starts the driver JVM: the JVM and its Python
    workers inherit this environment, and a SparkSession builder setting can
    no longer change driver memory once the JVM is up."""
    from perfbench import config

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The heap is committed and touched up front, so peak_rss_mb follows
    # off-heap and Python memory rather than the collector's heap growth;
    # -UsePerfData keeps the JVM from writing hsperfdata outside the checkout.
    java_opts = (
        f"-Xms{config.DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
        f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-memory {config.DRIVER_MEMORY} "
        f'--driver-java-options "{java_opts}" pyspark-shell'
    )
    # the package's session factory reads this instead of its 16g default
    os.environ["SPARK_DRIVER_MEMORY"] = config.DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Arrow UDF workers import the package by name; without the root on
    # their path the first pandas UDF task fails when the benchmark is
    # launched from outside the repository root.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import config

    if args.workload not in config.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_environment(work)
    try:
        from perfbench.harness import run_workload

        result = run_workload(
            args.workload, args.seed, args.seconds, bool(args.trace), work
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(work_root)  # only when no other run is using it
        except OSError:
            pass
    for line in result.report:
        print(line)
    print(json.dumps(result.summary()))
    return 0 if result.correct else 1


if __name__ == "__main__":
    sys.exit(main())
