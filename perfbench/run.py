#!/usr/bin/env python3
"""Closed-loop benchmark of the maplejuice_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 30 --trace 0

Workloads: batch and pipelines (see workloads.py). One process runs one
workload on local[<cores - 1>]. The last line of standard output is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones: setup_s (process
start to the end of the first, output-checked call of every operation)
and wall_s (one pass over the operations, each at its best time over the
timed passes). With ``--trace 1`` they are the per-operation percentiles
and input throughput plus the per-layer figures, measured by spans around
the engine's layer entry points and from Spark's status store. Per-layer
figures are per timed pass over the workload's operations.

Inputs, Spark scratch space and trained artifacts live under
``perfbench/.work/<run>/``, which the run deletes when it ends. A traced
run leaves its spans in ``perfbench/.work/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["batch", "pipelines"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "toy"], default="full",
                   help="input size; 'toy' is for the benchmark's own tests")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file the run and its Spark processes write under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    path = os.environ.get("PYTHONPATH")
    # Spark's Python workers import the engine by name
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["MJ_ARTIFACT_ROOT"] = os.path.join(work, "artifacts")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _stop(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse(argv)
    if not os.path.isfile(os.path.join(REPO, "maplejuice_spark", "__init__.py")):
        print(f"perfbench: no maplejuice_spark package next to {HERE}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    sys.path[:0] = [HERE, REPO]
    import workloads

    try:
        result = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), args.scale, work, t_start
        )
    finally:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
