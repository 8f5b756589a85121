"""Paths and helpers shared by the benchmark's workloads."""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCRATCH = os.path.join(ROOT, ".perfbench")
WORK = os.path.join(SCRATCH, "work")
TRACES = os.path.join(SCRATCH, "traces")

# the program under test is imported from the repository root
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def layers_zero() -> dict:
    """Every per-layer metric, zero until a workload measures it (a
    layer a workload never calls did zero work)."""
    return {m["name"]: 0 for m in spec()["per_layer"]}


def start_spark():
    """The program's own session factory; returns (spark, seconds)."""
    from open_tlm_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep every job's stages for the traced run's accounting
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    elapsed = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, elapsed


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def storage_mem_bytes(spark) -> int:
    return sum(r.memSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo())
