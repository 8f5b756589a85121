"""Benchmark entry point.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Makes the workload's inputs from --seed,
sets up the program, measures for --seconds, checks every output, and
prints one JSON object as the last line of stdout:

    {"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
wraps the program's entry points in spans and reports the per-layer
metrics instead, writing every span to .perfbench/traces/. All scratch
files live under .perfbench/ in the repository root. See
perfbench/README.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

from common import TRACES, WORK, spec

WORKLOADS = ("serve_ingest", "analytics_core")


def prepare_env() -> None:
    """Pin the process to the checkout: every scratch byte (Spark local
    dirs, JVM and Python temp files) lands under .perfbench/work."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d))
    os.makedirs(TRACES, exist_ok=True)
    os.environ.update(
        # two Spark cores, leaving the rest of the host to the Python
        # process, the load generator and other tenants' noise
        SPARK_GRAFT_CPUS=str(min(2, os.cpu_count() or 1)),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "tmp"),
        # no hsperfdata files: HotSpot writes them to /tmp whatever the tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        TZ="UTC",
    )
    time.tzset()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--size", choices=("full", "smoke"), default="full",
        help="smoke: tiny inputs for a quick self-check of the harness",
    )
    args = ap.parse_args()
    names = spec()["end_to_end" if args.trace == 0 else "per_layer"]
    prepare_env()

    if args.workload == "serve_ingest":
        import serve as workload
    else:
        import analytics as workload
    res = workload.run(args)

    missing = [m["name"] for m in names if m["name"] not in res["metrics"]]
    if missing:
        raise SystemExit(f"workload did not produce metrics {missing}")
    trace_path = os.path.join(TRACES, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(trace_path, "w") as fh:
        json.dump({k: v for k, v in res.items() if k != "spans"}, fh, indent=1, default=str)
    if res.get("spans") is not None:
        res["spans"].dump(trace_path.replace(".json", ".spans.json"), {"workload": args.workload})
    for p in res["problems"][:20]:
        print(f"check failed: {p}", file=sys.stderr)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]} for m in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
