"""Quick self-check of the harness on tiny inputs (a few minutes).

    python3 perfbench/smoke.py

Runs every workload at --size smoke, untraced and traced, and checks
that each run is correct, prints every BENCHMARK.json metric with its
unit, and that every span's self time is non-negative and no longer
than the span, every child lies inside its parent, and the traced
analytic layers add up to the pass wall time within 5%. Exits 1 on
the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from common import ROOT, TRACES, spec

SEED = 1


def fail(msg: str) -> None:
    print(f"smoke: FAIL {msg}")
    sys.exit(1)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "3", "--trace", str(trace), "--size", "smoke"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        fail(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_spans(workload: str) -> int:
    with open(os.path.join(TRACES, f"{workload}_seed{SEED}_trace1.spans.json")) as fh:
        spans = {s["id"]: s for s in json.load(fh)["spans"]}
    for s in spans.values():
        if not -1e-6 <= s["self_ms"] <= s["dur_ms"] + 1e-6:
            fail(f"{workload} span {s['name']} self {s['self_ms']} ms of {s['dur_ms']} ms")
        p = spans.get(s["parent"])
        if p is not None and not (p["t0"] <= s["t0"] and s["t1"] <= p["t1"]):
            fail(f"{workload} span {s['name']} outside its parent {p['name']}")
    return len(spans)


def main() -> None:
    b = spec()
    for workload in [w["name"] for w in b["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(workload, trace)
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                fail(f"{workload} trace={trace}: {res['attempted']} attempted, {res['failed']} failed")
            want = {m["name"]: m["unit"] for m in b[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                fail(f"{workload} trace={trace}: metrics {sorted(set(got) ^ set(want))} differ")
            if trace == 0 and any(v["value"] <= 0 for v in res["metrics"].values()):
                fail(f"{workload}: an end-to-end metric is not positive: {res['metrics']}")
        n = check_spans(workload)
        with open(os.path.join(TRACES, f"{workload}_seed{SEED}_trace1.json")) as fh:
            rec = json.load(fh)
        if workload == "analytics_core" and not abs(rec["reconcile"] - 1) <= 0.05:
            fail(f"analytics layers do not add up to the pass wall: {rec['reconcile']}")
        if workload == "serve_ingest" and rec["metrics"]["store.put.spark_jobs"] <= 0:
            fail("no Spark jobs attributed to store.put")
        print(f"smoke: {workload} ok ({n} spans)")
    print("smoke: all ok")


if __name__ == "__main__":
    main()
