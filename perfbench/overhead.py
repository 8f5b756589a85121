"""Tracing overhead: one untraced and one traced run of a workload.

    python3 perfbench/overhead.py --workload serve_ingest --seed 1

Both runs measure the end-to-end metrics (the traced one with every
span on). Writes .perfbench/overhead_<workload>_seed<n>.json holding
the untraced end-to-end numbers, the traced run's end-to-end and
per-layer numbers, and the overhead of each end-to-end metric as
traced minus untraced, and prints the overhead table.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from common import ROOT, SCRATCH, TRACES, spec


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    b = spec()
    recs = {}
    for trace in (0, 1):
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", a.workload,
             "--seed", str(a.seed), "--seconds", str(b["run_seconds"]), "--trace", str(trace)],
            cwd=ROOT, check=True, stdout=subprocess.DEVNULL,
        )
        with open(os.path.join(TRACES, f"{a.workload}_seed{a.seed}_trace{trace}.json")) as fh:
            recs[trace] = json.load(fh)["metrics"]
    e2e = [m["name"] for m in b["end_to_end"]]
    out = {
        "untraced": {k: recs[0][k] for k in e2e},
        "traced": {k: recs[1][k] for k in e2e},
        "overhead": {k: recs[1][k] - recs[0][k] for k in e2e},
        "per_layer": {m["name"]: recs[1][m["name"]] for m in b["per_layer"]},
    }
    with open(os.path.join(SCRATCH, f"overhead_{a.workload}_seed{a.seed}.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    for k in e2e:
        u, t = recs[0][k], recs[1][k]
        print(f"{k:14s} untraced {u:12.3f} traced {t:12.3f} overhead {t - u:+12.3f} ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
