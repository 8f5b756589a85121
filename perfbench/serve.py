"""serve_ingest: dashboard reads, then reads beside ingest, over HTTP.

The program side runs here: a TelemetryStore built by `put` from the
generated points and served by `api.serve(warm=True)`. The traffic
comes from loadgen.py in its own process.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import datagen
from common import HERE, WORK, layers_zero, start_spark, stop_spark, storage_mem_bytes
from spans import TimedLock, Tracer, median, percentile

SIZES = {
    # 20 series x 6k points at 10 Hz; 10k-point POSTs (500 per series)
    "full": dict(series=20, points=6000, batch=500),
    "smoke": dict(series=2, points=4000, batch=100),
}
POSTS = 1  # per run: one POST costs ~50 Spark jobs and 10-15 s here


def instrument(tracer: Tracer) -> None:
    from open_tlm_spark.api import TlmHandler
    from open_tlm_spark.store.tsdb import TelemetryStore

    for meth in ("put", "validate", "read_window", "get", "datasets", "warm"):
        tracer.wrap(TelemetryStore, meth, f"store.{meth}")
    for meth in ("do_GET", "do_POST"):
        tracer.wrap(TlmHandler, meth, f"api.{meth}", attrs=lambda h: {"path": h.path})


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def run(args) -> dict:
    size = SIZES[args.size]
    pts_path = os.path.join(WORK, "points.parquet")
    datagen.write_points(pts_path, args.seed, size["series"], size["points"])

    spark, get_spark_s = start_spark()
    from open_tlm_spark import api
    from open_tlm_spark.store import CommentStore, TelemetryStore

    tracer = Tracer(spark) if args.trace else None
    if tracer:
        instrument(tracer)

    # set-up as a server start pays it: ingest the initial points, then
    # serve with the warm cache (serve() warms the store)
    t0 = time.perf_counter()
    store = TelemetryStore(spark, os.path.join(WORK, "store"))
    store.put(spark.read.parquet(pts_path))
    t1 = time.perf_counter()
    srv = api.serve(store, CommentStore(spark, os.path.join(WORK, "comments")), warm=True)
    t2 = time.perf_counter()
    mem = storage_mem_bytes(spark)
    if tracer:
        srv.RequestHandlerClass.write_lock = TimedLock(tracer)

    seconds = args.seconds
    cmd = [
        sys.executable, os.path.join(HERE, "loadgen.py"),
        "--port", str(srv.server_address[1]), "--seed", str(args.seed),
        "--series", str(size["series"]), "--points", str(size["points"]),
        "--batch", str(size["batch"]),
        "--read-seconds", str(seconds), "--posts", str(POSTS),
    ]
    try:
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=seconds + 150)
    finally:
        srv.shutdown()
        srv.server_close()
    if out.returncode != 0:
        raise SystemExit(f"load generator failed:\n{out.stderr}")
    lg = json.loads(out.stdout.strip().splitlines()[-1])
    log = lg["log"]
    files, nbytes = dir_usage(store.base)
    n_points = size["series"] * size["points"] + lg["points_acked"]

    reads = [e for e in log if e["phase"] == "read"]
    posts = [e for e in log if e["kind"] == "post"]
    m = {
        "setup_s": get_spark_s + (t2 - t0),
        "op_p50_ms": 1000 * median(e["lat"] for e in reads),
        "op_p80_ms": 1000 * percentile([e["lat"] for e in reads], 0.8),
        "ops_per_s": len(reads) / lg["read_wall_s"],
        "batch_p50_s": median(e["lat"] for e in posts),
    }
    samples = {"reads": len(reads), "posts": len(posts), "ingest_wall_s": lg["ingest_wall_s"],
               "ingest_phase_reads": sum(e["phase"] == "ingest" and e["kind"] != "post" for e in log)}
    m.update(layers_zero())
    m.update({
        "session.get_spark_s": get_spark_s,
        "store.warm.ms": 1000 * (t2 - t1),
        "spark.storage_mem_bytes": mem,
        "store.files": files,
        "store.bytes": nbytes,
        "store.bytes_per_point": nbytes / n_points,
    })
    if tracer:
        tracer.unwrap_all()
        tracer.attach_spark_stats()
        tracer.annotate()
        # perf_counter is the system-wide monotonic clock, so the load
        # generator's send times bound the server's spans
        m.update(serve_layers(tracer, since=min(e["t"] for e in reads)))
    stop_spark(spark)
    return {
        "metrics": m,
        "samples": samples,
        "attempted": max(1, len(log)),
        "failed": min(max(1, len(log)), len(lg["problems"])),
        "problems": lg["problems"],
        "spans": tracer,
    }


def serve_layers(tr: Tracer, since: float) -> dict:
    """Per-layer numbers from the spans of the measured phases (the
    requests from `since` on, after the load generator's warm-up)."""
    kids = tr.children()
    measured = [s for s in tr.named("api.do_GET") if s["t0"] >= since]
    gets = [s for s in measured if s["attrs"]["path"].startswith("/api/data/")]
    searches = [s for s in measured if s["attrs"]["path"].startswith("/api/datasets")]
    posts = tr.named("api.do_POST")

    def under(s, name):
        return [c for c in kids.get(s["id"], []) if c["name"] == name]

    computed = [g for g in gets if under(g, "store.read_window")]
    rws = [rw for g in computed for rw in under(g, "store.read_window")]
    warm_rws = [rw for rw in rws if not under(rw, "store.get")]
    cold_rws = [rw for rw in rws if under(rw, "store.get")]
    read_waits = [w for g in gets for w in under(g, "api.write_lock.wait")]
    busy = [g for g in gets if any(p["t0"] < g["t0"] < p["t1"] for p in posts)]
    puts = tr.named("store.put", under="api.do_POST")
    return {
        "store.put.ms": median(s["dur_ms"] for s in puts),
        "store.put.spark_jobs": median(s["spark_incl"]["jobs"] for s in puts),
        "store.put.stages": median(s["spark_incl"]["stages"] for s in puts),
        "store.put.tasks": median(s["spark_incl"]["tasks"] for s in puts),
        "store.put.executor_run_ms": median(s["spark_incl"]["executor_run_ms"] for s in puts),
        # validate only builds a lazy plan; its filter and dedup run
        # inside put's jobs, so this is plan-build time
        "store.validate.plan_ms": median(s["dur_ms"] for s in tr.named("store.validate", under="api.do_POST")),
        "api.write_lock.wait_ms": sum(w["dur_ms"] for w in read_waits) / max(1, len(gets)),
        "api.get_data.busy_p50_ms": median(g["dur_ms"] for g in busy),
        "store.read_window.cold_count": len(cold_rws),
        # get returns a lazy frame that the cold read_window collects, so
        # the cold path is timed as the whole read_window call
        "store.read_window.cold_ms": median(rw["dur_ms"] for rw in cold_rws),
        "store.read_window.ms": median(s["dur_ms"] for s in warm_rws),
        "store.read_window.spark_jobs": median(s["spark_incl"]["jobs"] for s in warm_rws),
        "api.get_data.self_ms": median(g["self_ms"] for g in computed),
        "api.memo_hit_ratio": 1 - len(computed) / max(1, len(gets)),
        # store.datasets returns a lazy frame that the handler collects,
        # so the search is timed as the whole /api/datasets request
        "api.get_datasets.ms": median(s["dur_ms"] for s in searches),
    }
