"""Head-to-head throughput: reference engine vs this engine, SAME workload.

The goal line is "matches-or-beats the reference's single-node
throughput at the same data scale". The reference (bwoodbury3/open-tlm)
publishes no numbers (BASELINE.md), so we measure it directly: import
its Index (pure Python, run unmodified from /root/reference — nothing
is copied) and drive both engines with an identical 10 Hz telemetry
workload — the reference's own tuning point (src/index.py:48-51).

Phases, identical on both sides:
  * ingest: B batches x S series x P points (per-series puts for the
    reference — its API is per-dataset — one DataFrame put per batch
    for ours; both sides maintain full fidelity + all 6 rollup levels
    and both pay their dedup/validation costs).
  * narrow read: 5 minutes of one series at FULL fidelity.
  * wide read: the entire time range, auto-routed to a coarse rollup.
  * dataset search: substring query over the catalog.

Usage: python tools/reference_headtohead.py [--series 10] [--points 20000]
           [--batches 2] -> markdown to stdout (redirect to HEADTOHEAD.md)
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import pathlib
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, "/root/reference")  # reference runs in place, unmodified


def run_reference(series: int, points: int, batches: int, day0: dt.datetime):
    from src.index import Index
    from src.model.data import Datapoint

    base = pathlib.Path(tempfile.mkdtemp(prefix="tlm_ref_"))
    index = Index(base)

    t_ingest = 0.0
    for b in range(batches):
        base_ts = (day0 + dt.timedelta(days=b)).timestamp()
        for s in range(series):
            # identical synthetic stream to ours: 10 Hz, sin values
            pts = [
                Datapoint(
                    date=dt.datetime.fromtimestamp(base_ts + i / 10.0).isoformat(),
                    value=float((s * points + i) % 1000) / 10.0,
                )
                for i in range(points)
            ]
            t0 = time.perf_counter()
            index.put(f"h2h.series.{s}", pts)
            t_ingest += time.perf_counter() - t0

    sid = "h2h.series.7" if series > 7 else "h2h.series.0"
    narrow, t_narrow = _median_timed(
        lambda: index.get(
            sid,
            dt.datetime.fromtimestamp(day0.timestamp() + 60),
            dt.datetime.fromtimestamp(day0.timestamp() + 360),
        )
    )
    wide, t_wide = _median_timed(
        lambda: index.get(
            sid,
            dt.datetime.fromtimestamp(day0.timestamp() - 86400),
            dt.datetime.fromtimestamp(day0.timestamp() + 86400 * (batches + 1)),
        )
    )
    found, t_search = _median_timed(lambda: index.datasets("series"))
    return {
        "ingest_s": t_ingest,
        "narrow_s": t_narrow,
        "narrow_rows": len(narrow),
        "wide_s": t_wide,
        "wide_rows": len(wide),
        "search_s": t_search,
        "search_hits": len(found),
    }


def _median_timed(fn, reps: int = 5):
    """Median-of-reps wall time for a read (one-shot timings on a
    32-thread box swing 2x run-to-run; both engines get the same
    treatment). Returns (last result, median seconds)."""
    import statistics

    times = []
    result = None
    for _ in range(reps):
        t0 = time.perf_counter()
        result = fn()
        times.append(time.perf_counter() - t0)
    return result, statistics.median(times)


def run_ours(series: int, points: int, batches: int, day0: dt.datetime):
    from pyspark.sql import functions as F

    from open_tlm_spark.session import get_spark
    from open_tlm_spark.store import TelemetryStore

    spark = get_spark("headtohead")
    spark.sparkContext.setLogLevel("ERROR")
    store = TelemetryStore(spark, tempfile.mkdtemp(prefix="tlm_ours_"))

    t_ingest = 0.0
    for b in range(batches):
        base_ts = int((day0 + dt.timedelta(days=b)).timestamp())
        batch = spark.range(series * points).select(
            F.concat(F.lit("h2h.series."), (F.col("id") % series)).alias(
                "dataset_id"
            ),
            F.timestamp_micros(
                F.lit(base_ts * 1_000_000)
                + (F.col("id") / series).cast("long") * 100_000
            ).alias("ts"),
            ((F.col("id") % 1000) / 10.0).alias("value"),
        )
        t0 = time.perf_counter()
        store.put(batch)
        t_ingest += time.perf_counter() - t0

    sid = "h2h.series.7" if series > 7 else "h2h.series.0"
    # Warm file listing / codegen once (same policy as bench.py) so the
    # timed reads measure the plans, not first-touch metadata IO.
    store.get(
        sid,
        dt.datetime.fromtimestamp(day0.timestamp(), dt.timezone.utc),
        dt.datetime.fromtimestamp(day0.timestamp() + 1, dt.timezone.utc),
    ).collect()

    def _reads(tag: str) -> dict:
        # read_window is the API serving path (api.py GET /api/data):
        # bounded result, driver-side sort (a Spark range-exchange
        # per interactive read would double the latency), and on a
        # warm store ONE sql statement with AQE skipped — the
        # pre-registered-view plan template per (dataset-set,
        # fidelity). The reference's get() also returns sorted points
        # — same contract. Each rep binds a FRESH window (shifted per
        # rep): this measures the serving path for a new window, not
        # a memoized payload.
        reps = [0]

        def _narrow():
            reps[0] += 7
            return store.read_window(
                sid,
                dt.datetime.fromtimestamp(
                    day0.timestamp() + 60 + reps[0], dt.timezone.utc
                ),
                dt.datetime.fromtimestamp(
                    day0.timestamp() + 360 + reps[0], dt.timezone.utc
                ),
            )

        def _wide():
            reps[0] += 7
            return store.read_window(
                sid,
                dt.datetime.fromtimestamp(
                    day0.timestamp() - 86400 - reps[0], dt.timezone.utc
                ),
                dt.datetime.fromtimestamp(
                    day0.timestamp() + 86400 * (batches + 1) + reps[0],
                    dt.timezone.utc,
                ),
            )

        narrow, t_narrow = _median_timed(_narrow)
        wide, t_wide = _median_timed(_wide)
        found, t_search = _median_timed(lambda: store.datasets("series").collect())
        return {
            f"narrow_s{tag}": t_narrow,
            "narrow_rows": len(narrow),
            f"wide_s{tag}": t_wide,
            "wide_rows": len(wide),
            f"search_s{tag}": t_search,
            "search_hits": len(found),
        }

    out = {"ingest_s": t_ingest}
    # cold: every read lists + decodes parquet from disk
    out.update(_reads(""))
    # warm: the API serving configuration (serve(warm=True)) — rollup
    # levels, catalog, and raw points pinned as InMemoryRelations
    t0 = time.perf_counter()
    store.warm(points=True)
    out["warm_setup_s"] = time.perf_counter() - t0
    out.update(_reads("_warm"))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--series", type=int, default=10)
    ap.add_argument("--points", type=int, default=20_000)  # per series per batch
    ap.add_argument("--batches", type=int, default=2)
    args = ap.parse_args()

    total = args.series * args.points * args.batches
    day0 = dt.datetime(2024, 1, 1)  # naive: reference parses naive-local ISO

    ref = run_reference(args.series, args.points, args.batches, day0)
    ours = run_ours(args.series, args.points, args.batches, day0)

    print(
        f"# HEADTOHEAD — reference vs this engine, {total:,} points "
        f"({args.series} series x {args.points:,} pts x {args.batches} batches, 10 Hz)"
    )
    print()
    print("Identical workload through both engines on this machine; both")
    print("sides maintain FULL fidelity plus all 6 rollup levels at ingest.")
    print("Reference = bwoodbury3/open-tlm run unmodified from /root/reference;")
    print("rows differ on reads because the reference returns whole overlapping")
    print("storage files (file-granular ranges, src/index.py:204-217) while this")
    print("engine returns exact ranges.")
    print()
    print("| phase | reference | this engine (cold) | this engine (warm) | warm speedup |")
    print("|---|---|---|---|---|")
    r_rate, o_rate = total / ref["ingest_s"], total / ours["ingest_s"]
    print(
        f"| ingest ({total:,} pts, raw + 6 rollups) | {ref['ingest_s']:.1f} s "
        f"({r_rate:,.0f} pts/s) | {ours['ingest_s']:.1f} s ({o_rate:,.0f} pts/s) "
        f"| — | {o_rate / r_rate:.2f}x |"
    )
    for key, label in [
        ("narrow", "narrow read (5 min FULL)"),
        ("wide", "wide read (full range, routed)"),
        ("search", "dataset search"),
    ]:
        rows = (
            f"{ref[key + '_rows']} rows" if key != "search"
            else f"{ref['search_hits']} hits"
        )
        print(
            f"| {label} | {ref[key + '_s'] * 1e3:.0f} ms ({rows}) "
            f"| {ours[key + '_s'] * 1e3:.0f} ms "
            f"| {ours[key + '_s_warm'] * 1e3:.0f} ms "
            f"| {ref[key + '_s'] / ours[key + '_s_warm']:.2f}x |"
        )
    print()
    print(
        f"Warm = serve(warm=True): rollups + catalog + raw points pinned as "
        f"InMemoryRelations (one-time setup {ours['warm_setup_s']:.1f} s after "
        f"ingest; ingest invalidates touched levels, which re-warm on next "
        f"read). Cold rows kept for honesty — they are what a fresh process "
        f"pays on first read."
    )
    print()
    print(
        "Single-process queries on tiny stores favor the reference's in-"
        "memory path (no JVM/job overhead); the ingest rate and the scale"
        " trend (SCALE.md: flat latency at 5M points and beyond) are the"
        " scale story — the reference hard-fails past 500 files/query"
        " (src/index.py:445-448) while this engine's partition-pruned scans"
        " keep the same plan shape at any range."
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
