"""Scale smoke: exercise TelemetryStore well beyond test volumes and
record the numbers that show the design holds as data grows.

Ingests N_BATCHES x (N_SERIES x POINTS_PER_SERIES_PER_BATCH) synthetic
10 Hz points (one UTC day per batch -> multiple ds_date partitions),
then measures:
  * ingest throughput (raw append + one merge of all 6 rollup levels
    + catalog),
  * routed query latency at every fidelity,
  * that the FULL-fidelity narrow scan prunes to one day partition
    (PartitionFilters in the plan).

Usage: python tools/scale_smoke.py [--series 50] [--points 20000] [--batches 5]
Writes a markdown report to stdout (redirect into SCALE.md).
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--series", type=int, default=50)
    ap.add_argument("--points", type=int, default=20_000)  # per series per batch
    ap.add_argument("--batches", type=int, default=5)
    args = ap.parse_args()

    from open_tlm_spark.session import get_spark
    from open_tlm_spark.store import TelemetryStore

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="tlm_scale_")
    store = TelemetryStore(spark, base)

    total_pts = args.series * args.points * args.batches
    day0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

    print(f"# SCALE smoke — {total_pts:,} points, {args.series} series, "
          f"{args.batches} daily batches")
    print()
    print("| phase | value |")
    print("|---|---|")

    t_ingest = 0.0
    for b in range(args.batches):
        base_ts = int((day0 + dt.timedelta(days=b)).timestamp())
        # 10 Hz synthetic points: series s, point i -> base + i/10 s
        batch = (
            spark.range(args.series * args.points)
            .select(
                F.concat(F.lit("scale.series."), (F.col("id") % args.series)).alias(
                    "dataset_id"
                ),
                F.timestamp_micros(
                    F.lit(base_ts * 1_000_000)
                    + (F.col("id") / args.series).cast("long") * 100_000
                ).alias("ts"),
                (F.sin(F.col("id") / 1000.0) * 100).alias("value"),
            )
        )
        t0 = time.perf_counter()
        store.put(batch)
        t_ingest += time.perf_counter() - t0
    rate = total_pts / t_ingest
    print(f"| ingest (raw + 6 rollup levels + catalog + dedup check) | "
          f"{t_ingest:.1f} s total, {rate:,.0f} pts/s |")

    sid = "scale.series.7"
    # narrow FULL scan: 5 minutes of one series on one day (the data
    # covers the first ~33 min of each day at 10 Hz)
    t0 = time.perf_counter()
    n = store.get(
        sid,
        day0 + dt.timedelta(days=2),
        day0 + dt.timedelta(days=2, minutes=5),
        fidelity=None,
    ).count()
    print(f"| FULL 5-min scan ({n} rows) | {time.perf_counter() - t0:.2f} s |")

    for fid in (1, 10, 100, 1000, 10_000, 100_000):
        t0 = time.perf_counter()
        n = store.get(
            sid, day0, day0 + dt.timedelta(days=args.batches), fidelity=fid
        ).count()
        print(f"| rollup_{fid} full-range ({n} rows) | {time.perf_counter() - t0:.2f} s |")

    # auto-routed wide query
    t0 = time.perf_counter()
    df = store.get(sid, day0, day0 + dt.timedelta(days=args.batches))
    n = df.count()
    print(f"| auto-routed {args.batches}-day query ({n} rows) | "
          f"{time.perf_counter() - t0:.2f} s |")

    t0 = time.perf_counter()
    n = store.datasets("series.1").count()
    print(f"| catalog search ({n} hits) | {time.perf_counter() - t0:.2f} s |")

    # pruning evidence
    plan = (
        store.get(
            sid,
            day0 + dt.timedelta(days=2),
            day0 + dt.timedelta(days=2, minutes=30),
            fidelity=None,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    part_lines = [l.strip() for l in plan.splitlines() if "PartitionFilters" in l]
    print()
    print("Partition pruning on the raw-points scan (one day partition of "
          f"{args.batches}):")
    print("```")
    for l in part_lines[:1]:
        i = l.find("PartitionFilters")
        print(l[i : i + 260])
    print("```")
    return 0


if __name__ == "__main__":
    sys.exit(main())
