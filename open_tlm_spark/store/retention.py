"""Retention (O9, extension beyond the reference): expire aged RAW
point partitions while keeping every rollup level — the classic
downsample-then-expire TSDB policy (RRDtool archives / Prometheus
retention; public designs). At warehouse scale the raw level
dominates bytes, and because retention granularity matches the
store's ds_date partition key, expiry is a partition DROP —
O(dropped partitions) directory deletes, never a data rewrite or a
row scan.

A maintenance-job module rather than a TelemetryStore method on
purpose: like compaction on a real deployment, retention runs as a
scheduled table service, separate from the write and read paths.
"""

from __future__ import annotations

import datetime as _dt
import glob
import os
import shutil

from open_tlm_spark.store.tsdb import TelemetryStore, _as_utc, _utc_date


def expire_raw(store: TelemetryStore, older_than: _dt.datetime) -> int:
    """Drop raw-point date partitions strictly older than the
    cutoff's UTC date. Coarse fidelities keep serving the expired
    range (the ST6 fidelity router already prefers them for wide
    windows); raw reads of the range correctly return nothing.

    Returns the number of (bucket, date) partitions dropped; a
    second call with the same cutoff returns 0 (idempotent).
    """
    cutoff = _utc_date(_as_utc(older_than))
    if not os.path.exists(store.points_path):
        return 0
    removed = 0
    for bdir in sorted(
        glob.glob(os.path.join(store.points_path, "ds_bucket=*"))
    ):
        for ddir in sorted(glob.glob(os.path.join(bdir, "ds_date=*"))):
            raw = os.path.basename(ddir).split("=", 1)[1]
            try:
                d = _dt.date.fromisoformat(raw)
            except ValueError:
                continue  # never delete a dir we can't parse
            if d < cutoff:
                shutil.rmtree(ddir)
                removed += 1
    if removed:
        store.spark.catalog.refreshByPath(store.points_path)
        store._invalidate_warm(store.points_path)
    return removed
