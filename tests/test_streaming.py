"""Streaming ingest tests (SURVEY.md ST1-ST3).

The file-landing ingest is exercised end-to-end: JSON files dropped
into a landing dir -> micro-batches -> store.put -> raw + rollups,
including a LATE batch that must back-fill an existing bin (the
reference's unbounded-lateness semantics)."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from open_tlm_spark.store import TelemetryStore
from open_tlm_spark.streaming import start_file_ingest, streaming_rollup


def _write_landing(path: str, rows: list[dict], name: str) -> None:
    tmp = os.path.join(path, f".{name}.tmp")
    with open(tmp, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.rename(tmp, os.path.join(path, f"{name}.json"))


def _wait(predicate, timeout_s=60, poll=0.5):
    t0 = time.time()
    while time.time() - t0 < timeout_s:
        try:
            if predicate():
                return True
        except Exception:
            pass  # e.g. parquet dir exists but is mid-write
        time.sleep(poll)
    return False


def test_file_ingest_with_late_backfill(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    store = TelemetryStore(spark, str(tmp_path / "store"))
    q = start_file_ingest(
        store, str(landing), str(tmp_path / "ckpt"), trigger_seconds=1.0
    )
    try:
        batch1 = [
            {"dataset_id": "s1", "date": "2024-01-01T03:00:00", "value": 10.0},
            {"dataset_id": "s1", "date": "2024-01-01T03:00:00.200000", "value": 8.0},
            {"dataset_id": "s1", "date": "2024-01-01T03:05:00", "value": 4.0},
        ]
        _write_landing(str(landing), batch1, "batch1")
        assert _wait(
            lambda: os.path.exists(store.points_path)
            and spark.read.parquet(store.points_path).count() == 3
        ), "batch1 never ingested"

        # LATE batch: lands in the already-written 03:00:00 bin.
        batch2 = [
            {"dataset_id": "s1", "date": "2024-01-01T03:00:00.100000", "value": 2.0},
        ]
        _write_landing(str(landing), batch2, "batch2")

        # Wait for the ROLLUP merge (the last step of the sink), not
        # just the raw append — stopping the query mid-merge would
        # interrupt it.
        def _merged():
            rows = spark.read.parquet(store._rollup_path(1)).collect()
            return any(r["count"] == 3 for r in rows)

        assert _wait(_merged), "late batch rollup merge never completed"
    finally:
        q.stop()

    import datetime as dt

    rows = store.get(
        "s1",
        dt.datetime(2024, 1, 1, 3, 0, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 1, 3, 10, tzinfo=dt.timezone.utc),
        fidelity=1,
    ).collect()
    assert len(rows) == 2
    merged = rows[0]
    assert merged["count"] == 3  # 10.0, 8.0 + late 2.0 merged into one bin
    assert merged.min_value == 2.0
    assert merged.max_value == 10.0
    assert merged.mean_value == pytest.approx(20.0 / 3)


def test_streaming_rollup_window(spark, tmp_path):
    """Pure-streaming variant: event-time tumbling window with
    watermark, checked via an in-memory sink in complete mode."""
    import datetime as dt

    src = tmp_path / "src"
    src.mkdir()
    rows = [
        {"dataset_id": "a", "date": "2024-01-01T00:00:01", "value": 1.0},
        {"dataset_id": "a", "date": "2024-01-01T00:00:02", "value": 3.0},
        {"dataset_id": "a", "date": "2024-01-01T00:01:05", "value": 5.0},
    ]
    _write_landing(str(src), rows, "w1")

    stream = (
        spark.readStream.schema("dataset_id string, date string, value double")
        .json(str(src))
        .select("dataset_id", F.to_timestamp("date").alias("ts"), "value")
    )
    agg = streaming_rollup(stream, 60)
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup_test")
        .outputMode("complete")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql("SELECT * FROM rollup_test").count() == 2
        ), "windowed agg never produced 2 bins"
        got = {
            r.bin_ts: (r.min_value, r.max_value, r.sum_values, r["count"])
            for r in spark.sql("SELECT * FROM rollup_test").collect()
        }
    finally:
        q.stop()
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    assert got[base] == (1.0, 3.0, 4.0, 2)
    assert got[base + 60] == (5.0, 5.0, 5.0, 1)


def test_streaming_dedup_across_batches(spark, tmp_path):
    """ST5: dropDuplicatesWithinWatermark removes a same-key point
    re-sent in a LATER micro-batch (bounded state, keys inside the
    watermark horizon)."""
    from open_tlm_spark.streaming.ingest import streaming_dedup

    src = tmp_path / "dedup_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("dataset_id string, date string, value double")
        .json(str(src))
        .select("dataset_id", F.to_timestamp("date").alias("ts"), "value")
    )
    q = (
        streaming_dedup(stream, watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_test")
        .outputMode("append")
        .start()
    )
    try:
        _write_landing(
            str(src),
            [
                {"dataset_id": "a", "date": "2024-01-01T00:00:01", "value": 1.0},
                {"dataset_id": "a", "date": "2024-01-01T00:00:01", "value": 1.0},
                {"dataset_id": "a", "date": "2024-01-01T00:00:02", "value": 2.0},
            ],
            "b1",
        )
        q.processAllAvailable()
        # batch 2: one duplicate of batch 1 (cross-batch state) + one new
        _write_landing(
            str(src),
            [
                {"dataset_id": "a", "date": "2024-01-01T00:00:01", "value": 1.0},
                {"dataset_id": "b", "date": "2024-01-01T00:00:01", "value": 9.0},
            ],
            "b2",
        )
        q.processAllAvailable()
        rows = spark.sql("SELECT dataset_id, ts, value FROM dedup_test").collect()
    finally:
        q.stop()
    got = sorted((r.dataset_id, r.value) for r in rows)
    assert got == [("a", 1.0), ("a", 2.0), ("b", 9.0)]


def test_metrics_stream_flushes_real_counters(spark, tmp_path):
    """S12/A9: the self-telemetry stream must snapshot the store's
    REAL num_puts/num_gets counters into the store as series — not a
    stand-in value. Drive one put + one get, then wait for a flush
    whose sampled values reflect them."""
    import datetime as dt

    from open_tlm_spark.schemas import POINTS_SCHEMA
    from open_tlm_spark.streaming import start_metrics_stream

    store = TelemetryStore(spark, str(tmp_path / "store"))
    store.put(
        spark.createDataFrame(
            [("m1", dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc), 1.0)],
            POINTS_SCHEMA,
        )
    )
    store.get(
        "m1",
        dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 1, 1, 0, 1, tzinfo=dt.timezone.utc),
        fidelity=None,
    )
    q = start_metrics_stream(
        store, str(tmp_path / "ckpt"), flush_seconds=1.0
    )
    try:
        def _flushed():
            df = spark.read.parquet(store.points_path).filter(
                F.col("dataset_id").startswith("tlm.metrics.")
            )
            vals = {
                r.dataset_id: r.value
                for r in df.groupBy("dataset_id")
                .agg(F.max("value").alias("value"))
                .collect()
            }
            return (
                vals.get("tlm.metrics.num_puts", 0) >= 1
                and vals.get("tlm.metrics.num_gets", 0) >= 1
            )

        assert _wait(_flushed, timeout_s=90), "counters never flushed"
    finally:
        q.stop()


def test_system_metrics_example_end_to_end(spark, tmp_path):
    """S11: the system-metrics client samples real /proc (or psutil)
    readings into landing files that the streaming ingest consumes
    into the store — run the example for one flush cycle and ingest
    its output."""
    import subprocess
    import sys as _sys

    landing = tmp_path / "landing"
    landing.mkdir()
    proc = subprocess.run(
        [_sys.executable, "examples/monitor_system.py", str(landing), "3"],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=60,
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr
    files = list(landing.glob("sys-*.json"))
    assert files, "example produced no landing files"

    store = TelemetryStore(spark, str(tmp_path / "store"))
    q = start_file_ingest(store, str(landing), str(tmp_path / "ckpt"), trigger_seconds=1.0)
    try:
        assert _wait(
            lambda: os.path.exists(store.points_path)
            and spark.read.parquet(store.points_path)
            .filter(F.col("dataset_id").startswith("system."))
            .count()
            > 0
        ), "system metrics never ingested"
        names = {
            r.dataset_id
            for r in spark.read.parquet(store.points_path)
            .select("dataset_id")
            .distinct()
            .collect()
        }
        assert any(n.startswith("system.") for n in names)
    finally:
        q.stop()


def test_streaming_ohlc_bars(spark, tmp_path):
    """Streaming OHLC: open/close track event-time order inside each
    window (not arrival order), high/low/count aggregate, late rows
    within the watermark still land in their window."""
    import datetime as dt

    from open_tlm_spark.streaming.ingest import streaming_ohlc

    src = tmp_path / "ohlc_src"
    src.mkdir()
    rows = [
        # out-of-order arrivals inside one 60 s window
        {"dataset_id": "a", "date": "2024-01-01T00:00:30", "value": 9.0},
        {"dataset_id": "a", "date": "2024-01-01T00:00:05", "value": 2.0},
        {"dataset_id": "a", "date": "2024-01-01T00:00:55", "value": 4.0},
        {"dataset_id": "a", "date": "2024-01-01T00:00:10", "value": 1.0},
        # second window
        {"dataset_id": "a", "date": "2024-01-01T00:01:10", "value": 7.0},
    ]
    _write_landing(str(src), rows, "o1")
    stream = (
        spark.readStream.schema("dataset_id string, date string, value double")
        .json(str(src))
        .select("dataset_id", F.to_timestamp("date").alias("ts"), "value")
    )
    q = (
        streaming_ohlc(stream, 60)
        .writeStream.format("memory")
        .queryName("ohlc_test")
        .outputMode("complete")
        .start()
    )
    try:
        assert _wait(
            lambda: spark.sql("SELECT * FROM ohlc_test").count() == 2
        ), "ohlc stream never produced 2 bars"
        got = {
            r.bin_ts: (r.open, r.high, r.low, r.close, r.n_points)
            for r in spark.sql("SELECT * FROM ohlc_test").collect()
        }
    finally:
        q.stop()
    base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    # open = value at 00:00:05 (earliest ts), close = value at 00:00:55
    assert got[base] == (2.0, 9.0, 1.0, 4.0, 4)
    assert got[base + 60] == (7.0, 7.0, 7.0, 7.0, 1)
