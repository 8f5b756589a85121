"""Streaming ingest pipelines.

Reference parity (SURVEY.md §2.9, §3.2):
  * ST1 micro-batch ingest  — clients POST batches every ~2 s
    (examples/monitor_system.py:64-87). Spark-first: a file landing
    directory consumed by a Structured Streaming source with
    Trigger.ProcessingTime; each micro-batch flows through
    TelemetryStore.put via foreachBatch.
  * ST3 unbounded lateness  — the reference merges ANY late point
    into existing bins (read-merge-write, src/index.py:521-550).
    Watermarked streaming aggregation cannot do that (watermarks
    bound state), so the production path is foreachBatch + the
    store's algebraic rollup merge — arbitrarily late back-fill
    lands in the right bin, exactly like the reference.
  * ST2/ST4 windowed streams — for bounded-lateness deployments,
    streaming_rollup() is the pure-streaming variant: event-time
    tumbling window + watermark. Late-beyond-watermark data is
    dropped (documented difference; the foreachBatch path is the
    reference-faithful one).
  * S12 self-telemetry      — the reference samples its own
    num_puts/num_gets counters on a 1 s cadence into the store
    (src/metrics/loop.py:10-78): literally a rate source feeding the
    same sink.

Scale notes: foreachBatch batches arrive pre-partitioned by the
source; the put() path aggregates the batch once to the 1 s level,
then shuffles once for all six rollup levels, on (level, dataset_id,
bin), writes them to the one rollups/ table in one write, and runs a
fixed number of Spark jobs per micro-batch however many levels there
are. Checkpoint dirs make the source offsets restartable. A replayed
micro-batch whose put completed is a no-op (the store's ST5 anti-join
drops its points), but one whose put failed after the raw append
loses its points from every rollup level: the anti-join drops them
before the merge (see TelemetryStore.put).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from open_tlm_spark.schemas import POINTS_SCHEMA
from open_tlm_spark.store.tsdb import TelemetryStore


def start_file_ingest(
    store: TelemetryStore,
    landing_dir: str,
    checkpoint_dir: str,
    trigger_seconds: float = 2.0,
) -> StreamingQuery:
    """S6/ST1/ST3: stream JSON point files from a landing directory
    into the store (raw append + all rollup levels per micro-batch).

    Landing format: JSON lines {"dataset_id": ..., "date": ISO-8601,
    "value": float} — the reference's POST body rows
    (server.py:76-103).
    """
    spark = store.spark
    raw = (
        spark.readStream.schema("dataset_id string, date string, value double")
        .json(landing_dir)
    )
    points = raw.select(
        "dataset_id",
        F.to_timestamp("date").alias("ts"),
        "value",
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        # put() validates (P5/P6), dedups (ST5), appends raw, and
        # merges every rollup level (A2/ST3).
        store.put(batch)

    return (
        points.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def streaming_rollup(
    points_stream: DataFrame,
    duration_s: int,
    watermark: str = "10 seconds",
) -> DataFrame:
    """ST2: pure-streaming tumbling rollup (bounded lateness).

    Event-time window + watermark; emits ROLLUP_SCHEMA rows. Use for
    dashboards that tolerate dropping data later than the watermark;
    the foreachBatch path is the reference-faithful unbounded one.
    """
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy(
            "dataset_id",
            F.window("ts", f"{duration_s} seconds").alias("win"),
        )
        .agg(
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.sum("value").alias("sum_values"),
            F.count("value").alias("count"),
        )
        .select(
            "dataset_id",
            F.unix_timestamp(F.col("win.start")).alias("bin_ts"),
            "min_value",
            "max_value",
            "sum_values",
            "count",
        )
    )


def streaming_dedup(
    points_stream: DataFrame,
    watermark: str = "10 seconds",
    keys: list[str] | None = None,
) -> DataFrame:
    """ST5 done natively in Structured Streaming: drop duplicate
    (dataset_id, ts) points across micro-batches with BOUNDED state.

    The reference double-counts duplicate puts (an acknowledged gap,
    src/index.py:39-40); the batch path dedups inside `put`. This is
    the streaming-correct form: dropDuplicatesWithinWatermark keeps a
    key seen-set only until the watermark passes the event time, so
    state is O(rate x watermark), not O(history) — the difference
    between a pipeline that runs for a year and one that OOMs.
    """
    return points_stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["dataset_id", "ts"]
    )


def streaming_sessions(
    points_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 seconds",
) -> DataFrame:
    """ST4: event-time session windows (absent in the reference, free
    in Structured Streaming): sessions close after `gap` of silence
    per dataset. Batch backfill equivalent: plans/extended_queries.py
    sessionize_events (lag + running sum)."""
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy("dataset_id", F.session_window("ts", gap).alias("win"))
        .agg(
            F.count("value").alias("n_points"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "dataset_id",
            F.unix_timestamp(F.col("win.start")).alias("session_start"),
            F.unix_timestamp(F.col("win.end")).alias("session_end"),
            "n_points",
            "min_value",
            "max_value",
        )
    )


def start_metrics_stream(
    store: TelemetryStore,
    checkpoint_dir: str,
    dataset_prefix: str = "tlm.metrics",
    sample_hz: int = 1,
    flush_seconds: float = 10.0,
) -> StreamingQuery:
    """S12/A9: self-telemetry — a rate source sampled at `sample_hz`,
    flushed into the store every `flush_seconds` (the reference's
    poll-1s/flush-10s metrics loop, src/metrics/loop.py:59-61).

    Each micro-batch snapshots the store's REAL num_puts/num_gets
    counters (store.flush_metrics) — one point per metric series per
    flush, stamped with the batch's latest tick time. The rate source
    supplies the cadence; the counters supply the values — the same
    split as the reference's sampler thread vs counter state.
    """
    spark = store.spark
    rate = spark.readStream.format("rate").option("rowsPerSecond", sample_hz).load()
    ticks = rate.select(F.col("timestamp").alias("ts"))

    def _sink(batch: DataFrame, batch_id: int) -> None:
        last = batch.agg(F.max("ts").alias("ts")).collect()[0].ts
        if last is not None:  # empty ticks -> nothing to stamp
            store.flush_metrics(last, prefix=dataset_prefix)

    return (
        ticks.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{flush_seconds} seconds")
        .start()
    )


def streaming_ohlc(
    points_stream: DataFrame,
    duration_s: int,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming OHLC bars — the live companion of the batch
    ts_ohlc_bars query: per (series, event-time window), open/close =
    first/last value by (ts, value) order plus high/low/count. The
    order key includes value only to break exact-timestamp ties
    deterministically; min_by/max_by are plain declarative aggregates,
    so the window state is four doubles + a count per open bar
    (bounded by the watermark), never the raw points."""
    key = F.struct("ts", "value")
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy(
            "dataset_id",
            F.window("ts", f"{duration_s} seconds").alias("win"),
        )
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count("value").alias("n_points"),
        )
        .select(
            "dataset_id",
            F.unix_timestamp(F.col("win.start")).alias("bin_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_points",
        )
    )
