"""Serving observability (operators/serve_metrics.py, VERDICT r12
"Next round" #5): depth-cap events and thin filtered results must be
countable and publishable as first-class telemetry series — at scale
a silently-thin result is an operational incident, not a driver-log
warning.
"""

import datetime as dt
import warnings

import pytest
from pyspark.sql import functions as F

from open_tlm_spark.operators.ivf_store import (
    IVFIndex,
    IVFPQIndex,
    topk_rerank,
)
from open_tlm_spark.operators.serve_metrics import SERVE_METRICS
from open_tlm_spark.operators.similarity import as_double
from open_tlm_spark.session import load_tables

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def serving_pair(spark, tmp_path_factory):
    load_tables(spark, SF)
    emb = spark.table("embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("cvec"),
    )
    root = tmp_path_factory.mktemp("servemetrics")
    attrs = emb.select("vec_id", (F.col("vec_id") % 64).alias("bucket"))
    flat = IVFIndex.build(
        spark, emb, str(root / "flat"), centroids=cents, attrs=attrs
    )
    pq = IVFPQIndex.build(spark, emb, str(root / "pq"), centroids=cents)
    return pq, flat, emb


def _queries(emb, lo=8, hi=12):
    return emb.filter(
        (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_starved_batch_increments_thin_counter(spark, serving_pair):
    """The serve-side face of the starvation mode: a filtered rerank
    that under-returns (auto_depth off, ~1/64-selective predicate)
    must show up as a thin batch with the row shortfall counted —
    and the counters must move only AFTER the caller's action runs
    (the observation is harvested, not a second job)."""
    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    q = _queries(emb)
    res = topk_rerank(
        pq, flat, q, k=5, nprobe=8, where="bucket = 3", auto_depth=False
    )
    assert SERVE_METRICS.snapshot().get("rerank.thin_batches", 0) == 0
    rows = res.collect()
    assert len(rows) < 20  # the starved mode this counter exists for
    snap = SERVE_METRICS.snapshot()
    assert snap.get("rerank.thin_batches", 0) == 1
    assert snap.get("rerank.missing_rows", 0) >= 20 - len(rows)
    assert snap.get("rerank.result_rows", 0) == len(rows)
    assert snap.get("rerank.batches", 0) == 1
    assert snap.get("rerank.filtered_batches", 0) == 1


def test_healthy_batch_is_not_thin(spark, serving_pair):
    """A default-args filtered rerank returns full k — the thin
    counter must NOT move, and queries_served must reflect the
    batch."""
    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    q = _queries(emb)
    rows = topk_rerank(
        pq, flat, q, k=5, nprobe=8, where="bucket = 3"
    ).collect()
    assert len(rows) == 20
    snap = SERVE_METRICS.snapshot()
    assert snap.get("rerank.thin_batches", 0) == 0
    assert snap.get("rerank.missing_rows", 0) == 0
    assert snap.get("rerank.result_rows", 0) == 20
    assert snap.get("rerank.queries_served", 0) == 4


def test_depth_cap_event_is_counted(spark, serving_pair):
    """The depth-cap warning's serve-side twin: a capped batch
    increments rerank.depth_capped_batches at the moment the cap
    decision is made (driver-side, before any action)."""
    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    with pytest.warns(UserWarning, match="capped"):
        topk_rerank(
            pq,
            flat,
            _queries(emb),
            k=5,
            nprobe=8,
            where="bucket = 3",
            max_r=10,
        )
    assert (
        SERVE_METRICS.snapshot().get("rerank.depth_capped_batches", 0) == 1
    )


def test_flush_publishes_queryable_series(spark, serving_pair, tmp_path):
    """flush_to_store publishes every counter as a telemetry series
    through the store's normal ingest — the same pattern as the
    metrics loop's num_puts/num_gets — so 'how often did the cap
    bind today' is a store query, not a log grep."""
    from open_tlm_spark.store.tsdb import TelemetryStore

    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        topk_rerank(
            pq,
            flat,
            _queries(emb),
            k=5,
            nprobe=8,
            where="bucket = 3",
            max_r=10,
        ).collect()
    store = TelemetryStore(spark, str(tmp_path / "store"))
    ts = dt.datetime(2024, 6, 1, 12, 0, tzinfo=dt.timezone.utc)
    n = SERVE_METRICS.flush_to_store(store, ts)
    assert n >= 4
    pts = store.read_window(
        "tlm.serve.rerank.depth_capped_batches",
        dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc),
        dt.datetime(2024, 6, 2, tzinfo=dt.timezone.utc),
        fidelity=None,
    )
    assert pts.column_names == ["dataset_id", "us", "value"]
    assert pts.column("value").to_pylist() == [1.0]


def test_never_collected_plan_stays_pending(spark, serving_pair):
    """A plan that is built but never materialized must neither hang
    the harvest (the non-blocking contract) nor contribute rows."""
    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    topk_rerank(pq, flat, _queries(emb), k=5, nprobe=2)  # never collected
    snap = SERVE_METRICS.snapshot()  # must return immediately
    assert snap.get("rerank.batches", 0) == 1
    assert snap.get("rerank.result_rows", 0) == 0


def test_maintenance_tick_flushes_serve_series(
    spark, serving_pair, tmp_path
):
    """The serving example's maintenance tick is the flush point: a
    run_maintenance call with a metrics_store publishes the counters
    even when no compaction is due."""
    from examples.ivf_serving_pipeline import run_maintenance
    from open_tlm_spark.store.tsdb import TelemetryStore

    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    topk_rerank(pq, flat, _queries(emb), k=5, nprobe=2).collect()
    store = TelemetryStore(spark, str(tmp_path / "mstore"))
    ran = run_maintenance(flat, pq, metrics_store=store)
    assert ran is False  # no intake epochs pending — flush still runs
    got = {
        r.dataset_id
        for r in spark.read.parquet(store.points_path)
        .select("dataset_id")
        .distinct()
        .collect()
    }
    assert "tlm.serve.rerank.batches" in got


def test_filtered_topk_thin_batch_counted(spark, serving_pair):
    """The flat/SQ8 filtered probes carry the same thin-batch
    observability under the "topk." prefix: a 1/64-selective filter
    at nprobe=1 leaves most probed cells short of k matches — the
    shortfall must be counted with the exact requested-query count
    (zero-row queries included); unfiltered probes stay
    un-instrumented."""
    pq, flat, emb = serving_pair
    SERVE_METRICS.reset()
    q = _queries(emb)
    rows = flat.topk(q, k=5, nprobe=1, where="bucket = 3").collect()
    snap = SERVE_METRICS.snapshot()
    assert snap.get("topk.filtered_batches", 0) == 1
    assert snap.get("topk.queries_requested", 0) == 4
    assert snap.get("topk.result_rows", 0) == len(rows)
    if len(rows) < 20:
        assert snap.get("topk.thin_batches", 0) == 1
        assert snap.get("topk.missing_rows", 0) == 20 - len(rows)
    # unfiltered: no new observation, no topk counters move
    flat.topk(q, k=5, nprobe=1).collect()
    snap2 = SERVE_METRICS.snapshot()
    assert snap2.get("topk.filtered_batches", 0) == 1
    assert snap2.get("topk.result_rows", 0) == len(rows)
