"""TelemetryStore.put: a fixed Spark-job budget per put, exact
touched rollup partitions across a UTC midnight, idempotent replay of
a completed put, the known gap in replaying a failed one, and the
store's own small frames built from Arrow."""

import contextlib
import datetime as dt
import itertools
import os

import pytest

from open_tlm_spark.operators.rollup import aggregate_points
from open_tlm_spark.schemas import FIDELITIES, POINTS_SCHEMA
from open_tlm_spark.store import TelemetryStore

UTC = dt.timezone.utc
LO = dt.datetime(2023, 12, 31, tzinfo=UTC)
HI = dt.datetime(2024, 1, 4, tzinfo=UTC)
_group_ids = itertools.count()


@contextlib.contextmanager
def job_group(spark):
    """Tag the Spark jobs run inside the block; yields a function that
    returns their ids."""
    sc = spark.sparkContext
    group = f"test-store-put-{next(_group_ids)}"
    sc.setJobGroup(group, "TelemetryStore.put under test")
    try:
        yield lambda: sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def points(spark, ids, start, n, step_s):
    rows = [
        (sid, start + dt.timedelta(seconds=i * step_s), float(i % 17) + j / 8)
        for j, sid in enumerate(ids)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, POINTS_SCHEMA)


def test_put_job_budget(spark, tmp_path):
    """A put into a non-empty store runs a fixed handful of Spark jobs
    (11), with one rollup write for all six levels. A put that brings
    a new series adds the catalog rewrite's two jobs (a checkpoint and
    a write)."""
    store = TelemetryStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    store.put(points(spark, ["budget.a", "budget.b"], t0, 500, 0.1))
    counts = []
    for k, new in enumerate((["budget.new0"], ["budget.new1"], [])):
        batch = points(
            spark,
            ["budget.a", "budget.b", *new],
            t0 + dt.timedelta(minutes=5 * (k + 1)),
            500,
            0.1,
        )
        with job_group(spark) as jobs:
            store.put(batch)
            counts.append(len(jobs()))
    assert 0 < counts[2] <= 11, counts
    assert counts[0] == counts[1] <= counts[2] + 2, counts


def _levels_match_raw(store):
    """Every stored level equals aggregate_points over every stored raw
    point: counts and min/max exact, sums within rel 1e-9."""
    raw = store.get(None, LO, HI, fidelity=None)
    for d in FIDELITIES:
        want = {
            (r.dataset_id, r.bin_ts): r
            for r in aggregate_points(raw, d).collect()
        }
        got = {
            (r.dataset_id, r.bin_ts): r
            for r in store.get(None, LO, HI, fidelity=d).collect()
        }
        assert got.keys() == want.keys(), d
        for k, w in want.items():
            g = got[k]
            assert (g["count"], g.min_value, g.max_value) == (
                w["count"],
                w.min_value,
                w.max_value,
            ), (d, k)
            assert g.sum_values == pytest.approx(w.sum_values, rel=1e-9), (d, k)


def _bin_date_dirs(store, d):
    level = os.path.join(store.rollups_path, f"level={d}")
    return sorted(n for n in os.listdir(level) if n.startswith("bin_date="))


def test_put_merges_bins_that_start_a_day_earlier_and_replays(spark, tmp_path):
    """Midnight 2024-01-02 UTC lies inside bins that start on
    2024-01-01 at 1000 s (23:50:00), 10000 s (23:00:00) and 100000 s
    (09:06:40). The first put fills those bins from the earlier day;
    later puts bring next-day points and must merge them into the
    earlier-dated partitions, not overwrite them."""
    store = TelemetryStore(spark, str(tmp_path))
    ids = ["mid.a", "mid.b"]
    jan1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    store.put(points(spark, ids, jan1 + dt.timedelta(hours=9.5), 600, 87.0))
    # 23:40 .. 06:25 the next day, overlapping the first put
    straddle = points(spark, ids, jan1 + dt.timedelta(hours=23, minutes=40), 400, 61.0)
    store.put(straddle)
    _levels_match_raw(store)
    assert sorted(os.listdir(tmp_path)) == ["datasets", "points", "rollups"]
    # the 100000 s bin holding every point so far runs to 01-02 12:53
    assert _bin_date_dirs(store, 100_000) == ["bin_date=2024-01-01"]
    for d in (1000, 10_000):
        assert _bin_date_dirs(store, d) == [
            "bin_date=2024-01-01",
            "bin_date=2024-01-02",
        ]

    n_raw = store.get(None, LO, HI, None).count()
    store.put(straddle)  # replay: nothing new
    assert store.get(None, LO, HI, None).count() == n_raw
    _levels_match_raw(store)

    # Points of 2024-01-02 only, at 00:05 (1000 s bin from 23:50),
    # 00:30 (10000 s bin from 23:00) and 06:00 (100000 s bin from
    # 09:06:40): every touched coarse partition is dated the day
    # before any point of the batch.
    late = spark.createDataFrame(
        [
            (sid, jan1 + dt.timedelta(days=1, minutes=m, microseconds=7), v)
            for sid in ids
            for m, v in ((5, -3.0), (30, 40.0), (360, 0.5))
        ],
        POINTS_SCHEMA,
    )
    store.put(late)
    assert store.get(None, LO, HI, None).count() == n_raw + 6
    _levels_match_raw(store)

    store.compact()  # rewrites both tables' files, keeps every row
    assert store.get(None, LO, HI, None).count() == n_raw + 6
    _levels_match_raw(store)
    assert _bin_date_dirs(store, 100_000) == ["bin_date=2024-01-01"]


@pytest.mark.xfail(
    strict=True,
    reason="a put that fails after the raw append loses its batch from "
    "every rollup level on replay: the anti-join drops the stored points "
    "(ROADMAP item 2, per-put commit marker)",
)
def test_replay_after_failed_rollup_merge(spark, tmp_path):
    """A put that fails after the raw append, then is replayed, leaves
    every level equal to aggregate_points over raw."""
    store = TelemetryStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    store.put(points(spark, ["crash.a"], t0, 20, 0.5))
    batch = points(spark, ["crash.a"], t0 + dt.timedelta(seconds=10), 20, 0.5)
    merge = store._merge_rollups

    def crash(*args):
        store._merge_rollups = merge
        raise RuntimeError("killed after the raw append")

    store._merge_rollups = crash
    with pytest.raises(RuntimeError):
        store.put(batch)
    store.put(batch)  # the replay
    assert store.get(None, LO, HI, None).count() == 40
    _levels_match_raw(store)


def test_internal_frames_scan_arrow_not_python_rows(spark, tmp_path, monkeypatch):
    """The frames the store builds itself (the metrics flush, the serve
    counters' flush, a new comment) come from Arrow tables: their
    executed plans scan a local table, never a Python RDD (Scan
    ExistingRDD), so no Python worker reads them. The flushed points
    keep their instants and values."""
    from open_tlm_spark.operators.serve_metrics import ServeMetrics
    from open_tlm_spark.store import CommentStore

    frames = []
    store = TelemetryStore(spark, str(tmp_path / "store"))
    put = store.put

    def capture_put(batch, _count=True):
        frames.append(batch)
        put(batch, _count)

    monkeypatch.setattr(store, "put", capture_put)
    store.num_puts, store.num_gets = 3, 4
    ts = dt.datetime(2024, 1, 1, 12)  # naive = UTC
    store.flush_metrics(ts)
    counters = ServeMetrics()
    counters.inc("rerank.batches", 2.0)
    assert counters.flush_to_store(store, ts.replace(tzinfo=UTC)) == 1

    comments = CommentStore(spark, str(tmp_path / "comments"))
    comments.create(ts, "first", [])
    write = comments._write
    monkeypatch.setattr(
        comments, "_write", lambda df: (frames.append(df), write(df))[1]
    )
    comments.create(ts, "second", ["a"])

    assert len(frames) == 3
    for df in frames:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    us = int(ts.replace(tzinfo=UTC).timestamp()) * 10**6
    got = store.read_window(None, ts, ts, fidelity=None)
    assert list(zip(*(c.to_pylist() for c in got.columns))) == [
        ("tlm.metrics.num_gets", us, 4.0),
        ("tlm.metrics.num_puts", us, 3.0),
        ("tlm.serve.rerank.batches", us, 2.0),
    ]
    stored = comments._read().orderBy("id").selectExpr("text", "unix_micros(ts)")
    assert [tuple(r) for r in stored.collect()] == [("first", us), ("second", us)]
