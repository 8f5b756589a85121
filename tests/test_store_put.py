"""TelemetryStore.put: a fixed Spark-job budget per put (none for an
Arrow batch, one collect for a DataFrame), exact touched rollup
partitions across a UTC midnight, idempotent replay of a completed
put, the known gap in replaying a failed one, the same stored result
from an Arrow batch as from a DataFrame, on one Spark partition or
several (fixed batches and generated put sequences), a store written
by both Spark and pyarrow, and the store's own small frames built
from Arrow."""

import contextlib
import datetime as dt
import itertools
import os
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from open_tlm_spark.operators.rollup import aggregate_points
from open_tlm_spark.schemas import FIDELITIES, POINTS_SCHEMA
from open_tlm_spark.store import TelemetryStore
from open_tlm_spark.store.tsdb import _ROLLUP_COLS, _epoch_us, _points_table

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


FRONTS = ("dataframe", "arrow")


def as_front(spark, table, front):
    """An Arrow batch as put takes it on the given front end:
    "partitioned" is a DataFrame spread over three Spark partitions."""
    if front == "arrow":
        return table
    df = spark.createDataFrame(table)
    return df.repartition(3) if front == "partitioned" else df


def _batch(rows):
    """(dataset_id, datetime, value) rows as an Arrow batch; a value
    may be None."""
    ids, stamps, values = zip(*rows)
    return _points_table(ids, [_epoch_us(t) for t in stamps], values)


def points(spark, ids, start, n, step_s, front="dataframe"):
    rows = [
        (sid, start + dt.timedelta(seconds=i * step_s), float(i % 17) + j / 8)
        for j, sid in enumerate(ids)
        for i in range(n)
    ]
    if front == "dataframe":
        return spark.createDataFrame(rows, POINTS_SCHEMA)
    return _batch(rows)


def _put_job_counts(spark, tmp_path, front):
    """Spark jobs of three puts into a non-empty store: two that each
    bring a new series, then one that brings none."""
    store = TelemetryStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    store.put(points(spark, ["budget.a", "budget.b"], t0, 500, 0.1, front))
    counts = []
    for k, new in enumerate((["budget.new0"], ["budget.new1"], [])):
        batch = points(
            spark,
            ["budget.a", "budget.b", *new],
            t0 + dt.timedelta(minutes=5 * (k + 1)),
            500,
            0.1,
            front,
        )
        with job_group(spark) as jobs:
            store.put(batch)
            counts.append(len(jobs()))
    return counts


def test_put_job_budget(spark, tmp_path):
    """A DataFrame put runs one Spark job, its toArrow() collect; the
    rest runs on the driver as for an Arrow batch, with or without a
    new series. An empty DataFrame (an empty streaming micro-batch)
    runs the same one collect and writes no directory."""
    assert _put_job_counts(spark, tmp_path / "store", "dataframe") == [1, 1, 1]
    empty = TelemetryStore(spark, str(tmp_path / "empty"))
    batch = points(spark, ["budget.a"], dt.datetime(2024, 1, 1), 10, 1.0)
    with job_group(spark) as jobs:
        empty.put(batch.filter(F.col("value") > 100))
        assert len(jobs()) == 1
    assert not os.path.exists(empty.base)


def test_put_job_budget_arrow(spark, tmp_path):
    """From an Arrow batch, everything runs on the driver: validation,
    the dedup against the stored keys and the rollup merge read with
    pyarrow, and pyarrow writes the raw points, the rollups and the
    catalog. A put runs no Spark job, with or without a new series."""
    assert _put_job_counts(spark, tmp_path, "arrow") == [0, 0, 0]


def test_arrow_put_writes_few_files_per_partition(spark, tmp_path):
    """createDataFrame splits an Arrow table above
    spark.sql.execution.arrow.localRelationThreshold into one partition
    per maxRecordsPerBatch rows. Lowered here so a 10k-point batch
    splits 100 ways, an Arrow put must still write at most
    defaultParallelism files into each partition it touches, raw and
    rollup."""
    conf = {
        "spark.sql.execution.arrow.localRelationThreshold": "1",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "100",
    }
    saved = {k: spark.conf.get(k) for k in conf}
    store = TelemetryStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    batch = points(spark, [f"few.{i}" for i in range(20)], t0, 500, 0.1, "arrow")
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        store.put(batch)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    limit = spark.sparkContext.defaultParallelism
    for table in (store.points_path, store.rollups_path):
        for root, _, names in os.walk(table):
            files = [n for n in names if n.endswith(".parquet")]
            assert len(files) <= limit, (root, len(files))
    _levels_match_raw(store)


def _bins(rows):
    return {(r.dataset_id, r.bin_ts): r for r in rows}


def _levels_match_raw(store):
    """Every stored level equals aggregate_points over every stored raw
    point: counts and min/max exact, sums within rel 1e-9. Every bin is
    stored in the partition of its start's UTC day, where a narrow
    read looks for it."""
    day0 = dt.date(1970, 1, 1)
    for r in store._read(store.rollups_path).select("bin_ts", "bin_date").collect():
        assert r.bin_date == day0 + dt.timedelta(days=r.bin_ts // 86_400), r
    raw = store.get(None, LO, HI, fidelity=None)
    for d in FIDELITIES:
        _same_bins(
            _bins(store.get(None, LO, HI, fidelity=d).collect()),
            _bins(aggregate_points(raw, d).collect()),
            d,
        )


def _same_bins(got, want, d):
    """Two levels' bins: the same keys, counts and min/max exact, sums
    within rel 1e-9 (float sums folded in another order)."""
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


# Ids the id rule rejects: Java's $ would accept the first four (a
# trailing line terminator), the reference's re.fullmatch does not.
BAD_IDS = ["abc\n", "abc\r\n", "abc\x85", "abc\u2028", "a b", "a..b", "", "x/y"]


def _raw(store):
    """Every stored raw point as (dataset_id, epoch µs, value), sorted;
    the range reaches back before the epoch."""
    lo = dt.datetime(1969, 1, 1, tzinfo=UTC)
    got = store.read_window(None, lo, HI, fidelity=None)
    return list(zip(*(c.to_pylist() for c in got.columns)))


def _front_batches():
    """Three batches: points across the 2024-01-02 UTC midnight mixed
    with rows validation drops and in-batch duplicates; its exact
    replay; then a new series, a partial replay and next-day points
    whose coarse bins start the day before."""
    jan1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    night = jan1 + dt.timedelta(hours=23, minutes=40)
    good = [
        (sid, night + dt.timedelta(seconds=37 * i, microseconds=i), float(i % 23) - j)
        for j, sid in enumerate(["eq.a", "eq.b"])
        for i in range(120)
    ]
    h = dt.timedelta(hours=1)
    first = good + [
        ("eq.a", jan1 + h, float("nan")),
        ("eq.a", jan1 + 2 * h, None),
        ("eq.a", jan1 + 3 * h, float("inf")),
        ("eq.b", jan1 + 3 * h, float("-inf")),
        ("eq.a", dt.datetime(1969, 12, 31, 23, 59, 59, tzinfo=UTC), 1.0),
        *[(bad, jan1 + 4 * h, 2.0) for bad in BAD_IDS],
        *good[:30],
    ]
    jan2 = jan1 + dt.timedelta(days=1)
    later = (
        [("eq.c", jan2 + dt.timedelta(seconds=3 * i), 0.25 * i) for i in range(50)]
        + good[100:120]
        + [
            ("eq.b", jan2 + dt.timedelta(minutes=m, microseconds=7), v)
            for m, v in ((5, -3.0), (30, 40.0), (360, 0.5))
        ]
        + [("eq.c", jan2, 0.0)]
    )
    return [first, first, later]


def test_arrow_and_dataframe_fronts_store_the_same(spark, tmp_path):
    """The same batches put as Arrow tables into one store, as
    DataFrames into another and as DataFrames spread over three Spark
    partitions into a third leave the same raw points and catalog,
    exactly, and the same rollup levels: counts and min/max exact, sums
    within rel 1e-9 (rows collected from several partitions arrive in
    another order, so float sums fold in another order). NaN, null,
    pre-epoch points and every id of BAD_IDS are dropped; duplicates,
    in a batch or already stored, are stored once. Dates come from
    epoch integers, whatever zone the collected timestamps carry, so a
    non-UTC host must not move a partition either."""
    fronts = (*FRONTS, "partitioned")
    stores = {f: TelemetryStore(spark, str(tmp_path / f)) for f in fronts}
    for rows in _front_batches():
        for front, store in stores.items():
            store.put(as_front(spark, _batch(rows), front))
    arrow = stores["arrow"]
    raw = _raw(arrow)
    assert len(raw) == 240 + 2 + 50 + 3
    assert {r[0] for r in raw} == {"eq.a", "eq.b", "eq.c"}
    for store in stores.values():
        assert _raw(store) == raw
        assert store.list_datasets() == ["eq.a", "eq.b", "eq.c"]
        for d in FIDELITIES:
            _same_bins(
                _bins(store.get(None, LO, HI, fidelity=d).collect()),
                _bins(arrow.get(None, LO, HI, fidelity=d).collect()),
                d,
            )
        _levels_match_raw(store)
        assert _bin_date_dirs(store, 10_000) == [
            "bin_date=2024-01-01",
            "bin_date=2024-01-02",
        ]


def _same_reads(store, want):
    """Spark's get() (raw and every level) returns the same rows from
    both stores, and not none."""
    for fid in (None, *FIDELITIES):
        rows = [s.get(None, LO, HI, fidelity=fid).collect() for s in (store, want)]
        assert rows[0] == rows[1] and rows[0], fid


def _check_arrow_files(store):
    """The files pyarrow wrote keep Spark's layout: ts stored as INT96,
    dataset_id statistics set, rows sorted by (dataset_id, time), no
    partition column inside a file; no hidden staging directory or
    temporary file is left. Returns how many such files there are."""
    assert sorted(os.listdir(store.base)) == ["datasets", "points", "rollups"]
    n = 0
    for table, cols in (
        (store.points_path, ["dataset_id", "ts", "value"]),
        (store.rollups_path, list(_ROLLUP_COLS)),
    ):
        for root, dirs, names in os.walk(table):
            assert not [d for d in dirs if d.startswith((".", "_"))], root
            for name in names:
                if name.startswith((".", "_")):
                    continue
                f = pq.ParquetFile(os.path.join(root, name))
                if not f.metadata.created_by.startswith("parquet-cpp"):
                    continue  # written by Spark
                n += 1
                assert f.schema_arrow.names == cols, root
                if cols[1] == "ts":
                    assert f.schema.column(1).physical_type == "INT96"
                for g in range(f.metadata.num_row_groups):
                    assert f.metadata.row_group(g).column(0).is_stats_set
                got = f.read(columns=cols[:2])
                keys = list(zip(*(c.to_pylist() for c in got.columns)))
                assert keys == sorted(keys), root
    return n


def test_mixed_writer_store(spark, tmp_path):
    """A store filled by a DataFrame put, then Arrow puts, then compact()
    (a Spark write) and expire_raw, then one more Arrow put, answers
    Spark's get() (raw and every level) with the same rows as a store
    that took the same puts as DataFrames, after each step. The files
    pyarrow wrote keep Spark's physical layout."""
    from open_tlm_spark.store.retention import expire_raw

    jan1 = dt.datetime(2024, 1, 1, tzinfo=UTC)
    first, replay, later = _front_batches()
    # new points in the partitions the DataFrame put wrote
    beside = [
        (sid, jan1 + dt.timedelta(hours=23, minutes=41, seconds=7 * i), 0.5 * i)
        for sid in ("eq.a", "eq.b")
        for i in range(40)
    ]
    after = [("eq.c", jan1 + dt.timedelta(days=1, hours=5, seconds=i), 1.0) for i in range(9)]
    mixed = TelemetryStore(spark, str(tmp_path / "mixed"))
    frame = TelemetryStore(spark, str(tmp_path / "frame"))

    def put(rows, front):
        mixed.put(as_front(spark, _batch(rows), front))
        frame.put(as_front(spark, _batch(rows), "dataframe"))

    put(first, "dataframe")
    for rows in (replay, later, beside):
        put(rows, "arrow")
        _same_reads(mixed, frame)
    assert _check_arrow_files(mixed) > 0
    _levels_match_raw(mixed)
    for store in (mixed, frame):
        store.compact()
    _same_reads(mixed, frame)
    expired = [expire_raw(s, jan1 + dt.timedelta(days=1)) for s in (mixed, frame)]
    assert expired[0] == expired[1] > 0
    _same_reads(mixed, frame)
    put(after, "arrow")
    _same_reads(mixed, frame)
    assert _check_arrow_files(mixed) > 0
    assert mixed.list_datasets() == frame.list_datasets() == ["eq.a", "eq.b", "eq.c"]


_MIDNIGHT_US = _epoch_us(dt.datetime(2024, 1, 2, tzinfo=UTC))
_DAY_US = 86_400 * 10**6

# Distinct (dataset_id, µs offset from the 2024-01-02 UTC midnight,
# value) points: a few ids, instants within a day of the midnight or
# seconds from it (so fine bins hold several points), and values on a
# quarter grid, so every sum is exact whatever order it is folded in.
_pool = st.lists(
    st.tuples(
        st.sampled_from(["h.a", "h.b", "h.c"]),
        st.one_of(
            st.integers(-_DAY_US, _DAY_US), st.integers(-3 * 10**6, 3 * 10**6)
        ),
        st.integers(-400, 400).map(lambda q: q / 4),
    ),
    min_size=4,
    max_size=40,
    unique_by=lambda p: p[:2],
)


@st.composite
def _put_sequences(draw):
    """2-4 batches from one pool of points. Each of at least two
    batches brings its own slice of the pool (new points, which for a
    later batch fall into coarse bins already stored), points of
    earlier batches (a partial overlap) and repeats of its own
    (in-batch duplicates); an exact replay of an earlier batch may
    follow any of them."""
    pool = draw(_pool)
    n = draw(st.integers(2, 4))
    seq = []
    for k in range(n):
        fresh = pool[k * len(pool) // n : (k + 1) * len(pool) // n]
        old = [p for batch in seq for p in batch]
        seq.append(
            fresh
            + draw(st.lists(st.sampled_from(old or fresh), max_size=4))
            + draw(st.lists(st.sampled_from(fresh), max_size=2))
        )
        if len(seq) + n - k - 1 < 4 and draw(st.booleans()):
            seq.append(draw(st.sampled_from(seq)))
    return seq


def _window_matches_get(store):
    """read_window on a warm store equals get() field for field, raw
    (as epoch µs) and at every level, and list_datasets equals
    datasets()."""
    assert store.list_datasets() == [r.dataset_id for r in store.datasets().collect()]
    for fid in (None, *FIDELITIES):
        got = store.read_window(None, LO, HI, fidelity=fid)
        want = store.get(None, LO, HI, fidelity=fid)
        if fid is None:
            want = want.select("dataset_id", F.unix_micros("ts").alias("us"), "value")
        assert list(zip(*(c.to_pylist() for c in got.columns))) == [
            tuple(r) for r in want.collect()
        ], fid


@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
@given(batches=_put_sequences())
def test_fronts_agree_on_generated_put_sequences(spark, tmp_path, batches):
    """A generated sequence of puts, as Arrow tables into one store and
    as DataFrames into another: both leave the same raw points, every
    level equals aggregate_points over raw and the other store's, and,
    after every put, the warm store's read_window equals get()."""
    root = tempfile.mkdtemp(dir=tmp_path)
    stores = {f: TelemetryStore(spark, os.path.join(root, f)) for f in FRONTS}
    for store in stores.values():
        store.warm()
    for rows in batches:
        ids, offsets, values = zip(*rows)
        table = _points_table(ids, [_MIDNIGHT_US + o for o in offsets], values)
        for front, store in stores.items():
            store.put(as_front(spark, table, front))
            _window_matches_get(store)
    arrow, frame = stores["arrow"], stores["dataframe"]
    assert _raw(arrow) == _raw(frame)
    assert len(_raw(arrow)) == len({r[:2] for rows in batches for r in rows})
    ids = sorted({r[0] for rows in batches for r in rows})
    assert arrow.list_datasets() == frame.list_datasets() == ids
    for d in FIDELITIES:
        _same_bins(
            _bins(arrow.get(None, LO, HI, fidelity=d).collect()),
            _bins(frame.get(None, LO, HI, fidelity=d).collect()),
            d,
        )
    for store in stores.values():
        _levels_match_raw(store)




@pytest.mark.parametrize("front", FRONTS)
def test_conflicting_duplicates_keep_one_value(spark, tmp_path, front):
    """A key sent three times in one batch with different values is
    stored once with the first of them in batch order, and every level
    counts it once. A later batch with a new value for a stored key
    adds nothing."""
    store = TelemetryStore(spark, str(tmp_path))
    t = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    us = _epoch_us(t)
    rows = [
        ("dup.a", t, 1.0),
        ("dup.a", t + dt.timedelta(seconds=1), 5.0),
        ("dup.a", t, 2.0),
        ("dup.b", t, 3.0),
        ("dup.a", t, 4.0),
    ]
    store.put(as_front(spark, _batch(rows), front))
    raw = _raw(store)
    kept = [v for sid, u, v in raw if (sid, u) == ("dup.a", us)]
    assert len(raw) == 3 and kept == [1.0]
    _levels_match_raw(store)
    store.put(as_front(spark, _batch([("dup.a", t, 9.0)]), front))
    assert _raw(store) == raw
    _levels_match_raw(store)


@pytest.mark.xfail(
    strict=True,
    reason="a put that fails after the raw append loses its batch from "
    "every rollup level on replay: the anti-join drops the stored points "
    "(ROADMAP item 3, a redo log of each put)",
)
@pytest.mark.parametrize("front", FRONTS)
def test_replay_after_failed_rollup_merge(spark, tmp_path, front):
    """A put that fails after the raw append, then is replayed, leaves
    every level equal to aggregate_points over raw. The crash is
    raised in the rollup merge, which both fronts call."""
    store = TelemetryStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, 12, tzinfo=UTC)
    store.put(points(spark, ["crash.a"], t0, 20, 0.5, front))
    batch = points(spark, ["crash.a"], t0 + dt.timedelta(seconds=10), 20, 0.5, front)
    merge = store._merge_rollups_arrow

    def crash(*args):
        store._merge_rollups_arrow = merge
        raise RuntimeError("killed after the raw append")

    store._merge_rollups_arrow = crash
    with pytest.raises(RuntimeError):
        store.put(batch)
    store.put(batch)  # the replay
    assert store.get(None, LO, HI, None).count() == 40
    _levels_match_raw(store)


def test_internal_frames_scan_arrow_not_python_rows(spark, tmp_path, monkeypatch):
    """An Arrow put builds no Spark frame: the puts of the metrics flush
    and the serve counters' flush (which hand put an Arrow batch) run
    with a store whose Spark session fails on any use. The frames the
    store still builds itself come from Arrow tables: their executed
    plans scan a local table, never a Python RDD (Scan ExistingRDD), so
    no Python worker reads them. They are an empty store's stand-ins
    (get(), datasets()) and the first and second new comment (the
    first unions the empty comments stand-in). The flushed points keep
    their instants and values."""
    from open_tlm_spark.operators.serve_metrics import ServeMetrics
    from open_tlm_spark.store import CommentStore

    store = TelemetryStore(spark, str(tmp_path / "store"))
    frames = [
        store.get(None, LO, HI, fidelity=None),
        store.get(None, LO, HI, fidelity=10),
        store.datasets(),
    ]
    batches = []
    put = store.put

    def capture_put(batch, _count=True):
        batches.append(batch)
        put(batch, _count)

    class NoSession:
        def __getattr__(self, name):
            raise AssertionError(f"an Arrow put used the Spark session ({name})")

    monkeypatch.setattr(store, "put", capture_put)
    monkeypatch.setattr(store, "spark", NoSession())
    store.num_puts, store.num_gets = 3, 4
    ts = dt.datetime(2024, 1, 1, 12)  # naive = UTC
    store.flush_metrics(ts)
    counters = ServeMetrics()
    counters.inc("rerank.batches", 2.0)
    assert counters.flush_to_store(store, ts.replace(tzinfo=UTC)) == 1
    assert [type(b) for b in batches] == [pa.Table, pa.Table]
    monkeypatch.setattr(store, "spark", spark)

    comments = CommentStore(spark, str(tmp_path / "comments"))
    write = comments._write
    monkeypatch.setattr(
        comments, "_write", lambda df: (frames.append(df), write(df))[1]
    )
    comments.create(ts, "first", [])
    comments.create(ts, "second", ["a"])

    assert len(frames) == 5
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
