"""Golden tests ported from the reference unit suite
(/root/reference/test/test_index.py) — same inputs, same expected
min/mean/max per fidelity. These define the aggregation spec
(FIXTURES.md 'Golden scenarios').

Documented deviations from reference behavior (SURVEY.md §4 quirks we
fix, asserted here as OUR spec):
  * exact range semantics (reference returns whole overlapping files);
  * duplicate (dataset_id, ts) ingest is deduplicated (ST5);
  * search caps results AFTER filtering.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from open_tlm_spark.schemas import POINTS_SCHEMA
from open_tlm_spark.store import TelemetryStore
from open_tlm_spark.store.tsdb import _epoch_us, _points_table


# The reference parses fixture timestamps with naive-LOCAL tz
# (datetime.fromisoformat, src/index.py:119) and its golden bin splits
# (e.g. a 10000 s bin edge exactly at 02:00) only line up when local
# time is UTC+4. We are UTC-only by design (SURVEY.md §4), so the
# fixtures pin that offset explicitly — same instants, same bins,
# fully deterministic.
_TZ = dt.timezone(dt.timedelta(hours=4))


def _dt(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s).replace(tzinfo=_TZ)


def _utc_naive(d: dt.datetime) -> dt.datetime:
    return d.astimezone(dt.timezone.utc).replace(tzinfo=None)


# The 9 hand-placed points (reference test_put_get, test_index.py:27-37).
PUT_GET_POINTS = [
    ("2024-01-01T01:00:00", 7.0),
    ("2024-01-01T01:01:00", 8.0),
    ("2024-01-01T02:00:00", 9.0),
    ("2024-01-01T02:30:00", 10.0),
    ("2024-01-01T02:30:01", 11.5),
    ("2024-01-01T03:00:00", 10.0),
    ("2024-01-01T03:00:00.100000", 9.0),
    ("2024-01-01T03:00:00.200000", 8.0),
    ("2024-01-01T03:00:00.300000", 7.0),
]

START = _dt("2024-01-01T00:50:00")
END = _dt("2024-01-01T03:30:00")


def make_store(spark, tmp_path, dataset_id, raw):
    store = TelemetryStore(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(dataset_id, _dt(d), v) for d, v in raw], POINTS_SCHEMA
    )
    store.put(df)
    return store


def agg_rows(store, dataset_id, fidelity, start=START, end=END):
    return store.get(dataset_id, start, end, fidelity).collect()


def test_put_get(spark, tmp_path):
    store = make_store(spark, tmp_path, "test_put", PUT_GET_POINTS)

    # FULL fidelity: exact round-trip (reference test_index.py:43-46)
    full = store.get("test_put", START, END, fidelity=None).collect()
    assert len(full) == 9
    # compare INSTANTS (epoch), not naive renderings: collect() yields
    # OS-local naive datetimes, so string comparison is tz-fragile
    got = {(r.ts.timestamp(), r.value) for r in full}
    want = {(_dt(d).timestamp(), v) for d, v in PUT_GET_POINTS}
    assert got == want

    # 1 s fidelity: 6 bins; last bin aggregates the 4 trailing points
    rows = agg_rows(store, "test_put", 1)
    assert len(rows) == 6
    last = rows[-1]
    assert last.min_value == pytest.approx(7.0)
    assert last.max_value == pytest.approx(10.0)
    assert last.mean_value == pytest.approx(8.5)

    # 10 s fidelity: 5 bins (test_index.py:58-72)
    rows = agg_rows(store, "test_put", 10)
    assert len(rows) == 5
    assert (rows[0].min_value, rows[0].max_value, rows[0].mean_value) == (7.0, 7.0, 7.0)
    assert rows[3].min_value == pytest.approx(10.0)
    assert rows[3].max_value == pytest.approx(11.5)
    assert rows[3].mean_value == pytest.approx(10.75)
    assert rows[4].mean_value == pytest.approx(8.5)

    # 100 s fidelity: 4 bins (test_index.py:75-91)
    rows = agg_rows(store, "test_put", 100)
    assert len(rows) == 4
    assert rows[0].mean_value == pytest.approx(7.5)
    assert rows[2].max_value == pytest.approx(11.5)
    assert rows[3].mean_value == pytest.approx(8.5)

    # 1000 s fidelity: 4 bins (test_index.py:94-110)
    rows = agg_rows(store, "test_put", 1000)
    assert len(rows) == 4
    assert rows[0].mean_value == pytest.approx(7.5)
    assert rows[2].mean_value == pytest.approx(10.75)

    # 10000 s fidelity: 2 bins; second bin means 9.2142857... over 7 pts
    rows = agg_rows(store, "test_put", 10000)
    assert len(rows) == 2
    assert rows[0].mean_value == pytest.approx(7.5)
    assert rows[1].min_value == pytest.approx(7.0)
    assert rows[1].max_value == pytest.approx(11.5)
    assert rows[1].mean_value == pytest.approx(9.214285714285714)
    assert rows[1]["count"] == 7


def test_agg_combine(spark, tmp_path):
    """Cross-batch merge (test_index.py:137-189): three successive
    puts of 4x10 Hz points; bins must merge across puts (ST3
    unbounded-lateness upsert semantics)."""
    batches = [
        [
            ("2024-01-01T03:00:00", 10.0),
            ("2024-01-01T03:00:00.100000", 9.0),
            ("2024-01-01T03:00:00.200000", 8.0),
            ("2024-01-01T03:00:00.300000", 7.0),
        ],
        [
            ("2024-01-01T03:00:00.400000", 10.0),
            ("2024-01-01T03:00:00.500000", 9.0),
            ("2024-01-01T03:00:00.600000", 8.0),
            ("2024-01-01T03:00:00.700000", 7.0),
        ],
        [
            ("2024-01-01T03:00:00.800000", 10.0),
            ("2024-01-01T03:00:00.900000", 9.0),
            ("2024-01-01T03:00:01", 8.0),
            ("2024-01-01T03:00:01.100000", 7.0),
        ],
    ]
    store = TelemetryStore(spark, str(tmp_path))
    for batch in batches:
        df = spark.createDataFrame(
            [("test_agg_combine", _dt(d), v) for d, v in batch], POINTS_SCHEMA
        )
        store.put(df)

    start, end = _dt("2024-01-01T03:00:00"), _dt("2024-01-01T03:05:00")
    full = store.get("test_agg_combine", start, end, None).collect()
    assert len(full) == 12

    rows = store.get("test_agg_combine", start, end, 1).collect()
    assert len(rows) == 2
    p0, p1 = rows
    assert p0.min_value == pytest.approx(7.0)
    assert p0.max_value == pytest.approx(10.0)
    assert p0.mean_value == pytest.approx(8.7)
    assert p0["count"] == 10
    assert p1.min_value == pytest.approx(7.0)
    assert p1.max_value == pytest.approx(8.0)
    assert p1.mean_value == pytest.approx(7.5)
    assert p1["count"] == 2


def test_empty_queries(spark, tmp_path):
    """Unknown dataset / disjoint range / agg-level miss -> empty,
    never an error (test_index.py:192-228)."""
    store = TelemetryStore(spark, str(tmp_path))
    start, end = _dt("2024-01-01T03:00:00"), _dt("2024-01-01T03:05:00")

    assert store.get("aaa", start, end, None).count() == 0

    df = spark.createDataFrame(
        [("test_empty_queries", _dt("2024-01-01T02:00:00.800000"), 10.0)],
        POINTS_SCHEMA,
    )
    store.put(df)

    assert store.get("aaa", start, end, None).count() == 0
    assert store.get("test_empty_queries", start, end, None).count() == 0
    assert store.get("test_empty_queries", start, end, 1).count() == 0

    ok = store.get(
        "test_empty_queries",
        _dt("2024-01-01T02:00:00"),
        _dt("2024-01-01T02:05:00"),
        None,
    ).collect()
    assert len(ok) == 1 and ok[0].value == 10.0


def test_query_datasets(spark, tmp_path):
    """Substring search semantics (test_index.py:231-261)."""
    store = TelemetryStore(spark, str(tmp_path))
    assert store.datasets("").count() == 0

    names = ["test_query1", "test_query2", "test_query3"]
    rows = [(n, _dt("2024-01-01T03:00:00"), 10.0) for n in names]
    store.put(spark.createDataFrame(rows, POINTS_SCHEMA))

    assert {r.dataset_id for r in store.datasets("").collect()} == set(names)
    assert {r.dataset_id for r in store.datasets("query").collect()} == set(names)
    for i in "123":
        assert [r.dataset_id for r in store.datasets(i).collect()] == [f"test_query{i}"]
    assert store.datasets("4").count() == 0


def test_large_put(spark, tmp_path):
    """Volume round-trip (test_index.py:264-300): 2 batches x 5000
    points x 3 series at 10 Hz. The reference's second batch re-sends
    the last timestamp of the first; the reference double-counts it,
    we dedup (ST5) -> 9999 distinct points."""
    store = TelemetryStore(spark, str(tmp_path))
    ids = [f"test_large_put{i}" for i in range(3)]
    start = _dt("2024-01-01T02:00:00")

    ts1 = [start + dt.timedelta(milliseconds=i * 100) for i in range(5000)]
    ts2 = [ts1[-1] + dt.timedelta(milliseconds=i * 100) for i in range(5000)]
    for batch in (ts1, ts2):
        rows = [(d, t, t.timestamp()) for d in ids for t in batch]
        store.put(spark.createDataFrame(rows, POINTS_SCHEMA))

    found = {r.dataset_id for r in store.datasets("test_large_put").collect()}
    assert found == set(ids)

    end = _dt("2024-01-01T03:30:00")
    for d in ids:
        n = store.get(d, start, end, None).count()
        assert n == 9999  # reference: 10000 (duplicate kept); we dedup


def test_compact_preserves_data(spark, tmp_path):
    """O8: compaction reduces file count and changes no query result."""
    import glob

    store = TelemetryStore(spark, str(tmp_path))
    for batch in range(4):
        rows = [
            (
                "compact.s",
                _dt(f"2024-01-01T0{batch}:00:0{i}"),
                float(batch * 10 + i),
            )
            for i in range(8)
        ]
        store.put(spark.createDataFrame(rows, POINTS_SCHEMA))

    start, end = _dt("2024-01-01T00:00:00"), _dt("2024-01-01T06:00:00")
    before = [
        (r.ts, r.value) for r in store.get("compact.s", start, end, None).collect()
    ]
    files_before = len(glob.glob(f"{tmp_path}/points/**/*.parquet", recursive=True))

    store.compact()

    after = [
        (r.ts, r.value) for r in store.get("compact.s", start, end, None).collect()
    ]
    files_after = len(glob.glob(f"{tmp_path}/points/**/*.parquet", recursive=True))
    assert after == before
    assert files_after < files_before

    rows = store.get("compact.s", start, end, 1000).collect()
    assert sum(r["count"] for r in rows) == 32


def test_multi_series_single_plan(spark, tmp_path):
    """get() with a list of ids / None (all series) is ONE Spark plan:
    isin predicate, no driver-side per-series union loop."""
    store = TelemetryStore(spark, str(tmp_path))
    from open_tlm_spark.schemas import POINTS_SCHEMA as _PS

    rows = []
    for ds in ("m.a", "m.b", "m.c"):
        rows += [(ds, _dt(d), v) for d, v in PUT_GET_POINTS]
    store.put(spark.createDataFrame(rows, _PS))

    two = store.get(["m.a", "m.c"], START, END, fidelity=None)
    assert "Union" not in two._jdf.queryExecution().executedPlan().toString()
    got = {(r.dataset_id, r.ts, r.value) for r in two.collect()}
    assert {d for d, _, _ in got} == {"m.a", "m.c"}
    assert len(got) == 2 * len(PUT_GET_POINTS)

    everything = store.get(None, START, END, fidelity=1)
    per_series = everything.groupBy("dataset_id").count().collect()
    assert {r.dataset_id for r in per_series} == {"m.a", "m.b", "m.c"}
    # within-series ordering preserved (dataset_id, ts)
    ordered = two.collect()
    assert ordered == sorted(ordered, key=lambda r: (r.dataset_id, r.ts))


def test_comment_write_is_atomic(spark, tmp_path, monkeypatch):
    """A crash at ANY point during a comment rewrite leaves the table
    readable at its previous state (versioned dir + pointer flip)."""
    import os as _os

    from open_tlm_spark.store.comments import CommentStore

    cs = CommentStore(spark, str(tmp_path))
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    cid = cs.create(t0, "first", ["keep"])
    assert cs.get(t0, t0, ["keep"]).count() == 1

    # crash-inject: the atomic pointer flip never happens
    real_replace = _os.replace

    def boom(src, dst):
        raise OSError("simulated crash before commit point")

    monkeypatch.setattr(_os, "replace", boom)
    with pytest.raises(OSError):
        cs.create(t0, "second", ["keep"])
    monkeypatch.setattr(_os, "replace", real_replace)

    # table intact at the pre-crash version, not lost / half-written
    rows = cs.get(t0, t0, ["keep"]).collect()
    assert [r.id for r in rows] == [cid]
    assert rows[0].text == "first"

    # and a subsequent healthy write commits both rows
    cs.create(t0, "third", ["keep"])
    assert cs.get(t0, t0, ["keep"]).count() == 2


def test_comment_gc_keeps_previous_version(spark, tmp_path):
    """Version GC is lazy: after each write the immediately-superseded
    version directory must still exist (lock-free readers may hold
    it), while versions older than N-1 are deleted."""
    import datetime as dt
    import os

    from open_tlm_spark.store.comments import CommentStore

    cs = CommentStore(spark, str(tmp_path))

    def versions():
        return sorted(
            n for n in os.listdir(cs.path) if n.startswith("v")
        )

    cs.create(dt.datetime(2024, 1, 1), "one", [])
    assert len(versions()) == 1
    cs.create(dt.datetime(2024, 1, 2), "two", [])
    v2 = versions()
    assert len(v2) == 2  # current + superseded kept for readers
    cs.create(dt.datetime(2024, 1, 3), "three", [])
    v3 = versions()
    assert len(v3) == 2 and v3[0] == v2[1]  # N-2 gone, N-1 kept
    assert {r.text for r in cs._read().collect()} == {"one", "two", "three"}


def _rw_store(spark, path):
    """Two series over the 9 golden instants; the second is offset by
    0.5 s and divided by 3, so the series interleave in time and their
    means are not exact in binary."""
    store = make_store(spark, path, "test_rw", PUT_GET_POINTS)
    half = dt.timedelta(milliseconds=500)
    store.put(
        spark.createDataFrame(
            [("test_rw.b", _dt(d) + half, v / 3) for d, v in PUT_GET_POINTS],
            POINTS_SCHEMA,
        )
    )
    return store


# (ids, start, end, fidelity) windows: one id, all ids, an id list
# with a repeat, bounds exactly on a point's instant and on a bin
# edge, a lower bound inside a bin, an empty window, an unknown id, an
# empty id list, a level outside the ladder.
RW_WINDOWS = [
    ("test_rw", START, END, None),
    ("test_rw", START, END, 100),
    (None, START, END, None),
    (None, START, END, 10),
    (["test_rw.b", "test_rw", "test_rw.b"], START, END, None),
    (["test_rw.b", "test_rw"], START, END, 1000),
    (None, _dt("2024-01-01T02:00:00"), _dt("2024-01-01T03:00:00.100000"), None),
    (None, _dt("2024-01-01T02:30:00"), _dt("2024-01-01T03:00:00"), 10),
    ("test_rw", _dt("2024-01-01T02:30:09"), _dt("2024-01-01T02:59:59"), 10),
    (None, _dt("2024-01-01T01:10:00"), _dt("2024-01-01T01:20:00"), None),
    (None, _dt("2024-01-01T01:10:00"), _dt("2024-01-01T01:20:00"), 1),
    ("nope", START, END, None),
    ("nope", START, END, 100),
    ([], START, END, None),
    (None, START, END, 10000),  # a 7-point bin: the mean is inexact
    ("test_rw", START, END, 7),
]
RAW_COLS = ("dataset_id", "us", "value")


def _as_tuples(table):
    """A read_window table as (column names, row tuples)."""
    return tuple(table.column_names), list(zip(*(c.to_pylist() for c in table.columns)))


def test_read_window_matches_get_warm_and_cold(spark, tmp_path):
    """read_window returns get()'s rows sorted by (dataset_id, time),
    raw rows as (dataset_id, us, value). A warm store answers from its
    snapshots with exactly the cold rows, field for field (mean_value
    included), on every window of RW_WINDOWS."""
    store = _rw_store(spark, tmp_path)

    raw = store.get("test_rw", START, END, fidelity=None).selectExpr(
        "dataset_id", "unix_micros(ts) AS us", "value"
    )
    want_raw = (RAW_COLS, sorted(tuple(r) for r in raw.collect()))
    agg = store.get("test_rw", START, END, 100)
    want_agg = (tuple(agg.columns), [tuple(r) for r in agg.collect()])
    assert len(want_raw[1]) == 9 and want_agg[1]
    assert _as_tuples(store.read_window("test_rw", START, END, None)) == want_raw
    assert _as_tuples(store.read_window("test_rw", START, END, 100)) == want_agg

    cold = [_as_tuples(store.read_window(*w)) for w in RW_WINDOWS]
    # get()'s columns on every window, empty ones included
    for w, (names, _) in zip(RW_WINDOWS, cold):
        assert names == (RAW_COLS if w[3] is None else want_agg[0]), w
    rows = [r for _, r in cold]
    assert (len(rows[0]), len(rows[2]), len(rows[4])) == (9, 18, 18)
    # inclusive bounds: 02:00:00 and 03:00:00.1 are points of test_rw
    assert len(rows[6]) == 8
    assert rows[7] and rows[8]
    assert rows[9] == rows[10] == rows[11] == rows[12] == rows[13] == rows[15] == []

    store.warm()
    for w, want in zip(RW_WINDOWS, cold):
        assert _as_tuples(store.read_window(*w)) == want, w

    # post-warm ingest drops the snapshots; the next read rebuilds them
    extra = spark.createDataFrame(
        [("test_rw", _dt("2024-01-01T03:10:00"), 42.0)], POINTS_SCHEMA
    )
    store.put(extra)
    got = store.read_window("test_rw", START, END, None)
    assert got.num_rows == 10 and 42.0 in got.column("value").to_pylist()
    agg = store.get("test_rw", START, END, 100)
    want_agg = (tuple(agg.columns), [tuple(r) for r in agg.collect()])
    assert _as_tuples(store.read_window("test_rw", START, END, 100)) == want_agg
    assert _as_tuples(store.read_window("o'brien", START, END, None)) == (RAW_COLS, [])


def test_warm_reads_run_no_spark_job(spark, tmp_path):
    """On a warm store, read_window and list_datasets are in-memory
    lookups: 20 mixed reads plus catalog searches run no Spark job,
    and the searches return datasets()'s ids."""
    store = _rw_store(spark, tmp_path)
    searches = (("", 300), ("rw.", 300), ("test", 1), ("zzz", 300))
    want = {q: [r.dataset_id for r in store.datasets(q, n).collect()] for q, n in searches}
    store.warm()
    # one snapshot per stored table
    assert set(store._snapshots) == {
        store.points_path,
        store.rollups_path,
        store.catalog_path,
    }
    sc = spark.sparkContext
    group = "test-warm-reads"
    sc.setJobGroup(group, "warm reads under test")
    try:
        for i in range(20):
            store.read_window(*RW_WINDOWS[i % len(RW_WINDOWS)])
        got = {q: store.list_datasets(q, n) for q, n in searches}
        jobs = sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(jobs) == []
    assert got == want
    assert got[""] == ["test_rw", "test_rw.b"]


def test_snapshot_invalidated_during_build_is_not_kept(spark, tmp_path):
    """A snapshot whose table is written while it builds serves the
    read that built it but is not kept; the next read builds a fresh
    one. Checked for the raw points and the rollups tables."""
    store = make_store(spark, tmp_path, "test_gen", PUT_GET_POINTS)
    store.warm()
    build = store._build_snapshot

    def racing_build(path):
        snap = build(path)
        store._invalidate_warm(path)  # a write lands mid-build
        return snap

    for path, fid, n in ((store.points_path, None, 9), (store.rollups_path, 100, 4)):
        store._invalidate_warm(path)  # warm() built it: drop it first
        store._build_snapshot = racing_build
        assert store.read_window("test_gen", START, END, fid).num_rows == n
        assert path not in store._snapshots
        store._build_snapshot = build
        assert store.read_window("test_gen", START, END, fid).num_rows == n
        assert path in store._snapshots


def test_read_window_concurrent_readers_beside_put(spark, tmp_path):
    """Concurrent read_window calls (the ThreadingHTTPServer serving
    pattern), more readers than cores and a short switch interval, each
    get the 9 rows and leave the session conf untouched. Beside a
    sequence of five puts, Arrow and DataFrame in turn, each adding a
    point, no read raises, rollup reads included, and every raw read
    returns exactly the rows before or after one of the puts."""
    import sys
    import threading
    import time

    store = make_store(spark, tmp_path, "test_conc", PUT_GET_POINTS)
    store.warm()
    conf_before = spark.conf.get("spark.sql.adaptive.enabled")
    pre = _as_tuples(store.read_window("test_conc", START, END, None))
    assert len(pre[1]) == 9

    errors, seen = [], []
    stop = threading.Event()

    def reader(reads):
        try:
            for _ in range(reads):
                seen.append(_as_tuples(store.read_window("test_conc", START, END, None)))
                # a rollup rebuild may race a put's partition swap
                store.read_window("test_conc", START, END, 1)
                if stop.is_set():
                    return
                time.sleep(0.002)
        except Exception as e:  # surfaced below
            errors.append(e)

    def run(threads, during=None):
        for t in threads:
            t.start()
        if during is not None:
            during()
            stop.set()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        run([threading.Thread(target=reader, args=(20,)) for _ in range(8)])
        assert not errors, errors
        assert len(seen) >= 8 and all(rows == pre for rows in seen)

        seen.clear()
        # later than every stored point, so each put appends a row
        extra = [
            ("test_conc", _epoch_us(_dt(f"2024-01-01T03:1{k}:00")), 40.0 + k)
            for k in range(5)
        ]

        def puts():
            for k, row in enumerate(extra):
                batch = _points_table(*zip(row))
                store.put(batch if k % 2 else spark.createDataFrame(batch))

        run(
            [threading.Thread(target=reader, args=(10**5,)) for _ in range(3)],
            during=puts,
        )
    finally:
        sys.setswitchinterval(interval)
    states = [(pre[0], pre[1] + extra[:k]) for k in range(len(extra) + 1)]
    assert not errors, errors
    assert _as_tuples(store.read_window("test_conc", START, END, None)) == states[-1]
    assert seen and all(rows in states for rows in seen)
    assert spark.conf.get("spark.sql.adaptive.enabled") == conf_before


def test_read_window_two_sessions_leave_conf_untouched(spark, tmp_path):
    """Overlapping read_window calls from stores bound to two different
    SparkSessions each get their 9 rows, and each session keeps its
    own adaptive-execution setting."""
    import threading

    spark2 = spark.newSession()
    store1 = make_store(spark, tmp_path / "s1", "test_ms", PUT_GET_POINTS)
    store2 = make_store(spark2, tmp_path / "s2", "test_ms", PUT_GET_POINTS)
    store1.warm()
    store2.warm()
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark2.conf.set("spark.sql.adaptive.enabled", "false")

    errors = []

    def reader(store):
        try:
            for _ in range(4):
                rows = store.read_window("test_ms", START, END, None)
                assert rows.num_rows == 9
        except Exception as e:
            errors.append(e)

    threads = [
        threading.Thread(target=reader, args=(s,))
        for s in (store1, store2, store1, store2)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark2.conf.get("spark.sql.adaptive.enabled") == "false"
