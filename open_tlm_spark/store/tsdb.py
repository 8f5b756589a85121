"""TelemetryStore — Parquet-backed (time, value) series store.

Reference parity (SURVEY.md §1.4, §3):
  * Index.put  (src/index.py:102-177)  -> put(): validate -> dedup ->
    append raw points (partitioned, sorted within each file for
    Parquet min/max locality) -> upsert all rollup levels. The
    reference rewrites its six levels in six passes; put() merges all
    six in ONE aggregation and ONE write, however many levels there
    are. Every batch is validated, deduped and merged into every level
    on the driver, reading only its touched partitions with pyarrow,
    and pyarrow writes its files: a pyarrow Table (an API POST, a
    metrics flush) runs no Spark job, a DataFrame (bulk loads, the
    streaming sink) one, its toArrow() collect.
  * Index.get  (src/index.py:179-217)  -> get(): fidelity routing +
    exact time-range filter. The reference returns whole overlapping
    *files* (coarse, documented quirk); we return exact ranges —
    Catalyst partition pruning (plus row-group skipping on dataset_id)
    replaces the reference's arithmetic file enumeration (_subpaths,
    src/index.py:408-458) wholesale.
  * Index.datasets (src/index.py:219-239) -> datasets(): substring
    search over the dataset catalog, limit applied AFTER the filter
    (the reference caps scanned entries before filtering — documented
    quirk we fix).

Physical layout (designed for 100 TB):
  points/   partitioned by ds_bucket (crc32 of dataset_id) and ds_date
            (UTC day of ts). Each file's rows are sorted by
            (dataset_id, ts) so Parquet's dataset_id stats let a
            per-series scan skip row groups. Both writers store ts as
            INT96, Spark's default, which carries no row-group stats,
            so a time range prunes by day partition only.
  rollups/  every level in one table, partitioned by level (the bin
            duration d in seconds) and bin_date (UTC day of the bin
            start); level d is ≈1/d of raw, so read-merge-overwrite of
            the touched partitions is cheap — this is the
            unbounded-lateness upsert (SURVEY.md ST3) that pure
            watermarked streaming cannot express.
  datasets  the catalog: one Parquet file, one row per dataset_id ever
            written, replaced whole (os.replace) when new ids arrive.

Spark and pyarrow write the same files: snappy, partition columns in
the path only, ts as INT96. Every Spark read passes the table's known
schema (the *_DDL constants), so no scan starts a Parquet
schema-inference job; pyarrow reads pass the matching Arrow schema.

Interactive serving (read_window, list_datasets) on a warm store runs
no Spark job: each stored table is held as an immutable driver-side
snapshot (numpy columns sorted by (dataset_id, time) plus each
series' row range; rollups get one per level), built by one pyarrow
read of the table, so a window is two binary searches per series.
read_window returns the window as an Arrow table of the snapshot's
slices, with no Python object per row. Spark writes only
compactions; get() and datasets() always read storage with Spark.
"""

from __future__ import annotations

import collections
import datetime as _dt
import os
import shutil
import threading
import uuid
import zlib
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.operators.rollup import recommended_fidelity, with_mean
from open_tlm_spark.schemas import DATASET_ID_PATTERN, FIDELITIES
from open_tlm_spark.session import empty_frame

# On-disk schemas, partition columns last (see the layout above).
_POINTS_DDL = (
    "dataset_id string, ts timestamp, value double, ds_bucket int, ds_date date"
)
_ROLLUP_DDL = (
    "dataset_id string, bin_ts bigint, min_value double, max_value double, "
    "sum_values double, count bigint, level int, bin_date date"
)
_CATALOG_DDL = "dataset_id string"
# A rollup level's stored columns (without the partition columns),
# and the columns of a rollup read (get and read_window).
_ROLLUP_COLS = ("dataset_id", "bin_ts", "min_value", "max_value", "sum_values", "count")
_ROLLUP_READ = pa.schema(
    [
        ("dataset_id", pa.string()),
        ("bin_ts", pa.int64()),
        ("min_value", pa.float64()),
        ("mean_value", pa.float64()),
        ("max_value", pa.float64()),
        ("sum_values", pa.float64()),
        ("count", pa.int64()),
    ]
)
_ROLLUP_FIELDS = tuple(_ROLLUP_READ.names)
# How stored and new partials of a bin merge: (column, aggregation).
_ROLLUP_MERGE = (
    ("min_value", "min"),
    ("max_value", "max"),
    ("sum_values", "sum"),
    ("count", "sum"),
)

# The stored tables as pyarrow reads and writes them: the on-disk
# schemas above, with ts, which both writers store as INT96, read as
# microseconds.
_POINTS_SCHEMA = pa.schema(
    [
        ("dataset_id", pa.string()),
        ("ts", pa.timestamp("us")),
        ("value", pa.float64()),
        ("ds_bucket", pa.int32()),
        ("ds_date", pa.date32()),
    ]
)
_ROLLUP_SCHEMA = pa.schema(
    [
        ("dataset_id", pa.string()),
        ("bin_ts", pa.int64()),
        *[(c, pa.float64()) for c in ("min_value", "max_value", "sum_values")],
        ("count", pa.int64()),
        ("level", pa.int32()),
        ("bin_date", pa.date32()),
    ]
)
_PARQUET = pads.ParquetFileFormat(
    read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
)
# Files as Spark writes them: snappy, ts as INT96 (Spark's default
# spark.sql.parquet.outputTimestampType), no Arrow schema in the footer.
_WRITE = dict(
    compression="snappy", use_deprecated_int96_timestamps=True, store_schema=False
)

# How often a snapshot build that found a listed file deleted lists
# its table again before it fails (_snapshot).
_BUILD_RETRIES = 5

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_ONE_US = _dt.timedelta(microseconds=1)
_DAY_US = 86_400 * 10**6
_TS_TYPE = pa.timestamp("us", tz="UTC")


def _as_utc(d: _dt.datetime) -> _dt.datetime:
    """Engine convention: naive datetimes ARE UTC. Attaching tzinfo
    makes every downstream use agree — .timestamp() would otherwise
    interpret a naive value in the OS zone while Spark literals use
    the (UTC) session zone, silently shifting range bounds on
    non-UTC hosts."""
    return d.replace(tzinfo=_dt.timezone.utc) if d.tzinfo is None else d


def _utc_date(d: _dt.datetime) -> _dt.date:
    """UTC calendar date of a datetime (partitions are UTC-dated; a
    tz-aware input's local .date() can be off by one)."""
    return _as_utc(d).astimezone(_dt.timezone.utc).date()


def _epoch_us(d: _dt.datetime) -> int:
    """Epoch microseconds of a datetime (naive = UTC)."""
    return (_as_utc(d) - _EPOCH) // _ONE_US


def _dates(days: np.ndarray) -> list[_dt.date]:
    """The distinct UTC dates of epoch day numbers, sorted."""
    day0 = _dt.date(1970, 1, 1)
    return [day0 + _dt.timedelta(days=d) for d in np.unique(days).tolist()]


def _level_bins(fine_ts):
    """(level, bin start) of 1 s partials at every level: floor(fine_ts
    / d) * d, in exact integer arithmetic (validation drops pre-epoch
    points, so fine_ts >= 0)."""
    return [(d, fine_ts - fine_ts % d) for d in FIDELITIES]


def _read_parts(base: str, schema: pa.Schema, columns, parts=None, filter=None):
    """Columns of a stored table (schema: its columns, then its two
    hive partition columns), read on the driver with pyarrow: of the
    given partition directories (paths relative to base), or of the
    whole table when parts is None. Given parts, only those
    directories are listed, so the cost follows the partitions, not
    the table. Hidden paths
    (".", "_": a write in progress) are skipped; a missing table reads
    as no rows."""
    if parts is None:
        source = base if os.path.isdir(base) else []
    else:
        source = []
        for part in parts:
            d = os.path.join(base, part)
            if os.path.isdir(d):
                source += [
                    os.path.join(d, f)
                    for f in sorted(os.listdir(d))
                    if not f.startswith((".", "_"))
                ]
    hive = pads.partitioning(pa.schema(list(schema)[-2:]), flavor="hive")
    return pads.dataset(
        source,
        schema=schema,
        format=_PARQUET,
        partitioning=hive,
        partition_base_dir=base,
    ).to_table(columns=columns, filter=filter)


def _write_parts(base: str, table: pa.Table, keys: list[str]) -> list[str]:
    """Write a table whose last two columns are its hive partition
    columns under base: one file per partition directory, holding the
    other columns sorted by keys. Each file is written under a hidden
    name and renamed into place, so no reader sees it half written.
    Returns the directories written, relative to base."""
    parts = table.column_names[-2:]
    table = table.sort_by([(c, "ascending") for c in (*parts, *keys)])
    values = [table.column(c).to_numpy() for c in parts]
    new_dir = reduce(np.logical_or, [v[1:] != v[:-1] for v in values])
    bounds = [0, *(np.flatnonzero(new_dir) + 1).tolist(), table.num_rows]
    data = table.drop_columns(parts)
    name = f"part-{uuid.uuid4().hex}.snappy.parquet"
    dirs = []
    for lo, hi in zip(bounds, bounds[1:]):
        rel = os.path.join(*[f"{c}={v[lo]}" for c, v in zip(parts, values)])
        d = os.path.join(base, rel)
        os.makedirs(d, exist_ok=True)
        pq.write_table(data.slice(lo, hi - lo), os.path.join(d, "." + name), **_WRITE)
        os.rename(os.path.join(d, "." + name), os.path.join(d, name))
        dirs.append(rel)
    return dirs


def _overwrite_parts(base: str, table: pa.Table, keys: list[str]) -> None:
    """Replace the partition directories of base that the table
    touches, and only those, with the table's rows (_write_parts), as
    Spark's dynamic partition overwrite does: the new directories are
    written under a hidden staging directory, then each replaces its
    target by a delete and a rename. Like Spark's, the swap is not
    atomic: a crash inside it can leave a partition missing."""
    staging = os.path.join(base, f".staging-{uuid.uuid4().hex}")
    try:
        for rel in _write_parts(staging, table, keys):
            target = os.path.join(base, rel)
            if os.path.isdir(target):
                shutil.rmtree(target)
            os.makedirs(os.path.dirname(target), exist_ok=True)
            os.rename(os.path.join(staging, rel), target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def _points_table(ids, us, values) -> pa.Table:
    """A batch of points as an Arrow table, as put takes it on the
    driver; createDataFrame turns it into one columnar stream (a local
    table scan), where a list of Python rows is pickled and re-read by
    Python workers on every scan of the batch. Timestamps are given as
    integer epoch microseconds tagged UTC: exact, where pyarrow can
    keep an offset-aware datetime's wall clock instead of its UTC
    instant."""
    return pa.table(
        {
            "dataset_id": pa.array(ids, pa.string()),
            "ts": pa.array(us, _TS_TYPE),
            "value": pa.array(values, pa.float64()),
        }
    )


def _ds_bucket(dataset_id: str, n_buckets: int) -> int:
    """Bucket id of a series: crc32 of its UTF-8 bytes, the same on
    the write and the query side, so a read prunes to its ids' buckets
    without running a Spark job."""
    return zlib.crc32(dataset_id.encode("utf-8")) % n_buckets


class _Snapshot:
    """An immutable in-memory copy of the stored points or of one
    rollup level: numpy columns sorted by (dataset_id, time), where
    time is fields[1] (epoch µs `us` for raw points, `bin_ts` for
    rollups), and each series' [start, end) row range."""

    __slots__ = ("fields", "spans", "cols")

    def __init__(self, fields, spans, cols):
        self.fields: tuple[str, ...] = fields
        self.spans: dict[str, tuple[int, int]] = spans
        self.cols: dict[str, np.ndarray] = cols

    @classmethod
    def collect(cls, tables: list[pa.Table], fields) -> list["_Snapshot"]:
        """One snapshot per (dataset_id, time, values...) Arrow table,
        sorted by (dataset_id, time) without a Python object per row:
        the ids are dictionary-encoded, so only the distinct ids become
        Python strings. The list is consumed, so each table, which
        holds every row's id, is released before its sort."""
        out = []
        while tables:
            tbl = tables.pop(0)
            enc = pc.dictionary_encode(tbl.column("dataset_id")).combine_chunks()
            cols = {c: tbl.column(c).to_numpy() for c in tbl.column_names[1:]}
            del tbl
            names = enc.dictionary.to_pylist()
            by_name = sorted(range(len(names)), key=names.__getitem__)
            rank = np.empty(len(names), np.int32)
            rank[by_name] = np.arange(len(names), dtype=np.int32)
            codes = rank[enc.indices.to_numpy()]
            del enc
            ends = np.cumsum(np.bincount(codes, minlength=len(names))).tolist()
            spans = {n: (s, e) for n, s, e in zip(sorted(names), [0] + ends, ends)}
            order = np.lexsort((cols[fields[1]], codes))
            del codes
            for c in cols:
                cols[c] = cols[c][order]
            out.append(cls(fields, spans, cols))
        return out

    def window(self, ids: list[str] | None, lo: int, hi: int) -> pa.Table:
        """The rows of the given series (None = all) with lo <= time <=
        hi, sorted by (dataset_id, time), as columns: each series' range
        is cut by two binary searches and the slices are concatenated,
        with no Python object per row. The id column is dictionary
        encoded from the run lengths; rollup rows gain mean_value =
        sum_values / count, the float64 division Spark does."""
        time = self.cols[self.fields[1]]
        names, cuts = [], []
        for sid in self.spans if ids is None else sorted(set(ids)):
            span = self.spans.get(sid)
            if span is None:
                continue
            s, e = span
            names.append(sid)
            cuts.append(
                slice(
                    s + int(time[s:e].searchsorted(lo, "left")),
                    s + int(time[s:e].searchsorted(hi, "right")),
                )
            )
        runs = np.repeat(
            np.arange(len(names), dtype=np.int32), [c.stop - c.start for c in cuts]
        )
        cols = {
            "dataset_id": pa.DictionaryArray.from_arrays(
                runs, pa.array(names, pa.string())
            )
        }
        for c, v in self.cols.items():
            cols[c] = np.concatenate([v[cut] for cut in cuts] or [v[:0]])
        if "sum_values" in cols:
            cols["mean_value"] = cols["sum_values"] / cols["count"]
        return pa.table([cols[f] for f in self.fields], names=list(self.fields))


class TelemetryStore:
    """n_buckets: dataset-hash bucket count for the points layout
    (SURVEY.md phase 6: dataset_id hash-bucket x time bucket). A
    single-series query then scans 1/n_buckets of each day partition.
    Size to the cluster's executor count; 8 is a local default."""

    def __init__(self, spark: SparkSession, base_path: str, n_buckets: int = 8):
        self.spark = spark
        self.base = base_path
        self.n_buckets = n_buckets
        self.points_path = os.path.join(base_path, "points")
        self.rollups_path = os.path.join(base_path, "rollups")
        self.catalog_path = os.path.join(base_path, "datasets")
        # Interactive warm cache, off until warm(): table path ->
        # immutable snapshot (points: a _Snapshot; rollups: level ->
        # _Snapshot; catalog: its sorted id list). A write drops the
        # table's snapshot and bumps its generation; the next warm read
        # rebuilds it (_snapshot).
        self._warm_enabled = False
        self._snapshots: dict[str, object] = {}
        self._warm_gen: collections.Counter[str] = collections.Counter()
        self._warm_lock = threading.Lock()
        # A9/S12 self-telemetry counters (the reference's num_puts /
        # num_gets, src/metrics/loop.py:59-61) — sampled into the
        # store itself by flush_metrics().
        self.num_puts = 0
        self.num_gets = 0

    # ------------------------------------------------------------- paths
    def _schema(self, path: str) -> str:
        if path == self.points_path:
            return _POINTS_DDL
        if path == self.catalog_path:
            return _CATALOG_DDL
        return _ROLLUP_DDL

    def _scan(self, path: str) -> DataFrame:
        """Lazy scan of a stored table with its known schema (no
        schema-inference job)."""
        # Spark caches parquet file listings per path; after our own
        # overwrites/appends a cached listing is stale and can silently
        # drop files from the next read -> refresh before every read.
        self.spark.catalog.refreshByPath(path)
        return self.spark.read.schema(self._schema(path)).parquet(path)

    def _read(self, path: str) -> DataFrame:
        if not os.path.exists(path):
            return empty_frame(self.spark, self._schema(path))
        return self._scan(path)

    # ------------------------------------------------- interactive cache
    def warm(self) -> None:
        """Serve read_window and list_datasets from driver-side
        snapshots (the reference holds its whole store in process RAM;
        this is the equivalent for the API shim). Builds the snapshots
        of the rollups, the catalog and the raw points now, each by one
        pyarrow read of the stored table; a put drops the snapshots of
        the tables it wrote, which rebuild on their next read."""
        self._warm_enabled = True
        for p in (self.rollups_path, self.catalog_path, self.points_path):
            self._snapshot(p)

    def _snapshot(self, path: str):
        """The path's snapshot, built if it was dropped. A build that
        raced a write to its path (the generation moved on) serves the
        read that made it but is not kept. A rollup overwrite deletes
        the files it replaces, so a build that listed one of them
        before it was deleted lists the table again."""
        snap = self._snapshots.get(path)
        if snap is None:
            gen = self._warm_gen[path]
            for retries in range(_BUILD_RETRIES, -1, -1):
                try:
                    snap = self._build_snapshot(path)
                    break
                except FileNotFoundError:
                    if not retries:
                        raise
            with self._warm_lock:
                if self._warm_gen[path] == gen:
                    self._snapshots[path] = snap
        return snap

    def _build_snapshot(self, path: str):
        """One pyarrow read of a stored table on the driver, with no
        Spark job. The rollups table is split by level while it is
        held."""
        if path == self.catalog_path:
            return sorted(self._catalog_ids())
        if path == self.points_path:
            tbl = _read_parts(path, _POINTS_SCHEMA, ["dataset_id", "ts", "value"])
            tbl = tbl.set_column(1, "us", tbl.column("ts").cast(pa.int64()))
            return _Snapshot.collect([tbl], ("dataset_id", "us", "value"))[0]
        tbl = _read_parts(path, _ROLLUP_SCHEMA, [*_ROLLUP_COLS, "level"])
        level = tbl.column("level")
        parts = [
            tbl.filter(pc.equal(level, d)).drop_columns(["level"]) for d in FIDELITIES
        ]
        del tbl, level
        return dict(zip(FIDELITIES, _Snapshot.collect(parts, _ROLLUP_FIELDS)))

    def _invalidate_warm(self, *paths: str) -> None:
        """Drop rewritten paths' snapshots, together. Nothing is
        released: a reader that holds an old snapshot keeps a
        consistent view of its table before the write."""
        with self._warm_lock:
            for path in paths:
                self._snapshots.pop(path, None)
                self._warm_gen[path] += 1

    # ------------------------------------------------------------ ingest
    @staticmethod
    def _valid_rows(batch: DataFrame) -> DataFrame:
        """P5/P6: drop NaN/null values, illegal dataset ids and
        points before the epoch."""
        return batch.filter(
            F.col("value").isNotNull()
            & ~F.isnan("value")
            & F.col("dataset_id").rlike(DATASET_ID_PATTERN)
            & ~F.col("dataset_id").contains("..")
            & (F.col("ts") >= F.lit(_dt.datetime(1970, 1, 1)))
        )

    def validate(self, batch: DataFrame) -> DataFrame:
        """P5/P6 (_valid_rows), then ST5: exact dedup on (dataset_id,
        ts) — a strict improvement over the reference's
        double-counting (src/index.py:39-40)."""
        return self._valid_rows(batch).dropDuplicates(["dataset_id", "ts"])

    def put(self, batch: DataFrame | pa.Table, _count: bool = True) -> None:
        """S6: append raw points and upsert every rollup level on the
        driver, with pyarrow, in a fixed number of steps that does not
        grow with the number of levels. A pyarrow Table (API POSTs,
        metric flushes) runs no Spark job. A DataFrame (bulk loads, the
        streaming sink) runs one: its dataset_id, ts and value columns
        are collected with toArrow(), and the table takes the same
        steps:
          1. pyarrow.compute applies _valid_rows' rules and keeps the
             first of each in-batch (dataset_id, ts) key, in batch
             order; the new ids come from a driver-side Parquet read of
             the catalog (_arrow_front);
          2. a pyarrow read of the stored keys in the batch's touched
             ds_bucket/ds_date directories, inside its ids and ts
             range, then an anti-join in pyarrow;
          3. the raw append: one new file in each touched
             ds_bucket/ds_date directory (_append_points_arrow);
          4. the batch's 1 s partials cascade to every level, a pyarrow
             read of the touched (level, bin_date) directories brings
             the stored partials, and one group_by merges both
             (_merge_rollups_arrow);
          5. the merged partitions are written to a hidden staging
             directory, then each replaces its (level, bin_date)
             directory (_overwrite_parts).

        Steps 3-5 are skipped when no valid new point is left (an empty
        streaming micro-batch writes nothing). Then the catalog file is
        replaced, only when the batch brings new ids. The put drops the
        snapshots of the tables it wrote once, at its end, so a warm
        reader sees the store before or after the put, never raw points
        ahead of their rollups.

        Memory: the driver holds the whole batch, and step 4 holds every
        row of the touched rollup partitions (a warm server holds the
        whole store anyway). A store larger than driver memory is bulk
        loaded one slice per put, e.g. one day at a time.

        Replaying a put that completed is a no-op (step 2). Replaying a
        put that failed after step 3 is not: its points are already in
        raw storage, so the anti-join drops them and no rollup level
        ever counts them (ROADMAP item 3). A crash inside step 5's swap
        can leave a (level, bin_date) partition missing until the next
        write of it, as with Spark's dynamic overwrite.

        _count=False exempts internal writes (metric flushes) from the
        num_puts counter, so the published series counts client puts.
        """
        if _count:
            self.num_puts += 1
        if not isinstance(batch, pa.Table):
            batch = batch.select("dataset_id", "ts", "value").toArrow()
        wrote = []
        try:
            rows, new_ids = self._arrow_front(batch)
            if rows is not None:
                wrote += [self.points_path, self.rollups_path]
                self._append_points_arrow(rows)
                self._merge_rollups_arrow(rows)
            if new_ids:
                wrote.append(self.catalog_path)
                self._merge_catalog(new_ids)
        finally:
            self._invalidate_warm(*wrote)

    def _append_points_arrow(self, rows: pa.Table) -> None:
        """put's raw append of its new points ((dataset_id, us,
        value)): one new file in each ds_bucket/ds_date directory
        they fall in. Partitions come from epoch µs, so the host's time
        zone cannot move one."""
        ids = pc.dictionary_encode(rows.column("dataset_id")).combine_chunks()
        buckets = np.array(
            [_ds_bucket(i, self.n_buckets) for i in ids.dictionary.to_pylist()],
            np.int32,
        )
        us = rows.column("us").to_numpy()
        table = pa.table(
            [
                rows.column("dataset_id"),
                pa.array(us, pa.timestamp("us")),
                rows.column("value"),
                buckets[ids.indices.to_numpy()],
                pa.array((us // _DAY_US).astype(np.int32), pa.date32()),
            ],
            schema=_POINTS_SCHEMA,
        )
        _write_parts(self.points_path, table, ["dataset_id", "ts"])

    def _arrow_front(self, batch: pa.Table):
        """put's steps 1-2, with no Spark job: (the new points as
        (dataset_id, us, value) or None, the new ids). Partitions come
        from epoch µs, so the host's time zone cannot move one."""
        ids = batch.column("dataset_id").cast(pa.string())
        us = batch.column("ts").cast(_TS_TYPE).cast(pa.int64())
        value = batch.column("value").cast(pa.float64())
        # _valid_rows' rules; a null in any column nulls the mask, and
        # filter drops a null
        ok = reduce(
            pc.and_,
            [
                pc.invert(pc.is_nan(value)),
                pc.match_substring_regex(ids, DATASET_ID_PATTERN),
                pc.invert(pc.match_substring(ids, "..")),
                pc.greater_equal(us, 0),
            ],
        )
        rows = pa.table({"dataset_id": ids, "us": us, "value": value}).filter(ok)
        if rows.num_rows == 0:
            return None, []
        # ST5 within the batch: keep the first row of each key
        first = (
            rows.append_column("_row", pa.array(np.arange(rows.num_rows)))
            .group_by(["dataset_id", "us"])
            .aggregate([("_row", "min")])
        )
        if first.num_rows < rows.num_rows:
            rows = rows.take(np.sort(first.column("_row_min").to_numpy()))
        t = rows.column("us").to_numpy()
        names = pc.unique(rows.column("dataset_id")).to_pylist()
        new_ids = sorted(set(names).difference(self._catalog_ids()))
        # ST5 across batches: the stored keys the batch can collide
        # with, in its ds_bucket/ds_date directories, ids and ts range
        buckets = sorted({_ds_bucket(i, self.n_buckets) for i in names})
        stamp = pa.timestamp("us")
        days = _dates(t // _DAY_US)
        stored = _read_parts(
            self.points_path,
            _POINTS_SCHEMA,
            ["dataset_id", "ts"],
            [f"ds_bucket={b}/ds_date={d}" for b in buckets for d in days],
            (pads.field("ts") >= pa.scalar(int(t.min()), stamp))
            & (pads.field("ts") <= pa.scalar(int(t.max()), stamp))
            & pads.field("dataset_id").isin(names),
        )
        if stored.num_rows:
            stored = stored.set_column(1, "us", stored.column("ts").cast(pa.int64()))
            rows = rows.join(stored, ["dataset_id", "us"], join_type="left anti")
            if rows.num_rows == 0:
                return None, new_ids  # an exact replay
        return rows, new_ids

    def _catalog_ids(self) -> list[str]:
        """The catalog's ids, by a driver-side Parquet read of the
        (tiny) file: no Spark job, warm or cold."""
        if not os.path.exists(self.catalog_path):
            return []
        return pq.read_table(self.catalog_path).column("dataset_id").to_pylist()

    def flush_metrics(
        self, ts: _dt.datetime, prefix: str = "tlm.metrics"
    ) -> None:
        """A9/S12: sample the store's own counters into the store as
        first-class series (<prefix>.num_puts / <prefix>.num_gets) —
        the reference's metrics loop snapshots its counters every
        flush interval and posts them through the normal ingest path
        (src/metrics/loop.py:59-61). The flush put itself is exempt
        from num_puts (client-call semantics)."""
        batch = _points_table(
            [f"{prefix}.num_puts", f"{prefix}.num_gets"],
            [_epoch_us(ts)] * 2,
            [float(self.num_puts), float(self.num_gets)],
        )
        self.put(batch, _count=False)

    def _merge_catalog(self, new_ids: list[str]) -> None:
        """C1: maintain the dataset catalog as a tiny dimension table
        (the reference's catalog is the data/full/ directory listing,
        src/index.py:231-239). Search then scans a file with one row
        per series ever written — never the fact table. Called only
        with ids the catalog does not hold yet. The merged ids are
        written on the driver to a hidden file, which then replaces
        the catalog in one os.replace."""
        ids = pa.array(sorted(set(self._catalog_ids()).union(new_ids)), pa.string())
        os.makedirs(self.base, exist_ok=True)
        tmp = os.path.join(self.base, f".datasets-{uuid.uuid4().hex}")
        pq.write_table(pa.table({"dataset_id": ids}), tmp, **_WRITE)
        if os.path.isdir(self.catalog_path):  # a catalog Spark wrote
            shutil.rmtree(self.catalog_path)
        os.replace(tmp, self.catalog_path)

    def _merge_rollups_arrow(self, rows: pa.Table) -> None:
        """A1-A3/ST3: algebraic merge of every level in one aggregation
        and one write, on the driver, for a put's new points
        ((dataset_id, us, value)), with no Spark job. The batch is
        aggregated once into 1 s partials (us // 10**6, A1), which
        enter every level at their bin (_level_bins, A3); a pyarrow
        read of the touched (level, bin_date) directories brings the
        stored partials; one group_by on (level, dataset_id, bin_ts)
        merges both (_ROLLUP_MERGE: min(min), max(max), sum(sum),
        sum(count)), so combine(agg(A), agg(B)) == agg(A ∪ B). pyarrow
        then replaces each touched partition with its merged rows, and
        only those (_overwrite_parts). The driver holds every row of
        the touched partitions, as it already holds the batch."""
        aggs = ("min", "max", "sum", "count")
        fine = (
            pa.table(
                {
                    "dataset_id": rows.column("dataset_id"),
                    "fine_ts": rows.column("us").to_numpy() // 10**6,
                    "value": rows.column("value"),
                }
            )
            .group_by(["dataset_id", "fine_ts"])
            .aggregate([("value", fn) for fn in aggs])
        )
        values = [fine.column(f"value_{fn}") for fn in aggs]
        levels = _level_bins(fine.column("fine_ts").to_numpy())
        partials = [
            pa.table(
                [
                    pa.array(np.full(fine.num_rows, d, np.int32)),
                    fine.column("dataset_id"),
                    bin_ts,
                    *values,
                ],
                names=["level", *_ROLLUP_COLS],
            )
            for d, bin_ts in levels
        ]
        stored = _read_parts(
            self.rollups_path,
            _ROLLUP_SCHEMA,
            ["level", *_ROLLUP_COLS],
            [
                f"level={d}/bin_date={day}"
                for d, bin_ts in levels
                for day in _dates(bin_ts // 86_400)
            ],
        )
        partials.append(stored.cast(partials[0].schema))
        merged = (
            pa.concat_tables(partials)
            .group_by(["level", "dataset_id", "bin_ts"])
            .aggregate(list(_ROLLUP_MERGE))
        )
        bin_ts = merged.column("bin_ts").to_numpy()
        out = pa.table(
            [
                merged.column("dataset_id"),
                bin_ts,
                *[merged.column(f"{c}_{fn}") for c, fn in _ROLLUP_MERGE],
                merged.column("level"),
                pa.array((bin_ts // 86_400).astype(np.int32), pa.date32()),
            ],
            schema=_ROLLUP_SCHEMA,
        )
        _overwrite_parts(self.rollups_path, out, ["dataset_id", "bin_ts"])

    # ------------------------------------------------------------- query
    # O4/T5: reject queries whose routed result would exceed this many
    # rows (the reference hard-fails range queries touching >500 files
    # = ~2.5M raw points, src/index.py:414,445-448). Auto-routing (O2)
    # makes the guard moot in practice — it only trips on explicit
    # fidelity overrides.
    MAX_RESULT_POINTS = 2_500_000

    def _route(self, dataset_id, start, end, fidelity, max_result_points):
        """A read's id list (None = all series), UTC bounds and routed
        fidelity (O2), after the fan-out guard (O4/T5)."""
        ids = (
            None
            if dataset_id is None
            else [dataset_id] if isinstance(dataset_id, str) else list(dataset_id)
        )
        start, end = _as_utc(start), _as_utc(end)
        if fidelity == "auto":
            fidelity = recommended_fidelity((end - start).total_seconds())
        if max_result_points is not None and ids is not None:
            span = (end - start).total_seconds() * len(ids)
            # FULL estimated at the reference's 10 Hz design point
            est = span * 10 if fidelity is None else span / int(fidelity)
            if est > max_result_points:
                raise ValueError(
                    f"range query would return ~{int(est)} points at "
                    f"fidelity={fidelity} (> {max_result_points}); pick a "
                    "coarser fidelity or use auto-routing"
                )
        return ids, start, end, fidelity

    def get(
        self,
        dataset_id: str | list[str] | None,
        start: _dt.datetime,
        end: _dt.datetime,
        fidelity: int | str | None = "auto",
        max_result_points: int | None = MAX_RESULT_POINTS,
        ordered: bool = True,
    ) -> DataFrame:
        """S1 + O2: exact time-range scan at an explicit or routed
        fidelity. FULL -> raw points; otherwise rollup rows with
        mean derived (A4).

        dataset_id may be one id, a list of ids, or None (all series)
        — multi-series reads are ONE Spark plan (isin predicate +
        bucket-set pruning), never a driver-side per-series loop.

        ordered=False skips the global sort (a range-exchange needs a
        sampling pass); read_window orders its bounded result
        driver-side instead.
        """
        self.num_gets += 1
        ids, start, end, fidelity = self._route(
            dataset_id, start, end, fidelity, max_result_points
        )
        if fidelity is None:
            df = self._read(self.points_path)
            cond = F.col("ts").between(F.lit(start), F.lit(end))
            if ids is not None:
                cond = cond & F.col("dataset_id").isin(ids)
                # driver-side crc32 == Spark's -> prune to the id set's buckets
                cond = cond & F.col("ds_bucket").isin(
                    sorted({_ds_bucket(i, self.n_buckets) for i in ids})
                )
            # Explicit bound on the PARTITION column: Catalyst cannot
            # derive ds_date limits from the ts predicate, and without
            # them a narrow scan lists every day partition
            # (PartitionFilters: [] — caught by tools/scale_smoke.py).
            cond = cond & F.col("ds_date").between(
                F.lit(_utc_date(start)), F.lit(_utc_date(end))
            )
            out = df.filter(cond).select("dataset_id", "ts", "value")
            return out.orderBy("dataset_id", "ts") if ordered else out
        d = int(fidelity)
        df = self._read(self.rollups_path)
        # A bin labeled bin_ts covers [bin_ts, bin_ts+d): return every
        # bin whose window overlaps [start, end] — floor the lower
        # bound to the bin grid (the bin containing `start` counts).
        lo = int(start.timestamp()) // d * d
        cond = (F.col("bin_ts") >= lo) & (F.col("bin_ts") <= int(end.timestamp()))
        if ids is not None:
            cond = cond & F.col("dataset_id").isin(ids)
        # partition pruning on both partition columns (see the FULL path)
        cond = cond & (F.col("level") == d) & F.col("bin_date").between(
            F.lit(_dt.datetime.fromtimestamp(lo, tz=_dt.timezone.utc).date()),
            F.lit(_utc_date(end)),
        )
        out = with_mean(df).filter(cond).select(*_ROLLUP_FIELDS)
        return out.orderBy("dataset_id", "bin_ts") if ordered else out

    def read_window(
        self,
        dataset_id: str | list[str] | None,
        start: _dt.datetime,
        end: _dt.datetime,
        fidelity: int | str | None = "auto",
        max_result_points: int | None = MAX_RESULT_POINTS,
    ) -> pa.Table:
        """Interactive serving path (API GET /api/data, head-to-head
        harness): the rows of get() as an Arrow table, sorted by
        (dataset_id, time), with get()'s column names and values. Raw
        rows are (dataset_id, us, value), with `us` the
        epoch-microsecond instant; rollup rows are get()'s. The
        dataset_id column may be dictionary encoded.

        On a warm store the window is cut from the table's snapshot by
        two binary searches per series and runs no Spark job (bounds
        inclusive, as in get()); a dropped snapshot is rebuilt first.
        A cold store transfers get() as Arrow and sorts it."""
        ids, start, end, fid = self._route(
            dataset_id, start, end, fidelity, max_result_points
        )
        if not self._warm_enabled:
            df = self.get(ids, start, end, fid, None, ordered=False)
            if fid is None:
                df = df.select("dataset_id", F.unix_micros("ts").alias("us"), "value")
            keys = df.columns[:2]
            return df.toArrow().sort_by([(k, "ascending") for k in keys])
        self.num_gets += 1
        if fid is None:
            snap = self._snapshot(self.points_path)
            lo, hi = _epoch_us(start), _epoch_us(end)
        else:
            d = int(fid)
            snap = self._snapshot(self.rollups_path).get(d)
            if snap is None:
                # not a stored level: get() finds no rows either
                return _ROLLUP_READ.empty_table()
            lo, hi = int(start.timestamp()) // d * d, int(end.timestamp())
        return snap.window(ids, lo, hi)

    # --------------------------------------------------------- maintenance
    def compact(self, max_records_per_file: int = 5_000_000) -> None:
        """O8: rewrite accumulated small files into few sorted files
        per partition (the reference's file-sizing targets,
        src/index.py:45-57; Delta OPTIMIZE on a cluster).

        Micro-batch ingest appends one file set per put; compaction
        restores (dataset_id, ts)-sorted files whose parquet min/max
        stats make per-series range scans skip whole row groups.
        """
        for path, part_cols, keys in (
            (self.points_path, ["ds_bucket", "ds_date"], ["dataset_id", "ts"]),
            (self.rollups_path, ["level", "bin_date"], ["dataset_id", "bin_ts"]),
        ):
            if not os.path.exists(path):
                continue
            (
                self._scan(path)
                .localCheckpoint(eager=True)
                .repartition(*part_cols)
                .sortWithinPartitions(*keys)
                .write.mode("overwrite")
                .option("maxRecordsPerFile", max_records_per_file)
                .partitionBy(*part_cols)
                .parquet(path)
            )
            self._invalidate_warm(path)

    # ----------------------------------------------------------- catalog
    def datasets(self, query: str = "", max_count: int = 300) -> DataFrame:
        """P3/C1: substring search over the series catalog; limit
        applied after filtering (reference caps the scan BEFORE the
        filter — quirk fixed, SURVEY.md §4). Served from the
        maintained dimension table (one row per series), falling back
        to a distinct scan of the fact table."""
        if os.path.exists(self.catalog_path):
            out = self._scan(self.catalog_path)
        else:
            out = self._read(self.points_path).select("dataset_id").distinct()
        if query:
            out = out.filter(F.col("dataset_id").contains(query))
        return out.orderBy("dataset_id").limit(max_count)

    def list_datasets(self, query: str = "", max_count: int = 300) -> list[str]:
        """Serving counterpart of datasets() (API GET /api/datasets):
        the same ids as a list. On a warm store with a catalog it is
        answered from the catalog snapshot and runs no Spark job."""
        if not (self._warm_enabled and os.path.exists(self.catalog_path)):
            return [r.dataset_id for r in self.datasets(query, max_count).collect()]
        return [i for i in self._snapshot(self.catalog_path) if query in i][:max_count]
