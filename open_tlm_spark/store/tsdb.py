"""TelemetryStore — Parquet-backed (time, value) series store.

Reference parity (SURVEY.md §1.4, §3):
  * Index.put  (src/index.py:102-177)  -> put(): validate -> dedup ->
    append raw points (partitioned, sorted-within-partition for
    Parquet min/max locality) -> upsert all rollup levels. The
    reference rewrites its six levels in six passes; put() merges all
    six in ONE aggregation and runs a fixed number of Spark actions
    per call, however many levels there are.
  * Index.get  (src/index.py:179-217)  -> get(): fidelity routing +
    exact time-range filter. The reference returns whole overlapping
    *files* (coarse, documented quirk); we return exact ranges —
    Catalyst partition pruning + Parquet row-group skipping replace
    the reference's arithmetic file enumeration (_subpaths,
    src/index.py:408-458) wholesale.
  * Index.datasets (src/index.py:219-239) -> datasets(): substring
    search over the dataset catalog, limit applied AFTER the filter
    (the reference caps scanned entries before filtering — documented
    quirk we fix).

Physical layout (designed for 100 TB):
  points/   partitioned by ds_bucket (crc32 of dataset_id) and ds_date
            (UTC day of ts). Within a partition, rows are sorted by
            (dataset_id, ts) at write so Parquet column stats make
            per-series range scans skip row groups.
  rollup_<d>/ partitioned by bin_date (UTC day of the bin start);
            tiny relative to raw (≈1/d), so read-merge-overwrite of
            the touched partitions is cheap — this is the
            unbounded-lateness upsert (SURVEY.md ST3) that pure
            watermarked streaming cannot express.
  datasets/ the catalog: one row per dataset_id ever written.

Every read passes the table's known schema (the *_DDL constants), so
no scan starts a Parquet schema-inference job.
"""

from __future__ import annotations

import datetime as _dt
import contextlib
import os
import threading
import zlib
from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.functions.time import floor_to
from open_tlm_spark.operators.rollup import (
    aggregate_points,
    recommended_fidelity,
    with_mean,
)
from open_tlm_spark.schemas import (
    DATASET_ID_PATTERN,
    FIDELITIES,
    POINTS_SCHEMA,
)

# On-disk schemas, partition columns last (see the layout above).
_POINTS_DDL = (
    "dataset_id string, ts timestamp, value double, ds_bucket int, ds_date date"
)
_ROLLUP_DDL = (
    "dataset_id string, bin_ts bigint, min_value double, max_value double, "
    "sum_values double, count bigint, bin_date date"
)
_CATALOG_DDL = "dataset_id string"


def _bin_date(bin_ts: Column) -> Column:
    """UTC day of a bin start: the rollup partition key."""
    return F.to_date(F.timestamp_seconds(bin_ts))


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


def _ds_bucket(dataset_id: str, n_buckets: int) -> int:
    """Bucket id of a series — crc32, which Python's zlib and Spark's
    F.crc32 compute identically, so the query side can prune to one
    bucket without running a Spark job."""
    import zlib

    return zlib.crc32(dataset_id.encode("utf-8")) % n_buckets


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
        self.catalog_path = os.path.join(base_path, "datasets")
        # Interactive warm cache: path -> pinned (cached+materialized)
        # DataFrame. Off by default; enable with warm(). Serving from
        # an InMemoryRelation skips file listing, parquet decode, and
        # footer reads — the difference between ~600 ms and tens of ms
        # per read on a hot store (HEADTOHEAD.md).
        self._warm_frames: dict[str, DataFrame] = {}
        self._warm_views: dict[str, str] = {}
        # Superseded warm frames awaiting unpersist (grace GC — see
        # _invalidate_warm).
        self._retired_warm: dict[str, DataFrame] = {}
        self._warm_enabled = False
        # A9/S12 self-telemetry counters (the reference's num_puts /
        # num_gets, src/metrics/loop.py:59-61) — sampled into the
        # store itself by flush_metrics().
        self.num_puts = 0
        self.num_gets = 0

    # ------------------------------------------------------------- paths
    def _rollup_path(self, duration_s: int) -> str:
        return os.path.join(self.base, f"rollup_{duration_s}")

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
        if self._warm_enabled:
            hit = self._warm_frames.get(path)
            if hit is not None:
                return hit
        if not os.path.exists(path):
            return self.spark.createDataFrame([], self._schema(path))
        df = self._scan(path)
        if self._warm_enabled:
            # lazily (re-)warm a level that was invalidated by ingest
            df = self._warm_layout(path, df).cache()
            df.count()
            self._warm_frames[path] = df
            # registered view backs read_window's single-statement
            # fast path (one spark.sql call per interactive request
            # instead of a py4j expression-tree build)
            view = self._warm_view_name(path)
            df.createOrReplaceTempView(view)
            self._warm_views[path] = view
        return df

    # ------------------------------------------------- interactive cache
    # Cached-partition count for the raw points frame. Small on
    # purpose: an interactive job's wall time is dominated by task
    # scheduling, and in-memory batch min/max stats (rows clustered by
    # dataset_id, ts) prune the non-matching partitions' batches
    # anyway. Measured on a 5M-point warm store: re-collecting an
    # already-built plan takes ~55 ms; a FRESH interactive request
    # adds ~35-50 ms of DataFrame build + Catalyst compile on top
    # (~90 ms median end-to-end with the slim warm predicate —
    # HEADTOHEAD.md), a fixed cost independent of store size.
    WARM_POINTS_PARTITIONS = 4

    def _warm_layout(self, path: str, df: DataFrame) -> DataFrame:
        """Cluster a frame before pinning so in-memory batch stats
        prune: points hash-clustered by series, everything else (tiny
        rollup/catalog frames) a single sorted partition."""
        if path == self.points_path:
            return df.repartition(
                self.WARM_POINTS_PARTITIONS, F.col("dataset_id")
            ).sortWithinPartitions("dataset_id", "ts")
        if "bin_ts" in df.columns:
            return df.coalesce(1).sortWithinPartitions("dataset_id", "bin_ts")
        return df.coalesce(1)

    def warm(self, fidelities: list[int] | None = None, points: bool = False) -> None:
        """Pin hot read paths in memory for interactive serving (the
        reference holds its whole store in process RAM; this is the
        equivalent for the API shim, scoped to the levels a dashboard
        actually hits). Rollup levels are tiny (≈raw/d rows); raw
        points are opt-in. Ingest invalidates only the touched paths;
        they re-warm lazily on next read."""
        self._warm_enabled = True
        paths = [self._rollup_path(d) for d in (fidelities or FIDELITIES)]
        paths.append(self.catalog_path)
        if points:
            paths.append(self.points_path)
        for p in paths:
            if os.path.exists(p):
                self._read(p)  # populates the cache

    def _warm_view_name(self, path: str) -> str:
        """Deterministic temp-view name for a warm level: store tag
        (crc32 of the base dir, so several stores can share one
        session) + the level's directory name."""
        tag = zlib.crc32(self.base.encode()) & 0xFFFFFFFF
        return f"tlm_warm_{tag:08x}_{os.path.basename(path)}"

    def _invalidate_warm(self, path: str) -> None:
        """Retire the pinned frame for a rewritten path WITHOUT
        unpersisting it immediately: a lock-free reader that already
        resolved this frame would otherwise recompute from lineage
        against files the overwrite just replaced (missing-file
        errors / partial results). The superseded frame stays cached
        until the NEXT invalidation of the same path — one full
        ingest cycle of grace — then is unpersisted. Costs at most
        one extra pinned copy per recently-rewritten path; readers
        racing TWO complete ingests remain the documented
        single-writer-shim limitation."""
        prev = self._retired_warm.pop(path, None)
        if prev is not None:
            prev.unpersist()
        df = self._warm_frames.pop(path, None)
        if df is not None:
            self._retired_warm[path] = df

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

    def put(self, batch: DataFrame, _count: bool = True) -> None:
        """S6: append raw points and upsert every rollup level, in a
        fixed number of Spark actions that does not grow with the
        number of levels:

          1. one key collect over the valid rows: the touched raw
             ds_dates, each level's touched bin_dates and the
             dataset_ids the catalog lacks (empty -> nothing to do);
          2. anti-join against the stored points of those dates, then
             an eager checkpoint (the lineage cut before the append);
          3. the raw append;
          4. one plan aggregates the batch to the 1 s level, then
             merges every level's partials with its stored rows in one
             aggregation, then one eager checkpoint;
          5. one dynamic-overwrite write per level from that checkpoint;
          6. a catalog rewrite, only when the batch brings new ids.

        _count=False exempts internal writes (metric flushes) from the
        num_puts counter, so the published series counts client puts.
        """
        if _count:
            self.num_puts += 1
        # duplicates add no key, so this collect skips validate's
        # dedup shuffle
        raw_dates, bin_dates, new_ids = self._touched_keys(self._valid_rows(batch))
        batch = self.validate(batch).select("dataset_id", "ts", "value")
        if not raw_dates:
            return  # nothing valid to ingest (also: empty micro-batches)
        # Cross-batch idempotence (ST5): anti-join against the stored
        # points of the touched date-partitions only (partition-pruned
        # read — never a full-table scan), so re-sent points neither
        # duplicate raw storage nor double-count rollups. The
        # reference double-counts here (src/index.py:39-40).
        if os.path.exists(self.points_path):
            existing = (
                self._scan(self.points_path)
                .filter(F.col("ds_date").isin(raw_dates))
                .select("dataset_id", "ts")
            )
            batch = batch.join(existing, ["dataset_id", "ts"], "left_anti")
        # Freeze the (validated, deduped) batch NOW: the anti-join above
        # must not re-evaluate after the append below, or it would see
        # the batch's own rows in storage and erase itself from the
        # rollup merge.
        batch = batch.localCheckpoint(eager=True)
        (
            batch.withColumn(
                "ds_bucket",
                F.pmod(F.crc32(F.encode("dataset_id", "UTF-8")), F.lit(self.n_buckets))
                .cast("int"),
            )
            .withColumn("ds_date", F.to_date("ts"))
            .sortWithinPartitions("dataset_id", "ts")
            .write.mode("append")
            .partitionBy("ds_bucket", "ds_date")
            .parquet(self.points_path)
        )
        self._invalidate_warm(self.points_path)
        self._merge_rollups(batch, bin_dates)
        if new_ids:
            self._merge_catalog(new_ids)

    def _touched_keys(
        self, batch: DataFrame
    ) -> tuple[list[_dt.date], dict[int, list[_dt.date]], list[str]]:
        """One collect over the valid rows: the distinct raw
        ds_dates, the distinct bin_dates per level duration and the
        dataset_ids missing from the catalog. The bins are the ones
        the merge assigns, so the touched partitions are exact."""
        new_id = F.col("dataset_id")
        if os.path.exists(self.catalog_path):
            known = self._scan(self.catalog_path).select(
                "dataset_id", F.lit(True).alias("_known")
            )
            batch = batch.join(known, "dataset_id", "left")
            new_id = F.when(F.col("_known").isNull(), new_id)
        row = batch.agg(
            F.collect_set(F.to_date("ts")).alias("raw"),
            F.collect_set(new_id).alias("new_ids"),
            *[
                F.collect_set(_bin_date(floor_to("ts", d))).alias(str(d))
                for d in FIDELITIES
            ],
        ).first()
        return row["raw"], {d: row[str(d)] for d in FIDELITIES}, row["new_ids"]

    def flush_metrics(
        self, ts: _dt.datetime, prefix: str = "tlm.metrics"
    ) -> None:
        """A9/S12: sample the store's own counters into the store as
        first-class series (<prefix>.num_puts / <prefix>.num_gets) —
        the reference's metrics loop snapshots its counters every
        flush interval and posts them through the normal ingest path
        (src/metrics/loop.py:59-61). The flush put itself is exempt
        from num_puts (client-call semantics)."""
        rows = [
            (f"{prefix}.num_puts", _as_utc(ts), float(self.num_puts)),
            (f"{prefix}.num_gets", _as_utc(ts), float(self.num_gets)),
        ]
        self.put(
            self.spark.createDataFrame(rows, POINTS_SCHEMA), _count=False
        )

    def _merge_catalog(self, new_ids: list[str]) -> None:
        """C1: maintain the dataset catalog as a tiny dimension table
        (the reference's catalog is the data/full/ directory listing,
        src/index.py:231-239). Search then scans a frame with one row
        per series ever written — never the fact table. Called only
        with ids the catalog does not hold yet."""
        path = self.catalog_path
        # an Arrow table, not Python rows: no Python worker reads it
        merged = self.spark.createDataFrame(
            pa.table({"dataset_id": pa.array(sorted(new_ids), pa.string())})
        )
        if os.path.exists(path):
            # eager checkpoint: the plan reads the path it overwrites
            merged = (
                self._scan(path).unionByName(merged).localCheckpoint(eager=True)
            )
        merged.coalesce(1).write.mode("overwrite").parquet(path)
        self._invalidate_warm(path)

    def _merge_rollups(
        self, points: DataFrame, bin_dates: dict[int, list[_dt.date]]
    ) -> None:
        """A1-A3/ST3: algebraic merge of every level in one plan.

        The batch is aggregated once into the finest level (A1); each
        1 s partial then enters every level at its bin, floor(bin_ts /
        d) * d (exact integer arithmetic; validate drops pre-epoch
        points), as a cascade inside the plan (A3). The stored rows of
        each level's touched bin_date partitions join them in the same
        union, and one aggregation on (level, dataset_id, bin_ts)
        merges both — min(min), max(max), sum(sum), sum(count), so
        combine(agg(A), agg(B)) == agg(A ∪ B). The result is
        checkpointed once (it reads the paths about to be
        overwritten), then each level overwrites only its touched
        partitions (partitionOverwriteMode=dynamic). On a cluster with
        Delta each level's write is a MERGE INTO rollup_d ON
        (dataset_id, bin_ts)."""
        fine = aggregate_points(points, FIDELITIES[0]).withColumnRenamed(
            "bin_ts", "fine_ts"
        )
        bins = F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("level"),
                        (F.col("fine_ts") - F.col("fine_ts") % d).alias("bin_ts"),
                    )
                    for d in FIDELITIES
                ]
            )
        )
        parts = [
            fine.select("*", bins).select(
                "level",
                "dataset_id",
                "bin_ts",
                "min_value",
                "max_value",
                "sum_values",
                "count",
            )
        ]
        for d in FIDELITIES:
            path = self._rollup_path(d)
            if os.path.exists(path):
                parts.append(
                    self._scan(path)
                    .filter(F.col("bin_date").isin(bin_dates[d]))
                    .select(
                        F.lit(d).alias("level"),
                        "dataset_id",
                        "bin_ts",
                        "min_value",
                        "max_value",
                        "sum_values",
                        "count",
                    )
                )
        merged = (
            reduce(DataFrame.unionByName, parts)
            .groupBy("level", "dataset_id", "bin_ts")
            .agg(
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
                F.sum("sum_values").alias("sum_values"),
                F.sum("count").alias("count"),
            )
            .withColumn("bin_date", _bin_date(F.col("bin_ts")))
            .localCheckpoint(eager=True)
        )
        for d in FIDELITIES:
            path = self._rollup_path(d)
            (
                merged.filter(F.col("level") == d)
                .drop("level")
                .write.mode("overwrite")
                # per-write dynamic overwrite: rewrite only the
                # partitions this batch touches, without mutating
                # session-global conf
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bin_date")
                .parquet(path)
            )
            self._invalidate_warm(path)

    # ------------------------------------------------------------- query
    # O4/T5: reject queries whose routed result would exceed this many
    # rows (the reference hard-fails range queries touching >500 files
    # = ~2.5M raw points, src/index.py:414,445-448). Auto-routing (O2)
    # makes the guard moot in practice — it only trips on explicit
    # fidelity overrides.
    MAX_RESULT_POINTS = 2_500_000

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
        sampling pass — it roughly doubles warm interactive latency);
        the API shim orders its bounded result driver-side instead.
        """
        self.num_gets += 1
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
        if fidelity is None:
            warm_hit = (
                self._warm_enabled and self.points_path in self._warm_frames
            )
            df = self._read(self.points_path)
            cond = F.col("ts").between(F.lit(start), F.lit(end))
            if ids is not None:
                cond = cond & F.col("dataset_id").isin(ids)
            # Explicit bound on the PARTITION column: Catalyst cannot
            # derive ds_date limits from the ts predicate, and without
            # them a narrow scan lists every day partition
            # (PartitionFilters: [] — caught by tools/scale_smoke.py).
            # Skipped on a warm hit: the partition columns are exactly
            # derived from ts/dataset_id (redundant on an in-memory
            # frame whose batch stats prune on those directly), and a
            # leaner tree cuts ~35 ms of per-request plan compile —
            # the fixed cost that dominates interactive latency.
            if "ds_date" in df.columns and not warm_hit:
                cond = cond & F.col("ds_date").between(
                    F.lit(_utc_date(start)), F.lit(_utc_date(end))
                )
            if "ds_bucket" in df.columns and ids is not None and not warm_hit:
                # driver-side crc32 == Spark's -> prune to the id set's buckets
                cond = cond & F.col("ds_bucket").isin(
                    sorted({_ds_bucket(i, self.n_buckets) for i in ids})
                )
            out = df.filter(cond).select("dataset_id", "ts", "value")
            return out.orderBy("dataset_id", "ts") if ordered else out
        d = int(fidelity)
        rollup_path = self._rollup_path(d)
        warm_hit = self._warm_enabled and rollup_path in self._warm_frames
        df = self._read(rollup_path)
        # A bin labeled bin_ts covers [bin_ts, bin_ts+d): return every
        # bin whose window overlaps [start, end] — floor the lower
        # bound to the bin grid (the bin containing `start` counts).
        lo = int(start.timestamp()) // d * d
        cond = (F.col("bin_ts") >= lo) & (F.col("bin_ts") <= int(end.timestamp()))
        if ids is not None:
            cond = cond & F.col("dataset_id").isin(ids)
        # partition pruning (see FULL path; skipped on warm hits)
        if "bin_date" in df.columns and not warm_hit:
            cond = cond & F.col("bin_date").between(
                F.lit(
                    _dt.datetime.fromtimestamp(lo, tz=_dt.timezone.utc).date()
                ),
                F.lit(_utc_date(end)),
            )
        out = (
            with_mean(df)
            .filter(cond)
            .select(
                "dataset_id",
                "bin_ts",
                "min_value",
                "mean_value",
                "max_value",
                "sum_values",
                "count",
            )
        )
        return out.orderBy("dataset_id", "bin_ts") if ordered else out

    def read_window(
        self,
        dataset_id: str | list[str] | None,
        start: _dt.datetime,
        end: _dt.datetime,
        fidelity: int | str | None = "auto",
        max_result_points: int | None = MAX_RESULT_POINTS,
    ) -> list:
        """Interactive serving path (API GET /api/data, head-to-head
        harness): the same rows as get(..., ordered=False) returned as
        a DRIVER-SORTED list, engineered against the fixed per-request
        floor that dominates bounded warm reads (HEADTOHEAD.md):

          * warm levels are pre-registered temp views, so a fresh
            window is ONE spark.sql statement instead of a py4j-built
            expression tree (~20 ms of driver chatter saved);
          * AQE is toggled off around the micro-plan — an in-memory
            scan+filter+project gains nothing from adaptive
            re-planning and pays its per-query wrapper (measured
            ~20-50 ms at 5M points). Session-scoped toggle: safe for
            the single-writer API shim; a concurrent analytic query
            in the same instant would only plan non-adaptively once;
          * the bounded result (fan-out guard) sorts in the driver — a
            Spark range-exchange would roughly double the latency.

        Cold levels fall back to get().collect(). Raw rows carry an
        extra `us` (epoch-microsecond) column so the API needn't build
        a second projection."""
        ids = (
            None
            if dataset_id is None
            else [dataset_id]
            if isinstance(dataset_id, str)
            else list(dataset_id)
        )
        start_u, end_u = _as_utc(start), _as_utc(end)
        fid = fidelity
        if fid == "auto":
            fid = recommended_fidelity((end_u - start_u).total_seconds())
        path = (
            self.points_path if fid is None else self._rollup_path(int(fid))
        )
        warm_hit = (
            self._warm_enabled
            and path in self._warm_views
            and path in self._warm_frames
        )
        if not warm_hit:
            df = self.get(
                dataset_id, start, end, fid, max_result_points, ordered=False
            )
            if fid is None:
                rows = df.select(
                    "dataset_id",
                    "ts",
                    F.unix_micros("ts").alias("us"),
                    "value",
                ).collect()
                return sorted(rows, key=lambda r: (r.dataset_id, r.us))
            return sorted(
                df.collect(), key=lambda r: (r.dataset_id, r.bin_ts)
            )
        if max_result_points is not None and ids is not None:
            span = (end_u - start_u).total_seconds() * len(ids)
            est = span * 10 if fid is None else span / int(fid)
            if est > max_result_points:
                raise ValueError(
                    f"range query would return ~{int(est)} points at "
                    f"fidelity={fid} (> {max_result_points}); pick a "
                    "coarser fidelity or use auto-routing"
                )
        self.num_gets += 1
        view = self._warm_views[path]
        id_pred = ""
        if ids is not None:
            quoted = ", ".join(
                "'" + i.replace("'", "''") + "'" for i in ids
            )
            id_pred = f" AND dataset_id IN ({quoted})"
        if fid is None:
            # integer-microsecond literals: exact (timedelta floor
            # division, no float round-trip), timezone-independent
            # (no TIMESTAMP-string parsing in session tz), and ~75 ms
            # faster per request than spark.sql parameter binding
            # (measured at 5M points — the args path dominates the
            # whole read)
            epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
            one_us = _dt.timedelta(microseconds=1)
            s_us = (start_u - epoch) // one_us
            e_us = (end_u - epoch) // one_us
            sql = (
                "SELECT dataset_id, ts, unix_micros(ts) AS us, value "
                f"FROM {view} WHERE ts BETWEEN timestamp_micros({s_us}) "
                f"AND timestamp_micros({e_us}){id_pred}"
            )
            key = lambda r: (r.dataset_id, r.us)  # noqa: E731
        else:
            d = int(fid)
            lo = int(start_u.timestamp()) // d * d
            sql = (
                "SELECT dataset_id, bin_ts, min_value, "
                "sum_values / `count` AS mean_value, max_value, "
                f"sum_values, `count` FROM {view} "
                f"WHERE bin_ts BETWEEN {lo} AND {int(end_u.timestamp())}"
                f"{id_pred}"
            )
            key = lambda r: (r.dataset_id, r.bin_ts)  # noqa: E731
        with self._no_aqe():
            rows = self.spark.sql(sql).collect()
        return sorted(rows, key=key)

    # ThreadingHTTPServer serves reads concurrently; a naive
    # save/set/restore of the AQE flag races (reader B can snapshot
    # reader A's temporary "false" as its restore value and disable
    # AQE for the whole session). Depth-counted: only the outermost
    # reader toggles and restores. spark.conf is PER-SESSION, so the
    # depth/prev state is keyed by the SparkSession too (ADVICE r7:
    # class-global state let stores bound to two sessions restore the
    # wrong session with the wrong snapshot); entries evict when the
    # outermost reader of that session exits.
    _aqe_lock = threading.Lock()
    _aqe_state: dict[int, list] = {}  # id(session) -> [depth, prev]

    @contextlib.contextmanager
    def _no_aqe(self):
        cls = TelemetryStore
        conf = self.spark.conf
        sid = id(self.spark)
        with cls._aqe_lock:
            st = cls._aqe_state.get(sid)
            if st is None:
                st = cls._aqe_state[sid] = [
                    0,
                    conf.get("spark.sql.adaptive.enabled"),
                ]
                conf.set("spark.sql.adaptive.enabled", "false")
            st[0] += 1
        try:
            yield
        finally:
            with cls._aqe_lock:
                st = cls._aqe_state[sid]
                st[0] -= 1
                if st[0] == 0:
                    conf.set("spark.sql.adaptive.enabled", st[1])
                    del cls._aqe_state[sid]

    # --------------------------------------------------------- maintenance
    def compact(self, max_records_per_file: int = 5_000_000) -> None:
        """O8: rewrite accumulated small files into few sorted files
        per partition (the reference's file-sizing targets,
        src/index.py:45-57; Delta OPTIMIZE on a cluster).

        Micro-batch ingest appends one file set per put; compaction
        restores (dataset_id, ts)-sorted files whose parquet min/max
        stats make per-series range scans skip whole row groups.
        """
        targets = [self.points_path] + [
            self._rollup_path(d) for d in FIDELITIES
        ]
        sort_keys = {self.points_path: ["dataset_id", "ts"]}
        for path in targets:
            if not os.path.exists(path):
                continue
            df = self._scan(path).localCheckpoint(eager=True)
            part_cols = (
                ["ds_bucket", "ds_date"]
                if path == self.points_path
                else ["bin_date"]
            )
            keys = sort_keys.get(path, ["dataset_id", "bin_ts"])
            (
                df.repartition(*[F.col(c) for c in part_cols])
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
            out = self._read(self.catalog_path)  # warm-cache aware
        else:
            out = self._read(self.points_path).select("dataset_id").distinct()
        if query:
            out = out.filter(F.col("dataset_id").contains(query))
        return out.orderBy("dataset_id").limit(max_count)
