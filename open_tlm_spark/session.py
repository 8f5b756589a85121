"""SparkSession bootstrap with scale-oriented defaults.

Tuned for correctness parity with the DuckDB oracle (UTC session time
zone; ANSI mode stays at the Spark 4 default — enabled — so both this
session and the driver's plain session fail loudly on div/0 and bad
casts instead of silently NULLing) and for large-cluster behavior
(AQE incl. skew-join handling, partial aggregation pushdown, Arrow
for any pandas exchange).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "open-tlm-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults target local[$SPARK_GRAFT_CPUS] for tests/bench while
    keeping every knob meaningful on a 1000-executor cluster:

    * ``spark.sql.adaptive.enabled`` — runtime re-planning: coalesce
      tiny shuffle partitions, convert sort-merge→broadcast when a
      side turns out small, split skewed partitions.
    * ``spark.sql.shuffle.partitions`` — sized to cores locally; on a
      real cluster AQE coalescing makes the static value forgiving.
    * ``spark.sql.session.timeZone=UTC`` — the reference's
      naive-local-time handling is a documented bug we do NOT
      replicate (SURVEY.md §4); all engine time math is UTC.
    * Arrow enabled — any pandas_udf/mapInPandas path is batched.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Naive (isAdjustedToUTC=false) parquet timestamps must read
        # as TIMESTAMP_LTZ (session tz is pinned UTC), matching how
        # the DuckDB oracle and the reference treat naive time. The
        # Spark 4 default infers TIMESTAMP_NTZ, which breaks
        # unix_micros()/epoch math and shifts window semantics.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Deep Catalyst/codegen/regex recursion (e.g. streaming
        # micro-batch planning) can blow the default 512k-1m thread
        # stack in a busy local JVM; give threads real headroom.
        .config("spark.driver.extraJavaOptions", "-Xss32m")
        # ContextCleaner only learns references died on a JVM GC; with
        # a 16g heap and many queries per session, localCheckpoint /
        # broadcast blocks otherwise linger until memory pressure
        # forces eviction mid-query. A periodic GC keeps cleanup off
        # the query critical path (default is 30min).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "128m")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def empty_frame(spark: SparkSession, schema) -> DataFrame:
    """An empty frame of a StructType or DDL schema, built from an empty
    Arrow table so that it plans a LocalTableScan; createDataFrame([],
    schema) plans a Python RDD scan (Scan ExistingRDD) instead."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    return spark.createDataFrame(to_arrow_schema(schema).empty_table())


def _nanos_ts_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) — Spark has no nanos
    timestamp type, so these are read as raw longs and converted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


# Natural cluster key per table: range-partitioning + within-file sort
# on it gives the rewritten layout real min/max row-group statistics,
# so time/date range predicates prune files AND row groups.
_SORT_KEYS = {"events": "ts", "lineitem": "l_shipdate", "orders": "o_orderdate"}

# Below this row count a single-split table is cheaper to scan as-is
# than to re-lay-out (covers the tiny sf0.001/sf0.01 gate tables).
# Env-overridable so the layout's effect can be A/B-benched.
_LAYOUT_MIN_ROWS = int(os.environ.get("SPARK_GRAFT_LAYOUT_MIN_ROWS", 50_000))


def _normalize_table(
    spark: SparkSession,
    name: str,
    path: str,
    ns_cols: list[str],
    n_parts: int,
) -> str:
    """One-time physical normalization into a local cache, atomically.

    Two triggers, both ingest-boundary concerns a production pipeline
    fixes once rather than per query:

    * TIMESTAMP(NANOS) columns — Spark reads them as raw longs, and
      wrapping in timestamp_micros(col div 1000) makes every time
      predicate a function of the column, killing parquet pushdown /
      row-group skipping. Rewriting as native µs TIMESTAMP restores
      both (lossless: the data has no sub-µs precision).
    * Single-row-group files — one row group = ONE Spark input split
      no matter the byte-range splitting, so every scan (and all
      narrow compute above it, e.g. the TPC-H partial aggregates)
      runs on one core. Re-laying-out into defaultParallelism files,
      range-partitioned + sorted on the table's natural key
      (_SORT_KEYS), is the standard compaction/file-sizing step; at
      warehouse scale inputs already have thousands of row groups and
      this path never triggers.
    """
    from pyspark.sql import functions as F

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_key = os.path.basename(os.path.normpath(os.path.dirname(path)))
    cache = os.path.join(repo_root, ".tlm_cache", sf_key, os.path.basename(path))
    # Staleness guard: the driver regenerates testdata between rounds;
    # a cache keyed only by path would silently serve the OLD data.
    st = os.stat(path)
    src_sig = f"{st.st_mtime_ns}:{st.st_size}"
    marker = f"{cache}.src"
    if os.path.exists(cache) and os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() != src_sig:
                import shutil

                shutil.rmtree(cache, ignore_errors=True)
                os.unlink(marker)
    elif os.path.exists(cache):  # pre-marker cache: rebuild once
        import shutil

        shutil.rmtree(cache, ignore_errors=True)
    if not os.path.exists(cache):
        df = spark.read.parquet(path)
        for c in ns_cols:
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        key = _SORT_KEYS.get(name)
        if key is not None:
            df = df.repartitionByRange(n_parts, key).sortWithinPartitions(key)
        else:
            df = df.repartition(n_parts)
        tmp = f"{cache}.tmp.{os.getpid()}"
        df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, cache)  # atomic publish; loser of a race cleans up
            with open(marker, "w") as fh:
                fh.write(src_sig)
        except OSError:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return cache


def fan_out(df, min_parts: int | None = None):
    """Ensure enough input splits ahead of expensive narrow compute
    (tokenize/shingle/md5/vector math).

    A small single-file, single-rowgroup parquet table arrives as ONE
    split, so everything before the first shuffle runs on one core —
    measured 3x slower on the shingle pipeline at sf0.1. At warehouse
    scale inputs have thousands of splits and this is a no-op (the
    partition count check short-circuits, no shuffle is added); it
    only round-robins data when the scan itself can't provide
    parallelism, which is exactly when the data is small enough for
    that shuffle to be free.
    """
    n = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n)


_LOADED: dict[tuple[int, str], dict] = {}
# session id -> the sf_dir its temp views CURRENTLY point at. The
# (session, sf_dir) memo alone is not enough: temp views are global
# per session, so after a session visits sf A then sf B, a later
# load_tables(A) used to short-circuit on the memo and silently leave
# every view bound to B — any query (or session-shared view build)
# run "at A" then computed against B's data. Found in round 14 when
# the new shared order-basket view was first built by a test that ran
# after another scale factor had re-bound the views, poisoning the
# sf0.001 cache key with foreign-sf baskets.
_ACTIVE: dict[int, str] = {}


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load the driver's parquet tables and register temp views.

    Returns {name: DataFrame}. Views let every operator also be
    reachable through ``spark.sql`` (SURVEY.md §7 phase 4).

    Tables with TIMESTAMP(NANOS) columns (unreadable natively by
    Spark) are normalized once into .tlm_cache with µs timestamps —
    see _normalize_nanos_table for why this beats an in-plan
    conversion.
    """
    key = (id(spark), os.path.normpath(sf_dir))
    if key in _LOADED and _ACTIVE.get(id(spark)) == key[1]:
        return _LOADED[key]  # views already registered AND current
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Caller sessions may carry the Spark 4 default (infer NTZ);
    # engine invariant is naive parquet time == UTC instant (LTZ).
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Engine invariant (SURVEY.md §4): all time math is UTC. The
    # caller's session may default to a local JVM tz, which would
    # shift naive-datetime output vs the DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    import pyarrow.parquet as pq

    n_parts = spark.sparkContext.defaultParallelism
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        ns_cols = _nanos_ts_columns(path)
        meta = pq.ParquetFile(path).metadata
        needs_layout = (
            meta.num_rows >= _LAYOUT_MIN_ROWS
            and meta.num_row_groups < n_parts
        )
        if ns_cols or needs_layout:
            path = _normalize_table(spark, name, path, ns_cols, n_parts)
        df = spark.read.parquet(path)
        df.createOrReplaceTempView(name)
        out[name] = df
    _LOADED[key] = out
    _ACTIVE[id(spark)] = key[1]
    return out
