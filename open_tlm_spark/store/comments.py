"""CommentStore — time-anchored annotations with tag filtering.

Reference parity (src/marks.py):
  * Marks.put/update/delete (src/marks.py:65-142) -> CRUD on a small
    Parquet table (at cluster scale this would be a Delta table for
    ACID DML; plain overwrite is equivalent for a single writer).
  * Marks.get (src/marks.py:34-63) -> range + all-tags-present filter,
    ordered limit. Tags are a real ArrayType instead of the
    reference's comma-joined string (src/marks.py:163-181), so the
    ';'-forbidden-character codec artifact disappears.
"""

from __future__ import annotations

import datetime as _dt
import os
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.schemas import COMMENTS_SCHEMA
from open_tlm_spark.session import empty_frame
from open_tlm_spark.store.tsdb import _as_utc, _epoch_us


class CommentStore:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.path = os.path.join(base_path, "comments")

    # Atomic swap protocol (single-writer Delta-lite): each rewrite
    # lands in a fresh versioned directory, then a pointer file is
    # flipped with os.replace (atomic on POSIX). A crash at ANY point
    # leaves the pointer naming a complete older version — the table
    # can never be lost, and each rewrite is ONE parquet write (the
    # old write-tmp/re-read/overwrite did two and had a loss window).
    _POINTER = "_CURRENT"

    def _current_dir(self) -> str | None:
        ptr = os.path.join(self.path, self._POINTER)
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            version = f.read().strip()
        d = os.path.join(self.path, version)
        return d if os.path.exists(d) else None

    def _read(self) -> DataFrame:
        d = self._current_dir()
        if d is None:
            return empty_frame(self.spark, COMMENTS_SCHEMA)
        return self.spark.read.parquet(d)

    def _write(self, df: DataFrame) -> None:
        # Small-table rewrite; storage order is irrelevant (query-time
        # orderBy replaces the reference's sorted-file invariant, T2).
        os.makedirs(self.path, exist_ok=True)
        old = self._current_dir()
        version = f"v{time.time_ns()}"
        df.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(self.path, version)
        )
        ptr = os.path.join(self.path, self._POINTER)
        tmp = ptr + f".{version}.tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, ptr)  # atomic flip — commit point
        # Lazy GC: keep the immediately-superseded version (a
        # lock-free reader that resolved _current_dir() just before
        # the flip may still be listing/opening its files) and delete
        # only versions older than N-1. A reader is only broken if
        # TWO full writes complete inside its single read — the
        # accepted single-writer-shim grace window.
        import shutil

        keep = {version, os.path.basename(old)} if old else {version}
        for name in os.listdir(self.path):
            if name.startswith("v") and name not in keep:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)

    def create(self, ts: _dt.datetime, text: str, tags: list[str]) -> int:
        """C3 create; id generation mirrors the reference's
        time.time_ns() (src/marks.py:82)."""
        cid = time.time_ns()
        # an Arrow table, not a Python row: no Python worker reads it
        new = self.spark.createDataFrame(
            pa.table(
                {
                    "id": pa.array([cid], pa.int64()),
                    "ts": pa.array([_epoch_us(ts)], pa.timestamp("us", tz="UTC")),
                    "text": pa.array([text], pa.string()),
                    "tags": pa.array([tags], pa.list_(pa.string())),
                }
            )
        )
        self._write(self._read().unionByName(new))
        return cid

    def update(self, cid: int, text: str | None = None, tags: list[str] | None = None) -> None:
        df = self._read()
        if text is not None:
            df = df.withColumn(
                "text", F.when(F.col("id") == cid, F.lit(text)).otherwise(F.col("text"))
            )
        if tags is not None:
            df = df.withColumn(
                "tags",
                F.when(F.col("id") == cid, F.array(*[F.lit(t) for t in tags])).otherwise(
                    F.col("tags")
                ),
            )
        self._write(df)

    def delete(self, cid: int) -> None:
        self._write(self._read().filter(F.col("id") != cid))

    def get(
        self,
        start: _dt.datetime,
        end: _dt.datetime,
        tags: list[str] | None = None,
        max_hits: int = 20,
    ) -> DataFrame:
        """P4/T4: range scan + all-query-tags-present, top-k by time.

        all-tags-present = size(array_intersect(tags, query)) ==
        size(query); Spark plans the ordered limit as
        TakeOrderedAndProject (the reference's early-exit, O9).
        """
        df = self._read().filter(
            F.col("ts").between(F.lit(_as_utc(start)), F.lit(_as_utc(end)))
        )
        if tags:
            qt = F.array(*[F.lit(t) for t in tags])
            df = df.filter(F.size(F.array_intersect(F.col("tags"), qt)) == len(tags))
        return df.orderBy("ts").limit(max_hits)
