"""Engine schemas (FIXTURES.md; reference dataclasses).

Reference mapping:
  * Datapoint(date, value)            -> POINTS  (src/model/data.py:8-11)
  * _AggregatedDatapoint(ts,min,max,
    sum,count)                        -> ROLLUP  (src/index.py:69-75)
  * Comment(id, date, text, tags)     -> COMMENTS (src/model/comment.py:8-13)

mean is NOT stored — derived at read as sum_values/count
(src/index.py:588), so partial aggregates merge losslessly.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The sole fact table of the reference (long/narrow — series names are
# dynamic and unbounded, so one column per series is a non-starter).
POINTS_SCHEMA = StructType(
    [
        StructField("dataset_id", StringType(), False),
        StructField("ts", TimestampType(), False),
        StructField("value", DoubleType(), False),
    ]
)

# Materialized rollup rows for fidelity d: bin_ts = floor(epoch(ts)/d)*d.
ROLLUP_SCHEMA = StructType(
    [
        StructField("dataset_id", StringType(), False),
        StructField("bin_ts", LongType(), False),  # epoch seconds (bin start)
        StructField("min_value", DoubleType(), False),
        StructField("max_value", DoubleType(), False),
        StructField("sum_values", DoubleType(), False),
        StructField("count", LongType(), False),
    ]
)

COMMENTS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("text", StringType(), True),
        StructField("tags", ArrayType(StringType()), True),
    ]
)

# Fidelity ladder (src/model/fidelity.py:8-15): FULL plus 6 rollup
# durations in seconds.
FIDELITIES: list[int] = [1, 10, 100, 1000, 10_000, 100_000]

# Dataset-id validity (src/index.py:60,112-115): kept as a data-quality
# ingest check (no path-traversal concern under Spark). Anchored with
# \z, not $: Java's $ (Spark rlike) also matches before a trailing line
# terminator ("abc\n", "abc\u2028"), which the reference's re.fullmatch
# rejects. Java and RE2 (pyarrow.compute) agree on \z, so the Spark
# rule (TelemetryStore._valid_rows) and put's pyarrow check use this
# one constant.
DATASET_ID_PATTERN = r"^[a-zA-Z0-9._-]+\z"
