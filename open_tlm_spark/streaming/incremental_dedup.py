"""Incremental (streaming) MinHash-LSH dedup against a signature store.

The live companion of the batch `dedup_incremental_minhash` gate query
(plans/hygiene_queries.py): documents arrive in micro-batches; each
batch's MinHash band table is checked against everything that arrived
EARLIER (the accumulated band store, plus lower-doc_id rows of the
same batch), flagged duplicates are appended to a flags table, and the
batch's bands are merged into the store. Replaying the same documents
in any micro-batch partitioning yields the identical flag set as the
batch query — the equivalence a curation pipeline relies on when it
switches between nightly batch dedup and continuous intake
(tests/test_streaming_incremental_dedup.py proves live == batch).

Beyond reference parity: the reference ingests duplicates verbatim
(src/index.py:39-40); this is north-star pipeline capability.

Scale (100 TB): the signature store holds BANDS, not text — 4 rows of
~40 bytes per document, parquet partitioned by arrival epoch. The
per-batch probe is an equi-join keyed on (band_id, band_key); with the
store bucketed by band_key the probe co-locates without a full
shuffle, and the batch side is micro-batch-sized. State never revisits
old text: a document's storage cost in the dedup path is its band
rows, period. Writes use dynamic partition overwrite on the epoch
partition and the store probe excludes rows of the current epoch, so a
micro-batch replayed after a crash (foreachBatch is at-least-once)
replaces its own partition instead of double-appending and never
matches against its own earlier attempt.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.operators import dedup as D
from open_tlm_spark.session import empty_frame

# Encodes arrival order into one sortable key: epoch*1e9 + doc_id
# (same encoding as the batch gate query's first_partner_key).
_EPOCH_BASE = 1_000_000_000

BAND_SCHEMA = "doc_id bigint, epoch bigint, band_id int, band_key string"
FLAG_SCHEMA = "doc_id bigint, epoch bigint, first_partner_key bigint"


class IncrementalDeduper:
    """Band-store-backed incremental near-dup detector.

    process_batch() is the unit of arrival: rows within one batch are
    ordered by doc_id; whole batches are ordered by their epoch
    number. Designed to be called from foreachBatch (epoch =
    batch_id) or driven directly for deterministic replays.
    """

    def __init__(self, spark: SparkSession, store_dir: str):
        self.spark = spark
        self.bands_path = os.path.join(store_dir, "bands")
        self.flags_path = os.path.join(store_dir, "flags")

    def _stored_bands(self) -> DataFrame | None:
        if not os.path.exists(self.bands_path):
            return None
        return self.spark.read.schema(BAND_SCHEMA).parquet(self.bands_path)

    def process_batch(self, docs: DataFrame, epoch: int) -> None:
        """Flag near-dups in `docs` against all earlier arrivals, then
        merge the batch's bands into the store.

        `docs` needs (doc_id, text). Runs actions (writes) — this is
        the sink side of a stream, not a lazy builder.
        """
        new = (
            D.lsh_bands(D.minhash_signatures(D.shingle_table(docs)))
            .withColumn("epoch", F.lit(epoch).cast("long"))
            .select("doc_id", "epoch", "band_id", "band_key")
            # the batch band table feeds two probe joins below — keep
            # the shingle->signature subtree single-pass
            .localCheckpoint(eager=False)
        )
        d = new.alias("d")
        # earlier partners inside the SAME batch: lower doc_id
        intra = new.alias("e").join(
            d,
            (F.col("e.band_id") == F.col("d.band_id"))
            & (F.col("e.band_key") == F.col("d.band_key"))
            & (F.col("e.doc_id") < F.col("d.doc_id")),
        )
        probes = [intra]
        stored = self._stored_bands()
        if stored is not None:
            # Only STRICTLY-EARLIER epochs count as earlier arrivals.
            # Under foreachBatch's at-least-once contract a crashed
            # batch replays with the same batch_id after its writes may
            # already have landed — without this filter the replay
            # would join against its own stored bands and flag every
            # doc as a duplicate of itself.
            probes.append(
                stored.filter(F.col("epoch") < F.lit(epoch))
                .alias("e")
                .join(
                    d,
                    (F.col("e.band_id") == F.col("d.band_id"))
                    & (F.col("e.band_key") == F.col("d.band_key")),
                )
            )
        hits = None
        for p in probes:
            h = p.select(
                F.col("d.doc_id").alias("doc_id"),
                F.col("d.epoch").alias("epoch"),
                (
                    F.col("e.epoch") * F.lit(_EPOCH_BASE) + F.col("e.doc_id")
                ).alias("partner_key"),
            )
            hits = h if hits is None else hits.unionByName(h)
        flags = hits.groupBy("doc_id", "epoch").agg(
            F.min("partner_key").alias("first_partner_key")
        )
        # Idempotent under replay: both tables are partitioned by
        # epoch and written with DYNAMIC partition overwrite, so a
        # replayed batch REPLACES its own epoch partition (with the
        # identical deterministic content) instead of appending a
        # second copy. Combined with the epoch<current probe filter
        # above this keeps live == batch across crash/restart — the
        # scenario checkpointing exists for.
        for frame, path in ((flags, self.flags_path), (new, self.bands_path)):
            (
                frame.write.mode("overwrite")
                .partitionBy("epoch")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(path)
            )

    def flags(self) -> DataFrame:
        """All duplicates flagged so far: (doc_id, epoch,
        first_partner_key) — directly comparable to the batch gate
        query when epochs align."""
        if not os.path.exists(self.flags_path):
            return empty_frame(self.spark, FLAG_SCHEMA)
        return self.spark.read.schema(FLAG_SCHEMA).parquet(self.flags_path)


def start_incremental_dedup(
    spark: SparkSession,
    landing_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    trigger_seconds: float = 1.0,
):
    """Continuous intake: JSON docs {doc_id, text} land as files; each
    micro-batch is deduped against the accumulated band store
    (epoch = micro-batch id). maxFilesPerTrigger=1 keeps arrival
    granularity at the file level so replays are reproducible."""
    dedup = IncrementalDeduper(spark, store_dir)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(landing_dir)
    )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        dedup.process_batch(batch, epoch=batch_id)

    return (
        stream.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    ), dedup
