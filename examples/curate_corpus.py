"""End-to-end corpus curation: raw documents -> model-ready packs.

The composed pipeline a pretraining data team runs, entirely from
this engine's operators (each stage is individually oracle-gated by
the driver suite; this example wires them into ONE lazy program):

  1. quality gates    — Gopher-style features + language ID
                        (operators/text.py)
  2. fuzzy dedup      — fingerprint + MinHash-LSH star edges,
                        connected components, keep cluster minimum
                        (operators/dedup.py)
  3. decontamination  — n-gram overlap vs a held-out eval slice
                        (operators/curation.py)
  4. chunk + pack     — context-window chunking, token-budget packs
                        (operators/curation.py)

(Scoring stages — DSIR importance, CCNet LM buckets, RAKE tags —
are available as registry queries and slot in between 3 and 4.)

Everything stays a DataFrame plan until the final writes: Spark sees
the whole lineage, so column pruning and exchange reuse apply across
stage boundaries, and the same script runs unchanged on a cluster
against object storage.

Usage:
    python examples/curate_corpus.py [SF_DIR] [OUT_DIR]
    (defaults: /root/testdata/sf0.001, ./curated_out)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def curate_stages(spark, sf_dir: str, docs=None) -> dict:
    """Build the curation plan and return every stage frame (ordered
    dict: gated -> deduped -> clean -> packs), all lazy. `docs`
    overrides the corpus (a scale run can feed synthetic decades
    through the SAME code path)."""
    from open_tlm_spark.operators import curation as C
    from open_tlm_spark.operators import dedup as D
    from open_tlm_spark.operators import text as T
    from open_tlm_spark.session import fan_out, load_tables

    if docs is None:
        load_tables(spark, sf_dir)
        docs = spark.table("documents")
    docs = fan_out(docs)

    # 1. quality gates: Gopher-ish thresholds on the cheap features
    q = T.quality_features(docs)
    gated = q.filter(
        (F.col("q_n_words") >= 5)
        & (F.col("q_punct_ratio") <= 0.3)
        & (F.col("q_avg_word_len").between(2.0, 12.0))
    ).select("doc_id", "text", "lang", "source")

    # 2. fuzzy dedup: union fingerprint + LSH band buckets, CC, keep
    # each cluster's minimum doc_id
    bag = gated.select("doc_id", T.fingerprint(F.col("text")).alias("k"))
    bands = D.lsh_bands(
        D.minhash_signatures(D.shingle_table(gated))
    ).select(
        "doc_id",
        F.concat_ws(
            "|", F.col("band_id").cast("string"), "band_key"
        ).alias("k"),
    )
    cc = D.connected_components(D.bucket_edges(bag.unionByName(bands), "k"))
    lbl = F.coalesce(F.col("lbl"), F.col("doc_id"))
    deduped = (
        gated.join(cc, gated.doc_id == cc.node, "left")
        .filter(lbl == F.col("doc_id"))
        .select("doc_id", "text", "lang", "source")
    )

    # 3. decontamination vs a deterministic held-out slice (every
    # 97th doc stands in for the benchmark set)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    overlap = C.decontaminate(deduped, bench)
    keep_ids = overlap.filter(F.col("contam_frac") < 0.5).select("doc_id")
    clean = deduped.join(keep_ids, "doc_id").select(
        "doc_id", "text", "source"
    )

    # 4. chunk + pack to the model context budget
    chunks = C.chunk_by_tokens(clean, size=64, stride=48)
    packs = C.pack_sequences(
        chunks.join(clean.select("doc_id", "source"), "doc_id"),
        part_col="source",
        order_col="chunk_md5",
        tokens_col="chunk_tokens",
        budget=256,
    )
    return {
        "gated": gated,
        "deduped": deduped,
        "clean": clean,
        "packs": packs,
    }


def curate(spark, sf_dir: str):
    """Build the full curation plan; returns (kept_docs, packs) —
    both lazy DataFrames."""
    stages = curate_stages(spark, sf_dir)
    return stages["clean"], stages["packs"]


def main() -> int:
    from open_tlm_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "./curated_out"
    spark = get_spark("curate-corpus")
    spark.sparkContext.setLogLevel("ERROR")
    clean, packs = curate(spark, sf_dir)
    clean.write.mode("overwrite").parquet(os.path.join(out, "documents"))
    packs.write.mode("overwrite").parquet(os.path.join(out, "packs"))
    n_docs = spark.read.parquet(os.path.join(out, "documents")).count()
    n_packs = spark.read.parquet(os.path.join(out, "packs")).count()
    print(f"kept {n_docs} docs -> {n_packs} packs at {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
