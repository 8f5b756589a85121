"""Session-shared cached dedup/text subtrees ("compute once, audit many").

Optimization round r13, guide §2.4 (remove shuffles outright) + §1.2
(fix the distributed algorithm before per-task work): eleven registered
queries each re-derived the SAME intermediate relations over the
`documents` corpus — the exploded 3-gram shingle relation, its 60-bit
hashed twin, the MinHash signature table, the LSH candidate pairs and
their verified Jaccard scores, the capped pairwise intersection
counts, and the SimHash fingerprints. Inside one bench/driver session
that re-ran the tokenize→shingle→md5→aggregate chain (2-4 exchanges
each) up to eleven times; at 100 TB the same shape is a pipeline that
re-tokenizes the corpus once per audit query.

The production answer (and the pattern VERDICT r6 #3 already endorsed
for the CC label table): materialize each stage ONCE per pipeline pass
and let every downstream auditor read the artifact. In-session that is
`operators/shared_cache.shared_view` — the first consumer triggers the
build, the result lands in the SQL cache (MEMORY_AND_DISK, spills
instead of OOMing), and every later consumer's plan starts from an
InMemoryTableScan instead of the full subtree. At 100 TB each of these
frames is a parquet artifact written once per corpus snapshot
(shingles/signatures are the standard persisted MinHash-pipeline
intermediates); the cached view is the single-session stand-in with
identical semantics.

This is NOT cross-run caching: the views live and die with the
SparkSession, are keyed on sf_dir, and the first consumer inside every
bench/correctness run pays the full build — the driver's timing sees
every byte computed from the parquet inputs.

Result identity: every builder below is the exact expression the
consuming queries previously inlined (same operators module
functions), so each query's rows/schema/hash are unchanged — the
DuckDB oracles are untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.operators import dedup as D
from open_tlm_spark.operators.shared_cache import shared_view

# Shape parameters of the shared vector and SimHash views. Consumers
# that rank or filter against a view import these names, so a view and
# the queries reading it cannot drift apart.
IVF_NCELLS = 8  # IVF centroids: the IVF_NCELLS lowest vec_ids
BF_LO_NQ = 5  # low brute-force query set: vec_id < BF_LO_NQ
BF_LO_K = 10
BF_HI_QUERIES = (8, 12)  # high brute-force query set: lo <= vec_id < hi
BF_HI_K = 5
SIMHASH_BITS = 16


def shared_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, w) — tokens(lower(text)) per document, the
    tokenized-corpus artifact every lexical audit starts from (at
    100 TB: tokenize once per corpus snapshot, persist, audit many).
    `source` rides along (tiny vs the token array) so per-source
    consumers (CCNet buckets, DSIR) need no join back."""
    from open_tlm_spark.operators import text as T
    from open_tlm_spark.session import fan_out

    return shared_view(
        spark,
        "toks",
        sf_dir,
        lambda: fan_out(spark.table("documents")).select(
            "doc_id",
            "source",
            T.tokens(F.lower(F.col("text"))).alias("w"),
        ),
    )


def token_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, token) exploded stream over the shared
    tokenized corpus. Deliberately NOT a second cached view: the
    explode over the cached array frame is a cheap narrow stage,
    and caching the exploded twin would triple the block-manager
    footprint for no saved shuffle."""
    return shared_tokens(spark, sf_dir).select(
        "doc_id", "source", F.explode("w").alias("token")
    )


def shared_unigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(token, c) corpus unigram counts over the shared token stream
    — the LM frequency table both unigram-perplexity scorers
    (quality_unigram_logprob, docs_ccnet_lm_buckets) join back onto
    the stream."""
    return shared_view(
        spark,
        "uni_counts",
        sf_dir,
        lambda: token_stream(spark, sf_dir)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c")),
    )


def shared_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pair, c) corpus-wide adjacent-token-pair counts (pair =
    "w1 w2"; tokens are whitespace-split so the encoding is
    unambiguous) — the one explode+aggregate behind BPE pair
    counting, bigram-LM scoring, and PMI collocations."""
    from open_tlm_spark.operators.text import bigrams

    return shared_view(
        spark,
        "bg_counts",
        sf_dir,
        lambda: shared_tokens(spark, sf_dir)
        .select(F.explode(bigrams(F.col("w"))).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("c")),
    )


def shared_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle) distinct 3-gram relation over `documents` —
    the base of every MinHash/Jaccard/SimHash/novelty query."""
    return shared_view(
        spark,
        "sh3",
        sf_dir,
        # r13: grams build over the session-shared tokenized corpus —
        # the whole lexical stack tokenizes exactly once per session.
        lambda: D.shingle_table(
            spark.table("documents"),
            tok=shared_tokens(spark, sf_dir).select("doc_id", "w"),
        ),
    )


def shared_hashed_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle BIGINT) — 60-bit md5-prefix hashed shingles
    (the dedup_ngram_jaccard pattern: 8-byte shuffle keys instead of
    variable strings; the oracles hash identically)."""
    return shared_view(
        spark,
        "sh3h",
        sf_dir,
        lambda: shared_shingles(spark, sf_dir).select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 15), 16, 10)
            .cast("long")
            .alias("shingle"),
        ),
    )


def shared_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table (doc_id, sig_0..sig_11) over the shared
    shingle relation — one row per document."""
    return shared_view(
        spark,
        "minhash_sig",
        sf_dir,
        lambda: D.minhash_signatures(shared_shingles(spark, sf_dir)),
    )


def shared_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-collision candidate pairs (doc_a < doc_b) from the
    shared signature table."""
    return shared_view(
        spark,
        "lsh_cand",
        sf_dir,
        lambda: D.lsh_candidates(shared_signatures(spark, sf_dir)),
    )


def shared_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard for the shared candidate pairs (inner frame:
    pairs with at least one shared shingle)."""
    return shared_view(
        spark,
        "lsh_verified",
        sf_dir,
        lambda: D.jaccard_for_pairs(
            shared_lsh_candidates(spark, sf_dir),
            shared_shingles(spark, sf_dir),
        ),
    )


def shared_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every LSH candidate with its verified Jaccard (0.0 for band
    collisions with zero shingle overlap) — the dedup_minhash_lsh
    result frame, also consumed by the threshold-yield audit."""

    def build() -> DataFrame:
        cand = shared_lsh_candidates(spark, sf_dir)
        verified = shared_lsh_verified(spark, sf_dir)
        return cand.join(verified, ["doc_a", "doc_b"], "left").select(
            "doc_a",
            "doc_b",
            F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("jaccard"),
        )

    return shared_view(spark, "lsh_jac", sf_dir, build)


def shared_capped_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed shingles after the standard df<=100 stop-shingle cap —
    the relation both pairwise n-gram audits self-join."""
    return shared_view(
        spark,
        "sh3h_capped",
        sf_dir,
        lambda: D.stop_capped_shingles(
            shared_hashed_shingles(spark, sf_dir), max_df=100
        ),
    )


def shared_ngram_pair_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pairs(doc_a, doc_b, n_inter), sizes(doc_id, n_sh)) over the
    capped hashed shingles — the one self equi-join both the Jaccard
    and the containment audits score from."""

    def build_pairs() -> DataFrame:
        pairs, _ = D.ngram_pair_stats(
            shared_capped_shingles(spark, sf_dir), max_df=None
        )
        return pairs

    def build_sizes() -> DataFrame:
        _, sizes = D.ngram_pair_stats(
            shared_capped_shingles(spark, sf_dir), max_df=None
        )
        return sizes

    return (
        shared_view(spark, "ngram_pairs", sf_dir, build_pairs),
        shared_view(spark, "ngram_sizes", sf_dir, build_sizes),
    )


def shared_normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nvec) L2-normalized embedding corpus — the first
    stage of every similarity/ANN query (at 100 TB: the persisted
    unit-vector artifact; normalize once, serve everywhere)."""
    from open_tlm_spark.operators import similarity as S

    return shared_view(
        spark,
        "emb_normed",
        sf_dir,
        lambda: S.normed_corpus(spark.table("embeddings")),
    )


def shared_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nvec, centroid_id) IVF assignment of the full corpus
    to the 8 deterministic lowest-vec_id centroids — the persisted
    cell layout every IVF gate (assign/topk/balance/nprobe/recall)
    reads. Built with the hash-aggregable integer-key argmax
    (ivf_assign_normed — same deterministic winner as ivf_assign,
    HashAggregate instead of SortAggregate at any scale) over the
    shared normalized corpus."""
    from open_tlm_spark.operators import similarity as S

    def build() -> DataFrame:
        emb = spark.table("embeddings")
        centroids = emb.filter(F.col("vec_id") < IVF_NCELLS).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cvec"),
        )
        return S.ivf_assign_normed(
            shared_normed_embeddings(spark, sf_dir), centroids
        )

    return shared_view(spark, "ivf8_cells", sf_dir, build)


def shared_lsh_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, nvec, sig) hyperplane-LSH signature corpus over the 8
    deterministic lowest-vec_id hyperplanes — shared by the LSH topk
    gate and its recall eval."""
    from open_tlm_spark.operators import similarity as S

    def build() -> DataFrame:
        emb = spark.table("embeddings")
        hp = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("h_id"),
            F.col("embedding").alias("hvec"),
        )
        return S.hyperplane_signatures(
            emb, hp, normed=shared_normed_embeddings(spark, sf_dir)
        )

    return shared_view(spark, "lsh_sig_corpus", sf_dir, build)


def shared_bruteforce_lo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 for the low query set (vec_id < 5) —
    simultaneously the sim_topk_bruteforce result frame AND the
    ground-truth arm of the LSH / Matryoshka recall evals (the
    Matryoshka eval takes the rank <= 5 prefix, identical rows by
    the deterministic (rounded cos, vec_id) ranking). One corpus
    dot-product pass instead of three."""
    from open_tlm_spark.operators import similarity as S

    def build() -> DataFrame:
        emb = spark.table("embeddings")
        queries = emb.filter(F.col("vec_id") < BF_LO_NQ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return S.brute_force_topk(
            emb,
            queries,
            k=BF_LO_K,
            normed=shared_normed_embeddings(spark, sf_dir),
        )

    return shared_view(spark, "bf_top_lo", sf_dir, build)


def shared_bruteforce_hi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the high query set (8 <= vec_id < 12)
    — the shared ground-truth arm of the IVF recall eval and the
    nprobe sweep. One corpus dot-product pass instead of two."""
    from open_tlm_spark.operators import similarity as S

    def build() -> DataFrame:
        emb = spark.table("embeddings")
        lo, hi = BF_HI_QUERIES
        queries = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return S.brute_force_topk(
            emb,
            queries,
            k=BF_HI_K,
            normed=shared_normed_embeddings(spark, sf_dir),
        )

    return shared_view(spark, "bf_top_hi", sf_dir, build)


def shared_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, lang, n_chars, n_words, mean_word_len,
    pct_alpha_words, n_stopwords, dup_word_frac, stop_hits,
    lang_pred) — the per-document cheap-quality-signal battery
    (Gopher rule inputs, duplicate-word fraction, stopword hits,
    marker-lexicon language id) computed in ONE narrow codegen'd
    pass over `documents`.

    r14 (guide §2.4, VERDICT r13 "Next round" #1/#3): five gated
    queries (quality_gopher_rules, curation_yield_by_source,
    quality_filter_funnel, text_langid, text_quality_score) each
    re-ran their own tokenize and/or 4-regex langid pass over the
    corpus; at 100 TB this frame is the persisted per-snapshot
    quality-signal table every curation dashboard reads. Tokens are
    derived inline (not joined from shared_tokens): the join back to
    `text` for the regex signals would cost a corpus-wide shuffle,
    while the tokenize is a narrow expression — one pass, zero
    exchanges, built once per session.

    Result identity: every expression is the exact one the consumers
    previously inlined. n_words / mean_word_len are computed on
    lowered tokens but are lowering-invariant (whitespace split and
    per-token length don't change under lower()), so
    text_quality_score's raw-text counts are identical values."""
    from open_tlm_spark.operators import text as T
    from open_tlm_spark.plans.curation_queries import _GOPHER_STOPS
    from open_tlm_spark.session import fan_out

    def build() -> DataFrame:
        stops = [s.strip().strip("'") for s in _GOPHER_STOPS.split(",")]
        t = F.col("text")
        w = T.tokens(F.lower(t))
        return fan_out(spark.table("documents")).select(
            "doc_id",
            "source",
            "lang",
            F.length(t).cast("long").alias("n_chars"),
            F.size(w).cast("long").alias("n_words"),
            F.round(
                F.aggregate(
                    F.transform(w, lambda x: F.length(x)),
                    F.lit(0),
                    lambda a, x: a + x,
                )
                / F.size(w),
                6,
            ).alias("mean_word_len"),
            F.round(
                F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / F.size(w),
                6,
            ).alias("pct_alpha_words"),
            F.size(F.filter(w, lambda x: x.isin(stops)))
            .cast("long")
            .alias("n_stopwords"),
            F.round(
                F.lit(1) - F.size(F.array_distinct(w)) / F.size(w), 6
            ).alias("dup_word_frac"),
            T.marker_hits(t, T.STOPWORDS).alias("stop_hits"),
            T.language_id(t).alias("lang_pred"),
        )

    return shared_view(spark, "quality_signals", sf_dir, build)


def shared_order_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(l_orderkey, parts) — the sorted distinct-part basket per
    order, the collect_set aggregate both market-basket queries
    (basket_part_pairs, orders_association_rules) previously each
    rebuilt with their own corpus-wide shuffle of lineitem.

    r14 (guide §2.4): one basket shuffle per session instead of two.
    At 100 TB the basket table is the persisted first stage of any
    association-mining pipeline (orders are bounded-width, so the
    artifact is ~|orders| rows — far smaller than lineitem).
    Result identity: the exact expression both consumers inlined
    (sort_array(collect_set(l_partkey)) keyed by l_orderkey)."""
    return shared_view(
        spark,
        "order_baskets",
        sf_dir,
        lambda: spark.table("lineitem")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts")),
    )


def shared_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document (the dedup_simhash
    result frame; the Hamming refinement joins it against itself)."""
    return shared_view(
        spark,
        "simhash_fp",
        sf_dir,
        lambda: D.simhash(shared_shingles(spark, sf_dir), bits=SIMHASH_BITS),
    )
