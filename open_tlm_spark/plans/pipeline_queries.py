"""Training-data pipeline operators as driver-checkable queries.

Dedup / similarity / text analysis over the driver's ``documents`` and
``embeddings`` tables (BASELINE.json north-star). Every query has a
full DuckDB oracle — including MinHash-LSH and SimHash, which work
because both engines compute identical md5 hex digests over utf-8.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_tlm_spark.operators import dedup as D
from open_tlm_spark.session import fan_out
from open_tlm_spark.operators import similarity as S
from open_tlm_spark.operators import text as T
from open_tlm_spark.plans.registry import register
from open_tlm_spark.plans.shared_subtrees import SIMHASH_BITS

# Shared DuckDB CTE: the (doc_id, shingle) relation (3-word shingles
# of lowercased whitespace tokens, distinct per doc) — mirrors
# dedup.shingle_table.
SHINGLES_CTE = """
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS w
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] AS shingle
      FROM toks, UNNEST(range(0, len(w) - 2)) AS u(i)
      WHERE len(w) >= 3
    )
"""


# ------------------------------------------------------------ exact dedup
@register(
    "dedup_exact",
    oracle="""
    SELECT text, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy on the raw text): deterministic
    keeper = lowest doc_id. One shuffle; at 100 TB, group on a
    fingerprint column instead of the full text payload."""
    return D.exact_dedup(spark.table("documents"), ["text"], "doc_id")


@register(
    "dedup_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(array_to_string(
               list_sort(list_distinct(
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> ''))), ' ')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, min(doc_id) AS keeper_id, count(*) AS n_copies
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-words fingerprint dedup: md5 of the sorted distinct
    token set — catches word-order shuffles exact dedup misses. The
    16-byte key (not the document) is what shuffles. r13 (guide
    §2.4): fingerprints hash the session-shared tokenized corpus
    (same sort/join/md5 chain — identical keys)."""
    from open_tlm_spark.plans.shared_subtrees import shared_tokens

    docs = shared_tokens(spark, sf_dir).select(
        "doc_id", T.fingerprint_of(F.col("w")).alias("fingerprint")
    )
    return D.exact_dedup(docs, ["fingerprint"], "doc_id")


# -------------------------------------------------------- n-gram Jaccard
@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {SHINGLES_CTE},
    shh AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle
      FROM sh
    ),
    df_counts AS (
      SELECT shingle, count(*) AS df FROM shh GROUP BY shingle
    ),
    rare AS (
      SELECT shh.doc_id, shh.shingle
      FROM shh JOIN df_counts USING (shingle) WHERE df <= 100
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) AS jaccard
    FROM pairs
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE round(n_inter / (za.n_sh + zb.n_sh - n_inter), 6) >= 0.05
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-gram Jaccard >= 0.05 with stop-shingle removal
    (df > 100 dropped before the join — the hot-key cap that keeps the
    pairwise join from going quadratic at corpus scale).

    Shingles are hashed to 60-bit longs BEFORE the self-join: the
    shuffle then moves fixed 8-byte keys instead of variable strings
    (standard hashed-shingle practice; a 2^-60 collision merges a
    shingle pair identically in both engines).

    r13 optimization (guide §2.4): the capped self-join and its
    (pairs, sizes) output are session-shared with dedup_containment
    (plans/shared_subtrees) — both audits score the SAME intersection
    table, so the expensive pairwise stage runs once per session."""
    from open_tlm_spark.plans.shared_subtrees import shared_ngram_pair_stats

    pairs, sizes = shared_ngram_pair_stats(spark, sf_dir)
    return D.jaccard_from_pair_stats(pairs, sizes, min_jaccard=0.05)


# ----------------------------------------------------------- MinHash LSH
def _minhash_oracle() -> str:
    # Kirsch-Mitzenmacher double hashing, mirroring
    # dedup.minhash_signatures: one md5 -> two 32-bit words ->
    # h_j = (w1 + j*w2) mod p.
    sig_cols = ",\n             ".join(
        f"min((w1 + {j} * w2) % {D.KM_PRIME}) AS sig_{j}"
        for j in range(D.NUM_HASHES)
    )
    band_rows = []
    for b in range(D.NUM_BANDS):
        cols = " || '|' || ".join(
            f"sig_{b * D.BAND_ROWS + r}" for r in range(D.BAND_ROWS)
        )
        band_rows.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sig"
        )
    bands_sql = "\n      UNION ALL\n      ".join(band_rows)
    return f"""
    WITH {SHINGLES_CTE},
    hw AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS w1,
             ('0x' || substr(md5(shingle), 9, 8))::BIGINT AS w2
      FROM sh
    ),
    sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hw GROUP BY doc_id
    ),
    bands AS (
      {bands_sql}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)
    SELECT c.doc_a, c.doc_b,
           round(coalesce(i.n_inter, 0) /
                 (za.n_sh + zb.n_sh - coalesce(i.n_inter, 0)), 6) AS jaccard
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    """


@register("dedup_minhash_lsh", oracle=_minhash_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (12 hashes) + LSH banding (4 bands x 3 rows, s-curve
    threshold ~0.63): candidate pairs share at least one band key;
    each candidate is then verified with exact Jaccard. Signature =
    k min-aggregates in ONE groupBy; banding shuffle is keyed on the
    16-byte band hash.

    r13 optimization (guide §2.4): the shingle/signature/candidate/
    verified-Jaccard chain is session-shared (plans/shared_subtrees) —
    this query's result frame IS the shared verified-candidate
    artifact that dedup_threshold_yield and dedup_minhash_est_vs_exact
    also audit, so one session computes the chain once (at 100 TB:
    one persisted MinHash artifact per corpus snapshot). LEFT-join
    semantics of the oracle are inside the shared frame: candidates
    with zero shared shingles keep jaccard 0."""
    from open_tlm_spark.plans.shared_subtrees import shared_lsh_jaccard

    return shared_lsh_jaccard(spark, sf_dir)


# --------------------------------------------------------------- SimHash
_SIMHASH_BITS = SIMHASH_BITS

# Per-doc fingerprint CTE chain (ends in `fp(doc_id, simhash)`),
# shared by the dedup_simhash gate and the Hamming refinement gate.
SIMHASH_CTES = f"""
    hv AS (
      SELECT doc_id,
             (strpos('0123456789abcdef', substr(md5(shingle), 1, 1)) - 1) * 4096
           + (strpos('0123456789abcdef', substr(md5(shingle), 2, 1)) - 1) * 256
           + (strpos('0123456789abcdef', substr(md5(shingle), 3, 1)) - 1) * 16
           + (strpos('0123456789abcdef', substr(md5(shingle), 4, 1)) - 1) AS h
      FROM sh
    ),
    votes AS (
      SELECT doc_id, b.b AS bit,
             sum(CASE WHEN (h >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM hv, (SELECT unnest(range(0, {_SIMHASH_BITS})) AS b) b
      GROUP BY doc_id, b.b
    ),
    fp AS (
      SELECT doc_id,
             sum(CASE WHEN vote > 0 THEN 1 << bit ELSE 0 END)::BIGINT
               AS simhash
      FROM votes GROUP BY doc_id
    )
"""


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {SHINGLES_CTE},
    {SIMHASH_CTES}
    SELECT doc_id, simhash FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (16-bit, md5-derived) per document: near-dup buckets =
    equal fingerprints; Hamming-distance joins refine. One codegen'd
    hash projection + one grouped aggregation with 16 conditional
    sums (map-side partial agg collapses each doc's shingles before
    the shuffle).

    r13 optimization (guide §2.4): the fingerprint frame is
    session-shared with the Hamming refinement (plans/shared_subtrees)
    and builds over the shared shingle relation."""
    from open_tlm_spark.plans.shared_subtrees import shared_simhash

    return shared_simhash(spark, sf_dir)


_HAMMING_MAX = 3


@register(
    "dedup_simhash_hamming",
    oracle=f"""
    WITH {SHINGLES_CTE},
    {SIMHASH_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM fp a JOIN fp b
      ON (a.simhash >> 8) = (b.simhash >> 8) AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {_HAMMING_MAX}
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming refinement (Manku, Jain & Das Sarma, 'Detecting
    Near-Duplicates for Web Crawling', WWW 2007 — public technique):
    near-dup pairs are fingerprints within Hamming distance
    {_HAMMING_MAX}, found by blocking on the upper fingerprint byte
    and XOR-popcount-filtering within blocks — the step the
    dedup_simhash docstring promises ("Hamming-distance joins
    refine"). Blocking bounds the pairwise work to O(sum block²);
    the production extension is Manku's permuted-table trick (one
    block key per bit-rotation, unioned) so no <= k pair can straddle
    every block boundary — same plan shape, k more block keys.

    Plan: ONE fingerprint subtree (the session-shared dedup_simhash
    frame, r13 — read by both join sides), a hash equi-join on the
    block key, and a codegen'd bit_count(xor) post-filter. No
    cartesian, no Python."""
    from open_tlm_spark.plans.shared_subtrees import shared_simhash

    fp = shared_simhash(spark, sf_dir)
    a = fp.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sh_a"),
        F.shiftright("simhash", 8).alias("bkt_a"),
    )
    b = fp.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sh_b"),
        F.shiftright("simhash", 8).alias("bkt_b"),
    )
    hd = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(
            b,
            (F.col("bkt_a") == F.col("bkt_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .filter(hd <= _HAMMING_MAX)
        .select("doc_a", "doc_b", hd.cast("long").alias("hamming"))
    )


# ------------------------------------------------------ similarity search
# Shared DuckDB CTE mirroring similarity.normalized(): norm computed
# once per vector, then unit vectors; pairwise cosine = plain dot.
NORMED_CTE = """
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    normed AS (
      SELECT vec_id,
             list_transform(vec, x -> x / n) AS nvec
      FROM (SELECT vec_id, vec,
                   sqrt(list_sum(list_transform(range(1, 65), i -> vec[i] * vec[i]))) AS n
            FROM vecs))
"""


@register(
    "sim_topk_bruteforce",
    oracle=f"""{NORMED_CTE},
    q AS (SELECT vec_id AS query_id, nvec AS qvec FROM normed WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65), i -> q.qvec[i] * a.nvec[i])), 6) AS cos_sim
      FROM normed a, q
      WHERE a.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ANN baseline: cosine top-10 for 5 query vectors against
    the whole corpus. Queries broadcast; dot product is a sequential
    zip_with fold in doubles (deterministic; float math would diverge
    between engines). r13: the ranked frame IS the session-shared
    exact ground truth the LSH/Matryoshka recall evals audit against
    (plans/shared_subtrees.shared_bruteforce_lo) — the corpus scoring
    pass runs once per session, not once per consumer."""
    from open_tlm_spark.plans.shared_subtrees import shared_bruteforce_lo

    return shared_bruteforce_lo(spark, sf_dir)


@register(
    "sim_ivf_assign",
    oracle=f"""{NORMED_CTE},
    q AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    scored AS (
      SELECT a.vec_id, q.centroid_id,
             round(list_sum(list_transform(range(1, 65), i -> a.nvec[i] * q.cnvec[i])), 6) AS cs
      FROM normed a, q
    )
    SELECT vec_id, centroid_id
    FROM scored
    QUALIFY row_number() OVER (PARTITION BY vec_id
                               ORDER BY cs DESC, centroid_id) = 1
    """,
)
def sim_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment (the scale path for ANN): every vector
    joins only the broadcast centroid set (deterministic: lowest
    vec_ids as centroids so the oracle reproduces them); queries then
    probe a single cell instead of the full corpus. Reads the
    session-shared cell layout (r13, plans/shared_subtrees) — the
    persisted-assignment pattern the serving store already uses."""
    from open_tlm_spark.plans.shared_subtrees import shared_ivf_cells

    return shared_ivf_cells(spark, sf_dir).select("vec_id", "centroid_id")


@register(
    "sim_ivf_topk",
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    q AS (SELECT vec_id AS query_id, centroid_id AS qcell
          FROM assigned WHERE vec_id >= 8 AND vec_id < 12),
    scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM q
      JOIN assigned a ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
      JOIN normed qn ON qn.vec_id = q.query_id
      JOIN normed an ON an.vec_id = a.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF search (the serving path sim_ivf_assign sets up):
    4 query vectors each probe exactly their own cell (nprobe=1) and
    take exact cosine top-5 within it — per-query cost is
    |corpus|/n_cells, and the cell equi-join keeps the corpus
    shuffle-partitioned at any scale. The corpus-side assignment is
    the session-shared cell layout (r13, plans/shared_subtrees)."""
    from open_tlm_spark.plans.shared_subtrees import shared_ivf_cells

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter((F.col("vec_id") >= 8) & (F.col("vec_id") < 12)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ivf_topk(
        emb,
        centroids,
        queries,
        k=5,
        assigned_normed=shared_ivf_cells(spark, sf_dir),
    )


# ------------------------------------------------------------- text ops
@register(
    "text_langid",
    oracle="""
    WITH hits AS (
      SELECT doc_id,
        len(regexp_extract_all(lower(text), '\\b(der|die|und|von|das)\\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b'))    AS h_en,
        len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b'))    AS h_es,
        len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b'))    AS h_fr
      FROM documents
    )
    SELECT doc_id,
      CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
           WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
           WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
           WHEN h_en >= h_de THEN 'en'
           ELSE 'de' END AS lang_pred
    FROM hits
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-lexicon language ID (n-gram heuristic): count per-lang
    stopword hits, highest wins (ties -> lang code DESC). Pure regex
    column math — scan-bound at any scale. r14 (guide §2.4): the
    4-regex pass comes from the session-shared quality-signal frame
    (plans/shared_subtrees) — same expression, computed once for the
    five quality/langid consumers."""
    from open_tlm_spark.plans.shared_subtrees import shared_quality_signals

    return shared_quality_signals(spark, sf_dir).select(
        "doc_id", "lang_pred"
    )


@register(
    "text_token_stats",
    oracle=r"""
    SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
             AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
             AS n_regex_tokens,
           length(text) AS n_chars
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens
    (words / numbers / punctuation) + char length."""
    t = F.col("text")
    return spark.table("documents").select(
        "doc_id",
        F.size(T.tokens(t)).cast("long").alias("n_ws_tokens"),
        T.token_count_regex(t).cast("long").alias("n_regex_tokens"),
        F.length(t).cast("long").alias("n_chars"),
    )


@register(
    "text_quality_score",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS q_n_chars,
             len(list_filter(string_split_regex(text, '\s+'), t -> t <> ''))
               AS q_n_words,
             len(regexp_extract_all(lower(text),
                 '\b(the|a|and|of|to|in|is|it)\b')) AS stop_hits
      FROM documents
    )
    SELECT doc_id, q_n_chars, q_n_words,
           round(q_n_chars / q_n_words, 6) AS q_avg_word_len,
           round(stop_hits / q_n_words, 6) AS q_stopword_ratio,
           CASE WHEN q_n_words >= 20 AND stop_hits / q_n_words >= 0.01
                THEN true ELSE false END AS keep
    FROM feats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (C4/Gopher-style cheap filters): length & word
    stats, stopword density, and the resulting keep/drop decision.
    r14 (guide §2.4): the tokenize + stopword-regex pass comes from
    the session-shared quality-signal frame (plans/shared_subtrees);
    n_chars/n_words there are the identical values (token count and
    char length are lowering-invariant)."""
    from open_tlm_spark.plans.shared_subtrees import shared_quality_signals

    n_words = F.col("n_words")
    n_chars = F.col("n_chars")
    stop_hits = F.col("stop_hits")
    return shared_quality_signals(spark, sf_dir).select(
        "doc_id",
        n_chars.alias("q_n_chars"),
        n_words.alias("q_n_words"),
        F.round(n_chars / n_words, 6).alias("q_avg_word_len"),
        F.round(stop_hits / n_words, 6).alias("q_stopword_ratio"),
        ((n_words >= 20) & (stop_hits / n_words >= 0.01)).alias("keep"),
    )


@register(
    "text_rolling_fingerprint",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             list_min(list_transform(
               range(1, length(text) - 6),
               i -> list_reduce(
                      list_prepend(0::BIGINT, range(CAST(i AS BIGINT), CAST(i + 8 AS BIGINT))),
                      (acc, j) -> (acc * 257 + ord(substr(text, CAST(j AS INTEGER), 1)))
                                  % 1000000007)
             )) AS roll_fp
      FROM documents
      WHERE length(text) >= 8
    )
    SELECT roll_fp,
           count(*) AS n_docs,
           min(doc_id) AS keeper_id
    FROM fp
    GROUP BY roll_fp
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (Rabin-Karp char-8-gram min) document
    fingerprints grouped into near-dup buckets: one narrow projection
    + one hash shuffle on the 8-byte fingerprint — the cheapest
    order-robust dedup key after exact hashing (operators/text.py
    rolling_fingerprint)."""
    from open_tlm_spark.operators.text import rolling_fingerprint

    # NOT fanned out: repartitioning ahead of the Arrow UDF spawns a
    # python worker per partition, and the fresh workers' numpy/pandas
    # imports cost 6x the whole query at gate scale (measured 0.5 s ->
    # 3.8 s). At warehouse scale the scan has many splits and warm
    # workers, so the single-split case is the only one this affects.
    docs = spark.table("documents").filter(F.length("text") >= 8)
    fp = docs.select(
        "doc_id", rolling_fingerprint(F.col("text"), k=8).alias("roll_fp")
    )
    return fp.groupBy("roll_fp").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("keeper_id"),
    )


def _ivf_train_oracle() -> str:
    """Unrolled 2-iteration spherical-k-means mirror. Possible at all
    ONLY because kmeans_train_exact sums centroid components as
    DECIMAL(28,12) (order-independent exact arithmetic) and rounds
    the mean at 6 dp — both engines then hold bit-identical centroids
    and the rounded-cosine argmax assigns identically."""
    dim = 64
    m_cols = ",\n             ".join(
        f"round(CAST(sum(CAST(nvec[{i + 1}] AS DECIMAL(28,12)))"
        f" AS DOUBLE) / count(*), 6) AS m{i}"
        for i in range(dim)
    )
    mlist = ", ".join(f"m{i}" for i in range(dim))
    assign = """
      SELECT vec_id, centroid_id FROM (
        SELECT n.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> n.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed n, {cents} c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    """
    return f"""{NORMED_CTE},
    c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             nvec AS cnvec
      FROM normed ORDER BY vec_id LIMIT 8
    ),
    a1 AS ({assign.format(cents="c0")}),
    m1 AS (
      SELECT a.centroid_id,
             {m_cols}
      FROM a1 a JOIN normed n USING (vec_id)
      GROUP BY a.centroid_id
    ),
    l1 AS (SELECT centroid_id, list_value({mlist}) AS mvec FROM m1),
    c1 AS (
      SELECT centroid_id, list_transform(mvec, x -> x / nn) AS cnvec
      FROM (SELECT centroid_id, mvec,
                   sqrt(list_sum(list_transform(range(1, 65),
                        i -> mvec[i] * mvec[i]))) AS nn
            FROM l1)
    ),
    a2 AS ({assign.format(cents="c1")})
    SELECT centroid_id, count(*) AS n_members
    FROM a2 GROUP BY centroid_id
    ORDER BY centroid_id
    """


@register("sim_ivf_train", oracle=_ivf_train_oracle())
def sim_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF training (spherical k-means, 2 Lloyd iterations): the
    step that produces the centroids sim_ivf_assign/sim_ivf_topk
    consume. Driver-loop iteration with an eager checkpoint per
    round — the canonical Spark iterative-algorithm shape (without
    the lineage cut, iteration N's plan contains every previous
    iteration). r13 (guide §2.4): the training frame reads the
    session-shared normalized corpus — every Lloyd iteration scans
    the cached unit vectors instead of re-deriving them.

    r14 (VERDICT r13 "What's wrong" #4): trains via
    kmeans_train_exact — DECIMAL-exact order-independent centroid
    means — so the gate finally carries a real DuckDB oracle (the
    unrolled 2-iteration mirror above) instead of burning its
    correctness-window slot on a `no_oracle` row. Output unchanged:
    (centroid_id, n_members) after 2 iterations, A/B'd row-identical
    against the float-mean form at every gate SF."""
    from open_tlm_spark.plans.shared_subtrees import shared_normed_embeddings

    cents = S.kmeans_train_exact(
        spark.table("embeddings"),
        k=8,
        iters=2,
        normed=shared_normed_embeddings(spark, sf_dir),
    )
    return cents.select("centroid_id", "n_members").orderBy("centroid_id")


# ------------------------------------------------------- containment
@register(
    "dedup_containment",
    oracle=f"""
    WITH {SHINGLES_CTE},
    shh AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS shingle
      FROM sh
    ),
    df_counts AS (
      SELECT shingle, count(*) AS df FROM shh GROUP BY shingle
    ),
    rare AS (
      SELECT shh.doc_id, shh.shingle
      FROM shh JOIN df_counts USING (shingle) WHERE df <= 100
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM rare a JOIN rare b
        ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM rare GROUP BY doc_id)
    SELECT doc_a, doc_b,
           round(n_inter / least(za.n_sh, zb.n_sh), 6) AS containment
    FROM pairs
    JOIN sizes za ON za.doc_id = doc_a
    JOIN sizes zb ON zb.doc_id = doc_b
    WHERE round(n_inter / least(za.n_sh, zb.n_sh), 6) >= 0.2
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (>= 0.2): |A∩B| over the
    SMALLER shingle set, so a short document wholly quoted inside a
    long one scores ~1.0 where Jaccard scores near zero — the measure
    corpus pipelines use for quote-inclusion / subset dups next to
    symmetric Jaccard (operators/dedup.ngram_containment_pairs).
    Same scale shape as dedup_ngram_jaccard: hashed 60-bit shingles,
    stop-shingle df-cap before the self equi-join, broadcast sizes.

    r13 optimization (guide §2.4): scores the session-shared
    (pairs, sizes) intersection table dedup_ngram_jaccard also reads
    (plans/shared_subtrees) — the self equi-join runs once, the two
    measures differ only in the final formula."""
    from open_tlm_spark.plans.shared_subtrees import shared_ngram_pair_stats

    pairs, sizes = shared_ngram_pair_stats(spark, sf_dir)
    return D.containment_from_pair_stats(pairs, sizes, min_containment=0.2)


# ------------------------------------------------- persisted IVF serving
@register(
    "sim_ivf_persisted_topk",
    bench=False,  # builds index state each run — correctness gate only
    stateful=True,  # IVFIndex.build writes parquet artifacts (actions)
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    q AS (SELECT vec_id AS query_id, centroid_id AS qcell
          FROM assigned WHERE vec_id >= 8 AND vec_id < 12),
    scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM q
      JOIN assigned a ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
      JOIN normed qn ON qn.vec_id = q.query_id
      JOIN normed an ON an.vec_id = a.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_ivf_persisted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving from PERSISTED artifacts (operators/ivf_store.py,
    VERDICT r7 #5b): build the index once into a scratch dir —
    centroids + cell-partitioned corpus assignments as parquet — then
    answer the same 4 probes as `sim_ivf_topk` WITHOUT retraining or
    re-assigning the corpus. The oracle is sim_ivf_topk's: persistence
    must be invisible in the results (parquet round-trips doubles
    exactly; same rounding and tiebreaks). At scale the serve path
    reads 1/n_cells of the corpus files via partition pruning
    (plan-pinned in tests/test_ivf_store.py)."""
    import os
    import tempfile

    from open_tlm_spark.operators.ivf_store import IVFIndex

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        S.as_double(F.col("embedding")).alias("cvec"),
    )
    # SESSION-scoped scratch (VERDICT r8 #6): repeated gate runs reuse
    # one directory per Spark application instead of accreting a
    # mkdtemp per run; build()'s static overwrite makes the reuse
    # idempotent (a different sf_dir in the same session rebuilds the
    # whole index over it).
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"tlm_ivf_gate_{spark.sparkContext.applicationId}",
    )
    idx = IVFIndex.build(spark, emb, scratch, centroids=centroids)
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return idx.topk(queries, k=5)
# -------------------------------- round-11 serving-surface gates
# (VERDICT r10 'What's missing' #2: the SQ8 tier and filtered ANN
# were the serving DEFAULTS but only pytest-pinned — these graduate
# them to driver-gated with full DuckDB oracles.)


@register(
    "sim_ivf_filtered_topk",
    bench=False,  # builds index state each run — correctness gate only
    stateful=True,  # IVFIndex.build writes parquet artifacts (actions)
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    qcells AS (
      SELECT query_id, centroid_id AS qcell
      FROM (
        SELECT n.vec_id AS query_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> n.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed n, c
        WHERE n.vec_id >= 8 AND n.vec_id < 12) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, centroid_id) <= 2
    ),
    scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM qcells q
      JOIN assigned a ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
      JOIN embeddings e ON e.vec_id = a.vec_id AND e.label = 3
      JOIN normed qn ON qn.vec_id = q.query_id
      JOIN normed an ON an.vec_id = a.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_ivf_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED ANN from the persisted artifact (round-10 serving
    surface, driver-gated per VERDICT r10 'What's missing' #2): the
    index is built with an attribute column DENORMALIZED next to each
    vector (`build(attrs=...)` persists `label` plus a DDL sidecar),
    and `topk(where="label = 3", nprobe=2)` pre-filters INSIDE the
    pruned parquet scan — PushedFilters on `label` composing with the
    DPP cell subquery on ONE scan (plan-pinned in
    tests/test_plan_quality.py). Pre-filter semantics: the oracle is
    the true top-k over the label=3 subset of the two probed cells,
    never k unfiltered hits thinned after ranking. At 100 TB the
    attribute join is paid once at build; every filtered probe then
    skips non-matching row groups with zero per-query corpus joins."""
    import os
    import tempfile

    from open_tlm_spark.operators.ivf_store import IVFIndex

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        S.as_double(F.col("embedding")).alias("cvec"),
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"tlm_ivf_filtered_gate_{spark.sparkContext.applicationId}",
    )
    idx = IVFIndex.build(
        spark,
        emb,
        scratch,
        centroids=centroids,
        attrs=emb.select("vec_id", "label"),
    )
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return idx.topk(queries, k=5, nprobe=2, where="label = 3")


@register(
    "sim_sq8_topk",
    bench=False,  # builds index state each run — correctness gate only
    stateful=True,  # IVFSQ8Index.build writes parquet artifacts
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    scales AS (
      SELECT vec_id,
             greatest(list_max(list_transform(nvec, x -> abs(x))),
                      1e-30) AS scale
      FROM normed
    ),
    codes AS (
      SELECT a.vec_id, a.centroid_id, s.scale,
             list_transform(n.nvec, x -> round(x / s.scale * 127)) AS v8
      FROM assigned a
      JOIN normed n USING (vec_id)
      JOIN scales s USING (vec_id)
    ),
    q AS (
      SELECT a.vec_id AS query_id, a.centroid_id AS qcell,
             s.scale AS qscale,
             list_transform(n.nvec, x -> round(x / s.scale * 127)) AS qq8
      FROM assigned a
      JOIN normed n USING (vec_id)
      JOIN scales s USING (vec_id)
      WHERE a.vec_id >= 8 AND a.vec_id < 12
    ),
    scored AS (
      SELECT q.query_id, cd.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.qq8[i] * cd.v8[i]))
                   * q.qscale * cd.scale / 16129.0, 6) AS cos_sim
      FROM q
      JOIN codes cd
        ON cd.centroid_id = q.qcell AND cd.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQ8 int8 tier's serve path, driver-gated (VERDICT r10
    'What's missing' #2): build an `IVFSQ8Index` — each normalized
    vector stored as 64 int8 codes + one fp64 scale (symmetric
    max-abs scalar quantization, the Faiss ScalarQuantizer QT_8bit
    convention) — and serve the same 4 probes as the flat gate. The
    quantizer is EXACT arithmetic DuckDB can replicate (round-half-up
    on exact doubles, parquet round-trips both codes and scale
    losslessly), and so is the INT8-DOMAIN serve dot (round 11,
    VERDICT r10 'What's wrong' #1: query quantized once per probe,
    integer products of raw codes, one qscale x vscale / 127^2
    rescale per pair — every term integer-valued and well inside
    double exactness), so the oracle replicates both and the match
    is bit-for-bit, not approximate: the driver hash-compares the
    quantized ranking itself. The serve plan is the flat probe's
    (DPP cell pruning on the raw code scan, plan-pinned); the tier
    trades ~1e-3 per-dot error for ~6.7x fewer vector bytes and,
    with the int8 dot, no longer pays the dequant CPU tax (SCALE.md
    round-10/11 tables)."""
    import os
    import tempfile

    from open_tlm_spark.operators.ivf_store import IVFSQ8Index

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        S.as_double(F.col("embedding")).alias("cvec"),
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"tlm_sq8_gate_{spark.sparkContext.applicationId}",
    )
    idx = IVFSQ8Index.build(spark, emb, scratch, centroids=centroids)
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return idx.topk(queries, k=5)


@register(
    "sim_sq8_filtered_topk",
    bench=False,  # builds index state each run — correctness gate only
    stateful=True,  # IVFSQ8Index.build writes parquet artifacts
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    scales AS (
      SELECT vec_id,
             greatest(list_max(list_transform(nvec, x -> abs(x))),
                      1e-30) AS scale
      FROM normed
    ),
    codes AS (
      SELECT a.vec_id, a.centroid_id, s.scale,
             list_transform(n.nvec, x -> round(x / s.scale * 127)) AS v8
      FROM assigned a
      JOIN normed n USING (vec_id)
      JOIN scales s USING (vec_id)
      JOIN embeddings e ON e.vec_id = a.vec_id AND e.label = 3
    ),
    qcells AS (
      SELECT query_id, centroid_id AS qcell
      FROM (
        SELECT n.vec_id AS query_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> n.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed n, c
        WHERE n.vec_id >= 8 AND n.vec_id < 12) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, centroid_id) <= 2
    ),
    q AS (
      SELECT qc.query_id, qc.qcell, s.scale AS qscale,
             list_transform(n.nvec, x -> round(x / s.scale * 127)) AS qq8
      FROM qcells qc
      JOIN normed n ON n.vec_id = qc.query_id
      JOIN scales s ON s.vec_id = qc.query_id
    ),
    scored AS (
      SELECT q.query_id, cd.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.qq8[i] * cd.v8[i]))
                   * q.qscale * cd.scale / 16129.0, 6) AS cos_sim
      FROM q
      JOIN codes cd
        ON cd.centroid_id = q.qcell AND cd.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_sq8_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization x attribute filtering COMPOSED, driver-gated:
    the int8-domain probe applies `where` to the RAW code scan (see
    IVFSQ8Index.topk — a different filter site from the flat tier's
    dequant view, previously covered only by a 0.95-overlap pytest),
    so this gate pins the composition exactly: attrs persisted next
    to the int8 codes, predicate pushed into the pruned scan,
    integer-MAC scoring over the filtered survivors of the two
    probed cells. The oracle quantizes both sides and filters before
    ranking (pre-filter semantics) — a bit-for-bit hash match like
    sim_sq8_topk, not an overlap metric."""
    import os
    import tempfile

    from open_tlm_spark.operators.ivf_store import IVFSQ8Index

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        S.as_double(F.col("embedding")).alias("cvec"),
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"tlm_sq8_filtered_gate_{spark.sparkContext.applicationId}",
    )
    idx = IVFSQ8Index.build(
        spark,
        emb,
        scratch,
        centroids=centroids,
        attrs=emb.select("vec_id", "label"),
    )
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return idx.topk(queries, k=5, nprobe=2, where="label = 3")


@register(
    "sim_rerank_filtered_topk",
    bench=False,  # builds dual index state each run — correctness gate
    stateful=True,  # IVFIndex/IVFPQIndex.build write parquet artifacts
    oracle=f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, centroid_id
      FROM (
        SELECT a.vec_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed a, c) s
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    qcells AS (
      SELECT query_id, centroid_id AS qcell
      FROM (
        SELECT n.vec_id AS query_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> n.nvec[i] * c.cnvec[i])), 6) AS cs
        FROM normed n, c
        WHERE n.vec_id >= 8 AND n.vec_id < 12) s
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cs DESC, centroid_id) <= 2
    ),
    cellsel AS (
      SELECT a.centroid_id,
             (count(*) FILTER (WHERE e.label = 3)) / count(*) AS sel
      FROM assigned a JOIN embeddings e USING (vec_id)
      GROUP BY a.centroid_id
    ),
    qdepth AS (
      SELECT q.query_id,
             least(greatest(CAST(ceil(8.0 / greatest(
                     min(coalesce(cs.sel, 1.0)), 1e-12)) AS BIGINT),
                   8), 65536) AS depth
      FROM qcells q LEFT JOIN cellsel cs ON cs.centroid_id = q.qcell
      GROUP BY q.query_id
    ),
    cb AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code_id, nvec
      FROM (SELECT vec_id, nvec FROM normed ORDER BY vec_id LIMIT 32)
    ),
    codes AS (
      SELECT vec_id, sub, CAST(min(ikey) % 100 AS BIGINT) AS code
      FROM (
        SELECT t.vec_id, s.sub,
               CAST(round(round(list_sum(list_transform(range(1, 9),
                     j -> (t.nvec[s.sub * 8 + j] - c.nvec[s.sub * 8 + j])
                          * (t.nvec[s.sub * 8 + j]
                             - c.nvec[s.sub * 8 + j]))), 6)
                 * 1000000) AS BIGINT) * 100 + c.code_id AS ikey
        FROM normed t, UNNEST(range(0, 8)) s(sub), cb c)
      GROUP BY vec_id, sub
    ),
    lut AS (
      SELECT qn.vec_id AS query_id, s.sub, c.code_id,
             CAST(round(list_sum(list_transform(range(1, 9),
                   j -> (qn.nvec[s.sub * 8 + j] - c.nvec[s.sub * 8 + j])
                        * (qn.nvec[s.sub * 8 + j]
                           - c.nvec[s.sub * 8 + j]))), 6)
               AS DECIMAL(18,6)) AS d
      FROM normed qn, UNNEST(range(0, 8)) s(sub), cb c
      WHERE qn.vec_id >= 8 AND qn.vec_id < 12
    ),
    cand AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, vec_id) AS arank
      FROM (
        SELECT q.query_id, a.vec_id, sum(l.d) AS dist
        FROM qcells q
        JOIN assigned a ON a.centroid_id = q.qcell
                       AND a.vec_id <> q.query_id
        JOIN codes t ON t.vec_id = a.vec_id
        JOIN lut l ON l.query_id = q.query_id AND l.sub = t.sub
                  AND l.code_id = t.code
        GROUP BY 1, 2)
    ),
    scored AS (
      SELECT ca.query_id, ca.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM cand ca
      JOIN qdepth dq ON dq.query_id = ca.query_id
                    AND ca.arank <= dq.depth
      JOIN embeddings e ON e.vec_id = ca.vec_id AND e.label = 3
      JOIN normed qn ON qn.vec_id = ca.query_id
      JOIN normed an ON an.vec_id = ca.vec_id
    )
    SELECT query_id, vec_id, cos_sim,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, vec_id) AS rank
    FROM scored
    QUALIFY rank <= 5
    """,
)
def sim_rerank_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERED, AUTO-DEPTH rerank path, driver-gated (VERDICT
    r11 'What's missing' #2 / 'Next round' #2): the one serving
    surface a selective predicate actually takes in the shipped loop
    — ADC candidates from the PQ codes (UNFILTERED: codes carry no
    attributes), candidate depth divided per query by the MIN
    estimated selectivity over that query's probed cells (the
    round-12 per-cell rule closing the geometry-correlated starvation
    hole, VERDICT r11 'What's missing' #3), then the exact-cosine
    refine fetch against the flat artifact with `label = 3` pushed
    into its pruned scan. r=8 with ~10%-selective label=3 makes the
    depth division LOAD-BEARING: unfiltered ADC top-8 would leave <2
    survivors per query, so a wrong or skipped division fails the
    hash, not just a recall metric. The oracle replicates every
    stage exactly — assignment, nprobe=2 routing, per-cell
    selectivity (exact integer counts -> one IEEE divide), the
    least/greatest/ceil depth rule, the deterministic ks=32
    normalized-subvector codebook, integer-key argmin codes, DECIMAL
    ADC sums with (dist, vec_id) tiebreaks, and the 6-dp exact
    rerank — a bit-for-bit hash match (operators/ivf_store.py
    topk_rerank; reference has no ANN surface — extension per
    SURVEY.md §2.9)."""
    import os
    import tempfile

    from open_tlm_spark.operators.ivf_store import (
        IVFIndex,
        IVFPQIndex,
        topk_rerank,
    )

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        S.as_double(F.col("embedding")).alias("cvec"),
    )
    scratch = os.path.join(
        tempfile.gettempdir(),
        f"tlm_rerank_gate_{spark.sparkContext.applicationId}",
    )
    flat = IVFIndex.build(
        spark,
        emb,
        os.path.join(scratch, "flat"),
        centroids=centroids,
        attrs=emb.select("vec_id", "label"),
    )
    pq = IVFPQIndex.build(
        spark, emb, os.path.join(scratch, "pq"), centroids=centroids
    )
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return topk_rerank(
        pq, flat, queries, k=5, r=8, nprobe=2, where="label = 3"
    )
