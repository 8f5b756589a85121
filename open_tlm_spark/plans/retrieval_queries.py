"""Retrieval-side gate queries: BM25 lexical ranking, exact
duplicated-substring detection, and the composed IVF+PQ ANN path.

These close the loop on the corpus toolkit: docs_tfidf_topk tags
documents, docs_bm25_topk RANKS them for a query (the lexical-recall
half of every retrieval pipeline); dedup_minhash_lsh catches whole-doc
near-dups, dedup_substring_spans catches COPIED PASSAGES inside
otherwise-distinct documents (the Lee et al. 2022 finding that
substring-level dups survive document-level dedup); sim_ivf_topk and
sim_pq_adc_topk each prove one half of IVF-PQ, sim_ivfpq_topk runs the
actual composition FAISS serves (route to nprobe cells, ADC-score only
the routed candidates).

Cross-engine float determinism follows the registry conventions:
scores are rounded to 6 dp per term/pair, summed as DECIMAL (exact,
order-independent), ranked with explicit id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from open_tlm_spark.operators import similarity as S
from open_tlm_spark.plans.registry import register
from open_tlm_spark.plans.shared_subtrees import IVF_NCELLS
from open_tlm_spark.session import fan_out

# ------------------------------------------------------------- BM25
_BM25_TERMS = ("hash", "join", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOP = 50

_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


def _bm25_oracle() -> str:
    k1, b = _BM25_K1, _BM25_B
    return rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS w
      FROM documents
    ),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                  CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / count(*) AS avgdl
           FROM dl),
    tok AS (SELECT doc_id, unnest(w) AS token FROM toks),
    tf AS (
      SELECT doc_id, token, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE token IN ({_TERMS_SQL})
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id,
             CAST(round(
               ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
               * (tf.tf * {k1 + 1.0})
               / (tf.tf + {k1} * (1.0 - {b} + {b} * dl.dl / st.avgdl)),
               6) AS DECIMAL(18,6)) AS s
      FROM tf
      JOIN df USING (token)
      JOIN dl USING (doc_id), st
    )
    SELECT doc_id, bm25, rank FROM (
      SELECT doc_id, CAST(sum(s) AS DOUBLE) AS bm25,
             row_number() OVER (ORDER BY sum(s) DESC, doc_id) AS rank
      FROM scored GROUP BY doc_id
    ) WHERE rank <= {_BM25_TOP}
    """


@register("docs_bm25_topk", oracle=_bm25_oracle())
def docs_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson & Walker, Okapi BM25 — public
    technique) of the corpus for a fixed term query: per-term
    idf * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), summed per doc,
    top-{_BM25_TOP}. The lexical-recall stage of retrieval pipelines
    (and of decontamination-by-retrieval).

    Plan: one tokenize pass feeds BOTH the doc-length table and the
    term-filtered tf aggregate (the term filter prunes the token
    stream before its shuffle); df re-aggregates the tf frame and
    broadcasts (bounded by the query's term count, NOT the corpus —
    the one hint that stays). Corpus stats (N, avgdl) are a 1-row
    aggregate frame cross-join-broadcast into the plan — building the
    query launches no Spark job, and the tokenize subtree is not run
    an extra time for the stats; exact integer sums make avgdl
    bit-identical across engines. Per-term scores are 6-dp-rounded
    then DECIMAL-summed per doc — order-independent — and the final
    ranking is one TakeOrderedAndProject with doc_id tiebreak. Two
    shuffles on the text side (tf agg, per-doc sum) at any corpus
    size.

    r13 (guide §2.4 — share one subtree): the ranked 50-row result is
    published as a session-shared cached view, because
    retrieval_rrf_fusion consumes this exact frame as its lexical arm
    — previously the whole tokenize->tf->score subtree ran twice per
    session. First consumer pays the full build; the cached frame is
    50 rows. At 100 TB the lexical arm of a fused retrieval stack is
    a materialized ranking artifact for the same reason."""
    from open_tlm_spark.operators.shared_cache import shared_view

    return shared_view(
        spark, "bm25_top", sf_dir, lambda: _build_bm25_topk(spark, sf_dir)
    )


def _build_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BM25 pipeline (see docs_bm25_topk docstring)."""
    from open_tlm_spark.operators.text import tokens

    k1, b = _BM25_K1, _BM25_B
    docs = fan_out(spark.table("documents"))
    toks = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("w")
    )
    dl = toks.select("doc_id", F.size("w").alias("dl"))
    # 1-row corpus-stats frame, broadcast into the plan lazily; the
    # float(sum)/count double division matches the previous
    # driver-side arithmetic bit-for-bit.
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tok = toks.select("doc_id", F.explode("w").alias("token"))
    tf = (
        tok.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        + 1.0
    )
    s = F.round(
        idf
        * (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
        ),
        6,
    ).cast("decimal(18,6)")
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .join(F.broadcast(st))
        .select("doc_id", s.alias("s"))
    )
    agg = scored.groupBy("doc_id").agg(F.sum("s").alias("ssum"))
    # Distributed top-k FIRST (TakeOrderedAndProject: per-partition
    # heaps, never a global sort), then rank the 50 survivors — a
    # global row_number window over the per-doc frame would funnel
    # the whole corpus through one partition.
    top = agg.orderBy(F.col("ssum").desc(), "doc_id").limit(_BM25_TOP)
    w = Window.orderBy(F.col("ssum").desc(), "doc_id")
    return top.select(
        "doc_id",
        F.col("ssum").cast("double").alias("bm25"),
        F.row_number().over(w).cast("long").alias("rank"),
    )


# --------------------------------------- duplicated substring spans
_SS_W = 40  # window length (chars)
_SS_S = 20  # stride (chars)


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH wins AS (
      SELECT doc_id, md5(substr(text, i * {_SS_S} + 1, {_SS_W})) AS wh
      FROM documents,
           UNNEST(range(0, (length(text) - {_SS_W}) // {_SS_S} + 1)) u(i)
      WHERE length(text) >= {_SS_W}
    ),
    multi AS (
      SELECT wh FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) > 1
    ),
    per AS (
      SELECT w.doc_id,
             count(*) AS n_windows,
             CAST(count(*) FILTER (WHERE m.wh IS NOT NULL) AS BIGINT)
               AS n_dup_windows
      FROM wins w LEFT JOIN multi m ON m.wh = w.wh
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_windows, 0) AS n_windows,
           coalesce(p.n_dup_windows, 0) AS n_dup_windows,
           round(p.n_dup_windows / p.n_windows, 6) AS dup_frac
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """,
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-passage detection (the substring-level dedup
    of Lee et al., 'Deduplicating Training Data Makes Language Models
    Better', 2022 — public technique, here via hashed sliding windows
    instead of a suffix array): hash every {_SS_W}-char window at
    stride {_SS_S}, mark windows whose hash occurs in more than one
    DISTINCT document, and report each doc's duplicated-window
    fraction. Catches boilerplate/quoted passages inside documents
    that whole-doc and near-dup hashing both miss.

    Plan: the window stream is one narrow explode (linear in corpus
    bytes, ~1 row per {_SS_S} chars); the multi-doc window set is one
    exact distinct-count aggregate keyed by hash; rejoining it is an
    equi-join on the SAME key (AQE reuses the exchange), then one
    per-doc aggregate. No pairwise joins anywhere — cost is linear in
    corpus size regardless of how duplicated the corpus is."""
    docs = fan_out(spark.table("documents"))
    wins = (
        docs.filter(F.length("text") >= _SS_W)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.expr(f"(length(text) - {_SS_W}) div {_SS_S}"),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(
                F.expr(f"substring(text, i * {_SS_S} + 1, {_SS_W})")
            ).alias("wh"),
        )
    )
    multi = (
        wins.groupBy("wh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("wh", F.lit(1).alias("_hit"))
    )
    per = (
        wins.join(multi, "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count("_hit").alias("n_dup_windows"),
        )
    )
    return (
        spark.table("documents")
        .select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0)).alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_frac"
            ),
        )
    )


# ------------------------------------------------------------ IVF+PQ
_IVFPQ_NCELLS = IVF_NCELLS  # centroids: the shared IVF cell layout's
_IVFPQ_NPROBE = 2
_IVFPQ_NQ_LO = 8  # queries: vec_ids 8..11
_IVFPQ_NQ_HI = 12
_IVFPQ_K = 5


def _ivfpq_oracle() -> str:
    from open_tlm_spark.plans.vector_queries import (
        _PQ_BEST_CTES,
        _PQ_DSUB,
        _PQ_M,
    )

    return f"""
    WITH {_PQ_BEST_CTES},
    normed AS (
      SELECT vec_id, list_transform(vec, x -> x / n) AS nvec
      FROM (SELECT vec_id, vec,
                   sqrt(list_sum(list_transform(range(1, 65),
                                 i -> vec[i] * vec[i]))) AS n
            FROM v)
    ),
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed
          WHERE vec_id < {_IVFPQ_NCELLS}),
    cs AS (
      SELECT a.vec_id, c.centroid_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> a.nvec[i] * c.cnvec[i])), 6) AS cs
      FROM normed a, c
    ),
    assigned AS (
      SELECT vec_id, centroid_id FROM cs
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id) = 1
    ),
    probe AS (
      SELECT vec_id AS query_id, centroid_id AS cell FROM cs
      WHERE vec_id >= {_IVFPQ_NQ_LO} AND vec_id < {_IVFPQ_NQ_HI}
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cs DESC, centroid_id)
              <= {_IVFPQ_NPROBE}
    ),
    codes AS (
      SELECT vec_id, sub, CAST(ik % 100 AS BIGINT) AS code FROM best
    ),
    q AS (SELECT vec_id AS query_id, vec FROM v
          WHERE vec_id >= {_IVFPQ_NQ_LO} AND vec_id < {_IVFPQ_NQ_HI}),
    lut AS (
      SELECT q.query_id, s.sub, c.code_id,
             CAST(round(list_sum(list_transform(
                 range(1, {_PQ_DSUB} + 1),
                 j -> (q.vec[s.sub * {_PQ_DSUB} + j]
                       - c.vec[s.sub * {_PQ_DSUB} + j])
                      * (q.vec[s.sub * {_PQ_DSUB} + j]
                         - c.vec[s.sub * {_PQ_DSUB} + j]))), 6)
               AS DECIMAL(18,6)) AS d
      FROM q, UNNEST(range(0, {_PQ_M})) s(sub), cb c
    ),
    cand AS (
      SELECT p.query_id, a.vec_id
      FROM probe p JOIN assigned a ON a.centroid_id = p.cell
      WHERE a.vec_id <> p.query_id
    ),
    sc3 AS (
      SELECT ca.query_id, ca.vec_id, sum(l.d) AS dist
      FROM cand ca
      JOIN codes t ON t.vec_id = ca.vec_id
      JOIN lut l ON l.query_id = ca.query_id
              AND l.sub = t.sub AND l.code_id = t.code
      GROUP BY 1, 2
    )
    SELECT query_id, vec_id, adc_dist, rank FROM (
      SELECT query_id, vec_id, CAST(dist AS DOUBLE) AS adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, vec_id) AS rank
      FROM sc3
    ) WHERE rank <= {_IVFPQ_K}
    """


@register("sim_ivfpq_topk", oracle=_ivfpq_oracle())
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed IVF-PQ search (Jégou et al. 2011 — the
    architecture FAISS serves at corpus scale): each query routes to
    its {_IVFPQ_NPROBE} nearest IVF cells by exact cosine against the
    broadcast centroids, and ONLY the vectors assigned to those cells
    are scored — by ADC over their {_PQ_M}-byte PQ codes, never their
    raw vectors. sim_ivf_topk and sim_pq_adc_topk each gate one half;
    this gates the composition (routing x compressed scoring), which
    is what makes ANN over 100 TB of vectors tractable: per query,
    I/O is |corpus|/n_cells * nprobe code rows of {_PQ_M} bytes.

    Plan: centroids + LUT broadcast; corpus-side state is the cell
    assignment and the PQ codes (both gated by their own queries, and
    both one narrow pass + one map-side-combinable aggregate);
    candidate selection is an equi-join on the cell id; scoring is a
    DECIMAL-exact sum keyed (query, vector); top-{_IVFPQ_K} is one
    per-query window over the already-reduced candidate scores."""
    from open_tlm_spark.plans.vector_queries import _pq_parts

    from open_tlm_spark.plans.shared_subtrees import (
        shared_ivf_cells,
        shared_normed_embeddings,
    )

    vsub, csub, best = _pq_parts(spark, sf_dir)
    # r13 (guide §1.2 — don't compute what you throw away): the
    # corpus-wide assignment comes from the session-shared cell
    # layout; the full cell RANKING (needed only for nprobe routing)
    # is computed for the 4 query vectors, not the whole corpus.
    nv = shared_normed_embeddings(spark, sf_dir)
    cent = nv.filter(F.col("vec_id") < _IVFPQ_NCELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("nvec").alias("cnvec")
    )
    qn = nv.filter(
        (F.col("vec_id") >= _IVFPQ_NQ_LO) & (F.col("vec_id") < _IVFPQ_NQ_HI)
    )
    cs = qn.join(F.broadcast(cent)).select(
        "vec_id",
        "centroid_id",
        F.round(S.dot(F.col("nvec"), F.col("cnvec")), 6).alias("cs"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), "centroid_id"
    )
    assigned = shared_ivf_cells(spark, sf_dir).select("vec_id", "centroid_id")
    probe = (
        cs.withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), F.col("centroid_id").alias("cell"))
    )
    codes = best.select("vec_id", "sub", (F.col("ik") % 100).alias("code"))
    from open_tlm_spark.plans.vector_queries import _sq_dist

    qsub = vsub.filter(
        (F.col("vec_id") >= _IVFPQ_NQ_LO) & (F.col("vec_id") < _IVFPQ_NQ_HI)
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("sv").alias("qv"))
    lut = (
        qsub.join(F.broadcast(csub.withColumnRenamed("cv", "cv2")), "sub")
        .withColumnRenamed("cv2", "cv")
        .select(
            "query_id",
            "sub",
            "code_id",
            F.round(_sq_dist("qv", "cv"), 6).cast("decimal(18,6)").alias("d"),
        )
    )
    cand = (
        F.broadcast(probe)
        .join(assigned, probe.cell == assigned.centroid_id)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    lutr = lut.select(
        F.col("query_id").alias("lq"),
        F.col("sub").alias("lsub"),
        "code_id",
        "d",
    )
    sc = (
        cand.join(codes, "vec_id")
        .join(
            F.broadcast(lutr),
            (F.col("lq") == F.col("query_id"))
            & (F.col("lsub") == F.col("sub"))
            & (F.col("code_id") == F.col("code")),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    w_rank = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    return (
        sc.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= _IVFPQ_K)
        .select(
            "query_id",
            "vec_id",
            F.col("dist").cast("double").alias("adc_dist"),
            "rank",
        )
    )
