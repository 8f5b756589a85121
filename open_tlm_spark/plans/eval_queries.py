"""Corpus/series diagnostics round 2: n-gram novelty, count-series
autocorrelation, and PQ-ADC recall — the evaluation queries that
tell you whether the cheaper paths (dedup keep-set, rollup cadence,
compressed ANN) are safe to ship.

Registry determinism conventions apply: integer-exact aggregates
wherever the inputs are integers, 6-dp rounding before any ranking or
final float output, explicit id tiebreaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from open_tlm_spark.plans.registry import register
from open_tlm_spark.plans.shared_subtrees import BF_HI_K
from open_tlm_spark.session import fan_out


# ------------------------------------------------- n-gram novelty
def _novelty_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import SHINGLES_CTE

    return f"""
    WITH {SHINGLES_CTE},
    first AS (SELECT shingle, min(doc_id) AS first_doc FROM sh
              GROUP BY shingle),
    per AS (
      SELECT s.doc_id,
             count(*) AS n_shingles,
             CAST(count(*) FILTER (WHERE f.first_doc = s.doc_id) AS BIGINT)
               AS n_novel
      FROM sh s JOIN first f ON f.shingle = s.shingle
      GROUP BY 1
    )
    SELECT d.doc_id,
           coalesce(p.n_shingles, 0) AS n_shingles,
           coalesce(p.n_novel, 0) AS n_novel,
           round(p.n_novel / p.n_shingles, 6) AS novel_frac
    FROM documents d LEFT JOIN per p ON p.doc_id = d.doc_id
    """


@register("docs_ngram_novelty", oracle=_novelty_oracle())
def docs_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-word shingles whose FIRST corpus occurrence (minimum doc_id) is
    this document — the content-freshness signal behind dedup keep
    ordering and curriculum mixes (a doc whose shingles all appeared
    in earlier docs adds nothing even if no single document matches
    it; the complement of the duplicated-passage view in
    dedup_substring_spans).

    Plan: reuses the SESSION-SHARED exploded shingle relation (r13,
    plans/shared_subtrees); first-occurrence is ONE min-aggregate
    keyed by shingle (map-side combinable), joined back on the same
    key (AQE reuses the exchange partitioning), then one per-doc
    aggregate. Linear in corpus size, no pairwise step."""
    from open_tlm_spark.plans.shared_subtrees import shared_shingles

    docs = spark.table("documents")
    sh = shared_shingles(spark, sf_dir)
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per = (
        sh.join(first, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(
                F.when(F.col("first_doc") == F.col("doc_id"), 1)
            ).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(F.col("n_novel") / F.col("n_shingles"), 6).alias(
                "novel_frac"
            ),
        )
    )


# ------------------------------------------- count autocorrelation
_ACF_BIN_S = 3600
_ACF_MAX_LAG = 3


@register(
    "ts_autocorr_lags",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / ({_ACF_BIN_S} * 1000000.0)) AS BIGINT)
               AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    l AS (SELECT CAST(unnest(range(1, {_ACF_MAX_LAG + 1})) AS BIGINT) AS lag),
    p AS (
      SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
      FROM c a
      JOIN l ON TRUE
      JOIN c b ON b.event_type = a.event_type AND b.h = a.h + l.lag
    ),
    s AS (
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM p GROUP BY 1, 2
    )
    SELECT event_type, lag, n_pairs,
           round((n_pairs * sxy - sx * sy)
                 / sqrt((n_pairs * sxx - sx * sx)
                        * (n_pairs * syy - sy * sy)), 6) AS acf
    FROM s
    """,
)
def ts_autocorr_lags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of each series' hourly event-count signal at
    lags 1..{_ACF_MAX_LAG} — the seasonality/burstiness fingerprint
    that picks rollup cadences and validates the seasonal-naive model
    (ts_seasonal_residual): a high lag-1 ACF says coarser rollups
    lose little; near-zero says the series is noise at this bin size.

    Determinism: the per-bin counts are integers, so every moment sum
    is EXACT in both engines (cast to double only for the final
    Pearson formula, identically associated). Plan: one count
    aggregate keyed (series, hour); the lag table (3 rows) broadcasts
    to form shifted keys; the self-join is an equi-join on
    (series, hour+lag) against the same binned frame; one final
    moment aggregate. No windows, no cartesian — the classic
    map-side-combinable ACF at any scale."""
    ev = spark.table("events")
    c = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_micros("ts") / F.lit(_ACF_BIN_S * 1_000_000.0)
        )
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    a = c.alias("a")
    b = c.alias("b")
    p = (
        a.join(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") == F.col("a.event_type"))
            & (F.col("b.h") == F.col("a.h") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"),
            "lag",
            F.col("a.cnt").alias("x"),
            F.col("b.cnt").alias("y"),
        )
    )
    s = p.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs")
    return s.select(
        "event_type",
        "lag",
        "n_pairs",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("acf"),
    )


# ------------------------------------------------- PQ recall eval
_PQR_K = 5


def _pq_recall_oracle() -> str:
    from open_tlm_spark.plans.vector_queries import (
        _ADC_TOPK_CTES,
        _PQ_BEST_CTES,
    )

    # Ground truth: exact squared-L2 top-k for the same 5 queries the
    # ADC query serves (vec_id < 5), same rounding and tiebreaks.
    # (`q` is already defined inside _ADC_TOPK_CTES.)
    return f"""
    WITH {_PQ_BEST_CTES},
    {_ADC_TOPK_CTES},
    gt_scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> (q.vec[i] - a.vec[i]) * (q.vec[i] - a.vec[i]))), 6)
               AS dist
      FROM v a, q WHERE a.vec_id <> q.query_id
    ),
    gt AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY dist, vec_id) AS rank
      FROM gt_scored QUALIFY rank <= {_PQR_K}
    )
    SELECT g.query_id,
           count(*) AS n_gt,
           CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           round(count(a.vec_id) / CAST(count(*) AS DOUBLE), 6) AS recall
    FROM gt g LEFT JOIN adc a
      ON a.query_id = g.query_id AND a.vec_id = g.vec_id
    GROUP BY g.query_id
    """


@register("sim_pq_recall_eval", oracle=_pq_recall_oracle())
def sim_pq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_PQR_K} of the PQ-ADC search against the exact
    squared-L2 ground truth, per query — the compression-loss
    measurement that decides whether {_PQ_M := 8}-byte codes are
    enough or the codebook needs more bits (the IVF/LSH recall evals'
    sibling, closing the eval suite over all three ANN paths). Both
    rankings are deterministic (rounded distances, vec_id tiebreaks),
    so recall is exact, not sampled.

    Plan: composes the gated sim_pq_adc_topk subtree with a
    brute-force pass over the 5 broadcast queries; the join of the
    two rankings touches {_PQR_K} rows per query."""
    from open_tlm_spark.operators import similarity as S
    from open_tlm_spark.plans.vector_queries import sim_pq_adc_topk

    adc = sim_pq_adc_topk(spark, sf_dir).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    emb = fan_out(spark.table("embeddings")).select(
        "vec_id", S.as_double(F.col("embedding")).alias("vec")
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("vec").alias("qvec")
    )
    sq = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("vec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        emb.join(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(sq, 6).alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy("dist", "vec_id")
    gt = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQR_K)
        .select("query_id", "vec_id")
    )
    j = gt.join(adc, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_gt"),
        F.count("_hit").cast("long").alias("n_hit"),
        F.round(F.count("_hit") / F.count(F.lit(1)).cast("double"), 6).alias(
            "recall"
        ),
    )


# ------------------------------------------- langid confusion matrix
_LANGID_CTE = """
    hits AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '\\b(der|die|und|von|das)\\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b'))    AS h_en,
        len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b'))    AS h_es,
        len(regexp_extract_all(lower(text), '\\b(le|la|et|les|des)\\b'))    AS h_fr
      FROM documents
    ),
    pred AS (
      SELECT doc_id, lang,
        CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
             WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
             WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
             WHEN h_en >= h_de THEN 'en'
             ELSE 'de' END AS lang_pred
      FROM hits
    )
"""


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH {_LANGID_CTE}
    SELECT lang, lang_pred, count(*) AS n_docs
    FROM pred GROUP BY lang, lang_pred
    """,
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix: the heuristic classifier's
    predictions (text_langid) crossed against the table's labeled
    lang column — the eval that tells you which language pairs the
    marker lexicons confuse before trusting lang_pred for filtering
    or mixture weights. One narrow regex projection + one aggregate
    over at most |langs|² groups; scan-bound at any corpus size."""
    from open_tlm_spark.operators import text as T

    docs = spark.table("documents")
    return (
        docs.select(
            "lang", T.language_id(F.col("text")).alias("lang_pred")
        )
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ------------------------------- MinHash estimator vs exact Jaccard
def _est_oracle() -> str:
    from open_tlm_spark.operators import dedup as D
    from open_tlm_spark.plans.pipeline_queries import SHINGLES_CTE

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
    agree = " + ".join(
        f"CAST(sa.sig_{j} = sb.sig_{j} AS BIGINT)" for j in range(D.NUM_HASHES)
    )
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
    est AS (
      SELECT c.doc_a, c.doc_b,
             round(({agree}) / {float(D.NUM_HASHES)}, 6) AS est_jaccard
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b
    ),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS ni
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT e.doc_a, e.doc_b, e.est_jaccard,
           round(i.ni / (za.n_sh + zb.n_sh - i.ni), 6) AS jaccard,
           round(abs(e.est_jaccard
                     - round(i.ni / (za.n_sh + zb.n_sh - i.ni), 6)), 6)
             AS abs_err
    FROM est e
    JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sz za ON za.doc_id = e.doc_a
    JOIN sz zb ON zb.doc_id = e.doc_b
    """


@register("dedup_minhash_est_vs_exact", oracle=_est_oracle())
def dedup_minhash_est_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator audit: for every LSH candidate pair, the
    signature-agreement Jaccard estimate (matching components / k)
    against the EXACT shingle-set Jaccard, with the absolute error —
    the measurement that validates the k=12, b=4×r=3 geometry before
    trusting its ~0.63 s-curve threshold at corpus scale (E[est] =
    true Jaccard; error shrinks as 1/√k).

    Plan: reuses the gated signature/banding subtrees
    (dedup_minhash_lsh) for candidates and estimates; exact Jaccard
    reuses the candidate-only shingle equi-join (jaccard_for_pairs) —
    never all pairs. The signature frame (one 13-column row per doc)
    scales with the corpus, so it carries no broadcast hint: AQE
    broadcasts while it fits and otherwise shuffle-joins on doc id
    against the (LSH-pruned, tiny) candidate set.

    r13 optimization (guide §2.4): signatures, candidates and the
    verified exact Jaccard come from the session-shared MinHash chain
    (plans/shared_subtrees) — the audit reads the same artifacts
    dedup_minhash_lsh serves instead of re-deriving them."""
    from open_tlm_spark.operators import dedup as D
    from open_tlm_spark.plans.shared_subtrees import (
        shared_lsh_candidates,
        shared_lsh_verified,
        shared_signatures,
    )

    sig = shared_signatures(spark, sf_dir)
    cand = shared_lsh_candidates(spark, sf_dir)
    sa = sig.select(
        F.col("doc_id").alias("_ida"),
        *[F.col(f"sig_{j}").alias(f"a_{j}") for j in range(D.NUM_HASHES)],
    )
    sb = sig.select(
        F.col("doc_id").alias("_idb"),
        *[F.col(f"sig_{j}").alias(f"b_{j}") for j in range(D.NUM_HASHES)],
    )
    agree_terms = [
        (F.col(f"a_{j}") == F.col(f"b_{j}")).cast("long")
        for j in range(D.NUM_HASHES)
    ]
    agree = agree_terms[0]
    for t in agree_terms[1:]:
        agree = agree + t
    est = (
        cand.join(sa, cand.doc_a == sa._ida)
        .join(sb, cand.doc_b == sb._idb)
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / F.lit(float(D.NUM_HASHES)), 6).alias(
                "est_jaccard"
            ),
        )
    )
    exact = shared_lsh_verified(spark, sf_dir)
    return est.join(exact, ["doc_a", "doc_b"]).select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        "jaccard",
        F.round(F.abs(F.col("est_jaccard") - F.col("jaccard")), 6).alias(
            "abs_err"
        ),
    )


# ---------------------------------------- delete propagation
_FORGET_MOD = 97  # deterministic "deletion request" set: custkey % 97 == 0


@register(
    "privacy_delete_propagation",
    oracle=f"""
    WITH delc AS (
      SELECT c_custkey FROM customer WHERE c_custkey % {_FORGET_MOD} = 0
    ),
    delo AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey % {_FORGET_MOD} = 0
    ),
    c AS (
      SELECT 'customer' AS table_name,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (WHERE c_custkey % {_FORGET_MOD} = 0)
                  AS BIGINT) AS n_deleted
      FROM customer
    ),
    o AS (
      SELECT 'orders' AS table_name,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (WHERE o_custkey % {_FORGET_MOD} = 0)
                  AS BIGINT) AS n_deleted
      FROM orders
    ),
    l AS (
      SELECT 'lineitem' AS table_name,
             CAST(count(*) AS BIGINT) AS n_total,
             CAST(count(*) FILTER (WHERE d.o_orderkey IS NOT NULL)
                  AS BIGINT) AS n_deleted
      FROM lineitem li LEFT JOIN delo d ON d.o_orderkey = li.l_orderkey
    )
    SELECT table_name, n_total, n_deleted,
           n_total - n_deleted AS n_kept
    FROM (SELECT * FROM c UNION ALL SELECT * FROM o
          UNION ALL SELECT * FROM l)
    """,
)
def privacy_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: a deterministic
    deletion-request set (custkey % {_FORGET_MOD} == 0) cascades
    customer -> orders -> lineitem, and the query reports per table
    how many rows the delete touches vs keeps — the compliance
    accounting every training-data pipeline runs BEFORE rewriting
    partitions (and re-runs after, expecting n_deleted = 0).

    Plan: customer and orders carry the key, so their delete marks
    are pure predicates (no join, scan-bound, pushdown-friendly);
    lineitem's mark is ONE left semi-style equi-join against the
    deleted-order key set (Catalyst broadcasts it when small, AQE
    converts at runtime otherwise — at 1/{_FORGET_MOD} selectivity
    the key set is always far smaller than the fact table). Three
    map-side-combinable count aggregates unioned into a 3-row
    result; no full-table shuffle anywhere."""
    cust = spark.table("customer")
    orders = spark.table("orders")
    li = spark.table("lineitem")
    c = cust.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("c_custkey") % _FORGET_MOD == 0, 1)).alias(
            "n_deleted"
        ),
    )
    o = orders.agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("o_custkey") % _FORGET_MOD == 0, 1)).alias(
            "n_deleted"
        ),
    )
    delo = orders.filter(F.col("o_custkey") % _FORGET_MOD == 0).select(
        F.col("o_orderkey").alias("_dok"), F.lit(1).alias("_del")
    )
    l = (
        li.join(delo, li.l_orderkey == F.col("_dok"), "left")
        .agg(
            F.lit("lineitem").alias("table_name"),
            F.count(F.lit(1)).alias("n_total"),
            F.count("_del").alias("n_deleted"),
        )
    )
    return (
        c.unionByName(o)
        .unionByName(l)
        .select(
            "table_name",
            "n_total",
            "n_deleted",
            (F.col("n_total") - F.col("n_deleted")).alias("n_kept"),
        )
    )


# ------------------------------------------------- IVF recall eval
_IVFR_K = BF_HI_K  # the shared ground truth's depth IS the eval's k


def _ivf_recall_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import NORMED_CTE

    return f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed
          WHERE vec_id < 8),
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
    ivf_scored AS (
      SELECT q.query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM q
      JOIN assigned a ON a.centroid_id = q.qcell AND a.vec_id <> q.query_id
      JOIN normed qn ON qn.vec_id = q.query_id
      JOIN normed an ON an.vec_id = a.vec_id
    ),
    ivf AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM ivf_scored QUALIFY rank <= {_IVFR_K}
    ),
    gt_scored AS (
      SELECT qn.vec_id AS query_id, a.vec_id,
             round(list_sum(list_transform(range(1, 65),
                   i -> qn.nvec[i] * a.nvec[i])), 6) AS cos_sim
      FROM normed a, normed qn
      WHERE qn.vec_id >= 8 AND qn.vec_id < 12 AND a.vec_id <> qn.vec_id
    ),
    gt AS (
      SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM gt_scored QUALIFY rank <= {_IVFR_K}
    )
    SELECT g.query_id,
           count(*) AS n_gt,
           CAST(count(i.vec_id) AS BIGINT) AS n_hit,
           round(count(i.vec_id) / CAST(count(*) AS DOUBLE), 6) AS recall
    FROM gt g LEFT JOIN ivf i
      ON i.query_id = g.query_id AND i.vec_id = g.vec_id
    GROUP BY g.query_id
    """


@register("sim_ivf_recall_eval", oracle=_ivf_recall_oracle())
def sim_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_IVFR_K} of single-probe IVF search against the exact
    cosine ground truth, per query — quantifies what nprobe=1 routing
    loses at cell boundaries (the classic IVF failure mode: a query's
    true neighbor sits just across the Voronoi edge in another cell).
    With the LSH (sim_lsh_recall_eval) and PQ (sim_pq_recall_eval)
    evals this completes the recall audit of all three approximate
    paths; comparing the three decides which serves the corpus. Both
    rankings are deterministic (rounded cosines, vec_id tiebreaks),
    so recall is exact.

    Plan: composes the gated sim_ivf_topk subtree (broadcast
    centroids, cell equi-join) with the brute-force pass over the 4
    broadcast queries; the rankings join on {_IVFR_K} rows/query.
    Corpus assignment and normalization come from the session-shared
    views (r13, plans/shared_subtrees)."""
    from open_tlm_spark.operators import similarity as S
    from open_tlm_spark.plans.shared_subtrees import (
        shared_bruteforce_hi,
        shared_ivf_cells,
    )

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    ivf = S.ivf_topk(
        emb,
        centroids,
        queries,
        k=_IVFR_K,
        assigned_normed=shared_ivf_cells(spark, sf_dir),
    ).select("query_id", "vec_id", F.lit(1).alias("_hit"))
    # r13: exact ground truth from the session-shared brute-force
    # frame (also the nprobe sweep's GT arm) — one corpus pass.
    gt = shared_bruteforce_hi(spark, sf_dir).select("query_id", "vec_id")
    j = gt.join(ivf, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_gt"),
        F.count("_hit").cast("long").alias("n_hit"),
        F.round(F.count("_hit") / F.count(F.lit(1)).cast("double"), 6).alias(
            "recall"
        ),
    )


# ------------------------------------------------- Pareto share
@register(
    "orders_pareto_share",
    oracle="""
    WITH rev AS (
      SELECT o_custkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      FROM orders GROUP BY o_custkey
    ),
    thr AS (
      SELECT quantile_cont(r, 0.90) AS p90, quantile_cont(r, 0.99) AS p99
      FROM rev
    )
    SELECT count(*) AS n_customers,
           round(sum(r) FILTER (WHERE r >= thr.p90) / sum(r), 6)
             AS top10_share,
           round(sum(r) FILTER (WHERE r >= thr.p99) / sum(r), 6)
             AS top1_share
    FROM rev, thr
    """,
)
def orders_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto) audit: the share of total
    revenue held by customers at or above the 90th / 99th percentile
    of per-customer revenue — the skew diagnostic that decides
    whether a customer-keyed aggregate needs salting and whether a
    sampling strategy must stratify by account size.

    Plan: one per-customer DECIMAL-exact revenue aggregate; the two
    thresholds come from ONE exact-percentile aggregate (sort-based,
    but over the per-customer frame — |customers| rows, not orders);
    shares are conditional sums against the broadcast 1-row
    threshold frame. No window, no global sort of the fact table.
    Boundary-membership is engine-stable: an interpolated percentile
    lies strictly between two data values, so FP ulp differences
    cannot flip any r >= threshold comparison."""
    rev = (
        spark.table("orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("r")
        )
    )
    thr = rev.agg(
        F.expr("percentile(r, 0.90)").alias("p90"),
        F.expr("percentile(r, 0.99)").alias("p99"),
    )
    return (
        rev.join(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(
                F.sum(F.when(F.col("r") >= F.col("p90"), F.col("r")))
                / F.sum("r"),
                6,
            ).alias("top10_share"),
            F.round(
                F.sum(F.when(F.col("r") >= F.col("p99"), F.col("r")))
                / F.sum("r"),
                6,
            ).alias("top1_share"),
        )
    )


# ------------------------------------------------- A/B lift
@register(
    "events_ab_test_lift",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  > count(*) FILTER (WHERE event_type = 'click')
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT arm,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(converted) AS BIGINT) AS n_converted
      FROM u GROUP BY arm
    ),
    w AS (
      SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n0,
             max(CASE WHEN arm = 0 THEN n_converted END) AS c0,
             max(CASE WHEN arm = 1 THEN n_users END) AS n1,
             max(CASE WHEN arm = 1 THEN n_converted END) AS c1
      FROM s
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           round(CAST(c0 AS DOUBLE) / n0, 6) AS rate_control,
           round(CAST(c1 AS DOUBLE) / n1, 6) AS rate_treatment,
           round(CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0, 6)
             AS abs_lift,
           round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
                 / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 6) AS z_score
    FROM w
    """,
)
def events_ab_test_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B readout: users split into deterministic
    arms (user_id parity — the hash-split idiom of stratified_split),
    per-arm conversion (user purchased more often than they clicked —
    a scale-free ~50/50 metric on this corpus), absolute lift, and the pooled
    two-proportion z statistic — the experimentation primitive a
    telemetry store feeds. All counts are exact integers; the z
    formula runs on them in double with identical association in both
    engines.

    Plan: one per-user aggregate (did the user ever convert), one
    2-group aggregate, then a 2-row pivot into a single row — the
    shuffles carry users then 2 rows; nothing scales with event
    count past the first map-side combine."""
    ev = spark.table("events")
    u = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1))
            > F.count(F.when(F.col("event_type") == "click", 1))
        ).cast("long").alias("converted")
    ).select(
        (F.col("user_id") % 2).alias("arm"), "converted"
    )
    s = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    w = s.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    n0, c0 = F.col("n0"), F.col("c0")
    n1, c1 = F.col("n1"), F.col("c1")
    r0 = c0.cast("double") / n0
    r1 = c1.cast("double") / n1
    pool = (c0 + c1).cast("double") / (n0 + n1)
    return w.select(
        n0.alias("n_control"),
        n1.alias("n_treatment"),
        F.round(r0, 6).alias("rate_control"),
        F.round(r1, 6).alias("rate_treatment"),
        F.round(r1 - r0, 6).alias("abs_lift"),
        F.round(
            (r1 - r0)
            / F.sqrt(
                pool * (1 - pool) * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
            ),
            6,
        ).alias("z_score"),
    )


# ------------------------------------------------- SLO burn rate
_SLO_BIN_S = 3600
_SLO_BUDGET = 0.05  # allowed error fraction


@register(
    "ts_error_budget_burn",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(epoch_us(ts) / ({_SLO_BIN_S} * 1000000.0))
                  AS BIGINT) * {_SLO_BIN_S} AS bin_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) FILTER (WHERE event_type = 'error')
                  AS BIGINT) AS n_errors
      FROM events GROUP BY 1
    )
    SELECT bin_ts, n_events, n_errors,
           round(CAST(n_errors AS DOUBLE) / n_events, 6) AS error_rate,
           round(CAST(n_errors AS DOUBLE) / n_events / {_SLO_BUDGET}, 6)
             AS burn_rate,
           CAST(n_errors AS DOUBLE) / n_events > {_SLO_BUDGET}
             AS budget_exceeded
    FROM b
    """,
)
def ts_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO error-budget burn rate per hour window (the SRE
    multi-window burn-alert primitive, Google SRE Workbook ch. 5 —
    public technique): error fraction over the window divided by the
    allowed budget ({_SLO_BUDGET}); burn_rate > 1 means the budget is
    being consumed faster than the SLO period replenishes it. The
    alerting layer composes two window lengths of this same query
    (fast + slow burn); the telemetry store's job is the windowed
    ratio, which is ONE count aggregate keyed by bin — exact integer
    counts, map-side combinable, linear at any event volume."""
    ev = spark.table("events")
    b = ev.groupBy(
        (
            F.floor(
                F.unix_micros("ts") / F.lit(_SLO_BIN_S * 1_000_000.0)
            ).cast("long")
            * _SLO_BIN_S
        ).alias("bin_ts")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    rate = F.col("n_errors").cast("double") / F.col("n_events")
    return b.select(
        "bin_ts",
        "n_events",
        "n_errors",
        F.round(rate, 6).alias("error_rate"),
        F.round(rate / F.lit(_SLO_BUDGET), 6).alias("burn_rate"),
        (rate > F.lit(_SLO_BUDGET)).alias("budget_exceeded"),
    )


_PMI_MIN_COUNT = 5
_PMI_TOP = 40


# ------------------------------------------------- PMI collocations
@register(
    "docs_collocations_pmi",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS w
      FROM documents
    ),
    bg AS (
      SELECT w[i+1] AS w1, w[i+2] AS w2
      FROM toks, UNNEST(range(0, len(w) - 1)) AS u(i)
      WHERE len(w) >= 2
    ),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_pairs FROM bg),
    c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c FROM bg
           GROUP BY w1, w2),
    cl AS (SELECT w1, CAST(sum(c) AS BIGINT) AS cl FROM c2 GROUP BY w1),
    cr AS (SELECT w2, CAST(sum(c) AS BIGINT) AS cr FROM c2 GROUP BY w2),
    scored AS (
      SELECT c2.w1, c2.w2, c2.c,
             round(ln(c2.c * n.n_pairs / (cl.cl * CAST(cr.cr AS DOUBLE))),
                   6) AS pmi
      FROM c2 JOIN cl USING (w1) JOIN cr USING (w2), n
      WHERE c2.c >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, c, pmi, rank FROM (
      SELECT w1, w2, c, pmi,
             row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank
      FROM scored
    ) WHERE rank <= {_PMI_TOP}
    """,
)
def docs_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information
    (Church & Hanks 1990 — public technique): adjacent token pairs
    whose joint frequency beats independence, PMI =
    ln(c(w1,w2)·N / (c(w1·)·c(·w2))), with a count floor of
    {_PMI_MIN_COUNT} (rare-pair PMI is noise) and top-{_PMI_TOP} by
    rounded score — the phrase-mining step feeding tokenizer
    merge-lists and quality lexicons.

    Plan: one explode + one pair aggregate; the two marginal tables
    re-aggregate the (much smaller) pair table and join back on their
    own aggregation keys — they are vocab-sized (scale with the
    corpus), so no broadcast hint: AQE broadcasts while they fit. The
    pair total N is a 1-row frame cross-join-broadcast into the plan
    (no eager .first(), so building the query launches no job and the
    pair subtree is traversed once). The final ranking is a
    distributed top-k over the floored pair set, then a rank window
    over {_PMI_TOP} survivors. Two text-side shuffles total at any
    corpus size."""
    from open_tlm_spark.plans.shared_subtrees import shared_bigram_counts

    # r13 (guide §2.4): the pair counts are the session-shared bigram
    # frame (also BPE's and the bigram-LM's); tokens are whitespace-
    # split so splitting "w1 w2" back is bijective — grouping the
    # pair key is row-identical to grouping (w1, w2). The former
    # localCheckpoint is obsolete: the cached view already serves the
    # four downstream traversals from materialized blocks.
    c2 = shared_bigram_counts(spark, sf_dir).select(
        F.split(F.col("pair"), " ").getItem(0).alias("w1"),
        F.split(F.col("pair"), " ").getItem(1).alias("w2"),
        "c",
    )
    n = c2.agg(F.sum("c").cast("double").alias("n_pairs"))
    cl = c2.groupBy("w1").agg(F.sum("c").alias("cl"))
    cr = c2.groupBy("w2").agg(F.sum("c").alias("cr"))
    scored = (
        c2.filter(F.col("c") >= _PMI_MIN_COUNT)
        .join(cl, "w1")
        .join(cr, "w2")
        .join(F.broadcast(n))
        .select(
            "w1",
            "w2",
            "c",
            F.round(
                F.log(
                    F.col("c") * F.col("n_pairs")
                    / (F.col("cl") * F.col("cr").cast("double"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(_PMI_TOP)
    w = Window.orderBy(F.col("pmi").desc(), "w1", "w2")
    return top.select(
        "w1", "w2", "c", "pmi",
        F.row_number().over(w).cast("long").alias("rank"),
    )


# ------------------------------------------------- code detection
@register(
    "text_code_detection",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[{}()\[\];=<>]')) AS BIGINT)
             AS n_syntax_chars,
           round(len(regexp_extract_all(text, '[{}()\[\];=<>]'))
                 / length(text), 6) AS syntax_density,
           CAST(len(regexp_extract_all(lower(text),
             '\b(def|class|return|import|function|var|const|if|else|for|while)\b'))
             AS BIGINT) AS n_keywords,
           (len(regexp_extract_all(text, '[{}()\[\];=<>]'))
              / length(text) > 0.02
            OR len(regexp_extract_all(lower(text),
               '\b(def|class|return|import|function|var|const|if|else|for|while)\b'))
               >= 3) AS looks_like_code
    FROM documents
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic: syntax-character density
    ({{}}()[];=<> per char) and programming-keyword hits — the
    cheap router corpus pipelines use to split code from natural
    language before applying language-specific quality gates
    (prose filters destroy code and vice versa). Pure codegen'd
    regex counts over one scan — no tokenize pass, no shuffle; the
    flag divides exact integer counts so both engines agree
    bitwise."""
    t = F.col("text")
    syntax = F.regexp_count(t, F.lit(r"[{}()\[\];=<>]"))
    kw = F.regexp_count(
        F.lower(t),
        F.lit(
            r"\b(def|class|return|import|function|var|const|if|else|for|while)\b"
        ),
    )
    return spark.table("documents").select(
        "doc_id",
        syntax.cast("long").alias("n_syntax_chars"),
        F.round(syntax / F.length(t), 6).alias("syntax_density"),
        kw.cast("long").alias("n_keywords"),
        ((syntax / F.length(t) > 0.02) | (kw >= 3)).alias("looks_like_code"),
    )


_TPL_W = 30  # boundary window (chars)
_TPL_MIN_DOCS = 3


# ------------------------------------------------- template detection
@register(
    "docs_template_detection",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, source,
             md5(substr(text, 1, {_TPL_W})) AS prefix_h,
             md5(substr(text, length(text) - {_TPL_W} + 1, {_TPL_W}))
               AS suffix_h
      FROM documents WHERE length(text) >= {_TPL_W}
    ),
    p AS (
      SELECT prefix_h AS h, 'prefix' AS kind,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             min(doc_id) AS example_doc
      FROM b GROUP BY prefix_h
      HAVING count(*) >= {_TPL_MIN_DOCS}
    ),
    s AS (
      SELECT suffix_h AS h, 'suffix' AS kind,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
             min(doc_id) AS example_doc
      FROM b GROUP BY suffix_h
      HAVING count(*) >= {_TPL_MIN_DOCS}
    )
    SELECT h, kind, n_docs, n_sources, example_doc
    FROM (SELECT * FROM p UNION ALL SELECT * FROM s)
    """,
)
def docs_template_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/template detection at document boundaries: hash the
    first and last {_TPL_W} characters of every document and surface
    hashes shared by >= {_TPL_MIN_DOCS} docs — the headers/footers/
    navigation chrome a crawl pipeline strips before dedup and
    quality scoring (shared PREFIXES are the classic template signal;
    the per-source spread distinguishes a site template from
    cross-site syndication). Complements dedup_substring_spans, which
    scans interior windows.

    Plan: two narrow md5 projections over one scan; each kind is one
    count aggregate keyed by hash (map-side combinable; the HAVING
    floor prunes the long tail before the union). Nothing pairwise,
    linear at any corpus size."""
    docs = spark.table("documents").filter(F.length("text") >= _TPL_W)
    b = docs.select(
        "doc_id",
        "source",
        F.md5(F.expr(f"substring(text, 1, {_TPL_W})")).alias("prefix_h"),
        F.md5(
            F.expr(
                f"substring(text, length(text) - {_TPL_W} + 1, {_TPL_W})"
            )
        ).alias("suffix_h"),
    )

    def agg(col: str, kind: str) -> DataFrame:
        return (
            b.groupBy(F.col(col).alias("h"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.count_distinct("source").alias("n_sources"),
                F.min("doc_id").alias("example_doc"),
            )
            .filter(F.col("n_docs") >= _TPL_MIN_DOCS)
            .select(
                "h",
                F.lit(kind).alias("kind"),
                "n_docs",
                "n_sources",
                "example_doc",
            )
        )

    return agg("prefix_h", "prefix").unionByName(agg("suffix_h", "suffix"))


# ------------------------------------------------- staleness report
_STALE_S = 1800  # stale if silent for 30 min before the global frontier


@register(
    "ts_staleness_report",
    oracle=f"""
    WITH f AS (SELECT max(ts) AS frontier FROM events),
    s AS (
      SELECT event_type AS dataset_id,
             max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS n_points
      FROM events GROUP BY event_type
    )
    SELECT dataset_id, last_ts, n_points,
           CAST((epoch_us(f.frontier) - epoch_us(last_ts)) // 1000000
                AS BIGINT) AS lag_s,
           (epoch_us(f.frontier) - epoch_us(last_ts))
             > {_STALE_S}::BIGINT * 1000000 AS is_stale
    FROM s, f
    """,
)
def ts_staleness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Series-staleness report: each series' last point, its lag
    behind the store-wide ingest frontier (max ts over all series),
    and a stale flag at {_STALE_S} s — the "which sensors stopped
    reporting" operational query every telemetry store serves
    (anchored to the data frontier, not the wall clock, so it is
    deterministic and replayable).

    Plan: one per-series max/count aggregate plus a 1-row global-max
    frontier broadcast back — two map-side-combinable aggregates over
    one scan, integer-microsecond lag math identical in both
    engines."""
    ev = spark.table("events")
    f = ev.agg(F.max("ts").alias("frontier"))
    s = ev.groupBy(F.col("event_type").alias("dataset_id")).agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("n_points"),
    )
    lag_us = F.unix_micros("frontier") - F.unix_micros("last_ts")
    return s.join(F.broadcast(f)).select(
        "dataset_id",
        "last_ts",
        "n_points",
        F.expr(
            "CAST((unix_micros(frontier) - unix_micros(last_ts)) div 1000000"
            " AS BIGINT)"
        ).alias("lag_s"),
        (lag_us > F.lit(_STALE_S * 1_000_000)).alias("is_stale"),
    )


# ------------------------------------------------- discount elasticity
@register(
    "lineitem_discount_elasticity",
    oracle="""
    WITH p AS (
      SELECT CAST(l_discount AS DECIMAL(18,6)) AS x,
             CAST(l_quantity AS DECIMAL(18,6)) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM p
    )
    SELECT n AS n_lines,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n,
                 6) AS intercept,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def lineitem_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity probe: OLS of line quantity on discount
    rate over the whole fact table (slope = extra units per unit of
    discount, r² = how much of quantity variance discounting explains)
    — the pricing-analytics regression a revenue team runs before
    trusting promo lift numbers (TPC-H data famously shows ~zero
    correlation; the r² says so instead of leaving it implied).

    Plan: ONE map-side-combinable moment aggregate over the fact scan
    (DECIMAL-exact sums — order-independent), formulas applied to the
    exact moments in double with identical association in both
    engines. No join, no window; at 100 TB this is a single scan."""
    p = spark.table("lineitem").select(
        F.col("l_discount").cast("decimal(18,6)").alias("x"),
        F.col("l_quantity").cast("decimal(18,6)").alias("y"),
    )
    s = p.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        n.alias("n_lines"),
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / ((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("r2"),
    )


# ------------------------------------------------- open-order backlog
@register(
    "orders_open_backlog_daily",
    oracle="""
    WITH spans AS (
      SELECT o.o_orderkey, o.o_orderdate AS start_d,
             max(l.l_shipdate) AS end_d
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    deltas AS (
      SELECT start_d AS d, 1 AS delta FROM spans
      UNION ALL
      SELECT end_d + INTERVAL 1 DAY, -1 FROM spans
    ),
    daily AS (
      SELECT CAST(d AS DATE) AS d, CAST(sum(delta) AS BIGINT) AS net_change
      FROM deltas GROUP BY CAST(d AS DATE)
    )
    SELECT CAST(d AS TIMESTAMP) AS d, net_change,
           CAST(sum(net_change) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS open_orders
    FROM daily
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: how many orders are in flight
    (ordered but not yet fully shipped) on each active date — the
    concurrent-intervals counting pattern (sweep line as data: +1 at
    span start, -1 the day after span end, then a running sum), which
    answers capacity questions no per-row aggregate can.

    Plan: span ends come from one order-key aggregate over the
    co-partitioned orders/lineitem join; the +-1 delta stream
    collapses to ONE row per active date (map-side combinable), and
    only THEN does the running-sum window run — over |calendar days|
    rows (~2.4k for TPC-H), bounded by the calendar no matter how
    many orders exist. The window's single partition is a constant,
    not a scale risk."""
    o = spark.table("orders").select("o_orderkey", "o_orderdate")
    l = spark.table("lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max("l_shipdate").alias("end_d"))
    )
    deltas = spans.select(
        F.col("o_orderdate").alias("d"), F.lit(1).alias("delta")
    ).unionByName(
        spans.select(
            F.date_add(F.col("end_d"), 1).alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    daily = deltas.groupBy(F.col("d").cast("date").alias("d")).agg(
        F.sum("delta").cast("long").alias("net_change")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.col("d").cast("timestamp").alias("d"),
        "net_change",
        F.sum("net_change").over(w).cast("long").alias("open_orders"),
    )


# ------------------------------------------------- inter-arrival
@register(
    "ts_inter_arrival_stats",
    oracle="""
    WITH g AS (
      SELECT event_type AS dataset_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT dataset_id,
           CAST(count(gap_us) AS BIGINT) AS n_gaps,
           round(CAST(sum(gap_us) AS DOUBLE) / count(gap_us) / 1000000.0,
                 6) AS mean_gap_s,
           round(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
           round(quantile_cont(gap_us, 0.95) / 1000000.0, 6) AS p95_gap_s,
           round(CAST(max(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_gap_s
    FROM g GROUP BY dataset_id
    """,
)
def ts_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series inter-arrival-time profile: mean / median / p95 /
    max gap between consecutive points — the sampling-rate audit that
    feeds rollup-cadence choices, staleness thresholds
    (ts_staleness_report), and gap-fill policy (a p95 gap far above
    the mean means bursts + silences, not a steady clock). Ordering
    ties break on event_id so the lag is deterministic under equal
    timestamps.

    Plan: one lag window per series (partition-bounded; at warehouse
    scale the partition key is (series, day) via the store layout),
    then one map-side-combinable aggregate — integer-microsecond gaps
    keep the mean exact; percentiles are exact sorted-interpolation
    over each series' gap set, same formula both engines."""
    ev = spark.table("events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = ev.select(
        F.col("event_type").alias("dataset_id"),
        (
            F.unix_micros("ts")
            - F.lag(F.unix_micros("ts")).over(w)
        ).alias("gap_us"),
    )
    return g.groupBy("dataset_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(
            F.sum("gap_us").cast("double")
            / F.count("gap_us")
            / F.lit(1_000_000.0),
            6,
        ).alias("mean_gap_s"),
        F.round(
            F.expr("percentile(gap_us, 0.5)") / F.lit(1_000_000.0), 6
        ).alias("p50_gap_s"),
        F.round(
            F.expr("percentile(gap_us, 0.95)") / F.lit(1_000_000.0), 6
        ).alias("p95_gap_s"),
        F.round(
            F.max("gap_us").cast("double") / F.lit(1_000_000.0), 6
        ).alias("max_gap_s"),
    )


# ------------------------------------------------- fulfillment SLA
_SLA_DAYS = 60


@register(
    "orders_fulfillment_sla",
    oracle=f"""
    WITH spans AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             date_diff('day', o.o_orderdate, max(l.l_shipdate)) AS days_to_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (WHERE days_to_ship <= {_SLA_DAYS})
                AS BIGINT) AS n_within_sla,
           round(count(*) FILTER (WHERE days_to_ship <= {_SLA_DAYS})
                 / CAST(count(*) AS DOUBLE), 6) AS sla_rate,
           round(CAST(sum(days_to_ship) AS DOUBLE) / count(*), 6)
             AS mean_days_to_ship
    FROM spans GROUP BY o_orderpriority
    """,
)
def orders_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA by order priority: the share of orders fully
    shipped within {_SLA_DAYS} days of order date and the mean
    days-to-last-shipment — the operational readout that tells you
    whether priority classes actually get prioritized (on TPC-H data
    they famously don't — ship dates are priority-independent, and
    this query shows it as equal SLA rates).

    Plan: one order-grain aggregate over the co-partitioned
    orders/lineitem equi-join, then one aggregate over |priorities|
    groups — exact integer day arithmetic throughout."""
    o = spark.table("orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    l = spark.table("lineitem").select("l_orderkey", "l_shipdate")
    spans = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(F.max("l_shipdate"), F.col("o_orderdate")).alias(
                "days_to_ship"
            )
        )
    )
    return spans.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("days_to_ship") <= _SLA_DAYS, 1)).alias(
            "n_within_sla"
        ),
        F.round(
            F.count(F.when(F.col("days_to_ship") <= _SLA_DAYS, 1))
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("sla_rate"),
        F.round(
            F.sum("days_to_ship").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_days_to_ship"),
    )


# ------------------------------------------- seasonality strength
_SEAS_BIN_S = 3600


@register(
    "ts_seasonality_strength",
    oracle=f"""
    WITH b AS (
      SELECT event_type AS dataset_id,
             CAST(floor(epoch_us(ts) / ({_SEAS_BIN_S} * 1000000.0))
                  AS BIGINT) AS h,
             CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*), 6) AS DECIMAL(18,6)) AS v
      FROM events GROUP BY 1, 2
    ),
    hb AS (SELECT dataset_id, h, v, CAST(h % 24 AS BIGINT) AS hod FROM b),
    prof AS (
      SELECT dataset_id, hod,
             CAST(round(CAST(sum(v) AS DOUBLE) / count(*), 6)
               AS DECIMAL(18,6)) AS m
      FROM hb GROUP BY dataset_id, hod
    ),
    j AS (
      SELECT hb.dataset_id, hb.v, hb.v - p.m AS r
      FROM hb JOIN prof p
        ON p.dataset_id = hb.dataset_id AND p.hod = hb.hod
    ),
    s AS (
      SELECT dataset_id,
             CAST(count(*) AS BIGINT) AS n_bins,
             CAST(sum(v) AS DOUBLE) AS sv,
             CAST(sum(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS svv,
             CAST(sum(r) AS DOUBLE) AS sr,
             CAST(sum(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) AS srr
      FROM j GROUP BY dataset_id
    )
    SELECT dataset_id, n_bins,
           round(1 - (srr - sr * sr / n_bins)
                     / (svv - sv * sv / n_bins), 6)
             AS seasonality_strength
    FROM s
    """,
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality strength per series: the fraction of hourly-mean
    variance explained by the hour-of-day profile (1 - Var(residual)
    around the 24-slot profile / Var(total) — the STL-style strength
    statistic). Near 1 means a daily cycle dominates (seasonal-naive
    forecasting and day-aligned rollups are safe); near 0 means the
    series has no daily shape and ts_autocorr_lags should pick the
    cadence instead.

    Plan: one bin aggregate (series, hour), one 24-slot profile
    aggregate broadcast back, one moment aggregate — all map-side
    combinable, DECIMAL-exact sums of 6-dp-rounded bin means so both
    engines agree bitwise before the final double formula."""
    ev = spark.table("events")
    dec = F.col("value").cast("decimal(18,6)")
    b = ev.groupBy(
        F.col("event_type").alias("dataset_id"),
        F.floor(
            F.unix_micros("ts") / F.lit(_SEAS_BIN_S * 1_000_000.0)
        )
        .cast("long")
        .alias("h"),
    ).agg(
        F.round(F.sum(dec).cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(18,6)")
        .alias("v")
    )
    hb = b.withColumn("hod", (F.col("h") % 24).cast("long"))
    prof = hb.groupBy("dataset_id", "hod").agg(
        F.round(F.sum("v").cast("double") / F.count(F.lit(1)), 6)
        .cast("decimal(18,6)")
        .alias("m")
    )
    # prof is per-series x 24 — scales with the series catalog, so no
    # broadcast hint: AQE decides, and the join key is prof's own
    # aggregation key so the exchange is reused on the shuffle path.
    j = hb.join(prof, ["dataset_id", "hod"]).select(
        "dataset_id", "v", (F.col("v") - F.col("m")).alias("r")
    )
    s = j.groupBy("dataset_id").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("v").cast("double").alias("sv"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("svv"),
        F.sum("r").cast("double").alias("sr"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,12)"))
        .cast("double")
        .alias("srr"),
    )
    n = F.col("n_bins")
    return s.select(
        "dataset_id",
        "n_bins",
        F.round(
            1
            - (F.col("srr") - F.col("sr") * F.col("sr") / n)
            / (F.col("svv") - F.col("sv") * F.col("sv") / n),
            6,
        ).alias("seasonality_strength"),
    )
