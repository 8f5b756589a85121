"""Round-5 data-selection / serving extras: DSIR importance
weighting, CCNet-style LM buckets, temperature-scaled mixture
allocation, embedding covariance, LSH s-curve calibration, OHLC and
LTTB downsampling, percentile bands, deterministic hash sampling,
RAKE keyphrases, and winnowing fingerprints.

All are public techniques (citations on each query); all follow the
registry conventions (identical aliases both engines, DECIMAL-exact
order-independent sums, 6-dp rounding before ranking, id tiebreaks).
Two float-determinism rules were learned here and apply repo-wide:
a 6-dp DECIMAL sum divided by an integer count lands exactly on
round() tie boundaries (use floor(x*1e6+0.5)/1e6), and DECIMAL
accumulators whose integer magnitude exceeds 2^53 convert to double
differently across engines (keep summed magnitudes small, e.g.
bucket-relative offsets)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_tlm_spark.plans.registry import register
from open_tlm_spark.plans.shared_subtrees import IVF_NCELLS
from open_tlm_spark.session import fan_out

# DuckDB mirror of text.tokens(lower(text)) — same CTE as the other
# plan modules.
_TOKS_CTE = r"""
    toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '') AS w
      FROM documents
    )
"""

# ------------------------------------------------------------ DSIR
_DSIR_B = 1024  # hashed n-gram feature buckets (fixed constant)
_DSIR_ALPHA = 0.5  # add-alpha smoothing
_DSIR_TARGET = ("src0", "src1", "src2", "src3")  # target-domain proxy


@register(
    "docs_dsir_importance",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (
      SELECT doc_id,
             source IN {_DSIR_TARGET} AS is_t,
             ('0x' || substr(md5(unnest(w)), 1, 8))::BIGINT % {_DSIR_B}
               AS bucket
      FROM toks
    ),
    stats AS (
      SELECT bucket,
             count(*) AS r_c,
             CAST(sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_c
      FROM tok GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(sum(r_c) AS BIGINT) AS r_tot,
             CAST(sum(t_c) AS BIGINT) AS t_tot
      FROM stats
    ),
    ratio AS (
      SELECT bucket,
             round(
               ln((t_c + {_DSIR_ALPHA})
                  / (t_tot + {_DSIR_ALPHA * _DSIR_B}))
               - ln((r_c + {_DSIR_ALPHA})
                    / (r_tot + {_DSIR_ALPHA * _DSIR_B})),
               6) AS lr
      FROM stats, tot
    ),
    db AS (
      SELECT doc_id, bucket, count(*) AS c
      FROM tok GROUP BY doc_id, bucket
    )
    SELECT db.doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(round(sum(c * CAST(lr AS DECIMAL(18,6))), 6) AS DOUBLE)
             AS dsir_logratio,
           floor(CAST(sum(c * CAST(lr AS DECIMAL(18,6))) AS DOUBLE)
                 / sum(c) * 1000000 + 0.5) / 1000000.0 AS avg_logratio
    FROM db JOIN ratio USING (bucket)
    GROUP BY db.doc_id
    """,
)
def docs_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weighting (Xie et al., "Data Selection for
    Language Models via Importance Resampling", NeurIPS 2023 — public
    technique): score every document by the log-likelihood ratio of
    its hashed-unigram features under a target-domain LM vs the raw
    corpus LM. The standard pretraining data-selection step: sample
    proportional to exp(score) to shift the mixture toward the
    target domain without hand-written rules.

    Plan: ONE tokenize pass feeds both the bucket LM aggregate and
    the per-doc bucket counts. The bucket table is at most
    {_DSIR_B} rows — a FIXED constant independent of corpus size —
    so broadcasting it (and the 1-row totals frame) is legitimate,
    unlike a vocab-sized marginal. Per-bucket log-ratios are rounded
    to 6 dp and the per-doc combination is an exact count x DECIMAL
    dot product, so the aggregate is order-independent and
    engine-identical. Two corpus-side shuffles at any scale."""
    from open_tlm_spark.plans.shared_subtrees import token_stream

    # r13 (guide §2.4): token stream from the session-shared
    # tokenized corpus (`source` rides on the shared frame).
    tok = token_stream(spark, sf_dir).select(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGET).alias("is_t"),
        "token",
    ).select(
        "doc_id",
        "is_t",
        (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
            % _DSIR_B
        ).alias("bucket"),
    )
    stats = tok.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("r_c"),
        F.sum(F.col("is_t").cast("long")).alias("t_c"),
    )
    tot = stats.agg(
        F.sum("r_c").cast("long").alias("r_tot"),
        F.sum("t_c").cast("long").alias("t_tot"),
    )
    ab = float(_DSIR_ALPHA * _DSIR_B)
    ratio = stats.join(F.broadcast(tot)).select(
        "bucket",
        F.round(
            F.log((F.col("t_c") + _DSIR_ALPHA) / (F.col("t_tot") + ab))
            - F.log((F.col("r_c") + _DSIR_ALPHA) / (F.col("r_tot") + ab)),
            6,
        ).alias("lr"),
    )
    db = tok.groupBy("doc_id", "bucket").agg(F.count(F.lit(1)).alias("c"))
    dot = F.sum(F.col("c") * F.col("lr").cast("decimal(18,6)"))
    return (
        db.join(F.broadcast(ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.round(dot, 6).cast("double").alias("dsir_logratio"),
            # half-up via floor: the 6-dp DECIMAL dot divided by an
            # integer count lands EXACTLY on .5 ulp boundaries, where
            # the engines' round() tie rules disagree; floor(x*1e6 +
            # .5)/1e6 is the same double computation in both.
            (
                F.floor(
                    dot.cast("double") / F.sum("c") * 1_000_000
                    + F.lit(0.5)
                )
                / 1_000_000.0
            ).alias("avg_logratio"),
        )
    )


# ----------------------------------------------- CCNet LM buckets
_CCNET_NTILES = 3


@register(
    "docs_ccnet_lm_buckets",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, source, unnest(w) AS token FROM toks),
    freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM freq),
    scored AS (
      SELECT t.doc_id, t.source,
             round(ln(CAST(f.c AS DOUBLE) / total.n), 6) AS logp
      FROM tok t JOIN freq f USING (token), total
    ),
    perdoc AS (
      SELECT doc_id, source,
             round(CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE)
                   / count(*), 6) AS avg_logp
      FROM scored GROUP BY doc_id, source
    ),
    nt AS (
      SELECT source, avg_logp,
             ntile({_CCNET_NTILES}) OVER (
               PARTITION BY source
               ORDER BY avg_logp DESC, doc_id) AS tile
      FROM perdoc
    )
    SELECT source,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                     ELSE 'tail' END AS bucket,
           count(*) AS n_docs,
           round(CAST(sum(CAST(avg_logp AS DECIMAL(18,6))) AS DOUBLE)
                 / count(*), 6) AS mean_logp
    FROM nt GROUP BY source, bucket
    """,
)
def docs_ccnet_lm_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality bucketing (Wenzek et al., "CCNet:
    Extracting High Quality Monolingual Datasets from Web Crawl
    Data", LREC 2020 — public technique): score every document with
    the corpus unigram LM, then split EACH SOURCE into head / middle
    / tail terciles by score — the per-domain perplexity bucketing
    used to stratify web data before sampling.

    Plan: tokenize once; the unigram frequency table is vocab-sized
    (scales with the corpus) so it joins back on token with NO
    broadcast hint — AQE decides. The ntile window is partitioned by
    source (never a global sort) with a doc_id tiebreak for
    determinism; the final aggregate is a DECIMAL-exact mean."""
    from open_tlm_spark.plans.shared_subtrees import (
        shared_unigram_counts,
        token_stream,
    )

    # r13 (guide §2.4): token stream + unigram LM table come from the
    # session-shared tokenized corpus (unigram scorer shares both).
    tok = token_stream(spark, sf_dir)
    freq = shared_unigram_counts(spark, sf_dir)
    total = freq.agg(F.sum("c").cast("long").alias("n"))
    scored = (
        tok.join(freq, "token")
        .join(F.broadcast(total))
        .select(
            "doc_id",
            "source",
            F.round(
                F.log(F.col("c").cast("double") / F.col("n")), 6
            ).alias("logp"),
        )
    )
    perdoc = scored.groupBy("doc_id", "source").agg(
        F.round(
            F.sum(F.col("logp").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("avg_logp")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logp").desc(), "doc_id"
    )
    nt = perdoc.select(
        "source", "avg_logp", F.ntile(_CCNET_NTILES).over(w).alias("tile")
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return nt.groupBy("source", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(
            F.sum(F.col("avg_logp").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_logp"),
    )


# ------------------------------------- temperature-scaled mixture
_MIX_TAU = 0.7  # sampling temperature
_MIX_BUDGET_FRAC = 0.5  # token budget as a fraction of the corpus


@register(
    "mixture_temperature_allocation",
    oracle=rf"""
    WITH {_TOKS_CTE},
    cnt AS (
      SELECT source, CAST(sum(len(w)) AS BIGINT) AS n_tokens
      FROM toks GROUP BY source
    ),
    wgt AS (
      SELECT source, n_tokens,
             round(exp({_MIX_TAU} * ln(CAST(n_tokens AS DOUBLE))), 6)
               AS w
      FROM cnt
    ),
    tot AS (
      SELECT CAST(sum(CAST(w AS DECIMAL(18,6))) AS DOUBLE) AS wsum,
             CAST(sum(n_tokens) AS BIGINT) AS corpus_tokens
      FROM wgt
    )
    SELECT source, n_tokens,
           round(w / wsum, 6) AS share,
           round(round(w / wsum, 6) * {_MIX_BUDGET_FRAC}
                 * corpus_tokens, 2) AS sampled_tokens,
           round(round(w / wsum, 6) * {_MIX_BUDGET_FRAC}
                 * corpus_tokens / n_tokens, 6) AS epochs
    FROM wgt, tot
    """,
)
def mixture_temperature_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled mixture allocation (the multilingual /
    multi-source sampling rule of Conneau & Lample, NeurIPS 2019, and
    most LLM data recipes — public technique): source weights
    proportional to n_tokens^tau (tau={_MIX_TAU}) flatten the natural
    size distribution; given a token budget ({_MIX_BUDGET_FRAC} x
    corpus), report each source's share, sampled token count, and the
    implied epoch/repeat factor (>1 means up-sampling).

    Plan: one per-source token-count aggregate (sum of array sizes —
    no explode needed), then scalar mixture math against a 1-row
    totals frame broadcast into the plan. The weight sum is DECIMAL-
    exact over 6-dp-rounded weights (a plain double sum over sources
    would be partition-order-dependent); pow is expressed as
    exp(tau*ln(x)) so both engines evaluate the identical libm
    composition."""
    from open_tlm_spark.operators.text import tokens

    docs = fan_out(spark.table("documents"))
    cnt = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.lower(F.col("text")))))
        .cast("long")
        .alias("n_tokens")
    )
    wgt = cnt.select(
        "source",
        "n_tokens",
        F.round(
            F.exp(F.lit(_MIX_TAU) * F.log(F.col("n_tokens").cast("double"))),
            6,
        ).alias("w"),
    )
    tot = wgt.agg(
        F.sum(F.col("w").cast("decimal(18,6)"))
        .cast("double")
        .alias("wsum"),
        F.sum("n_tokens").cast("long").alias("corpus_tokens"),
    )
    share = F.round(F.col("w") / F.col("wsum"), 6)
    budget = F.lit(_MIX_BUDGET_FRAC) * F.col("corpus_tokens")
    return wgt.join(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        share.alias("share"),
        F.round(share * budget, 2).alias("sampled_tokens"),
        F.round(share * budget / F.col("n_tokens"), 6).alias("epochs"),
    )


# --------------------------------------- embedding covariance scan
_PCA_TOP = 20


@register(
    "embedding_pca_covariance",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, ui.i AS i,
             CAST(embedding[ui.i + 1] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(0, len(embedding))) AS ui(i)
    ),
    dims AS (
      SELECT i, sum(CAST(x AS DECIMAL(30,14))) AS sx,
             count(*) AS n
      FROM u GROUP BY i
    ),
    pairs AS (
      SELECT a.i AS i, b.i AS j,
             sum(CAST(a.x * b.x AS DECIMAL(30,14))) AS sxy
      FROM u a JOIN u b
        ON a.vec_id = b.vec_id AND a.i < b.i
      GROUP BY a.i, b.i
    ),
    cov AS (
      SELECT p.i, p.j,
             round((CAST(p.sxy AS DOUBLE)
                    - CAST(da.sx AS DOUBLE) * CAST(db.sx AS DOUBLE)
                      / da.n)
                   / (da.n - 1), 6) AS cov
      FROM pairs p
      JOIN dims da ON da.i = p.i
      JOIN dims db ON db.i = p.j
    )
    SELECT i, j, cov, rank FROM (
      SELECT i, j, cov,
             row_number() OVER (ORDER BY abs(cov) DESC, i, j) AS rank
      FROM cov
    ) WHERE rank <= {_PCA_TOP}
    """,
)
def embedding_pca_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance scan over the embedding matrix — the first half of
    a distributed PCA (the d x d Gram/covariance aggregate that a
    driver-side eigensolver would consume; d=64 here, so the
    aggregated matrix is tiny while the INPUT is corpus-sized):
    top-{_PCA_TOP} off-diagonal covariances by magnitude, the
    "which dimensions are redundant" diagnostic for embedding
    pipelines.

    Plan: a narrow double posexplode (pos, value) x (pos2, value2)
    per row — d^2/2 terms per vector produced WITHOUT a join on the
    Spark side (the array is carried and re-exploded, so there is no
    per-vec_id shuffle; the only shuffle is the (i,j)-keyed partial
    aggregate, d^2/2 = 2016 groups, map-side combinable). Products
    are dyadic rationals so the DECIMAL(30,14) casts are unambiguous
    across engines (no rounding ties), making the sums exact and
    order-independent; the covariance is then formed in double and
    rounded. The DuckDB mirror uses an equi-join on vec_id instead
    (no lateral re-explode) — same algebra, exact same sums."""
    emb = fan_out(spark.table("embeddings"))
    u = emb.select(
        "embedding", F.posexplode("embedding").alias("i", "xi")
    )
    pairs = u.select(
        "i",
        F.col("xi").cast("double").alias("x"),
        F.posexplode("embedding").alias("j", "xj"),
    ).filter(F.col("i") < F.col("j"))
    sxy = pairs.groupBy("i", "j").agg(
        F.sum(
            (F.col("x") * F.col("xj").cast("double")).cast(
                "decimal(30,14)"
            )
        ).alias("sxy")
    )
    dims = emb.select(
        F.posexplode("embedding").alias("i", "xi")
    ).groupBy("i").agg(
        F.sum(F.col("xi").cast("double").cast("decimal(30,14)")).alias(
            "sx"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    da = dims.select(
        F.col("i").alias("_i"), F.col("sx").alias("sxa"), "n"
    )
    db = dims.select(F.col("i").alias("_j"), F.col("sx").alias("sxb"))
    cov = (
        sxy.join(F.broadcast(da), F.col("i") == F.col("_i"))
        .join(F.broadcast(db), F.col("j") == F.col("_j"))
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("sxy").cast("double")
                    - F.col("sxa").cast("double")
                    * F.col("sxb").cast("double")
                    / F.col("n")
                )
                / (F.col("n") - 1),
                6,
            ).alias("cov"),
        )
    )
    top = cov.orderBy(F.abs(F.col("cov")).desc(), "i", "j").limit(_PCA_TOP)
    w = Window.orderBy(F.abs(F.col("cov")).desc(), "i", "j")
    return top.select(
        "i", "j", "cov", F.row_number().over(w).cast("long").alias("rank")
    )


# ------------------------------------------------ LSH s-curve table
_SCURVE_CONFIGS = [(2, 6), (3, 4), (4, 3), (6, 2), (12, 1)]


def _scurve_oracle() -> str:
    rows = ", ".join(f"({b}, {r})" for b, r in _SCURVE_CONFIGS)
    return f"""
    WITH cfg(b, r) AS (VALUES {rows}),
    s AS (SELECT i / 20.0 AS s FROM UNNEST(range(1, 20)) AS u(i))
    SELECT b, r, s,
           round(1 - exp(b * ln(1 - exp(r * ln(s)))), 6) AS p_collide
    FROM cfg, s
    """


@register("lsh_scurve_table", oracle=_scurve_oracle())
def lsh_scurve_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding s-curve calibration table (Leskovec/Rajaraman/
    Ullman, "Mining of Massive Datasets" ch.3 — public): collision
    probability p = 1-(1-s^r)^b for each candidate (bands, rows)
    geometry over the Jaccard range — the lookup used to pick the
    b x r threshold before running MinHash-LSH at corpus scale (the
    production config b=4, r=3 crosses 0.5 near s~0.63, matching
    dedup_minhash_lsh's documented threshold).

    Plan: pure expression math over a literal spec frame (no table
    input, no shuffle); the power is written exp(k*ln(x)) so both
    engines run the identical libm composition."""
    cfg = spark.createDataFrame(_SCURVE_CONFIGS, "b int, r int")
    s = spark.range(1, 20).select((F.col("id") / 20.0).alias("s"))
    p = 1 - F.exp(
        F.col("b") * F.log(1 - F.exp(F.col("r") * F.log(F.col("s"))))
    )
    return cfg.crossJoin(s).select(
        "b", "r", "s", F.round(p, 6).alias("p_collide")
    )


# -------------------------------------------------- OHLC downsample
_OHLC_BIN_S = 1000


@register(
    "ts_ohlc_bars",
    oracle=f"""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / ({_OHLC_BIN_S} * 1000000.0))
                  AS BIGINT) * {_OHLC_BIN_S} AS bin_s,
             ts, event_id, value
      FROM events
    ),
    rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, bin_s
                                ORDER BY ts, event_id) AS rna,
             row_number() OVER (PARTITION BY event_type, bin_s
                                ORDER BY ts DESC, event_id DESC) AS rnd
      FROM b
    )
    SELECT event_type, bin_s,
           max(CASE WHEN rna = 1 THEN value END) AS open,
           max(value) AS high,
           min(value) AS low,
           max(CASE WHEN rnd = 1 THEN value END) AS close,
           count(*) AS n_points
    FROM rn GROUP BY event_type, bin_s
    """,
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar downsampling — the open/high/low/close summary every
    telemetry & market-data store serves per zoom level (the
    reference renders first/last/min/max per pixel column the same
    way its M4 cousin does; see /root/reference/public/graph.js
    bucketing). Open/close are the first/last VALUES by (ts,
    event_id) — a deterministic total order, so ties cannot flip the
    result between engines.

    Plan: one window pass partitioned by (series, bin) — thousands of
    independent partitions, never a global sort — then one grouped
    aggregate over the same key (the window's shuffle is reused by
    the aggregate: same partitioning expression). min/max/count are
    map-side combinable."""
    ev = spark.table("events")
    bin_s = (
        F.floor(
            F.unix_micros("ts") / F.lit(_OHLC_BIN_S * 1_000_000.0)
        ).cast("long")
        * _OHLC_BIN_S
    )
    b = ev.select(
        "event_type",
        bin_s.alias("bin_s"),
        "ts",
        "event_id",
        "value",
    )
    wa = Window.partitionBy("event_type", "bin_s").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "bin_s").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    rn = b.select(
        "event_type",
        "bin_s",
        "value",
        F.row_number().over(wa).alias("rna"),
        F.row_number().over(wd).alias("rnd"),
    )
    return rn.groupBy("event_type", "bin_s").agg(
        F.max(F.when(F.col("rna") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rnd") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_points"),
    )


# --------------------------------------- deterministic hash sample
_SAMPLE_K = 20


@register(
    "events_hash_sample",
    oracle=f"""
    SELECT event_type, event_id, value, rk FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id)
               AS rk
      FROM events
    ) WHERE rk <= {_SAMPLE_K}
    """,
)
def events_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-key uniform sampling — hash-rank sampling as
    used for corpus eval subsets and debugging slices (rank by a
    cryptographic hash of the id, keep the first k per key; uniform
    over any id distribution, reproducible across runs/engines,
    stable under data growth for the retained prefix — the standard
    alternative to rand()-based sampling, which no two engines agree
    on).

    Plan: one window per event_type partition (bounded k rows kept
    per key); at scale this is the per-key top-k pattern — each
    partition's heap never exceeds k, no global sort."""
    ev = spark.table("events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id"
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            "value",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _SAMPLE_K)
    )


# --------------------------------------- LTTB-style viz downsample
_LTTB_BUCKET_S = 3600


@register(
    "ts_downsample_lttb",
    oracle=f"""
    WITH b AS (
      SELECT event_type AS dataset_id,
             CAST(floor(epoch_us(ts) / ({_LTTB_BUCKET_S} * 1000000.0))
                  AS BIGINT) * {_LTTB_BUCKET_S} AS bucket_ts,
             ts, event_id, value,
             (epoch_us(ts)
              - CAST(floor(epoch_us(ts) / ({_LTTB_BUCKET_S} * 1000000.0))
                     AS BIGINT) * {_LTTB_BUCKET_S} * 1000000)
               / 1000000.0 AS t
      FROM events
    ),
    m AS (
      SELECT dataset_id, bucket_ts,
             CAST(sum(CAST(t AS DECIMAL(24,6))) AS DOUBLE)
               / count(*) AS mt,
             CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               / count(*) AS mv
      FROM b GROUP BY dataset_id, bucket_ts
    ),
    an AS (
      SELECT dataset_id, bucket_ts,
             lag(bucket_ts)  OVER w - bucket_ts + lag(mt)  OVER w AS pt,
             lag(mv)  OVER w AS pv,
             lead(bucket_ts) OVER w - bucket_ts + lead(mt) OVER w AS nt,
             lead(mv) OVER w AS nv
      FROM m WINDOW w AS (PARTITION BY dataset_id ORDER BY bucket_ts)
    ),
    scored AS (
      SELECT b.dataset_id, b.bucket_ts, b.ts, b.event_id, b.value,
             CASE WHEN an.pt IS NULL OR an.nt IS NULL THEN NULL
                  ELSE round(abs((an.pt - an.nt) * (b.value - an.pv)
                                 - (an.pt - b.t) * (an.nv - an.pv))
                             / 2, 6)
             END AS area,
             CASE WHEN an.pt IS NULL THEN b.t
                  WHEN an.nt IS NULL THEN -b.t
                  ELSE -round(abs((an.pt - an.nt) * (b.value - an.pv)
                                  - (an.pt - b.t) * (an.nv - an.pv))
                              / 2, 6)
             END AS sel_key
      FROM b JOIN an USING (dataset_id, bucket_ts)
    )
    SELECT dataset_id, bucket_ts,
           CAST(epoch_us(ts) AS BIGINT) AS ts_us, value, area
    FROM (
      SELECT *,
             row_number() OVER (PARTITION BY dataset_id, bucket_ts
                                ORDER BY sel_key, ts, event_id) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def ts_downsample_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTTB-style visualization downsampling (Steinarsson 2013,
    "Downsampling Time Series for Visual Representation" — public
    technique), bucket-anchored variant: keep, per (series, bucket),
    the point forming the largest triangle against the NEIGHBOR
    BUCKET MEANS. True LTTB anchors on the previously selected point
    (a serial recurrence); anchoring on the bucket means instead is
    the standard parallel approximation — every bucket becomes
    independent, so the selection is one window pass instead of a
    per-series sequential fold, at a quality loss only when a bucket
    mean diverges wildly from its selected point. First/last buckets
    keep their first/last point, as in the original.

    Plan: one bucket-mean aggregate, a lag/lead window over the
    bucket-mean frame (bucket-count-sized, tiny), a join back keyed
    on (series, bucket) reusing the aggregate's partitioning, and one
    per-bucket row_number. Triangle areas are computed on second-
    scale time offsets with 6-dp rounding and (ts, event_id)
    tiebreaks, so the argmax is engine-identical."""
    ev = spark.table("events")
    bucket = (
        F.floor(
            F.unix_micros("ts") / F.lit(_LTTB_BUCKET_S * 1_000_000.0)
        ).cast("long")
        * _LTTB_BUCKET_S
    )
    # bucket-RELATIVE time offsets: keeps every DECIMAL time sum
    # under 2^53 so the decimal->double conversion is exact in both
    # engines (absolute epoch sums hit int128->double ulp divergence)
    t = (F.unix_micros("ts") - bucket * F.lit(1_000_000)) / F.lit(
        1_000_000.0
    )
    b = ev.select(
        F.col("event_type").alias("dataset_id"),
        bucket.alias("bucket_ts"),
        "ts",
        "event_id",
        "value",
        t.alias("t"),
    )
    # anchors stay UNROUNDED: the DECIMAL sums are exact, their
    # double conversion and the division are IEEE-identical in both
    # engines, while rounding the mean would land on .5-ulp ties
    # (exact rational / count) where engine round() rules disagree.
    m = b.groupBy("dataset_id", "bucket_ts").agg(
        (
            F.sum(F.col("t").cast("decimal(24,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mt"),
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mv"),
    )
    wm = Window.partitionBy("dataset_id").orderBy("bucket_ts")
    an = m.select(
        "dataset_id",
        "bucket_ts",
        (
            F.lag("bucket_ts").over(wm)
            - F.col("bucket_ts")
            + F.lag("mt").over(wm)
        ).alias("pt"),
        F.lag("mv").over(wm).alias("pv"),
        (
            F.lead("bucket_ts").over(wm)
            - F.col("bucket_ts")
            + F.lead("mt").over(wm)
        ).alias("nt"),
        F.lead("mv").over(wm).alias("nv"),
    )
    raw_area = (
        F.abs(
            (F.col("pt") - F.col("nt")) * (F.col("value") - F.col("pv"))
            - (F.col("pt") - F.col("t")) * (F.col("nv") - F.col("pv"))
        )
        / 2
    )
    area = F.when(
        F.col("pt").isNotNull() & F.col("nt").isNotNull(),
        F.round(raw_area, 6),
    )
    sel_key = (
        F.when(F.col("pt").isNull(), F.col("t"))
        .when(F.col("nt").isNull(), -F.col("t"))
        .otherwise(-F.round(raw_area, 6))
    )
    scored = b.join(an, ["dataset_id", "bucket_ts"]).select(
        "dataset_id",
        "bucket_ts",
        "ts",
        "event_id",
        "value",
        area.alias("area"),
        sel_key.alias("sel_key"),
    )
    ws = Window.partitionBy("dataset_id", "bucket_ts").orderBy(
        "sel_key", "ts", "event_id"
    )
    return (
        scored.select(
            "dataset_id",
            "bucket_ts",
            F.unix_micros("ts").alias("ts_us"),
            "value",
            "area",
            F.row_number().over(ws).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ------------------------------------------------ percentile bands
@register(
    "ts_percentile_bands",
    oracle="""
    SELECT event_type AS dataset_id,
           CAST(hour(ts) AS BIGINT) AS hod,
           count(*) AS n_points,
           round(quantile_cont(value, 0.10), 6) AS p10,
           round(quantile_cont(value, 0.50), 6) AS p50,
           round(quantile_cont(value, 0.90), 6) AS p90
    FROM events
    GROUP BY dataset_id, hod
    """,
)
def ts_percentile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typical-day percentile envelope: per (series, hour-of-day),
    exact interpolated p10/p50/p90 — the shaded confidence band a
    telemetry UI draws behind the live line (and the baseline an
    anomaly page compares against). Exact percentile buffers each
    (series, hour) group; at 100 TB swap approx_percentile into the
    identical plan (the sketch note on percentiles_by_event_type
    applies). One grouped aggregate, no window, no join."""
    ev = spark.table("events")
    return ev.groupBy(
        F.col("event_type").alias("dataset_id"),
        F.hour("ts").cast("long").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.round(F.expr("percentile(value, 0.10)"), 6).alias("p10"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.90)"), 6).alias("p90"),
    )


# ------------------------------------------------- RAKE keyphrases
_RAKE_STOP = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
    "for", "with", "as", "by", "at", "it", "this", "that", "be",
    "are", "was", "from", "but", "not", "have", "has",
)
_RAKE_MAX_LEN = 4
_RAKE_TOP = 3


@register(
    "docs_rake_keyphrases",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (
      SELECT doc_id, u.i AS pos, w[u.i + 1] AS token,
             w[u.i + 1] IN {_RAKE_STOP} AS is_stop
      FROM toks, UNNEST(range(0, len(w))) AS u(i)
    ),
    numbered AS (
      SELECT doc_id, pos, token, is_stop,
             sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM tok
    ),
    seg AS (
      SELECT doc_id, pos, token, phrase_id
      FROM numbered WHERE NOT is_stop
    ),
    ph AS (
      SELECT doc_id, phrase_id,
             string_agg(token, ' ' ORDER BY pos) AS phrase,
             count(*) AS n_words
      FROM seg GROUP BY doc_id, phrase_id
      HAVING count(*) <= {_RAKE_MAX_LEN}
    ),
    member AS (
      SELECT s.doc_id, s.phrase_id, s.token, p.n_words
      FROM seg s JOIN ph p USING (doc_id, phrase_id)
    ),
    ws AS (
      SELECT token,
             floor(sum(n_words) / CAST(count(*) AS DOUBLE) * 1000000
                   + 0.5) / 1000000.0 AS score
      FROM member GROUP BY token
    ),
    psc AS (
      SELECT m.doc_id, ph.phrase, ph.n_words,
             CAST(round(sum(CAST(ws.score AS DECIMAL(18,6))), 6)
                  AS DOUBLE) AS score
      FROM member m
      JOIN ph USING (doc_id, phrase_id)
      JOIN ws USING (token)
      GROUP BY m.doc_id, m.phrase_id, ph.phrase, ph.n_words
    ),
    dedup AS (
      SELECT doc_id, phrase,
             CAST(max(n_words) AS BIGINT) AS n_words,
             max(score) AS score
      FROM psc GROUP BY doc_id, phrase
    )
    SELECT doc_id, phrase, n_words, score, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, phrase) AS rk
      FROM dedup
    ) WHERE rk <= {_RAKE_TOP}
    """,
)
def docs_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Automatic
    Keyword Extraction from Individual Documents" — public
    technique): candidate phrases are maximal stopword-free token
    runs (capped at {_RAKE_MAX_LEN} words); each word scores
    degree/frequency over the phrase co-occurrence graph; a phrase
    scores the sum of its word scores; top-{_RAKE_TOP} per document.
    The classic unsupervised doc-tagging step between tokenize and
    topic models.

    Plan: posexplode + a per-doc running-sum window assigns phrase
    ids in one pass (the window partitions by doc_id — thousands of
    small partitions, never global). Word scores aggregate the
    phrase-member relation (vocab-sized — joins back on token with
    NO broadcast hint, AQE decides). Degree/frequency is a rational
    that lands on round() ties, so it uses the floor(x*1e6+0.5)
    half-up form; phrase scores then sum those exact 6-dp DECIMALs.
    Per-doc ranking is a doc-partitioned row_number over the tiny
    deduped phrase frame."""
    from open_tlm_spark.plans.shared_subtrees import shared_tokens

    # r13 (guide §2.4): positions explode off the session-shared
    # tokenized corpus (posexplode indexes the same array the view
    # caches — byte-identical (pos, token) stream).
    tok = shared_tokens(spark, sf_dir).select(
        "doc_id",
        F.posexplode("w").alias("pos", "token"),
    ).select(
        "doc_id",
        "pos",
        "token",
        F.col("token").isin(*_RAKE_STOP).alias("is_stop"),
    )
    wseg = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    seg = (
        tok.select(
            "doc_id",
            "pos",
            "token",
            "is_stop",
            F.sum(F.col("is_stop").cast("long")).over(wseg).alias(
                "phrase_id"
            ),
        )
        .filter(~F.col("is_stop"))
        .drop("is_stop")
    )
    ph = (
        seg.groupBy("doc_id", "phrase_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "token"))
                    ),
                    lambda x: x.token,
                ),
                " ",
            ).alias("phrase"),
            F.count(F.lit(1)).alias("n_words"),
        )
        .filter(F.col("n_words") <= _RAKE_MAX_LEN)
    )
    member = seg.join(ph, ["doc_id", "phrase_id"]).select(
        "doc_id", "phrase_id", "token", "phrase", "n_words"
    )
    ws = member.groupBy("token").agg(
        (
            F.floor(
                F.sum("n_words") / F.count(F.lit(1)).cast("double")
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("score")
    )
    psc = (
        member.join(ws, "token")
        .groupBy("doc_id", "phrase_id", "phrase", "n_words")
        .agg(
            F.round(F.sum(F.col("score").cast("decimal(18,6)")), 6)
            .cast("double")
            .alias("score")
        )
    )
    dedup = psc.groupBy("doc_id", "phrase").agg(
        F.max("n_words").cast("long").alias("n_words"),
        F.max("score").alias("score"),
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), "phrase"
    )
    return (
        dedup.select(
            "doc_id",
            "phrase",
            "n_words",
            "score",
            F.row_number().over(wr).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _RAKE_TOP)
    )


# ------------------------------------------------------- winnowing
_WINNOW_MIN_SHARED = 2
_WINNOW_MAX_DF = 50


@register(
    "dedup_winnowing",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, w FROM toks),
    kg AS (
      SELECT doc_id, u.i AS pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(w, u.i + 1, u.i + 3), ' ')), 1, 9))::BIGINT
               * 1048576 + u.i AS pack
      FROM tok, UNNEST(range(0, len(w) - 2)) AS u(i)
      WHERE len(w) >= 3 AND u.i < 1048576
    ),
    sel AS (
      SELECT doc_id, pos,
             min(pack) OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
               AS sel,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM kg
    ),
    fps AS (
      SELECT DISTINCT doc_id, sel // 1048576 AS fp
      FROM sel WHERE pos <= n_grams - 4
    ),
    dfc AS (SELECT fp, count(*) AS df FROM fps GROUP BY fp),
    rare AS (
      SELECT fps.doc_id, fps.fp FROM fps
      JOIN dfc USING (fp) WHERE dfc.df <= {_WINNOW_MAX_DF}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared
    FROM rare a JOIN rare b
      ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING count(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup detection (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS fingerprinting algorithm, public): select
    the minimum k-gram hash of every sliding window of 4
    consecutive k-gram hashes per document, then pair documents sharing >= {_WINNOW_MIN_SHARED}
    selected fingerprints. The winnowing guarantee: any common
    substring of >= w+k-1 tokens shares a fingerprint, at ~2/(w+1)
    the volume of full shingle sets — the positional complement to
    MinHash (set similarity) and substring-span hashing (fixed char
    strides).

    Plan (r14): narrow k-gram transform over the SESSION-SHARED
    tokenized corpus (guide §2.4 — the one piece of the r14 rewire
    that measured as a win), one doc-partitioned rows-frame window
    min on a packed (hash<<20|pos) BIGINT, a distinct, then the
    stop-fingerprint-capped equi-self-join (same linearity
    discipline as the shingle family). An array-native zero-exchange
    selection was also tried and MEASURED 3x slower (interpreted
    higher-order functions vs compiled explode/window — numbers in
    winnow_fingerprints' docstring), so the window form stays. See
    operators/dedup.py winnow_fingerprints/winnow_pairs."""
    from open_tlm_spark.operators import dedup as D
    from open_tlm_spark.plans.shared_subtrees import shared_tokens

    docs = spark.table("documents")
    # the fingerprint subtree feeds the df-cap aggregate AND both
    # self-join sides; materialize once (lazy local checkpoint — the
    # established pattern from the MinHash family) instead of three
    # k-gram passes
    fps = D.winnow_fingerprints(
        docs, tok=shared_tokens(spark, sf_dir).select("doc_id", "w")
    ).localCheckpoint(eager=False)
    return D.winnow_pairs(
        fps, min_shared=_WINNOW_MIN_SHARED, max_df=_WINNOW_MAX_DF
    )


# ------------------------------------------------- DFT periodogram
import math as _math

_DFT_BIN_S = 1000
_DFT_PERIODS = (3600, 21600, 86400)  # 1 h, 6 h, 1 d
_TWO_PI = 2.0 * _math.pi


def _dft_oracle() -> str:
    rows = ", ".join(f"({t})" for t in _DFT_PERIODS)
    return f"""
    WITH binned AS (
      SELECT event_type AS dataset_id,
             CAST(floor(epoch_us(ts) / ({_DFT_BIN_S} * 1000000.0))
                  AS BIGINT) * {_DFT_BIN_S} AS bin_ts,
             CAST(round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                        / count(*), 6) AS DECIMAL(18,6)) AS v
      FROM events GROUP BY 1, 2
    ),
    p(period_s) AS (VALUES {rows}),
    terms AS (
      SELECT dataset_id, period_s,
             CAST(round(CAST(v AS DOUBLE)
                 * cos({_TWO_PI!r} * (bin_ts % period_s) / period_s), 6)
               AS DECIMAL(18,6)) AS c,
             CAST(round(CAST(v AS DOUBLE)
                 * sin({_TWO_PI!r} * (bin_ts % period_s) / period_s), 6)
               AS DECIMAL(18,6)) AS s
      FROM binned, p
    )
    SELECT dataset_id, CAST(period_s AS BIGINT) AS period_s,
           count(*) AS n_bins,
           round((CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)
                  + CAST(sum(s) AS DOUBLE) * CAST(sum(s) AS DOUBLE))
                 / (count(*) * CAST(count(*) AS DOUBLE)), 6) AS power
    FROM terms GROUP BY dataset_id, period_s
    """


@register("ts_dft_power", oracle=_dft_oracle())
def ts_dft_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-frequency DFT periodogram — spectral power of each
    series at the 1 h / 6 h / 1 d periods (the Fourier projection
    P(T) = (|sum v·e^{{-2pi i t/T}}|/n)^2; Schuster's periodogram,
    public since 1898): the quantitative form of "is this series
    hourly/daily periodic", feeding seasonality-aware alerting and
    the ts_seasonality_strength readout with an actual frequency
    axis.

    Plan: one (series, bin) mean aggregate, a 3-row period-spec
    cross join (literal frame — broadcast is size-independent), and
    one (series, period) aggregate — all map-side combinable, no
    window. Determinism: bin means are DECIMAL-exact; each cos/sin
    product is rounded to 6 dp then DECIMAL-summed (order-free); the
    phase angle 2pi(bin_ts mod T)/T is exact integer math feeding
    the same double literal in both engines."""
    ev = spark.table("events")
    binned = (
        ev.groupBy(
            F.col("event_type").alias("dataset_id"),
            (
                F.floor(
                    F.unix_micros("ts") / F.lit(_DFT_BIN_S * 1_000_000.0)
                ).cast("long")
                * _DFT_BIN_S
            ).alias("bin_ts"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("decimal(18,6)")
            .alias("v")
        )
    )
    periods = spark.createDataFrame(
        [(t,) for t in _DFT_PERIODS], "period_s long"
    )
    theta = (
        F.lit(_TWO_PI)
        * (F.col("bin_ts") % F.col("period_s"))
        / F.col("period_s")
    )
    terms = binned.join(F.broadcast(periods)).select(
        "dataset_id",
        "period_s",
        F.round(F.col("v").cast("double") * F.cos(theta), 6)
        .cast("decimal(18,6)")
        .alias("c"),
        F.round(F.col("v").cast("double") * F.sin(theta), 6)
        .cast("decimal(18,6)")
        .alias("s"),
    )
    sc = F.sum("c").cast("double")
    ss = F.sum("s").cast("double")
    n = F.count(F.lit(1))
    return terms.groupBy("dataset_id", "period_s").agg(
        n.alias("n_bins"),
        F.round(
            (sc * sc + ss * ss) / (n * n.cast("double")), 6
        ).alias("power"),
    )


# -------------------------------------------- dedup threshold yield
_YIELD_THRESHOLDS = [round(0.1 * k, 1) for k in range(1, 10)]


def _yield_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import _minhash_oracle

    thr_rows = ", ".join(f"({t})" for t in _YIELD_THRESHOLDS)
    return f"""
    WITH jac AS ({_minhash_oracle()}),
    t(thr) AS (VALUES {thr_rows})
    SELECT CAST(t.thr AS DOUBLE) AS threshold,
           CAST(count(CASE WHEN j.jaccard >= t.thr THEN 1 END) AS BIGINT)
             AS n_pairs,
           CAST(count(DISTINCT CASE WHEN j.jaccard >= t.thr
                                    THEN j.doc_b END) AS BIGINT)
             AS n_docs_flagged
    FROM t CROSS JOIN jac j
    GROUP BY t.thr
    """


@register("dedup_threshold_yield", oracle=_yield_oracle())
def dedup_threshold_yield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold yield curve — the tuning table every corpus
    team builds before committing a similarity cutoff: for each
    Jaccard threshold 0.1..0.9, how many verified LSH candidate
    pairs survive and how many documents would be dropped (a doc is
    flagged when it is the larger id of any surviving pair — the
    keep-lowest-id rule of the cluster stage). Reading the curve
    answers "what does tightening the threshold cost" without
    re-running the pipeline per candidate value.

    Plan: reuses the gated MinHash-LSH candidate + exact-Jaccard
    subtree — since r13 the SESSION-SHARED verified-candidate frame
    (plans/shared_subtrees, guide §2.4: the whole chain runs once per
    session and this audit reads the artifact) — then ONE pass over
    the tiny verified-pair frame cross-joined with the 9-row literal
    threshold spec (broadcast is size-independent). Distinct-doc
    counts run per threshold over candidate pairs only — never the
    corpus."""
    from open_tlm_spark.plans.shared_subtrees import shared_lsh_jaccard

    jac = shared_lsh_jaccard(spark, sf_dir)
    thr = spark.createDataFrame(
        [(t,) for t in _YIELD_THRESHOLDS], "thr double"
    )
    hit = F.col("jaccard") >= F.col("thr")
    return (
        jac.crossJoin(F.broadcast(thr))
        .groupBy("thr")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0))
            .cast("long")
            .alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("doc_b")))
            .cast("long")
            .alias("n_docs_flagged"),
        )
        .select(
            F.col("thr").alias("threshold"), "n_pairs", "n_docs_flagged"
        )
    )


# ---------------------------------------------- IVF balance audit
_IVF_AUDIT_K = IVF_NCELLS


def _ivf_balance_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import NORMED_CTE

    return f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed
          WHERE vec_id < {_IVF_AUDIT_K}),
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
    cell AS (SELECT centroid_id, count(*) AS n_vecs
             FROM assigned GROUP BY centroid_id),
    tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n FROM cell)
    SELECT centroid_id,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           floor(n_vecs / CAST(n AS DOUBLE) * 1000000 + 0.5)
             / 1000000.0 AS share,
           floor(n_vecs * {_IVF_AUDIT_K} / CAST(n AS DOUBLE) * 1000000
                 + 0.5) / 1000000.0 AS load_factor
    FROM cell, tot
    """


@register("sim_ivf_balance_audit", oracle=_ivf_balance_oracle())
def sim_ivf_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance audit — the operational check an ANN serving
    layer runs after (re)training: per cell, the vector count, corpus
    share, and load factor (share x k; 1.0 = perfectly balanced). A
    hot cell (load >> 1) serializes every query routed to it and is
    the signal to retrain or split — the IVF analogue of partition
    skew. Same deterministic lowest-id centroids as the gated
    sim_ivf_assign, so the audit describes exactly the index the
    serving queries use.

    Plan: one k-group count over the session-shared cell layout
    (r13, plans/shared_subtrees — the same persisted-assignment
    artifact every IVF gate reads), a 1-row total frame broadcast
    back. Ratios use the floor-based half-up rounding — n/total is
    exactly the rational tie case where engine round() rules
    disagree."""
    from open_tlm_spark.plans.shared_subtrees import shared_ivf_cells

    cell = (
        shared_ivf_cells(spark, sf_dir)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
    )
    tot = cell.agg(F.sum("n_vecs").cast("long").alias("n"))

    def _half_up(x):
        return F.floor(x * 1_000_000 + F.lit(0.5)) / 1_000_000.0

    frac = F.col("n_vecs") / F.col("n").cast("double")
    return cell.join(F.broadcast(tot)).select(
        "centroid_id",
        F.col("n_vecs").cast("long").alias("n_vecs"),
        _half_up(frac).alias("share"),
        _half_up(F.col("n_vecs") * _IVF_AUDIT_K / F.col("n").cast("double")).alias(
            "load_factor"
        ),
    )
