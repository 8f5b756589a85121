"""Round-6 corpus / distribution audits: per-source unigram KL
divergence, tokenizer fertility, Heaps'-law vocabulary growth fit,
Benford first-digit audit, Bollinger bands, log-return volatility,
cross-correlation lag scan, reciprocal-rank fusion, Matryoshka
truncation recall, int8 scalar-quantization error, and
Efraimidis-Spirtakis weighted sampling.

All are public techniques (citations on each query); all follow the
registry conventions (identical aliases both engines, DECIMAL-exact
order-independent sums, 6-dp rounding before ranking, id tiebreaks,
floor(x*1e6+0.5)/1e6 for exact-rational means that can land on
round() tie boundaries).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_tlm_spark.plans.registry import register
from open_tlm_spark.plans.shared_subtrees import BF_HI_K, BF_LO_NQ
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

# ------------------------------------------------- source unigram KL
_KL_B = 1024  # hashed unigram buckets (fixed constant)
_KL_ALPHA = 0.5  # add-alpha smoothing
_KL_AB = _KL_ALPHA * _KL_B


@register(
    "source_unigram_kl",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (
      SELECT source,
             ('0x' || substr(md5(unnest(w)), 1, 8))::BIGINT % {_KL_B}
               AS bucket
      FROM toks
    ),
    sb AS (
      SELECT source, bucket, count(*) AS c_sb
      FROM tok GROUP BY source, bucket
    ),
    ns AS (
      SELECT source, CAST(sum(c_sb) AS BIGINT) AS n_s
      FROM sb GROUP BY source
    ),
    cb AS (
      SELECT bucket, CAST(sum(c_sb) AS BIGINT) AS c_b
      FROM sb GROUP BY bucket
    ),
    tot AS (SELECT CAST(sum(c_b) AS BIGINT) AS n FROM cb),
    grid AS (
      SELECT ns.source, ns.n_s, u.i AS bucket
      FROM ns, UNNEST(range(0, {_KL_B})) AS u(i)
    ),
    j AS (
      SELECT g.source, g.n_s, g.bucket,
             coalesce(sb.c_sb, 0) AS c_sb,
             coalesce(cb.c_b, 0) AS c_b
      FROM grid g
      LEFT JOIN sb ON sb.source = g.source AND sb.bucket = g.bucket
      LEFT JOIN cb ON cb.bucket = g.bucket
    ),
    terms AS (
      SELECT source, n_s,
             round(((c_sb + {_KL_ALPHA}) / (n_s + {_KL_AB}))
                   * ln(((c_sb + {_KL_ALPHA}) / (n_s + {_KL_AB}))
                        / ((c_b + {_KL_ALPHA}) / (n + {_KL_AB}))),
                   6) AS term
      FROM j, tot
    )
    SELECT source, n_s AS n_tokens,
           CAST(sum(CAST(term AS DECIMAL(18,6))) AS DOUBLE) AS kl_nats
    FROM terms GROUP BY source, n_s
    """,
)
def source_unigram_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence KL(P_source || P_corpus) over hashed
    unigram buckets (feature hashing a la DSIR; add-alpha smoothing)
    — the distribution-shift audit that says which sources' token
    statistics deviate most from the mixture, i.e. which ones a
    temperature-weighted mixture or a filter will move the most.

    Plan: ONE tokenize pass -> (source, bucket) counts; source and
    corpus marginals both derive from that one aggregate. The bucket
    space is a FIXED {_KL_B} constant, so the smoothing grid is
    |sources| x {_KL_B} rows and the corpus-bucket frame is
    broadcast-legitimate (fixed size), while per-source frames join
    unhinted (AQE decides — they scale with the source count). Each
    KL term is rounded to 6 dp and DECIMAL-summed, so the per-source
    sum is order-independent and engine-identical."""
    from open_tlm_spark.operators.text import tokens

    docs = fan_out(spark.table("documents"))
    tok = docs.select(
        "source",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    ).select(
        "source",
        (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("long")
            % _KL_B
        ).alias("bucket"),
    )
    sb = tok.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).alias("c_sb")
    )
    ns = sb.groupBy("source").agg(F.sum("c_sb").cast("long").alias("n_s"))
    cb = sb.groupBy("bucket").agg(F.sum("c_sb").cast("long").alias("c_b"))
    tot = cb.agg(F.sum("c_b").cast("long").alias("n"))
    spec = spark.range(_KL_B).select(F.col("id").alias("bucket"))
    grid = ns.join(F.broadcast(spec))
    j = (
        grid.join(sb, ["source", "bucket"], "left")
        .join(F.broadcast(cb), "bucket", "left")
        .join(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            F.coalesce("c_sb", F.lit(0)).alias("c_sb"),
            F.coalesce("c_b", F.lit(0)).alias("c_b"),
            "n",
        )
    )
    p_s = (F.col("c_sb") + _KL_ALPHA) / (F.col("n_s") + _KL_AB)
    p_c = (F.col("c_b") + _KL_ALPHA) / (F.col("n") + _KL_AB)
    terms = j.select(
        "source",
        "n_s",
        F.round(p_s * F.log(p_s / p_c), 6)
        .cast("decimal(18,6)")
        .alias("term"),
    )
    return terms.groupBy("source", F.col("n_s").alias("n_tokens")).agg(
        F.sum("term").cast("double").alias("kl_nats")
    )


# ------------------------------------------- tokenizer fertility
@register(
    "tokenizer_fertility_by_source",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, source, unnest(w) AS token FROM toks),
    pd AS (
      SELECT source, doc_id,
             count(*) AS n_tok,
             CAST(sum(length(token)) AS BIGINT) AS n_ch,
             CAST(sum((length(token) + 3) // 4) AS BIGINT) AS n_sub
      FROM tok GROUP BY source, doc_id
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(sum(n_ch) AS BIGINT) AS n_chars,
           CAST(sum(n_sub) AS BIGINT) AS n_subwords,
           floor(CAST(sum(n_ch) AS DOUBLE) / sum(n_tok)
                 * 1000000 + 0.5) / 1000000.0 AS chars_per_token,
           floor(CAST(sum(n_sub) AS DOUBLE) / sum(n_tok)
                 * 1000000 + 0.5) / 1000000.0 AS subwords_per_token
    FROM pd GROUP BY source
    """,
)
def tokenizer_fertility_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-fertility audit per source: characters per
    whitespace token and subwords per token under a fixed
    4-chars-per-subword BPE proxy (ceil(len/4)) — the budgeting
    statistic that converts a char-count corpus inventory into token
    budgets, and flags sources whose long-token text will inflate
    sequence lengths. (Real BPE fertility needs the trained merges;
    the ceil proxy keeps the audit tokenizer-free and deterministic.)

    Plan: one tokenize+explode pass, a per-(source, doc) partial
    aggregate (map-side combinable), then the per-source rollup.
    Means use the floor(x*1e6+0.5)/1e6 half-up form because exact
    integer ratios land on round() tie boundaries. Docs with zero
    tokens drop out of the explode (counted by the companion
    docs_length_histogram, which scans unexploded)."""
    from open_tlm_spark.operators.text import tokens

    docs = fan_out(spark.table("documents"))
    tok = docs.select(
        "source",
        "doc_id",
        F.explode(tokens(F.lower(F.col("text")))).alias("token"),
    )
    pd = tok.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.length("token")).cast("long").alias("n_ch"),
        F.sum(F.expr("(length(token) + 3) div 4")).cast("long").alias("n_sub"),
    )
    half_up = lambda c: (  # noqa: E731
        F.floor(c * 1_000_000 + F.lit(0.5)) / 1_000_000.0
    )
    return pd.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.sum("n_ch").cast("long").alias("n_chars"),
        F.sum("n_sub").cast("long").alias("n_subwords"),
        half_up(
            F.sum("n_ch").cast("double") / F.sum("n_tok")
        ).alias("chars_per_token"),
        half_up(
            F.sum("n_sub").cast("double") / F.sum("n_tok")
        ).alias("subwords_per_token"),
    )


# --------------------------------------------------- Heaps'-law fit
_HEAPS_K = 3  # tokens per vocabulary unit (k-grams, not unigrams: the
# corpus' unigram vocabulary saturates, so per-source distinct-word
# counts are constant — k-gram space is large enough to still grow)


@register(
    "docs_heaps_law_fit",
    oracle=rf"""
    WITH {_TOKS_CTE},
    tok AS (
      SELECT source,
             array_to_string(list_slice(w, u.i + 1, u.i + {_HEAPS_K}),
                             ' ') AS token
      FROM toks, UNNEST(range(0, len(w) - {_HEAPS_K - 1})) AS u(i)
      WHERE len(w) >= {_HEAPS_K}
    ),
    tc AS (
      SELECT source, token, count(*) AS c
      FROM tok GROUP BY source, token
    ),
    pts AS (
      SELECT source,
             CAST(round(ln(CAST(sum(c) AS DOUBLE)), 6)
               AS DECIMAL(18,6)) AS x,
             CAST(round(ln(CAST(count(*) AS DOUBLE)), 6)
               AS DECIMAL(18,6)) AS y
      FROM tc GROUP BY source
    ),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
             CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(sum(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT n AS n_sources,
           round((n * sxy - sx * sy)
                 / nullif(n * sxx - sx * sx, 0), 6) AS beta,
           round((sy - (n * sxy - sx * sy)
                       / nullif(n * sxx - sx * sx, 0) * sx)
                 / n, 6) AS ln_k,
           round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / nullif((n * sxx - sx * sx) * (n * syy - sy * sy), 0),
                 6) AS r2
    FROM s
    """,
)
def docs_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (Heaps 1978, public): regress
    ln(distinct {_HEAPS_K}-grams) on ln(total {_HEAPS_K}-grams)
    across sources — V = K n^beta with beta typically 0.4-0.6 for
    natural text. The corpus audit that predicts vocabulary size at
    100x the data and flags synthetic/templated sources (beta near 0:
    vocabulary saturates; near 1: near-random strings). Companion to
    documents_zipf_fit (rank-frequency slope; the two laws are
    duals). The vocabulary unit is the word {_HEAPS_K}-gram: this
    corpus' unigram vocab saturates (every source sees all ~31
    words — a degenerate zero-variance fit), while the k-gram space
    still grows. Degenerate inputs yield NULL fit columns via nullif
    guards in BOTH engines, not a divide-by-zero error.

    Plan: one tokenize+shingle pass -> (source, gram) counts; each
    source collapses to a single (ln n, ln V) point; the OLS is one
    DECIMAL-exact moment aggregate over |sources| points (identical
    association in both engines — the discount-elasticity pattern).
    Two shuffles at any corpus size, both keyed on (source[, gram]).
    r14 (guide §2.4): the tokenize pass comes from the session-shared
    tokenized corpus (plans/shared_subtrees) — the k-gram transform
    runs over the cached token arrays instead of re-tokenizing."""
    from open_tlm_spark.plans.shared_subtrees import shared_tokens

    docs = shared_tokens(spark, sf_dir)
    w = F.col("w")
    grams = F.when(
        F.size(w) >= _HEAPS_K,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - _HEAPS_K),
            lambda i: F.array_join(F.slice(w, i + 1, _HEAPS_K), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    tok = docs.select(
        "source",
        F.explode(grams).alias("token"),
    )
    tc = tok.groupBy("source", "token").agg(F.count(F.lit(1)).alias("c"))
    pts = tc.groupBy("source").agg(
        F.round(F.log(F.sum("c").cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("x"),
        F.round(F.log(F.count(F.lit(1)).cast("double")), 6)
        .cast("decimal(18,6)")
        .alias("y"),
    )
    s = pts.agg(
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
    beta = (n * sxy - sx * sy) / F.nullif(
        n * sxx - sx * sx, F.lit(0.0)
    )
    return s.select(
        n.alias("n_sources"),
        F.round(beta, 6).alias("beta"),
        F.round((sy - beta * sx) / n, 6).alias("ln_k"),
        F.round(
            ((n * sxy - sx * sy) * (n * sxy - sx * sy))
            / F.nullif(
                (n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)
            ),
            6,
        ).alias("r2"),
    )


# ----------------------------------------------- Benford audit
@register(
    "orders_benford_audit",
    oracle="""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    g AS (SELECT digit, count(*) AS n_orders FROM d GROUP BY digit),
    tot AS (SELECT CAST(sum(n_orders) AS BIGINT) AS total FROM g)
    SELECT digit, n_orders,
           floor(CAST(n_orders AS DOUBLE) / total * 1000000 + 0.5)
             / 1000000.0 AS obs_share,
           round(log10(1 + 1.0 / digit), 6) AS exp_share,
           round(abs(floor(CAST(n_orders AS DOUBLE) / total
                           * 1000000 + 0.5) / 1000000.0
                     - round(log10(1 + 1.0 / digit), 6)), 6) AS abs_dev
    FROM g, tot
    """,
)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit (Newcomb 1881 / Benford 1938,
    public): the distribution of leading digits of order totals vs
    the log10(1+1/d) law — the classic fraud/data-quality screen for
    transaction amounts (synthetic or fabricated values flunk it;
    multi-decade natural amounts follow it). Deviations here say the
    generator is uniform-ish, which is itself the audit's output.

    Determinism: the leading digit comes from the exact integer cents
    (round(price*100) — 2-dp money, never at a .5 double boundary),
    rendered via integer->string in both engines; shares use the
    half-up floor form. Plan: one scan, one 9-group aggregate, the
    1-row total cross-join-broadcast in — lazy, no driver action."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = spark.table("orders").select(
        F.substring(cents.cast("string"), 1, 1).cast("long").alias("digit")
    )
    g = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_orders"))
    tot = g.agg(F.sum("n_orders").cast("long").alias("total"))
    obs = (
        F.floor(
            F.col("n_orders").cast("double") / F.col("total") * 1_000_000
            + F.lit(0.5)
        )
        / 1_000_000.0
    )
    exp = F.round(F.log10(1 + 1.0 / F.col("digit")), 6)
    return g.join(F.broadcast(tot)).select(
        "digit",
        "n_orders",
        obs.alias("obs_share"),
        exp.alias("exp_share"),
        F.round(F.abs(obs - exp), 6).alias("abs_dev"),
    )


# ----------------------------------------------- Bollinger bands
_BB_BIN_S = 3600  # hourly bins
_BB_N = 20  # rolling window length (the classic 20-period band)
_BB_K = 2  # band half-width in rolling stddevs
_BB_SCALE = 1000  # 3-dp fixed-point bin means -> all-integer moments


@register(
    "ts_bollinger_bands",
    oracle=f"""
    WITH b AS (
      SELECT event_type AS dataset_id,
             CAST(floor(epoch_us(ts) / ({_BB_BIN_S} * 1000000.0))
               AS BIGINT) AS bin,
             CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,6)))
                             AS DOUBLE) / count(*)
                        * {_BB_SCALE} + 0.5) AS BIGINT) AS vi
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT dataset_id, bin, vi,
             CAST(sum(vi) OVER win AS BIGINT) AS s1,
             CAST(sum(vi * vi) OVER win AS BIGINT) AS s2,
             CAST(count(*) OVER win AS BIGINT) AS nw
      FROM b
      WINDOW win AS (PARTITION BY dataset_id ORDER BY bin
                     ROWS BETWEEN {_BB_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT dataset_id,
           bin * {_BB_BIN_S} AS bin_ts,
           vi / {_BB_SCALE}.0 AS v,
           round(s1 / ({_BB_N} * {_BB_SCALE}.0), 6) AS mid,
           round(s1 / ({_BB_N} * {_BB_SCALE}.0)
                 - {_BB_K} * sqrt(CAST({_BB_N} * s2 - s1 * s1 AS DOUBLE))
                   / ({_BB_N} * {_BB_SCALE}.0), 6) AS lower,
           round(s1 / ({_BB_N} * {_BB_SCALE}.0)
                 + {_BB_K} * sqrt(CAST({_BB_N} * s2 - s1 * s1 AS DOUBLE))
                   / ({_BB_N} * {_BB_SCALE}.0), 6) AS upper,
           vi * {_BB_N} * {_BB_SCALE} > s1 * {_BB_SCALE}
             + CAST(round({_BB_K} * sqrt(CAST({_BB_N} * s2 - s1 * s1
                                              AS DOUBLE))) AS BIGINT)
             AS above_upper
    FROM w WHERE nw = {_BB_N}
    """,
)
def ts_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (John Bollinger, 1980s — public): rolling
    {_BB_N}-bin mean of each series' hourly level with a +/-{_BB_K}
    rolling-sigma envelope, plus an upper-breakout flag — the
    volatility-adaptive complement to the fixed z-score anomaly query
    (ts_anomaly_zscore uses GLOBAL moments; these bands move with
    local regime).

    Determinism: bin means are snapped to {_BB_SCALE}-scaled integers
    (half-up floor), so the rolling first/second moments are EXACT
    BIGINT sums and n*s2 - s1^2 is an exact integer (max ~1.3e14 <
    2^53 at this value range — exact in double); sqrt of that integer
    is one IEEE op. The breakout flag compares scaled integers (one
    rounded sqrt term), never two rounded doubles. Plan: one binning
    aggregate + one sorted window per series partition — identical
    exchange for both; no join. At 100 TB the window partitions by
    series, so parallelism = series count (same contract as every
    rolling-window query here)."""
    ev = spark.table("events")
    b = ev.groupBy(
        F.col("event_type").alias("dataset_id"),
        F.floor(
            F.unix_micros("ts") / F.lit(_BB_BIN_S * 1_000_000.0)
        )
        .cast("long")
        .alias("bin"),
    ).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
            * _BB_SCALE
            + F.lit(0.5)
        )
        .cast("long")
        .alias("vi")
    )
    win = (
        Window.partitionBy("dataset_id")
        .orderBy("bin")
        .rowsBetween(-(_BB_N - 1), Window.currentRow)
    )
    w = b.select(
        "dataset_id",
        "bin",
        "vi",
        F.sum("vi").over(win).cast("long").alias("s1"),
        F.sum(F.col("vi") * F.col("vi")).over(win).cast("long").alias("s2"),
        F.count(F.lit(1)).over(win).cast("long").alias("nw"),
    ).filter(F.col("nw") == _BB_N)
    denom = float(_BB_N * _BB_SCALE)
    spread = F.sqrt(
        (_BB_N * F.col("s2") - F.col("s1") * F.col("s1")).cast("double")
    )
    mid = F.col("s1") / denom
    return w.select(
        "dataset_id",
        (F.col("bin") * _BB_BIN_S).alias("bin_ts"),
        (F.col("vi") / float(_BB_SCALE)).alias("v"),
        F.round(mid, 6).alias("mid"),
        F.round(mid - _BB_K * spread / denom, 6).alias("lower"),
        F.round(mid + _BB_K * spread / denom, 6).alias("upper"),
        (
            F.col("vi") * _BB_N * _BB_SCALE
            > F.col("s1") * _BB_SCALE
            + F.round(_BB_K * spread).cast("long")
        ).alias("above_upper"),
    )


# ------------------------------------------- log-return volatility
_LRV_BIN_S = 3600


@register(
    "ts_log_returns_vol",
    oracle=f"""
    WITH c AS (
      SELECT event_type AS dataset_id,
             CAST(floor(epoch_us(ts) / ({_LRV_BIN_S} * 1000000.0))
               AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT dataset_id,
             CAST(round(ln(CAST(cnt AS DOUBLE)
                           / lag(cnt) OVER (PARTITION BY dataset_id
                                            ORDER BY h)), 6)
               AS DECIMAL(18,6)) AS r
      FROM c QUALIFY lag(cnt) OVER (PARTITION BY dataset_id
                                    ORDER BY h) IS NOT NULL
    ),
    s AS (
      SELECT dataset_id,
             CAST(count(*) AS BIGINT) AS n_returns,
             CAST(sum(r) AS DOUBLE) AS s1,
             CAST(sum(CAST(r * r AS DECIMAL(38,12))) AS DOUBLE) AS s2
      FROM r GROUP BY dataset_id
    )
    SELECT dataset_id, n_returns,
           floor(s1 / n_returns * 1000000 + 0.5) / 1000000.0
             AS mean_return,
           round(sqrt((s2 - s1 * s1 / n_returns) / (n_returns - 1)), 6)
             AS volatility
    FROM s
    """,
)
def ts_log_returns_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series log-return volatility of the hourly event-rate
    signal: r_t = ln(c_t / c_(t-1)) over consecutive bins, reported
    as mean return and sample standard deviation (the realized-
    volatility estimator of quantitative finance, applied to traffic
    rates — "how bursty is this stream, hour over hour", the number
    that sizes rate-limiter headroom and autoscaler margins).

    Determinism: each return is ln of an exact integer ratio, rounded
    to 6 dp and cast DECIMAL, so both moment sums are exact decimal
    arithmetic (r*r is DECIMAL x DECIMAL — no double rounding); the
    final mean uses the half-up floor form (exact rational / count
    lands on round() ties), while the volatility is an irrational
    sqrt (no tie risk). Plan: one binning aggregate, one lag window,
    one moment aggregate — series-partitioned throughout."""
    ev = spark.table("events")
    c = ev.groupBy(
        F.col("event_type").alias("dataset_id"),
        F.floor(
            F.unix_micros("ts") / F.lit(_LRV_BIN_S * 1_000_000.0)
        )
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lw = Window.partitionBy("dataset_id").orderBy("h")
    r = (
        c.select(
            "dataset_id",
            F.col("cnt"),
            F.lag("cnt").over(lw).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            "dataset_id",
            F.round(
                F.log(F.col("cnt").cast("double") / F.col("prev")), 6
            )
            .cast("decimal(18,6)")
            .alias("r"),
        )
    )
    s = r.groupBy("dataset_id").agg(
        F.count(F.lit(1)).alias("n_returns"),
        F.sum("r").cast("double").alias("s1"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
    )
    n = F.col("n_returns")
    return s.select(
        "dataset_id",
        n,
        (
            F.floor(F.col("s1") / n * 1_000_000 + F.lit(0.5))
            / 1_000_000.0
        ).alias("mean_return"),
        F.round(
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
            ),
            6,
        ).alias("volatility"),
    )


# ------------------------------------------- cross-correlation lag
_XC_BIN_S = 3600
_XC_MAX_LAG = 3


@register(
    "ts_cross_corr_lag",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             CAST(floor(epoch_us(ts) / ({_XC_BIN_S} * 1000000.0))
               AS BIGINT) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    l AS (SELECT CAST(unnest(range(0, {_XC_MAX_LAG + 1})) AS BIGINT)
            AS lag),
    p AS (
      SELECT a.event_type AS series_a, b.event_type AS series_b,
             l.lag, a.cnt AS x, b.cnt AS y
      FROM c a
      JOIN l ON TRUE
      JOIN c b ON b.event_type > a.event_type AND b.h = a.h + l.lag
    ),
    s AS (
      SELECT series_a, series_b, lag,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(x) AS DOUBLE) AS sx,
             CAST(sum(y) AS DOUBLE) AS sy,
             CAST(sum(x * y) AS DOUBLE) AS sxy,
             CAST(sum(x * x) AS DOUBLE) AS sxx,
             CAST(sum(y * y) AS DOUBLE) AS syy
      FROM p GROUP BY 1, 2, 3
    ),
    x AS (
      SELECT series_a, series_b, lag, n_pairs,
             round((n_pairs * sxy - sx * sy)
                   / sqrt((n_pairs * sxx - sx * sx)
                          * (n_pairs * syy - sy * sy)), 6) AS xcorr
      FROM s
    )
    SELECT series_a, series_b, lag, n_pairs, xcorr,
           row_number() OVER (PARTITION BY series_a, series_b
                              ORDER BY xcorr DESC, lag) = 1 AS is_best
    FROM x
    """,
)
def ts_cross_corr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lag scan: Pearson correlation of every
    ordered series pair's hourly count signals at lags 0..{_XC_MAX_LAG}
    with the best lag flagged — the lead/lag detector ("errors follow
    deploys by one hour") behind root-cause timelines; the pairwise
    generalization of ts_autocorr_lags and the lagged sibling of
    ts_pairwise_corr (which only measures lag 0).

    Determinism: counts are integers so every moment is exact; the
    correlation is computed from exact moments with identical
    association, rounded to 6 dp; the best-lag row_number breaks ties
    on the rounded value then lag. Plan: one binning aggregate; the
    {_XC_MAX_LAG + 1}-row lag spec broadcasts (fixed constant); the
    pair join is an equi-join on the shifted bin key (series_b >
    series_a halves the work); one moment aggregate + one 4-row
    window per pair. Pairs scale as |series|^2 — the same contract
    as ts_pairwise_corr (use a series allowlist at fleet scale)."""
    ev = spark.table("events")
    c = ev.groupBy(
        "event_type",
        F.floor(
            F.unix_micros("ts") / F.lit(_XC_BIN_S * 1_000_000.0)
        )
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lags = spark.range(0, _XC_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a, b = c.alias("a"), c.alias("b")
    p = (
        a.join(F.broadcast(lags))
        .join(
            b,
            (F.col("b.event_type") > F.col("a.event_type"))
            & (F.col("b.h") == F.col("a.h") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("series_a"),
            F.col("b.event_type").alias("series_b"),
            "lag",
            F.col("a.cnt").alias("x"),
            F.col("b.cnt").alias("y"),
        )
    )
    s = p.groupBy("series_a", "series_b", "lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n = F.col("n_pairs")
    x = s.select(
        "series_a",
        "series_b",
        "lag",
        "n_pairs",
        F.round(
            (n * F.col("sxy") - F.col("sx") * F.col("sy"))
            / F.sqrt(
                (n * F.col("sxx") - F.col("sx") * F.col("sx"))
                * (n * F.col("syy") - F.col("sy") * F.col("sy"))
            ),
            6,
        ).alias("xcorr"),
    )
    bw = Window.partitionBy("series_a", "series_b").orderBy(
        F.col("xcorr").desc(), "lag"
    )
    return x.select(
        "series_a",
        "series_b",
        "lag",
        "n_pairs",
        "xcorr",
        (F.row_number().over(bw) == 1).alias("is_best"),
    )


# --------------------------------------- reciprocal-rank fusion
_RRF_K = 60  # the standard RRF damping constant (Cormack et al. 2009)
_RRF_PROBE = 0  # vec_id of the probe vector for the dense arm
_RRF_TOP = 50  # candidates per arm (reuses the BM25 query's top-k)


def _rrf_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import NORMED_CTE
    from open_tlm_spark.plans.retrieval_queries import _bm25_oracle

    return f"""
    WITH bm AS ({_bm25_oracle()}),
    dense AS (
      {NORMED_CTE},
      p AS (SELECT nvec AS pvec FROM normed WHERE vec_id = {_RRF_PROBE}),
      scored AS (
        SELECT a.vec_id AS doc_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> p.pvec[i] * a.nvec[i])), 6) AS cs
        FROM normed a, p WHERE a.vec_id <> {_RRF_PROBE}
      )
      SELECT doc_id,
             row_number() OVER (ORDER BY cs DESC, doc_id) AS rank
      FROM scored QUALIFY rank <= {_RRF_TOP}
    )
    SELECT coalesce(bm.doc_id, dense.doc_id) AS doc_id,
           CAST(bm.rank AS BIGINT) AS lex_rank,
           CAST(dense.rank AS BIGINT) AS vec_rank,
           floor((coalesce(1.0 / ({_RRF_K} + bm.rank), 0.0)
                  + coalesce(1.0 / ({_RRF_K} + dense.rank), 0.0))
                 * 1000000 + 0.5) / 1000000.0 AS rrf
    FROM bm FULL OUTER JOIN dense ON dense.doc_id = bm.doc_id
    """


@register("retrieval_rrf_fusion", oracle=_rrf_oracle())
def retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR
    2009 — public) of a lexical and a dense ranking: score(d) =
    sum over arms of 1/({_RRF_K} + rank_arm(d)) — the standard
    hybrid-retrieval merge (BM25 recall + embedding recall) that
    needs no score calibration because it only consumes ranks.
    Composes the gated docs_bm25_topk ranking with an exact cosine
    ranking against a fixed probe vector (doc_id == vec_id identity
    mapping; docs without an embedding simply never enter the dense
    arm — the realistic partial-coverage case at sf0.1).

    Determinism: both arms rank by (6-dp score, doc_id); the fused
    score is a sum of two exact rationals snapped half-up at 6 dp
    (1/(60+r) can land EXACTLY on the .5 ulp — r=68 gives 1/128 —
    so round()'s engine-specific tie rules are unusable here).
    Plan: each arm is a distributed top-{_RRF_TOP} (TakeOrdered);
    ranks attach via a {_RRF_TOP}-row window; the fusion join touches
    at most 2x{_RRF_TOP} rows. Corpus-side cost = the two arm scans,
    unchanged at any scale."""
    from open_tlm_spark.operators import similarity as S
    from open_tlm_spark.plans.retrieval_queries import docs_bm25_topk
    from open_tlm_spark.plans.shared_subtrees import shared_normed_embeddings

    bm = docs_bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rank").alias("lex_rank")
    )
    emb = spark.table("embeddings")
    probe = emb.filter(F.col("vec_id") == _RRF_PROBE).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    dense = S.brute_force_topk(
        emb,
        probe,
        k=_RRF_TOP,
        normed=shared_normed_embeddings(spark, sf_dir),
    ).select(
        F.col("vec_id").alias("doc_id"),
        F.col("rank").cast("long").alias("vec_rank"),
    )
    fused = bm.join(dense, "doc_id", "full_outer")
    term = lambda r: F.coalesce(  # noqa: E731
        1.0 / (_RRF_K + F.col(r)), F.lit(0.0)
    )
    return fused.select(
        "doc_id",
        "lex_rank",
        "vec_rank",
        (
            F.floor(
                (term("lex_rank") + term("vec_rank")) * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("rrf"),
    )


# ------------------------------------- Matryoshka truncation recall
_MRL_DIM = 16  # truncated prefix dims (of 64)
_MRL_K = 5
_MRL_NQ = BF_LO_NQ  # queries: the shared low brute-force query set


def _mrl_oracle() -> str:
    def arm(d: int, prefix: str) -> str:
        return f"""
    {prefix}v AS (
      SELECT vec_id, list_slice(vec, 1, {d}) AS tv FROM vecs
    ),
    {prefix}n AS (
      SELECT vec_id, list_transform(tv, x -> x / n) AS nvec
      FROM (SELECT vec_id, tv,
                   sqrt(list_sum(list_transform(range(1, {d + 1}),
                        i -> tv[i] * tv[i]))) AS n
            FROM {prefix}v)
    ),
    {prefix}q AS (
      SELECT vec_id AS query_id, nvec AS qvec
      FROM {prefix}n WHERE vec_id < {_MRL_NQ}
    ),
    {prefix}top AS (
      SELECT query_id, vec_id FROM (
        SELECT q.query_id, a.vec_id,
               round(list_sum(list_transform(range(1, {d + 1}),
                     i -> q.qvec[i] * a.nvec[i])), 6) AS cs
        FROM {prefix}n a, {prefix}q q
        WHERE a.vec_id <> q.query_id
      ) QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY cs DESC, vec_id) <= {_MRL_K}
    )"""

    return f"""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    {arm(64, "g")},
    {arm(_MRL_DIM, "t")}
    SELECT g.query_id,
           count(*) AS n_gt,
           CAST(count(t.vec_id) AS BIGINT) AS n_hit,
           round(count(t.vec_id) / CAST(count(*) AS DOUBLE), 6) AS recall
    FROM gtop g LEFT JOIN ttop t
      ON t.query_id = g.query_id AND t.vec_id = g.vec_id
    GROUP BY g.query_id
    """


@register("sim_matryoshka_recall_eval", oracle=_mrl_oracle())
def sim_matryoshka_recall_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation recall (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022 — public): recall@{_MRL_K}
    of cosine search over the first {_MRL_DIM} of 64 dims against the
    full-dimension exact ranking — the eval that decides whether a
    4x cheaper truncated index is good enough as a first-stage
    retriever (these embeddings are NOT MRL-trained, so the measured
    recall is the honest baseline cost of naive truncation). Fourth
    member of the ANN recall-audit family (LSH / PQ / IVF / MRL),
    same query set and tiebreak conventions.

    Plan: both arms are brute_force_topk subtrees ({_MRL_NQ}
    broadcast queries, one corpus scan each — the truncated arm
    scans {_MRL_DIM}/64 of the vector bytes, which is the point);
    the recall join touches {_MRL_K} rows per query."""
    from open_tlm_spark.operators import similarity as S
    from open_tlm_spark.plans.shared_subtrees import shared_bruteforce_lo

    emb = spark.table("embeddings")
    q = emb.filter(F.col("vec_id") < _MRL_NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # r13: full-dim ground truth = the rank <= {k} prefix of the
    # session-shared brute-force top-10 (identical rows: ranks are
    # assigned before the k cut, deterministic tiebreaks).
    gt = (
        shared_bruteforce_lo(spark, sf_dir)
        .filter(F.col("rank") <= _MRL_K)
        .select("query_id", "vec_id")
    )
    t_emb = emb.select(
        "vec_id", F.slice("embedding", 1, _MRL_DIM).alias("embedding")
    )
    t_q = q.select(
        "query_id", F.slice("query_vec", 1, _MRL_DIM).alias("query_vec")
    )
    cand = S.brute_force_topk(t_emb, t_q, k=_MRL_K).select(
        "query_id", "vec_id", F.lit(1).alias("_hit")
    )
    j = gt.join(cand, ["query_id", "vec_id"], "left")
    return j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_gt"),
        F.count("_hit").cast("long").alias("n_hit"),
        F.round(
            F.count("_hit") / F.count(F.lit(1)).cast("double"), 6
        ).alias("recall"),
    )


# --------------------------------- int8 scalar-quantization audit
@register(
    "embedding_sq8_error",
    oracle="""
    WITH vecs AS (
      SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings
    ),
    x AS (
      SELECT vec_id, u.i AS dim, vec[u.i + 1] AS x
      FROM vecs, UNNEST(range(0, 64)) AS u(i)
    ),
    st AS (
      SELECT dim, min(x) AS mn, max(x) AS mx
      FROM x GROUP BY dim
    ),
    qd AS (
      SELECT x.dim, x.x, st.mn, st.mx,
             CASE WHEN st.mx > st.mn
                  THEN floor((x.x - st.mn) / (st.mx - st.mn) * 255
                             + 0.5)
                  ELSE 0 END AS code
      FROM x JOIN st USING (dim)
    ),
    e AS (
      SELECT dim, mn, mx,
             x - (mn + code * (mx - mn) / 255) AS err
      FROM qd
    )
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n_vals,
           round(min(mn), 6) AS dim_min,
           round(max(mx), 6) AS dim_max,
           round(sqrt(CAST(sum(CAST(round(err * err, 12)
                                    AS DECIMAL(28,12))) AS DOUBLE)
                      / count(*)), 6) AS rmse,
           round(max(abs(err)), 6) AS max_abs_err
    FROM e GROUP BY dim
    """,
)
def embedding_sq8_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit: quantize each embedding
    dimension to 256 levels over its observed [min, max] (the SQ8
    storage mode of FAISS/Milvus — public technique) and report
    per-dimension RMSE and worst-case reconstruction error — the
    4x-compression sibling of pq_quantize (codebook-free, byte per
    dim), and the audit that decides whether SQ8 or PQ carries the
    serving index.

    Determinism: min/max over float32 values are exact; code =
    floor(t*255 + .5) of an engine-identical IEEE double (float32
    inputs can never land a 6-dp round on a tie — 5e-7 is not a
    binary rational); squared errors are rounded to 12 dp and
    DECIMAL-summed (order-independent; magnitudes ~1e-5 keep the
    scaled sum far under 2^53).

    Plan: one posexplode scan -> 64-group min/max (a FIXED-size frame
    — broadcast is legitimate) -> one rejoin + moment aggregate. Two
    scans of the vector column, no shuffle beyond the 64-key
    aggregates.

    r14 note (guide §1.1 measure first): an array-native rewrite
    (all 64 dims as one 192-expression single-row aggregate, no
    posexplode, no join) was built, oracle-verified, and MEASURED
    4.5x SLOWER (min-of-5 A/B 2.6 s -> 11.7 s at sf0.1): a >100-field
    aggregate disables whole-stage codegen, so every row paid ~192
    interpreted expression-tree walks where the exploded form runs
    compiled operators on narrow rows. Reverted; the exploded
    64-group shape stays the measured winner."""
    from open_tlm_spark.operators import similarity as S

    emb = fan_out(spark.table("embeddings"))
    x = emb.select(
        "vec_id",
        F.posexplode(S.as_double(F.col("embedding"))).alias("dim", "x"),
    )
    st = x.groupBy("dim").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    jd = x.join(F.broadcast(st), "dim")
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.floor(
            (F.col("x") - F.col("mn"))
            / (F.col("mx") - F.col("mn"))
            * 255
            + F.lit(0.5)
        ),
    ).otherwise(F.lit(0))
    err = F.col("x") - (
        F.col("mn") + code * (F.col("mx") - F.col("mn")) / 255
    )
    e = jd.select("dim", "mn", "mx", err.alias("err"))
    return e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vals"),
        F.round(F.min("mn"), 6).alias("dim_min"),
        F.round(F.max("mx"), 6).alias("dim_max"),
        F.round(
            F.sqrt(
                F.sum(
                    F.round(F.col("err") * F.col("err"), 12).cast(
                        "decimal(28,12)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse"),
        F.round(F.max(F.abs("err")), 6).alias("max_abs_err"),
    )


# ------------------------------- weighted sampling (hash-determined)
_WS_K = 100


@register(
    "sample_weighted_hash",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                       1, 10))::BIGINT + 1)
                      / (1099511627776.0 + 1))
                   / n_chars, 9) AS skey
      FROM documents
    )
    SELECT doc_id, source, n_chars AS weight, skey
    FROM keyed
    ORDER BY skey DESC, doc_id
    LIMIT {_WS_K}
    """,
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via exponential keys
    (Efraimidis & Spirtakis, IPL 2006 — public): each item draws
    u ~ U(0,1) and the {_WS_K} largest u^(1/w) win — equivalently the
    largest ln(u)/w, monotone-identical and overflow-free. Here u is
    a HASH-derived uniform (40-bit md5 of doc_id), so the sample is
    reproducible across engines and runs — the deterministic variant
    of the weighted reservoir used to draw length-weighted eval
    slices (weight = n_chars: P[selected] proportional to document
    length, the token-budget-faithful sampling).

    Determinism: u = (h+1)/(2^40+1) is an exact rational in (0,1);
    ln(u)/w is one IEEE log + divide, rounded at 9 dp (finer than the
    usual 6 — keys for heavy docs differ in the 7th decimal), doc_id
    tiebreak. Plan: one narrow scan + a distributed
    top-{_WS_K} (TakeOrderedAndProject — per-partition heaps, no
    global sort) at any corpus size."""
    docs = spark.table("documents")
    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10
    ).cast("long")
    skey = F.round(
        F.log((h + 1) / F.lit(1099511627776.0 + 1)) / F.col("n_chars"), 9
    )
    return (
        docs.select(
            "doc_id",
            "source",
            F.col("n_chars").alias("weight"),
            skey.alias("skey"),
        )
        .orderBy(F.col("skey").desc(), "doc_id")
        .limit(_WS_K)
    )


# --------------------------------------- dedup cluster-size profile
def _cluster_hist_oracle() -> str:
    from open_tlm_spark.plans.curation_queries import _clusters_oracle

    return f"""
    WITH cl AS ({_clusters_oracle()}),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
      FROM cl GROUP BY cluster_id
    )
    SELECT cluster_size,
           count(*) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs,
           CAST(sum(cluster_size - 1) AS BIGINT) AS n_removable
    FROM sizes GROUP BY cluster_size
    """


@register(
    "dedup_cluster_size_histogram",
    oracle=_cluster_hist_oracle(),
    stateful=True,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-cluster size profile over the connected-components
    output: how many clusters of each size exist, how many documents
    they hold, and how many a keep-one-per-cluster policy removes —
    the yield forecast a dedup run is judged by (SlimPajama/RefinedWeb
    publish exactly this table), and the skew check that catches a
    degenerate giant component before it deletes half the corpus.

    Plan: composes the gated dedup_clusters subtree (linear star
    edges + hash-min CC), then two tiny keyed aggregates
    (cluster_id -> size -> histogram). The histogram has at most
    max-cluster-size rows; all heavy lifting is in the already-
    audited CC. Oracle nests the recursive-CTE mirror."""
    from open_tlm_spark.plans.curation_queries import dedup_clusters

    cl = dedup_clusters(spark, sf_dir)
    sizes = cl.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
        F.sum(F.col("cluster_size") - 1).cast("long").alias("n_removable"),
    )


# --------------------------------------------- quality filter funnel
def _funnel_oracle() -> str:
    from open_tlm_spark.plans.curation_queries import (
        _GOPHER_STOPS,
        _clusters_oracle,
    )

    return rf"""
    WITH {_TOKS_CTE},
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             round(list_sum(list_transform(w, t -> len(t)))
                   / len(w), 6) AS mean_word_len,
             round(len(list_filter(w, t -> regexp_matches(t, '[a-z]')))
                   / len(w), 6) AS pct_alpha_words,
             CAST(len(list_filter(w,
                   t -> list_contains([{_GOPHER_STOPS}], t)))
               AS BIGINT) AS n_stopwords,
             round(1 - len(list_distinct(w)) / len(w), 6)
               AS dup_word_frac
      FROM toks
    ),
    hits AS (
      SELECT doc_id, lang,
        len(regexp_extract_all(lower(text), '\b(der|die|und|von|das)\b')) AS h_de,
        len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b'))    AS h_en,
        len(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b'))    AS h_es,
        len(regexp_extract_all(lower(text), '\b(le|la|et|les|des)\b'))    AS h_fr
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
    ),
    cl AS ({_clusters_oracle()}),
    g AS (
      SELECT (m.n_words BETWEEN 30 AND 100000
              AND m.mean_word_len BETWEEN 3 AND 10
              AND m.pct_alpha_words >= 0.8
              AND m.n_stopwords >= 2) AS gq,
             m.dup_word_frac <= 0.3 AS gr,
             p.lang_pred = p.lang AS gl,
             cl.is_keeper AS gk
      FROM m
      JOIN pred p ON p.doc_id = m.doc_id
      JOIN cl ON cl.doc_id = m.doc_id
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS s0,
             CAST(count(*) FILTER (WHERE gq) AS BIGINT) AS s1,
             CAST(count(*) FILTER (WHERE gq AND gr) AS BIGINT) AS s2,
             CAST(count(*) FILTER (WHERE gq AND gr AND gl) AS BIGINT)
               AS s3,
             CAST(count(*) FILTER (WHERE gq AND gr AND gl AND gk)
               AS BIGINT) AS s4
      FROM g
    ),
    stages AS (
      SELECT 0 AS stage, 'ingested' AS stage_name, s0 AS n_surviving,
             s0 AS prev FROM agg
      UNION ALL SELECT 1, 'gopher_quality', s1, s0 FROM agg
      UNION ALL SELECT 2, 'repetition', s2, s1 FROM agg
      UNION ALL SELECT 3, 'lang_consistency', s3, s2 FROM agg
      UNION ALL SELECT 4, 'fuzzy_dedup', s4, s3 FROM agg
    )
    SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_surviving,
           CAST(prev - n_surviving AS BIGINT) AS n_dropped,
           floor(CAST(n_surviving AS DOUBLE)
                 / (SELECT s0 FROM agg) * 1000000 + 0.5) / 1000000.0
             AS survival_rate
    FROM stages
    """


@register("quality_filter_funnel", oracle=_funnel_oracle(), stateful=True)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential curation funnel: documents surviving each pipeline
    stage in the canonical order — Gopher quality rules, repetition
    gate, language consistency, fuzzy-dedup keeper — with per-stage
    drops and cumulative survival rate. This is the headline table
    of every corpus paper (C4, Gopher, RefinedWeb, FineWeb all
    publish one): unlike curation_yield_by_source (independent
    per-gate failures), the funnel applies gates IN SEQUENCE, so it
    shows the marginal cost of each stage given the previous ones.

    Plan: gate signals come from one tokenize pass and one regex
    pass (narrow, codegen'd); the dedup stage composes the gated
    dedup_clusters subtree (linear star edges + hash-min CC); all
    five cumulative counts come from ONE aggregate over the joined
    flags, exploded to stage rows from a literal 1-row frame —
    corpus-side cost is one scan + the CC rounds regardless of
    corpus size. r14 (guide §2.4): the signal pass is the
    session-shared quality-signal frame (plans/shared_subtrees) —
    same expressions, computed once for the five quality/langid
    consumers."""
    from open_tlm_spark.plans.curation_queries import dedup_clusters
    from open_tlm_spark.plans.shared_subtrees import shared_quality_signals

    d = shared_quality_signals(spark, sf_dir).select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "pct_alpha_words",
        "n_stopwords",
        "dup_word_frac",
        "lang_pred",
    )
    keep = dedup_clusters(spark, sf_dir).select("doc_id", "is_keeper")
    gq = (
        F.col("n_words").between(30, 100000)
        & F.col("mean_word_len").between(3, 10)
        & (F.col("pct_alpha_words") >= 0.8)
        & (F.col("n_stopwords") >= 2)
    )
    gr = F.col("dup_word_frac") <= 0.3
    gl = F.col("lang_pred") == F.col("lang")
    gk = F.col("is_keeper")
    agg = d.join(keep, "doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("s0"),
        F.count(F.when(gq, 1)).cast("long").alias("s1"),
        F.count(F.when(gq & gr, 1)).cast("long").alias("s2"),
        F.count(F.when(gq & gr & gl, 1)).cast("long").alias("s3"),
        F.count(F.when(gq & gr & gl & gk, 1)).cast("long").alias("s4"),
    )
    stage = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).cast("long").alias("stage"),
                    F.lit(name).alias("stage_name"),
                    F.col(cur).alias("n_surviving"),
                    F.col(prev).alias("prev"),
                )
                for i, (name, cur, prev) in enumerate(
                    [
                        ("ingested", "s0", "s0"),
                        ("gopher_quality", "s1", "s0"),
                        ("repetition", "s2", "s1"),
                        ("lang_consistency", "s3", "s2"),
                        ("fuzzy_dedup", "s4", "s3"),
                    ]
                )
            ]
        )
    ).alias("st")
    return agg.select("s0", stage).select(
        F.col("st.stage").alias("stage"),
        F.col("st.stage_name").alias("stage_name"),
        F.col("st.n_surviving").alias("n_surviving"),
        (F.col("st.prev") - F.col("st.n_surviving"))
        .cast("long")
        .alias("n_dropped"),
        (
            F.floor(
                F.col("st.n_surviving").cast("double")
                / F.col("s0")
                * 1_000_000
                + F.lit(0.5)
            )
            / 1_000_000.0
        ).alias("survival_rate"),
    )


# ------------------------------------------------ IVF nprobe sweep
_NPS_PROBES = (1, 2, 4, 8)
_NPS_K = BF_HI_K
_NPS_PROBES_SQL = ", ".join(str(p) for p in _NPS_PROBES)


def _nprobe_sweep_oracle() -> str:
    from open_tlm_spark.plans.pipeline_queries import NORMED_CTE

    return f"""{NORMED_CTE},
    c AS (SELECT vec_id AS centroid_id, nvec AS cnvec FROM normed
          WHERE vec_id < 8),
    qn AS (SELECT vec_id AS query_id, nvec AS qvec FROM normed
           WHERE vec_id >= 8 AND vec_id < 12),
    cellrank AS (
      SELECT query_id, centroid_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cs DESC, centroid_id)
               AS cell_rank
      FROM (
        SELECT q.query_id, c.centroid_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> q.qvec[i] * c.cnvec[i])), 6) AS cs
        FROM qn q, c)
    ),
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
    cand AS (
      SELECT cr.query_id, a.vec_id, cr.cell_rank,
             round(list_sum(list_transform(range(1, 65),
                   i -> q.qvec[i] * an.nvec[i])), 6) AS cos_sim
      FROM cellrank cr
      JOIN assigned a ON a.centroid_id = cr.centroid_id
                     AND a.vec_id <> cr.query_id
      JOIN normed an ON an.vec_id = a.vec_id
      JOIN qn q ON q.query_id = cr.query_id
    ),
    probes AS (SELECT CAST(unnest([{_NPS_PROBES_SQL}]) AS BIGINT)
                 AS nprobe),
    ranked AS (
      SELECT p.nprobe, query_id, vec_id,
             row_number() OVER (PARTITION BY p.nprobe, query_id
                                ORDER BY cos_sim DESC, vec_id) AS rank
      FROM cand, probes p WHERE cell_rank <= p.nprobe
      QUALIFY rank <= {_NPS_K}
    ),
    gt AS (
      SELECT query_id, vec_id
      FROM (
        SELECT qn.query_id, a.vec_id,
               round(list_sum(list_transform(range(1, 65),
                     i -> qn.qvec[i] * a.nvec[i])), 6) AS cos_sim
        FROM normed a, qn WHERE a.vec_id <> qn.query_id)
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, vec_id)
              <= {_NPS_K}
    ),
    gtp AS (SELECT p.nprobe, g.query_id, g.vec_id FROM gt g, probes p)
    SELECT gtp.nprobe,
           count(*) AS n_gt,
           CAST(count(r.vec_id) AS BIGINT) AS n_hit,
           round(count(r.vec_id) / CAST(count(*) AS DOUBLE), 6)
             AS recall
    FROM gtp LEFT JOIN ranked r
      ON r.nprobe = gtp.nprobe AND r.query_id = gtp.query_id
     AND r.vec_id = gtp.vec_id
    GROUP BY gtp.nprobe
    """


@register("sim_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def sim_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF nprobe tuning sweep: recall@{_NPS_K} against the exact
    cosine ground truth at nprobe in {_NPS_PROBES} — the
    latency/recall trade-off curve every IVF deployment tunes before
    serving (FAISS's nprobe parameter; at nprobe = n_cells the search
    is exhaustive and recall must hit 1.0, which doubles as a sanity
    anchor for the whole pipeline). Extends sim_ivf_recall_eval
    (nprobe=1 only) to the full tuning table.

    Plan: ONE corpus scoring pass — queries' cells are RANKED once
    (4 queries x 8 centroids, broadcast), candidates carry their
    cell_rank, and each nprobe level is a filter + re-rank over the
    same scored frame (probe spec is a fixed literal — broadcast);
    per-query work at nprobe=p is p/|cells| of the corpus, the IVF
    contract. The ground-truth arm is the deliberate brute-force
    audit baseline. Corpus assignment and normalization come from
    the session-shared views (r13, plans/shared_subtrees)."""
    from open_tlm_spark.operators.similarity import (
        as_double,
        dot,
        normalized,
    )
    from open_tlm_spark.plans.shared_subtrees import shared_ivf_cells

    emb = spark.table("embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("cvec"),
    )
    queries = emb.filter(
        (F.col("vec_id") >= 8) & (F.col("vec_id") < 12)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cn = (
        normalized(
            centroids.select(
                "centroid_id", as_double(F.col("cvec")).alias("vec")
            ),
            "vec",
        )
        .select("centroid_id", F.col("nvec").alias("cnvec"))
        .localCheckpoint(eager=False)
    )
    qn = (
        normalized(
            queries.select(
                "query_id", as_double(F.col("query_vec")).alias("vec")
            ),
            "vec",
        )
        .select("query_id", F.col("nvec").alias("qvec"))
        .localCheckpoint(eager=False)
    )
    cw = Window.partitionBy("query_id").orderBy(
        F.col("cs").desc(), "centroid_id"
    )
    cellrank = (
        qn.join(F.broadcast(cn))
        .select(
            "query_id",
            "centroid_id",
            F.round(dot(F.col("qvec"), F.col("cnvec")), 6).alias("cs"),
        )
        .select(
            "query_id",
            "centroid_id",
            F.row_number().over(cw).alias("cell_rank"),
        )
    )
    corpus = shared_ivf_cells(spark, sf_dir).select(
        "vec_id", "centroid_id", "nvec"
    )
    cand = (
        corpus.join(F.broadcast(cellrank), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(qn), "query_id")
        .select(
            "query_id",
            "vec_id",
            "cell_rank",
            F.round(dot(F.col("qvec"), F.col("nvec")), 6).alias(
                "cos_sim"
            ),
        )
    )
    probes = spark.createDataFrame(
        [(p,) for p in _NPS_PROBES], "nprobe long"
    )
    rw = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cos_sim").desc(), "vec_id"
    )
    ranked = (
        cand.join(F.broadcast(probes))
        .filter(F.col("cell_rank") <= F.col("nprobe"))
        .select(
            "nprobe",
            "query_id",
            "vec_id",
            F.row_number().over(rw).alias("rank"),
        )
        .filter(F.col("rank") <= _NPS_K)
        .select("nprobe", "query_id", "vec_id", F.lit(1).alias("_hit"))
    )
    # r13: exact ground truth from the session-shared brute-force
    # frame (also the IVF recall eval's GT arm) — one corpus pass.
    from open_tlm_spark.plans.shared_subtrees import shared_bruteforce_hi

    gt = shared_bruteforce_hi(spark, sf_dir).select("query_id", "vec_id")
    gtp = gt.join(F.broadcast(probes))
    j = gtp.join(ranked, ["nprobe", "query_id", "vec_id"], "left")
    return j.groupBy("nprobe").agg(
        F.count(F.lit(1)).alias("n_gt"),
        F.count("_hit").cast("long").alias("n_hit"),
        F.round(
            F.count("_hit") / F.count(F.lit(1)).cast("double"), 6
        ).alias("recall"),
    )
