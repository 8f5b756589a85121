"""Similarity search over embedding columns (array<float>).

Driver north-star operators: brute-force cosine top-k as the exact
baseline, and an IVF (inverted-file) cell-probed variant as the scale
path — both pure DataFrame ops.

Determinism for the oracle: vectors are cast to double element-wise
before any arithmetic (float*float would round differently across
engines), dot products are sequential folds, and ranking uses the
ROUNDED score plus vec_id as tiebreak on both sides.

Scale notes (100 TB of vectors):
  * brute-force — queries broadcast against the corpus; per-partition
    top-k then global top-k (TakeOrderedAndProject after a window
    rank). Cost is one full scan per query batch: right for recall
    evaluation, wrong as a serving path.
  * IVF — corpus pre-assigned to nearest centroid (one narrow pass,
    persisted); a query probes only its cell(s), cutting the scan by
    ~n_cells. Centroid count scales with sqrt(corpus); here centroids
    are a deterministic sample (lowest vec_ids) so the oracle can
    reproduce the assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from open_tlm_spark.session import fan_out


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Deterministic dot product.

    With `dim` given, a flat left-associated chain a[1]*b[1] + ... +
    a[d]*b[d] (same float result as the sequential fold). NOTE:
    measured SLOWER than the fold in pairwise joins — projection
    collapse inlines upstream per-element expressions (e.g. the
    normalization divides) into every unrolled term, exploding the
    expression tree. Default (dim=None) higher-order fold is the fast
    path; the unrolled form only wins on columns read directly from
    storage.
    """
    if dim is not None:
        terms = [
            F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)
        ]
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return out
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int | None = None) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def normalized(
    df: DataFrame, vec_col: str, out_col: str = "nvec", dim: int | None = None
) -> DataFrame:
    """Add an L2-normalized copy of `vec_col` (computed ONCE per
    vector). Every pairwise score then costs a single dot product
    instead of dot + two norms, and at corpus scale the normalized
    column is what you persist. With `dim` known, the division is an
    unrolled array constructor (codegen'd) instead of an interpreted
    transform."""
    tmp = df.withColumn("_norm", norm(F.col(vec_col), dim))
    if dim is not None:
        unit = F.array(
            *[F.element_at(F.col(vec_col), i + 1) / F.col("_norm") for i in range(dim)]
        )
    else:
        unit = F.transform(F.col(vec_col), lambda x: x / F.col("_norm"))
    return tmp.withColumn(out_col, unit).drop("_norm")


def blocked_cosine_pairs(
    df: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    nvec_col: str = "nvec",
    threshold: float = 0.35,
) -> DataFrame:
    """All within-block cosine pairs >= threshold via per-block
    matrix products (applyInPandas) — the Arrow path for pairwise
    vector dedup.

    Why not the pairwise join + fold: a blocked self-join ships every
    pair's BOTH vectors through the scorer (O(sum b_i^2) * 2d values)
    and evaluates an interpreted higher-order fold per pair (measured
    3.5 s at sf0.1). This operator ships each block's vectors ONCE
    (O(n*d)), then accumulates the block's n x n product matrix
    dimension-by-dimension in numpy — vectorized over pairs but
    SEQUENTIAL over dims, i.e. bit-identical to the left-associated
    fold (and the DuckDB list_sum oracle). Measured 1.5 s / 2.3x.

    Scale: one shuffle on block_col; per-block O(n^2) memory means
    blocks are capped by construction (the blocking strategy — label,
    LSH bucket, IVF cell — controls n). Sub-block (salt) any block
    beyond ~50k vectors before calling this.
    """
    import numpy as np
    import pandas as pd

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, ignore_index=True)
        mat = np.vstack(pdf[nvec_col].to_numpy())
        n, d = mat.shape
        acc = np.zeros((n, n))
        for i in range(d):  # fold order: sequential over dimensions
            col = mat[:, i]
            acc += np.multiply.outer(col, col)
        acc = np.round(acc, 6)
        ia, ib = np.triu_indices(n, k=1)
        keep = acc[ia, ib] >= threshold
        ids = pdf[id_col].to_numpy()
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "cos_sim": acc[ia[keep], ib[keep]],
            }
        )

    return (
        df.select(block_col, id_col, nvec_col)
        .groupBy(block_col)
        .applyInPandas(_pairs, "vec_a bigint, vec_b bigint, cos_sim double")
    )


def normed_corpus(embeddings: DataFrame, dim: int | None = None) -> DataFrame:
    """(vec_id, nvec) unit-vector corpus frame — the shared first
    stage of every similarity operator (normalize ONCE, persist at
    scale; plans/shared_subtrees caches it per session)."""
    return normalized(
        fan_out(embeddings).select(
            "vec_id", as_double(F.col("embedding")).alias("vec")
        ),
        "vec",
        dim=dim,
    ).select("vec_id", "nvec")


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int | None = None,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k for each query vector.

    embeddings: (vec_id, embedding); queries: (query_id, query_vec).
    Both sides pre-normalized (cosine == dot of unit vectors);
    queries are broadcast (small side); rank via window on
    (rounded score desc, vec_id) for a deterministic result set.
    `normed` short-circuits the corpus normalization with a
    pre-normalized (vec_id, nvec) frame (e.g. the session-shared
    cached view) — values are identical by construction.
    """
    # Lineage cut: without it, projection collapse inlines the
    # normalization into EVERY pairwise term, recomputing it once per
    # (vector, query) pair — measured 2-3x slower.
    e = (
        normed.select("vec_id", "nvec")
        if normed is not None
        else normed_corpus(embeddings, dim).localCheckpoint(eager=False)
    )
    q = (
        normalized(
            queries.select("query_id", as_double(F.col("query_vec")).alias("vec")),
            "vec", dim=dim,
        )
        .select("query_id", F.col("nvec").alias("qvec"))
        .localCheckpoint(eager=False)
    )
    scored = e.join(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        "vec_id",
        F.round(dot(F.col("qvec"), F.col("nvec"), dim), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def hyperplane_signatures(
    embeddings: DataFrame,
    hyperplanes: DataFrame,
    dim: int | None = None,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Random-hyperplane LSH signature per vector: bit j of `sig` is
    sign(dot(v, h_j)) — vectors on the same side of every hyperplane
    share a bucket, and P[bits agree] = 1 - angle/pi (Charikar's
    SimHash for vectors).

    embeddings: (vec_id, embedding); hyperplanes: (h_id, hvec) with
    h_id in [0, 63). Hyperplanes broadcast (tiny); signature is ONE
    grouped sum of shifted bits, so the corpus-side cost is a single
    narrow pass — the bucketing that replaces an all-pairs O(n^2)
    cosine join with an equi-join on `sig` at corpus scale.

    Dot products are rounded before the sign test so bucket membership
    is reproducible across engines (a value within 1e-6 of the plane
    would otherwise flip on summation-order differences).

    Returns (vec_id, nvec, sig) — nvec kept for exact re-scoring of
    co-bucketed candidates. `normed` short-circuits the corpus
    normalization with a pre-normalized (vec_id, nvec) frame.
    """
    e = (
        normed.select("vec_id", "nvec")
        if normed is not None
        else normed_corpus(embeddings, dim).localCheckpoint(eager=False)
    )
    h = (
        normalized(
            hyperplanes.select("h_id", as_double(F.col("hvec")).alias("vec")),
            "vec", dim=dim,
        )
        .select("h_id", F.col("nvec").alias("hnvec"))
        .localCheckpoint(eager=False)
    )
    bits = e.join(F.broadcast(h)).select(
        "vec_id",
        F.when(
            F.round(dot(F.col("nvec"), F.col("hnvec"), dim), 6) >= 0,
            # DataFrame-API shiftleft only takes a literal shift; the
            # SQL form accepts a column expression
            F.expr("shiftleft(1L, cast(h_id AS int))"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("bit"),
    )
    sig = bits.groupBy("vec_id").agg(F.sum("bit").alias("sig"))
    return e.join(sig, "vec_id")


def lsh_bucket_topk(
    corpus: DataFrame, query_ids: DataFrame, k: int = 10, dim: int | None = None
) -> DataFrame:
    """Approximate cosine top-k: candidates limited to the query's LSH
    bucket (equal full signature), then exact-scored and ranked.

    corpus: (vec_id, nvec, sig) from hyperplane_signatures;
    query_ids: (query_id) — queries are corpus members.
    The candidate join is an equi-join on `sig`: shuffle-partitioned
    by bucket, no broadcast of the corpus, both sides arbitrarily
    large. Recall is tuned by the hyperplane count (fewer bits ->
    bigger buckets) or multi-probe; exactness within the bucket.
    """
    c = corpus.localCheckpoint(eager=False)
    q = (
        c.join(query_ids, c.vec_id == query_ids.query_id, "left_semi")
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("nvec").alias("qvec"),
            "sig",
        )
    )
    scored = (
        c.join(q, "sig")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot(F.col("qvec"), F.col("nvec"), dim), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def ivf_assign(
    embeddings: DataFrame, centroids: DataFrame, dim: int | None = None
) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine
    (deterministic argmax: max (rounded cos, -centroid_id) struct).

    centroids: (centroid_id, cvec). Broadcast; one narrow pass.
    """
    # Lineage cut — see brute_force_topk.
    e = normalized(
        fan_out(embeddings).select(
            "vec_id", as_double(F.col("embedding")).alias("vec")
        ),
        "vec", dim=dim,
    ).localCheckpoint(eager=False)
    c = (
        normalized(
            centroids.select("centroid_id", as_double(F.col("cvec")).alias("vec")),
            "vec", dim=dim,
        )
        .select("centroid_id", F.col("nvec").alias("cnvec"))
        .localCheckpoint(eager=False)
    )
    scored = e.join(F.broadcast(c)).select(
        "vec_id",
        "vec",
        "centroid_id",
        F.round(dot(F.col("nvec"), F.col("cnvec"), dim), 6).alias("cs"),
    )
    # argmax via max_by on a (cs, -centroid_id) struct: keys are
    # unique within each vec_id group (one row per centroid), so the
    # result is deterministic AND the aggregate partial-combines
    # map-side — the window form sort-shuffles all corpus x k scored
    # rows, this shuffles at most one row per vector per partition.
    key = F.struct(F.col("cs"), (-F.col("centroid_id")).alias("nid"))
    return (
        scored.groupBy("vec_id")
        .agg(F.max_by(F.struct("centroid_id", "vec"), key).alias("best"))
        .select(
            "vec_id",
            F.col("best.vec").alias("vec"),
            F.col("best.centroid_id").alias("centroid_id"),
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int | None = None,
    assigned_normed: DataFrame | None = None,
) -> DataFrame:
    """Full IVF search: exact cosine top-k per query, scanning ONLY the
    query's IVF cell (nprobe=1) instead of the corpus.

    embeddings: (vec_id, embedding); centroids: (centroid_id, cvec);
    queries: (query_id, query_vec). Corpus cell assignment is the
    persisted artifact at scale (here recomputed unless
    `assigned_normed` supplies the (vec_id, centroid_id, nvec)
    artifact, e.g. the session-shared cached view); the probe is a
    broadcast of the tiny query frame against the cell-partitioned
    corpus — per-query work is |cell| ≈ corpus/n_cells, and the
    equi-join on centroid_id keeps the big side shuffle-partitioned
    (same plan at 1000 executors). Candidates exclude the query row
    itself; rank = row_number over (rounded cos desc, vec_id) so the
    result is deterministic for the oracle.
    """
    corpus = (
        assigned_normed.select("vec_id", "centroid_id", "nvec")
        if assigned_normed is not None
        else normalized(
            ivf_assign(embeddings, centroids, dim=dim), "vec", dim=dim
        ).select("vec_id", "centroid_id", "nvec").localCheckpoint(eager=False)
    )
    q = (
        normalized(
            ivf_assign(
                queries.select(
                    F.col("query_id").alias("vec_id"),
                    F.col("query_vec").alias("embedding"),
                ),
                centroids,
                dim=dim,
            ),
            "vec",
            dim=dim,
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id").alias("qcell"),
            F.col("nvec").alias("qvec"),
        )
        .localCheckpoint(eager=False)
    )
    scored = corpus.join(
        F.broadcast(q),
        (F.col("centroid_id") == F.col("qcell"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        "vec_id",
        F.round(dot(F.col("qvec"), F.col("nvec"), dim), 6).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    normed: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means on the unit sphere (spherical k-means) — the
    IVF training step that produces the centroids ivf_assign/ivf_topk
    consume. Deterministic by construction: init = the k lowest
    vec_ids' normalized vectors; assignment = argmax of ROUNDED
    cosine with centroid_id as tiebreak; update = element-wise mean
    re-normalized.

    The canonical Spark ITERATIVE pattern: a small driver loop where
    each iteration broadcasts the tiny centroid frame into the
    corpus (narrow pass, no corpus shuffle beyond the k-group mean),
    and eagerly checkpoints the k-row result — WITHOUT the lineage
    cut each iteration's plan embeds all previous iterations and
    analysis time grows exponentially. Returns (centroid_id, cnvec,
    n_members) after `iters` rounds; at 100 TB train on a sample
    (centroid quality needs only ~k*1e3 points per cell).
    """
    # NOT fanned out: each Lloyd iteration is several tiny stages over
    # the (small, sampled) training frame, and multiplying every one
    # by 32 tasks costs more in scheduling than the parallel scoring
    # saves (measured +1.2 s at gate scale). Training at 100 TB runs
    # on a sample anyway (see docstring), so the frame stays small.
    # `normed` short-circuits the normalization with a pre-normalized
    # (vec_id, nvec) frame (e.g. the session-shared cached view) —
    # values are identical by construction.
    e = (
        normed.select("vec_id", "nvec")
        if normed is not None
        else normalized(
            embeddings.select(
                "vec_id", as_double(F.col("embedding")).alias("vec")
            ),
            "vec",
        )
        .select("vec_id", "nvec")
        .localCheckpoint(eager=False)
    )

    w_init = Window.orderBy("vec_id")
    centroids = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).alias("centroid_id"),
            F.col("nvec").alias("cnvec"),
        )
        .localCheckpoint(eager=True)
    )

    n_members = None
    for _ in range(iters):
        scored = e.join(F.broadcast(centroids)).select(
            "vec_id",
            "nvec",
            "centroid_id",
            F.round(dot(F.col("nvec"), F.col("cnvec")), 6).alias("cs"),
        )
        # deterministic argmax with map-side combine — see ivf_assign
        key = F.struct(F.col("cs"), (-F.col("centroid_id")).alias("nid"))
        assigned = (
            scored.groupBy("vec_id")
            .agg(F.max_by(F.struct("centroid_id", "nvec"), key).alias("best"))
            .select(
                "vec_id",
                F.col("best.nvec").alias("nvec"),
                F.col("best.centroid_id").alias("centroid_id"),
            )
        )
        mean_vec = F.array(
            *[F.avg(F.element_at("nvec", i + 1)) for i in range(dim)]
        )
        updated = assigned.groupBy("centroid_id").agg(
            mean_vec.alias("mvec"), F.count(F.lit(1)).alias("n_members")
        )
        centroids = (
            normalized(updated, "mvec", out_col="cnvec")
            .select("centroid_id", "cnvec", "n_members")
            .localCheckpoint(eager=True)  # lineage cut per iteration
        )
        n_members = True
    return centroids


def kmeans_train_exact(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    normed: DataFrame | None = None,
) -> DataFrame:
    """`kmeans_train` with ORDER-INDEPENDENT centroid means: each
    Lloyd update sums the member components as DECIMAL(28,12) (exact
    arithmetic — immune to float summation order, the
    embedding_label_cohesion pattern) and rounds the mean at 6 dp
    before re-normalizing.

    Why a separate function (r14): float `avg` makes the trained
    centroids depend on partial-aggregation order, so the training
    gate could never carry a SQL oracle ("no SQL oracle exists" was
    the registered excuse, and its correctness slot burned a
    `no_oracle` row every window rotation — VERDICT r13 "What's
    wrong" #4). With exact sums both engines produce bit-identical
    centroids, so the 2-iteration membership counts are a real
    DuckDB-checkable result. Kept separate from `kmeans_train` (the
    ivf_store build path) so the serving-side gates' fingerprints
    stay untouched; assignment flips vs the float form are confined
    to exact 6-dp rounding boundaries of the scored cosine (A/B'd
    row-identical at every gate SF).

    r14 batch 3 (guide §4 — the Python boundary is the DRIVER side
    too, and §1.1 measure first): query_profile showed this gate's
    cost was ~75% DataFrame CONSTRUCTION, not execution — the 64
    per-component decimal-mean Columns were rebuilt from ~7 chained
    py4j calls each, PER ITERATION, and each iteration's eager
    checkpoint blocked the driver on a count-style job before the
    next micro-stage. The mean expression is now parsed once from
    SQL strings (1 py4j round trip per component) and hoisted out of
    the Lloyd loop (Columns are immutable and re-resolve per plan),
    and the checkpoints are lazy (eager=False): localCheckpoint
    still replaces each iteration's plan with a LogicalRDD (the
    lineage cut that keeps analysis linear in iters), but no job
    runs inside the loop. Materialization is deferred to the
    caller's first action on the returned centroids, which then
    executes the whole iteration chain, each iteration's broadcast
    build included; its depth and that action's latency grow with
    iters. Identical expression tree, identical results — measured
    min-of-5 A/B at sf0.1: 4.8 s -> ~1.9 s, rows identical, oracle
    hash-green.
    """
    e = (
        normed.select("vec_id", "nvec")
        if normed is not None
        else normalized(
            embeddings.select(
                "vec_id", as_double(F.col("embedding")).alias("vec")
            ),
            "vec",
        )
        .select("vec_id", "nvec")
        .localCheckpoint(eager=False)
    )

    w_init = Window.orderBy("vec_id")
    centroids = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            (F.row_number().over(w_init) - 1).alias("centroid_id"),
            F.col("nvec").alias("cnvec"),
        )
        .localCheckpoint(eager=False)
    )

    # exact decimal component sums -> order-independent mean; same
    # tree as the chained-Column form (count(1) == F.count(F.lit(1)))
    mean_vec = F.array(
        *[
            F.expr(
                f"round(cast(sum(cast(element_at(nvec, {i + 1}) as"
                f" decimal(28,12))) as double) / count(1), 6)"
            )
            for i in range(dim)
        ]
    )
    for _ in range(iters):
        scored = e.join(F.broadcast(centroids)).select(
            "vec_id",
            "nvec",
            "centroid_id",
            F.round(dot(F.col("nvec"), F.col("cnvec")), 6).alias("cs"),
        )
        # deterministic argmax with map-side combine — see ivf_assign
        key = F.struct(F.col("cs"), (-F.col("centroid_id")).alias("nid"))
        assigned = (
            scored.groupBy("vec_id")
            .agg(F.max_by(F.struct("centroid_id", "nvec"), key).alias("best"))
            .select(
                "vec_id",
                F.col("best.nvec").alias("nvec"),
                F.col("best.centroid_id").alias("centroid_id"),
            )
        )
        updated = assigned.groupBy("centroid_id").agg(
            mean_vec.alias("mvec"), F.count(F.lit(1)).alias("n_members")
        )
        centroids = (
            normalized(updated, "mvec", out_col="cnvec")
            .select("centroid_id", "cnvec", "n_members")
            .localCheckpoint(eager=False)  # lazy lineage cut per iteration
        )
    return centroids


def ivf_assign_slim(
    embeddings: DataFrame, centroids: DataFrame, dim: int | None = None
) -> DataFrame:
    """`ivf_assign` shaped for INDEX BUILDS: returns (vec_id, nvec,
    centroid_id) — the normalized vector, not the raw one — and keeps
    the argmax aggregate's partial state scalar.

    Why a separate function — two corpus-scale flaws in composing
    `ivf_assign` + re-normalize, both read off the physical plan of a
    200k-vector build (48 s -> ~6 s after the fix):

    * `max_by(_, struct(...))` is NOT hash-aggregable — Spark plans a
      SortAggregate, which sorts all corpus x k scored rows and
      updates the aggregate row-at-a-time outside codegen (and in
      `ivf_assign` the carried value is the 8*dim-byte vector
      struct). Here the argmax is a single LONG — (rounded cos
      shifted positive) * 2^24 + (2^24-1 - centroid_id) — so max()
      hash-aggregates with map-side combine in whole-stage codegen,
      and decodes to exactly the same (cs desc, centroid_id asc)
      winner. Bound: centroid_id in [0, 2^24), ENFORCED below — an
      id outside it would silently decode to a wrong cell on every
      assignment (ADVICE r9).
    * The normalized vectors rejoin by vec_id with the BUILD side
      pinned to the small (vec_id, centroid_id) frame via a
      shuffle-hash hint: the planner's LogicalRDD size guess
      otherwise BROADCASTS the corpus-sized vector frame (104 MB at
      200k vectors, 5 GB at 10M — a driver OOM at scale).

    Same deterministic argmax as `ivf_assign`; nvec values are
    bit-identical to normalizing its output."""
    # Fail fast on ids the key cannot carry (one aggregate over the
    # k-row centroid frame — this convention passes corpus vec_ids as
    # centroid_ids, so at billions of vectors an id >= 2^24 or < 0 is
    # reachable and would corrupt every assignment silently).
    bounds = centroids.agg(
        F.min("centroid_id").alias("mn"), F.max("centroid_id").alias("mx")
    ).first()
    assert (
        bounds.mn is not None and bounds.mn >= 0 and bounds.mx < (1 << 24)
    ), (
        "ivf_assign_slim packs centroid_id into 24 bits of the argmax "
        f"key: ids must lie in [0, 2^24), got [{bounds.mn}, {bounds.mx}]"
    )
    e = normed_corpus(embeddings, dim).localCheckpoint(eager=False)
    return ivf_assign_normed(e, centroids, dim=dim)


def ivf_assign_normed(
    normed: DataFrame, centroids: DataFrame, dim: int | None = None
) -> DataFrame:
    """The LAZY core of `ivf_assign_slim`: integer-key hash-aggregable
    argmax assignment over a PRE-NORMALIZED (vec_id, nvec) corpus.
    Returns (vec_id, nvec, centroid_id) — same deterministic winner
    as `ivf_assign` (max over (rounded cos, -centroid_id)).

    Caller contract (unchecked here so the plan stays fully lazy —
    registered query builders may not run driver actions):
    centroid_id must lie in [0, 2^24). Callers with dynamic centroid
    sets go through `ivf_assign_slim`, which enforces the bound with
    a driver-side check before delegating."""
    e = normed.select("vec_id", "nvec")
    c = (
        normalized(
            centroids.select(
                "centroid_id", as_double(F.col("cvec")).alias("vec")
            ),
            "vec",
            dim=dim,
        )
        .select("centroid_id", F.col("nvec").alias("cnvec"))
        .localCheckpoint(eager=False)
    )
    # HOF fold, NOT the dim-unrolled dot: over the corpus x k scored
    # rows the unrolled 64-term element_at chain compiles into a
    # method too large for the JIT and runs ~12x slower than the fold
    # (47 s vs 4 s at 200k x 64 on idle hardware, identical sums).
    scored = e.join(F.broadcast(c)).select(
        "vec_id",
        "centroid_id",
        F.round(dot(F.col("nvec"), F.col("cnvec")), 6).alias("cs"),
    )
    lim = 1 << 24
    ikey = (
        F.round(F.col("cs") * 1_000_000).cast("long") + F.lit(1_000_000)
    ) * F.lit(lim) + (F.lit(lim - 1) - F.col("centroid_id"))
    best = (
        scored.groupBy("vec_id")
        .agg(F.max(ikey).alias("_ik"))
        .select(
            "vec_id",
            (F.lit(lim - 1) - F.pmod(F.col("_ik"), F.lit(lim)))
            .cast("long")
            .alias("centroid_id"),
        )
    )
    return e.join(best.hint("shuffle_hash"), "vec_id").select(
        "vec_id", "nvec", "centroid_id"
    )
