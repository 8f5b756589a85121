"""Per-layer profile of the full analytic query list, and the choice of
analytics_core's frozen subset from it.

    python3 perfbench/profile_queries.py --seed 1 --budget-s 18

Run from the repository root (a few minutes). On the same generated
tables and Spark settings as analytics_core it runs, in one session:

  1. one timed pass of the full list, first after load_tables just as
     analytics_core's pass is: the shared-view pre-pass with each view
     timed, then each query built, planned and collected;
  2. the pre-pass again, warm: the first view's cold time minus its
     warm time is the JVM's warm-up, which in any pass lands on the
     first view built;
  3. the pre-pass a third time, noting which cached tables each view
     builder publishes;
  4. every query once with nothing cached, noting which of those
     tables it builds (the views it consumes).

It then picks the subset greedily: start from the three build-heavy
queries, and keep adding the query that brings the subset's split of
pass time over shared builds, build, plan and execution closest (L1
distance of the shares) to the full list's, while the subset's pass
(its queries plus the views they consume) stays within --budget-s.
Prints the per-query table, both splits and the subset, and writes
them to .perfbench/profile_seed<n>.json.
"""

from __future__ import annotations

import argparse
import json
import os

import analytics
import datagen
from common import SCRATCH, WORK, start_spark, stop_spark
from run import prepare_env

# The 45 queries of bench.BENCH_CORE when this benchmark was made, plus
# the three build-heavy ones; frozen here like analytics.QUERIES.
FULL_QUERIES = [
    "approx_distinct_stats", "asof_align_series", "basket_part_pairs",
    "bpe_pair_counts", "curation_yield_by_source", "decontaminate_ngrams",
    "dedup_clusters", "dedup_containment", "dedup_embedding_cosine",
    "dedup_minhash_est_vs_exact", "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "dedup_simhash_hamming", "dedup_substring_spans", "docs_bm25_topk",
    "docs_clean_pipeline", "docs_collocations_pmi", "docs_ngram_novelty",
    "docs_tfidf_topk", "embedding_label_cohesion", "event_funnel",
    "event_funnel_windowed", "orders_fulfillment_sla", "orders_open_backlog_daily",
    "pq_quantize", "quality_bigram_logprob", "quality_repetition",
    "quality_unigram_logprob", "sem_dedup_cells", "sessionize_events",
    "sim_ivf_recall_eval", "sim_ivf_topk", "sim_ivf_train", "sim_ivfpq_topk",
    "sim_lsh_recall_eval", "sim_pq_adc_topk", "sim_pq_recall_eval",
    "source_overlap_matrix", "tpch_q16_supplier_part_counts", "tpch_q18_large_orders",
    "tpch_q1_pricing_summary", "tpch_q21_waiting_suppliers", "ts_histogram",
    "ts_histogram_per_series", "ts_incremental_merge",
] + analytics.BUILD_HEAVY
# bench._SHARED_BUILDERS in the same state, dependencies first, plus the
# connected-component labels that dedup_clusters publishes
FULL_VIEWS = [
    "shared_quality_signals", "shared_tokens", "shared_unigram_counts",
    "shared_bigram_counts", "shared_shingles", "shared_hashed_shingles",
    "shared_capped_shingles", "shared_ngram_pair_stats", "shared_signatures",
    "shared_lsh_candidates", "shared_lsh_verified", "shared_lsh_jaccard",
    "shared_simhash", "shared_normed_embeddings", "shared_ivf_cells",
    "shared_lsh_signatures", "shared_bruteforce_lo", "shared_bruteforce_hi",
    "shared_order_baskets", "cc_labels",
]
LAYERS = ("shared", "build", "plan", "exec")


def new_tables(memo_before: set) -> set:
    from open_tlm_spark.operators import shared_cache

    return {view for (_, view) in set(shared_cache._MEMO) - memo_before}


def view_deps(spark, sf_dir: str) -> dict[str, list[str]]:
    """For every query, the views of FULL_VIEWS it consumes."""
    from open_tlm_spark.operators import shared_cache
    from open_tlm_spark.plans import REGISTRY

    shared_cache.invalidate(spark)
    owner = {}
    for view in FULL_VIEWS:
        before = set(shared_cache._MEMO)
        analytics.view_builder(view)(spark, sf_dir)
        owner.update({t: view for t in new_tables(before)})
    deps = {}
    for name in FULL_QUERIES:
        shared_cache.invalidate(spark)
        before = set(shared_cache._MEMO)
        REGISTRY[name].fn(spark, sf_dir).collect()
        used = {owner[t] for t in new_tables(before) if t in owner}
        deps[name] = [v for v in FULL_VIEWS if v in used]
    shared_cache.invalidate(spark)
    return deps


def split(queries, prof: dict) -> tuple[float, dict[str, float]]:
    """Predicted pass seconds of a subset and its shares per layer. The
    build-heavy queries consume shared views, so a subset always builds
    one first, and that view pays the JVM's warm-up."""
    views = [v for v in FULL_VIEWS if any(v in prof["deps"][q] for q in queries)]
    secs = {"shared": sum(prof["views"][v] for v in views)}
    if views[0] != FULL_VIEWS[0]:
        secs["shared"] += prof["warmup_s"]
    for layer in LAYERS[1:]:
        secs[layer] = sum(prof["queries"][q][layer] for q in queries)
    total = sum(secs.values())
    return total, {k: v / total for k, v in secs.items()}


def select(prof: dict, budget_s: float) -> list[str]:
    _, want = split(FULL_QUERIES, prof)

    def dist(queries) -> float:
        return sum(abs(split(queries, prof)[1][k] - want[k]) for k in LAYERS)

    chosen = list(analytics.BUILD_HEAVY)
    while True:
        fits = [q for q in FULL_QUERIES
                if q not in chosen and split(chosen + [q], prof)[0] <= budget_s]
        if not fits:
            return chosen
        chosen.append(min(fits, key=lambda q: (dist(chosen + [q]), split(chosen + [q], prof)[0])))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--budget-s", type=float, default=18.0)
    a = ap.parse_args()
    prepare_env()
    sf_dir = os.path.join(WORK, "tables")
    datagen.write_tables(sf_dir, a.seed, analytics.SIZES["full"]["sf"])
    spark, _ = start_spark()
    from open_tlm_spark.session import load_tables

    load_tables(spark, sf_dir)
    p = analytics.one_pass(spark, sf_dir, None, FULL_QUERIES, FULL_VIEWS)
    warm = analytics.one_pass(spark, sf_dir, None, [], FULL_VIEWS)
    if p["errors"] or warm["errors"]:
        raise SystemExit("profile pass failed:\n" + "\n".join(p["errors"] + warm["errors"]))
    deps = view_deps(spark, sf_dir)
    stop_spark(spark)
    prof = {
        "deps": deps,
        "views": p["shared"],
        "queries": {q: {k: p["queries"][q][k] for k in LAYERS[1:]} for q in FULL_QUERIES},
        "warmup_s": p["shared"][FULL_VIEWS[0]] - warm["shared"][FULL_VIEWS[0]],
        "pass_wall_s": p["wall"],
    }
    chosen = select(prof, a.budget_s)
    full_s, full_split = split(FULL_QUERIES, prof)
    sub_s, sub_split = split(chosen, prof)
    prof.update(seed=a.seed, budget_s=a.budget_s, subset=chosen,
                subset_views=[v for v in FULL_VIEWS if any(v in deps[q] for q in chosen)],
                full={"pass_s": full_s, "split": full_split},
                chosen={"pass_s": sub_s, "split": sub_split})

    for q in sorted(FULL_QUERIES, key=lambda q: -sum(prof["queries"][q].values())):
        r = prof["queries"][q]
        mark = "*" if q in chosen else " "
        print(f"{mark} {q:32s} build {r['build']:6.3f} plan {r['plan']:6.3f} "
              f"exec {r['exec']:6.3f}  views {deps[q]}")
    for v in FULL_VIEWS:
        print(f"  view {v:30s} {prof['views'][v]:6.3f}")
    print(f"  JVM warm-up on the first view {prof['warmup_s']:6.3f}")
    for label, s, sp in (("full list", full_s, full_split), ("subset", sub_s, sub_split)):
        print(f"{label:10s} pass {s:7.2f} s  " + "  ".join(f"{k} {sp[k]:.1%}" for k in LAYERS))
    print("subset", json.dumps(chosen))
    print("subset views", json.dumps(prof["subset_views"]))
    with open(os.path.join(SCRATCH, f"profile_seed{a.seed}.json"), "w") as fh:
        json.dump(prof, fh, indent=1)


if __name__ == "__main__":
    main()
