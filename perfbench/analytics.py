"""analytics_core: a frozen batch of registered analytic queries.

One pass, the first after load_tables: it builds the frozen shared
views (each timed on its own), then builds, plans and collects every
query. Every collected result is compared with its DuckDB oracle after
the pass ends.
"""

from __future__ import annotations

import contextlib
import os
import time

import datagen
from common import WORK, layers_zero, start_spark, stop_spark, storage_mem_bytes
from spans import Tracer, median, percentile

# ROADMAP item 2's build-heavy queries, always in the batch
BUILD_HEAVY = ["decontaminate_minhash_fuzzy", "ts_spectral_entropy", "dedup_winnowing"]

# Frozen here, not imported from bench.py, so that trimming bench.py
# never changes this workload. Chosen by profile_queries.py (seed 1,
# --budget-s 18) from a cold pass of the full 48-query list: the
# build-heavy three, then greedily the queries that keep the batch's
# split of pass time over shared builds, build, plan and execution
# closest to the full list's. Every one has a registered oracle.
QUERIES = BUILD_HEAVY + [
    "dedup_embedding_cosine",
    "docs_bm25_topk",
    "orders_open_backlog_daily",
    "tpch_q1_pricing_summary",
    "approx_distinct_stats",
]
# the shared views those queries consume, dependencies first
SHARED_VIEWS = [
    "shared_tokens",
    "shared_shingles",
    "shared_signatures",
]

SIZES = {
    "full": dict(sf=0.01),
    "smoke": dict(sf=0.001),
}


class Span:
    """Times a block (`.s`, seconds), and spans it too when tracing."""

    def __init__(self, tracer, name: str, **attrs):
        self.ctx = tracer.span(name, **attrs) if tracer else contextlib.nullcontext()

    def __enter__(self):
        self.ctx.__enter__()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.s = time.perf_counter() - self.t0
        return self.ctx.__exit__(*exc)


def view_builder(view: str):
    """The shared-view builder named `view`: a plans/shared_subtrees.py
    function, or cc_labels, which dedup_clusters publishes."""
    if view == "cc_labels":
        from open_tlm_spark.plans.curation_queries import dedup_clusters

        return dedup_clusters
    from open_tlm_spark.plans import shared_subtrees as SS

    return getattr(SS, view)


def one_pass(spark, sf_dir: str, tracer, queries=QUERIES, views=SHARED_VIEWS) -> dict:
    from pyspark.sql import DataFrame

    from open_tlm_spark.operators import shared_cache
    from open_tlm_spark.plans import REGISTRY

    shared_cache.invalidate(spark)  # every pass rebuilds the shared views
    out = {"shared": {}, "queries": {}, "errors": []}
    with Span(tracer, "plans.pass") as whole:
        for view in views:
            with Span(tracer, "plans.shared_build", view=view) as sp:
                try:
                    res = view_builder(view)(spark, sf_dir)
                    for df in res if isinstance(res, tuple) else (res,):
                        if not isinstance(df, DataFrame):
                            raise TypeError(f"{view} returned {type(df).__name__}")
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:
                    out["errors"].append(f"{view}: {e!r}"[:300])
            out["shared"][view] = sp.s
        for name in queries:
            rec = {}
            with Span(tracer, "plans.query", query=name):
                try:
                    with Span(tracer, "plans.build") as sp:
                        df = REGISTRY[name].fn(spark, sf_dir)
                    rec["build"] = sp.s
                    with Span(tracer, "plans.plan") as sp:
                        df._jdf.queryExecution().executedPlan()
                    rec["plan"] = sp.s
                    with Span(tracer, "plans.exec") as sp:
                        rows = df.collect()
                    rec["exec"] = sp.s
                    rec["columns"], rec["rows"] = df.columns, rows
                except Exception as e:
                    out["errors"].append(f"{name}: {e!r}"[:300])
            out["queries"][name] = rec
    out["wall"] = whole.s
    return out


def check(sf_dir: str, p: dict) -> list[str]:
    """Compare every collected result with the query's DuckDB oracle
    (tools/diffcheck.py's comparison); rows-only without an oracle."""
    import duckdb
    import pandas as pd

    from open_tlm_spark.plans import REGISTRY
    from tools.diffcheck import TABLES, compare, oracle_type_problems

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    oracles = {}
    for name in QUERIES:
        if REGISTRY[name].oracle is not None:
            rel = con.sql(REGISTRY[name].oracle)
            oracles[name] = (oracle_type_problems(rel), rel.df())
    bad += p["errors"]
    for name, rec in p["queries"].items():
        if "rows" not in rec:
            continue
        if name not in oracles:
            if not rec["rows"]:
                bad.append(f"{name}: no rows")
            continue
        got = pd.DataFrame.from_records(
            [tuple(r) for r in rec["rows"]], columns=rec["columns"]
        )
        problems = oracles[name][0] + compare(name, got, oracles[name][1])
        if problems:
            bad.append(f"{name}: " + "; ".join(problems)[:300])
    con.close()
    return bad


def run(args) -> dict:
    size = SIZES[args.size]
    sf_dir = os.path.join(WORK, "tables")
    datagen.write_tables(sf_dir, args.seed, size["sf"])

    spark, get_spark_s = start_spark()
    from open_tlm_spark.session import load_tables

    tracer = Tracer(spark) if args.trace else None
    with Span(tracer, "session.load_tables") as load:
        load_tables(spark, sf_dir)
    mem = storage_mem_bytes(spark)

    # One pass, the first after load_tables, as a batch on a freshly
    # started server pays it. It outlasts --seconds; a second pass would
    # run on a warmed JVM and measure something else.
    p = one_pass(spark, sf_dir, tracer)

    problems = check(sf_dir, p)
    lat = [r["build"] + r["plan"] + r["exec"] for r in p["queries"].values() if "exec" in r]
    m = {
        "setup_s": get_spark_s + load.s,
        "op_p50_ms": 1000 * median(lat),
        "op_p80_ms": 1000 * percentile(lat, 0.8),
        # queries per second of query time; shared builds count only in
        # the pass wall time (batch_p50_s)
        "ops_per_s": len(lat) / sum(lat),
        "batch_p50_s": p["wall"],
    }
    m.update(layers_zero())
    m.update({
        "session.get_spark_s": get_spark_s,
        "session.load_tables_s": load.s,
        "spark.storage_mem_bytes": mem,
    })
    reconcile = None
    if tracer:
        tracer.attach_spark_stats()
        tracer.annotate()
        layers, reconcile = plan_layers(tracer, p)
        m.update(layers)
    stop_spark(spark)
    attempted = len(QUERIES) + len(SHARED_VIEWS)
    return {
        "metrics": m,
        "samples": {"queries": len(lat)},
        "reconcile": reconcile,
        "per_query_s": {n: {k: v for k, v in r.items() if k in ("build", "plan", "exec")}
                        for n, r in p["queries"].items()},
        "attempted": attempted,
        "failed": min(attempted, len(problems)),
        "problems": problems,
        "spans": tracer,
    }


def plan_layers(tr: Tracer, p: dict) -> tuple[dict, float]:
    """The pass's layer sums, their total over the pass wall time, and
    the pass span's Spark work."""
    m = {f"plans.{k}_s": sum(r.get(k, 0.0) for r in p["queries"].values())
         for k in ("build", "plan", "exec")}
    m["plans.shared_build_s"] = sum(p["shared"].values())
    reconcile = sum(m.values()) / p["wall"]
    work = tr.named("plans.pass")[0]["spark_incl"]
    for k in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes"):
        m[f"plans.{k}"] = work[k]
    m["plans.executor_run_s"] = work["executor_run_ms"] / 1000
    for view in SHARED_VIEWS:
        m[f"plans.shared_build.{view[len('shared_'):]}_s"] = p["shared"][view]
    return m, reconcile
