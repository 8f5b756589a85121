"""Cross-module consistency contracts for the session-shared views.

The shared vector and SimHash views take their shape (query sets,
depths, cell count, fingerprint width) from names in
plans/shared_subtrees.py, and the consuming queries import those names
instead of repeating the numbers. The tests below check that each
built view really has the shape its names declare, so a consumer that
ranks or filters by them reads a complete frame: a ground truth cut
short would truncate the recall join and inflate recall with no error.

Also guards bench attribution: every shared_* builder in
plans/shared_subtrees.py must be listed in bench.py's
_SHARED_BUILDERS, or its build cost silently reverts to
first-consumer lazy attribution (VERDICT r13 "What's wrong" #2).
"""

from __future__ import annotations

import ast
import os

from test_oracle_diff import SF_DIR

from open_tlm_spark.plans import shared_subtrees as V
from open_tlm_spark.session import load_tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SUBTREES = os.path.join(
    REPO, "open_tlm_spark", "plans", "shared_subtrees.py"
)


def _ranks_by_query(view) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for r in view.select("query_id", "rank").collect():
        out.setdefault(r.query_id, []).append(r.rank)
    return {q: sorted(ranks) for q, ranks in out.items()}


def test_bruteforce_hi_covers_its_consumers(spark):
    """The IVF recall eval and the nprobe sweep take this view whole
    as their top-k ground truth."""
    load_tables(spark, SF_DIR)
    got = _ranks_by_query(V.shared_bruteforce_hi(spark, SF_DIR))
    lo, hi = V.BF_HI_QUERIES
    expected = list(range(1, V.BF_HI_K + 1))
    assert got == {q: expected for q in range(lo, hi)}


def test_bruteforce_lo_covers_its_consumers(spark):
    """The Matryoshka recall eval cuts its ground truth from this
    view's rank prefix, so its k may not exceed the view's."""
    from open_tlm_spark.plans.audit_queries import _MRL_K

    assert _MRL_K <= V.BF_LO_K, (
        "shared_bruteforce_lo's top-k no longer covers _MRL_K"
    )
    load_tables(spark, SF_DIR)
    got = _ranks_by_query(V.shared_bruteforce_lo(spark, SF_DIR))
    expected = list(range(1, V.BF_LO_K + 1))
    assert got == {q: expected for q in range(V.BF_LO_NQ)}


def test_ivf_cells_and_simhash_match_consumer_constants(spark):
    load_tables(spark, SF_DIR)
    cells = {
        r.centroid_id
        for r in V.shared_ivf_cells(spark, SF_DIR)
        .select("centroid_id")
        .distinct()
        .collect()
    }
    assert cells == set(range(V.IVF_NCELLS))

    fps = [
        r.simhash
        for r in V.shared_simhash(spark, SF_DIR).select("simhash").collect()
    ]
    assert min(fps) >= 0
    assert max(fps).bit_length() == V.SIMHASH_BITS


def test_every_shared_builder_is_bench_attributed():
    """A shared_* view missing from bench.py's _SHARED_BUILDERS
    degrades to first-consumer lazy-build attribution — legal but it
    silently re-breaks per-query marginal-cost reporting."""
    import bench

    with open(_SUBTREES, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    builders = {
        node.name
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and node.name.startswith("shared_")
    }
    missing = sorted(builders - set(bench._SHARED_BUILDERS))
    assert not missing, (
        f"shared views without a bench shared_build_* line: {missing}"
    )


def test_load_tables_rebinds_views_after_sf_switch(spark):
    """r14 root-cause fix: the (session, sf_dir) memo alone let a
    later load_tables(A) short-circuit after the session had visited
    A then B, leaving every temp view bound to B — queries (and
    shared-view BUILDS, which then poison their sf-keyed cache) ran
    against the wrong scale factor. The memo now also tracks which
    sf the views currently point at and re-registers on a switch."""
    import pyarrow.parquet as pq

    from open_tlm_spark.session import load_tables

    load_tables(spark, "/root/testdata/sf0.001")
    load_tables(spark, "/root/testdata/sf0.01")
    load_tables(spark, "/root/testdata/sf0.001")  # memo hit pre-fix
    n = spark.table("documents").count()
    expected = pq.ParquetFile(
        "/root/testdata/sf0.001/documents.parquet"
    ).metadata.num_rows
    assert n == expected, "views still bound to the previous sf_dir"
