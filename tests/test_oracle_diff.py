"""Differential gate: every registered query must match its DuckDB
oracle at sf0.001 (the driver runs the same comparison at sf0.01 —
tools/diffcheck.py replicates it; run that for the full-size check)."""

import duckdb
import pytest

from open_tlm_spark.plans import REGISTRY
from tools.diffcheck import TABLES, compare, oracle_type_problems

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(spark, oracle_con, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, SF_DIR).toPandas()
    if q.oracle is None:
        assert len(sdf) >= 0  # rows-only check (non-SQL-expressible op)
        return
    ddf = oracle_con.execute(q.oracle).df()
    problems = compare(name, sdf, ddf)
    assert not problems, f"{name}: {problems}"


def test_spark_entry_matches_registry():
    """`__spark_entry__` is the public query contract: queries() hands
    out every registered query and oracle_sql() every registered
    oracle, by name, in registration order, with nothing extra."""
    import __spark_entry__

    qs = __spark_entry__.queries()
    osql = __spark_entry__.oracle_sql()

    assert list(qs) == list(REGISTRY)
    assert all(qs[n] is REGISTRY[n].fn for n in qs)
    assert list(osql) == [n for n, q in REGISTRY.items() if q.oracle is not None]
    assert all(osql[n] == REGISTRY[n].oracle for n in osql)


def test_register_rejects_a_duplicate_name():
    """A second registration under a taken name would silently replace
    the first query in REGISTRY and so in __spark_entry__'s lists."""
    from open_tlm_spark.plans import register

    before = REGISTRY["tpch_q1_pricing_summary"]
    with pytest.raises(ValueError, match="tpch_q1_pricing_summary"):
        register("tpch_q1_pricing_summary")(lambda spark, sf_dir: None)
    assert REGISTRY["tpch_q1_pricing_summary"] is before


def test_all_oracles_bind_with_safe_dtypes():
    """Bind-only dtype sweep over EVERY registered oracle: DuckDB
    resolves each oracle's output schema (no execution — runs in
    <1 s) and the diffcheck dtype gate must find nothing. This is the
    standing guard against the HUGEINT/DECIMAL passthrough class that
    shipped twice (sessionize r1, multimodal/docs_clean r2) before
    the gate existed — it catches a bad new oracle in plain pytest
    without waiting for the full differential run."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'/root/testdata/sf0.001/{t}.parquet'"
        )
    bad = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        probs = oracle_type_problems(con.sql(q.oracle))
        if probs:
            bad[name] = probs
    assert not bad, f"oracles with unsafe output dtypes: {bad}"
