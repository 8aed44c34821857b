"""Recursive CTEs (``WITH RECURSIVE``) — the last Tier-B ANSI SQL
family the reference's declared query layer supports (Trino 467
evaluates recursive CTEs; reference docker-compose.yaml:153, arbitrary
BI SQL per RUNBOOK.md:120-123). Spark 4.x evaluates them natively
(UnionLoop), so the engine surface needs no rewrite — these tests pin
that the statement layer PASSES recursion through intact over snapshot
tables, persistent views, and time travel, and that the b50 registry
query walks a real hierarchy."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from oss_data_lake_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE edges (child INT, parent INT) USING snapshot")
    e.sql("INSERT INTO edges VALUES (1, 0), (2, 0), (3, 1), (4, 1), (5, 3)")
    return e


def test_recursive_cte_over_snapshot_table(eng):
    df = eng.sql("""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT 0, 0
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM edges e JOIN walk w ON e.parent = w.node
        )
        SELECT depth, COUNT(*) AS n FROM walk GROUP BY depth ORDER BY depth
    """)
    assert [tuple(r) for r in df.collect()] == [(0, 1), (1, 2), (2, 2), (3, 1)]


def test_recursive_cte_through_persistent_view(eng):
    """Recursion composes with the view layer: the recursive term reads
    a persistent VIEW whose body reads the snapshot table."""
    eng.sql("CREATE VIEW edge_v AS SELECT child, parent FROM edges")
    df = eng.sql("""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT 0, 0
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM edge_v e JOIN walk w ON e.parent = w.node
        )
        SELECT MAX(depth) AS max_depth, COUNT(*) AS n FROM walk
    """)
    assert [tuple(r) for r in df.collect()] == [(3, 6)]


def test_recursive_cte_composes_with_time_travel(eng):
    """The recursive term can time-travel its base table: recursion over
    version 2 (before edge 5→3 existed) stops at depth 2."""
    eng.sql("DELETE FROM edges WHERE child = 5")  # v3 drops the deep edge
    df = eng.sql("""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT 0, 0
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM edges FOR VERSION AS OF 2 e JOIN walk w ON e.parent = w.node
        )
        SELECT MAX(depth) AS max_depth, COUNT(*) AS n FROM walk
    """)
    assert [tuple(r) for r in df.collect()] == [(3, 6)]
    # and the head reads depth-2 closure after the delete
    df2 = eng.sql("""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT 0, 0
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM edges e JOIN walk w ON e.parent = w.node
        )
        SELECT MAX(depth) AS max_depth, COUNT(*) AS n FROM walk
    """)
    assert [tuple(r) for r in df2.collect()] == [(2, 5)]


def test_b50_registry_query_matches_duckdb(spark, sf_dir):
    """The b50 driver query and its DuckDB oracle walk the identical
    recursion — both engines evaluate the SAME text natively."""
    import duckdb

    from oss_data_lake_spark.operators.relational_more import (
        ORACLES,
        recursive_user_tree,
    )

    got = [tuple(r) for r in recursive_user_tree(spark, sf_dir).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    want = con.execute(ORACLES["b50_recursive_user_tree"]).fetchall()
    assert got == want
    assert len(got) >= 3  # a real multi-level hierarchy


# ---- recursive CTE differential against DuckDB over generated edge sets


@st.composite
def edge_set(draw):
    """A random small DAG-ish edge list over nodes 0..9 (child > parent
    guarantees termination) plus a random depth-limit predicate."""
    n_edges = draw(st.integers(min_value=0, max_value=14))
    edges = sorted({
        (draw(st.integers(1, 9)), draw(st.integers(0, 8)))
        for _ in range(n_edges)
        if True
    })
    edges = [(c, p) for c, p in edges if c > p]
    return edges


@settings(
    max_examples=15, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_set())
def test_recursive_cte_differential_duckdb(spark, edges):
    """Spark and DuckDB evaluate the IDENTICAL recursive text over the
    same edge relation: closure row sets must match exactly (child >
    parent bounds the recursion — no infinite loops by construction)."""
    import duckdb

    rows = edges or [(1, 0)]
    df = spark.createDataFrame(rows, "child int, parent int")
    df.createOrReplaceTempView("fz_edges")
    q = """
        WITH RECURSIVE walk(node, depth) AS (
          SELECT 0, 0
          UNION ALL
          SELECT e.child, w.depth + 1
          FROM {tbl} e JOIN walk w ON e.parent = w.node
        )
        SELECT node, depth, COUNT(*) AS n
        FROM walk GROUP BY node, depth ORDER BY node, depth
    """
    got = [tuple(r) for r in spark.sql(q.format(tbl="fz_edges")).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE edges (child INT, parent INT)")
    con.executemany("INSERT INTO edges VALUES (?, ?)", rows)
    want = [tuple(r) for r in con.execute(q.format(tbl="edges")).fetchall()]
    assert got == want, (rows, got, want)
