"""Persistent SQL VIEWs — the Trino-over-Iceberg view DDL the reference
stack exposes to BI users (saved queries over the lake; reference
RUNBOOK §3.3 fronts arbitrary BI SQL, Metabase/CloudBeaver persist
queries as views). CREATE/DROP/SHOW VIEWS/SHOW CREATE VIEW; a view is
SELECT text in durable catalog metadata, re-planned at read time over
the CURRENT snapshot — never materialized, never stale."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import Row
from pyspark.sql import functions as F

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.hostile import STRUCTURE, payloads, quote


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [Row(k=i, v=float(i), g=f"g{i % 3}") for i in range(12)]
        ),
        stats_for=["k"],
    )
    e._snapshot_tables["t"] = t
    return e, t


def test_view_lifecycle_reflects_head(spark, eng):
    """create -> base DML -> the view reflects the new head (logical,
    not materialized)."""
    e, t = eng
    e.sql("CREATE VIEW v_sum AS SELECT g, sum(v) AS s FROM t GROUP BY g")
    got = {r["g"]: r["s"] for r in e.sql("SELECT * FROM v_sum").collect()}
    assert got["g0"] == sum(float(i) for i in range(12) if i % 3 == 0)
    # base DML — the view must reflect it WITHOUT any refresh
    e.sql("DELETE FROM t WHERE k >= 6")
    got = {r["g"]: r["s"] for r in e.sql("SELECT * FROM v_sum").collect()}
    assert got["g0"] == 0.0 + 3.0
    assert set(got) == {"g0", "g1", "g2"}
    # composes into larger statements
    n = e.sql(
        "SELECT count(*) AS n FROM v_sum WHERE s > 3"
    ).collect()[0]["n"]
    assert n == sum(1 for s in got.values() if s > 3)


def test_view_ddl_grammar(spark, eng):
    e, t = eng
    e.sql("CREATE VIEW v1 AS SELECT k FROM t WHERE k < 3")
    with pytest.raises(ValueError, match="already exists"):
        e.sql("CREATE VIEW v1 AS SELECT k FROM t")
    # IF NOT EXISTS no-ops and keeps the original definition
    e.sql("CREATE VIEW IF NOT EXISTS v1 AS SELECT k FROM t WHERE k < 99")
    assert e.sql("SELECT count(*) AS n FROM v1").collect()[0]["n"] == 3
    # OR REPLACE swaps the definition
    e.sql("CREATE OR REPLACE VIEW v1 AS SELECT k FROM t WHERE k < 5")
    assert e.sql("SELECT count(*) AS n FROM v1").collect()[0]["n"] == 5
    with pytest.raises(ValueError, match="exclusive"):
        e.sql("CREATE OR REPLACE VIEW IF NOT EXISTS v1 AS SELECT 1")
    # SHOW VIEWS / SHOW CREATE VIEW
    e.sql("CREATE VIEW v2 AS SELECT 1 AS one")
    names = [r["view"] for r in e.sql("SHOW VIEWS").collect()]
    assert names == ["v1", "v2"]
    stmt = e.sql("SHOW CREATE VIEW v1").collect()[0]["stmt"]
    assert stmt == "CREATE VIEW v1 AS SELECT k FROM t WHERE k < 5"
    # DROP
    e.sql("DROP VIEW v2")
    assert [r["view"] for r in e.sql("SHOW VIEWS").collect()] == ["v1"]
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("DROP VIEW v2")
    e.sql("DROP VIEW IF EXISTS v2")  # no-op, no raise
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("SHOW CREATE VIEW v2")


def test_view_composes_with_time_travel(spark, eng):
    """AS-OF through a view: the body may pin a version while the base
    moves on — and a view over the head coexists with it."""
    e, t = eng
    v1 = t.current_version()
    e.sql(f"CREATE VIEW v_asof AS SELECT k FROM t FOR VERSION AS OF {v1}")
    e.sql("CREATE VIEW v_head AS SELECT k FROM t")
    e.sql("INSERT INTO t VALUES (100, 1.0, 'gx')")
    assert e.sql(
        "SELECT count(*) AS n FROM v_asof"
    ).collect()[0]["n"] == 12  # pinned: the insert is invisible
    assert e.sql(
        "SELECT count(*) AS n FROM v_head"
    ).collect()[0]["n"] == 13  # head: visible
    # metadata tables compose too
    e.sql("CREATE VIEW v_meta AS SELECT count(*) AS commits FROM t$history")
    assert e.sql("SELECT * FROM v_meta").collect()[0]["commits"] == 2


def test_nested_views_and_cycle_refusal(spark, eng):
    e, t = eng
    e.sql("CREATE VIEW v_base AS SELECT k, v FROM t WHERE k < 8")
    e.sql("CREATE VIEW v_top AS SELECT sum(v) AS s FROM v_base")
    assert e.sql("SELECT * FROM v_top").collect()[0]["s"] == sum(
        float(i) for i in range(8)
    )
    # a self-referencing replacement is a cycle: refused at CREATE
    with pytest.raises(ValueError, match="cycle"):
        e.sql("CREATE OR REPLACE VIEW v_base AS SELECT k, v FROM v_base")
    # the old definition survives the refused replacement
    assert e.sql(
        "SELECT count(*) AS n FROM v_base"
    ).collect()[0]["n"] == 8


def test_view_refuses_on_dropped_base_column(spark, eng):
    e, t = eng
    e.sql("CREATE VIEW v_g AS SELECT g, count(*) AS n FROM t GROUP BY g")
    e.sql("ALTER TABLE t DROP COLUMN g")
    with pytest.raises(ValueError, match="v_g"):
        e.sql("SELECT * FROM v_g")
    # CREATE validates the body immediately (Trino does)
    with pytest.raises(ValueError, match="v_bad"):
        e.sql("CREATE VIEW v_bad AS SELECT ghost_col FROM t")
    assert "v_bad" not in [
        r["view"] for r in e.sql("SHOW VIEWS").collect()
    ]


def test_views_survive_engine_restart(spark, eng, tmp_path):
    """The catalog file is durable metadata: a FRESH engine over the
    same warehouse sees the views (the Lakekeeper-catalog role)."""
    e, t = eng
    e.sql("CREATE VIEW v_persist AS SELECT count(*) AS n FROM t")
    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e2._snapshot_tables["t"] = SnapshotTable(spark, t.path)
    assert [r["view"] for r in e2.sql("SHOW VIEWS").collect()] == [
        "v_persist"
    ]
    assert e2.sql("SELECT * FROM v_persist").collect()[0]["n"] == 12


def test_view_name_collisions_refused_both_ways(spark, eng, tmp_path):
    e, t = eng
    with pytest.raises(ValueError, match="cannot shadow"):
        e.sql("CREATE VIEW t AS SELECT 1")
    e.sql("CREATE VIEW v_taken AS SELECT 1 AS one")
    with pytest.raises(ValueError, match="cannot shadow"):
        e.sql("CREATE TABLE v_taken USING snapshot AS SELECT 2 AS two")
    with pytest.raises(ValueError, match="cannot shadow"):
        e.sql("CREATE TABLE v_taken (a INT) USING snapshot")


def test_view_usable_inside_dml_subquery(spark, eng):
    """A saved view is a first-class relation for DML conditions."""
    e, t = eng
    e.sql("CREATE VIEW v_big AS SELECT k FROM t WHERE k >= 9")
    e.sql("DELETE FROM t WHERE k IN (SELECT k FROM v_big)")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 9


def test_view_name_inside_literal_is_data(spark, eng):
    e, t = eng
    e.sql("CREATE VIEW v_lit AS SELECT 1 AS one")
    got = e.sql("SELECT 'from v_lit' AS s").collect()[0]["s"]
    assert got == "from v_lit"


def test_view_inside_transaction_reads_own_writes(spark, eng, tmp_path):
    """A view body re-plans through the REGISTRY, so inside an open
    transaction it reads the staged branch (read-your-writes through
    saved queries), and after ROLLBACK it reads the untouched head."""
    e, t = eng
    e.sql("CREATE VIEW v_n AS SELECT count(*) AS n FROM t")
    assert e.sql("SELECT * FROM v_n").collect()[0]["n"] == 12
    e.sql("BEGIN TRANSACTION ON t")
    e.sql("DELETE FROM t WHERE k >= 6")
    assert e.sql("SELECT * FROM v_n").collect()[0]["n"] == 6  # staged
    assert t.read().count() == 12  # other readers: pre-txn head
    e.sql("ROLLBACK TRANSACTION ON t")
    assert e.sql("SELECT * FROM v_n").collect()[0]["n"] == 12


def test_describe_and_explain_through_views(spark, eng):
    """DESCRIBE and EXPLAIN work on a view via statement-time expansion
    (the temp view exists for the statement's duration)."""
    e, t = eng
    e.sql("CREATE VIEW v_d AS SELECT k, v FROM t WHERE k < 3")
    cols = {r["col_name"] for r in e.sql("DESCRIBE v_d").collect()}
    assert {"k", "v"} <= cols
    plan = e.explain("SELECT * FROM v_d", mode="simple")
    assert "Scan" in plan or "FileScan" in plan


def test_view_backed_results_survive_view_drop(spark, tmp_path):
    """The snapshot-table branch must bind the plan (force .schema)
    before the finally block drops the expanded temp views — same rule
    the plain-SQL path already followed. Collecting AFTER sql() returns
    (twice) proves the returned DataFrame doesn't depend on the dropped
    views."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql("CREATE TABLE base (k INT, v DOUBLE) USING snapshot")
    eng.sql("INSERT INTO base VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    eng.sql("CREATE VIEW big AS SELECT k, v FROM base WHERE v >= 2.0")
    df = eng.sql("SELECT k FROM big ORDER BY k")
    assert not any(
        v.name == "big" for v in spark.catalog.listTables()
    )  # the expansion was dropped before we collect
    assert [r["k"] for r in df.collect()] == [2, 3]
    assert [r["k"] for r in df.collect()] == [2, 3]  # re-executable


# ---------------------- persistent-view bodies carrying hostile literals

_payload = payloads(STRUCTURE, max_size=16)


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_payload)
def test_view_bodies_with_hostile_literals(hostile_eng, p):
    """A persistent view whose body carries a literal full of SQL
    structure must store, SHOW, and re-plan it verbatim: reading the
    view equals Spark's own evaluation of the body's predicate."""
    e, _t, base = hostile_eng
    lit = quote(p)
    name = f"v_{uuid.uuid4().hex[:8]}"
    e.sql(f"CREATE VIEW {name} AS SELECT k, s FROM t WHERE s = {lit}")
    try:
        shown = e.sql(f"SHOW CREATE VIEW {name}").collect()[0]["stmt"]
        assert lit in shown  # round-trips verbatim
        got = sorted(r["k"] for r in e.sql(f"SELECT k FROM {name}").collect())
        want = sorted(
            r["k"] for r in base.filter(F.col("s") == F.lit(p)).collect()
        )
        assert got == want, (p, got, want)
    finally:
        e.sql(f"DROP VIEW {name}")
