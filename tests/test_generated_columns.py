"""GENERATED ALWAYS AS columns (Delta generated columns): a column
derived from the row's other columns, declared at CREATE TABLE, stored
in the column_defaults metadata that already rides every commit kind.
Contract: computed when absent / validated when present at commit
(INSERT INTO, COPY INTO, API writes), recomputed by copy-on-write
UPDATE (subquery conditions included), refused for direct assignment everywhere, conservative refusals
on paths without the recompute projection, and rename/drop guards on
the rule's inputs."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.hostile import STRUCTURE, payloads, quote


@pytest.fixture()
def gen_eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE t (a INT, b INT, "
        "s INT GENERATED ALWAYS AS (a + b)) USING snapshot"
    )
    return e, e._snapshot_tables["t"]


def test_insert_computes_absent_and_validates_present(spark, gen_eng):
    e, t = gen_eng
    # omitted generated column: computed from the row
    e.sql("INSERT INTO t (a, b) VALUES (1, 2), (10, 20)")
    got = {r["a"]: r["s"] for r in e.sql("SELECT a, s FROM t").collect()}
    assert got == {1: 3, 10: 30}
    # explicitly provided and CONSISTENT: accepted
    e.sql("INSERT INTO t VALUES (5, 5, 10)")
    assert e.sql(
        "SELECT s FROM t WHERE a = 5"
    ).collect()[0]["s"] == 10
    # explicitly provided and WRONG: the whole insert refuses
    with pytest.raises(ValueError, match="generated"):
        e.sql("INSERT INTO t VALUES (7, 7, 999)")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 3


def test_api_commit_enforces_too(spark, gen_eng):
    e, t = gen_eng
    import pyspark.sql.functions as F  # noqa: F401

    # absent -> computed
    t.commit(
        spark.createDataFrame([(100, 1)], "a int, b int"), mode="append"
    )
    assert e.sql(
        "SELECT s FROM t WHERE a = 100"
    ).collect()[0]["s"] == 101
    # present and inconsistent -> refused
    with pytest.raises(ValueError, match="generated"):
        t.commit(
            spark.createDataFrame([(1, 1, 5)], "a int, b int, s int"),
            mode="append",
        )


def test_cow_update_recomputes_fired_rows(spark, gen_eng):
    e, t = gen_eng
    e.sql("INSERT INTO t (a, b) VALUES (1, 2), (10, 20)")
    e.sql("UPDATE t SET a = a + 100 WHERE b = 2")
    rows = {r["a"]: r["s"] for r in e.sql("SELECT a, s FROM t").collect()}
    assert rows[101] == 103   # fired: recomputed from the new a
    assert rows[10] == 30     # unfired: untouched
    # the condition referencing an updated column keys off PRE values
    e.sql("UPDATE t SET b = 0 WHERE a = 101")
    assert e.sql(
        "SELECT s FROM t WHERE a = 101"
    ).collect()[0]["s"] == 101
    # direct assignment refuses
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql("UPDATE t SET s = 0 WHERE a = 10")


def test_subquery_update_recomputes_fired_rows(spark, gen_eng):
    """A subquery condition goes through the same matcher and UPDATE
    projection as a plain one, so assigning an input recomputes the
    generated column instead of refusing."""
    e, t = gen_eng
    e.sql("INSERT INTO t (a, b) VALUES (1, 2), (10, 20), (30, 40)")
    e.sql("CREATE TABLE r (b INT) USING snapshot")
    e.sql("INSERT INTO r VALUES (2), (40)")
    e.sql("UPDATE t SET a = a + 1 WHERE b IN (SELECT b FROM r)")
    rows = {
        r["b"]: (r["a"], r["s"])
        for r in e.sql("SELECT a, b, s FROM t").collect()
    }
    assert rows == {2: (2, 4), 20: (10, 30), 40: (31, 71)}


def test_mor_and_merge_paths_refuse_conservatively(spark, gen_eng):
    e, t = gen_eng
    e.sql("INSERT INTO t (a, b) VALUES (1, 2)")
    t.set_properties({"delete.mode": "merge-on-read"})
    # MoR UPDATE of an input column: refused, names the CoW escape
    with pytest.raises(ValueError, match="copy-on-write"):
        e.sql("UPDATE t SET a = 9 WHERE b = 2")
    # non-input columns still update fine under MoR... b IS an input
    # here, so flip back to CoW for the remaining checks
    t.set_properties({"delete.mode": "copy-on-write"})
    # star-form MERGE refuses on generated tables
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql(
            "MERGE INTO t USING (SELECT 1 AS a, 2 AS b, 3 AS s) AS src "
            "ON t.a = src.a "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # non-star MERGE touching an input refuses too
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql(
            "MERGE INTO t USING (SELECT 1 AS k, 9 AS nb) AS src "
            "ON t.a = src.k "
            "WHEN MATCHED THEN UPDATE SET b = src.nb"
        )
    # DELETE is unaffected
    e.sql("DELETE FROM t WHERE a = 1")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 0


def test_schema_guards_and_ddl_surface(spark, gen_eng):
    e, t = gen_eng
    # rename of the generated column or an input refuses
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql("ALTER TABLE t RENAME COLUMN a TO a2")
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql("ALTER TABLE t RENAME COLUMN s TO s2")
    # dropping an input refuses while the rule exists
    with pytest.raises(ValueError, match="GENERATED"):
        e.sql("ALTER TABLE t DROP COLUMN b")
    # SHOW CREATE / DESCRIBE print the rule
    ddl = e.sql("SHOW CREATE TABLE t").collect()[0]["createtab_stmt"]
    assert "s INT GENERATED ALWAYS AS (a + b)" in ddl
    desc = {
        r["col_name"]: r["comment"] for r in e.sql("DESCRIBE t").collect()
    }
    assert desc["s"] == "GENERATED ALWAYS AS (a + b)"
    # dropping the generated column drops the rule; inputs free up
    e.sql("ALTER TABLE t DROP COLUMN s")
    e.sql("ALTER TABLE t RENAME COLUMN b TO b2")
    e.sql("INSERT INTO t VALUES (1, 2)")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 1


def test_create_validation_and_grammar(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    # expression over unknown columns: CREATE unwinds entirely
    with pytest.raises(ValueError):
        e.sql(
            "CREATE TABLE bad (a INT, "
            "g INT GENERATED ALWAYS AS (ghost + 1)) USING snapshot"
        )
    e.sql("CREATE TABLE bad (a INT) USING snapshot")  # name free again
    # non-deterministic expressions refuse
    with pytest.raises(ValueError, match="non-deterministic"):
        e.sql(
            "CREATE TABLE bad2 (a INT, "
            "g DOUBLE GENERATED ALWAYS AS (a + rand())) USING snapshot"
        )
    # self-reference refuses
    with pytest.raises(ValueError, match="itself"):
        e.sql(
            "CREATE TABLE bad3 (a INT, "
            "g INT GENERATED ALWAYS AS (g + 1)) USING snapshot"
        )
    # GENERATED + DEFAULT on one column refuses (either ordering)
    with pytest.raises(ValueError, match="both|unexpected text"):
        e.sql(
            "CREATE TABLE bad4 (a INT, "
            "g INT GENERATED ALWAYS AS (a) DEFAULT 5) USING snapshot"
        )
    with pytest.raises(ValueError, match="both|unexpected text"):
        e.sql(
            "CREATE TABLE bad5 (a INT, "
            "g INT DEFAULT 5 GENERATED ALWAYS AS (a)) USING snapshot"
        )
    # ADD COLUMNS cannot introduce generated columns (Delta's rule)
    e.sql("CREATE TABLE ok (a INT) USING snapshot")
    with pytest.raises(ValueError, match="CREATE TABLE"):
        e.sql(
            "ALTER TABLE ok ADD COLUMNS "
            "(g INT GENERATED ALWAYS AS (a + 1))"
        )
    # keyword inside a string literal stays data
    e.sql(
        "CREATE TABLE lit (a INT, "
        "memo STRING DEFAULT 'GENERATED ALWAYS AS (x)') USING snapshot"
    )
    e.sql("INSERT INTO lit (a) VALUES (1)")
    assert e.sql(
        "SELECT memo FROM lit"
    ).collect()[0]["memo"] == "GENERATED ALWAYS AS (x)"


def test_generated_date_partitioning_use_case(spark, tmp_path):
    """The canonical Delta use: a DATE generated from a timestamp,
    partitioning the table — inserts compute it, the layout prunes."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE ev (ts TIMESTAMP, v DOUBLE, "
        "d DATE GENERATED ALWAYS AS (to_date(ts))) USING snapshot "
        "PARTITIONED BY (d)"
    )
    e.sql(
        "INSERT INTO ev (ts, v) VALUES "
        "(TIMESTAMP '2024-01-01 10:00:00', 1.0), "
        "(TIMESTAMP '2024-01-02 11:00:00', 2.0)"
    )
    rows = {str(r["d"]): r["v"] for r in e.sql("SELECT d, v FROM ev").collect()}
    assert rows == {"2024-01-01": 1.0, "2024-01-02": 2.0}
    n = e.sql(
        "SELECT count(*) AS n FROM ev WHERE d = DATE '2024-01-01'"
    ).collect()[0]["n"]
    assert n == 1


def test_replace_where_computes_and_validates(spark, gen_eng):
    """replace_where writes through its own path — the generated
    contract must hold there too."""
    e, t = gen_eng
    e.sql("INSERT INTO t (a, b) VALUES (1, 2), (50, 50)")
    # absent generated column in the replacement: computed
    t.replace_where(
        spark.createDataFrame([(1, 9)], "a int, b int"), "a < 10"
    )
    got = {r["a"]: r["s"] for r in t.read().collect()}
    assert got == {1: 10, 50: 100}
    # inconsistent replacement refuses
    with pytest.raises(ValueError, match="generated"):
        t.replace_where(
            spark.createDataFrame([(1, 9, 999)], "a int, b int, s int"),
            "a < 10",
        )


def test_insert_generated_over_default_filled_column(spark, tmp_path):
    """A GENERATED expression referencing a
    column that is itself omitted and DEFAULT-filled used to fail
    analysis (one merged fill projection). Defaults now land in a
    FIRST projection, so the generated expression computes over the
    default VALUE."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE gd (a INT, b INT DEFAULT 7, "
        "c INT GENERATED ALWAYS AS (b * 2)) USING snapshot"
    )
    eng.sql("INSERT INTO gd (a) VALUES (1)")
    row = eng.sql("SELECT * FROM gd").collect()[0]
    assert (row["a"], row["b"], row["c"]) == (1, 7, 14)
    # provided b still drives the generated value
    eng.sql("INSERT INTO gd (a, b) VALUES (2, 10)")
    rows = {r["a"]: (r["b"], r["c"]) for r in eng.sql("SELECT * FROM gd").collect()}
    assert rows == {1: (7, 14), 2: (10, 20)}
    # explicitly-provided generated values still validate at commit
    with pytest.raises(Exception, match="generated"):
        eng.sql("INSERT INTO gd (a, b, c) VALUES (3, 1, 99)")
    # column order stable across the two projections (append files match)
    assert [f.name for f in eng._snapshot_tables["gd"].schema().fields] == [
        "a", "b", "c",
    ]


# ------------- GENERATED ALWAYS AS expressions carrying hostile literals

_payload = payloads(STRUCTURE, max_size=16)


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_payload)
def test_generated_expressions_with_hostile_literals(
    spark, tmp_path_factory, p
):
    """A GENERATED ALWAYS AS expression whose literal carries SQL
    structure must parse at CREATE, compute at INSERT, and equal
    Spark's own evaluation of the expression."""
    root = tmp_path_factory.mktemp("fg")
    e = Engine(spark=spark, warehouse_dir=str(root / "wh"))
    lit = quote(p)
    e.sql(
        f"CREATE TABLE gt (s STRING, "
        f"g STRING GENERATED ALWAYS AS (concat(s, {lit}))) USING snapshot"
    )
    e.sql(f"INSERT INTO gt (s) VALUES ('a'), ({lit})")
    got = {r["s"]: r["g"] for r in e.sql("SELECT s, g FROM gt").collect()}
    assert got == {"a": "a" + p, p: p + p}, (p, got)
    # a provided-but-wrong generated value still refuses
    with pytest.raises(Exception, match="generated"):
        e.sql(f"INSERT INTO gt (s, g) VALUES ('x', concat('WRONG', {lit}))")
