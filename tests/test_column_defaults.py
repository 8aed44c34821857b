"""Column DEFAULT values — Iceberg v3's two-default model.

INITIAL default: fixed at ADD COLUMN time; files written before the
column existed read it instead of NULL (they provably predate the
column — appends must carry every schema column, and a re-added name
gets a fresh field id). WRITE default: what INSERTs omitting the column
fill; freely changeable (SET/DROP DEFAULT), never rewrites committed
rows. Both are metadata-only: no data file is touched by any statement
here, so a default lands as fast on 100 TB as on a fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)]),
        stats_for=["k"],
    )
    e._snapshot_tables["t"] = t
    return e, t


def test_initial_default_fills_pre_add_files(spark, eng):
    e, t = eng
    e.sql("ALTER TABLE t ADD COLUMNS (src STRING DEFAULT 'backfill')")
    rows = e.sql("SELECT DISTINCT src FROM t").collect()
    assert [r["src"] for r in rows] == ["backfill"]
    # rows written AFTER the add keep their explicit values (incl. NULL)
    e.sql("INSERT INTO t (k, v, src) VALUES (100, 1.0, 'live')")
    e.sql("INSERT INTO t (k, v, src) VALUES (101, 1.0, NULL)")
    got = {
        r["k"]: r["src"]
        for r in e.sql("SELECT k, src FROM t WHERE k >= 100").collect()
    }
    assert got == {100: "live", 101: None}
    # time travel BEFORE the add still lacks the column entirely
    assert "src" not in e.sql("SELECT * FROM t FOR VERSION AS OF 1").columns


def test_write_default_fills_omitted_insert_columns(spark, eng):
    e, t = eng
    e.sql("ALTER TABLE t ADD COLUMNS (n INT DEFAULT 7)")
    e.sql("INSERT INTO t (k, v) VALUES (200, 2.0)")           # default 7
    e.sql("ALTER TABLE t ALTER COLUMN n SET DEFAULT 9")
    e.sql("INSERT INTO t (k, v) VALUES (201, 2.0)")           # default 9
    e.sql("ALTER TABLE t ALTER COLUMN n DROP DEFAULT")
    e.sql("INSERT INTO t (k, v) VALUES (202, 2.0)")           # NULL again
    got = {
        r["k"]: r["n"]
        for r in e.sql("SELECT k, n FROM t WHERE k >= 200").collect()
    }
    assert got == {200: 7, 201: 9, 202: None}
    # SET/DROP DEFAULT never rewrites committed rows
    assert (
        e.sql("SELECT n FROM t WHERE k = 200").collect()[0]["n"] == 7
    )
    # pre-add rows still read the INITIAL default (SET DEFAULT is
    # write-side only)
    assert (
        e.sql("SELECT DISTINCT n FROM t WHERE k < 100").collect()[0]["n"]
        == 7
    )


def test_default_expressions_and_validation(spark, eng):
    e, t = eng
    # constant expressions work (not just bare literals)
    e.sql(
        "ALTER TABLE t ADD COLUMNS "
        "(d DATE DEFAULT CAST('2024-01-01' AS DATE), s STRING)"
    )
    assert str(
        e.sql("SELECT DISTINCT d FROM t").collect()[0]["d"]
    ) == "2024-01-01"
    assert e.sql("SELECT DISTINCT s FROM t").collect()[0]["s"] is None
    # an uncastable default refuses instead of writing NULLs forever
    with pytest.raises(ValueError, match="does not cast"):
        t.add_columns({"bad": "int"}, {"bad": "'abc'"})
    with pytest.raises(ValueError, match="invalid DEFAULT"):
        t.set_column_default("s", "no_such_col + 1")
    with pytest.raises(ValueError, match="no such column"):
        t.set_column_default("ghost", "1")
    # a string literal containing DEFAULT stays data in the parser
    e.sql("ALTER TABLE t ADD COLUMNS (memo STRING DEFAULT 'use DEFAULT x')")
    assert (
        e.sql("SELECT DISTINCT memo FROM t").collect()[0]["memo"]
        == "use DEFAULT x"
    )


def test_defaults_survive_commits_rename_and_rollback(spark, eng):
    e, t = eng
    e.sql("ALTER TABLE t ADD COLUMNS (n INT DEFAULT 7)")
    v_add = t.current_version()
    t.commit(
        spark.createDataFrame([Row(k=500, v=0.5, n=1)]), mode="append"
    )
    assert t.write_defaults() == {"n": "7"}
    e.sql("ALTER TABLE t RENAME COLUMN n TO m")
    assert t.write_defaults() == {"m": "7"}
    assert (
        e.sql("SELECT DISTINCT m FROM t WHERE k < 100").collect()[0]["m"]
        == 7
    )
    # rollback to before the ADD: the default leaves with the column
    t.rollback(v_add - 1)
    assert t.column_defaults() == {}
    # DROP COLUMN purges the default; a re-added same name starts clean
    t.rollback(v_add)
    e.sql("ALTER TABLE t DROP COLUMN n")
    e.sql("ALTER TABLE t ADD COLUMNS (n INT)")
    assert t.column_defaults() == {}
    assert (
        e.sql("SELECT DISTINCT n FROM t").collect()[0]["n"] is None
    )


def test_defaults_travel_with_clone_and_show_create(spark, eng, tmp_path):
    e, t = eng
    e.sql("ALTER TABLE t ADD COLUMNS (n INT DEFAULT 7)")
    ddl = e.sql("SHOW CREATE TABLE t").collect()[0]["createtab_stmt"]
    assert "n INT DEFAULT 7" in ddl
    clone = t.shallow_clone_to(str(tmp_path / "c"))
    assert clone.write_defaults() == {"n": "7"}
    assert (
        clone.read().where("k < 100").select("n").distinct().collect()[0]["n"]
        == 7
    )


def test_incremental_read_sees_initial_defaults(spark, eng):
    e, t = eng
    v1 = t.current_version()
    e.sql("ALTER TABLE t ADD COLUMNS (n INT DEFAULT 7)")
    t.commit(
        spark.createDataFrame(
            [(300, 3.0, None)], "k bigint, v double, n int"
        ),
        mode="append",
    )
    inc = t.read_changes(v1)
    # the delta contains only the new dir; its explicit NULL survives,
    # and the frame carries the evolved schema
    assert [(r["k"], r["n"]) for r in inc.collect()] == [(300, None)]


def test_create_table_with_columns_partitioning_and_defaults(spark, tmp_path):
    """Column-list CREATE TABLE: an EMPTY snapshot table with declared
    schema, hidden-partition layout, and write defaults — the normal
    create-then-INSERT flow every Delta/Iceberg user starts with."""
    from oss_data_lake_spark.engine import Engine

    import uuid

    e = Engine(spark=spark)
    name = f"fresh_{uuid.uuid4().hex[:8]}"
    e.sql(
        f"CREATE TABLE {name} (k BIGINT, ts TIMESTAMP, "
        "src STRING DEFAULT 'api', v DOUBLE) "
        "USING snapshot PARTITIONED BY (days(ts))"
    )
    t = e._snapshot_tables[name]
    assert t.read().count() == 0
    assert [f.name for f in t.schema().fields] == ["k", "ts", "src", "v"]
    assert t.write_defaults() == {"src": "'api'"}
    assert t.current_partition_by() == ["days(ts)"]
    e.sql(
        f"INSERT INTO {name} (k, ts, v) VALUES "
        "(1, TIMESTAMP '2024-01-01 10:00:00', 1.0), "
        "(2, TIMESTAMP '2024-01-02 10:00:00', 2.0)"
    )
    rows = {r["k"]: r["src"] for r in e.sql(f"SELECT k, src FROM {name}").collect()}
    assert rows == {1: "api", 2: "api"}
    # the declared hidden layout actually landed on disk
    import os

    m = t._manifest(t.current_version())
    d = m["data_dirs"][-1]
    assert any(
        seg.startswith("_p_days_ts=")
        for seg in os.listdir(os.path.join(t.path, d))
        if not seg.startswith("_S") and "=" in seg
    )
    # IF NOT EXISTS no-ops; plain re-create refuses
    e.sql(f"CREATE TABLE IF NOT EXISTS {name} (x INT) USING snapshot")
    assert len(t.schema().fields) == 4
    with pytest.raises(ValueError, match="already exists"):
        e.sql(f"CREATE TABLE {name} (x INT) USING snapshot")
    # eager transform-typing validation fires at CREATE time
    with pytest.raises(ValueError, match="timestamp/date"):
        e.sql(
            f"CREATE TABLE bad_{name} (s STRING) USING snapshot "
            "PARTITIONED BY (days(s))"
        )
    e.sql(f"DROP TABLE {name}")


def test_failed_create_table_registers_nothing(spark):
    """Review finding: a CREATE TABLE whose DEFAULT fails validation
    must not leave a registered, committed table wedging the name."""
    e = Engine(spark=spark)
    with pytest.raises(ValueError, match="does not cast"):
        e.sql("CREATE TABLE ghost (a INT DEFAULT 'abc') USING snapshot")
    assert "ghost" not in e._snapshot_tables
    # the corrected statement works first try
    import uuid

    name = f"ok_{uuid.uuid4().hex[:8]}"
    e.sql(f"CREATE TABLE {name} (a INT DEFAULT 5) USING snapshot")
    assert e._snapshot_tables[name].write_defaults() == {"a": "5"}
    e.sql(f"DROP TABLE {name}")


def test_defaults_reject_nondeterministic_and_query_time(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1,)], "k bigint"))
    e._snapshot_tables["t"] = t
    for bad, ty in [
        ("rand()", "DOUBLE"),
        ("uuid()", "STRING"),
        ("current_timestamp()", "TIMESTAMP"),
        ("now()", "TIMESTAMP"),
        ("current_date()", "DATE"),
        ("date_add(current_date(), 1)", "DATE"),  # nested query-time
    ]:
        with pytest.raises(ValueError, match="constant|query time"):
            e.sql(f"ALTER TABLE t ADD COLUMNS (c {ty} DEFAULT {bad})")
        assert "c" not in [f.name for f in t.schema().fields]
    # genuinely constant expressions still pass
    e.sql(
        "ALTER TABLE t ADD COLUMNS ("
        "d DATE DEFAULT CAST('2024-01-01' AS DATE), "
        "n INT DEFAULT 1 + 1, s STRING DEFAULT upper('x'))"
    )
    row = e.sql("SELECT d, n, s FROM t").collect()[0]
    assert (str(row["d"]), row["n"], row["s"]) == ("2024-01-01", 2, "X")
