"""SQL-text DML + maintenance statements over registered snapshot tables
(sources/dml_sql.py through Engine.sql) — the Trino persona typing
DELETE/UPDATE/OPTIMIZE/VACUUM/DESCRIBE HISTORY as plain SQL."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark import sqlplan
from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.dml_sql import (
    _split_assignments,
    conjunct_ranges,
)
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), s=f"g{i % 4}") for i in range(100)]
    )
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k"])
    e._snapshot_tables["t"] = t
    return e


def test_sql_delete_prunes_and_removes(spark, eng):
    res = eng.sql("DELETE FROM t WHERE k BETWEEN 20 AND 39").collect()[0]
    assert res["version"] == 2
    assert 0 < res["files_rewritten"] < 10
    assert res["files_skipped"] >= 7
    left = [r["k"] for r in eng.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == [i for i in range(100) if not 20 <= i <= 39]


def test_sql_update_with_function_args_and_literal_where(spark, eng):
    # function commas in SET; a literal containing ' WHERE ' as data
    res = eng.sql(
        "UPDATE t SET v = round(v * 2, 1), s = concat(s, ' WHERE x') "
        "WHERE k >= 95"
    ).collect()[0]
    assert res["files_rewritten"] == 1 and res["files_skipped"] == 9
    rows = {r["k"]: (r["v"], r["s"]) for r in eng.sql("SELECT * FROM t").collect()}
    assert rows[97] == (194.0, "g1 WHERE x")
    assert rows[50] == (50.0, "g2")


def test_sql_update_without_where_touches_all(spark, eng):
    eng.sql("UPDATE t SET v = v + 1000")
    assert (
        eng.sql("SELECT min(v) AS m FROM t").collect()[0]["m"] == 1000.0
    )


def test_sql_delete_inextractable_where_still_correct(spark, eng):
    res = eng.sql("DELETE FROM t WHERE k < 5 OR k > 94").collect()[0]
    assert res["files_skipped"] == 0  # OR disables pruning — full rewrite
    assert eng.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 90


def test_sql_optimize_vacuum_history(spark, eng):
    eng.sql("DELETE FROM t WHERE k BETWEEN 0 AND 9")
    v = eng.sql("OPTIMIZE t INTO 2 FILES").collect()[0]["version"]
    assert v == 3
    hist = eng.sql("DESCRIBE HISTORY t").collect()
    assert [r["version"] for r in hist] == [1, 2, 3]
    assert hist[1]["operation"] == "delete"
    assert hist[2]["operation"] == "compact"  # dataChange=false tag
    # expire old snapshots so vacuum has garbage to reclaim
    eng._snapshot_tables["t"].expire_snapshots(keep_last=1)
    assert eng.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 90


def test_sql_optimize_zorder(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "z"))
    df = spark.createDataFrame(
        [Row(a=i % 32, b=i // 32, v=float(i)) for i in range(1024)]
    )
    t.commit(df, stats_for=["a", "b"])
    e._snapshot_tables["z"] = t
    e.sql("OPTIMIZE z ZORDER BY (a, b) INTO 16 FILES")
    _sel, n_sel, n_skip = t.plan_range_scan("a", 0, 3)
    assert n_skip >= 8, "z-order must give both columns pruning power"
    _sel, n_sel2, n_skip2 = t.plan_range_scan("b", 0, 3)
    assert n_skip2 >= 8


def test_sql_dml_unregistered_table_raises(spark, eng):
    with pytest.raises(ValueError, match="not a registered snapshot table"):
        eng.sql("DELETE FROM nope WHERE k = 1")


def test_sql_select_still_falls_through(spark, eng):
    out = eng.sql("SELECT count(*) AS n FROM t WHERE k < 10").collect()
    assert out[0]["n"] == 10


def test_assignment_splitter_and_ranges(spark):
    assert _split_assignments("a = f(x, y), b = c + 1") == {
        "a": "f(x, y)", "b": "c + 1"
    }
    with pytest.raises(ValueError, match="cannot parse"):
        _split_assignments("a +=1")
    cols = {"k", "d"}

    def ranges(text):
        return conjunct_ranges(sqlplan.condition(text, spark), cols)

    assert ranges("k BETWEEN 1 AND 2 AND d >= '2024-01-01'") == [
        ("k", 1, 2), ("d", "2024-01-01", None)
    ]
    assert ranges("k = 5 OR d = '2024'") == []
    assert ranges("abs(k) > 5") == []
    assert ranges("s = 'k BETWEEN 1 AND 2'") == []


def test_sql_insert_values_and_select(spark, eng):
    v = eng.sql(
        "INSERT INTO t VALUES (1000, 1.5, 'new'), (1001, 2.5, 'new')"
    ).collect()[0]["version"]
    assert v == 2
    assert eng.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 102
    # column-list form with NULL fill, source = SELECT over the table itself
    eng.sql("INSERT INTO t (k, s) SELECT k + 2000, s FROM t WHERE k < 2")
    rows = {r["k"]: (r["v"], r["s"]) for r in eng.sql("SELECT * FROM t").collect()}
    assert rows[2000] == (None, "g0") and rows[1000] == (1.5, "new")


def test_sql_insert_arity_and_unknown_columns(spark, eng):
    with pytest.raises(ValueError, match="arity mismatch"):
        eng.sql("INSERT INTO t VALUES (1, 2.0)")
    with pytest.raises(ValueError, match="unknown columns"):
        eng.sql("INSERT INTO t (nope) VALUES (1)")


def test_sql_merge_full_clause_matrix(spark, eng):
    res = eng.sql("""
        MERGE INTO t USING (
            SELECT k, CAST(0.0 AS DOUBLE) AS v, 'upd' AS s FROM t WHERE k < 3
            UNION ALL
            SELECT 500 AS k, CAST(5.0 AS DOUBLE) AS v, 'ins' AS s
        ) AS src
        ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """).collect()[0]
    assert res["version"] == 2
    rows = {r["k"]: (r["v"], r["s"]) for r in eng.sql("SELECT * FROM t").collect()}
    assert len(rows) == 101
    assert rows[1] == (0.0, "upd")
    assert rows[500] == (5.0, "ins")
    assert rows[50] == (50.0, "g2")


def test_sql_merge_delete_clause_with_condition(spark, eng):
    eng.sql("""
        MERGE INTO t AS tgt USING (
            SELECT k, v, s FROM t WHERE k BETWEEN 10 AND 19
        ) src
        ON tgt.k = src.k
        WHEN MATCHED AND src.k % 2 = 0 THEN DELETE
    """)
    left = [r["k"] for r in eng.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == [k for k in range(100) if not (10 <= k <= 19 and k % 2 == 0)]


def test_sql_merge_restricted_grammar_refusals(spark, eng):
    # differing ON names are fine for non-star clauses (round 7), but a
    # star UPDATE needs the full table schema from the source
    with pytest.raises(ValueError, match="schema mismatch"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON t.k = s.a "
            "WHEN MATCHED THEN UPDATE SET *"
        )
    # non-alias-qualified ON conjuncts stay outside the grammar
    with pytest.raises(ValueError, match="restricted"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON k = a "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValueError, match="ON clause"):
        eng.sql("MERGE INTO t USING x WHEN MATCHED THEN DELETE")
    with pytest.raises(ValueError, match="SOURCE"):
        eng.sql(
            "MERGE INTO t USING (SELECT k, v, s FROM t) s ON t.k = s.k "
            "WHEN MATCHED AND t.v > 5 THEN UPDATE SET *"
        )


def test_sql_ctas_and_drop_lifecycle(spark, tmp_path):
    """CREATE TABLE ... USING snapshot AS <query> materializes a managed
    snapshot table (auto-registered, stats harvested), the new table
    immediately supports the whole statement surface, and DROP TABLE
    unregisters + deletes; session-catalog DROPs still fall through."""
    import os

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(100)]
    ).createOrReplaceTempView("src_view")

    v = eng.sql(
        "CREATE TABLE managed USING snapshot AS SELECT k, v FROM src_view"
    ).collect()[0]["version"]
    assert v == 1
    t = eng._snapshot_tables["managed"]
    assert t.path == str(tmp_path / "wh" / "_snapshot_tables" / "managed")
    assert os.path.isdir(t.path)
    assert t.stats_columns() == {"k", "v"}, "CTAS must harvest stats"

    # the created table takes DML + time travel right away
    eng.sql("DELETE FROM managed WHERE k BETWEEN 0 AND 9")
    assert eng.sql("SELECT count(*) AS n FROM managed").collect()[0]["n"] == 90
    assert (
        eng.sql(
            "SELECT count(*) AS n FROM managed FOR VERSION AS OF 1"
        ).collect()[0]["n"]
        == 100
    )

    with pytest.raises(ValueError, match="already exists"):
        eng.sql("CREATE TABLE managed USING snapshot AS SELECT 1 AS x")
    # IF NOT EXISTS: no-op, table untouched
    eng.sql(
        "CREATE TABLE IF NOT EXISTS managed USING snapshot AS SELECT 1 AS x"
    )
    assert eng.sql("SELECT count(*) AS n FROM managed").collect()[0]["n"] == 90

    eng.sql("DROP TABLE managed")
    assert "managed" not in eng._snapshot_tables
    assert not os.path.exists(t.path)

    # plain CREATE/DROP still reach the session catalog untouched
    eng.sql("CREATE TABLE IF NOT EXISTS plain_tbl (a INT) USING parquet")
    eng.sql("DROP TABLE plain_tbl")


def test_create_table_with_char_varchar_and_year_month_columns(
    spark, tmp_path
):
    """Column types PySpark's Arrow conversion lacks still make a table:
    CREATE, a read of the empty table, a pruned read that matches no file,
    and TRUNCATE all build their frames from the declared schema."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql(
        "CREATE TABLE tv (name VARCHAR(10), c CHAR(3), "
        "i INTERVAL YEAR TO MONTH, k INT) USING snapshot"
    )
    want = "struct<name:string,c:string,i:interval year to month,k:int>"
    assert eng.sql("SELECT * FROM tv").schema.simpleString() == want
    eng.sql("INSERT INTO tv VALUES ('ab', 'x', INTERVAL '1-2' YEAR TO MONTH, 1)")
    assert eng.sql("SELECT name, k FROM tv").collect() == [Row(name="ab", k=1)]
    pruned = eng.sql("SELECT * FROM tv WHERE k = 99")
    assert pruned.schema.simpleString() == want and pruned.collect() == []
    eng.sql("TRUNCATE TABLE tv")
    assert eng.sql("SELECT k FROM tv").collect() == []


def test_create_table_with_tblproperties(spark, tmp_path):
    """TBLPROPERTIES on a snapshot CREATE, column-list or CTAS, with or
    without a layout: the first snapshot carries the properties, so the
    table behaves as CREATE followed by ALTER TABLE SET TBLPROPERTIES."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    mor = "TBLPROPERTIES ('delete.mode' = 'merge-on-read', 'owner' = 'a(b)')"
    assert eng.sql(
        f"CREATE TABLE tp (k BIGINT, ts TIMESTAMP) USING snapshot {mor}"
    ).collect()[0]["version"] == 1
    eng.sql(
        "CREATE TABLE tpp (k BIGINT, ts TIMESTAMP) USING snapshot "
        f"PARTITIONED BY (days(ts)) {mor}"
    )
    eng.sql(
        f"CREATE TABLE tpc USING snapshot PARTITIONED BY (k) {mor} "
        "AS SELECT id AS k, TIMESTAMP'2025-01-06 00:00:00' AS ts FROM range(4)"
    )
    for name in ("tp", "tpp", "tpc"):
        t = eng._snapshot_tables[name]
        assert t.properties() == {
            "delete.mode": "merge-on-read", "owner": "a(b)",
        }, name
        eng.sql(
            f"INSERT INTO {name} SELECT id + 10, "
            "TIMESTAMP'2025-01-07 00:00:00' FROM range(3)"
        )
        res = eng.sql(f"DELETE FROM {name} WHERE k >= 11").collect()[0]
        assert res["mode"] == "merge-on-read", name
        assert {r.k for r in eng.sql(f"SELECT k FROM {name}").collect()} == (
            {0, 1, 2, 3, 10} if name == "tpc" else {10}
        )
    assert eng._snapshot_tables["tpp"].current_partition_by() == ["days(ts)"]
    assert eng._snapshot_tables["tpc"].current_partition_by() == ["k"]
    with pytest.raises(ValueError, match="'key' = 'value'"):
        eng.sql("CREATE TABLE tbad (k BIGINT) USING snapshot TBLPROPERTIES ()")


def test_sql_script_runs_full_lifecycle(spark, tmp_path):
    """One script string: CTAS -> DML -> maintenance -> final SELECT.
    Statements split on depth-0 semicolons only (a ';' inside a string
    literal is data)."""
    from oss_data_lake_spark.sources.dml_sql import split_statements

    assert split_statements("SELECT 'a;b' AS s; SELECT 2") == [
        "SELECT 'a;b' AS s", "SELECT 2"
    ]

    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(50)]
    ).createOrReplaceTempView("feed")
    out = eng.sql_script("""
        CREATE TABLE script_t USING snapshot AS SELECT k, v FROM feed;
        DELETE FROM script_t WHERE k < 10;
        UPDATE script_t SET v = v * 2 WHERE k >= 40;
        INSERT INTO script_t VALUES (1000, CAST(-1.0 AS DOUBLE));
        OPTIMIZE script_t INTO 1 FILES;
        SELECT count(*) AS n, sum(v) AS s FROM script_t;
    """)
    row = out.collect()[0]
    assert row["n"] == 41
    want = sum(float(k) for k in range(10, 40)) + sum(
        2.0 * k for k in range(40, 50)
    ) - 1.0
    assert row["s"] == want
    eng.sql("DROP TABLE script_t")


def test_describe_detail_and_files(spark, eng):
    eng.sql("DELETE FROM t WHERE k BETWEEN 0 AND 9")
    detail = eng.sql("DESCRIBE DETAIL t").collect()[0]
    assert detail["version"] == 2
    assert detail["n_files"] > detail["n_visible_files"]
    assert "k, v, s" == detail["columns"]
    assert detail["stats_columns"] == ["k"]
    # CoW delete leaves no merge-on-read debt
    assert detail["n_delete_vector_dirs"] == 0
    assert detail["n_eq_deletes"] == 0
    eng.sql("ALTER TABLE t SET TBLPROPERTIES ('delete.mode'='merge-on-read')")
    eng.sql("DELETE FROM t WHERE k BETWEEN 90 AND 99")
    d2 = eng.sql("DESCRIBE DETAIL t").collect()[0]
    assert d2["n_delete_vector_dirs"] == 1  # MoR debt now visible
    files = eng.sql("DESCRIBE FILES t").collect()
    assert len(files) == detail["n_files"]
    invisible = [r for r in files if not r["visible"]]
    assert invisible, "the deleted slice's file must show as invisible"
    assert all(r["stat_columns"] == ["k"] for r in files if r["stat_columns"])


def test_describe_on_empty_table_gives_clear_error(spark, tmp_path):
    """ADVICE r6: DESCRIBE DETAIL/FILES on a registered but
    never-committed table must raise a clear message, not a
    FileNotFoundError for 'vNone.json'."""
    e = Engine(spark=spark)
    e._snapshot_tables["empty"] = SnapshotTable(
        spark, str(tmp_path / "empty")
    )
    with pytest.raises(ValueError, match="no snapshots"):
        e.sql("DESCRIBE DETAIL empty")
    with pytest.raises(ValueError, match="no snapshots"):
        e.sql("DESCRIBE FILES empty")


def test_sql_merge_nonstar_set_assignments(spark, eng):
    """Round 7: arbitrary `SET c = expr` — expressions see BOTH rows
    (target via its alias, source via its alias, bare unique names
    auto-qualify), unassigned columns keep target values, and the source
    may be NARROWER than the table (keys + referenced columns only)."""
    res = eng.sql("""
        MERGE INTO t AS tg USING (
            SELECT k, v AS bump FROM t WHERE k < 5
        ) AS src
        ON tg.k = src.k
        WHEN MATCHED THEN UPDATE SET v = tg.v + src.bump * 10
    """).collect()[0]
    assert res["version"] == 2
    got = {r["k"]: r["v"] for r in eng.sql("SELECT k, v FROM t").collect()}
    for k in range(5):
        assert got[k] == float(k) + float(k) * 10
    assert got[50] == 50.0  # untouched
    # s column unique → bare name resolves to source; v ambiguous → raises
    with pytest.raises(ValueError, match="ambiguous column 'v'"):
        eng.sql("""
            MERGE INTO t USING (SELECT k, v FROM t WHERE k = 1) AS s2
            ON t.k = s2.k
            WHEN MATCHED THEN UPDATE SET v = v + 1
        """)


def test_sql_merge_insert_cols_values(spark, eng):
    """INSERT (cols) VALUES (exprs): expressions over the SOURCE row
    only; unnamed columns NULL-fill."""
    res = eng.sql("""
        MERGE INTO t USING (
            SELECT k + 1000 AS nk, v FROM t WHERE k < 3
        ) AS s
        ON t.k = s.nk
        WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.nk, v * 2)
    """).collect()[0]
    assert res["version"] == 2
    rows = {r["k"]: r for r in eng.sql(
        "SELECT * FROM t WHERE k >= 1000"
    ).collect()}
    assert sorted(rows) == [1000, 1001, 1002]
    assert rows[1000]["v"] == 0.0 and rows[1002]["v"] == 4.0
    assert all(r["s"] is None for r in rows.values())  # unnamed → NULL
    # target references in VALUES refuse
    with pytest.raises(ValueError, match="only the source row"):
        eng.sql("""
            MERGE INTO t USING (SELECT k + 9999 AS nk FROM t LIMIT 1) AS s
            ON t.k = s.nk
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.nk, t.v)
        """)
    # arity mismatch refuses
    with pytest.raises(ValueError, match="columns but VALUES"):
        eng.sql("""
            MERGE INTO t USING (SELECT k + 9999 AS nk FROM t LIMIT 1) AS s
            ON t.k = s.nk
            WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.nk)
        """)


def test_sql_merge_full_nonstar_combination(spark, eng):
    """Both non-star clauses together, with a matched condition."""
    res = eng.sql("""
        MERGE INTO t USING (
            SELECT k AS mk, CAST(k * 1.5 AS DOUBLE) AS nv
            FROM t WHERE k BETWEEN 0 AND 9
            UNION ALL SELECT 5000, CAST(7.0 AS DOUBLE)
        ) AS s
        ON t.k = s.mk
        WHEN MATCHED AND s.nv > 6.0 THEN UPDATE SET v = nv, s = 'upd'
        WHEN NOT MATCHED THEN INSERT (k, s) VALUES (mk, 'new')
    """).collect()[0]
    assert res["version"] == 2
    got = {r["k"]: r for r in eng.sql("SELECT * FROM t").collect()}
    # nv > 6 → k in 5..9 updated; 0..4 keep target row (condition miss)
    assert got[7]["v"] == 10.5 and got[7]["s"] == "upd"
    assert got[3]["v"] == 3.0 and got[3]["s"] == "g3"
    assert got[5000]["s"] == "new" and got[5000]["v"] is None


def test_insert_overwrite_replaces_under_schema(spark, eng):
    """INSERT OVERWRITE = overwrite commit under the EXISTING schema;
    history stays time-travelable."""
    res = eng.sql(
        "INSERT OVERWRITE t VALUES (1, CAST(1.0 AS DOUBLE), 'only')"
    ).collect()[0]
    assert res["version"] == 2
    rows = eng.sql("SELECT * FROM t").collect()
    assert len(rows) == 1 and rows[0]["s"] == "only"
    assert eng.sql(
        "SELECT count(*) AS c FROM t FOR VERSION AS OF 1"
    ).collect()[0]["c"] == 100
    # partial column list NULL-fills the rest, optional TABLE keyword
    eng.sql("INSERT OVERWRITE TABLE t (k) VALUES (7)")
    rows = eng.sql("SELECT * FROM t").collect()
    assert len(rows) == 1 and rows[0]["v"] is None and rows[0]["k"] == 7


def test_truncate_table_keeps_schema_and_history(spark, eng):
    res = eng.sql("TRUNCATE TABLE t").collect()[0]
    assert res["version"] == 2
    assert eng.sql("SELECT count(*) AS c FROM t").collect()[0]["c"] == 0
    # schema survives: an INSERT still aligns
    eng.sql("INSERT INTO t VALUES (1, CAST(2.0 AS DOUBLE), 'x')")
    assert eng.sql("SELECT count(*) AS c FROM t").collect()[0]["c"] == 1
    assert eng.sql(
        "SELECT count(*) AS c FROM t FOR VERSION AS OF 1"
    ).collect()[0]["c"] == 100


def test_show_tblproperties(spark, eng):
    eng.sql(
        "ALTER TABLE t SET TBLPROPERTIES "
        "('delete.mode'='merge-on-read', 'owner'='me')"
    )
    got = {
        r["key"]: r["value"]
        for r in eng.sql("SHOW TBLPROPERTIES t").collect()
    }
    assert got == {"delete.mode": "merge-on-read", "owner": "me"}
    one = eng.sql("SHOW TBLPROPERTIES t ('owner')").collect()
    assert [(r["key"], r["value"]) for r in one] == [("owner", "me")]


def test_expire_snapshots_sql(spark, eng):
    eng.sql("DELETE FROM t WHERE k < 10")
    eng.sql("DELETE FROM t WHERE k < 20")
    expired = [
        r["expired_version"]
        for r in eng.sql(
            "ALTER TABLE t EXPIRE SNAPSHOTS KEEP LAST 1"
        ).collect()
    ]
    assert expired == [1, 2]
    assert eng.sql("SELECT count(*) AS c FROM t").collect()[0]["c"] == 80
    with pytest.raises(Exception):
        eng.sql("SELECT * FROM t FOR VERSION AS OF 1").collect()


def test_create_or_replace_preserves_history(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE r USING snapshot AS "
        "SELECT 1 AS k, 'a' AS s"
    )
    v = e.sql(
        "CREATE OR REPLACE TABLE r USING snapshot AS "
        "SELECT 2 AS k, 'b' AS s UNION ALL SELECT 3, 'c'"
    ).collect()[0]["version"]
    assert v == 2
    assert e.sql("SELECT count(*) AS c FROM r").collect()[0]["c"] == 2
    # replacement is a COMMIT: the original generation still reads
    assert e.sql(
        "SELECT s FROM r FOR VERSION AS OF 1"
    ).collect()[0]["s"] == "a"
    with pytest.raises(ValueError, match="exclusive"):
        e.sql(
            "CREATE OR REPLACE TABLE IF NOT EXISTS r USING snapshot AS "
            "SELECT 1 AS k"
        )
    e.sql("DROP TABLE r")


def test_alter_column_type_widening(spark, eng, tmp_path):
    """Metadata-only type widening: ALTER COLUMN ... TYPE promotes the
    snapshot schema; old files upcast at read; narrowing refuses."""
    t = SnapshotTable(spark, str(tmp_path / "w"))
    t.commit(
        spark.createDataFrame([(i, i) for i in range(20)], "k int, v int"),
        stats_for=["k"],
    )
    eng._snapshot_tables["w"] = t
    res = eng.sql("ALTER TABLE w ALTER COLUMN v TYPE bigint").collect()[0]
    assert res["version"] == 2
    assert dict(eng.sql("SELECT * FROM w").dtypes)["v"] == "bigint"
    assert eng.sql("SELECT sum(v) AS s FROM w").collect()[0]["s"] == 190
    # a wider append now fits where it would have been rejected
    t.commit(
        spark.createDataFrame([(100, 2**40)], "k int, v long"), mode="append"
    )
    assert eng.sql("SELECT max(v) AS m FROM w").collect()[0]["m"] == 2**40
    # time travel shows the NARROW type at the old version
    assert dict(t.read(1).dtypes)["v"] == "int"
    # stats on k still prune after the unrelated widening
    _sel, n_sel, n_skip = t.plan_range_scan("k", 0, 5)
    assert n_sel >= 1
    with pytest.raises(ValueError, match="not a safe widening"):
        eng.sql("ALTER TABLE w ALTER COLUMN v TYPE int")
    with pytest.raises(ValueError, match="no such column"):
        eng.sql("ALTER TABLE w ALTER COLUMN nope TYPE bigint")


def test_snapshot_tags_time_travel_and_retention(spark, eng):
    """Iceberg tags: named version refs — AS OF '<tag>' resolves,
    expire keeps tagged versions, drop releases them."""
    eng.sql("ALTER TABLE t CREATE TAG baseline")          # v1
    eng.sql("DELETE FROM t WHERE k < 50")                 # v2
    eng.sql("DELETE FROM t WHERE k < 80")                 # v3
    got = eng.sql(
        "SELECT count(*) AS c FROM t FOR VERSION AS OF 'baseline'"
    ).collect()[0]["c"]
    assert got == 100
    t = eng._snapshot_tables["t"]
    assert t.tags() == {"baseline": 1}
    rows = eng.sql("SHOW TAGS t").collect()
    assert [(r["tag"], r["version"]) for r in rows] == [("baseline", 1)]
    # tagged version SURVIVES expiry; untagged v2 goes
    expired = [
        r["expired_version"]
        for r in eng.sql(
            "ALTER TABLE t EXPIRE SNAPSHOTS KEEP LAST 1"
        ).collect()
    ]
    assert 1 not in expired and 2 in expired
    assert eng.sql(
        "SELECT count(*) AS c FROM t FOR VERSION AS OF 'baseline'"
    ).collect()[0]["c"] == 100
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("ALTER TABLE t CREATE TAG baseline")
    eng.sql("ALTER TABLE t DROP TAG baseline")
    with pytest.raises(ValueError, match="unknown tag"):
        eng.sql("SELECT * FROM t FOR VERSION AS OF 'baseline'")
    # a literal containing the clause shape stays data
    n = eng.sql(
        "SELECT count(*) AS c FROM t "
        "WHERE s <> 't FOR VERSION AS OF ''x'''"
    ).collect()[0]["c"]
    assert n == 20


def test_optimize_where_scoped_compaction(spark, eng, tmp_path):
    """OPTIMIZE ... WHERE rewrites only the files the predicate's
    bounds admit (whole files — visible rows unchanged, dataChange
    false), leaving the rest untouched."""
    t = SnapshotTable(spark, str(tmp_path / "o"))
    # 3 waves x 4 clustered files = 12 small files over disjoint ranges
    for w in range(3):
        t.commit_clustered(
            spark.createDataFrame(
                [Row(k=w * 100 + i, v=float(i)) for i in range(40)]
            ),
            cluster_by="k", n_files=4, stats_for=["k"],
            mode="append" if w else "overwrite",
        )
    eng._snapshot_tables["o"] = t
    before = eng.sql("SELECT * FROM o").collect()
    res = eng.sql(
        "OPTIMIZE o INTO 1 FILES WHERE k BETWEEN 0 AND 39"
    ).collect()[0]
    assert res["files_rewritten"] == 4 and res["files_skipped"] == 8
    after = eng.sql("SELECT * FROM o").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # dataChange=false: the scoped compact streams as nothing
    hist = eng.sql("DESCRIBE HISTORY o").collect()
    assert hist[-1]["operation"] == "compact"
    # unprunable WHERE refuses rather than silently compacting all
    with pytest.raises(ValueError, match="prunable"):
        eng.sql("OPTIMIZE o WHERE v + 1 > 2")
    with pytest.raises(ValueError, match="exclusive"):
        eng.sql("OPTIMIZE o ZORDER BY (k) WHERE k < 10")


def test_describe_plain_and_time_based_expiry(spark, eng):
    import json as _json
    import os as _os

    rows = eng.sql("DESCRIBE t").collect()
    assert [(r["col_name"], r["data_type"]) for r in rows] == [
        ("k", "bigint"), ("v", "double"), ("s", "string"),
    ]
    t = eng._snapshot_tables["t"]
    eng.sql("DELETE FROM t WHERE k < 10")   # v2
    eng.sql("DELETE FROM t WHERE k < 20")   # v3
    # pin commit times: v1 old, v2/v3 recent
    for v, ms in ((1, 1000), (2, 5_000_000_000_000), (3, 5_000_000_000_001)):
        p = _os.path.join(t.path, "_snapshots", f"v{v}.json")
        mm = _json.load(open(p))
        mm["committed_at_ms"] = ms
        _json.dump(mm, open(p, "w"))
    expired = [
        r["expired_version"]
        for r in eng.sql(
            "ALTER TABLE t EXPIRE SNAPSHOTS OLDER THAN '2100-01-01'"
        ).collect()
    ]
    # only v1 predates the cutoff; v2 survives by YOUTH despite keep_last=1
    assert expired == [1]
    assert eng.sql(
        "SELECT count(*) AS c FROM t FOR VERSION AS OF 2"
    ).collect()[0]["c"] == 90


def test_merge_not_matched_by_source_delete_syncs(spark, eng):
    """Delta's third clause family: WHEN NOT MATCHED BY SOURCE THEN
    DELETE turns MERGE into a full sync — the target becomes exactly
    the source."""
    eng.sql("""
        MERGE INTO t USING (
            SELECT k, CAST(-1.0 AS DOUBLE) AS v, 'src' AS s
            FROM t WHERE k BETWEEN 40 AND 59
            UNION ALL SELECT 7777, CAST(7.0 AS DOUBLE), 'new'
        ) AS src
        ON t.k = src.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """)
    rows = {r["k"]: (r["v"], r["s"]) for r in eng.sql("SELECT * FROM t").collect()}
    assert set(rows) == set(range(40, 60)) | {7777}
    assert rows[45] == (-1.0, "src") and rows[7777] == (7.0, "new")


def test_merge_not_matched_by_source_conditional_update(spark, eng):
    """BY SOURCE UPDATE with a condition: stale target rows get flagged,
    rows failing the condition survive untouched."""
    eng.sql("""
        MERGE INTO t AS tgt USING (
            SELECT k FROM t WHERE k < 10
        ) src
        ON tgt.k = src.k
        WHEN NOT MATCHED BY SOURCE AND tgt.k < 50
            THEN UPDATE SET s = 'stale', v = tgt.v * CAST(0.0 AS DOUBLE)
    """)
    rows = {r["k"]: (r["v"], r["s"]) for r in eng.sql("SELECT * FROM t").collect()}
    assert len(rows) == 100
    assert rows[5] == (5.0, "g1")          # matched: untouched (no clause)
    assert rows[30] == (0.0, "stale")      # unmatched + cond true
    assert rows[80] == (80.0, "g0")        # unmatched + cond false


def test_merge_by_source_grammar_refusals(spark, eng):
    with pytest.raises(ValueError, match="DELETE or UPDATE SET"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON t.k = s.a "
            "WHEN NOT MATCHED BY SOURCE THEN INSERT *"
        )
    with pytest.raises(ValueError, match="cannot reference the source"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON t.k = s.a "
            "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = s.a"
        )
    with pytest.raises(ValueError, match="NOT MATCHED only"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON t.k = s.a "
            "WHEN MATCHED BY SOURCE THEN DELETE"
        )


def test_truncate_and_replace_keep_partition_layout(spark, eng, tmp_path):
    """ADVICE-style round-7 self-review fix: TRUNCATE and CREATE OR
    REPLACE must not erase the table's partition layout — the classic
    truncate-and-reload keeps day pruning."""
    import datetime

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "h"))
    t.commit(
        spark.createDataFrame(
            [Row(k=i, ts=datetime.datetime(1996, 1, 1 + i % 5))
             for i in range(20)]
        ),
        partition_by=["days(ts)"],
    )
    e._snapshot_tables["h"] = t
    e.sql("TRUNCATE TABLE h")
    e.sql(
        "INSERT INTO h VALUES (100, TIMESTAMP '1996-02-01 00:00:00')"
    )
    m = t._manifest(t.current_version())
    new_dir = m["data_dirs"][-1]
    assert "_p_days_ts" in (m["partition_transforms"].get(new_dir) or {})
    _sel, n_sel, n_skip = t.plan_eq_scan("ts", "1996-02-01 00:00:00")
    assert n_sel >= 1


def test_by_source_literal_safety_and_duplicate_clause(spark, eng):
    # alias-shaped text inside a string literal is data, not a reference
    eng.sql("""
        MERGE INTO t USING (SELECT k FROM t WHERE k < 10) src
        ON t.k = src.k
        WHEN NOT MATCHED BY SOURCE AND t.k < 12
            THEN UPDATE SET s = 'src.row t.k'
    """)
    rows = {r["k"]: r["s"] for r in eng.sql("SELECT * FROM t").collect()}
    assert rows[11] == "src.row t.k" and rows[5] == "g1"
    with pytest.raises(ValueError, match="multiple WHEN NOT MATCHED BY"):
        eng.sql(
            "MERGE INTO t USING (SELECT 1 AS a) s ON t.k = s.a "
            "WHEN NOT MATCHED BY SOURCE AND t.k < 50 THEN UPDATE SET v = t.v "
            "WHEN NOT MATCHED BY SOURCE THEN DELETE"
        )


def test_by_source_merge_reports_real_file_counts(spark, eng):
    res = eng.sql("""
        MERGE INTO t USING (SELECT k FROM t WHERE k < 10) src
        ON t.k = src.k
        WHEN NOT MATCHED BY SOURCE THEN DELETE
    """).collect()[0]
    assert res["files_rewritten"] == 10  # the whole 10-file table
    assert eng.sql("SELECT count(*) AS c FROM t").collect()[0]["c"] == 10


def test_describe_detail_shows_spec_and_stats(spark, eng, tmp_path):
    """Round 8: DESCRIBE DETAIL surfaces the declared/sticky partition
    spec and ANALYZE statistics."""
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dd"))
    t.commit(
        spark.range(50).selectExpr(
            "id AS k", "CAST(id AS DOUBLE) AS v",
            "CASE WHEN id % 2 = 0 THEN 'e' ELSE 'o' END AS g",
        ),
        partition_by=["g"],
    )
    eng._snapshot_tables["dd"] = t
    d = eng.sql("DESCRIBE DETAIL dd").collect()[0]
    assert d["partition_by"] == "g"
    assert d["stats_row_count"] is None  # no ANALYZE yet
    eng.sql("ALTER TABLE dd ADD PARTITION FIELD bucket(4, k)")
    eng.sql("ANALYZE TABLE dd COMPUTE STATISTICS")
    d = eng.sql("DESCRIBE DETAIL dd").collect()[0]
    assert d["partition_by"] == "g, bucket(4, k)"
    assert d["stats_row_count"] == 50 and d["stats_size_bytes"] > 0


def test_vacuum_dry_run_lists_without_deleting(spark, eng, tmp_path):
    """Round 8: VACUUM t DRY RUN (Delta parity) reports what would be
    reclaimed and touches nothing; the real VACUUM then removes it."""
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "vd"))
    t.commit_clustered(
        spark.range(40).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        cluster_by="k", n_files=4, stats_for=["k"],
    )
    t.delete_where(
        "k < 10", prune_column="k", prune_lower=0, prune_upper=9,
        stats_for=["k"],
    )
    t.expire_snapshots(keep_last=1)  # vacuums dirs, but dead FILES may remain
    eng._snapshot_tables["vd"] = t
    would = sorted(r["removed_dir"] for r in eng.sql("VACUUM vd DRY RUN").collect())
    # nothing actually removed: a second dry run sees the same set
    again = sorted(r["removed_dir"] for r in eng.sql("VACUUM vd DRY RUN").collect())
    assert would == again
    # RETAIN window (Delta parity): everything here was written
    # seconds ago, so a 1-hour window keeps it all — the in-flight
    # reader safety margin
    kept = eng.sql("VACUUM vd RETAIN 1 HOURS").collect()
    assert kept == []
    assert sorted(
        r["removed_dir"] for r in eng.sql("VACUUM vd DRY RUN").collect()
    ) == would, "RETAIN must not have removed anything this young"
    # RETAIN 0 HOURS degenerates to a plain vacuum
    did = sorted(
        r["removed_dir"]
        for r in eng.sql("VACUUM vd RETAIN 0 HOURS").collect()
    )
    assert did == would
    assert eng.sql("VACUUM vd").count() == 0  # now clean
    assert t.read().count() == 30


def test_retain_keys_on_dereference_time_not_mtime(spark, tmp_path):
    """Review finding r8 (Delta deletion-timestamp semantics): RETAIN
    must protect files by WHEN THEY BECAME UNREACHABLE, not their write
    mtime — a 3-hour-old file dereferenced seconds ago survives a
    1-hour window; dropping the window reclaims it."""
    import os
    import time as _time

    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "rt"))
    t.commit(
        spark.range(20).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    )                                                              # v1
    # age v1's files 3 hours: mtime alone would say "reclaimable"
    old = _time.time() - 3 * 3600
    for dp, _dn, fs in os.walk(os.path.join(t.path, "data")):
        for f in fs:
            os.utime(os.path.join(dp, f), (old, old))
    t.commit(
        spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"),
        mode="overwrite",
    )                                                              # v2
    hour = 3_600_000
    # expiry dereferences v1 NOW; its vacuum honors the window
    t.expire_snapshots(keep_last=1, retain_ms=hour)
    v1_dirs = [
        d
        for d in os.listdir(os.path.join(t.path, "data"))
        if d.startswith("c1-")
    ]
    assert v1_dirs, "RETAIN must keep the just-dereferenced old files"
    # a second windowed vacuum still keeps them
    assert t.vacuum(retain_ms=hour) == []
    # no window -> the expired copy is past protection: reclaimed
    removed = t.vacuum()
    assert any(r.startswith("data/c1-") for r in removed)
    assert t.read().count() == 5


def test_expire_retain_sql_grammar(spark, eng, tmp_path):
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "er"))
    t.commit(spark.range(10).selectExpr("id AS k"))
    t.commit(spark.range(3).selectExpr("id AS k"), mode="overwrite")
    eng._snapshot_tables["er"] = t
    expired = eng.sql(
        "ALTER TABLE er EXPIRE SNAPSHOTS KEEP LAST 1 RETAIN 1 HOURS"
    ).collect()
    assert [r["expired_version"] for r in expired] == [1]
    import os

    assert any(
        d.startswith("c1-")
        for d in os.listdir(os.path.join(t.path, "data"))
    ), "the window kept v1's just-dereferenced dir"
    eng.sql("VACUUM er")  # window dropped: reclaim
    assert not any(
        d.startswith("c1-")
        for d in os.listdir(os.path.join(t.path, "data"))
    )


def test_insert_replace_where(spark, eng):
    """Delta's replaceWhere: ONE atomic commit swaps exactly the
    predicate's slice; pruning scopes the rewrite, enforcement refuses
    out-of-slice rows, readers never see the DELETE+INSERT gap."""
    t = eng._snapshot_tables["t"]
    v0 = t.current_version()
    res = eng.sql(
        "INSERT INTO t REPLACE WHERE k BETWEEN 20 AND 29 "
        "SELECT id AS k, CAST(0.5 AS DOUBLE) AS v, 'fresh' AS s "
        "FROM range(20, 25)"
    ).collect()[0]
    assert res["version"] == v0 + 1          # one commit, not two
    assert res["files_skipped"] > 0          # pruned to admitting files
    rows = {r["k"]: r["s"] for r in eng.sql("SELECT k, s FROM t").collect()}
    assert all(rows[k] == "fresh" for k in range(20, 25))
    assert all(k not in rows for k in range(25, 30))  # slice replaced
    assert len(rows) == 95                   # 100 - 10 + 5
    # incoming rows outside the predicate refuse (Delta's default)
    import pytest as _pytest

    with _pytest.raises(Exception, match="OUTSIDE the"):
        eng.sql(
            "INSERT INTO t REPLACE WHERE k BETWEEN 0 AND 4 "
            "SELECT id AS k, CAST(1.0 AS DOUBLE) AS v, 'x' AS s "
            "FROM range(90, 92)"
        )
    # time travel still shows the pre-replace slice
    old = eng.sql(
        "SELECT count(*) AS n FROM t FOR VERSION AS OF 1 "
        "WHERE k BETWEEN 20 AND 29"
    ).collect()[0]["n"]
    assert old == 10


def test_replace_where_condition_with_subquery_and_literal(spark, eng):
    """Review finding: the condition/source split is depth-0 masked —
    a subquery (or a 'SELECT' inside a string literal) in the condition
    is not the boundary."""
    res = eng.sql(
        "INSERT INTO t REPLACE WHERE k IN (SELECT id FROM range(10, 13)) "
        "SELECT id AS k, CAST(0.0 AS DOUBLE) AS v, 'swap' AS s "
        "FROM range(10, 12)"
    ).collect()[0]
    assert res["version"] == 2
    rows = {r["k"]: r["s"] for r in eng.sql("SELECT k, s FROM t").collect()}
    assert rows[10] == "swap" and rows[11] == "swap"
    assert 12 not in rows and len(rows) == 99


def test_delta_spelling_time_travel_without_for(spark, tmp_path):
    """Round 9: Delta's FOR-less spelling — ``t VERSION AS OF n`` /
    ``t TIMESTAMP AS OF 'ts'`` — resolves beside Trino's FOR form, and
    RESTORE's own ``TO VERSION AS OF`` keeps routing to its arm."""
    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(i,) for i in range(5)], "k long"))
    t.commit(spark.createDataFrame([(9,)], "k long"), mode="append")
    e._snapshot_tables["tt9"] = t
    assert e.sql(
        "SELECT count(*) AS n FROM tt9 VERSION AS OF 1"
    ).collect()[0]["n"] == 5
    assert e.sql(
        "SELECT count(*) AS n FROM tt9 FOR VERSION AS OF 1"
    ).collect()[0]["n"] == 5
    assert e.sql("SELECT count(*) AS n FROM tt9").collect()[0]["n"] == 6
    # both spellings inside one statement
    both = e.sql(
        "SELECT (SELECT count(*) FROM tt9 VERSION AS OF 1) AS a, "
        "(SELECT count(*) FROM tt9 FOR VERSION AS OF 2) AS b"
    ).collect()[0]
    assert (both["a"], both["b"]) == (5, 6)
    # RESTORE's TO VERSION AS OF still dispatches to the restore arm
    e.sql("RESTORE TABLE tt9 TO VERSION AS OF 1")
    assert t.read().count() == 5
    # and the spelling inside a literal stays data
    got = e.sql(
        "SELECT 'tt9 VERSION AS OF 1' AS s FROM tt9 LIMIT 1"
    ).collect()[0]["s"]
    assert got == "tt9 VERSION AS OF 1"


def test_show_stats_for_snapshot_table(spark, tmp_path):
    """Trino's SHOW STATS FOR: per-column min/max/null-fraction summary
    from the manifest's footer stats (no data scan) in Trino's EXACT
    column shape — (column_name, data_size, distinct_values_count,
    nulls_fraction, row_count, low_value, high_value), row_count NULL
    on per-column rows and set only on the all-NULL summary row,
    unharvested stats NULL — plus DML-aware visibility (a CoW DELETE's
    rewrite updates the numbers)."""
    from oss_data_lake_spark.engine import Engine
    from pyspark.sql import Row

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [Row(k=i, s=("x" if i % 3 else None)) for i in range(12)]
        ),
        stats_for=["k", "s"],
    )
    e._snapshot_tables["t"] = t
    df = e.sql("SHOW STATS FOR t")
    assert df.columns == [
        "column_name", "data_size", "distinct_values_count",
        "nulls_fraction", "row_count", "low_value", "high_value",
    ]
    rows = {r["column_name"]: r for r in df.collect()}
    assert rows["k"]["row_count"] is None       # per-column rows: NULL
    assert rows["k"]["low_value"] == "0" and rows["k"]["high_value"] == "11"
    assert rows["k"]["nulls_fraction"] == 0.0
    assert rows["k"]["data_size"] is None       # unharvested: unknown
    assert rows["k"]["distinct_values_count"] is None
    assert abs(rows["s"]["nulls_fraction"] - 4 / 12) < 1e-12
    summary = rows[None]                        # the table summary row
    assert summary["row_count"] == 12.0
    assert all(
        summary[c] is None
        for c in ("data_size", "distinct_values_count", "nulls_fraction",
                  "low_value", "high_value")
    )
    # stats follow DML: delete the upper half, numbers shrink
    e.sql("DELETE FROM t WHERE k >= 6")
    rows = {r["column_name"]: r for r in e.sql("SHOW STATS FOR t").collect()}
    assert rows["k"]["high_value"] == "5"
    assert rows[None]["row_count"] == 6.0


def test_explain_analyze_executes_and_shows_final_plan(spark, tmp_path):
    """Trino's EXPLAIN ANALYZE: runs the statement and returns the AQE
    FINAL plan with measured statistics, plus the row count it drained.
    Composes with the snapshot statement surface (views, time travel)."""
    from oss_data_lake_spark.engine import Engine

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE ea (k INT, v DOUBLE) USING snapshot")
    e.sql("INSERT INTO ea VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    row = e.sql(
        "EXPLAIN ANALYZE SELECT k, SUM(v) AS s FROM ea GROUP BY k"
    ).collect()[0]
    assert row["rows"] == 3
    assert "Final Plan" in row["plan"] or "isFinalPlan=true" in row["plan"]
    assert "Statistics(" in row["plan"]  # runtime-measured stage stats
    # DML under EXPLAIN ANALYZE executes it (Trino semantics)
    row = e.sql("EXPLAIN ANALYZE DELETE FROM ea WHERE k = 3").collect()[0]
    assert e.sql("SELECT COUNT(*) AS n FROM ea").collect()[0]["n"] == 2
    # and through a persistent view
    e.sql("CREATE VIEW ea_v AS SELECT k FROM ea WHERE k > 1")
    row = e.sql("EXPLAIN ANALYZE SELECT * FROM ea_v").collect()[0]
    assert row["rows"] == 1


def test_parse_exec_args_comma_inside_quoted_value():
    """Round-14 ADVICE: the EXECUTE argument list splits at unmasked
    depth-0 commas only — a quoted value containing a comma is ONE
    argument, not a mis-split 'must be name => value pairs' error."""
    from oss_data_lake_spark.sources.dml_sql import _parse_exec_args

    got = _parse_exec_args("a => 'x,y', b => '1', c => 'it''s,ok'", "T")
    assert got == {"a": "x,y", "b": "1", "c": "it's,ok"}


def test_alter_table_execute_trino_procedures(spark, tmp_path):
    """Trino-Iceberg's maintenance spelling (round 13): `ALTER TABLE t
    EXECUTE optimize/expire_snapshots/remove_orphan_files(name =>
    'value')` — the way the reference stack's users run maintenance
    from Trino. optimize's file_size_threshold is a layout hint (data
    identical either way); expire_snapshots takes a Trino duration;
    remove_orphan_files maps to vacuum. Unknown procedures/arguments
    refuse loudly."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE mx (k BIGINT, v DOUBLE) USING snapshot")
    for i in range(3):
        e.sql(f"INSERT INTO mx VALUES ({i}, {i}.5)")
    v = e.sql(
        "ALTER TABLE mx EXECUTE optimize(file_size_threshold => '128MB')"
    ).collect()[0]["version"]
    assert v == 5  # create(1) + 3 inserts + compact
    hist = e.sql("DESCRIBE HISTORY mx").collect()
    assert hist[-1]["operation"] == "compact"
    assert e.sql("SELECT count(*) AS n FROM mx").collect()[0]["n"] == 3
    import pytest as _pytest

    # round-14 ADVICE: thresholds below the 7d Trino min-retention
    # floor refuse unless the session property lowers the floor
    with _pytest.raises(Exception, match="minimum retention"):
        e.sql("ALTER TABLE mx EXECUTE expire_snapshots("
              "retention_threshold => '0s')")
    with _pytest.raises(Exception, match="minimum retention"):
        e.sql("ALTER TABLE mx EXECUTE remove_orphan_files("
              "retention_threshold => '1h')")
    e.sql("SET SESSION expire_snapshots_min_retention = '0s'")
    e.sql("SET SESSION iceberg.remove_orphan_files_min_retention = '0s'")
    expired = {
        r["expired_version"]
        for r in e.sql(
            "ALTER TABLE mx EXECUTE expire_snapshots("
            "retention_threshold => '0s')"
        ).collect()
    }
    assert expired and max(expired) < 5  # the live head always survives
    removed = e.sql(
        "ALTER TABLE mx EXECUTE remove_orphan_files("
        "retention_threshold => '0s')"
    ).collect()
    assert isinstance(removed, list)
    # a 7d threshold clears the default floor without any override
    assert e.sql(
        "ALTER TABLE mx EXECUTE remove_orphan_files("
        "retention_threshold => '7d')"
    ).collect() == []
    assert e.sql("SELECT count(*) AS n FROM mx").collect()[0]["n"] == 3
    import pytest as _pytest

    with _pytest.raises(Exception, match="not supported"):
        e.sql("ALTER TABLE mx EXECUTE drop_extended_stats")
    with _pytest.raises(Exception, match="retention_threshold"):
        e.sql("ALTER TABLE mx EXECUTE expire_snapshots(keep => '2')")
    with _pytest.raises(Exception, match="s/m/h/d"):
        e.sql("ALTER TABLE mx EXECUTE expire_snapshots("
              "retention_threshold => 'weekly')")
    e.drop_snapshot_table("mx", delete_data=True)


def test_trino_ctas_with_partitioning(spark, tmp_path):
    """Trino CTAS (round 13): `CREATE TABLE name WITH (partitioning =
    ARRAY['day(ts)']) AS SELECT ...` — how dashboard rollups are saved
    as Iceberg tables. Fires only on Trino markers (WITH props or a
    dotted name); single-part plain CTAS keeps Spark semantics; the
    layout lands as real hidden partitioning; OR REPLACE with an
    explicit spec overrides the carried-over layout; unsupported
    properties and non-parquet formats refuse."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE iceberg.m.rollup WITH (partitioning = "
        "ARRAY['day(ts)'], format = 'PARQUET') AS "
        "SELECT x AS k, TIMESTAMP '2020-01-02 03:00:00' AS ts "
        "FROM VALUES (1), (2) t(x)"
    )
    t = e._snapshot_tables["iceberg.m.rollup"]
    assert t.current_partition_by() == ["days(ts)"]
    got = e.sql(
        "SELECT k FROM iceberg.m.rollup ORDER BY k"
    ).collect()
    assert [r.k for r in got] == [1, 2]
    # a 3-part name alone is a Trino marker (Spark cannot host it)
    e.sql("CREATE TABLE iceberg.m.plain AS SELECT 7 AS k")
    assert "iceberg.m.plain" in e._snapshot_tables
    # 2-part plain CTAS (round-14 ADVICE): reroutes ONLY when the
    # prefix is a registered engine schema (either spelling of a
    # CREATE SCHEMA cat.schema here); an unclaimed database prefix
    # keeps Spark's database-qualified CTAS semantics
    e.sql("CREATE SCHEMA cats.lakeq")
    e.sql("CREATE TABLE lakeq.t2 AS SELECT 8 AS k")
    assert "lakeq.t2" in e._snapshot_tables
    import pytest as _pytest

    with _pytest.raises(Exception):  # Spark path: no such database
        e.sql("CREATE TABLE nosuchdb77.t AS SELECT 1 AS k")
    assert "nosuchdb77.t" not in e._snapshot_tables
    # explicit layout on the snapshot CTAS grammar + replace override
    e.sql("CREATE TABLE mgd2 USING snapshot PARTITIONED BY (k) "
          "AS SELECT 1 AS k, 'a' AS v")
    assert e._snapshot_tables["mgd2"].current_partition_by() == ["k"]
    e.sql("CREATE OR REPLACE TABLE mgd2 USING snapshot "
          "PARTITIONED BY (v) AS SELECT 2 AS k, 'b' AS v")
    assert e._snapshot_tables["mgd2"].current_partition_by() == ["v"]
    import pytest as _pytest

    with _pytest.raises(Exception, match="unsupported property"):
        e.sql("CREATE TABLE iceberg.m.x WITH (location = '/x') "
              "AS SELECT 1 AS k")
    with _pytest.raises(Exception, match="PARQUET"):
        e.sql("CREATE TABLE iceberg.m.y WITH (format = 'ORC') "
              "AS SELECT 1 AS k")
    for n in ("iceberg.m.rollup", "iceberg.m.plain", "lakeq.t2", "mgd2"):
        e.drop_snapshot_table(n, delete_data=True)


def test_comment_on_table_and_column(spark, tmp_path):
    """Trino's COMMENT statement (round 14): table and column comments
    land as metadata-only property commits, surface through SHOW
    COLUMNS / SHOW TBLPROPERTIES, clear with IS NULL, and refuse
    precisely for unknown columns and views."""
    import pytest as _pytest

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE cmt (k BIGINT, v DOUBLE) USING snapshot")
    e.sql("INSERT INTO cmt VALUES (1, 1.5)")
    e.sql("COMMENT ON TABLE cmt IS 'it''s the fact table'")
    e.sql("COMMENT ON COLUMN cmt.k IS 'surrogate key'")
    props = {
        r.key: r.value
        for r in e.sql("SHOW TBLPROPERTIES cmt").collect()
    }
    assert props["comment"] == "it's the fact table"
    assert props["comment.column.k"] == "surrogate key"
    cols = {r.Column: r.Comment
            for r in e.sql("SHOW COLUMNS FROM cmt").collect()}
    assert cols == {"k": "surrogate key", "v": ""}
    # IS NULL clears; history shows metadata-only commits
    e.sql("COMMENT ON COLUMN cmt.k IS NULL")
    cols = {r.Column: r.Comment
            for r in e.sql("SHOW COLUMNS FROM cmt").collect()}
    assert cols["k"] == ""
    assert e.sql("SELECT count(*) AS n FROM cmt").collect()[0].n == 1
    with _pytest.raises(Exception, match="no column"):
        e.sql("COMMENT ON COLUMN cmt.nope IS 'x'")
    with _pytest.raises(Exception, match="VIEW"):
        e.sql("COMMENT ON VIEW cmt IS 'x'")
    with _pytest.raises(Exception, match="table.column"):
        e.sql("COMMENT ON COLUMN cmt IS 'x'")
    e.drop_snapshot_table("cmt", delete_data=True)


def test_failed_create_table_leaves_no_registered_name(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    # days() on a STRING column fails the transform-typing validation
    # inside the v1 commit — AFTER the name was registered
    with pytest.raises(Exception):
        e.sql(
            "CREATE TABLE tdays (a INT, ts STRING) USING snapshot "
            "PARTITIONED BY (days(ts))"
        )
    # the corrected retry must succeed (no 'already exists' ghost) ...
    e.sql(
        "CREATE TABLE tdays (a INT, ts TIMESTAMP) USING snapshot "
        "PARTITIONED BY (days(ts))"
    )
    assert e.sql("SELECT count(*) AS n FROM tdays").collect()[0]["n"] == 0
    # ... and IF NOT EXISTS after a failure must CREATE, not no-op
    with pytest.raises(Exception):
        e.sql(
            "CREATE TABLE tbad (a INT, s STRING) USING snapshot "
            "PARTITIONED BY (hours(s))"
        )
    e.sql("CREATE TABLE IF NOT EXISTS tbad (a INT, s STRING) USING snapshot")
    e.sql("INSERT INTO tbad VALUES (1, 'x')")
    assert e.sql("SELECT count(*) AS n FROM tbad").collect()[0]["n"] == 1


def test_failed_ctas_leaves_no_registered_name(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    with pytest.raises(Exception):
        e.sql("CREATE TABLE ghost USING snapshot AS SELECT no_such_fn(1)")
    # retry with a valid body succeeds
    e.sql("CREATE TABLE ghost USING snapshot AS SELECT 1 AS a")
    assert e.sql("SELECT a FROM ghost").collect()[0]["a"] == 1


def test_create_in_fresh_process_never_deletes_existing_table(
    spark, tmp_path
):
    """A fresh process (empty registry) running
    CREATE TABLE over a warehouse where the table already exists on
    disk used to reach the failure rollback's rmtree — a failed DDL
    silently destroying the table. Now the on-disk table is ADOPTED
    first: plain CREATE refuses with 'already exists', IF NOT EXISTS
    no-ops, and the data survives both."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark=spark, warehouse_dir=wh)
    e1.sql("CREATE TABLE facts (k INT, v DOUBLE) USING snapshot")
    e1.sql("INSERT INTO facts VALUES (1, 1.5), (2, 2.5)")
    data_dir = e1._snapshot_tables["facts"].path

    # a FRESH process: empty registry, same warehouse
    e2 = Engine(spark=spark, warehouse_dir=wh)
    assert "facts" not in e2._snapshot_tables
    # a CREATE that would previously fail mid-commit (bad partition
    # transform) now refuses up front — and deletes nothing
    with pytest.raises(ValueError, match="already exists"):
        e2.sql(
            "CREATE TABLE facts (k INT, v DOUBLE) USING snapshot "
            "PARTITIONED BY (days(k))"
        )
    assert os.path.isdir(data_dir)
    t = SnapshotTable(spark, data_dir)
    assert {r["k"] for r in t.read().collect()} == {1, 2}

    # plain CREATE with a VALID body also refuses (no silent append)
    e3 = Engine(spark=spark, warehouse_dir=wh)
    with pytest.raises(ValueError, match="already exists"):
        e3.sql("CREATE TABLE facts (k INT, v DOUBLE) USING snapshot")
    assert {r["k"] for r in t.read().collect()} == {1, 2}

    # IF NOT EXISTS no-ops and adopts the table into the registry
    e4 = Engine(spark=spark, warehouse_dir=wh)
    e4.sql("CREATE TABLE IF NOT EXISTS facts (k INT, v DOUBLE) USING snapshot")
    assert {r["k"] for r in e4.sql("SELECT k FROM facts").collect()} == {
        Row(k=1), Row(k=2),
    } or {r["k"] for r in e4.sql("SELECT k FROM facts").collect()} == {1, 2}


def test_ctas_in_fresh_process_never_deletes_existing_table(spark, tmp_path):
    """Same hazard on the CTAS arm:
    a fresh process's CREATE ... AS over an existing on-disk table
    refuses (or replaces, under OR REPLACE) — never rmtrees on failure."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark=spark, warehouse_dir=wh)
    e1.sql("CREATE TABLE dim (k INT, s STRING) USING snapshot")
    e1.sql("INSERT INTO dim VALUES (1, 'a')")
    path = e1._snapshot_tables["dim"].path

    e2 = Engine(spark=spark, warehouse_dir=wh)
    with pytest.raises(ValueError, match="already exists"):
        e2.sql("CREATE TABLE dim USING snapshot AS SELECT 1 AS k, 'b' AS s")
    assert os.path.isdir(path)
    assert SnapshotTable(spark, path).read().count() == 1

    # OR REPLACE in the fresh process takes the REGISTERED-replace path:
    # an overwrite commit that keeps the version history time-travelable
    e3 = Engine(spark=spark, warehouse_dir=wh)
    e3.sql(
        "CREATE OR REPLACE TABLE dim USING snapshot "
        "AS SELECT 9 AS k, 'z' AS s"
    )
    t = SnapshotTable(spark, path)
    assert [r["s"] for r in t.read().collect()] == ["z"]
    assert [r["s"] for r in t.read(2).collect()] == ["a"]


def test_create_refuses_tailless_nonempty_managed_path(spark, tmp_path):
    """A managed path that HOLDS DATA
    but no readable local snapshot tail (a REST-attached table keeps
    its metadata tail in the catalog service) must refuse CREATE — the
    old probe read current_version()=None, treated the path as absent,
    and a failed CREATE's rollback rmtree'd the table's data files."""
    wh = str(tmp_path / "wh")
    e = Engine(spark=spark, warehouse_dir=wh)
    p = e.snapshot_table_path("restish")
    os.makedirs(p)
    spark.createDataFrame([Row(k=1, v=1.0)]).write.parquet(
        os.path.join(p, "data-000.parquet")
    )
    # valid body, bad body: both refuse up front, neither deletes
    for ddl in (
        "CREATE TABLE restish (k INT, v DOUBLE) USING snapshot",
        "CREATE TABLE restish (k INT, v DOUBLE) USING snapshot "
        "PARTITIONED BY (days(k))",
        "CREATE TABLE restish USING snapshot AS SELECT 1 AS k",
    ):
        with pytest.raises(ValueError, match="no readable local snapshot"):
            Engine(spark=spark, warehouse_dir=wh).sql(ddl)
    assert os.path.isdir(p)
    assert spark.read.parquet(os.path.join(p, "data-000.parquet")).count() == 1


def test_failed_create_on_fresh_name_still_cleans_up(spark, tmp_path):
    """The legitimate rollback still works: a failing CREATE on a name
    with nothing on disk unregisters, deletes its partial dir, and a
    corrected retry succeeds, also over the adoption path."""
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    with pytest.raises(Exception):
        eng.sql(
            "CREATE TABLE fresh (k INT, v DOUBLE) USING snapshot "
            "PARTITIONED BY (days(k))"  # days() needs a timestamp
        )
    assert "fresh" not in eng._snapshot_tables
    assert not os.path.isdir(eng.snapshot_table_path("fresh"))
    eng.sql("CREATE TABLE fresh (k INT, v DOUBLE) USING snapshot")
    eng.sql("INSERT INTO fresh VALUES (1, 1.0)")
    assert eng.sql("SELECT * FROM fresh").count() == 1


def test_drop_table_works_across_processes(spark, tmp_path):
    """A fresh process can DROP a managed on-disk table it never
    registered — the same adoption rule that protects CREATE."""
    wh = str(tmp_path / "wh")
    e1 = Engine(spark=spark, warehouse_dir=wh)
    e1.sql("CREATE TABLE dropme (k INT) USING snapshot")
    e1.sql("INSERT INTO dropme VALUES (1)")
    path = e1._snapshot_tables["dropme"].path

    e2 = Engine(spark=spark, warehouse_dir=wh)
    assert "dropme" not in e2._snapshot_tables
    out = e2.sql("DROP TABLE dropme").collect()
    assert out[0]["dropped"] == "dropme"
    assert not os.path.isdir(path)
    # and CREATE of the same name now succeeds in ANY process
    e3 = Engine(spark=spark, warehouse_dir=wh)
    e3.sql("CREATE TABLE dropme (k INT) USING snapshot")
    assert e3.sql("SELECT * FROM dropme").count() == 0


def test_merge_evolution_rolls_back_on_runtime_failure(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 10.0)], "k bigint, v double"))
    t.add_constraint("v_small", "v < 100")
    e._snapshot_tables["t"] = t
    src = SnapshotTable(spark, str(tmp_path / "src"))
    src.commit(
        spark.createDataFrame(
            [(1, 500.0, "boom")], "k bigint, v double, extra string"
        )
    )
    e._snapshot_tables["src"] = src
    cols0 = [f.name for f in t.schema().fields]
    with pytest.raises(Exception, match="v_small|constraint|CHECK"):
        e.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING src ON t.k = src.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # the evolution (add 'extra') was rolled back with the failed merge:
    # the statement is atomic at the head
    assert [f.name for f in t.schema().fields] == cols0
    assert "extra" not in cols0
    # data untouched
    assert e.sql("SELECT v FROM t").collect()[0]["v"] == 10.0
    # and the table still accepts a VALID evolved merge afterwards
    src2 = SnapshotTable(spark, str(tmp_path / "src2"))
    src2.commit(
        spark.createDataFrame(
            [(2, 20.0, "ok")], "k bigint, v double, extra string"
        )
    )
    e._snapshot_tables["src2"] = src2
    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING src2 ON t.k = src2.k "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    assert [f.name for f in t.schema().fields] == ["k", "v", "extra"]
