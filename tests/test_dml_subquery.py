"""DML with subquery conditions — Trino (the reference's query engine,
reference docker-compose.yaml:153) accepts ``DELETE ... WHERE k IN
(SELECT ...)`` / ``EXISTS (...)`` / scalar-subquery comparisons, which a
Spark Column expression cannot hold. These route the candidate set
through a temp view and run the filter as a full SQL statement, so
Catalyst plans the subquery as a real (broadcast-able) semi/anti join —
distributed, never a driver-side collect."""

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
        spark.createDataFrame(
            [Row(k=i, v=float(i), g=f"g{i % 3}") for i in range(30)]
        ),
        stats_for=["k"],
    )
    ref = SnapshotTable(spark, str(tmp_path / "ref"))
    ref.commit(spark.createDataFrame([Row(k=i) for i in range(0, 30, 5)]))
    e._snapshot_tables["t"] = t
    e._snapshot_tables["ref"] = ref
    return e, t, ref


def test_delete_in_subquery_over_other_table(spark, eng):
    e, t, _ref = eng
    res = e.sql("DELETE FROM t WHERE k IN (SELECT k FROM ref)").collect()[0]
    assert res["version"] == 2
    left = [r["k"] for r in e.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == [i for i in range(30) if i % 5 != 0]


def test_delete_not_in_and_exists_null_semantics(spark, eng):
    e, t, _ref = eng
    # NOT IN over a subquery with no NULLs: keeps the multiples of 5
    e.sql("DELETE FROM t WHERE k NOT IN (SELECT k FROM ref)")
    left = [r["k"] for r in e.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == list(range(0, 30, 5))
    # EXISTS with a correlation
    e.sql(
        "DELETE FROM t WHERE EXISTS "
        "(SELECT 1 FROM ref WHERE ref.k = t.k AND ref.k >= 15)"
    )
    left = [r["k"] for r in e.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == [0, 5, 10]


def test_delete_scalar_subquery_self_reference(spark, eng):
    e, t, _ref = eng
    # the subquery reads the PRE-statement snapshot of the target itself
    e.sql("DELETE FROM t WHERE v < (SELECT avg(v) FROM t)")
    left = [r["k"] for r in e.sql("SELECT k FROM t ORDER BY k").collect()]
    assert left == list(range(15, 30))  # avg(0..29) = 14.5


def test_update_with_subquery_condition(spark, eng):
    e, t, _ref = eng
    e.sql(
        "UPDATE t SET v = v + 1000, g = 'hit' "
        "WHERE k IN (SELECT k FROM ref WHERE k < 20)"
    )
    rows = {
        r["k"]: (r["v"], r["g"])
        for r in e.sql("SELECT k, v, g FROM t").collect()
    }
    for k in range(30):
        if k % 5 == 0 and k < 20:
            assert rows[k] == (1000.0 + k, "hit")
        else:
            assert rows[k][1] != "hit"
            assert rows[k][0] == float(k)


def test_update_assignments_evaluate_in_the_statement_scope(spark, eng):
    """With a subquery condition, SET expressions resolve where the
    condition does: a scalar subquery over a registered table, and the
    target alias for the candidate row."""
    e, t, _ref = eng
    e.sql(
        "UPDATE t SET v = (SELECT max(k) FROM ref) + t.v "
        "WHERE k IN (SELECT k FROM ref WHERE k < 10)"
    )
    rows = {r["k"]: r["v"] for r in e.sql("SELECT k, v FROM t").collect()}
    assert rows[0] == 25.0 and rows[5] == 30.0   # max(ref.k) = 25
    assert rows[10] == 10.0 and rows[1] == 1.0


def test_subquery_dml_time_travels_and_restores(spark, eng):
    e, t, _ref = eng
    e.sql(
        "DELETE FROM t WHERE k IN "
        "(SELECT k FROM ref FOR VERSION AS OF 1)"
    )
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 24
    # versioned history intact
    assert (
        e.sql("SELECT count(*) AS n FROM t FOR VERSION AS OF 1")
        .collect()[0]["n"]
        == 30
    )


def test_literal_containing_select_is_not_a_subquery(spark, eng):
    e, t, _ref = eng
    e.sql("UPDATE t SET g = '(select x)' WHERE k = 0")
    assert (
        e.sql("SELECT g FROM t WHERE k = 0").collect()[0]["g"]
        == "(select x)"
    )
    # and deleting by that literal value round-trips the plain path
    e.sql("DELETE FROM t WHERE g = '(select x)'")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 29


def test_merge_with_schema_evolution(spark, eng):
    e, t, _ref = eng
    src = SnapshotTable(spark, t.path + "_src")
    src.commit(
        spark.createDataFrame(
            [(0, 100.0, "x", 9), (99, 9.9, "y", 8)],
            "k bigint, v double, g string, extra int",
        )
    )
    e._snapshot_tables["src"] = src
    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING src "
        "ON t.k = src.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    cols = [f.name for f in t.schema().fields]
    assert cols == ["k", "v", "g", "extra"]
    rows = {
        r["k"]: (r["v"], r["extra"])
        for r in e.sql("SELECT k, v, extra FROM t").collect()
    }
    assert rows[0] == (100.0, 9)       # matched: updated + evolved col
    assert rows[99] == (9.9, 8)        # inserted with the new column
    assert rows[1] == (1.0, None)      # untouched rows read NULL
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 31
    # plain MERGE (no evolution clause) still refuses unknown columns
    src2 = SnapshotTable(spark, t.path + "_src2")
    src2.commit(
        spark.createDataFrame(
            [(1, 1.0, "z", 1, 2)],
            "k bigint, v double, g string, extra int, extra2 int",
        )
    )
    e._snapshot_tables["src2"] = src2
    with pytest.raises(Exception):
        e.sql(
            "MERGE INTO t USING src2 ON t.k = src2.k "
            "WHEN NOT MATCHED THEN INSERT *"
        )


def test_merge_schema_evolution_widens_types(spark, eng):
    e, t, _ref = eng
    src = SnapshotTable(spark, t.path + "_wide")
    # v is double already; add an int column then merge a bigint source
    e.sql("ALTER TABLE t ADD COLUMNS (n INT)")
    src.commit(
        spark.createDataFrame([(0, 5_000_000_000)], "k bigint, n bigint")
    )
    e._snapshot_tables["wsrc"] = src
    e.sql(
        "MERGE WITH SCHEMA EVOLUTION INTO t USING wsrc "
        "ON t.k = wsrc.k "
        "WHEN MATCHED THEN UPDATE SET n = wsrc.n"
    )
    f = {x.name: x.dataType.simpleString() for x in t.schema().fields}
    assert f["n"] == "bigint"
    assert (
        e.sql("SELECT n FROM t WHERE k = 0").collect()[0]["n"]
        == 5_000_000_000
    )


def test_failed_merge_evolution_leaves_schema_untouched(spark, eng):
    """Review finding: a MERGE WITH SCHEMA EVOLUTION that fails to
    PARSE must not leave committed schema changes behind."""
    e, t, _ref = eng
    src = SnapshotTable(spark, t.path + "_bad")
    src.commit(
        spark.createDataFrame([(1, 5)], "k bigint, brand_new int")
    )
    e._snapshot_tables["badsrc"] = src
    v0 = t.current_version()
    cols0 = [f.name for f in t.schema().fields]
    with pytest.raises(ValueError):
        e.sql(
            "MERGE WITH SCHEMA EVOLUTION INTO t USING badsrc "
            "ON t.k = badsrc.k "  # no WHEN clause: parse error
        )
    assert t.current_version() == v0
    assert [f.name for f in t.schema().fields] == cols0
    assert "brand_new" not in cols0


@pytest.fixture()
def pruned_tbl(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(ds=f"2024-01-{d:02d}", k=d * 100 + j, v=float(j))
         for d in range(1, 5) for j in range(10)]
    ).repartition("ds")
    t.commit(df, partition_by=["ds"], stats_for=["ds", "k"])
    ref = SnapshotTable(spark, str(tmp_path / "ref"))
    ref.commit(spark.createDataFrame([Row(k=k) for k in (101, 103, 301)]))
    e._snapshot_tables["t"] = t
    e._snapshot_tables["ref"] = ref
    return e, t


def test_delete_subquery_prunes_on_plain_conjunct(spark, pruned_tbl):
    """DELETE WHERE ds = X AND k IN (SELECT …) must rewrite only the
    ds = X files, not the whole table."""
    e, t = pruned_tbl
    res = e.sql(
        "DELETE FROM t WHERE ds = '2024-01-01' "
        "AND k IN (SELECT k FROM ref)"
    ).collect()[0]
    assert res["files_skipped"] >= 3   # the other three ds partitions
    assert res["files_rewritten"] <= 1
    left = sorted(
        r["k"] for r in e.sql("SELECT k FROM t WHERE ds = '2024-01-01'")
        .collect()
    )
    assert left == [100, 102] + list(range(104, 110))
    # rows outside the pruned partition are untouched (301 is ds=03)
    assert e.sql(
        "SELECT count(*) AS n FROM t WHERE k = 301"
    ).collect()[0]["n"] == 1


def test_update_subquery_prunes_on_plain_conjunct(spark, pruned_tbl):
    e, t = pruned_tbl
    res = e.sql(
        "UPDATE t SET v = v + 1000 WHERE ds = '2024-01-03' "
        "AND k IN (SELECT k FROM ref)"
    ).collect()[0]
    assert res["files_skipped"] >= 3
    rows = {
        r["k"]: r["v"]
        for r in e.sql("SELECT k, v FROM t WHERE k IN (301, 101)").collect()
    }
    assert rows[301] == 1001.0  # fired: right partition + in subquery
    assert rows[101] == 1.0     # pruned partition: untouched


def test_subquery_only_condition_still_full_rewrite(spark, pruned_tbl):
    """No plain conjunct -> nothing prunable -> correct whole-table
    behavior (the fix must not over-prune)."""
    e, t = pruned_tbl
    e.sql("DELETE FROM t WHERE k IN (SELECT k FROM ref)")
    assert e.sql(
        "SELECT count(*) AS n FROM t WHERE k IN (101, 103, 301)"
    ).collect()[0]["n"] == 0
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 37
