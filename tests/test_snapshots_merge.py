"""Snapshot layer (time travel / rollback / crash safety) and MERGE upsert
(correctness, idempotence, partition-scoped rewrite, the merge-on-read
fast path's key-name gate, target-qualified NOT MATCHED BY SOURCE
conditions)."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from oss_data_lake_spark.operators.upsert import merge_upsert
from oss_data_lake_spark.sources.snapshots import SnapshotTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v string")


def test_snapshot_write_overwrite_timetravel_rollback(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v1 = t.commit(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.commit(_df(spark, [(3, "c")]))  # overwrite
    v3 = t.commit(_df(spark, [(4, "d")]), mode="append")
    assert (v1, v2, v3) == (1, 2, 3)
    assert t.current_version() == 3

    # time travel: every historical snapshot still readable, undisturbed
    assert sorted(r.k for r in t.read(1).collect()) == [1, 2]
    assert sorted(r.k for r in t.read(2).collect()) == [3]
    assert sorted(r.k for r in t.read(3).collect()) == [3, 4]
    assert sorted(r.k for r in t.read().collect()) == [3, 4]

    # rollback creates a NEW snapshot with the old file set
    v4 = t.rollback(1)
    assert v4 == 4 and t.current_version() == 4
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # history preserved — nothing was deleted
    assert sorted(r.k for r in t.read(3).collect()) == [3, 4]
    assert [m["version"] for m in t.versions()] == [1, 2, 3, 4]


def test_snapshot_crash_leftover_invisible_and_vacuumed(spark, tmp_path):
    """A data dir without a manifest (crash between write and publish) is
    invisible to readers and reclaimed by vacuum."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [(1, "a")]))
    orphan = tmp_path / "tbl" / "data" / "c99-deadbeef"
    _df(spark, [(9, "x")]).write.parquet(str(orphan))
    assert sorted(r.k for r in t.read().collect()) == [1]  # orphan invisible
    removed = t.vacuum()
    assert removed == ["data/c99-deadbeef"]
    assert not os.path.exists(orphan)
    assert sorted(r.k for r in t.read().collect()) == [1]  # still intact


def test_snapshot_read_missing_version_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    with pytest.raises(ValueError):
        t.read()


def test_merge_upsert_semantics_and_idempotence(spark):
    target = _df(spark, [(1, "old1"), (2, "old2"), (3, "old3")])
    source = _df(spark, [(2, "new2"), (9, "new9")])
    merged = merge_upsert(target, source, ["k"])
    got = {r.k: r.v for r in merged.collect()}
    assert got == {1: "old1", 2: "new2", 3: "old3", 9: "new9"}
    # idempotence: merging the same source again changes nothing
    again = merge_upsert(merged, source, ["k"])
    assert {r.k: r.v for r in again.collect()} == got


def test_merge_upsert_schema_mismatch_raises(spark):
    target = _df(spark, [(1, "a")])
    bad = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        merge_upsert(target, bad, ["k"])


def test_warehouse_merge_into_partition_scoped(spark, tmp_path):
    """MERGE INTO fact_price updates matches, inserts new rows, and leaves
    untouched date partitions byte-identical (partition-scoped rewrite)."""
    from oss_data_lake_spark.sources.ingest import normalize_ohlcv
    from oss_data_lake_spark.sources.tables import Warehouse

    wh = Warehouse(spark, "mergedb", location=str(tmp_path / "wh"))
    try:
        wh.create_fact_price()
        base = spark.createDataFrame(
            [
                ("AAPL", "2024-06-03 00:00:00", 10.0, 11.0, 9.0, 10.5, 100),
                ("AAPL", "2024-06-04 00:00:00", 11.0, 12.0, 10.0, 11.5, 110),
                ("MSFT", "2024-06-03 00:00:00", 20.0, 21.0, 19.0, 20.5, 200),
            ],
            "ticker string, ts string, open double, high double, low double,"
            " close double, volume long",
        )
        wh.insert_prices(normalize_ohlcv(base, ingest_date="2024-06-05"))

        # source: update AAPL@06-03, insert GOOGL@06-03 — only date=2024-06-03
        src = spark.createDataFrame(
            [
                ("AAPL", "2024-06-03 00:00:00", 10.0, 11.0, 9.0, 99.9, 100),
                ("GOOGL", "2024-06-03 00:00:00", 30.0, 31.0, 29.0, 30.5, 300),
            ],
            "ticker string, ts string, open double, high double, low double,"
            " close double, volume long",
        )
        wh.merge_into(normalize_ohlcv(src, ingest_date="2024-06-06"))

        rows = {
            (r.ticker, str(r.ts)): r.close
            for r in spark.table("mergedb.fact_price").collect()
        }
        assert rows[("AAPL", "2024-06-03 00:00:00")] == 99.9  # updated
        assert rows[("GOOGL", "2024-06-03 00:00:00")] == 30.5  # inserted
        assert rows[("AAPL", "2024-06-04 00:00:00")] == 11.5  # untouched part
        assert rows[("MSFT", "2024-06-03 00:00:00")] == 20.5  # co-partition survivor
        assert len(rows) == 4

        # idempotence: same merge again → identical table
        wh.merge_into(normalize_ohlcv(src, ingest_date="2024-06-06"))
        rows2 = {
            (r.ticker, str(r.ts)): r.close
            for r in spark.table("mergedb.fact_price").collect()
        }
        assert rows2 == rows
    finally:
        wh.drop()


def test_schema_evolution_add_column(spark, tmp_path):
    """Iceberg-style add-column: appended files carry the new column; files
    from before it existed read as NULL; time travel reproduces the old
    schema (the later column is invisible at the old version)."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [(1, "a"), (2, "b")]))
    wide = _df(spark, [(3, "c")]).withColumn("score", F.lit(0.5))
    t.commit(wide, mode="append")

    cur = t.read()
    assert cur.columns == ["k", "v", "score"]
    rows = {r.k: r.score for r in cur.collect()}
    assert rows == {1: None, 2: None, 3: 0.5}
    # time travel: v1's schema has no 'score'
    assert t.read(1).columns == ["k", "v"]
    assert [f.name for f in t.schema(2).fields] == ["k", "v", "score"]


def test_schema_evolution_type_widening(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    ints = spark.createDataFrame([(1, 10)], "k long, n int")
    t.commit(ints)
    longs = spark.createDataFrame([(2, 5_000_000_000)], "k long, n long")
    t.commit(longs, mode="append")

    cur = t.read()
    assert dict(cur.dtypes)["n"] == "bigint"  # old int32 files upcast
    assert sorted(r.n for r in cur.collect()) == [10, 5_000_000_000]
    # time travel keeps the narrow type
    assert dict(t.read(1).dtypes)["n"] == "int"


def test_schema_evolution_rejects_narrowing_and_drop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(spark.createDataFrame([(1, 5_000_000_000)], "k long, n long"))
    with pytest.raises(ValueError, match="not a safe widening"):
        t.commit(
            spark.createDataFrame([(2, 1)], "k long, n int"), mode="append"
        )
    with pytest.raises(ValueError, match="drops column"):
        t.commit(spark.createDataFrame([(2,)], "k long"), mode="append")
    # overwrite may reshape freely, and rollback restores the old schema
    t.commit(spark.createDataFrame([(9, "x")], "k long, label string"))
    assert t.read().columns == ["k", "label"]
    t.rollback(1)
    assert [f.name for f in t.schema().fields] == ["k", "n"]
    assert sorted(r.k for r in t.read().collect()) == [1]


def test_incremental_read_changes(spark, tmp_path):
    """Iceberg-style incremental scan: only rows appended since a version."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v1 = t.commit(_df(spark, [(1, "a")]))
    v2 = t.commit(_df(spark, [(2, "b")]), mode="append")
    v3 = t.commit(_df(spark, [(3, "c"), (4, "d")]), mode="append")

    assert sorted(r.k for r in t.read_changes(v1).collect()) == [2, 3, 4]
    assert sorted(r.k for r in t.read_changes(v2, v3).collect()) == [3, 4]
    assert t.read_changes(v3).count() == 0  # empty delta, schema preserved
    assert t.read_changes(v3).columns == ["k", "v"]

    # an overwrite breaks the append lineage -> explicit error, not replay
    t.commit(_df(spark, [(9, "z")]))
    with pytest.raises(ValueError, match="append descendant"):
        t.read_changes(v1)


def test_compact_rewrites_current_snapshot_only(spark, tmp_path):
    import glob

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    v1 = t.commit(_df(spark, [(1, "a")]).repartition(4))
    t.commit(_df(spark, [(2, "b")]).repartition(4), mode="append")
    vc = t.compact()
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    # compacted snapshot is one dir with one data file
    m = t.versions()[-1]
    assert m["version"] == vc and len(m["data_dirs"]) == 1
    files = glob.glob(str(tmp_path / "tbl" / m["data_dirs"][0] / "*.parquet"))
    assert len(files) == 1
    # history intact: pre-compaction snapshots unchanged
    assert sorted(r.k for r in t.read(v1).collect()) == [1]


def test_expire_snapshots_prunes_history_and_storage(spark, tmp_path):
    import glob

    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    t.commit(_df(spark, [(1, "a")]))
    t.commit(_df(spark, [(2, "b")]))  # overwrite: v1's dir now only in v1
    t.commit(_df(spark, [(3, "c")]), mode="append")

    expired = t.expire_snapshots(keep_last=2)
    assert expired == [1]
    assert [m["version"] for m in t.versions()] == [2, 3]
    # v1's data dir is gone from disk; current read unaffected
    assert len(glob.glob(str(tmp_path / "tbl" / "data" / "c1-*"))) == 0
    assert sorted(r.k for r in t.read().collect()) == [2, 3]
    with pytest.raises(FileNotFoundError):
        t.read(1)
    # current version always survives even with keep_last=1
    t.expire_snapshots(keep_last=1)
    assert sorted(r.k for r in t.read().collect()) == [2, 3]


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k long, v string, flag int")


def test_merge_clause_matrix(spark):
    """Full MERGE clauses: conditional update, delete, insert-only,
    matched-no-op — against a fixed target/source pair."""
    from oss_data_lake_spark.operators.upsert import merge

    target = _kv(spark, [(1, "t1", 0), (2, "t2", 0), (3, "t3", 0)])
    source = _kv(spark, [(2, "s2", 1), (3, "s3", 0), (4, "s4", 1)])

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    # WHEN MATCHED THEN UPDATE / NOT MATCHED INSERT (classic upsert)
    assert rows(merge(target, source, ["k"])) == [
        (1, "t1"), (2, "s2"), (3, "s3"), (4, "s4")
    ]
    # WHEN MATCHED AND flag=1 THEN UPDATE: k=3 fails the condition -> target kept
    assert rows(
        merge(target, source, ["k"], matched_condition="flag = 1")
    ) == [(1, "t1"), (2, "s2"), (3, "t3"), (4, "s4")]
    # WHEN MATCHED AND flag=1 THEN DELETE, no insert
    assert rows(
        merge(
            target, source, ["k"],
            when_matched="delete", matched_condition="flag = 1",
            when_not_matched=None,
        )
    ) == [(1, "t1"), (3, "t3")]
    # insert-only merge: matched targets untouched
    assert rows(
        merge(target, source, ["k"], when_matched=None)
    ) == [(1, "t1"), (2, "t2"), (3, "t3"), (4, "s4")]


def test_merge_delete_idempotent(spark):
    from oss_data_lake_spark.operators.upsert import merge

    target = _kv(spark, [(1, "t1", 0), (2, "t2", 0)])
    source = _kv(spark, [(2, "s2", 1)])
    once = merge(target, source, ["k"], when_matched="delete",
                 when_not_matched=None)
    twice = merge(once, source, ["k"], when_matched="delete",
                  when_not_matched=None)
    assert sorted(r.k for r in twice.collect()) == [1]


def test_merge_null_condition_falls_through_to_target(spark):
    from oss_data_lake_spark.operators.upsert import merge

    target = spark.createDataFrame([(1, "t1", 0)], "k long, v string, flag int")
    source = spark.createDataFrame(
        [(1, "s1", None)], "k long, v string, flag int"
    )
    out = merge(target, source, ["k"], matched_condition="flag = 1")
    assert [(r.k, r.v) for r in out.collect()] == [(1, "t1")]


def test_partition_spec_evolution(spark, tmp_path):
    """Iceberg-style partition evolution: each commit carries its own
    layout; old dirs keep the old spec, reads mix both, partition-column
    values round-trip exactly (leading zeros survive — no dir-name type
    inference), and time travel reproduces the pre-evolution layout."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    df1 = spark.createDataFrame(
        [("01", 1, "a"), ("02", 2, "b")], "bucket string, k int, v string"
    )
    v1 = t.commit(df1, partition_by=["bucket"])
    # evolve the spec: later append partitions by a different column
    df2 = spark.createDataFrame(
        [("03", 3, "c"), ("03", 4, "d")], "bucket string, k int, v string"
    )
    v2 = t.commit(df2, mode="append", partition_by=["v"])
    # physical layout: v1's dir has bucket=..., v2's has v=...
    m = t.versions()[-1]
    d1, d2 = m["data_dirs"]
    assert m["partition_specs"] == {d1: ["bucket"], d2: ["v"]}
    assert any(
        p.startswith("bucket=") for p in os.listdir(tmp_path / "tbl" / d1)
    )
    assert any(p.startswith("v=") for p in os.listdir(tmp_path / "tbl" / d2))

    # values (incl. string partition keys with leading zeros) round-trip
    got = {(r.bucket, r.k, r.v) for r in t.read().collect()}
    assert got == {("01", 1, "a"), ("02", 2, "b"), ("03", 3, "c"), ("03", 4, "d")}
    assert t.read().schema == df1.schema  # column order/types preserved
    # time travel sees only the old-spec data
    assert {r.bucket for r in t.read(v1).collect()} == {"01", "02"}
    # incremental scan across the spec change yields only the new dir
    assert {r.k for r in t.read_changes(v1, v2).collect()} == {3, 4}


def test_partition_evolution_pruning_and_rollback(spark, tmp_path):
    """A filter on a partition column prunes the dir partitioned by it
    (PartitionFilters in its sub-scan) while still row-filtering the
    other-spec dir; rollback restores the old spec metadata."""
    t = SnapshotTable(spark, str(tmp_path / "tbl"))
    rows = [(f"b{i % 3}", i, f"x{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "bucket string, k int, v string")
    v1 = t.commit(df, partition_by=["bucket"])
    t.commit(df, mode="append")  # unpartitioned append (spec change)

    got = t.read().filter(F.col("bucket") == "b1")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan
    assert got.count() == 20  # 10 from each dir

    v3 = t.rollback(v1)
    m = t.versions()[-1]
    assert v3 == 3
    assert list(m["partition_specs"].values()) == [["bucket"]]
    assert t.read().count() == 30

    with pytest.raises(ValueError):
        t.commit(df.drop("bucket"), partition_by=["bucket"])


def test_sql_time_travel_clauses(spark, tmp_path):
    """SQL-text time travel (Trino/Iceberg clause surface): VERSION AS OF,
    TIMESTAMP AS OF (resolved against the manifest log), plain reference =
    head, mixed in one statement; unknown table names raise."""
    import pytest as _pytest

    from oss_data_lake_spark.sources.snapshots import (
        snapshot_view,
        sql_with_time_travel,
    )

    t = SnapshotTable(spark, str(tmp_path / "tt"))
    t.commit(spark.createDataFrame([(1, "a")], "k int, v string"))
    t.commit(spark.createDataFrame([(2, "b")], "k int, v string"), mode="append")

    got = sql_with_time_travel(
        spark, "SELECT k FROM tt FOR VERSION AS OF 1", {"tt": t}
    ).collect()
    assert [r.k for r in got] == [1]

    # timestamp at/after v2's commit resolves to v2; mixed with a plain
    # (head) reference in the same statement
    import datetime

    ts = datetime.datetime.fromtimestamp(
        (t._manifest(2)["committed_at_ms"] + 500) / 1000,
        tz=datetime.timezone.utc,
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    got = sql_with_time_travel(
        spark,
        f"""SELECT (SELECT COUNT(*) FROM tt FOR TIMESTAMP AS OF '{ts}') AS n2,
                   (SELECT COUNT(*) FROM tt) AS nh""",
        {"tt": t},
    ).collect()[0]
    assert (got.n2, got.nh) == (2, 2)

    # a timestamp before the first commit raises (version_as_of)
    with _pytest.raises(ValueError, match="no snapshot"):
        sql_with_time_travel(
            spark,
            "SELECT * FROM tt FOR TIMESTAMP AS OF '1999-01-01 00:00:00'",
            {"tt": t},
        )
    # unknown table in an AS-OF clause raises with the registry listed
    with _pytest.raises(ValueError, match="unregistered"):
        sql_with_time_travel(
            spark, "SELECT * FROM nope FOR VERSION AS OF 1", {"tt": t}
        )

    # named-view surface for JDBC/BI clients: pin a view to v1
    snapshot_view(spark, "tt_v1", t, version=1)
    assert spark.sql("SELECT COUNT(*) AS n FROM tt_v1").collect()[0].n == 1


def test_engine_sql_time_travel_roundtrip(spark, tmp_path):
    """Engine facade: register_snapshot_table + sql with AS-OF clauses +
    snapshot_view, the path a reference BI user would take."""
    from oss_data_lake_spark.engine import Engine

    eng = Engine(spark=spark)
    t = eng.register_snapshot_table("sales", str(tmp_path / "sales"))
    t.commit(spark.createDataFrame([(10.0,)], "amt double"))
    t.commit(spark.createDataFrame([(32.0,)], "amt double"), mode="append")
    got = eng.sql(
        """SELECT (SELECT SUM(amt) FROM sales FOR VERSION AS OF 1) AS s1,
                  (SELECT SUM(amt) FROM sales) AS sh"""
    ).collect()[0]
    assert (got.s1, got.sh) == (10.0, 42.0)
    eng.snapshot_view("sales_v1", "sales", version=1)
    assert spark.sql("SELECT SUM(amt) AS s FROM sales_v1").collect()[0].s == 10.0


def test_sql_time_travel_literal_safety_and_view_cleanup(spark, tmp_path):
    """Regression (round-5 review): AS-OF-shaped text inside string
    literals is data, not syntax; and the rewrite's temp views are
    dropped after analysis instead of shadowing the session."""
    from pyspark.sql import Row

    from oss_data_lake_spark.sources.snapshots import (
        SnapshotTable,
        sql_with_time_travel,
    )

    t = SnapshotTable(spark, str(tmp_path / "tt"))
    t.commit(spark.createDataFrame([Row(k=1, tag="x FOR VERSION AS OF 99 y")]))
    t.commit(
        spark.createDataFrame([Row(k=2, tag="later")]), mode="append"
    )

    out = sql_with_time_travel(
        spark,
        "SELECT k FROM tbl WHERE tag = 'x FOR VERSION AS OF 99 y'",
        {"tbl": t},
    )
    assert [r["k"] for r in out.collect()] == [1]

    old = sql_with_time_travel(
        spark, "SELECT COUNT(*) AS n FROM tbl FOR VERSION AS OF 1", {"tbl": t}
    )
    assert old.collect()[0]["n"] == 1

    # no leftover temp views shadowing the session
    names = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert "tbl" not in names
    assert not any(n.startswith("__tt_tbl") for n in names)


def test_sql_time_travel_error_cleanup_and_conflicts(spark, tmp_path):
    """Regression (round-5 review): helper views are dropped even when the
    SQL fails; double-quoted literals and comments are not rewritten; a
    pre-existing user temp view under a registered name raises instead of
    being silently destroyed."""
    import pytest as _pytest
    from pyspark.sql import Row
    from pyspark.sql.utils import ParseException

    from oss_data_lake_spark.sources.snapshots import (
        SnapshotTable,
        sql_with_time_travel,
    )

    t = SnapshotTable(spark, str(tmp_path / "tt2"))
    t.commit(spark.createDataFrame([Row(k=1)]))
    t.commit(spark.createDataFrame([Row(k=2)]), mode="append")

    # failing SQL: no leftover views
    with _pytest.raises(ParseException):
        sql_with_time_travel(
            spark, "SELEC k FROM tbl2 FOR VERSION AS OF 1", {"tbl2": t}
        )
    names = {v.name for v in spark.catalog.listTables() if v.isTemporary}
    assert not any(n.startswith("__tt_tbl2") for n in names)

    # comments are data, not syntax
    out = sql_with_time_travel(
        spark,
        "SELECT COUNT(*) AS n FROM tbl2 -- tbl2 FOR VERSION AS OF 1\n",
        {"tbl2": t},
    )
    assert out.collect()[0]["n"] == 2

    # pre-existing user temp view: loud conflict, view preserved
    spark.createDataFrame([Row(z=9)]).createOrReplaceTempView("tbl2")
    try:
        with _pytest.raises(ValueError, match="already exists"):
            sql_with_time_travel(spark, "SELECT * FROM tbl2", {"tbl2": t})
        assert spark.sql("SELECT z FROM tbl2").collect()[0]["z"] == 9
    finally:
        spark.catalog.dropTempView("tbl2")


@pytest.fixture()
def tt_two(spark, tmp_path):
    """``tt``: v1 holds k=1, v2 appends k=2; commits pinned at
    2024-01-01 00:00Z and 05:00Z."""
    import json

    t = SnapshotTable(spark, str(tmp_path / "tt"))
    t.commit(_df(spark, [(1, "a")]))
    t.commit(_df(spark, [(2, "b")]), mode="append")
    for v, hour in ((1, 0), (2, 5)):
        p = os.path.join(t.path, "_snapshots", f"v{v}.json")
        m = json.load(open(p))
        m["committed_at_ms"] = 1704067200000 + hour * 3600_000
        json.dump(m, open(p, "w"))
    return t


@pytest.mark.parametrize(
    "spelling",
    [
        "SELECT k FROM `tt` FOR VERSION AS OF 1",
        "SELECT k FROM tt /* c */ FOR VERSION AS OF 1",
        "SELECT k FROM tt -- c\n FOR VERSION AS OF 1",
        "SELECT k FROM TT FOR VERSION AS OF 1",
        "SELECT k FROM Tt FOR SYSTEM_VERSION AS OF 1",
        "SELECT k FROM tt FOR VERSION AS OF '1' t WHERE t.k > 0",
        "SELECT k, 'two\nlines' AS s FROM tt FOR VERSION AS OF 1",
        "SELECT k, 'a\n+- b' AS s FROM tt FOR VERSION AS OF 1",
    ],
)
def test_sql_time_travel_spellings_read_like_the_plain_one(
    spark, tt_two, spelling
):
    """A backquoted, commented, mixed-case or SYSTEM_VERSION spelling of
    an AS OF reference reads the same rows as the plain lower-case one:
    references come from Spark's parse, not from a text pattern."""
    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    def rows(q):
        return sorted(
            r.k for r in sql_with_time_travel(spark, q, {"tt": tt_two})
            .collect()
        )

    assert rows("SELECT k FROM tt FOR VERSION AS OF 1") == [1]
    assert rows(spelling) == [1]


def test_time_travel_inside_explain_and_describe_query(spark, tt_two):
    """EXPLAIN and DESCRIBE QUERY hold their query outside the parsed
    tree's node numbering; their AS OF references still resolve."""
    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    def run(q):
        return sql_with_time_travel(spark, q, {"tt": tt_two}).collect()

    cols = run("DESCRIBE QUERY SELECT k FROM tt FOR VERSION AS OF 1")
    assert [r.col_name for r in cols] == ["k"]
    (plan,) = run("EXPLAIN SELECT k FROM Tt FOR VERSION AS OF 1")
    assert "Scan" in plan.plan


def test_table_changes_name_resolves_case_insensitively(spark, tt_two):
    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    def rows(q):
        return sorted(
            tuple(r) for r in sql_with_time_travel(spark, q, {"tt": tt_two})
            .select("k", "_change_type", "_commit_version").collect()
        )

    want = rows("SELECT * FROM table_changes('tt', 1)")
    assert want == [(1, "insert", 1), (2, "insert", 2)]
    assert rows("SELECT * FROM table_changes('TT', 1)") == want
    assert rows("SELECT * FROM TABLE_CHANGES(/* c */ 'Tt', 2)") == want[1:]


@pytest.mark.parametrize(
    "spelling", ["SELECT count(*) AS n FROM cat.sch.d",
                 "SELECT count(*) AS n FROM CAT.SCH.D"],
)
def test_dotted_head_name_resolves_case_insensitively(
    spark, tt_two, spelling
):
    """A dotted registry name is spliced as a single-part view; the
    splice matches every spelling the parse counts as that leaf, so an
    upper-case reference reads the head like the registered lower-case
    one (it failed with REQUIRES_SINGLE_PART_NAMESPACE)."""
    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    df = sql_with_time_travel(spark, spelling, {"cat.sch.d": tt_two})
    assert df.collect()[0]["n"] == 2


def test_typed_timestamp_literal_under_non_utc_session_zone(spark, tt_two):
    """``TIMESTAMP '...'`` resolves the instant its text names: an
    explicit offset is honored and a naive literal is UTC, whatever the
    session time zone (Spark prints a typed literal converted to the
    session zone, so the printed value would say 03:00 in New York)."""
    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    def rows(q):
        return sorted(
            r.k for r in sql_with_time_travel(spark, q, {"tt": tt_two})
            .collect()
        )

    zone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # 10:00+02:00 is 08:00Z, after v2's 05:00Z commit
        for lit in ("TIMESTAMP '2024-01-01 10:00:00+02:00'",
                    "'2024-01-01 10:00:00+02:00'"):
            assert rows(f"SELECT k FROM tt FOR TIMESTAMP AS OF {lit}") == [
                1, 2
            ]
        # a naive literal is UTC: 04:00Z precedes v2
        assert rows(
            "SELECT k FROM tt FOR TIMESTAMP AS OF TIMESTAMP "
            "'2024-01-01 04:00:00'"
        ) == [1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)


def test_mor_merge_fast_path_requires_matching_key_names(spark, tmp_path):
    """ON t.k = s.nk with star clauses must NOT silently take the
    merge_rows_mor route (which keys on the TARGET name) — it falls
    through to merge_rows and its key-name validation."""
    from pyspark.sql import Row

    from oss_data_lake_spark.engine import Engine

    t = SnapshotTable(spark, str(tmp_path / "m"))
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(5)]),
        stats_for=["k"],
    )
    t.set_properties({"delete.mode": "merge-on-read"})
    eng = Engine(spark=spark)
    eng._snapshot_tables["tm"] = t
    spark.createDataFrame(
        [Row(nk=2, v=200.0)]
    ).createOrReplaceTempView("src_nk")
    with pytest.raises(Exception, match="different target/source|schema mismatch"):
        eng.sql(
            "MERGE INTO tm USING src_nk AS s ON tm.k = s.nk "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    # same-named keys still take the scan-free route
    spark.createDataFrame(
        [Row(k=2, v=200.0)]
    ).createOrReplaceTempView("src_k")
    res = eng.sql(
        "MERGE INTO tm USING src_k AS s ON tm.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert res["mode"] == "merge-on-read"
    assert t.read().where("k = 2").collect()[0]["v"] == 200.0


def test_nmbs_condition_accepts_target_alias_on_direct_api(spark):
    from pyspark.sql import Row

    from oss_data_lake_spark.operators.upsert import merge

    target = spark.createDataFrame(
        [Row(k=1, v=5.0), Row(k=2, v=50.0), Row(k=3, v=500.0)]
    )
    source = spark.createDataFrame([Row(k=1, v=6.0)])
    # documented 't.<col>'-qualified condition form, direct API call
    out = merge(
        target,
        source,
        ["k"],
        when_matched="update",
        when_not_matched=None,
        when_not_matched_by_source="delete",
        not_matched_by_source_condition="t.v > 100",
    ).collect()
    got = {r["k"]: r["v"] for r in out}
    assert got == {1: 6.0, 2: 50.0}  # k=3 fired the delete; k=2 survived
