"""The driver side of a snapshot-table SELECT: how many py4j round trips
``Engine.sql`` makes before it hands back a lazy DataFrame, and the
session rules it keeps while making few of them.

- A user temp view named like a registered snapshot table is refused,
  with names compared the way Spark's analyzer resolves them
  (case-insensitive by default).
- A user temp view shadows a persistent view of the same name.
- The one scan-alignment helper (``SnapshotTable._align``) returns the
  rows the snapshot schema says, and no projection at all when the scan
  already has that schema.
- A statement's result frame is a local relation, so collecting it
  runs no Spark job of its own.
- A small write costs one collect: the job budgets of an ingest and of a
  copy-on-write DELETE."""

from __future__ import annotations

import gc
import threading
import uuid

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import Row
from pyspark.sql import types as T

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.ohlcv import generate_ohlcv
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.conftest import stale_slow_entries


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
    return e, t


@pytest.mark.parametrize(
    "registered, user_view",
    [("tbl_rt", "tbl_rt"), ("Tbl_Rt", "tbl_rt"), ("tbl_rt", "TBL_RT")],
)
def test_user_temp_view_named_like_snapshot_table_is_refused(
    spark, eng, registered, user_view
):
    e, t = eng
    e._snapshot_tables[registered] = t
    spark.range(1).createOrReplaceTempView(user_view)
    try:
        with pytest.raises(ValueError, match="already exists in this session"):
            e.sql(f"SELECT count(*) FROM {registered}")
        # the refusal left the user's view in place
        assert spark.table(user_view).count() == 1
    finally:
        spark.catalog.dropTempView(user_view)


def test_user_temp_view_shadows_persistent_view(spark, eng):
    e, t = eng
    e._snapshot_tables["tbl_rt"] = t
    e.sql("CREATE VIEW v_shadow_rt AS SELECT k FROM tbl_rt WHERE k < 3")
    assert e.sql("SELECT count(*) AS n FROM v_shadow_rt").first()["n"] == 3
    spark.range(7).createOrReplaceTempView("V_SHADOW_RT")
    try:
        got = e.sql("SELECT count(*) AS n FROM v_shadow_rt").first()["n"]
        assert got == 7
        # the statement neither replaced nor dropped the user's view
        assert spark.table("v_shadow_rt").count() == 7
    finally:
        spark.catalog.dropTempView("v_shadow_rt")
    assert e.sql("SELECT count(*) AS n FROM v_shadow_rt").first()["n"] == 3


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_align_returns_matching_scan_itself(spark, eng):
    _, t = eng
    target = t.schema()
    df = t.read()
    assert t._align(df, target) is df
    assert t._align(df, target, have=df.schema) is df
    # the delete-vector coordinates always need a projection
    assert t._align(df, target, have=target, meta=True) is not df
    # same fields in another order: projected into target order
    swapped = df.select("g", "v", "k")
    out = t._align(swapped, target)
    assert out is not swapped
    assert out.columns == ["k", "v", "g"]
    assert _rows(out, "k", "g") == _rows(df, "k", "g")


def test_align_casts_fills_and_quotes(spark, eng):
    _, t = eng
    df = spark.createDataFrame(
        [((1,), 2)], "s struct<`a b`: int>, n int"
    )
    target = T.StructType.fromDDL(
        "s struct<`a b`: bigint>, n bigint, tag string"
    )
    out = t._align(df, target, fill={"tag": "concat('x', 'y')"})
    assert out.schema.simpleString() == (
        "struct<s:struct<a b:bigint>,n:bigint,tag:string>"
    )
    assert out.first() == Row(s=Row(**{"a b": 1}), n=2, tag="xy")


def test_narrower_dir_reads_widened(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, v double"))
    t.widen_column("k", "bigint")
    t.commit(
        spark.createDataFrame([(3_000_000_000, 3.0)], "k bigint, v double"),
        mode="append",
    )
    out = t.read()
    assert out.schema["k"].dataType == T.LongType()
    assert _rows(out, "k", "v") == [(1, 1.0), (2, 2.0), (3_000_000_000, 3.0)]


def test_dir_missing_column_reads_initial_default(spark, eng):
    _, t = eng
    t.add_columns({"src": "string"}, defaults={"src": "'backfill'"})
    t.commit(
        spark.createDataFrame(
            [(100, 1.0, "g1", "live")],
            "k bigint, v double, g string, src string",
        ),
        mode="append",
    )
    got = dict(_rows(t.read(), "k", "src"))
    assert got[100] == "live"
    assert {got[k] for k in range(12)} == {"backfill"}


def test_renamed_and_dropped_field_id_columns(spark, eng):
    _, t = eng
    t.rename_column("v", "w")
    t.drop_columns(["g"])
    # a re-added name gets a fresh field id: the old bytes stay invisible
    t.add_columns({"g": "string"})
    out = t.read()
    assert out.columns == ["k", "w", "g"]
    want = [(i, float(i), None) for i in range(12)]
    assert _rows(out, "k", "w", "g") == want


def test_delete_vector_read_through_meta(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "k int, v double"
        ),
        stats_for=["k"],
    )
    t.widen_column("k", "bigint")
    t.delete_where_mor("k < 5")
    manifest = t._manifest(t.current_version())
    (part,) = t._scan_parts(manifest, t.schema(), with_meta=True)
    assert part.columns == ["k", "v", "__dv_file", "__dv_pos"]
    out = t.read()
    assert out.schema["k"].dataType == T.LongType()
    assert _rows(out, "k") == [(i,) for i in range(5, 20)]


def _py4j_calls(fn) -> int:
    """py4j commands this thread sends while ``fn`` runs. Python GC is
    held off so proxy finalizers do not land inside the window."""
    me = threading.get_ident()
    orig = ClientServerConnection.send_command
    n = 0

    def counting(self, command):
        nonlocal n
        if threading.get_ident() == me:
            n += 1
        return orig(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counting
    try:
        fn()
    finally:
        ClientServerConnection.send_command = orig
        gc.enable()
    return n


def test_point_lookup_py4j_round_trip_budget(spark, tmp_path):
    """No timing, so host noise cannot move it. A point lookup on an
    8-column snapshot table measured 28 py4j calls inside ``Engine.sql``,
    two of them the statement's one parse (361 before the temp-view probe
    replaced ``listTables()`` and the scan alignment stopped building a
    Column chain per column)."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(
            [(i, i % 7, float(i), f"n{i}", i % 2 == 0, i * 10, "x", 0.5)
             for i in range(40)],
            "k bigint, c int, p double, s string, b boolean, q bigint, "
            "f string, d double",
        ),
        stats_for=["k"],
    )
    e._snapshot_tables["rt_budget"] = t
    q = "SELECT * FROM rt_budget WHERE k = 7"
    assert e.sql(q).count() == 1  # warm: manifest cache, JVM classes
    n = _py4j_calls(lambda: e.sql(q))
    assert n <= 60, n
    assert e.sql(q).first()["s"] == "n7"


def test_versioned_point_lookup_py4j_round_trip_budget(spark, tmp_path):
    """A ``FOR VERSION AS OF`` point lookup measured 24 py4j calls when
    regexes found the clause. Its span now comes from the parse: the
    numbered tree once, then the one time-travel node, its JSON and the
    origins of the node and of its name, 10 calls in all."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    schema = ("k bigint, c int, p double, s string, b boolean, q bigint, "
              "f string, d double")
    t.commit(
        spark.createDataFrame(
            [(i, i % 7, float(i), f"n{i}", i % 2 == 0, i * 10, "x", 0.5)
             for i in range(40)],
            schema,
        ),
        stats_for=["k"],
    )
    t.commit(
        spark.createDataFrame([(7, 0, 0.0, "new", True, 0, "y", 0.0)],
                              schema),
        mode="append",
    )
    e._snapshot_tables["rt_budget"] = t
    q = "SELECT * FROM rt_budget FOR VERSION AS OF 1 WHERE k = 7"
    assert e.sql(q).count() == 1  # warm: manifest cache, JVM classes
    n = _py4j_calls(lambda: e.sql(q))
    assert n <= 34, n
    assert e.sql(q).first()["s"] == "n7"


def test_one_parse_per_statement(spark, tmp_path, monkeypatch):
    """Table references and file-skipping conjuncts come from one call
    to Spark's parser per statement, and none when the statement names
    no registered table."""
    from oss_data_lake_spark import sqlplan

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([(i, float(i)) for i in range(20)],
                              "k bigint, v double"),
        stats_for=["k"],
    )
    e._snapshot_tables["rt_budget"] = t
    calls = []
    orig = sqlplan._parse

    def counting(spark_, method, text):
        calls.append(method)
        return orig(spark_, method, text)

    monkeypatch.setattr(sqlplan, "_parse", counting)
    assert e.sql("SELECT * FROM rt_budget WHERE k = 7").count() == 1
    assert calls == ["parsePlan"]
    calls.clear()
    e.sql("DELETE FROM rt_budget WHERE k = 7")
    assert calls == ["parseExpression"]
    assert t.read().count() == 19
    calls.clear()
    assert e.sql("SELECT count(*) AS n FROM range(5)").first()["n"] == 5
    assert calls == []
    # an alias that starts with "of" is not an AS OF clause
    assert e.sql("SELECT 1 AS offset").first()["offset"] == 1
    assert calls == []
    # time-travel references come from the same one parse
    v = t.commit(spark.createDataFrame([(100, 1.0)], "k bigint, v double"),
                 mode="append")
    calls.clear()
    assert e.sql(
        "SELECT count(*) AS n FROM rt_budget FOR VERSION AS OF 1"
    ).first()["n"] == 20
    assert calls == ["parsePlan"]
    calls.clear()
    assert e.sql(
        f"SELECT count(*) AS n FROM table_changes('rt_budget', {v})"
    ).first()["n"] == 1
    assert calls == ["parsePlan"]


def test_try_cast_keeps_escape_mode(spark):
    """The session pins the SQL escape mode the TRY(CAST) integer guard's
    regex is spelled for: surrounding whitespace still parses."""
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    e = Engine(spark=spark)
    got = e.sql("SELECT TRY(CAST(' 5' AS INTEGER)) AS x, "
                "TRY(CAST('5x' AS INTEGER)) AS y").first()
    assert (got["x"], got["y"]) == (5, None)


def test_stale_slow_tier_entries_are_reported(tmp_path):
    (tmp_path / "tests").mkdir()
    for f in ("test_a.py", "test_b.py"):
        (tmp_path / "tests" / f).write_text("")
    tier = frozenset({
        "tests/test_a.py::test_renamed_away",
        "tests/test_a.py::test_kept",
        "tests/test_b.py::test_not_collected",
        "tests/test_gone.py::test_x",
    })
    collected = {"tests/test_a.py::test_kept", "tests/test_a.py::test_new"}
    assert stale_slow_entries(tier, collected, ["tests/"], tmp_path) == [
        "tests/test_a.py::test_renamed_away",
        "tests/test_gone.py::test_x",
    ]
    # a run narrowed to node ids collects partial modules: no check
    narrowed = ["tests/test_a.py::test_kept"]
    assert stale_slow_entries(tier, collected, narrowed, tmp_path) == []


def _jobs(spark, fn) -> int:
    """Spark jobs started while ``fn`` runs, read from the status
    tracker's job group once the listener bus has drained."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_statement_results_run_no_python_job(spark, tmp_path):
    """A statement's result frame is an Arrow local relation: collecting a
    metadata-only EXPIRE SNAPSHOTS or a VACUUM runs no Spark job (one,
    through Python workers, when the one-row result was a Python RDD),
    and a copy-on-write DELETE runs only its rewrite job."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE jc USING snapshot AS SELECT 0L AS k, 0.5D AS v")
    for i in range(1, 4):
        e.sql(f"INSERT INTO jc VALUES ({i}, {i}.5)").collect()
    assert _jobs(spark, lambda: e.sql(
        "ALTER TABLE jc EXPIRE SNAPSHOTS KEEP LAST 2").collect()) == 0
    assert _jobs(spark, lambda: e.sql(
        "VACUUM jc RETAIN 0 HOURS").collect()) == 0
    assert _jobs(spark, lambda: e.sql(
        "DELETE FROM jc WHERE k = 1").collect()) == 1
    assert sorted(r.k for r in e.sql("SELECT k FROM jc").collect()) == [0, 2, 3]


def test_small_write_job_budget(spark, tmp_path):
    """A small write is one collect, written by pyarrow on the driver:
    ingesting one week of 200 tickers runs at most 4 Spark jobs (7 when
    Spark's write command wrote it, 2 of them the isEmpty probe), and a
    copy-on-write DELETE on a day-partitioned table runs exactly 1."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    week = generate_ohlcv(
        spark, tickers=tuple(f"T{i:03d}" for i in range(200)),
        start_date="2025-01-06", n_days=5, seed=1,
    )
    stage = str(tmp_path / "stage")
    assert _jobs(spark, lambda: e.ingest_ohlcv(
        week, stage, ingest_date="2025-01-06")) <= 4
    e.sql(
        "CREATE TABLE fp (ticker STRING, ts TIMESTAMP, close DOUBLE) "
        "USING snapshot PARTITIONED BY (days(ts))"
    )
    e.sql(
        f"INSERT INTO fp SELECT ticker, ts, close FROM parquet.`{stage}`"
    ).collect()
    assert _jobs(spark, lambda: e.sql(
        "DELETE FROM fp WHERE ticker IN ('T001', 'T002') "
        "AND ts >= TIMESTAMP'2025-01-07' AND ts < TIMESTAMP'2025-01-08'"
    ).collect()) == 1
    assert e.sql("SELECT count(*) AS n FROM fp").first()["n"] == 998
