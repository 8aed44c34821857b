"""Round-9 regression pins for the round-8 advisor findings: the paced
stream's restart offset can never regress below the checkpointed
position; a failed CREATE TABLE leaves no registered zero-snapshot name;
MERGE WITH SCHEMA EVOLUTION rolls its metadata commits back when the
merge body fails at runtime; column DEFAULTs must be genuinely constant
(Iceberg v3's literal rule — no rand()/current_timestamp()); and
subquery-condition DML prunes on its non-subquery conjuncts."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable


# ---------------------------------------------------------------- medium:
# admission control vs checkpoint restart (snapshot_source.py latestOffset)


def _reader(path: str, **kw):
    from oss_data_lake_spark.streaming.snapshot_source import (
        SnapshotStreamSource,
    )

    src = SnapshotStreamSource(options={"path": path, **kw})
    return src.streamReader(None)


def test_restart_offer_never_below_restored_position(spark, tmp_path):
    """The round-8 advisor's double-restart replay hazard needs a capped
    latestOffset BELOW the checkpoint-restored position. Traced against
    Spark 4.1's MicroBatchExecution (committed AND uncommitted last
    batch): a restart always replans the checkpointed batch —
    partitions(start, end) with the restored offsets — BEFORE the first
    latestOffset, which advances the admission baseline to the restored
    position. This drives the reader through both traced restart
    protocols and pins that no offer ever sits below the revealed
    position."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for w in range(6):
        t.commit(spark.createDataFrame([Row(k=w)]), mode="append")

    # restart, last batch COMMITTED at v4: engine replans (4, 4) first
    r = _reader(t.path, maxVersionsPerTrigger="1")
    assert r.partitions({"version": 4}, {"version": 4}) == []
    off = r.latestOffset()
    assert off["version"] == 5          # capped, but >= position 4
    assert off["version"] >= 4

    # restart, last batch UNCOMMITTED (3 -> 4): engine replans it first
    r2 = _reader(t.path, maxVersionsPerTrigger="1")
    assert r2.partitions({"version": 3}, {"version": 4})
    assert r2.latestOffset()["version"] == 5   # never below 4

    # commit() alone (engine confirming a committed batch) also reveals
    r3 = _reader(t.path, maxVersionsPerTrigger="1")
    r3.commit({"version": 5})
    assert r3.latestOffset()["version"] == 6

    # fresh start: latestOffset may come first; the baseline IS the
    # engine's initial position, so pacing applies from batch one
    r4 = _reader(t.path, maxVersionsPerTrigger="2")
    assert r4.latestOffset()["version"] == 2
    assert r4.initialOffset() == {"version": 0}

    # residual defense (future call-order changes): a backwards batch
    # plans as empty, records the true position, and later offers clamp
    r5 = _reader(t.path, maxVersionsPerTrigger="1")
    assert r5.latestOffset()["version"] == 1   # stale capped offer
    assert r5.partitions({"version": 4}, {"version": 1}) == []
    assert r5.latestOffset()["version"] >= 4   # clamped to the floor


# ----------------------------------------------------------- low: CREATE
# TABLE failure must unregister (dml_sql.py column-list CREATE)


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


# ------------------------------------------------- low: MERGE evolution
# rollback on runtime failure (dml_sql.py)


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


# --------------------------------------------------- low: constant-only
# DEFAULTs (snapshots.py validate_default)


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


# --------------------------------------------- low: subquery DML pruning
# (dml_sql.py subquery DELETE/UPDATE through delete/update_where's run_sql)


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
    ds = X files — the advisor's finding was a whole-table rewrite."""
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
