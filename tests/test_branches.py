"""Branch refs — Iceberg's independently-writable branches, layered as
managed shallow clones under the table's own root (``_branches/<name>``)
with ``fast_forward`` = WAP publish by name.

Reference parity: Iceberg branch semantics (branch = named line of
commits off a snapshot; write to it in isolation; fast_forward lands it
on main; retention on main must not corrupt an open branch).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import CommitConflict, SnapshotTable


def _rows(lo, hi):
    return [Row(k=i, v=float(i)) for i in range(lo, hi)]


@pytest.fixture()
def table(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(_rows(0, 100)), mode="overwrite")
    t.commit(spark.createDataFrame(_rows(100, 120)), mode="append")
    return t


def test_branch_lifecycle(spark, table):
    assert table.branches() == {}
    bt = table.create_branch("dev")
    assert table.branches() == {"dev": {"head": 1, "from_version": 2}}
    with pytest.raises(ValueError, match="already exists"):
        table.create_branch("dev")
    with pytest.raises(ValueError, match="invalid branch name"):
        table.create_branch("a/b")
    assert bt.read().count() == 120
    table.drop_branch("dev")
    assert table.branches() == {}
    with pytest.raises(ValueError, match="unknown branch"):
        table.branch("dev")


def test_branch_writes_are_isolated(spark, table):
    bt = table.create_branch("dev")
    bt.commit(spark.createDataFrame(_rows(200, 240)), mode="append")
    bt.delete_where("k < 10")
    assert bt.read().count() == 150
    assert table.read().count() == 120, "main must not see branch writes"
    # branch off an old version
    old = table.create_branch("asof", version=1)
    assert old.read().count() == 100


def test_fast_forward_lands_branch_changes(spark, table):
    bt = table.create_branch("dev")
    bt.commit(spark.createDataFrame(_rows(200, 240)), mode="append")
    v = table.fast_forward("dev")
    assert v == table.current_version()
    assert table.read().count() == 160
    assert table.branches() == {}, "fast_forward drops by default"


def test_fast_forward_keep_and_rebase(spark, table):
    bt = table.create_branch("dev")
    bt.commit(spark.createDataFrame(_rows(200, 240)), mode="append")
    # main advances concurrently with a DISJOINT change
    table.commit(spark.createDataFrame(_rows(300, 310)), mode="append")
    with pytest.raises(CommitConflict, match="advanced"):
        table.fast_forward("dev")
    assert "dev" in table.branches(), "a refused fast_forward keeps it"
    v = table.fast_forward(
        "dev", require_source_unchanged=False, drop=False
    )
    assert v == table.current_version()
    assert table.read().count() == 170  # both sides landed
    assert "dev" in table.branches()


def test_retention_on_main_keeps_branch_files_alive(spark, table):
    """The scale contract: expire+vacuum on main reclaims nothing an
    open branch can still read."""
    bt = table.create_branch("audit")
    # main rewrites everything: old dirs become main-unreferenced
    table.commit(spark.createDataFrame(_rows(0, 5)), mode="overwrite")
    table.expire_snapshots(keep_last=1)
    assert bt.read().count() == 120, "branch survives main retention"
    # dropping the branch releases the refs: now vacuum reclaims
    table.drop_branch("audit")
    removed = table.vacuum()
    assert removed, "post-drop vacuum reclaims the old dirs"
    assert table.read().count() == 5


def test_branch_time_travel_ref(spark, table):
    """``FOR VERSION AS OF '<branch>'`` resolves branch refs like
    Iceberg (tags pin main versions; branches read their own head)."""
    bt = table.create_branch("dev")
    bt.commit(spark.createDataFrame(_rows(500, 520)), mode="append")
    eng = Engine(spark=spark)
    eng._snapshot_tables["t"] = table
    n = eng.sql(
        "SELECT COUNT(*) AS n FROM t FOR VERSION AS OF 'dev'"
    ).collect()[0]["n"]
    assert n == 140
    with pytest.raises(ValueError, match="unknown tag"):
        eng.sql("SELECT * FROM t FOR VERSION AS OF 'nope'").collect()


def test_branch_sql_surface(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(_rows(0, 50)), mode="overwrite")
    eng = Engine(spark=spark)
    eng._snapshot_tables["t"] = t
    r = eng.sql("ALTER TABLE t CREATE BRANCH dev").collect()[0]
    assert (r["branch"], r["sql_name"], r["from_version"]) == (
        "dev", "t_branch_dev", 1,
    )
    # the branch answers SQL under its registered name — DML included
    eng.sql("INSERT INTO t_branch_dev VALUES (100, 1.0)")
    eng.sql("DELETE FROM t_branch_dev WHERE k < 10")
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t_branch_dev"
    ).collect()[0]["n"] == 41
    assert eng.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 50
    rows = eng.sql("SHOW BRANCHES t").collect()
    assert [(r["branch"], r["from_version"]) for r in rows] == [("dev", 1)]
    v = eng.sql("ALTER TABLE t FAST FORWARD BRANCH dev").collect()[0]
    assert v["version"] == t.current_version()
    assert eng.sql("SELECT COUNT(*) AS n FROM t").collect()[0]["n"] == 41
    assert "t_branch_dev" not in eng._snapshot_tables
    assert eng.sql("SHOW BRANCHES t").count() == 0
    eng.sql("ALTER TABLE t CREATE BRANCH keepme")
    eng.sql("ALTER TABLE t DROP BRANCH keepme")
    assert "t_branch_keepme" not in eng._snapshot_tables


def test_fresh_engine_rediscovers_branches(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame(_rows(0, 30)), mode="overwrite")
    t.create_branch("dev").commit(
        spark.createDataFrame(_rows(100, 110)), mode="append"
    )
    eng = Engine(spark=spark)
    eng.register_snapshot_table("t", t.path)
    assert eng.sql(
        "SELECT COUNT(*) AS n FROM t_branch_dev"
    ).collect()[0]["n"] == 40


def test_branch_of_branch_and_mor_debt_refusal(spark, table):
    bt = table.create_branch("dev")
    nested = bt.create_branch("sub")
    assert nested.read().count() == 120
    # MoR on a fresh branch refuses until compact() localizes the
    # external refs (clone semantics) ...
    bt.set_properties({"delete.mode": "merge-on-read"})
    with pytest.raises(ValueError, match="compact"):
        bt.delete_where_mor("k < 5")
    bt.compact()
    bt.delete_where_mor("k < 5")
    # ... and a branch carrying outstanding MoR debt refuses to branch
    # further (tombstone coordinates are root-relative)
    with pytest.raises(ValueError, match="merge-on-read"):
        bt.create_branch("sub2")


def test_nested_branch_refs_survive_middle_expiry(spark, table):
    """A branch-of-branch flattens its refs to the ORIGINAL root: main's
    vacuum must count the nested branch's refs even after the middle
    branch expired its own history down to a state without them."""
    dev = table.create_branch("dev")
    dev.create_branch("sub")                     # refs flatten to main
    # main rewrites + expires: old dirs are dead to main AND (after its
    # own overwrite) to dev's head — only sub still reads them
    dev.commit(spark.createDataFrame(_rows(0, 1)), mode="overwrite")
    dev.expire_snapshots(keep_last=1)
    table.commit(spark.createDataFrame(_rows(0, 5)), mode="overwrite")
    table.expire_snapshots(keep_last=1)
    assert table.branch("dev").branch("sub").read().count() == 120
    table.drop_branch("dev")                     # releases sub too
    table.vacuum()
    assert table.read().count() == 5


def test_branches_listing_survives_branch_side_expiry(spark, table):
    """A branch that expired its own clone manifest still lists (fork
    point unknown) instead of crashing SHOW BRANCHES / ref errors."""
    dev = table.create_branch("dev")
    dev.commit(spark.createDataFrame(_rows(0, 1)), mode="overwrite")
    dev.expire_snapshots(keep_last=1)
    assert table.branches()["dev"]["from_version"] is None
    with pytest.raises(ValueError, match="unknown tag"):
        table.resolve_ref("nope")  # error path walks branches() too


def test_drop_table_unregisters_branch_handles(spark, tmp_path):
    eng = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    eng.sql_script(
        "CREATE TABLE t USING snapshot AS SELECT 1 AS k;"
        "ALTER TABLE t CREATE BRANCH dev"
    )
    assert "t_branch_dev" in eng._snapshot_tables
    eng.sql("DROP TABLE t")
    assert "t_branch_dev" not in eng._snapshot_tables
    # recreate cleanly: the registry name is free again
    eng.sql_script(
        "CREATE TABLE t USING snapshot AS SELECT 1 AS k;"
        "ALTER TABLE t CREATE BRANCH dev"
    )
    assert "t_branch_dev" in eng._snapshot_tables


def test_branch_streams_like_any_table(spark, table, tmp_path):
    """A branch is a full SnapshotTable: the streaming source reads its
    commits in isolation from main's."""
    from oss_data_lake_spark.streaming.snapshot_source import (
        SnapshotStreamSource,
    )

    spark.dataSource.register(SnapshotStreamSource)
    bt = table.create_branch("dev")
    bt.commit(spark.createDataFrame(_rows(200, 210)), mode="append")
    table.commit(spark.createDataFrame(_rows(900, 999)), mode="append")
    q = (
        spark.readStream.format("snapshot_stream")
        .option("path", bt.path)
        .load()
        .writeStream.format("memory")
        .queryName("branch_stream")
        .option(
            "checkpointLocation", str(tmp_path / "ck")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT COUNT(*) AS n FROM branch_stream").collect()
    assert got[0]["n"] == 130  # 120 base + 10 branch rows; main's 99 absent


def test_unknown_branch_lookup_creates_nothing(spark, table):
    import os

    with pytest.raises(ValueError, match="unknown branch"):
        table.branch("nope")
    assert not os.path.exists(os.path.join(table.path, "_branches"))
    assert table.branches() == {}
