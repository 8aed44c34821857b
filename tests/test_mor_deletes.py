"""Merge-on-read deletes (Iceberg v2 position deletes / Delta deletion
vectors): DELETE writes (file, row-position) tombstones instead of
rewriting files; every read path anti-joins them; compaction
materializes and vacuum reclaims."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources.skipping import _iter_parquet_files
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def tbl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k"])
    return t


def _data_files(t):
    return sorted(
        p
        for d in t._manifest(t.current_version())["data_dirs"]
        for p in _iter_parquet_files(os.path.join(t.path, d))
    )


def test_mor_delete_leaves_files_untouched(spark, tbl):
    before = _data_files(tbl)
    mtimes = {p: os.path.getmtime(p) for p in before}
    info = tbl.delete_where_mor(
        "k BETWEEN 20 AND 39", prune_column="k", prune_lower=20, prune_upper=39
    )
    assert info["mode"] == "merge-on-read"
    assert info["files_skipped"] > 0, "MoR delete must still prune its scan"
    assert info["version"] == 2
    # no data file rewritten, none added
    assert _data_files(tbl) == before
    assert {p: os.path.getmtime(p) for p in before} == mtimes
    # rows are gone from the head, present in history
    got = sorted(r.k for r in tbl.read().collect())
    assert got == [i for i in range(100) if not 20 <= i <= 39]
    assert tbl.read(version=1).count() == 100
    # pruned reads apply the vectors too
    assert tbl.read_between("k", 0, 49).count() == 30


def test_mor_deletes_stack_and_append_composes(spark, tbl):
    tbl.delete_where_mor("k < 10")
    tbl.delete_where_mor("k >= 90")
    assert sorted(r.k for r in tbl.read().collect()) == list(range(10, 90))
    # appended rows are unaffected by existing vectors
    tbl.commit(
        spark.createDataFrame([Row(k=200, v=0.5)]), mode="append"
    )
    got = sorted(r.k for r in tbl.read().collect())
    assert got == list(range(10, 90)) + [200]
    # re-deleting an already-tombstoned range is a no-op for results
    tbl.delete_where_mor("k < 10")
    assert tbl.read().count() == 81


def test_mor_then_compact_materializes_and_vacuum_reclaims(spark, tbl):
    tbl.delete_where_mor(
        "k BETWEEN 0 AND 19", prune_column="k", prune_lower=0, prune_upper=19
    )
    assert tbl._manifest(tbl.current_version())["delete_dirs"]
    tbl.compact(target_partitions=2, stats_for=["k"])
    head = tbl._manifest(tbl.current_version())
    assert head.get("delete_dirs", []) == []
    assert tbl.read().count() == 80
    tbl.expire_snapshots(keep_last=1)
    assert not os.path.isdir(os.path.join(tbl.path, "deletes")) or not os.listdir(
        os.path.join(tbl.path, "deletes")
    )
    assert tbl.read().count() == 80


def test_mor_and_cow_interplay(spark, tbl):
    tbl.delete_where_mor("k BETWEEN 0 AND 9")
    # a CoW delete on another range: candidates read with vectors applied,
    # untouched files keep their vectors
    tbl.delete_where(
        "k BETWEEN 90 AND 99", prune_column="k", prune_lower=90, prune_upper=99
    )
    assert sorted(r.k for r in tbl.read().collect()) == list(range(10, 90))
    # an UPDATE over a tombstoned range must not resurrect rows
    tbl.update_where("k < 20", {"v": "v + 1000.0"})
    rows = {r.k: r.v for r in tbl.read().collect()}
    assert 0 not in rows and rows[10] == 1010.0


def test_mor_breaks_incremental_chains_loudly(spark, tbl):
    v1 = tbl.current_version()
    tbl.delete_where_mor("k < 5")
    with pytest.raises(ValueError, match="delete vectors"):
        tbl.read_changes(v1)


def test_mor_refuses_streaming_start_with_active_vectors(spark, tmp_path):
    from oss_data_lake_spark.streaming.snapshot_source import (
        FORMAT_NAME,
        SnapshotStreamSource,
    )

    spark.dataSource.register(SnapshotStreamSource)
    t = SnapshotTable(spark, str(tmp_path / "s"))
    t.commit(spark.createDataFrame([Row(k=i) for i in range(10)]))
    t.delete_where_mor("k < 3")
    q = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", t.path)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="merge-on-read delete"):
        q.awaitTermination()


def test_table_properties_route_sql_delete_through_mor(spark, tmp_path):
    """delete.mode = merge-on-read makes the SQL persona's DELETE write
    tombstones instead of rewriting files; properties persist through
    commits and UNSET restores copy-on-write."""
    from oss_data_lake_spark.engine import Engine

    eng = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "p"))
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k"])
    eng._snapshot_tables["p"] = t

    eng.sql(
        "ALTER TABLE p SET TBLPROPERTIES ('delete.mode' = 'merge-on-read',"
        " 'owner' = 'pipeline')"
    )
    assert t.properties() == {
        "delete.mode": "merge-on-read", "owner": "pipeline"
    }
    files_before = _data_files(t)
    res = eng.sql("DELETE FROM p WHERE k BETWEEN 0 AND 9").collect()[0]
    assert res["mode"] == "merge-on-read"
    assert _data_files(t) == files_before, "MoR SQL delete must not rewrite"
    assert eng.sql("SELECT count(*) AS n FROM p").collect()[0]["n"] == 90

    # properties survive an append
    t.commit(spark.createDataFrame([Row(k=500, v=1.0)]), mode="append")
    assert t.properties()["delete.mode"] == "merge-on-read"

    eng.sql("ALTER TABLE p UNSET TBLPROPERTIES ('delete.mode')")
    assert t.properties() == {"owner": "pipeline"}
    res = eng.sql("DELETE FROM p WHERE k BETWEEN 10 AND 19").collect()[0]
    assert "files_rewritten" in res.asDict(), "back to copy-on-write"
    assert eng.sql("SELECT count(*) AS n FROM p").collect()[0]["n"] == 81


def test_mor_update_moves_rows_without_rewrites(spark, tbl):
    """MoR UPDATE: matched rows tombstone out of their files and re-land
    updated in a fresh append dir — one atomic version, zero candidate
    files rewritten, assignments see the pre-update row."""
    before = _data_files(tbl)
    info = tbl.update_where_mor(
        "k BETWEEN 20 AND 29", {"v": "v + 1000.0"},
        prune_column="k", prune_lower=20, prune_upper=29, stats_for=["k"],
    )
    assert info["mode"] == "merge-on-read"
    assert info["files_skipped"] > 0
    after = _data_files(tbl)
    assert set(before) < set(after), "one appended dir, originals untouched"
    assert all(p in after for p in before)
    rows = {r.k: r.v for r in tbl.read().collect()}
    assert len(rows) == 100
    assert rows[25] == 1025.0 and rows[50] == 50.0
    # stacking on top of a MoR delete composes
    tbl.delete_where_mor("k BETWEEN 0 AND 9")
    tbl.update_where_mor("k BETWEEN 25 AND 34", {"v": "v + 1.0"})
    rows = {r.k: r.v for r in tbl.read().collect()}
    assert len(rows) == 90
    assert rows[25] == 1026.0 and rows[30] == 31.0 and rows[40] == 40.0
    # time travel: pre-update values intact
    assert {r.k: r.v for r in tbl.read(version=1).collect()}[25] == 25.0
    # compaction materializes everything
    tbl.compact(target_partitions=2, stats_for=["k"])
    assert tbl._manifest(tbl.current_version()).get("delete_dirs", []) == []
    assert {r.k: r.v for r in tbl.read().collect()} == rows


def test_mor_update_respects_constraints(spark, tbl):
    tbl.add_constraint("v_small", "v < 500")
    with pytest.raises(ValueError, match="v_small"):
        tbl.update_where_mor("k < 5", {"v": "v + 1000.0"})
    assert tbl.read().filter("v >= 500").count() == 0
    with pytest.raises(ValueError, match="unknown columns"):
        tbl.update_where_mor("k < 5", {"nope": "1"})


def test_sql_update_routes_through_mor_property(spark, tmp_path):
    from oss_data_lake_spark.engine import Engine

    eng = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "u"))
    t.commit_clustered(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(50)]),
        cluster_by="k", n_files=5, stats_for=["k"],
    )
    eng._snapshot_tables["u"] = t
    eng.sql("ALTER TABLE u SET TBLPROPERTIES ('delete.mode'='merge-on-read')")
    before = _data_files(t)
    res = eng.sql("UPDATE u SET v = v * 2 WHERE k < 10").collect()[0]
    assert res["mode"] == "merge-on-read"
    assert all(p in _data_files(t) for p in before)
    rows = {r["k"]: r["v"] for r in eng.sql("SELECT * FROM u").collect()}
    assert rows[5] == 10.0 and rows[20] == 20.0 and len(rows) == 50


def test_non_canonical_table_path_canonicalized(spark, tmp_path):
    """VERDICT r6: tombstone file coordinates derive from a string-length
    offset over the table path — a trailing slash or `..` segment must be
    normalized at construction or MoR coordinates silently mismatch."""
    base = str(tmp_path / "nc")
    t = SnapshotTable(spark, base + "/")
    assert t.path == base
    t2 = SnapshotTable(spark, str(tmp_path / "x" / ".." / "nc"))
    assert t2.path == base
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(40)])
    t.commit_clustered(df, cluster_by="k", n_files=4, stats_for=["k"])
    t2.delete_where_mor(
        "k BETWEEN 0 AND 9", prune_column="k", prune_lower=0, prune_upper=9
    )
    assert t.read().count() == 30
    assert t.read().where("k < 10").count() == 0


def test_unpruned_mor_dml_counts_scanned_files(spark, tmp_path):
    # with no prune hint the MoR scan reads every visible file and must
    # say so, as the copy-on-write delete_where's files_rewritten does
    # (it used to report 0 scanned)
    t = SnapshotTable(spark, str(tmp_path / "w"))
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(60)])
    t.commit_clustered(df, cluster_by="k", n_files=6, stats_for=["k"])
    assert len(_data_files(t)) == 6
    info = t.delete_where_mor("v > 4.0")
    assert (info["files_scanned"], info["files_skipped"]) == (6, 0)
    info = t.update_where_mor("v < 2.0", {"v": "v + 100"})
    assert (info["files_scanned"], info["files_skipped"]) == (6, 0)
    got = sorted(r.v for r in t.read().collect())
    assert got == [2.0, 3.0, 4.0, 100.0, 101.0]
