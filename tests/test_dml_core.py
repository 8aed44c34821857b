"""The row-level DML core: every DELETE, UPDATE and MERGE runs one
optimistic attempt loop that pins the head, reads its manifest once and
publishes through one commit build. Pinned here by metadata cost
(manifest reads per SQL statement) and by the retry each writer takes
when another commit lands between its plan and its publish."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources import catalog
from oss_data_lake_spark.sources.snapshots import SnapshotTable

MODES = ("copy-on-write", "merge-on-read")

STATEMENTS = {
    "range_delete": "DELETE FROM t WHERE k BETWEEN 20 AND 25",
    "equality_delete": "DELETE FROM t WHERE k = 5",
    "range_update": "UPDATE t SET v = v + 1 WHERE k BETWEEN 20 AND 25",
    "subquery_delete": "DELETE FROM t WHERE k IN (SELECT k FROM s)",
    "upsert_merge": (
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
    ),
}

# statements whose reads also grow with the SQL layer's own lookups are
# bounded by their counts from when each entry point re-read the
# manifest per schema, constraint, layout and watermark lookup
BEFORE_CORE = {
    ("subquery_delete", "copy-on-write"): 17,
    ("subquery_delete", "merge-on-read"): 17,
    ("upsert_merge", "copy-on-write"): 15,
    ("upsert_merge", "merge-on-read"): 10,
}


def _seven_versions(spark, path: str, mode: str) -> SnapshotTable:
    """7 appends of 2 files each, ``delete.mode`` set by the first."""
    t = SnapshotTable(spark, path)
    for i in range(7):
        rows = [Row(k=i * 10 + j, v=float(j)) for j in range(10)]
        t.commit(
            spark.createDataFrame(rows).coalesce(2),
            mode="append",
            stats_for=["k"],
            props_update={"delete.mode": mode} if i == 0 else None,
        )
    return t


@pytest.mark.parametrize("mode", MODES)
@pytest.mark.parametrize("stmt", sorted(STATEMENTS))
def test_sql_dml_reads_the_pinned_manifest_once(
    spark, tmp_path, monkeypatch, stmt, mode
):
    t = _seven_versions(spark, str(tmp_path / "t"), mode)
    assert t.current_version() == 7
    e = Engine(spark=spark)
    e._snapshot_tables["t"] = t
    spark.createDataFrame(
        [Row(k=k, v=99.0) for k in (3, 21, 500)]
    ).createOrReplaceTempView("s")
    reads = []
    read = catalog.LocalFsCommitProtocol.read_manifest

    def counted(self, version):
        reads.append(version)
        return read(self, version)

    monkeypatch.setattr(
        catalog.LocalFsCommitProtocol, "read_manifest", counted
    )
    try:
        res = e.sql(STATEMENTS[stmt]).collect()[0]
    finally:
        spark.catalog.dropTempView("s")
    assert res["version"] == 8
    if (stmt, mode) in BEFORE_CORE:
        assert len(reads) < BEFORE_CORE[stmt, mode]
    else:
        assert len(reads) <= 6, reads


def _land_append_before_publish(t: SnapshotTable, df) -> None:
    """Make the table's next commit lose its race once: an append by
    another writer lands first, between the statement's plan and its
    publish."""
    real = t.protocol.commit

    def commit(build):
        t.protocol.commit = real
        t.commit(df, mode="append")
        return real(build)

    t.protocol.commit = commit


def _rows(t: SnapshotTable) -> list[tuple]:
    return sorted(tuple(r) for r in t.read().collect())


WRITERS = {
    "cow_delete": lambda t: t.delete_where("k < 3"),
    "positions_delete": lambda t: t.delete_where_mor("k < 3"),
    "positions_update": lambda t: t.update_where_mor(
        "k < 3", {"v": "v + 100"}
    ),
    "eq_delete": lambda t: t.delete_where_eq("k", [1, 2]),
    "mor_upsert": lambda t: t.merge_rows_mor(
        t.spark.createDataFrame([Row(k=1, v=-1.0), Row(k=50, v=-5.0)]),
        keys=["k"],
    ),
}


@pytest.mark.parametrize("writer", sorted(WRITERS))
def test_each_writer_replans_after_a_lost_race(spark, tmp_path, writer):
    def base(name: str) -> SnapshotTable:
        t = SnapshotTable(spark, str(tmp_path / name))
        t.commit(
            spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)])
        )
        return t

    # the concurrent append carries keys the statement matches, so a
    # statement that did not replan would miss them
    racer = spark.createDataFrame([Row(k=1, v=10.0), Row(k=20, v=20.0)])
    raced = base("raced")
    parent = raced.current_version()
    _land_append_before_publish(raced, racer)
    info = WRITERS[writer](raced)
    assert info["version"] == parent + 2
    assert raced.current_version() == parent + 2
    assert raced._manifest(parent + 1)["mode"] == "append"

    serial = base("serial")
    serial.commit(racer, mode="append")
    WRITERS[writer](serial)
    assert _rows(raced) == _rows(serial)
