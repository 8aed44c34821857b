"""SELECT-able metadata tables — Trino-Iceberg's ``t$files`` /
``$history`` / ``$snapshots`` / ``$partitions`` spelling (the
reference's query engine exposes exactly these over its Iceberg
catalog). Everything answers from manifests, path segments, and spilled
stats references' aggregates — no data-file reads — and the views are
ordinary DataFrames, so users can filter/join/aggregate table metadata
with plain SQL (find big partitions, audit commit cadence, count
invisible files) instead of bespoke DESCRIBE parsing."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), d=f"2024-01-{1 + i % 3:02d}") for i in range(60)]
    )
    t.commit(df, partition_by=["d"], stats_for=["k"])
    t.commit(
        spark.createDataFrame(
            [Row(k=100 + i, v=1.0, d="2024-01-04") for i in range(10)]
        ),
        mode="append",
        partition_by=["d"],
        stats_for=["k"],
    )
    e._snapshot_tables["t"] = t
    return e, t


def test_history_and_snapshots_tables(spark, eng):
    e, t = eng
    rows = e.sql(
        "SELECT version, operation FROM t$history ORDER BY version"
    ).collect()
    assert [(r["version"], r["operation"]) for r in rows] == [
        (1, "overwrite"),
        (2, "append"),
    ]
    snaps = e.sql(
        "SELECT version, is_current, n_data_dirs FROM t$snapshots "
        "ORDER BY version"
    ).collect()
    assert [r["is_current"] for r in snaps] == [False, True]
    assert snaps[1]["n_data_dirs"] == 2
    # metadata views are plain relations: joins work
    j = e.sql(
        "SELECT h.version FROM t$history h JOIN t$snapshots s "
        "ON h.version = s.version WHERE s.is_current"
    ).collect()
    assert [r["version"] for r in j] == [2]


def test_files_table_tracks_visibility(spark, eng):
    e, t = eng
    total = e.sql("SELECT count(*) AS n FROM t$files").collect()[0]["n"]
    assert total >= 4  # 3 + 1 partition dirs, >=1 file each
    assert (
        e.sql("SELECT count(*) AS n FROM t$files WHERE NOT visible")
        .collect()[0]["n"]
        == 0
    )
    e.sql("DELETE FROM t WHERE d = '2024-01-04'")
    after = e.sql(
        "SELECT count(*) AS n FROM t$files WHERE visible"
    ).collect()[0]["n"]
    assert after < total
    # rows column comes from harvested stats where present
    known = e.sql(
        "SELECT sum(rows) AS s FROM t$files WHERE visible AND rows IS NOT NULL"
    ).collect()[0]["s"]
    assert known == 60


def test_partitions_table_counts_files_per_tuple(spark, eng):
    e, t = eng
    rows = e.sql(
        "SELECT partition, n_files FROM t$partitions ORDER BY partition"
    ).collect()
    parts = {r["partition"]: r["n_files"] for r in rows}
    assert set(parts) == {
        "d=2024-01-01", "d=2024-01-02", "d=2024-01-03", "d=2024-01-04",
    }
    assert all(n >= 1 for n in parts.values())
    # agrees with SHOW PARTITIONS (same path-segment source)
    shown = [r["partition"] for r in e.sql("SHOW PARTITIONS t").collect()]
    assert shown == sorted(parts)


def test_metadata_table_errors(spark, eng):
    e, _t = eng
    with pytest.raises(ValueError, match="unregistered"):
        e.sql("SELECT * FROM nosuch$files")
    with pytest.raises(ValueError, match="unknown metadata table"):
        _t.metadata_df("nope")
    # a literal containing t$files stays data
    assert (
        e.sql("SELECT 't$files is a string' AS s").collect()[0]["s"]
        == "t$files is a string"
    )


def test_metadata_table_name_resolves_case_insensitively(spark, eng):
    """``T$files`` reads the table registered as ``t``, as ``FROM T``
    does (it raised "unregistered snapshot table 'T'")."""
    e, _t = eng
    want = e.sql("SELECT count(*) AS n FROM t$files").collect()[0]["n"]
    assert want > 0
    assert e.sql("SELECT count(*) AS n FROM T$files").collect()[0]["n"] == want
    assert e.sql("SELECT count(*) AS n FROM T$History").collect()[0]["n"] == 2


def test_files_table_reads_through_spilled_stats(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "sp"))
    t.commit(spark.range(5).selectExpr("id AS k"), stats_for=["k"])
    t.set_properties({"stats.spill.file-threshold": "1"})
    t.commit(
        spark.range(100).selectExpr("id + 10 AS k").repartition(4),
        mode="append",
        stats_for=["k"],
    )
    e._snapshot_tables["sp"] = t
    rows = e.sql(
        "SELECT sum(rows) AS s, count(*) AS n FROM sp$files"
    ).collect()[0]
    assert rows["n"] >= 5 and rows["s"] == 105


def test_metadata_tables_time_travel(spark, eng):
    e, t = eng
    e.sql("DELETE FROM t WHERE d = '2024-01-04'")
    now = e.sql(
        "SELECT count(*) AS n FROM t$files WHERE visible"
    ).collect()[0]["n"]
    before = e.sql(
        "SELECT count(*) AS n FROM t$files FOR VERSION AS OF 2 "
        "WHERE visible"
    ).collect()[0]["n"]
    assert before > now
    parts_v1 = [
        r["partition"]
        for r in e.sql(
            "SELECT partition FROM t$partitions FOR VERSION AS OF 1"
        ).collect()
    ]
    assert "d=2024-01-04" not in parts_v1  # the 01-04 rows arrived at v2


def test_log_metadata_tables_scope_to_as_of(spark, eng):
    """Review finding: t$snapshots/t$history FOR VERSION AS OF n must
    scope the log, not silently return everything."""
    e, t = eng
    rows = e.sql(
        "SELECT version, is_current FROM t$snapshots "
        "FOR VERSION AS OF 1 ORDER BY version"
    ).collect()
    assert [(r["version"], r["is_current"]) for r in rows] == [(1, True)]
    hist = e.sql(
        "SELECT count(*) AS n FROM t$history FOR VERSION AS OF 1"
    ).collect()[0]["n"]
    assert hist == 1
