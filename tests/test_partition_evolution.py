"""Partition-spec evolution (Iceberg's ALTER TABLE ... ADD/DROP
PARTITION FIELD, metadata-only) and SHOW PARTITIONS introspection from
file-path segments — VERDICT r7 'What's missing' #4.

Reference parity: Iceberg partition evolution semantics (old dirs keep
the spec they were written under; future writes adopt the declared
spec; reads and pruning span both generations because every dir carries
its own spec). Also: policy-driven compaction keeps the table's spec, and
time transforms accept only timestamp/date sources."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.snapshots import SnapshotTable


def _rows(days: range, cat_mod: int = 2):
    return [
        Row(
            k=i,
            v=float(i),
            cat="even" if i % cat_mod == 0 else "odd",
            ts=datetime.datetime(2024, 1, 1 + (i % len(days)) , 0, 0, 0),
        )
        for i in days
    ]


@pytest.fixture()
def evolved(spark, tmp_path):
    """cat-partitioned generation 1, then days(ts) declared via SQL,
    then an engine INSERT writing generation 2 under the new spec."""
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame(_rows(range(8))),
        partition_by=["cat"],
        stats_for=["k"],
    )
    eng = Engine(spark=spark)
    eng._snapshot_tables["t"] = t
    return t, eng


def test_sql_partition_evolution_changes_future_writes_only(spark, evolved):
    t, eng = evolved
    assert t.current_partition_by() == ["cat"]
    v = eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)").collect()[0]
    assert v["version"] == t.current_version()
    assert t.current_partition_by() == ["cat", "days(ts)"]
    eng.sql("ALTER TABLE t DROP PARTITION FIELD cat")
    assert t.current_partition_by() == ["days(ts)"]

    eng.sql(
        "INSERT INTO t VALUES (100, 1.0, 'even', TIMESTAMP '2024-02-01 00:00:00')"
    )
    m = t._manifest(t.current_version())
    specs = m.get("partition_specs", {})
    gen1 = m["data_dirs"][0]
    gen2 = m["data_dirs"][-1]
    # the OLD dir keeps its identity spec; the NEW dir follows days(ts)
    assert specs.get(gen1) == ["cat"]
    assert specs.get(gen2) == ["_p_days_ts"]
    assert t.read().count() == 9


def test_pruning_spans_both_generations(spark, evolved):
    t, eng = evolved
    eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)")
    eng.sql("ALTER TABLE t DROP PARTITION FIELD cat")
    for day in (1, 2, 3):
        eng.sql(
            f"INSERT INTO t VALUES ({200 + day}, 2.0, 'odd', "
            f"TIMESTAMP '2024-03-0{day} 00:00:00')"
        )
    # a ts point predicate prunes gen-2 files through the hidden
    # transform and admits gen-1 only where its (unpartitioned-on-ts)
    # stats cannot refuse
    sel, n_sel, n_skip = t.plan_pruned(
        [("ts", datetime.datetime(2024, 3, 2), datetime.datetime(2024, 3, 2))]
    )
    assert n_skip >= 2  # the other two gen-2 day files are provably out
    got = t.read().where("ts = TIMESTAMP '2024-03-02 00:00:00'").collect()
    assert [r["k"] for r in got] == [202]
    # a cat predicate still prunes the gen-1 identity dirs
    sel, n_sel, n_skip = t.plan_pruned([("cat", "even", "even")])
    assert n_skip >= 1


def test_show_partitions_lists_both_generations_without_data_read(
    spark, evolved
):
    t, eng = evolved
    parts = t.show_partitions()
    assert parts == ["cat=even", "cat=odd"]
    eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)")
    eng.sql("ALTER TABLE t DROP PARTITION FIELD cat")
    eng.sql(
        "INSERT INTO t VALUES (300, 3.0, 'odd', TIMESTAMP '2024-04-05 00:00:00')"
    )
    got = eng.sql("SHOW PARTITIONS t").collect()
    vals = sorted(r["partition"] for r in got)
    assert vals == ["_p_days_ts=2024-04-05", "cat=even", "cat=odd"]
    # introspection is path-segment-only: every listed tuple exists as
    # an on-disk directory segment
    for p in vals:
        seg = p.split("/")[0]
        found = any(
            seg in dp
            for dp, _dn, _fs in os.walk(t.path)
        )
        assert found, seg


def test_spec_evolution_validates_eagerly(spark, evolved):
    t, eng = evolved
    with pytest.raises(ValueError, match="not in table schema"):
        eng.sql("ALTER TABLE t ADD PARTITION FIELD days(nope)")
    with pytest.raises(ValueError, match="timestamp/date"):
        eng.sql("ALTER TABLE t ADD PARTITION FIELD days(cat)")
    with pytest.raises(ValueError, match="already present"):
        eng.sql("ALTER TABLE t ADD PARTITION FIELD cat")
    with pytest.raises(ValueError, match="no such partition field"):
        eng.sql("ALTER TABLE t DROP PARTITION FIELD bucket(4, k)")
    # whitespace variants address the same produced field
    eng.sql("ALTER TABLE t ADD PARTITION FIELD bucket(4, k)")
    eng.sql("ALTER TABLE t DROP PARTITION FIELD bucket( 4 , k )")
    assert t.current_partition_by() == ["cat"]


def test_rename_column_follows_declared_spec(spark, evolved):
    t, eng = evolved
    eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)")
    t.rename_column("ts", "event_ts")
    assert t.current_partition_by() == ["cat", "days(event_ts)"]
    eng.sql(
        "INSERT INTO t VALUES (400, 4.0, 'even', TIMESTAMP '2024-05-01 00:00:00')"
    )
    assert t.read().where("k = 400").count() == 1


def test_drop_all_partition_fields_declares_unpartitioned(spark, evolved):
    t, eng = evolved
    eng.sql("ALTER TABLE t DROP PARTITION FIELD cat")
    assert t.current_partition_by() == []
    eng.sql(
        "INSERT INTO t VALUES (500, 5.0, 'odd', TIMESTAMP '2024-06-01 00:00:00')"
    )
    m = t._manifest(t.current_version())
    assert not m.get("partition_specs", {}).get(m["data_dirs"][-1])
    # ...and it STAYS declared: the sticky inference must not resurrect
    # the dropped layout from the older dirs
    assert t.current_partition_by() == []


def test_declared_spec_travels_with_clone(spark, evolved, tmp_path):
    t, eng = evolved
    eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)")
    clone = t.shallow_clone_to(str(tmp_path / "c"))
    assert clone.current_partition_by() == ["cat", "days(ts)"]


def test_plain_commit_preserves_declared_spec(spark, evolved):
    """Round-8 review finding: a direct t.commit()/compact() must not
    erase the ALTER-declared spec (commit() now carries it like
    properties)."""
    t, eng = evolved
    eng.sql("ALTER TABLE t ADD PARTITION FIELD days(ts)")
    declared = ["cat", "days(ts)"]
    assert t.current_partition_by() == declared
    # a plain unpartitioned append does NOT erase the declaration
    t.commit(
        spark.createDataFrame(
            [Row(k=900, v=9.0, cat="odd",
                 ts=__import__("datetime").datetime(2024, 7, 1))]
        ),
        mode="append",
    )
    assert t.current_partition_by() == declared
    # neither does a compaction
    t.compact(target_partitions=1)
    assert t.current_partition_by() == declared


@pytest.mark.parametrize(
    "spec",
    [["cat"], ["days(ts)"]],
    ids=["identity", "hidden-days"],
)
def test_auto_compact_preserves_partition_layout(spark, tmp_path, spec):
    """Policy-driven compaction keeps the table's partition spec; before
    the fix it rewrote the table unpartitioned and every later commit
    adopting current_partition_by() accreted unpartitioned dirs."""
    t = SnapshotTable(spark, str(tmp_path / "p"))
    rows = [
        Row(
            k=i,
            v=float(i),
            cat="even" if i % 2 == 0 else "odd",
            ts=datetime.datetime(2024, 1, 1 + (i % 3), 0, 0, 0),
        )
        for i in range(40)
    ]
    t.commit(spark.createDataFrame(rows), partition_by=spec, stats_for=["k"])
    assert t.current_partition_by() == spec
    t.set_properties(
        {"delete.mode": "merge-on-read", "compact.tombstone-ratio": "0.1"}
    )
    t.delete_where_mor("k < 10")
    assert t.maintenance_status()["due"]
    v = t.auto_compact(stats_for=["k", "cat"])
    assert v is not None
    assert t._manifest(v)["mode"] == "compact"
    # the layout survived the policy compaction
    assert t.current_partition_by() == spec
    assert sorted(r["k"] for r in t.read().collect()) == list(range(10, 40))
    # and a later engine-level append still follows the spec
    t.commit(
        spark.createDataFrame(
            [Row(k=99, v=9.0, cat="odd", ts=datetime.datetime(2024, 1, 2))]
        ),
        mode="append",
        partition_by=t.current_partition_by(),
    )
    assert t.current_partition_by() == spec
    assert t.read().count() == 31


def test_time_transform_rejects_non_temporal_source(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "tt"))
    df = spark.createDataFrame([Row(k=1, s="2024-01-01")])
    with pytest.raises(ValueError, match="timestamp/date"):
        t.commit(df, partition_by=["days(s)"])
    # timestamp source still fine
    df2 = spark.createDataFrame(
        [Row(k=1, ts=datetime.datetime(2024, 1, 1))]
    )
    v = t.commit(df2, partition_by=["days(ts)"])
    assert v == 1
