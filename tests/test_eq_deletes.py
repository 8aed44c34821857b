"""Equality deletes — Iceberg v2's second delete-file kind: a keyed
DELETE writes just the key tuples (O(keys), NO scan of any data file) and
readers anti-join them against the data dirs that existed when the delete
committed (``applies_dirs`` — the data-sequence-number rule at manifest
granularity). ``merge_rows_mor`` composes an equality delete with an
append into the scan-free streaming-CDC upsert."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
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


def test_eq_delete_writes_no_data_and_reads_none(spark, tbl):
    before = _data_files(tbl)
    atimes_sig = {p: os.path.getmtime(p) for p in before}
    info = tbl.delete_where_eq("k", [5, 17, 99])
    assert info == {"version": 2, "n_keys": 3, "mode": "equality-delete"}
    # zero data files touched, zero added
    assert _data_files(tbl) == before
    assert {p: os.path.getmtime(p) for p in before} == atimes_sig
    got = tbl.read()
    assert got.count() == 97
    assert got.where("k IN (5, 17, 99)").count() == 0
    # history intact
    assert tbl.read(version=1).count() == 100


def test_rows_appended_after_the_delete_survive(spark, tbl):
    """The sequencing rule: an equality delete applies only to data that
    predates it — the CDC-upsert property."""
    tbl.delete_where_eq("k", [7])
    tbl.commit(spark.createDataFrame([Row(k=7, v=700.0)]), mode="append")
    got = tbl.read().where("k = 7").collect()
    assert len(got) == 1 and got[0]["v"] == 700.0
    # and a SECOND eq delete on the same key removes the new row too
    tbl.delete_where_eq("k", [7])
    assert tbl.read().where("k = 7").count() == 0


def test_multi_column_keys_and_dataframe_keys(spark, tbl):
    tbl.commit(
        spark.createDataFrame([Row(k=5, v=555.0)]), mode="append"
    )  # duplicate key row, different v
    tbl.delete_where_eq(
        ["k", "v"], [(5, 5.0), (6, 6.0)]
    )  # tuple keys: only the EXACT (5, 5.0) row dies
    got = tbl.read()
    # (5, 555.0) predates the delete (it IS in applies_dirs) but its
    # tuple is not a key — multi-column matching is exact
    assert [r["v"] for r in got.where("k = 5").collect()] == [555.0]
    assert got.where("k = 6").count() == 0
    # DataFrame-shaped keys
    keys = spark.createDataFrame([Row(k=10, v=10.0)])
    tbl.delete_where_eq(["k", "v"], keys)
    assert tbl.read().where("k = 10").count() == 0


def test_interplay_with_position_deletes_and_cow(spark, tbl):
    tbl.delete_where_mor("k BETWEEN 0 AND 9")
    tbl.delete_where_eq("k", [5, 15, 25])
    got = tbl.read()
    assert got.count() == 88  # 100 - 10 (MoR) - 2 (15, 25; 5 already gone)
    # a CoW delete now rewrites candidates THROUGH both delete kinds —
    # no resurrection
    tbl.delete_where("k BETWEEN 20 AND 29", prune_column="k",
                     prune_lower=20, prune_upper=29)
    got = tbl.read()
    assert got.count() == 79  # 88 - 9 (20..29 minus already-dead 25)
    assert got.where("k IN (5, 15, 25)").count() == 0
    # eq delete still applies to the untouched dirs
    assert got.where("k < 10").count() == 0


def test_compaction_materializes_and_vacuum_reclaims(spark, tbl):
    tbl.delete_where_eq("k", [1, 2, 3])
    eq_dir = tbl._manifest(2)["eq_deletes"][0]["dir"]
    assert os.path.isdir(os.path.join(tbl.path, eq_dir))
    tbl.compact(target_partitions=2)
    m = tbl._manifest(tbl.current_version())
    assert m.get("eq_deletes", []) == []
    assert tbl.read().count() == 97
    tbl.expire_snapshots(keep_last=1)
    assert not os.path.isdir(os.path.join(tbl.path, eq_dir))


def test_eq_delete_survives_rename(spark, tbl):
    """Keys are recorded by FIELD ID: renaming the key column does not
    detach outstanding deletes."""
    tbl.delete_where_eq("k", [42])
    tbl.rename_column("k", "key_id")
    got = tbl.read()
    assert got.where("key_id = 42").count() == 0
    assert got.count() == 99


def test_change_feed_over_eq_deletes(spark, tbl):
    from tests.test_change_feed import _check_feed

    tbl.delete_where_eq("k", [5, 17])
    feed = _check_feed(tbl, 1, 2)
    rows = feed.collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r["k"] for r in rows) == [5, 17]
    # append same key back, delete again: feed attributes each wave
    tbl.commit(spark.createDataFrame([Row(k=5, v=500.0)]), mode="append")
    tbl.delete_where_eq("k", [5])
    feed = _check_feed(tbl, 2, 4)
    dels = feed.where("_change_type = 'delete'").collect()
    assert [(r["k"], r["v"]) for r in dels] == [(5, 500.0)]
    _check_feed(tbl, 1, 4)


def test_merge_rows_mor_is_scan_free_upsert(spark, tbl):
    before = _data_files(tbl)
    src = spark.createDataFrame(
        [Row(k=1, v=-1.0), Row(k=200, v=200.0)]
    )
    info = tbl.merge_rows_mor(src, keys=["k"])
    assert info["mode"] == "merge-on-read"
    # no pre-existing data file touched; exactly one new dir appended
    after = _data_files(tbl)
    assert set(before) <= set(after)
    got = tbl.read()
    assert got.count() == 101
    assert got.where("k = 1").collect()[0]["v"] == -1.0
    assert got.where("k = 200").collect()[0]["v"] == 200.0
    # idempotent re-application converges (upsert semantics)
    tbl.merge_rows_mor(src, keys=["k"])
    got = tbl.read()
    assert got.count() == 101
    assert got.where("k = 1").collect()[0]["v"] == -1.0
    # feed across the merges stays multiset-correct
    from tests.test_change_feed import _check_feed

    _check_feed(tbl, 1, tbl.current_version())


def test_sql_routes_keyed_delete_and_merge_through_eq(spark, tbl):
    eng = Engine(spark=spark)
    eng._snapshot_tables["t_eq"] = tbl
    tbl.set_properties({"delete.mode": "merge-on-read"})
    res = eng.sql("DELETE FROM t_eq WHERE k IN (3, 4)").collect()[0]
    assert res["mode"] == "equality-delete" and res["n_keys"] == 2
    res = eng.sql("DELETE FROM t_eq WHERE k = 9").collect()[0]
    assert res["mode"] == "equality-delete"
    assert tbl.read().where("k IN (3, 4, 9)").count() == 0
    # a RANGE delete still takes the position-tombstone path
    res = eng.sql("DELETE FROM t_eq WHERE k BETWEEN 90 AND 94").collect()[0]
    assert res["mode"] == "merge-on-read"
    # compound conditions fall through too (never wrongly eq-routed)
    res = eng.sql("DELETE FROM t_eq WHERE k = 95 AND v >= 0").collect()[0]
    assert res["mode"] == "merge-on-read"
    assert tbl.read().count() == 100 - 3 - 5 - 1
    # plain-upsert MERGE routes scan-free under merge-on-read
    spark.createDataFrame(
        [Row(k=50, v=5000.0), Row(k=300, v=300.0)]
    ).createOrReplaceTempView("src_eq")
    res = eng.sql(
        "MERGE INTO t_eq USING src_eq AS s ON t_eq.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    ).collect()[0]
    assert res["mode"] == "merge-on-read"
    got = tbl.read()
    assert got.where("k = 50").collect()[0]["v"] == 5000.0
    assert got.where("k = 300").count() == 1
    # a DELETE-clause merge falls back to the CoW path
    res = eng.sql(
        "MERGE INTO t_eq USING src_eq AS s ON t_eq.k = s.k "
        "WHEN MATCHED THEN DELETE"
    ).collect()[0]
    assert "files_rewritten" in res.asDict()
    assert tbl.read().where("k IN (50, 300)").count() == 0


def test_auto_compaction_policy_triggers_exactly_at_threshold(spark, tbl):
    """compact.tombstone-ratio: below threshold → no-op; at/above →
    compaction materializes the deletes; reads stay correct through the
    transition."""
    tbl.set_properties({"compact.tombstone-ratio": "0.1"})
    # 5 tombstoned rows / 100 known rows = 0.05 < 0.1 → not due
    tbl.delete_where_mor("k < 5")
    st = tbl.maintenance_status()
    assert st["tombstone_rows"] == 5 and st["table_rows_known"] == 100
    assert st["ratio"] == pytest.approx(0.05) and not st["due"]
    assert tbl.auto_compact() is None
    # +5 more (total 10/100 = 0.1 ≥ 0.1) → due; auto_compact fires
    tbl.delete_where_mor("k BETWEEN 5 AND 9")
    st = tbl.maintenance_status()
    assert st["ratio"] == pytest.approx(0.10) and st["due"]
    before = sorted(r["k"] for r in tbl.read().collect())
    v = tbl.auto_compact(stats_for=["k"])
    assert v is not None
    m = tbl._manifest(v)
    assert m["delete_dirs"] == [] and m.get("eq_deletes", []) == []
    assert m["mode"] == "compact"
    assert sorted(r["k"] for r in tbl.read().collect()) == before
    # debt cleared: policy quiesces
    assert tbl.maintenance_status()["ratio"] == 0.0
    assert tbl.auto_compact() is None


def test_max_eq_deletes_knob_and_sink_wiring(spark, tmp_path):
    """compact.max-eq-deletes bounds the read-time anti-join count; the
    streaming sink runs the policy after each batch."""
    from oss_data_lake_spark.streaming.snapshot_sink import commit_batch

    t = SnapshotTable(spark, str(tmp_path / "s"))
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(50)]),
        stats_for=["k"],
    )
    t.set_properties({"compact.max-eq-deletes": "3"})
    t.delete_where_eq("k", [1])
    t.delete_where_eq("k", [2])
    assert not t.maintenance_status()["due"]
    t.delete_where_eq("k", [3])
    assert t.maintenance_status()["due"]
    # the sink path: commit a batch, then the policy compacts
    commit_batch(t, spark.createDataFrame([Row(k=100, v=100.0)]), 1, "s1")
    v = t.auto_compact(stats_for=["k"])
    assert v is not None
    assert t._manifest(v).get("eq_deletes", []) == []
    got = t.read()
    assert got.count() == 48  # 50 - 3 deleted + 1 appended
    assert got.where("k IN (1,2,3)").count() == 0


def test_eq_feed_arm_prunes_by_key_stats(spark, tbl):
    """Round 8: the change feed's equality arm opens only the files the
    key column's footer stats/blooms admit — a 10-file k-clustered
    table with a 2-key delete scans ~2 files, not 10; the feed rows
    stay exact."""
    t = tbl
    t.delete_where_eq("k", [7, 93])
    m = t._manifest(t.current_version())
    entry = m["eq_deletes"][0]
    sel = t._eq_arm_selection(m, entry)
    d = m["data_dirs"][0]
    admitted = sel[d]
    assert admitted is not None and 1 <= len(admitted) <= 3
    # and the arm's OUTPUT is unchanged by the pruning
    feed = t.read_change_feed(1)
    dels = sorted(
        r["k"] for r in feed.where("_change_type = 'delete'").collect()
    )
    assert dels == [7, 93]

    # an oversized key set falls back to the whole applies scan
    t2 = SnapshotTable(spark, str(t.path))
    old = SnapshotTable._EQ_ARM_PRUNE_MAX_KEYS
    try:
        SnapshotTable._EQ_ARM_PRUNE_MAX_KEYS = 1
        sel = t2._eq_arm_selection(m, entry)
        assert sel[d] is None
    finally:
        SnapshotTable._EQ_ARM_PRUNE_MAX_KEYS = old


def test_sql_multi_conjunct_delete_routes_scan_free(spark, tmp_path):
    """Round 8: a conjunction of col = lit / col IN (...) terms on
    distinct columns routes as ONE composite-key equality delete
    (IN lists cross-product); non-eq conjuncts keep the scan path."""
    t = SnapshotTable(spark, str(tmp_path / "mc"))
    t.commit(
        spark.createDataFrame(
            [
                Row(k=i, g="a" if i % 2 == 0 else "b", v=float(i))
                for i in range(20)
            ]
        ),
        stats_for=["k"],
    )
    t.set_properties({"delete.mode": "merge-on-read"})
    eng = Engine(spark=spark)
    eng._snapshot_tables["mc"] = t

    res = eng.sql("DELETE FROM mc WHERE k = 4 AND g = 'a'").collect()[0]
    assert res["mode"] == "equality-delete" and res["n_keys"] == 1
    assert t.read().where("k = 4").count() == 0

    # IN x eq cross product: (6,'a'), (8,'a') match; (7,'a') no row
    res = eng.sql(
        "DELETE FROM mc WHERE k IN (6, 7, 8) AND g = 'a'"
    ).collect()[0]
    assert res["mode"] == "equality-delete" and res["n_keys"] == 3
    assert sorted(r["k"] for r in t.read().collect()) == sorted(
        set(range(20)) - {4, 6, 8}
    )
    # rows with g='b' at those keys were never touched
    assert t.read().where("k = 7").count() == 1

    # a range conjunct keeps the position path
    res = eng.sql(
        "DELETE FROM mc WHERE g = 'b' AND k < 3"
    ).collect()[0]
    assert res["mode"] == "merge-on-read"
    assert t.read().where("k = 1").count() == 0


# --------------------------------------------- typed literals via SQL
#
# The SQL route reads each literal from Spark's parse as a raw Python
# str/int/float; it must be coerced to the column's declared type, and a
# literal that cannot be coerced must take the position-delete path.


@pytest.fixture()
def typed_tbl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "typed"))
    rows = [
        Row(
            k=i,
            x=float(i * 100),
            ts=datetime.datetime(2024, 1, 1 + i, 0, 0, 0),
            d=datetime.date(2024, 1, 1 + i),
        )
        for i in range(10)
    ]
    t.commit(spark.createDataFrame(rows), stats_for=["k"])
    t.set_properties({"delete.mode": "merge-on-read"})
    return t


def test_typed_literals_route_through_equality_delete(spark, typed_tbl):
    """DELETE ... WHERE <col> = TIMESTAMP/DATE/numeric literal must keep
    the scan-free equality route under merge-on-read — parsed literals
    are raw Python str/int, the column types are timestamp/date/double."""
    eng = Engine(spark=spark)
    eng._snapshot_tables["typed"] = typed_tbl

    res = eng.sql(
        "DELETE FROM typed WHERE ts = TIMESTAMP '2024-01-02 00:00:00'"
    ).collect()[0]
    assert res["mode"] == "equality-delete" and res["n_keys"] == 1
    res = eng.sql("DELETE FROM typed WHERE d = DATE '2024-01-03'").collect()[0]
    assert res["mode"] == "equality-delete"
    # integer literal against a DOUBLE column
    res = eng.sql("DELETE FROM typed WHERE x = 400").collect()[0]
    assert res["mode"] == "equality-delete"
    # string timestamp without the TIMESTAMP keyword (k=5's ts)
    res = eng.sql("DELETE FROM typed WHERE ts = '2024-01-06 00:00:00'").collect()[0]
    assert res["mode"] == "equality-delete"
    got = sorted(r["k"] for r in typed_tbl.read().collect())
    assert got == [0, 3, 6, 7, 8, 9]

    # IN-list of typed literals (k=6, k=7)
    res = eng.sql(
        "DELETE FROM typed WHERE d IN (DATE '2024-01-07', DATE '2024-01-08')"
    ).collect()[0]
    assert res["mode"] == "equality-delete" and res["n_keys"] == 2
    assert sorted(r["k"] for r in typed_tbl.read().collect()) == [0, 3, 8, 9]


def test_unconvertible_literal_falls_back_to_position_path(spark, typed_tbl):
    eng = Engine(spark=spark)
    eng._snapshot_tables["typed"] = typed_tbl
    # 'abc' cannot coerce to double → position-delete path, zero matches
    res = eng.sql("DELETE FROM typed WHERE x = 'abc'").collect()[0]
    assert res["mode"] == "merge-on-read"
    assert typed_tbl.read().count() == 10


def test_api_eq_delete_coerces_string_keys(spark, typed_tbl):
    info = typed_tbl.delete_where_eq("ts", ["2024-01-04 00:00:00"])
    assert info["mode"] == "equality-delete" and info["n_keys"] == 1
    assert typed_tbl.read().where("k = 3").count() == 0
    info = typed_tbl.delete_where_eq("d", ["2024-01-09"])
    assert typed_tbl.read().where("k = 8").count() == 0
    info = typed_tbl.delete_where_eq("x", [100])  # int on double col
    assert typed_tbl.read().where("k = 1").count() == 0


def test_bool_literal_delete_never_coerces_garbage_to_false(
    spark, tmp_path
):
    """Round-8 review finding: DELETE ... WHERE flag = 'oops' must NOT
    silently tombstone every flag=false row — the unconvertible literal
    routes to the position-delete path (SQL cast semantics: NULL
    matches nothing)."""
    t = SnapshotTable(spark, str(tmp_path / "b"))
    t.commit(
        spark.createDataFrame(
            [Row(k=i, flag=(i % 2 == 0)) for i in range(10)]
        )
    )
    t.set_properties({"delete.mode": "merge-on-read"})
    eng = Engine(spark=spark)
    eng._snapshot_tables["b"] = t
    res = eng.sql("DELETE FROM b WHERE flag = 'oops'").collect()[0]
    assert res["mode"] == "merge-on-read"  # position path, not eq
    assert t.read().count() == 10          # and nothing matched
    # real boolean strings still take the scan-free route
    res = eng.sql("DELETE FROM b WHERE flag = 'true'").collect()[0]
    assert res["mode"] == "equality-delete"
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 5, 7, 9]


def test_overscaled_decimal_literal_deletes_nothing(spark, tmp_path):
    """``price = 1.234`` on a decimal(10,2) column equals no stored value.
    Rounding the key to 1.23 would tombstone the 1.23 rows; the literal
    takes the position-delete path instead, which matches nothing."""
    from decimal import Decimal

    t = SnapshotTable(spark, str(tmp_path / "p"))
    t.commit(
        spark.createDataFrame(
            [(1, Decimal("1.23")), (2, Decimal("1.24"))],
            "k int, price decimal(10,2)",
        )
    )
    t.set_properties({"delete.mode": "merge-on-read"})
    eng = Engine(spark=spark)
    eng._snapshot_tables["p"] = t
    res = eng.sql("DELETE FROM p WHERE price = 1.234").collect()[0]
    assert res["mode"] == "merge-on-read"  # position path, not eq
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    # an exact literal still takes the scan-free route
    res = eng.sql("DELETE FROM p WHERE price = 1.240").collect()[0]
    assert res["mode"] == "equality-delete"
    assert [r["k"] for r in t.read().collect()] == [1]
