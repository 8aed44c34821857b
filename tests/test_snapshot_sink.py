"""Exactly-once streaming appends into SnapshotTable
(streaming/snapshot_sink.py + the txn writer-identity protocol).

Idempotence is pinned at three levels: direct double commit, simulated
crash re-delivery of a foreachBatch id, and a stream restart from the same
checkpoint — plus the composition with file-skipping stats per batch.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources.snapshots import SnapshotTable
from oss_data_lake_spark.streaming.snapshot_sink import (
    commit_batch,
    start_snapshot_sink,
)


def _batch(spark, lo, hi):
    return spark.createDataFrame(
        [Row(k=i, v=float(i)) for i in range(lo, hi)]
    )


def test_txn_commit_is_idempotent(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    v1 = t.commit(_batch(spark, 0, 10), txn_app="s1", txn_version=0)
    # re-delivery of the same batch id: no-op returning the applied version
    v1b = t.commit(
        _batch(spark, 0, 10), mode="append", txn_app="s1", txn_version=0
    )
    assert v1b == v1
    assert t.read().count() == 10
    # a LOWER version (stale replay) is also refused
    v1c = t.commit(
        _batch(spark, 0, 5), mode="append", txn_app="s1", txn_version=0
    )
    assert v1c == v1 and t.read().count() == 10
    # the next batch id applies
    t.commit(_batch(spark, 10, 15), mode="append", txn_app="s1", txn_version=1)
    assert t.read().count() == 15
    # a DIFFERENT app's numbering is independent
    t.commit(_batch(spark, 15, 18), mode="append", txn_app="s2", txn_version=0)
    assert t.read().count() == 18


def test_txn_args_must_pair(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t2"))
    with pytest.raises(ValueError):
        t.commit(_batch(spark, 0, 1), txn_app="s1")


def test_crash_redelivery_via_commit_batch(spark, tmp_path):
    """Simulated foreachBatch crash: the sink wrote batch 1, the
    checkpoint didn't record it, the restarted stream re-delivers it."""
    t = SnapshotTable(spark, str(tmp_path / "t3"))
    commit_batch(t, _batch(spark, 0, 100), 0, "sink")
    commit_batch(t, _batch(spark, 100, 150), 1, "sink")
    before = t.read().count()
    commit_batch(t, _batch(spark, 100, 150), 1, "sink")  # re-delivery
    assert t.read().count() == before == 150


def test_stream_restart_does_not_duplicate(spark, tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, 0, 200).coalesce(1).write.parquet(str(landing / "b1.parquet"))

    glob_path = str(landing) + "/*/"

    def drain():
        src = spark.readStream.schema("k long, v double").parquet(glob_path)
        q = start_snapshot_sink(
            spark, src, table_path, ckpt, sink_id="ingest",
            stats_for=["k"],
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    drain()
    t = SnapshotTable(spark, table_path)
    assert t.read().count() == 200

    _batch(spark, 200, 300).coalesce(1).write.parquet(str(landing / "b2.parquet"))
    drain()  # restart from the same checkpoint
    assert t.read().count() == 300
    drain()  # nothing new: no duplicates, no new data
    assert t.read().count() == 300

    # every batch landed as a versioned snapshot with a writer identity
    txns = [m.get("txn") for m in t.versions()]
    assert all(x and x["app"] == "ingest" for x in txns)
    # per-batch stats compose: the point/range scan path sees the files
    _sel, n_sel, n_skip = t.plan_range_scan("k", 0, 10)
    assert n_sel >= 1 and n_sel + n_skip == sum(
        len(fs) for fs in t._manifest(t.current_version())["file_stats"].values()
    )
    assert t.read_between("k", 250, 259).count() == 10


def test_lakehouse_loop_stream_compact_matview(spark, tmp_path):
    """The full loop: streaming micro-batches land exactly-once in a
    versioned table; OPTIMIZE-style compaction re-clusters the accreted
    small files (regaining tight bounds); an incremental MV refreshes from
    the table and survives the compaction (rewritten history → loud full
    rebuild, same values)."""
    from pyspark.sql import functions as F

    from oss_data_lake_spark.operators.matview import IncrementalAggregate

    landing = tmp_path / "landing"
    landing.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    glob_path = str(landing) + "/*/"

    def drain():
        src = spark.readStream.schema("k long, v double").parquet(glob_path)
        q = start_snapshot_sink(
            spark, src, table_path, ckpt, sink_id="loop", stats_for=["k"]
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    _batch(spark, 0, 500).coalesce(4).write.parquet(str(landing / "b1.parquet"))
    drain()
    t = SnapshotTable(spark, table_path)
    mv = IncrementalAggregate(
        t, str(tmp_path / "mv"), group_by=["k"], measures={"sum_v": "v"}
    )
    assert mv.refresh()["mode"] == "full"

    _batch(spark, 500, 900).coalesce(4).write.parquet(str(landing / "b2.parquet"))
    drain()
    assert mv.refresh()["mode"] == "incremental"

    # streaming accreted small unordered files: compact + re-cluster
    n_files_before = sum(
        len(fs)
        for fs in t._manifest(t.current_version())["file_stats"].values()
    )
    t.compact(target_partitions=4, cluster_by="k")
    _sel, n_sel, n_skip = t.plan_range_scan("k", 0, 224)
    assert n_sel == 1 and n_skip == 3, "re-clustered files must prune hard"
    assert t.read().count() == 900

    # compaction is dataChange=false since round 7: the MV refreshes
    # through the (empty) change feed instead of a full rebuild —
    # identical values at zero scan cost
    info = mv.refresh()
    assert info["mode"] == "retract"
    expect = [
        tuple(r)
        for r in t.read()
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("k")
        .collect()
    ]
    got = [
        (r["k"], r["n_rows"])
        for r in mv.read().orderBy("k").collect()
    ]
    assert got == expect
    assert n_files_before >= 4  # the loop actually exercised small files


def test_concurrent_commits_none_lost(spark, tmp_path):
    """Optimistic concurrency: N threads racing appends to one table must
    all land — distinct versions, every row present, no silent clobber
    (the pre-round-5 last-writer-wins manifest race)."""
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "race"))
    t.commit(_batch(spark, 0, 10))

    def appender(i: int) -> int:
        return t.commit(
            _batch(spark, 100 * (i + 1), 100 * (i + 1) + 10), mode="append"
        )

    with ThreadPoolExecutor(max_workers=8) as ex:
        versions = list(ex.map(appender, range(8)))

    assert sorted(versions) == list(range(2, 10)), versions
    assert t.current_version() == 9
    assert t.read().count() == 90
    ks = {r["k"] for r in t.read().select("k").collect()}
    for i in range(8):
        assert 100 * (i + 1) in ks, f"writer {i}'s batch was lost"


def test_concurrent_idempotent_commits_apply_once(spark, tmp_path):
    """Racing re-deliveries of the SAME micro-batch (same writer identity)
    must apply exactly once."""
    from concurrent.futures import ThreadPoolExecutor

    t = SnapshotTable(spark, str(tmp_path / "race2"))
    t.commit(_batch(spark, 0, 10))

    def redeliver(_i: int) -> int:
        return t.commit(
            _batch(spark, 100, 120), mode="append",
            txn_app="sink", txn_version=1,
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        results = list(ex.map(redeliver, range(6)))

    assert t.read().count() == 30, "batch must land exactly once"
    applied = [
        m["version"] for m in t.versions()
        if (m.get("txn") or {}).get("app") == "sink"
    ]
    assert len(applied) == 1
    # the claim section is serialized: every re-delivery resolves to the
    # single applied version
    assert set(results) == {applied[0]}, results


def test_streaming_materialized_view_stays_current(spark, tmp_path):
    """refresh_views= makes an IncrementalAggregate a STREAMING MV: after
    every drain it equals the full recompute over the table head, and a
    restart (re-delivery) leaves both table and MV unchanged."""
    from pyspark.sql import functions as F

    from oss_data_lake_spark.operators.matview import IncrementalAggregate

    landing = tmp_path / "landing"
    landing.mkdir()
    table_path = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")
    glob_path = str(landing) + "/*/"

    t = SnapshotTable(spark, table_path)
    mv = IncrementalAggregate(
        t, str(tmp_path / "mv"), group_by=["k"], measures={"sum_v": "v"}
    )

    def drain():
        src = spark.readStream.schema("k long, v double").parquet(glob_path)
        q = start_snapshot_sink(
            spark, src, table_path, ckpt, sink_id="smv",
            refresh_views=[mv],
        )
        try:
            q.awaitTermination(120)
        finally:
            q.stop()

    def full():
        return sorted(
            (r["k"], r["n_rows"])
            for r in t.read()
            .groupBy("k")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .collect()
        )

    def mv_rows():
        return sorted(
            (r["k"], r["n_rows"]) for r in mv.read().collect()
        )

    _batch(spark, 0, 300).coalesce(2).write.parquet(str(landing / "b1.parquet"))
    drain()
    assert mv_rows() == full()
    _batch(spark, 300, 500).coalesce(2).write.parquet(str(landing / "b2.parquet"))
    drain()
    assert mv_rows() == full()
    before = mv_rows()
    drain()  # nothing new
    assert mv_rows() == before


def test_txn_ledger_survives_compaction_and_expiry(spark, tmp_path):
    """Regression (round-5 review): the per-app txn watermark is carried
    forward through every manifest, so maintenance (compact +
    expire_snapshots) cannot erase the exactly-once memory — a
    re-delivered batch after maintenance still no-ops."""
    t = SnapshotTable(spark, str(tmp_path / "led"))
    commit_batch(t, _batch(spark, 0, 50), 0, "sink")
    commit_batch(t, _batch(spark, 50, 80), 1, "sink")
    t.compact(target_partitions=1)
    t.expire_snapshots(keep_last=1)  # original commit manifests gone
    assert t.read().count() == 80
    commit_batch(t, _batch(spark, 50, 80), 1, "sink")  # re-delivery
    assert t.read().count() == 80, "ledger must survive maintenance"
    assert t.txn_watermark("sink") == 1
    # rollback keeps the ledger too
    v = t.current_version()
    t.commit(_batch(spark, 80, 90), mode="append")
    t.rollback(v)
    commit_batch(t, _batch(spark, 50, 80), 1, "sink")
    assert t.read().count() == 80


def test_txn_ledger_survives_row_dml_after_expiry(spark, tmp_path, monkeypatch):
    """A copy-on-write DELETE/UPDATE commit carries its parent's txn
    ledger as-is: after expire_snapshots has dropped the txn commits'
    manifests, a re-delivered batch still no-ops, and the DML commit
    never rebuilds the ledger from the version log."""
    t = SnapshotTable(spark, str(tmp_path / "dml"))
    commit_batch(t, _batch(spark, 0, 50), 0, "sink")
    commit_batch(t, _batch(spark, 50, 80), 1, "sink")
    t.commit(_batch(spark, 80, 90), mode="append")
    t.expire_snapshots(keep_last=1)  # the txn commits' manifests are gone

    def no_scan():
        raise AssertionError("row DML commit scanned the version log")

    monkeypatch.setattr(t, "versions", no_scan)
    t.delete_where("k < 10")
    t.update_where("k >= 80", {"v": "v + 1"})
    monkeypatch.undo()
    assert t.read().count() == 80
    assert t.txn_watermark("sink") == 1
    commit_batch(t, _batch(spark, 50, 80), 1, "sink")  # re-delivery
    assert t.read().count() == 80, "ledger must survive row-level DML"


def test_auto_compact_fires_on_file_count(spark, tmp_path):
    """compact.max-files: streaming small-file accretion self-heals at
    the cap, exactly like delete debt — and the count comes from
    manifest aggregates, not a data read."""
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "frag"))
    t.commit(spark.range(10).coalesce(1).selectExpr("id AS k"))
    t.set_properties({"compact.max-files": "6"})
    assert t.auto_compact() is None  # under the cap: no-op
    for i in range(3):
        t.commit(
            spark.range(10).selectExpr(f"id + {100 * (i + 1)} AS k")
            .repartition(3),
            mode="append",
        )
    st = t.maintenance_status()
    assert st["live_files"] > 6 and st["due"]
    v = t.auto_compact()
    assert v is not None
    assert t.maintenance_status()["live_files"] <= 6
    assert t.read().count() == 40
