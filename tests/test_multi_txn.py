"""Multi-table atomic SQL transactions — the Lakekeeper multi-table-
commit capability (the reference's Iceberg REST catalog commits N
tables in one request; reference docker-compose.yaml:21-46). BEGIN
TRANSACTION ON t1, t2 stages per-table hidden branches; COMMIT runs
dry-run validation on EVERY member (one conflict aborts all), writes
one durable transaction record (the commit point), lands each branch
stamped with the record id, then deletes the record. A crash between
the record and the last pointer move rolls FORWARD via
``Engine.recover_transactions()`` — atomic across the crash in either
direction."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.catalog import CommitConflict
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def eng2(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t1 = SnapshotTable(spark, str(tmp_path / "t1"))
    t1.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(10)]),
        stats_for=["k"],
    )
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.commit(
        spark.createDataFrame([Row(k=i, s=f"s{i}") for i in range(5)])
    )
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2
    return e, t1, t2


def test_merge_and_insert_commit_atomically(spark, eng2):
    """MERGE into t1 + INSERT into t2: invisible before COMMIT, both
    visible after, one new commit per table, record gone."""
    e, t1, t2 = eng2
    v1, v2 = t1.current_version(), t2.current_version()
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql(
        "MERGE INTO t1 USING (SELECT 3 AS k, 300.0 AS v "
        "UNION ALL SELECT 99, 990.0) AS s ON t1.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    e.sql("INSERT INTO t2 VALUES (100, 'land')")
    # read-your-writes inside; the real tables have not moved
    assert e.sql("SELECT v FROM t1 WHERE k = 3").collect()[0]["v"] == 300.0
    assert e.sql("SELECT count(*) AS n FROM t2").collect()[0]["n"] == 6
    assert t1.current_version() == v1 and t2.current_version() == v2
    assert t1.read().count() == 10 and t2.read().count() == 5
    res = {r["table"]: r["version"] for r in
           e.sql("COMMIT TRANSACTION ON t1, t2").collect()}
    assert res == {"t1": v1 + 1, "t2": v2 + 1}
    got = {r["k"]: r["v"] for r in t1.read().collect()}
    assert got[3] == 300.0 and got[99] == 990.0
    assert t2.read().count() == 6
    # landed manifests carry the txn stamp; the record itself is gone
    assert t1._manifest(v1 + 1).get("txn_record")
    assert t1._manifest(v1 + 1)["txn_record"] == (
        t2._manifest(v2 + 1)["txn_record"]
    )
    assert os.listdir(e._txns_dir()) == []
    assert t1.branches() == {} and t2.branches() == {}


def test_rollback_drops_all_branches(spark, eng2):
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("DELETE FROM t1 WHERE k < 5")
    e.sql("INSERT INTO t2 VALUES (42, 'x')")
    e.sql("ROLLBACK TRANSACTION ON t1, t2")
    assert t1.read().count() == 10 and t2.read().count() == 5
    assert t1.branches() == {} and t2.branches() == {}
    # nothing lingers: a fresh transaction opens cleanly
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("ROLLBACK TRANSACTION ON t1, t2")


def test_conflict_on_one_table_aborts_both(spark, eng2):
    """Phase-1 dry-run: an overlapping concurrent commit on t2 refuses
    the WHOLE commit — t1 does not land either, the transaction stays
    open, and ROLLBACK still works."""
    e, t1, t2 = eng2
    v1, v2 = t1.current_version(), t2.current_version()
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("UPDATE t1 SET v = v + 1 WHERE k = 0")
    e.sql("UPDATE t2 SET s = 'txn' WHERE k = 0")
    # concurrent OVERLAPPING write outside the transaction: rewrites
    # the same rows of t2 the transaction rewrote
    t2.update_where("k = 0", {"s": "'outside'"})
    with pytest.raises(CommitConflict):
        e.sql("COMMIT TRANSACTION ON t1, t2")
    # NOTHING landed on either table; no orphan record
    assert t1.current_version() == v1
    assert t2.current_version() == v2 + 1  # only the outside write
    assert not os.path.isdir(e._txns_dir()) or (
        os.listdir(e._txns_dir()) == []
    )
    # transaction still open: rollback restores clean state
    e.sql("ROLLBACK TRANSACTION ON t1, t2")
    assert {r["s"] for r in t2.read().filter("k = 0").collect()} == {
        "outside"
    }


def test_disjoint_concurrent_commit_rebases_both(spark, eng2):
    """Non-overlapping concurrent appends rebase — both sides land."""
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (200, 2.0)")
    e.sql("INSERT INTO t2 VALUES (200, 'txn')")
    t1.commit(spark.createDataFrame([Row(k=300, v=3.0)]), mode="append")
    e.sql("COMMIT TRANSACTION ON t1, t2")
    ks = {r["k"] for r in t1.read().collect()}
    assert {200, 300} <= ks and len(ks) == 12
    assert {r["k"] for r in t2.read().collect()} == set(range(5)) | {200}


def test_crash_before_any_pointer_move_rolls_forward(spark, eng2, tmp_path):
    """Record written, zero members landed (crash right after the
    commit point): a FRESH engine's recovery lands both exactly once."""
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (500, 5.0)")
    e.sql("INSERT INTO t2 VALUES (500, 'five')")
    # simulate the crash: write the record exactly as _commit_multi
    # does, then die before phase 3
    gid = e._txns["t1"][1]
    e._txn_record_write(
        gid,
        [
            {"name": "t1", "path": t1.path, "branch": gid,
             "parent": t1.current_version()},
            {"name": "t2", "path": t2.path, "branch": gid,
             "parent": t2.current_version()},
        ],
    )
    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    assert e2.recover_transactions() == [gid]
    assert {r["k"] for r in t1.read().collect()} == set(range(10)) | {500}
    assert {r["k"] for r in t2.read().collect()} == set(range(5)) | {500}
    assert os.listdir(e2._txns_dir()) == []
    assert t1.branches() == {} and t2.branches() == {}
    # idempotent: a second recovery finds nothing
    assert e2.recover_transactions() == []


def test_crash_after_first_pointer_move_lands_only_the_rest(
    spark, eng2, tmp_path
):
    """Record written, t1 landed, crash before t2: recovery lands ONLY
    t2 — the stamp check prevents double-applying t1."""
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (600, 6.0)")
    e.sql("INSERT INTO t2 VALUES (600, 'six')")
    gid = e._txns["t1"][1]
    p1, p2 = t1.current_version(), t2.current_version()
    e._txn_record_write(
        gid,
        [
            {"name": "t1", "path": t1.path, "branch": gid, "parent": p1},
            {"name": "t2", "path": t2.path, "branch": gid, "parent": p2},
        ],
    )
    t1.fast_forward(gid, require_source_unchanged=False, txn_record=gid)
    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    assert e2.recover_transactions() == [gid]
    # t1 applied EXACTLY once (one new commit), t2 landed by recovery
    assert t1.current_version() == p1 + 1
    assert [r["k"] for r in t1.read().filter("k = 600").collect()] == [600]
    assert {r["k"] for r in t2.read().collect()} == set(range(5)) | {600}
    assert os.listdir(e2._txns_dir()) == []


def test_begin_runs_recovery_automatically(spark, eng2, tmp_path):
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t2 VALUES (700, 'seven')")
    gid = e._txns["t1"][1]
    e._txn_record_write(
        gid,
        [
            {"name": "t1", "path": t1.path, "branch": gid,
             "parent": t1.current_version()},
            {"name": "t2", "path": t2.path, "branch": gid,
             "parent": t2.current_version()},
        ],
    )
    # the crash killed the owner: age the record past the ownership
    # lease (BEGIN's auto-recovery leaves LIVE owners' records alone —
    # pinned by test_begin_recovery_skips_young_live_owner_record)
    rec_path = os.path.join(e._txns_dir(), f"{gid}.json")
    with open(rec_path) as fh:
        rec = json.load(fh)
    rec["owner"]["ts"] -= 3600
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)
    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e2._snapshot_tables["t1"] = SnapshotTable(spark, t1.path)
    e2._snapshot_tables["t2"] = SnapshotTable(spark, t2.path)
    # the next BEGIN rolls the pending record forward first
    e2.sql("BEGIN TRANSACTION ON t1")
    e2.sql("ROLLBACK TRANSACTION ON t1")
    assert {r["k"] for r in t2.read().collect()} == set(range(5)) | {700}


def test_commit_must_name_the_exact_group(spark, eng2):
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    with pytest.raises(ValueError, match="exact table set"):
        e.sql("COMMIT TRANSACTION ON t1")
    with pytest.raises(ValueError, match="exact table set"):
        e.sql("ROLLBACK TRANSACTION ON t2")
    with pytest.raises(ValueError, match="no open transaction"):
        e.sql("COMMIT TRANSACTION ON t1, t2, ghost")
    e.sql("ROLLBACK TRANSACTION ON t1, t2")
    # and a second BEGIN naming an enlisted table refuses while open
    e.sql("BEGIN TRANSACTION ON t1")
    with pytest.raises(ValueError, match="already open"):
        e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("ROLLBACK TRANSACTION ON t1")


def test_mor_inside_multi_txn_keeps_single_table_semantics(spark, eng2):
    """The documented MoR-in-transaction rule holds per member: the
    staging branch holds shallow-clone references, so a merge-on-read
    DELETE refuses with the clone rule's error naming the copy-on-write
    escape — which works and commits atomically with the other table."""
    e, t1, t2 = eng2
    t1.set_properties({"delete.mode": "merge-on-read"})
    e.sql("BEGIN TRANSACTION ON t1, t2")
    with pytest.raises(ValueError, match="copy-on-write"):
        e.sql("DELETE FROM t1 WHERE k IN (1, 3)")
    e.sql(
        "ALTER TABLE t1 SET TBLPROPERTIES ('delete.mode' = 'copy-on-write')"
    )
    e.sql("DELETE FROM t1 WHERE k IN (1, 3)")
    e.sql("INSERT INTO t2 VALUES (800, 'e')")
    e.sql("COMMIT TRANSACTION ON t1, t2")
    assert {r["k"] for r in t1.read().collect()} == (
        set(range(10)) - {1, 3}
    )
    assert t2.read().count() == 6
    m = t1._manifest(t1.current_version())
    assert not m.get("delete_dirs") and not m.get("eq_deletes")


def test_multi_txn_over_rest_catalog_table(spark, tmp_path):
    """A transaction spanning a LOCAL table and a REST-catalog table:
    the REST member's branch fast-forwards through ITS catalog service
    (never a default local tail), the record carries a protocol
    descriptor, and crash recovery reattaches through it."""
    from oss_data_lake_spark.sources.rest_catalog import (
        RestCatalogServer,
        RestCommitProtocol,
    )

    server = RestCatalogServer().start()
    try:
        e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
        tl = SnapshotTable(spark, str(tmp_path / "tl"))
        tl.commit(spark.createDataFrame([Row(k=1, v=1.0)]))
        tr = SnapshotTable(
            spark,
            str(tmp_path / "tr"),
            protocol=RestCommitProtocol(server.url, "tr"),
        )
        tr.commit(spark.createDataFrame([Row(k=1, s="a")]))
        e._snapshot_tables["tl"] = tl
        e._snapshot_tables["tr"] = tr

        e.sql("BEGIN TRANSACTION ON tl, tr")
        e.sql("INSERT INTO tl VALUES (2, 2.0)")
        e.sql("INSERT INTO tr VALUES (2, 'b')")
        e.sql("COMMIT TRANSACTION ON tl, tr")
        # the REST member's new head lives in the CATALOG SERVICE
        fresh = SnapshotTable(
            spark,
            str(tmp_path / "tr"),
            protocol=RestCommitProtocol(server.url, "tr"),
        )
        assert fresh.current_version() == 2
        assert fresh.read().count() == 2
        assert tl.read().count() == 2

        # crash between the record and the pointer moves: recovery must
        # reattach the REST member through the recorded descriptor
        e.sql("BEGIN TRANSACTION ON tl, tr")
        e.sql("INSERT INTO tl VALUES (3, 3.0)")
        e.sql("INSERT INTO tr VALUES (3, 'c')")
        gid = e._txns["tl"][1]
        e._txn_record_write(gid, [
            {"name": "tl", "path": tl.path, "branch": gid,
             "parent": tl.current_version(), "protocol": None},
            {"name": "tr", "path": tr.path, "branch": gid,
             "parent": tr.current_version(),
             "protocol": {"kind": "rest", "url": server.url,
                          "table": "tr"}},
        ])
        e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
        assert e2.recover_transactions() == [gid]
        assert SnapshotTable(
            spark, str(tmp_path / "tr"),
            protocol=RestCommitProtocol(server.url, "tr"),
        ).read().count() == 3
        assert tl.read().count() == 3
    finally:
        server.stop()


def test_single_table_txn_on_rest_table(spark, tmp_path):
    """BEGIN/COMMIT on a REST-attached table alone: the fast-forward
    lands through the catalog service."""
    from oss_data_lake_spark.sources.rest_catalog import (
        RestCatalogServer,
        RestCommitProtocol,
    )

    server = RestCatalogServer().start()
    try:
        e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
        t = SnapshotTable(
            spark,
            str(tmp_path / "t"),
            protocol=RestCommitProtocol(server.url, "t1"),
        )
        t.commit(spark.createDataFrame([Row(k=i) for i in range(6)]))
        e._snapshot_tables["t"] = t
        e.sql("BEGIN TRANSACTION ON t")
        e.sql("DELETE FROM t WHERE k < 2")
        e.sql("COMMIT TRANSACTION ON t")
        fresh = SnapshotTable(
            spark, str(tmp_path / "t"),
            protocol=RestCommitProtocol(server.url, "t1"),
        )
        assert fresh.current_version() == 2
        assert fresh.read().count() == 4
    finally:
        server.stop()


def test_phase3_conflict_recovers_in_process(spark, eng2):
    """A conflicting write squeezing in AFTER the record (between
    dry-run and fast_forward): the commit rolls forward in-process via
    rebase when the conflict is disjoint — both members land, no record
    remains, and the registry is restored."""
    e, t1, t2 = eng2
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (900, 9.0)")
    e.sql("INSERT INTO t2 VALUES (900, 'nine')")
    # sneak a DISJOINT append onto t2 after the dry-run would have
    # validated: simulate by appending right now — the dry-run in
    # COMMIT re-validates against this head and rebases, so instead
    # patch fast_forward to inject the append between record and land
    orig_ff = type(t2).fast_forward
    state = {"fired": False}

    def sneaky(self, name, **kw):
        if self.path == t2.path and not state["fired"]:
            state["fired"] = True
            t2.commit(
                spark.createDataFrame([Row(k=901, s="sneak")]),
                mode="append",
            )
        return orig_ff(self, name, **kw)

    type(t2).fast_forward = sneaky
    try:
        e.sql("COMMIT TRANSACTION ON t1, t2")
    finally:
        type(t2).fast_forward = orig_ff
    assert {r["k"] for r in t2.read().collect()} == (
        set(range(5)) | {900, 901}
    )
    assert {r["k"] for r in t1.read().collect()} == set(range(10)) | {900}
    assert os.listdir(e._txns_dir()) == []
    # the engine is fully usable afterwards
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("ROLLBACK TRANSACTION ON t1, t2")


def test_show_snapshot_tables_and_recover_sql(spark, eng2, tmp_path):
    """The SQL spellings of the engine registry and crash recovery:
    SHOW SNAPSHOT TABLES lists name/location/version; RECOVER
    TRANSACTIONS rolls a pending record forward."""
    e, t1, t2 = eng2
    rows = {r["table"]: r["version"]
            for r in e.sql("SHOW SNAPSHOT TABLES").collect()}
    assert rows == {"t1": 1, "t2": 1}
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t2 VALUES (990, 'r')")
    gid = e._txns["t1"][1]
    e._txn_record_write(gid, [
        {"name": "t1", "path": t1.path, "branch": gid,
         "parent": t1.current_version(), "protocol": None},
        {"name": "t2", "path": t2.path, "branch": gid,
         "parent": t2.current_version(), "protocol": None},
    ])
    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    got = [r["txn"] for r in e2.sql("RECOVER TRANSACTIONS").collect()]
    assert got == [gid]
    assert {r["k"] for r in t2.read().collect()} == set(range(5)) | {990}
    assert e2.sql("RECOVER TRANSACTIONS").collect() == []


def _stage_pending_record(e, t1, t2):
    """BEGIN + stage writes + write the commit record, as _commit_multi
    does right before phase 3."""
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (900, 9.0)")
    gid = e._txns["t1"][1]
    e._txn_record_write(
        gid,
        [
            {"name": "t1", "path": t1.path, "branch": gid,
             "parent": t1.current_version()},
            {"name": "t2", "path": t2.path, "branch": gid,
             "parent": t2.current_version()},
        ],
    )
    return gid


@pytest.fixture()
def two_tables(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t1 = SnapshotTable(spark, str(tmp_path / "t1"))
    t1.commit(spark.createDataFrame([Row(k=i, v=float(i)) for i in range(3)]))
    t2 = SnapshotTable(spark, str(tmp_path / "t2"))
    t2.commit(spark.createDataFrame([Row(k=i, s=f"s{i}") for i in range(3)]))
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2
    return e, t1, t2


def test_begin_recovery_skips_young_live_owner_record(spark, two_tables):
    """A txn record is LIVE while its owner is mid-phase-3: another
    process's BEGIN must not roll it forward concurrently (duplicate
    application / spurious conflicts). The record here is young and its
    owner pid (this process) is alive — but from ANOTHER engine's
    perspective, so the BEGIN hook leaves it alone."""
    e, t1, t2 = two_tables
    gid = _stage_pending_record(e, t1, t2)
    rec_path = os.path.join(e._txns_dir(), f"{gid}.json")
    # fake a DIFFERENT live owner process (pid 1 is always alive)
    with open(rec_path) as fh:
        rec = json.load(fh)
    assert rec["owner"]["pid"] == os.getpid()  # the write stamps us
    rec["owner"]["pid"] = 1
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)

    e2 = Engine(spark=spark, warehouse_dir=e._warehouse_dir)
    e2._snapshot_tables["t2"] = SnapshotTable(spark, t2.path)
    e2.sql("BEGIN TRANSACTION ON t2")  # auto-recovery runs here
    e2.sql("ROLLBACK TRANSACTION ON t2")
    assert os.path.exists(rec_path)  # the live owner's record survived
    # a DEAD young owner forfeits the lease immediately
    with open(rec_path) as fh:
        rec = json.load(fh)
    rec["owner"]["pid"] = 2 ** 22 + 77777  # beyond pid_max: never alive
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)
    assert e2.recover_transactions(min_age_s=60.0) == [gid]
    assert not os.path.exists(rec_path)
    assert [r["k"] for r in t1.read().filter("k = 900").collect()] == [900]
    # clean up the still-open transaction on the owner engine
    e._txns.clear()
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2


def test_begin_recovery_defers_to_live_owner_beyond_lease(spark, two_tables):
    """Owner liveness is the
    ownership test at ANY record age. A phase-3 landing can outlast the
    60s lease (fast_forward over several large tables); another
    process's BEGIN hook must still leave the live owner's record alone
    — the old age-gated check re-exposed the duplicate-application race
    exactly when commits were slowest."""
    e, t1, t2 = two_tables
    gid = _stage_pending_record(e, t1, t2)
    rec_path = os.path.join(e._txns_dir(), f"{gid}.json")
    with open(rec_path) as fh:
        rec = json.load(fh)
    rec["owner"]["pid"] = 1            # a different, always-alive owner
    rec["owner"]["ts"] = 0.0           # stamped eons beyond the lease
    with open(rec_path, "w") as fh:
        json.dump(rec, fh)

    e2 = Engine(spark=spark, warehouse_dir=e._warehouse_dir)
    e2._snapshot_tables["t2"] = SnapshotTable(spark, t2.path)
    e2.sql("BEGIN TRANSACTION ON t2")  # auto-recovery runs here
    e2.sql("ROLLBACK TRANSACTION ON t2")
    assert os.path.exists(rec_path)    # live owner kept it, however old
    # the explicit statement still overrides (the operator's lever)
    got = [r["txn"] for r in e2.sql("RECOVER TRANSACTIONS").collect()]
    assert got == [gid]
    assert not os.path.exists(rec_path)
    e._txns.clear()
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2


def test_explicit_recovery_ignores_the_lease(spark, two_tables):
    """RECOVER TRANSACTIONS (and the owner's own in-process retry) must
    recover even YOUNG records — the statement is the operator's 'the
    owner is gone, land it now' lever."""
    e, t1, t2 = two_tables
    gid = _stage_pending_record(e, t1, t2)
    e2 = Engine(spark=spark, warehouse_dir=e._warehouse_dir)
    got = [r["txn"] for r in e2.sql("RECOVER TRANSACTIONS").collect()]
    assert got == [gid]
    assert [r["k"] for r in t1.read().filter("k = 900").collect()] == [900]
    e._txns.clear()
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2


def test_owner_remove_tolerates_record_already_recovered(spark, two_tables):
    """The owner's post-phase-3 record delete (and recovery's own) must
    tolerate the file having been removed by a concurrent recovery —
    a fully successful commit must not raise FileNotFoundError."""
    e, t1, t2 = two_tables
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (901, 9.1)")
    e.sql("INSERT INTO t2 VALUES (901, 'x')")
    gid = e._txns["t1"][1]

    # intercept: as soon as the record is written, delete it + land the
    # members exactly as a racing recovery would
    orig_write = e._txn_record_write

    def write_then_racing_recovery(g, entries):
        path = orig_write(g, entries)
        racer = Engine(spark=spark, warehouse_dir=e._warehouse_dir)
        assert racer.recover_transactions() == [g]
        assert not os.path.exists(path)
        return path

    e._txn_record_write = write_then_racing_recovery
    # fast_forward of an already-landed branch would conflict, so the
    # owner's phase 3 goes through its own recovery path — which must
    # ALSO tolerate the missing record and report success
    e.sql(f"COMMIT TRANSACTION ON t1, t2")
    assert [r["k"] for r in t1.read().filter("k = 901").collect()] == [901]
    assert [r["k"] for r in t2.read().filter("k = 901").collect()] == [901]
    assert e._txns == {}


def test_recovery_tolerates_expired_intermediate_manifest(spark, two_tables):
    """The landed-stamp check walks (parent, head]; expire_snapshots
    may have deleted an intermediate manifest. A vanished version
    cannot prove the stamp — skip it, don't raise."""
    e, t1, t2 = two_tables
    gid = _stage_pending_record(e, t1, t2)  # parent(t1) = 1
    # crash AFTER t1's pointer move: an outside write (v2), the landing
    # (v3, stamped), then expiry punches a hole at v2 — squarely inside
    # the landed-check's (parent, head] walk, below the stamp
    t1.commit(spark.createDataFrame([Row(k=50, v=5.0)]), mode="append")
    t1.fast_forward(gid, require_source_unchanged=False, txn_record=gid)
    t1.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t1._manifest(2)  # the hole is real
    e2 = Engine(spark=spark, warehouse_dir=e._warehouse_dir)
    assert e2.recover_transactions() == [gid]  # no FileNotFoundError
    assert [r["k"] for r in t1.read().filter("k = 900").collect()] == [900]
    assert os.listdir(e2._txns_dir()) == []  # record consumed
    e._txns.clear()
    e._snapshot_tables["t1"] = t1
    e._snapshot_tables["t2"] = t2
