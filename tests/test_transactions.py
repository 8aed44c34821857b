"""Single-table SQL transactions — WAP branches under BEGIN/COMMIT/
ROLLBACK spelling. BEGIN TRANSACTION ON t stages every later statement
naming t on a hidden zero-copy branch: the transaction reads its own
writes, every other reader keeps the pre-transaction head, COMMIT lands
everything as ONE atomic commit (rebasing non-overlapping concurrent
commits; real conflicts refuse and leave the transaction open), and
ROLLBACK makes it never have happened. Round 9 extends the same
spelling to MULTI-table transactions (tests/test_multi_txn.py); this
file pins the single-table fast path."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.catalog import CommitConflict
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.hostile import STRUCTURE, payloads, quote


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark)
    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(20)]),
        stats_for=["k"],
    )
    e._snapshot_tables["t"] = t
    return e, t


def test_txn_commit_is_one_atomic_visible_step(spark, eng):
    e, t = eng
    v0 = t.current_version()
    e.sql("BEGIN TRANSACTION ON t")
    e.sql("DELETE FROM t WHERE k < 5")
    e.sql("INSERT INTO t VALUES (100, 1.0), (101, 2.0)")
    e.sql("UPDATE t SET v = v * 10 WHERE k >= 100")
    # read-your-writes inside the transaction...
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 17
    assert (
        e.sql("SELECT v FROM t WHERE k = 100").collect()[0]["v"] == 10.0
    )
    # ...while the table itself has not moved (another session's view)
    assert t.current_version() == v0
    assert t.read().count() == 20
    e.sql("COMMIT TRANSACTION ON t")
    # exactly ONE new commit, carrying all three statements
    assert t.current_version() == v0 + 1
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert set(got) == set(range(5, 20)) | {100, 101}
    assert got[100] == 10.0 and got[101] == 20.0
    # the staging branch is gone
    assert t.branches() == {}


def test_txn_rollback_never_happened(spark, eng):
    e, t = eng
    v0 = t.current_version()
    e.sql("BEGIN TRANSACTION ON t")
    e.sql("DELETE FROM t WHERE k < 100")  # delete everything, staged
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 0
    e.sql("ROLLBACK TRANSACTION ON t")
    assert t.current_version() == v0
    assert t.read().count() == 20
    assert t.branches() == {}
    # after rollback, plain statements hit the table again
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 20


def test_txn_conflict_refuses_and_stays_open(spark, eng):
    e, t = eng
    e.sql("BEGIN TRANSACTION ON t")
    e.sql("UPDATE t SET v = 0.0 WHERE k = 1")
    # a concurrent writer rewrites the SAME rows on the main table
    t.delete_where("k = 1", stats_for=["k"])
    with pytest.raises(CommitConflict):
        e.sql("COMMIT TRANSACTION ON t")
    # the transaction is still open: rollback cleans up
    e.sql("ROLLBACK TRANSACTION ON t")
    assert t.branches() == {}
    assert t.read().count() == 19


def test_txn_rebases_disjoint_concurrent_append(spark, eng):
    e, t = eng
    e.sql("BEGIN TRANSACTION ON t")
    e.sql("INSERT INTO t VALUES (200, 5.0)")
    # concurrent append of DIFFERENT data on main: non-overlapping
    t.commit(
        spark.createDataFrame([Row(k=300, v=3.0)]), mode="append"
    )
    e.sql("COMMIT TRANSACTION ON t")
    ks = {r["k"] for r in t.read().select("k").collect()}
    assert {200, 300} <= ks and len(ks) == 22


def test_txn_guards(spark, eng):
    e, t = eng
    with pytest.raises(ValueError, match="unregistered"):
        e.sql("BEGIN TRANSACTION ON nosuch")
    with pytest.raises(ValueError, match="no open transaction"):
        e.sql("COMMIT TRANSACTION ON t")
    e.sql("BEGIN TRANSACTION ON t")
    with pytest.raises(ValueError, match="already open"):
        e.sql("BEGIN TRANSACTION ON t")
    with pytest.raises(ValueError, match="transaction is open"):
        e.sql("DROP TABLE t")
    e.sql("ROLLBACK TRANSACTION ON t")


def test_txn_script_pattern(spark, eng):
    e, t = eng
    out = e.sql_script(
        """
        BEGIN TRANSACTION ON t;
        DELETE FROM t WHERE k % 2 = 0;
        INSERT INTO t VALUES (500, 9.0);
        COMMIT TRANSACTION ON t;
        SELECT count(*) AS n FROM t
        """
    )
    assert out.collect()[0]["n"] == 11


def test_registry_mutations_survive_open_txn(spark, eng, tmp_path):
    """Review finding: while a transaction is open, statements that
    register/deregister OTHER tables must hit the real registry, not a
    throwaway copy."""
    e, t = eng
    other = SnapshotTable(spark, str(tmp_path / "other"))
    other.commit(spark.range(5).selectExpr("id AS k"))
    import uuid

    e._snapshot_tables["other"] = other
    name = f"oc_{uuid.uuid4().hex[:8]}"  # managed path: unique per run
    e.sql("BEGIN TRANSACTION ON t")
    e.sql(f"CREATE TABLE {name} SHALLOW CLONE other")
    # the clone is queryable immediately, txn still open
    assert e.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"] == 5
    e.sql("ROLLBACK TRANSACTION ON t")
    assert e.sql(f"SELECT count(*) AS n FROM {name}").collect()[0]["n"] == 5
    e.sql(f"DROP TABLE {name}")


def test_txn_under_merge_on_read_mode(spark, eng):
    """Inside a transaction the staging branch holds shallow-clone
    references, so merge-on-read DELETEs refuse with the clone rule's
    clear error (tombstone coordinates are table-relative) — and the
    refusal names the copy-on-write escape, which works and commits
    atomically like any staged statement."""
    e, t = eng
    t.set_properties({"delete.mode": "merge-on-read"})
    e.sql("BEGIN TRANSACTION ON t")
    with pytest.raises(ValueError, match="copy-on-write"):
        e.sql("DELETE FROM t WHERE k BETWEEN 0 AND 4")
    # the transaction is intact; CoW DML via the property escape works
    e.sql(
        "ALTER TABLE t SET TBLPROPERTIES ('delete.mode' = 'copy-on-write')"
    )
    e.sql("DELETE FROM t WHERE k BETWEEN 0 AND 4")
    assert e.sql("SELECT count(*) AS n FROM t").collect()[0]["n"] == 15
    e.sql("COMMIT TRANSACTION ON t")
    assert t.read().count() == 15
    m = t._manifest(t.current_version())
    assert not m.get("delete_dirs") and not m.get("eq_deletes")
    assert t.branches() == {}


# -------------------------- hostile literals staged inside a transaction

_payload = payloads(STRUCTURE, max_size=16)


@settings(
    max_examples=10, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_payload, st.booleans())
def test_txn_staged_hostile_writes_are_atomic(
    spark, tmp_path_factory, p, commit
):
    """Hostile string literals staged INSIDE a transaction stay
    invisible to other readers until COMMIT; ROLLBACK leaves no trace.
    The payload exercises the statement grammar end-to-end (BEGIN
    routing, INSERT masking, branch read-your-writes, publish)."""
    root = tmp_path_factory.mktemp("ft")
    e = Engine(spark=spark, warehouse_dir=str(root / "wh"))
    for name in ("t1", "t2"):
        t = SnapshotTable(spark, str(root / name))
        t.commit(spark.createDataFrame([Row(k=0, s="seed")]))
        e._snapshot_tables[name] = t
    outside1 = SnapshotTable(spark, str(root / "t1"))
    lit = quote(p)
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql(f"INSERT INTO t1 VALUES (1, {lit})")
    e.sql(f"INSERT INTO t2 VALUES (2, {lit})")
    # read-your-writes inside; invisible outside
    assert e.sql(f"SELECT k FROM t1 WHERE s = {lit} AND k = 1").count() == 1
    assert outside1.read().filter("k = 1").count() == 0
    if commit:
        e.sql("COMMIT TRANSACTION ON t1, t2")
        assert [
            r["s"] for r in outside1.read().filter("k = 1").collect()
        ] == [p]
    else:
        e.sql("ROLLBACK TRANSACTION ON t1, t2")
        assert outside1.read().filter("k = 1").count() == 0
        assert outside1.current_version() == 1
