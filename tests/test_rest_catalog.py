"""Iceberg-REST catalog façade (sources/rest_catalog.py) — the
Lakekeeper wire role: two independent engine processes share one
snapshot table through HTTP *load table* + *commit with requirements*
(reference etc/catalog/iceberg.properties:16 points Trino at
http://lakekeeper:8181/catalog). The server's atomic requirement check
rejects lost updates; the client protocol rebuilds on 409."""

from __future__ import annotations

import json
import threading
import urllib.error
import urllib.request

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources.catalog import CommitConflict
from oss_data_lake_spark.sources.rest_catalog import (
    RestCatalogServer,
    RestCommitProtocol,
)
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def server():
    s = RestCatalogServer().start()
    yield s
    s.stop()


def _post(url: str, payload: dict):
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=10) as r:
            return r.status, json.loads(r.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


def test_two_engines_share_a_table_over_http(spark, server, tmp_path):
    """Writer engine commits through HTTP; a SECOND engine with its own
    client (fresh process shape: nothing shared but the URL and the
    data root) reads the table, time travel included."""
    path = str(tmp_path / "t")
    writer = SnapshotTable(
        spark, path, protocol=RestCommitProtocol(server.url, "tbl")
    )
    writer.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(8)]),
        stats_for=["k"],
    )
    writer.commit(
        spark.createDataFrame([Row(k=100, v=1.0)]), mode="append"
    )
    reader = SnapshotTable(
        spark, path, protocol=RestCommitProtocol(server.url, "tbl")
    )
    assert reader.current_version() == 2
    assert reader.read().count() == 9
    assert reader.read(version=1).count() == 8  # time travel via REST
    # and the reader can write back — the catalog serializes them
    reader.commit(spark.createDataFrame([Row(k=200, v=2.0)]), mode="append")
    assert writer.read().count() == 10


def test_concurrent_commits_race_no_lost_update(server):
    """Two writers build against the SAME parent through HTTP: the
    requirement check lets exactly one commit land per version; the
    loser rebuilds against the winner's head — both land, nothing
    clobbered. Pure-protocol test (manifests are dicts)."""
    a = RestCommitProtocol(server.url, "race")
    b = RestCommitProtocol(server.url, "race")
    barrier = threading.Barrier(2)
    parents_seen: dict[str, list] = {"a": [], "b": []}

    def writer(tag: str, proto: RestCommitProtocol):
        def build(parent, _read):
            parents_seen[tag].append(parent)
            if not parents_seen[tag][1:]:
                barrier.wait()
            return {"version": (parent or 0) + 1, "who": tag}

        proto.commit(build)

    th = [
        threading.Thread(target=writer, args=("a", a)),
        threading.Thread(target=writer, args=("b", b)),
    ]
    for t in th:
        t.start()
    for t in th:
        t.join()
    assert a.read_current() == 2
    assert {a.read_manifest(v)["who"] for v in (1, 2)} == {"a", "b"}
    losers = [p for p in parents_seen["a"] + parents_seen["b"] if p == 1]
    assert losers, "one writer must have rebuilt against the new head"


def test_stale_requirement_rejected_on_the_wire(server):
    """The raw wire behavior Trino relies on: a commit whose
    assert-current-version requirement is stale gets 409
    CommitFailedException and the table does not change."""
    p = RestCommitProtocol(server.url, "wire")
    p.commit(lambda parent, _r: {"version": 1, "who": "base"})
    url = f"{server.url}/v1/tables/wire/commit"
    code, body = _post(url, {
        "requirements": [{"type": "assert-current-version", "version": None}],
        "manifest": {"version": 1, "who": "stale"},
    })
    assert code == 409
    assert body["error"] == "CommitFailedException"
    assert p.read_manifest(1)["who"] == "base"
    assert p.read_current() == 1
    # unknown requirement types refuse loudly (never silently ignored)
    code, body = _post(url, {
        "requirements": [{"type": "assert-ref-snapshot-id", "ref": "main"}],
        "manifest": {"version": 2},
    })
    assert code == 400


def test_retries_exhausted_raises_commit_conflict(server):
    proto = RestCommitProtocol(server.url, "exhaust", retries=3)
    rival = RestCommitProtocol(server.url, "exhaust")
    calls = {"n": 0}

    def build(parent, _read):
        calls["n"] += 1
        v = (parent or 0) + 1
        # a rival lands our version between build and commit, every time
        rival._request(
            "POST", "/v1/tables/exhaust/commit",
            {"requirements": [
                {"type": "assert-current-version", "version": parent}
            ], "manifest": {"version": v, "who": "rival"}},
        )
        return {"version": v, "who": "me"}

    with pytest.raises(CommitConflict):
        proto.commit(build)
    assert calls["n"] == 3


def test_full_dml_surface_over_rest(spark, server, tmp_path):
    """The whole statement surface runs its metadata tail through the
    catalog service: DML, OPTIMIZE, expire (delete_manifest over HTTP)."""
    from oss_data_lake_spark.engine import Engine

    t = SnapshotTable(
        spark,
        str(tmp_path / "t"),
        protocol=RestCommitProtocol(server.url, "dml"),
    )
    t.commit(
        spark.createDataFrame([Row(k=i, v=float(i)) for i in range(20)]),
        stats_for=["k"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["t"] = t
    e.sql("DELETE FROM t WHERE k < 5")
    e.sql("UPDATE t SET v = v * 2 WHERE k >= 15")
    e.sql("INSERT INTO t VALUES (300, 3.0)")
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert set(got) == set(range(5, 20)) | {300}
    assert got[15] == 30.0 and got[5] == 5.0
    # history lives in the catalog; expire trims it there
    assert t.protocol.list_versions() == [1, 2, 3, 4]
    t.expire_snapshots(keep_last=2)
    assert t.protocol.list_versions() == [3, 4]
    assert t.read().count() == 16


def test_cross_process_commit_through_http(server):
    """A literally separate OS process (no shared state but the URL)
    commits through the catalog service and the parent observes it —
    the two-independent-engine-processes claim, process-for-real."""
    import subprocess
    import sys

    parent = RestCommitProtocol(server.url, "xproc")
    parent.commit(lambda p, _r: {"version": (p or 0) + 1, "who": "parent"})
    code = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from oss_data_lake_spark.sources.rest_catalog import "
        "RestCommitProtocol\n"
        "p = RestCommitProtocol(sys.argv[1], 'xproc')\n"
        "v = p.commit(lambda parent, _r: "
        "{'version': (parent or 0) + 1, 'who': 'child'})\n"
        "print('LANDED', v)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, server.url],
        capture_output=True, text=True, timeout=60,
    )
    assert out.returncode == 0, out.stderr
    assert "LANDED 2" in out.stdout
    assert parent.read_current() == 2
    assert parent.read_manifest(2)["who"] == "child"


def test_views_shared_through_the_catalog_service(spark, server, tmp_path):
    """Persistent VIEWs through the REST catalog (the Lakekeeper view
    role): two engines with independent warehouses share saved queries
    via Engine(view_catalog=RestViewCatalog(url)) — full DDL grammar,
    re-planned over each engine's registered base tables."""
    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.rest_catalog import RestViewCatalog

    t = SnapshotTable(spark, str(tmp_path / "t"))
    t.commit(spark.createDataFrame([Row(k=i, v=float(i)) for i in range(6)]))
    e1 = Engine(
        spark=spark,
        warehouse_dir=str(tmp_path / "wh1"),
        view_catalog=RestViewCatalog(server.url),
    )
    e2 = Engine(
        spark=spark,
        warehouse_dir=str(tmp_path / "wh2"),
        view_catalog=RestViewCatalog(server.url),
    )
    e1._snapshot_tables["t"] = t
    e2._snapshot_tables["t"] = t
    e1.sql("CREATE VIEW v_shared AS SELECT count(*) AS n FROM t")
    # the OTHER engine sees and reads the view immediately
    assert [r["view"] for r in e2.sql("SHOW VIEWS").collect()] == [
        "v_shared"
    ]
    assert e2.sql("SELECT * FROM v_shared").collect()[0]["n"] == 6
    # DDL semantics hold over the wire
    with pytest.raises(ValueError, match="already exists"):
        e2.sql("CREATE VIEW v_shared AS SELECT 1")
    e2.sql("CREATE OR REPLACE VIEW v_shared AS SELECT count(*) + 100 AS n FROM t")
    assert e1.sql("SELECT * FROM v_shared").collect()[0]["n"] == 106
    stmt = e1.sql("SHOW CREATE VIEW v_shared").collect()[0]["stmt"]
    assert "count(*) + 100" in stmt
    e1.sql("DROP VIEW v_shared")
    assert e2.sql("SHOW VIEWS").collect() == []
    with pytest.raises(ValueError, match="does not exist"):
        e2.sql("DROP VIEW v_shared")


# ---------------------------------------------------------------- round 10:
# server-side multi-table commit (POST /v1/transactions/commit)


def _rest_engine(spark, server, tmp_path, names=("t1", "t2")):
    """An Engine whose members commit ONLY through the catalog service
    (the engines share the data root and the URL — never a _txns dir)."""
    from oss_data_lake_spark.engine import Engine

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    tables = []
    for name in names:
        t = SnapshotTable(
            spark,
            str(tmp_path / name),
            protocol=RestCommitProtocol(server.url, name),
        )
        if t.current_version() is None:
            t.commit(
                spark.createDataFrame(
                    [Row(k=i, v=float(i)) for i in range(5)]
                )
            )
        e._snapshot_tables[name] = t
        tables.append(t)
    return e, tables


def test_multi_table_txn_commits_server_side(spark, server, tmp_path):
    """A pure-REST transaction group commits through ONE
    POST /v1/transactions/commit — atomically, with NO local _txns
    record ever written (the catalog service is the commit point)."""
    import os

    e, (t1, t2) = _rest_engine(spark, server, tmp_path)
    record_writes = []
    orig = e._txn_record_write
    e._txn_record_write = lambda *a, **k: record_writes.append(a) or orig(*a, **k)
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (100, 10.0)")
    e.sql("INSERT INTO t2 VALUES (200, 20.0)")
    out = {r["table"]: r["version"] for r in
           e.sql("COMMIT TRANSACTION ON t1, t2").collect()}
    assert out == {"t1": 2, "t2": 2}
    assert record_writes == []  # server-side path: no local record
    assert not os.path.isdir(e._txns_dir()) or os.listdir(e._txns_dir()) == []
    assert [r["k"] for r in t1.read().filter("k = 100").collect()] == [100]
    assert [r["k"] for r in t2.read().filter("k = 200").collect()] == [200]
    assert t1.branches() == {} and t2.branches() == {}
    assert e._txns == {}


def test_two_pure_rest_engines_commit_through_the_service(
    spark, server, tmp_path
):
    """Two engines that share ONLY the catalog URL and the data root
    (no warehouse, no _txns dir): each commits a cross-table
    transaction through the service; both land, each exactly once."""
    e1, _ = _rest_engine(spark, server, tmp_path)
    e2, (t1, t2) = _rest_engine(spark, server, tmp_path)  # own handles
    e1.sql("BEGIN TRANSACTION ON t1, t2")
    e1.sql("INSERT INTO t1 VALUES (111, 1.0)")
    e1.sql("INSERT INTO t2 VALUES (111, 1.0)")
    e1.sql("COMMIT TRANSACTION ON t1, t2")
    # engine 2 sees engine 1's committed state through the wire...
    assert t1.current_version() == 2 and t2.current_version() == 2
    e2.sql("BEGIN TRANSACTION ON t1, t2")
    e2.sql("INSERT INTO t1 VALUES (222, 2.0)")
    e2.sql("INSERT INTO t2 VALUES (222, 2.0)")
    e2.sql("COMMIT TRANSACTION ON t1, t2")
    ks1 = {r["k"] for r in t1.read().collect()}
    ks2 = {r["k"] for r in t2.read().collect()}
    assert {111, 222} <= ks1 and {111, 222} <= ks2
    assert t1.read().filter("k = 111").count() == 1  # exactly once
    assert t1.current_version() == 3 and t2.current_version() == 3


def test_stale_member_409s_the_whole_transaction_on_the_wire(server):
    """Wire-level all-or-nothing: a transaction whose SECOND member
    carries a stale requirement applies NEITHER manifest."""
    a = RestCommitProtocol(server.url, "wt1")
    b = RestCommitProtocol(server.url, "wt2")
    for p in (a, b):
        code, _ = _post(
            f"{server.url}/v1/tables/{p.table}/commit",
            {"requirements": [{"type": "assert-current-version",
                               "version": None}],
             "manifest": {"version": 1}},
        )
        assert code == 200
    code, body = _post(
        f"{server.url}/v1/transactions/commit",
        {"table-changes": [
            {"table": "wt1",
             "requirements": [{"type": "assert-current-version",
                               "version": 1}],
             "manifest": {"version": 2}},
            {"table": "wt2",
             "requirements": [{"type": "assert-current-version",
                               "version": 99}],   # stale
             "manifest": {"version": 100}},
        ]},
    )
    assert code == 409 and "NOTHING was applied" in body["message"]
    assert a.read_current() == 1 and b.read_current() == 1
    # duplicate member names refuse outright
    code, _ = _post(
        f"{server.url}/v1/transactions/commit",
        {"table-changes": [
            {"table": "wt1", "requirements": [], "manifest": {"version": 2}},
            {"table": "wt1", "requirements": [], "manifest": {"version": 3}},
        ]},
    )
    assert code == 400


def test_failed_txn_leaves_no_phantom_tables(server):
    """Round-10 ADVICE: requirement VALIDATION must be read-only. A
    transaction whose members name previously-unknown tables and whose
    LAST member 409s must not leave empty phantom entries behind — they
    showed up in namespace table listings and blocked namespace drops."""
    from oss_data_lake_spark.sources.rest_catalog import RestNamespaces

    ns = RestNamespaces(server.url)
    ns.create("ph")
    code, body = _post(
        f"{server.url}/v1/transactions/commit",
        {"table-changes": [
            {"table": "ph.a",
             "requirements": [{"type": "assert-current-version",
                               "version": None}],
             "manifest": {"version": 1}},
            {"table": "ph.b",
             "requirements": [{"type": "assert-current-version",
                               "version": 99}],   # unknown table: stale
             "manifest": {"version": 100}},
        ]},
    )
    assert code == 409 and "NOTHING was applied" in body["message"]
    assert ns.tables("ph") == []          # no phantom ph.a / ph.b
    assert ns.drop("ph") is True          # and the namespace can drop


def test_rest_txn_rebases_on_concurrent_commit(spark, server, tmp_path):
    """A non-overlapping outside append lands between BEGIN and COMMIT:
    the 409 retry re-prepares (publish rebases) and BOTH members land —
    the outside write survives too."""
    e, (t1, t2) = _rest_engine(spark, server, tmp_path, ("r1", "r2"))
    e._snapshot_tables["t1"] = e._snapshot_tables.pop("r1")
    e._snapshot_tables["t2"] = e._snapshot_tables.pop("r2")
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (300, 3.0)")
    e.sql("INSERT INTO t2 VALUES (300, 3.0)")
    # outside writer advances t1 mid-transaction
    t1.commit(spark.createDataFrame([Row(k=400, v=4.0)]), mode="append")
    e.sql("COMMIT TRANSACTION ON t1, t2")
    ks = {r["k"] for r in t1.read().collect()}
    assert {300, 400} <= ks
    assert t2.read().filter("k = 300").count() == 1


def test_rest_txn_crash_after_post_is_exactly_once(spark, server, tmp_path):
    """Crash window: the client dies right after the service applied
    the transaction (before branch cleanup). The commit already landed
    atomically server-side; a fresh engine sees it exactly once and
    recovery has nothing to do (no record exists — the staged branches
    are vacuum-able garbage, never re-appliable)."""
    import oss_data_lake_spark.sources.rest_catalog as rc

    e, (t1, t2) = _rest_engine(spark, server, tmp_path, ("c1", "c2"))
    e._snapshot_tables["t1"] = e._snapshot_tables.pop("c1")
    e._snapshot_tables["t2"] = e._snapshot_tables.pop("c2")
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (500, 5.0)")
    e.sql("INSERT INTO t2 VALUES (500, 5.0)")

    orig = rc.rest_commit_transaction

    def post_then_crash(base, changes):
        orig(base, changes)
        raise RuntimeError("simulated crash after the service applied")

    import oss_data_lake_spark.engine as eng_mod

    monkey_target = eng_mod.Engine._commit_multi_rest
    rc_backup = rc.rest_commit_transaction
    rc.rest_commit_transaction = post_then_crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            e.sql("COMMIT TRANSACTION ON t1, t2")
    finally:
        rc.rest_commit_transaction = rc_backup
        assert monkey_target is eng_mod.Engine._commit_multi_rest
    # the service applied it exactly once despite the client crash
    fresh1 = SnapshotTable(
        spark, t1.path, protocol=RestCommitProtocol(server.url, "c1")
    )
    fresh2 = SnapshotTable(
        spark, t2.path, protocol=RestCommitProtocol(server.url, "c2")
    )
    assert fresh1.read().filter("k = 500").count() == 1
    assert fresh2.read().filter("k = 500").count() == 1
    # nothing pending: recovery is a no-op in a fresh engine
    from oss_data_lake_spark.engine import Engine

    e2 = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    assert e2.recover_transactions() == []


def test_reissued_commit_after_lost_response_is_idempotent(
    spark, server, tmp_path
):
    """The service applied the POST but the client lost the response
    (timeout): the user re-issues COMMIT TRANSACTION. The landed-stamp
    check recognizes the transaction as committed and finishes cleanup
    — no spurious extra version, data exactly once."""
    import oss_data_lake_spark.sources.rest_catalog as rc

    e, (t1, t2) = _rest_engine(spark, server, tmp_path, ("l1", "l2"))
    e._snapshot_tables["t1"] = e._snapshot_tables.pop("l1")
    e._snapshot_tables["t2"] = e._snapshot_tables.pop("l2")
    e.sql("BEGIN TRANSACTION ON t1, t2")
    e.sql("INSERT INTO t1 VALUES (600, 6.0)")
    e.sql("INSERT INTO t2 VALUES (600, 6.0)")

    orig = rc.rest_commit_transaction

    def post_then_lose_response(base, changes):
        orig(base, changes)
        raise RuntimeError("simulated response timeout")

    rc.rest_commit_transaction = post_then_lose_response
    try:
        with pytest.raises(RuntimeError, match="response timeout"):
            e.sql("COMMIT TRANSACTION ON t1, t2")
    finally:
        rc.rest_commit_transaction = orig
    # transaction still open in-process; the user retries the COMMIT
    out = {r["table"]: r["version"] for r in
           e.sql("COMMIT TRANSACTION ON t1, t2").collect()}
    assert out == {"t1": 2, "t2": 2}       # the ALREADY-landed versions
    assert t1.current_version() == 2        # no spurious extra commit
    assert t2.current_version() == 2
    assert t1.read().filter("k = 600").count() == 1  # exactly once
    assert t1.branches() == {} and t2.branches() == {}
    assert e._txns == {}


def test_namespaces_over_the_wire(spark, server, tmp_path):
    """The Lakekeeper namespace role: nested dotted namespaces shared
    across clients, parent-required creation, non-empty drop refusal,
    per-namespace table listing (tables land in a namespace by their
    dotted identifier)."""
    from oss_data_lake_spark.sources.rest_catalog import RestNamespaces

    ns1 = RestNamespaces(server.url)
    ns2 = RestNamespaces(server.url)  # an independent client
    assert ns1.create("finance", {"owner": "etl"}) is True
    assert ns1.create("finance.daily") is True
    with pytest.raises(ValueError, match="already exists"):
        ns2.create("finance")
    assert ns2.create("finance", if_not_exists=True) is False
    with pytest.raises(ValueError, match="parent"):
        ns1.create("ghost.child")
    assert ns2.list() == ["finance", "finance.daily"]
    assert ns2.properties("finance") == {"owner": "etl"}

    # a committed table joins its namespace by dotted identifier
    t = SnapshotTable(
        spark,
        str(tmp_path / "prices"),
        protocol=RestCommitProtocol(server.url, "finance.daily.prices"),
    )
    t.commit(spark.createDataFrame([Row(k=1, v=1.0)]))
    assert ns1.tables("finance.daily") == ["finance.daily.prices"]
    assert ns1.tables("finance") == []  # deepest-prefix rule

    # non-empty namespaces refuse to drop; empty ones go
    with pytest.raises(ValueError, match="not empty"):
        ns1.drop("finance.daily")
    with pytest.raises(ValueError, match="not empty"):
        ns1.drop("finance")  # has a child namespace
    with pytest.raises(ValueError, match="does not exist"):
        ns1.drop("ghost")
    assert ns1.drop("ghost", if_exists=True) is False


def test_drop_rest_table_clears_service_metadata(spark, server, tmp_path):
    """DROP of a REST-attached table must remove the catalog's metadata
    tail too — a recreated name starts at v1 over fresh data, never
    appending onto stale references to deleted files."""
    from oss_data_lake_spark.engine import Engine

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    path = str(tmp_path / "d1")
    t = SnapshotTable(spark, path, protocol=RestCommitProtocol(server.url, "d1"))
    t.commit(spark.createDataFrame([Row(k=1)]))
    t.commit(spark.createDataFrame([Row(k=2)]), mode="append")
    e._snapshot_tables["d1"] = t
    e.drop_snapshot_table("d1")
    # service forgot the table entirely
    assert RestCommitProtocol(server.url, "d1").read_current() is None
    # a recreate starts a FRESH history at v1 with only the new data
    t2 = SnapshotTable(spark, path, protocol=RestCommitProtocol(server.url, "d1"))
    v = t2.commit(spark.createDataFrame([Row(k=9)]))
    assert v == 1
    assert [r["k"] for r in t2.read().collect()] == [9]


def test_management_warehouse_endpoints(tmp_path):
    """RUNBOOK step 4 verbatim: list warehouses, create from the repo's
    JSON payload shape, grep-able name in the listing, 409 on duplicate,
    credentials never echoed back."""
    import json
    import urllib.request

    from oss_data_lake_spark.sources.rest_catalog import RestCatalogServer

    srv = RestCatalogServer().start()
    url = srv.url
    try:
        def _get():
            with urllib.request.urlopen(f"{url}/management/v1/warehouse") as r:
                return json.loads(r.read().decode())

        assert _get() == {"warehouses": []}
        payload = {
            "warehouse-name": "yfinance",
            "project-id": "00000000-0000-0000-0000-000000000000",
            "storage-profile": {"type": "s3", "bucket": "demo-bucket",
                                "key-prefix": "warehouse"},
            "storage-credential": {"type": "s3",
                                   "aws-access-key-id": "k",
                                   "aws-secret-access-key": "s"},
        }
        req = urllib.request.Request(
            f"{url}/management/v1/warehouse",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        with urllib.request.urlopen(req) as r:
            assert r.status == 201
            assert "warehouse-id" in json.loads(r.read().decode())
        listing = _get()
        # the RUNBOOK greps for '"name":"yfinance"' in the listing
        assert '"name": "yfinance"' in json.dumps(listing) \
            or '"name":"yfinance"' in json.dumps(listing, separators=(",", ":"))
        assert "aws-secret-access-key" not in json.dumps(listing)
        # duplicate create → 409 (the RUNBOOK's grep-guard exists for this)
        try:
            urllib.request.urlopen(req)
            raise AssertionError("duplicate create must 409")
        except urllib.error.HTTPError as e:
            assert e.code == 409
    finally:
        srv.stop()


def test_warehouse_ids_consistent_across_post_and_get():
    """Lakekeeper warehouse ids are creation-stable: create 'b' then
    'a' — POST returns wh-0 for b; the name-sorted GET listing must
    still say b=wh-0, a=wh-1."""
    srv = RestCatalogServer().start()
    try:
        created = {}
        for name in ("b", "a"):
            req = urllib.request.Request(
                f"{srv.url}/management/v1/warehouse",
                data=json.dumps({"warehouse-name": name}).encode(),
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as r:
                created[name] = json.loads(r.read().decode())["warehouse-id"]
        assert created == {"b": "wh-0", "a": "wh-1"}
        with urllib.request.urlopen(
            f"{srv.url}/management/v1/warehouse"
        ) as r:
            listed = {
                w["name"]: w["id"]
                for w in json.loads(r.read().decode())["warehouses"]
            }
        assert listed == created
    finally:
        srv.stop()
