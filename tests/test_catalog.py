"""CAS commit protocol (sources/catalog.py) — multi-writer safety without
POSIX primitives.

The reference delegates commit atomicity to Lakekeeper's REST catalog
(reference docker-compose.yaml:21-46, etc/catalog/iceberg.properties:16)
because object stores offer no rename/link/lock. These tests prove the
CasCommitProtocol against InMemoryCasCatalog — a fake that deliberately
offers ONLY get / conditional-put / list / delete (object-store
semantics) — including the lost-update rejection and crash roll-forward
properties the flock protocol cannot provide off-host.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources import catalog
from oss_data_lake_spark.sources.catalog import (
    CasCommitProtocol,
    CommitConflict,
    InMemoryCasCatalog,
)
from oss_data_lake_spark.sources.snapshots import SnapshotTable


def _cas_table(spark, tmp_path, name="t") -> SnapshotTable:
    # data files on the (local stand-in for an object-store) path;
    # ALL metadata through the catalog — the Iceberg REST-catalog split
    return SnapshotTable(
        spark,
        str(tmp_path / name),
        protocol=CasCommitProtocol(InMemoryCasCatalog(), prefix=f"{name}/"),
    )


def _batch(spark, lo, hi):
    return spark.createDataFrame([Row(k=i, v=float(i)) for i in range(lo, hi)])


def test_cas_table_full_lifecycle(spark, tmp_path):
    """commit / append / time travel / rollback / expire / row-level DML
    all run with metadata exclusively in the CAS catalog (no _snapshots
    dir is ever consulted)."""
    t = _cas_table(spark, tmp_path)
    assert t.current_version() is None
    v1 = t.commit(_batch(spark, 0, 10))
    v2 = t.commit(_batch(spark, 10, 20), mode="append")
    assert (v1, v2) == (1, 2)
    assert t.read().count() == 20
    assert t.read(version=1).count() == 10
    v3 = t.rollback(1)
    assert v3 == 3 and t.read().count() == 10
    t.rollback(2)
    info = t.delete_where("k < 5")
    assert info["version"] == 5
    assert t.read().count() == 15
    assert [m["version"] for m in t.versions()] == [1, 2, 3, 4, 5]
    # no local metadata dir was materialized
    assert not (tmp_path / "t" / "_snapshots" / "CURRENT").exists()


def test_cas_concurrent_appends_none_lost(spark, tmp_path):
    """The object-store race the flock protocol cannot win: 8 writers
    racing appends through conditional PUTs — every batch lands, distinct
    versions, no lost update."""
    from concurrent.futures import ThreadPoolExecutor

    t = _cas_table(spark, tmp_path, "race")
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


def test_cas_concurrent_idempotent_commits_apply_once(spark, tmp_path):
    from concurrent.futures import ThreadPoolExecutor

    t = _cas_table(spark, tmp_path, "race2")
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
    assert set(results) == {applied[0]}, results


def test_cas_lost_update_rejected_and_composed():
    """Two writers build against the SAME parent: exactly one wins the
    version-slot claim; the loser's build RE-RUNS against the winner's
    head, so both commits land sequentially — never a silent clobber.
    Pure-protocol test (no Spark): manifests are dicts."""
    proto = CasCommitProtocol(InMemoryCasCatalog())
    barrier = threading.Barrier(2)
    parents_seen: dict[str, list] = {"a": [], "b": []}

    def writer(tag: str):
        def build(parent, _read):
            parents_seen[tag].append(parent)
            if not parents_seen[tag][1:]:  # both writers align on try #1
                barrier.wait()
            return {"version": (parent or 0) + 1, "who": tag}

        return proto.commit(build)

    th = {}
    for tag in ("a", "b"):
        th[tag] = threading.Thread(target=lambda t=tag: writer(t))
        th[tag].start()
    for t in th.values():
        t.join()

    assert proto.read_current() == 2
    whos = {proto.read_manifest(v)["who"] for v in (1, 2)}
    assert whos == {"a", "b"}
    # the slot-claim loser observed the winner's head on its re-run
    losers = [p for p in (parents_seen["a"] + parents_seen["b"]) if p == 1]
    assert losers, "one writer must have rebuilt against the new head"


def test_cas_crash_rollforward():
    """A writer that claims a version slot and dies before advancing the
    pointer leaves a complete manifest; the NEXT writer's failed claim
    helps it forward and then commits on top — the table never wedges."""
    cat = InMemoryCasCatalog()
    proto = CasCommitProtocol(cat)
    proto.commit(lambda p, _r: {"version": 1, "who": "base"})
    # simulate the crash: slot v2 claimed, pointer still at 1
    cat.put_if_absent("v2.json", json.dumps({"version": 2, "who": "dead"}).encode())
    assert proto.read_current() == 1

    v = proto.commit(lambda p, _r: {"version": (p or 0) + 1, "who": "live"})
    assert v == 3
    assert proto.read_current() == 3
    assert proto.read_manifest(2)["who"] == "dead"  # rolled forward, kept
    assert proto.read_manifest(3)["who"] == "live"


def test_cas_retries_exhausted_raises():
    cat = InMemoryCasCatalog()
    proto = CasCommitProtocol(cat, retries=3)
    calls = {"n": 0}

    def build(parent, _read):
        # a rival claims our slot between build and claim, every time
        calls["n"] += 1
        v = (parent or 0) + 1
        cat.put_if_absent(f"v{v}.json", b"{}")
        cat.put_if_match(
            "CURRENT", str(v).encode(),
            None if parent is None else str(parent).encode(),
        )
        return {"version": v}

    with pytest.raises(CommitConflict):
        proto.commit(build)
    assert calls["n"] == 3


def test_cas_short_circuit_skips_claim():
    proto = CasCommitProtocol(InMemoryCasCatalog())
    proto.commit(lambda p, _r: {"version": 1})
    assert proto.commit(lambda p, _r: 1) == 1  # idempotent no-op
    assert proto.read_current() == 1


def test_cas_streaming_sink_exactly_once(spark, tmp_path):
    """The Delta-txn idempotence protocol composes with the CAS catalog:
    a re-delivered micro-batch no-ops through conditional PUTs too."""
    t = _cas_table(spark, tmp_path, "sink")
    v1 = t.commit(_batch(spark, 0, 10), txn_app="s", txn_version=1)
    again = t.commit(_batch(spark, 0, 10), txn_app="s", txn_version=1)
    assert again == v1
    assert t.read().count() == 10
    assert t.txn_watermark("s") == 1


def test_cas_concurrent_mixed_dml_and_appends(spark, tmp_path):
    """Concurrent APPEND + pruned DELETE + pruned UPDATE racing through
    the CAS catalog: the copy-on-write publish validates its planned head
    and replans on conflict, so all three land (in some serial order) and
    the final state equals the commutative outcome — their key ranges are
    disjoint, so order cannot matter."""
    import threading

    t = _cas_table(spark, tmp_path, "dmlrace")
    t.commit_clustered(
        _batch(spark, 0, 100), cluster_by="k", n_files=5, stats_for=["k"]
    )
    barrier = threading.Barrier(3)
    errors: list[Exception] = []

    def run(fn):
        try:
            barrier.wait()
            fn()
        except Exception as e:  # surfaced after join
            errors.append(e)

    ops = [
        lambda: t.commit(_batch(spark, 200, 210), mode="append"),
        lambda: t.delete_where(
            "k BETWEEN 0 AND 9", prune_column="k",
            prune_lower=0, prune_upper=9, stats_for=["k"],
        ),
        lambda: t.update_where(
            "k BETWEEN 90 AND 99", {"v": "v + 1000.0"},
            prune_column="k", prune_lower=90, prune_upper=99,
            stats_for=["k"],
        ),
    ]
    threads = [threading.Thread(target=run, args=(fn,)) for fn in ops]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert t.current_version() == 4  # 1 initial + 3 racing commits
    got = {r.k: r.v for r in t.read().collect()}
    want = {k: float(k) for k in range(10, 90)}
    want.update({k: float(k) + 1000.0 for k in range(90, 100)})
    want.update({k: float(k) for k in range(200, 210)})
    assert got == want


def test_append_build_reads_its_parent_once_per_attempt(spark, tmp_path):
    """Without a parse cache (an object store, a REST catalog) every
    manifest read is a round trip: the commit build takes every parent
    field from the one manifest it read. The first attempt loses its
    claim to a rival writer and rebuilds on the new head."""
    t = _cas_table(spark, tmp_path)
    t.commit(_batch(spark, 0, 5))
    proto, cat = t.protocol, t.protocol.catalog
    read, commit = proto.read_manifest, proto.commit
    reads, parents, in_build = [], [], [False]

    def counted(version):
        if in_build[0]:
            reads.append(version)
        return read(version)

    def flagged_commit(build):
        def flagged(parent, rm):
            parents.append(parent)
            in_build[0] = True
            try:
                out = build(parent, rm)
            finally:
                in_build[0] = False
            if len(parents) == 1:  # a rival claims the slot first
                rival = {**read(parent), "version": parent + 1}
                cat.put_if_absent(
                    proto._vkey(parent + 1), json.dumps(rival).encode()
                )
            return out

        return commit(flagged)

    proto.read_manifest = counted
    proto.commit = flagged_commit
    assert t.commit(_batch(spark, 5, 8), mode="append") == 3
    assert parents == [1, 2]
    assert reads == [1, 2]
    assert sorted(r.k for r in t.read().collect()) == list(range(8))


def test_local_publish_is_durable_and_mkdirs_on_first_commit(
    tmp_path, monkeypatch
):
    """The temp manifest is fsynced before its link, the CURRENT temp
    before its rename, and the directory after each; a protocol handle
    alone creates nothing."""
    meta = tmp_path / "t" / "_snapshots"
    proto = catalog.open_protocol(str(tmp_path / "t"))
    assert proto.read_current() is None and proto.list_versions() == []
    assert not (tmp_path / "t").exists()
    synced = []
    real = os.fsync

    def spy(fd):
        synced.append(os.fstat(fd).st_ino)
        real(fd)

    monkeypatch.setattr(catalog.os, "fsync", spy)
    assert proto.commit(lambda p, _r: {"version": 1}) == 1

    def ino(name=None):
        return os.stat(meta / name if name else meta).st_ino

    assert synced == [ino("v1.json"), ino(), ino("CURRENT"), ino()]
    assert sorted(os.listdir(meta)) == ["CURRENT", "LOCK", "v1.json"]


class _Crash(BaseException):
    """A writer's death: not an Exception, so no handler swallows it."""


def test_local_crash_between_link_and_pointer_rolls_forward(
    tmp_path, monkeypatch
):
    """A writer that dies after linking ``v2.json`` but before replacing
    CURRENT leaves a complete manifest above the pointer and a stray
    ``CURRENT.tmp-*``. The next commit, from a fresh handle, advances
    CURRENT to the dead writer's slot and builds on top of it, where it
    used to collide with the slot on every attempt."""
    meta = tmp_path / "t" / "_snapshots"
    proto = catalog.open_protocol(str(tmp_path / "t"))
    proto.commit(lambda p, _r: {"version": 1, "who": "base"})
    real = os.replace

    def dies_on_pointer(src, dst, *a, **kw):
        if os.path.basename(dst) == "CURRENT":
            raise _Crash()
        return real(src, dst, *a, **kw)

    monkeypatch.setattr(catalog.os, "replace", dies_on_pointer)
    with pytest.raises(_Crash):
        proto.commit(lambda p, _r: {"version": p + 1, "who": "dead"})
    monkeypatch.setattr(catalog.os, "replace", real)
    assert proto.read_current() == 1
    assert any(n.startswith("CURRENT.tmp-") for n in os.listdir(meta))

    fresh = catalog.open_protocol(str(tmp_path / "t"))
    parents = []

    def build(p, read):
        parents.append((p, read(p)["who"]))
        return {"version": p + 1, "who": "live"}

    assert fresh.commit(build) == 3
    assert parents == [(2, "dead")]
    assert fresh.read_current() == 3
    assert fresh.list_versions() == [1, 2, 3]
    assert sorted(os.listdir(meta)) == [
        "CURRENT", "LOCK", "v1.json", "v2.json", "v3.json"
    ]
