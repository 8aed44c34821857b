"""One manifest reader: every CURRENT and manifest read goes through the
table's commit protocol, and the local protocol keeps one process-wide
parse cache checked by one ``os.stat`` per read. Pinned here by
manifest reads per SQL statement, by cache integrity after every commit
kind (a caller that mutates a shared manifest shows up as a cached
entry that no longer equals its file), and by a handle held across a
drop and re-create of its table at the same path."""

from __future__ import annotations

import json
import os
import shutil
from collections import Counter

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources import catalog
from oss_data_lake_spark.sources.snapshots import SnapshotTable

STATEMENTS = (
    ("insert", "INSERT INTO t VALUES (900, 1.0)"),
    (
        "merge",
        "MERGE INTO t USING s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ),
    ("delete", "DELETE FROM t WHERE k BETWEEN 20 AND 25"),
    ("update", "UPDATE t SET v = v + 1 WHERE k BETWEEN 30 AND 35"),
    ("point_select", "SELECT * FROM t WHERE k = 5"),
    ("range_select", "SELECT * FROM t WHERE k BETWEEN 10 AND 40"),
    ("optimize", "OPTIMIZE t"),
    ("expire", "ALTER TABLE t EXPIRE SNAPSHOTS KEEP LAST 2"),
    ("vacuum", "VACUUM t RETAIN 0 HOURS"),
)


def _batch(spark, lo, hi):
    rows = [Row(k=k, v=float(k)) for k in range(lo, hi)]
    return spark.createDataFrame(rows).coalesce(2)


def _seven_versions(spark, path: str) -> SnapshotTable:
    t = SnapshotTable(spark, path)
    for i in range(7):
        t.commit(_batch(spark, i * 10, i * 10 + 10), mode="append",
                 stats_for=["k"])
    return t


def _count_reads(monkeypatch) -> list:
    """(metadata dir, version) of every real manifest parse."""
    reads: list = []
    read = catalog.LocalFsCommitProtocol.read_manifest

    def counted(self, version):
        reads.append((self.meta, version))
        return read(self, version)

    monkeypatch.setattr(
        catalog.LocalFsCommitProtocol, "read_manifest", counted
    )
    return reads


def test_each_statement_reads_each_manifest_at_most_once(
    spark, tmp_path, monkeypatch
):
    t = _seven_versions(spark, str(tmp_path / "t"))
    e = Engine(spark=spark)
    e._snapshot_tables["t"] = t
    spark.createDataFrame(
        [Row(k=k, v=99.0) for k in (3, 21, 500)]
    ).createOrReplaceTempView("s")
    reads = _count_reads(monkeypatch)
    try:
        for name, text in STATEMENTS:
            reads.clear()
            e.sql(text).collect()
            again = {k: n for k, n in Counter(reads).items() if n > 1}
            assert not again, (name, reads)
    finally:
        spark.catalog.dropTempView("s")
    # an unchanged table's manifests are already parsed
    reads.clear()
    e.sql("SELECT * FROM t WHERE k = 5").collect()
    e.sql("SELECT * FROM t WHERE k BETWEEN 10 AND 40").collect()
    assert reads == []


def _assert_cache_matches_files(root: str) -> int:
    """Every cached manifest under ``root`` whose file is unchanged
    equals a fresh parse of that file; returns how many were checked."""
    with catalog._manifests_mu:
        entries = list(catalog._MANIFESTS.items())
    checked = 0
    for path, (ident, cached) in entries:
        if not path.startswith(root) or not os.path.exists(path):
            continue
        st = os.stat(path)
        if (st.st_ino, st.st_size, st.st_mtime_ns) != ident:
            continue
        with open(path) as fh:
            assert cached == json.load(fh), path
        checked += 1
    return checked


def test_no_commit_kind_mutates_a_cached_manifest(spark, tmp_path):
    root = str(tmp_path)
    t = _seven_versions(spark, str(tmp_path / "t"))
    e = Engine(spark=spark)
    e._snapshot_tables["t"] = t
    spark.createDataFrame(
        [Row(k=k, v=99.0) for k in (3, 21, 500)]
    ).createOrReplaceTempView("s")
    steps = {
        "append": lambda: t.commit(_batch(spark, 70, 80), mode="append"),
        "cow_delete": lambda: e.sql("DELETE FROM t WHERE k = 3"),
        "cow_update": lambda: e.sql("UPDATE t SET v = 0.0 WHERE k = 4"),
        "merge": lambda: e.sql(
            "MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN "
            "UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ),
        "properties": lambda: t.set_properties(
            {"delete.mode": "merge-on-read"}
        ),
        "mor_delete": lambda: e.sql("DELETE FROM t WHERE k = 13"),
        "mor_update": lambda: e.sql("UPDATE t SET v = 1.0 WHERE k = 14"),
        "equality_delete": lambda: t.delete_where_eq("k", [15, 16]),
        "schema_ddl": lambda: t.add_columns({"w": "double"}),
        "rename": lambda: t.rename_column("w", "w2"),
        "constraints": lambda: t.add_constraint("k_pos", "k >= 0"),
        "optimize": lambda: e.sql("OPTIMIZE t"),
        "rollback": lambda: t.rollback(t.current_version() - 2),
        "overwrite": lambda: t.commit(_batch(spark, 0, 5)),
        "expire": lambda: t.expire_snapshots(keep_last=2),
    }
    try:
        for name, step in steps.items():
            t.versions()  # every live manifest cached before the step
            t.read().collect()
            out = step()
            if hasattr(out, "collect"):
                out.collect()
            assert _assert_cache_matches_files(root) > 0, name
    finally:
        spark.catalog.dropTempView("s")
    assert sorted(r.k for r in t.read().collect()) == list(range(5))


def test_held_handle_follows_a_table_recreated_at_its_path(spark, tmp_path):
    path = str(tmp_path / "t")
    held = SnapshotTable(spark, path)
    held.commit(_batch(spark, 0, 3))
    held.commit(_batch(spark, 3, 5), mode="append")
    assert held.read().count() == 5  # its manifests are now cached
    held.versions()
    shutil.rmtree(path)

    fresh = SnapshotTable(spark, path)
    fresh.commit(_batch(spark, 10, 12))
    fresh.commit(_batch(spark, 12, 13), mode="append")

    def files():
        return sorted(
            os.path.join(dp, f)
            for dp, _dn, fs in os.walk(os.path.join(path, "data"))
            for f in fs
        )

    before = files()
    assert sorted(r.k for r in held.read().collect()) == [10, 11, 12]
    held.vacuum()
    assert files() == before
    assert sorted(r.k for r in fresh.read().collect()) == [10, 11, 12]


def test_expired_version_still_raises_through_the_cache(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(3):
        t.commit(_batch(spark, i, i + 1), mode="append")
    assert t._manifest(1)["version"] == 1  # cached
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    path = os.path.join(t.path, "_snapshots", "v1.json")
    assert path not in catalog._MANIFESTS  # delete_manifest evicts
    with pytest.raises(FileNotFoundError):
        t._manifest(1)


def test_cache_is_bounded_by_manifest_bytes(tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_MANIFESTS", type(catalog._MANIFESTS)())
    monkeypatch.setattr(catalog, "_manifests_bytes", 0)
    p = catalog.open_protocol(str(tmp_path / "t"))
    for _ in range(5):
        p.commit(lambda parent, rm: {"version": (parent or 0) + 1,
                                     "pad": "x" * 1000})
    size = os.path.getsize(os.path.join(p.meta, "v1.json"))
    monkeypatch.setattr(catalog, "_MANIFESTS_CAP", 3 * size)
    for v in range(1, 6):
        assert p.manifest(v)["version"] == v
    held = [k for k in catalog._MANIFESTS]
    assert held == [os.path.join(p.meta, f"v{v}.json") for v in (3, 4, 5)]
    assert catalog._manifests_bytes == 3 * size


def test_concurrent_readers_keep_the_byte_count(tmp_path, monkeypatch):
    """Readers on more threads than cores, with a cap that evicts on most
    fills: every read returns its own version, and the byte count still
    equals the sizes of the entries held (a lost update breaks it)."""
    import sys
    import threading

    monkeypatch.setattr(catalog, "_MANIFESTS", type(catalog._MANIFESTS)())
    monkeypatch.setattr(catalog, "_manifests_bytes", 0)
    p = catalog.open_protocol(str(tmp_path / "t"))
    for _ in range(12):
        p.commit(lambda parent, rm: {"version": (parent or 0) + 1})
    size = os.path.getsize(os.path.join(p.meta, "v1.json"))
    monkeypatch.setattr(catalog, "_MANIFESTS_CAP", 4 * size)
    wrong: list = []

    def reader(seed):
        for i in range(300):
            v = (seed * 7 + i) % 9 + 1
            if p.manifest(v)["version"] != v:
                wrong.append(v)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=reader, args=(s,))
            for s in range(3 * (os.cpu_count() or 1))
        ]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    assert wrong == []
    with catalog._manifests_mu:
        held = sum(ident[1] for ident, _m in catalog._MANIFESTS.values())
    assert catalog._manifests_bytes == held <= 4 * size
