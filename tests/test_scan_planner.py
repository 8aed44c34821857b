"""The scan planner's metadata cost: one plan reads the snapshot
manifest once and lists each data directory at most once, whatever the
number and kind of predicates — and a conjunction keeps exactly the
files every single-predicate plan keeps."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources import catalog, skipping
from oss_data_lake_spark.sources.snapshots import SnapshotTable


@pytest.fixture()
def six_dirs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    for i in range(6):
        rows = [Row(k=i * 10 + j, c=f"c{i}", v=float(j)) for j in range(10)]
        t.commit(
            spark.createDataFrame(rows).coalesce(2),
            mode="append",
            stats_for=["k", "c"],
            bloom_for=["c"],
        )
    return t


def _count_calls(monkeypatch):
    calls = {"manifest": 0, "listed": []}
    read = catalog.LocalFsCommitProtocol.read_manifest
    listing = skipping._iter_parquet_files

    def counted_read(self, version):
        calls["manifest"] += 1
        return read(self, version)

    def counted_listing(root, *a, **kw):
        calls["listed"].append(root)
        return listing(root, *a, **kw)

    monkeypatch.setattr(
        catalog.LocalFsCommitProtocol, "read_manifest", counted_read
    )
    monkeypatch.setattr(skipping, "_iter_parquet_files", counted_listing)
    return calls


def test_plan_reads_manifest_once_and_lists_each_dir_once(
    six_dirs, monkeypatch
):
    t = six_dirs
    v = t.current_version()
    # counted from the first read: the one parse serves the whole test
    calls = _count_calls(monkeypatch)
    dirs = t._manifest(v)["data_dirs"]
    assert len(dirs) == 6
    n_files = sum(
        len(list(skipping._iter_parquet_files(os.path.join(t.path, d))))
        for d in dirs
    )
    in_pred = {"col": "c", "in": ["c1", "c3", "c4"]}

    calls["listed"].clear()
    sel, n_sel, n_skip = t.plan_pruned([in_pred, ("k", 15, 44)], version=v)
    assert calls["manifest"] == 1
    assert len(calls["listed"]) <= len(dirs)
    assert len(set(calls["listed"])) == len(calls["listed"])

    # the conjunction keeps exactly what both single plans keep
    in_sel = t.plan_pruned([in_pred], version=v)[0]
    range_sel = t.plan_range_scan("k", 15, 44, version=v)[0]
    for d in dirs:
        a, b = in_sel[d], range_sel[d]
        assert a is not None and b is not None
        assert sel[d] == [f for f in a if f in b]
    assert n_sel == sum(len(f) for f in sel.values())
    assert n_sel + n_skip == n_files
    # c3 lies wholly inside k in [15, 44], c1 and c4 partly: three
    # dirs keep files, the other three are skipped whole
    assert [d for d in dirs if sel[d]] == [dirs[1], dirs[3], dirs[4]]
    assert calls["manifest"] == 1
