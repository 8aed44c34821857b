"""Small snapshot scans planned as one partition.

When a statement holds an operator that plans an exchange (GROUP BY,
DISTINCT, a join, ORDER BY, a window, a function call) and a view it
reads admits data files totalling at most ``SMALL_SCAN_BYTES``, the view
is ``coalesce(1)`` over the same scan: the operator then plans no
exchange, and a range aggregate runs one Spark job instead of two.

The ``bound`` fixture runs every row check with the bound forced to 0
(Spark's file splits, the multi-partition path) and to infinity (every
view one partition), against answers computed here in Python, so each
plan is checked against the same oracle. The job counts, the plan shapes
and the write layout are pinned at the shipped bound."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources import snapshots
from oss_data_lake_spark.sources.skipping import _iter_parquet_files
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.test_statement_path import _jobs

N = 400
ROWS = [(k, k % 7, k * 0.5, f"s{k % 11}") for k in range(N)]
SCHEMA = "k bigint, g bigint, v double, s string"


def _commit_quarters(spark, t, rows, **kw):
    """Four appends, so the table has four files in four dirs."""
    q = len(rows) // 4
    for i in range(4):
        t.commit(
            spark.createDataFrame(rows[i * q:(i + 1) * q], SCHEMA),
            mode="append", **kw,
        )


@pytest.fixture(scope="module")
def lake(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("small_scan")
    e = Engine(spark=spark, warehouse_dir=str(root / "wh"))
    s1 = SnapshotTable(spark, str(root / "ssc_a"))
    _commit_quarters(spark, s1, ROWS, stats_for=["k"])
    s2 = SnapshotTable(spark, str(root / "ssc_b"))
    s2.commit(spark.createDataFrame(
        [Row(k=k, w=k * 10) for k in range(0, N, 3)]
    ), stats_for=["k"])
    # above the shipped bound: hashes do not compress
    big = SnapshotTable(spark, str(root / "ssc_big"))
    big.commit(spark.range(60_000).selectExpr(
        "id AS k", "id % 5 AS g", "sha2(CAST(id AS STRING), 256) AS h"
    ).repartition(4))
    # merge-on-read: a position delete and an equality delete
    mor = SnapshotTable(spark, str(root / "ssc_mor"))
    _commit_quarters(spark, mor, ROWS, stats_for=["k"])
    mor.delete_where_mor("k < 10")
    mor.delete_where_eq("k", [100, 101, 399])
    # past the fold threshold: one folded scan of the partitioned dirs
    part = SnapshotTable(spark, str(root / "ssc_part"))
    n_dirs = SnapshotTable._PARTITIONED_FOLD_MIN + 1
    for i in range(n_dirs):
        part.commit(
            spark.createDataFrame(
                [(k, k % 3) for k in range(i * 20, (i + 1) * 20)],
                "k bigint, p bigint",
            ),
            mode="append", partition_by=["p"],
        )
    # prefixed names: other modules leave temp views such as `part`
    tables = {"ssc_a": s1, "ssc_b": s2, "ssc_big": big, "ssc_mor": mor,
              "ssc_part": part}
    e._snapshot_tables.update(tables)
    return e, tables, n_dirs


@pytest.fixture(params=[0, math.inf], ids=["bound0", "bound_inf"])
def bound(request, monkeypatch):
    monkeypatch.setattr(snapshots, "SMALL_SCAN_BYTES", request.param)
    return request.param


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_group_by(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT g, count(*) AS n, sum(k) AS sk FROM ssc_a "
        "WHERE k >= 50 AND k < 330 GROUP BY g"
    ))
    want = {}
    for k, g, _, _ in ROWS:
        if 50 <= k < 330:
            n, sk = want.get(g, (0, 0))
            want[g] = (n + 1, sk + k)
    assert got == sorted((g, n, sk) for g, (n, sk) in want.items())


def test_global_aggregate(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql("SELECT count(*) AS n, max(v) AS mx FROM ssc_a"))
    assert got == [(N, (N - 1) * 0.5)]


def test_distinct(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql("SELECT DISTINCT s FROM ssc_a WHERE k < 200"))
    assert got == sorted({(s,) for k, _, _, s in ROWS if k < 200})


def test_window(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT k, row_number() OVER (PARTITION BY g ORDER BY k DESC) AS rn "
        "FROM ssc_a WHERE k < 60"
    ))
    want = []
    for g in range(7):
        ks = sorted((k for k, gg, _, _ in ROWS if gg == g and k < 60),
                    reverse=True)
        want += [(k, i + 1) for i, k in enumerate(ks)]
    assert got == sorted(want)


def test_order_by_limit(lake, bound):
    e, _, _ = lake
    got = [r.k for r in e.sql(
        "SELECT k FROM ssc_a ORDER BY v DESC LIMIT 5"
    ).collect()]
    assert got == [399, 398, 397, 396, 395]


def test_small_small_join(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT count(*) AS n, sum(a.k + b.w) AS t FROM ssc_a a "
        "JOIN ssc_b b ON a.k = b.k WHERE a.k < 300"
    ))
    ks = [k for k in range(0, 300, 3)]
    assert got == [(len(ks), sum(k * 11 for k in ks))]


def test_small_large_join(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT a.g, count(*) AS n FROM ssc_a a JOIN ssc_big big "
        "ON a.k = big.k GROUP BY a.g"
    ))
    want = {}
    for _, g, _, _ in ROWS:
        want[g] = want.get(g, 0) + 1
    assert got == sorted(want.items())


def test_union(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT k FROM ssc_a WHERE k < 5 "
        "UNION SELECT k FROM ssc_b WHERE k < 10"
    ))
    assert got == [(k,) for k in sorted({0, 1, 2, 3, 4, 6, 9})]


def test_version_as_of(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT count(*) AS n, sum(k) AS sk FROM ssc_a FOR VERSION AS OF 2 "
        "WHERE k >= 20"
    ))
    assert got == [(180, sum(range(20, 200)))]


def test_merge_on_read_deletes(lake, bound):
    e, _, _ = lake
    got = _rows(e.sql(
        "SELECT g, count(*) AS n, sum(k) AS sk FROM ssc_mor GROUP BY g"
    ))
    gone = set(range(10)) | {100, 101, 399}
    want = {}
    for k, g, _, _ in ROWS:
        if k not in gone:
            n, sk = want.get(g, (0, 0))
            want[g] = (n + 1, sk + k)
    assert got == sorted((g, n, sk) for g, (n, sk) in want.items())


def test_folded_partitioned_dirs(lake, bound):
    e, _, n_dirs = lake
    got = _rows(e.sql(
        "SELECT p, count(*) AS n, sum(k) AS sk FROM ssc_part "
        "WHERE k >= 15 GROUP BY p"
    ))
    ks = range(15, n_dirs * 20)
    assert got == sorted(
        (p, sum(1 for k in ks if k % 3 == p), sum(k for k in ks if k % 3 == p))
        for p in range(3)
    )


def test_join_fed_insert_writes_one_file(spark, tmp_path, bound):
    """An INSERT whose SELECT joins small snapshot tables reads them as
    one partition each, so the broadcast join has one output partition
    and the write one file; on Spark's splits it writes one per file of
    the streamed side."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    a = SnapshotTable(spark, str(tmp_path / "a"))
    _commit_quarters(spark, a, ROWS)
    b = SnapshotTable(spark, str(tmp_path / "b"))
    b.commit(spark.createDataFrame([Row(k=k) for k in range(0, N, 2)]))
    dst = SnapshotTable(spark, str(tmp_path / "ssc_dst"))
    dst.commit(spark.createDataFrame([], "k bigint, v double"))
    e._snapshot_tables.update({"ssc_src": a, "ssc_dim": b, "ssc_dst": dst})
    e.sql(
        "INSERT INTO ssc_dst SELECT /*+ BROADCAST(b) */ a.k, a.v "
        "FROM ssc_src a JOIN ssc_dim b ON a.k = b.k"
    ).collect()
    new_dir = dst._manifest(dst.current_version())["data_dirs"][-1]
    files = list(_iter_parquet_files(os.path.join(dst.path, new_dir)))
    assert (len(files) == 1) == (bound == math.inf), files
    assert dst.read().count() == N // 2


def test_range_aggregate_runs_one_job(spark, lake):
    """A range aggregate over a small table: one Spark job and no
    exchange at the shipped bound, two jobs on Spark's splits."""
    e, _, _ = lake
    q = ("SELECT g, count(*) AS n FROM ssc_a WHERE k >= 100 AND k < 300 "
         "GROUP BY g")
    e.sql(q).collect()
    assert "Exchange" not in _plan(e.sql(q))
    assert _jobs(spark, lambda: e.sql(q).collect()) == 1


def test_range_aggregate_on_splits_runs_two_jobs(spark, lake, monkeypatch):
    e, _, _ = lake
    monkeypatch.setattr(snapshots, "SMALL_SCAN_BYTES", 0)
    q = ("SELECT g, count(*) AS n FROM ssc_a WHERE k >= 100 AND k < 300 "
         "GROUP BY g")
    e.sql(q).collect()
    assert "Exchange" in _plan(e.sql(q))
    assert _jobs(spark, lambda: e.sql(q).collect()) == 2


def test_point_lookup_keeps_file_splits(spark, lake):
    """A lookup plans no exchange, so one partition would only read its
    files one after another: it keeps Spark's splits and its one job."""
    e, _, _ = lake
    q = "SELECT k, s FROM ssc_a WHERE g = 3 AND k > 350"
    e.sql(q).collect()
    df = e.sql(q)
    assert "Coalesce" not in _plan(df)
    assert _jobs(spark, lambda: df.collect()) == 1
    assert _rows(df) == [
        (k, s) for k, g, _, s in ROWS if g == 3 and k > 350
    ]


def test_scan_above_bound_keeps_its_exchange(lake):
    e, tables, _ = lake
    size = sum(
        os.path.getsize(p)
        for p in _iter_parquet_files(tables["ssc_big"].path)
    )
    assert size > snapshots.SMALL_SCAN_BYTES
    df = e.sql("SELECT g, count(*) AS n FROM ssc_big GROUP BY g")
    plan = _plan(df)
    assert "Exchange" in plan and "Coalesce" not in plan
    assert _rows(df) == [(g, 12_000) for g in range(5)]


def test_merge_source_bounds_one_job(spark, tmp_path):
    """A MERGE from a 20-row VALUES source: its key bounds are one job,
    so the MERGE runs 4 jobs where it ran 5."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    t = SnapshotTable(spark, str(tmp_path / "ssc_m"))
    _commit_quarters(spark, t, ROWS, stats_for=["k"])
    e._snapshot_tables["ssc_m"] = t
    vals = ", ".join(f"({k}, {k % 7}, {k}.25, 'x')" for k in range(390, 410))

    def merge():
        e.sql(
            f"MERGE INTO ssc_m USING (SELECT CAST(k AS BIGINT) AS k, "
            f"CAST(g AS BIGINT) AS g, CAST(v AS DOUBLE) AS v, s FROM "
            f"(VALUES {vals}) AS src(k, g, v, s)) AS src ON ssc_m.k = src.k "
            f"WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
        ).collect()

    assert _jobs(spark, merge) == 4
    got = _rows(e.sql("SELECT count(*), sum(v) FROM ssc_m WHERE k >= 390"))
    assert got == [(20, sum(k + 0.25 for k in range(390, 410)))]
