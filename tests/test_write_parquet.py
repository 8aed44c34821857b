"""``session.write_parquet``: the driver (pyarrow) path and Spark's write
command give the same table.

Each case runs twice, once with ``DRIVER_WRITE_MAX_BYTES`` forced to 0
(every write takes Spark's write command) and once forced to infinity
(every local write is collected once and written by pyarrow), and the two
runs must agree on:

- the rows every query reads back, file skipping included;
- the file layout: directories, and data files per directory;
- ``collect_file_stats`` of every data and delete directory.

Also pinned: partition directory names escape as Spark's own
``escapePathName`` does, and a float column holding NaN keeps its NaN rows
under ``x > 10`` and ``x = NaN`` on both paths (pyarrow leaves NaN out of
min/max, so bounds written for such a file would prune them)."""

from __future__ import annotations

import json
import math
import os
import re

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from oss_data_lake_spark import session
from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.sources.ingest import ingest, read_curated
from oss_data_lake_spark.sources.ohlcv import generate_ohlcv
from oss_data_lake_spark.sources.skipping import collect_file_stats
from oss_data_lake_spark.sources.snapshots import SnapshotTable

_COMMIT_ID = re.compile(r"-[0-9a-f]{8}(?=/|$)")
_WRITE_ID = re.compile(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}")


def _layout(root: str) -> dict[str, int]:
    """Data files per directory, commit ids masked."""
    out: dict[str, int] = {}
    for dp, _dn, fs in os.walk(root):
        n = sum(
            1 for f in fs
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if n:
            key = _COMMIT_ID.sub("", os.path.relpath(dp, root))
            out[key] = out.get(key, 0) + n
    return out


def _stats(spark, root: str, columns: list[str]) -> dict[str, list]:
    """``collect_file_stats`` of each data and delete dir, file names
    dropped, write ids masked (delete files name data files) and each
    dir's entries sorted."""
    out: dict[str, list] = {}
    for top in ("data", "deletes"):
        base = os.path.join(root, top)
        for d in sorted(os.listdir(base)) if os.path.isdir(base) else []:
            for k, v in _dir_stats(spark, os.path.join(base, d), columns).items():
                out[_COMMIT_ID.sub("", f"{top}/{d}/{k}")] = v
    return out


def _dir_stats(spark, root: str, columns: list[str]) -> dict[str, list]:
    texts: dict[str, list] = {}
    for rel, entry in collect_file_stats(spark, root, columns).items():
        texts.setdefault(os.path.dirname(rel), []).append(
            _WRITE_ID.sub("", _COMMIT_ID.sub("", json.dumps(entry, sort_keys=True)))
        )
    # compared as values: pyarrow bounds a zero by min -0.0 where Spark's
    # parquet-mr writes 0.0, and -0.0 == 0.0
    return {
        k: [
            json.loads(t)
            for t in sorted(v, key=lambda t: t.replace("-0.0", "0.0"))
        ]
        for k, v in texts.items()
    }


def _rows(df) -> list:
    return sorted(repr(tuple(r)) for r in df.collect())


def _floats(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT * FROM VALUES "
            "(1, 1.0D, CAST(1.0 AS FLOAT), CAST(NULL AS DOUBLE)), "
            "(2, double('NaN'), float('NaN'), CAST(NULL AS DOUBLE)), "
            "(3, -0.0D, CAST(-0.0 AS FLOAT), CAST(NULL AS DOUBLE)), "
            "(4, 5.0D, CAST(5.0 AS FLOAT), CAST(NULL AS DOUBLE)), "
            "(5, 2.5D, CAST(2.5 AS FLOAT), CAST(NULL AS DOUBLE)), "
            "(6, 7.0D, CAST(NULL AS FLOAT), CAST(NULL AS DOUBLE)) "
            "AS v(k, x, y, z)"
        ).repartition(3, "k"),
        stats_for=["k", "x", "y", "z"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    want = {
        "x > 10": [2], "x = double('NaN')": [2], "x < 3": [1, 3, 5],
        "y > 10": [2], "y = float('NaN')": [2], "y < 3": [1, 3, 5],
        "z IS NULL AND k < 3": [1, 2], "z > 0": [],
    }
    got = []
    for cond, keys in want.items():
        res = sorted(r.k for r in e.sql(f"SELECT k FROM m WHERE {cond}").collect())
        assert res == keys, cond
        got.append(res)
    return t, got


def _dates(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT * FROM VALUES "
            "(1, DATE'0001-01-01', TIMESTAMP'1000-06-01 12:00:00'), "
            "(2, DATE'1500-03-01', TIMESTAMP'1582-10-04 23:59:59.999999'), "
            "(3, DATE'1582-10-04', TIMESTAMP'1582-10-15 00:00:00'), "
            "(4, DATE'1582-10-15', TIMESTAMP'1900-01-01 00:00:00'), "
            "(5, DATE'2024-02-29', CAST(NULL AS TIMESTAMP)) AS v(k, d, ts)"
        ).repartition(2, "k"),
        stats_for=["d", "ts"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        _rows(t.read()),
        _rows(e.sql("SELECT k FROM m WHERE d < DATE'1582-10-05'")),
        _rows(e.sql("SELECT k FROM m WHERE ts < TIMESTAMP'1582-10-05'")),
    ]


def _decimals(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT k, CAST(x AS DECIMAL(38,18)) AS x FROM VALUES "
            "(1, '12345678901234567890.123456789012345678'), "
            "(2, '-0.000000000000000001'), (3, '0'), (4, NULL) AS v(k, x)"
        ),
        stats_for=["x"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        _rows(t.read()), _rows(e.sql("SELECT k FROM m WHERE x > 0")),
    ]


def _ntz(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT * FROM VALUES "
            "(1, TIMESTAMP_NTZ'2021-03-14 02:30:00'), "
            "(2, TIMESTAMP_NTZ'1969-12-31 23:59:59.999999'), "
            "(3, CAST(NULL AS TIMESTAMP_NTZ)) AS v(k, n)"
        ),
        stats_for=["n"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        _rows(t.read()),
        _rows(e.sql("SELECT k FROM m WHERE n >= TIMESTAMP_NTZ'2000-01-01'")),
    ]


def _nested(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT k, a, m, named_struct('a', sa, 'b', sb) AS s FROM VALUES "
            "(1, array(1.0D, double('NaN')), map('x', 1), "
            "   float('NaN'), 'p'), "
            "(2, array(), map(), CAST(2.0 AS FLOAT), CAST(NULL AS STRING)), "
            "(3, NULL, NULL, CAST(NULL AS FLOAT), 'q') "
            "AS v(k, a, m, sa, sb)"
        ).coalesce(1),
        stats_for=["k"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        sorted(repr(r) for r in t.read().collect()),
        _rows(e.sql("SELECT k FROM m WHERE s.a > 10")),
        _rows(e.sql("SELECT k FROM m WHERE a[1] > 10")),
    ]


_AWKWARD = ["a/b", "x=y", "50%", "c:d", "sp ace", "", None, "ü#?", "ok"]


def _identity(spark, root):
    t = SnapshotTable(spark, root)
    rows = [(i, v) for i, v in enumerate(_AWKWARD)]
    for mode in ("overwrite", "append"):
        t.commit(
            spark.createDataFrame(rows, "k long, p string").repartition(2, "k"),
            mode=mode, partition_by=["p"], stats_for=["k"],
        )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    out = [_rows(t.read()), _rows(e.sql("SELECT k FROM m WHERE p = 'a/b'"))]
    # the same dirs read through the folded multi-dir scan, which decodes
    # partition values from file paths
    fold_min = SnapshotTable._PARTITIONED_FOLD_MIN
    SnapshotTable._PARTITIONED_FOLD_MIN = 1
    try:
        out.append(_rows(t.read()))
    finally:
        SnapshotTable._PARTITIONED_FOLD_MIN = fold_min
    return t, out


def _typed_partitions(spark, root):
    """Timestamp and double partition values name their dirs through
    CAST(... AS STRING) in the session time zone."""
    t = SnapshotTable(spark, root)
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t.commit(
            spark.sql(
                "SELECT * FROM VALUES "
                "(1, TIMESTAMP'2024-03-10 07:30:00.5', 1.0E10D), "
                "(2, TIMESTAMP'2024-03-10 07:30:00.5', -0.0D), "
                "(3, CAST(NULL AS TIMESTAMP), double('NaN')) AS v(k, ts, x)"
            ),
            partition_by=["ts", "x"],
        )
        return t, [_rows(t.read())]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def _days(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(
        spark.sql(
            "SELECT id AS k, "
            "TIMESTAMP'2025-01-06 00:00:00' + make_interval(0, 0, 0, "
            "CAST(id % 5 AS INT), CAST(id % 24 AS INT)) AS ts "
            "FROM range(40)"
        ).repartition(3),
        partition_by=["days(ts)"],
        stats_for=["k"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        _rows(t.read()),
        _rows(e.sql(
            "SELECT k FROM m WHERE ts >= TIMESTAMP'2025-01-08' "
            "AND ts < TIMESTAMP'2025-01-09'"
        )),
    ]


def _sorted(spark, root):
    t = SnapshotTable(spark, root)
    t.commit(spark.range(4).selectExpr("id AS k", "id * 1.5 AS v"))
    t.set_sort_order(["v"])
    t.commit(
        spark.range(200).selectExpr("id AS k", "(id * 37) % 101 * 1.5 AS v"),
        mode="append",
        stats_for=["k"],
    )
    e = Engine(spark=spark)
    e._snapshot_tables["m"] = t
    return t, [
        _rows(t.read()),
        _rows(e.sql("SELECT k FROM m WHERE v BETWEEN 10 AND 20")),
    ]


def _empty(spark, root):
    t = SnapshotTable(spark, root)
    src = spark.range(10).selectExpr("id AS k", "CAST(id AS STRING) AS p")
    t.commit(src.where("k < 0"), stats_for=["k"])
    t.commit(src.where("k < 0"), mode="append", partition_by=["p"])
    return t, [_rows(t.read())]


def _merge_on_read(spark, root):
    e = Engine(spark=spark, warehouse_dir=root)
    e.sql("CREATE TABLE mor (k BIGINT, v DOUBLE, s STRING) USING snapshot")
    e.sql(
        "INSERT INTO mor SELECT id, id * 0.5, CAST(id % 3 AS STRING) "
        "FROM range(20)"
    ).collect()
    e.sql(
        "ALTER TABLE mor SET TBLPROPERTIES ('delete.mode' = 'merge-on-read')"
    ).collect()
    spark.createDataFrame(
        [(3, 30.0, "m"), (40, 40.0, "n")], "k long, v double, s string"
    ).createOrReplaceTempView("mor_src")
    results = [
        e.sql(stmt).collect()
        for stmt in (
            "DELETE FROM mor WHERE k BETWEEN 2 AND 4",
            "UPDATE mor SET v = v + 100 WHERE k > 15",
            "DELETE FROM mor WHERE k = 9",
            "MERGE INTO mor USING mor_src AS src ON mor.k = src.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
        )
    ]
    modes = [r[0]["mode"] for r in results]
    assert modes == [
        "merge-on-read", "merge-on-read", "equality-delete", "merge-on-read",
    ]
    t = e._snapshot_tables["mor"]
    return t, [results, _rows(e.sql("SELECT * FROM mor"))]


CASES = {
    "floats_nan_negzero_allnull": _floats,
    "dates_before_1582": _dates,
    "decimal_38_18": _decimals,
    "timestamp_ntz": _ntz,
    "nested": _nested,
    "identity_partitions_escaped": _identity,
    "typed_partitions_session_zone": _typed_partitions,
    "days_transform": _days,
    "declared_sort_order": _sorted,
    "empty": _empty,
    "merge_on_read_dml": _merge_on_read,
}


def _run(spark, tmp_path, monkeypatch, case, bound):
    monkeypatch.setattr(session, "DRIVER_WRITE_MAX_BYTES", bound)
    root = str(tmp_path / f"bound-{bound}")
    t, rows = CASES[case](spark, root)
    cols = sorted(
        {f.name for f in t.read().schema.fields} | {"file", "pos"}
    )
    success = [
        f for _dp, _dn, fs in os.walk(t.path) for f in fs if f == "_SUCCESS"
    ]
    return rows, _layout(t.path), _stats(spark, t.path, cols), success


@pytest.mark.parametrize("case", sorted(CASES))
def test_driver_and_spark_writers_agree(spark, tmp_path, monkeypatch, case):
    s_rows, s_layout, s_stats, s_success = _run(
        spark, tmp_path, monkeypatch, case, 0
    )
    d_rows, d_layout, d_stats, d_success = _run(
        spark, tmp_path, monkeypatch, case, math.inf
    )
    # each bound really picked its writer: Spark's leaves _SUCCESS markers
    assert s_success and not d_success
    assert d_rows == s_rows
    assert d_layout == s_layout
    assert d_stats == s_stats


def test_partition_dirs_escape_as_spark_does(spark):
    escape = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .escapePathName
    )
    for c in map(chr, range(1, 128)):
        assert session._hive_dir("c", f"a{c}b") == f"c=a{escape(f'a{c}b')[1:-1]}b"
    assert session._hive_dir("a=b", "") == "a%3Db=__HIVE_DEFAULT_PARTITION__"
    assert session._hive_dir("p", None) == "p=__HIVE_DEFAULT_PARTITION__"


def test_driver_path_rows_partitions_and_empty_skip(
    spark, tmp_path, monkeypatch
):
    """The driver path's counts, its one file per partition value under
    ``cluster``, Spark's footer keys, ``skip_empty`` leaving no directory,
    and ``errorifexists`` refusing an existing path."""
    monkeypatch.setattr(session, "DRIVER_WRITE_MAX_BYTES", math.inf)
    df = spark.range(12).select(
        F.col("id").alias("k"), (F.col("id") % 3).cast("string").alias("p")
    )
    out = str(tmp_path / "w")
    assert session.write_parquet(spark, df, out, ["p"], cluster=True) == (12, 3)
    assert _layout(out) == {"p=0": 1, "p=1": 1, "p=2": 1}
    # the footer keys Spark's reader looks for
    f = next(
        os.path.join(dp, n) for dp, _d, fs in os.walk(out) for n in fs
        if n.endswith(".parquet")
    )
    meta = pq.ParquetFile(f).metadata.metadata
    assert meta[b"org.apache.spark.version"]
    assert json.loads(meta[b"org.apache.spark.sql.parquet.row.metadata"]) == (
        {"type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": False, "metadata": {}}
        ]}
    )
    empty = str(tmp_path / "e")
    assert session.write_parquet(
        spark, df.where("k < 0"), empty, ["p"], skip_empty=True
    ) == (0, 0)
    assert not os.path.exists(empty)
    with pytest.raises(FileExistsError):
        session.write_parquet(spark, df, out, ["p"])


def test_ingest_landing_zone_same_on_both_paths(spark, tmp_path, monkeypatch):
    """The landing zone (one file per ``date=`` dir) is the same from
    either writer; the driver path draws it without the shuffle."""
    src = generate_ohlcv(spark)
    out = []
    for bound in (0, math.inf):
        monkeypatch.setattr(session, "DRIVER_WRITE_MAX_BYTES", bound)
        path = str(tmp_path / f"bound-{bound}")
        metrics = ingest(spark, src, path, ingest_date="2025-07-01")
        df = read_curated(spark, path)
        cols = [f.name for f in df.schema.fields]
        # which columns kept a dictionary page: the driver path follows
        # parquet-mr's choice (plain for the mostly-unique prices)
        dictionaries = sorted(
            repr({
                md.row_group(0).column(i).path_in_schema:
                md.row_group(0).column(i).has_dictionary_page
                for i in range(md.num_columns)
            })
            for md in (
                pq.ParquetFile(os.path.join(dp, f)).metadata
                for dp, _dn, fs in os.walk(path) for f in fs
                if f.endswith(".parquet") and not f.startswith(".")
            )
        )
        out.append((
            metrics, df.schema.simpleString(), _rows(df), _layout(path),
            _dir_stats(spark, path, cols), dictionaries,
        ))
    assert out[0] == out[1]
    assert out[1][0] == {"rows_written": 120, "partitions": 30}
    assert set(out[1][3].values()) == {1}
