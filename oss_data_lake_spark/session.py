"""SparkSession factory with engine-wide configuration.

Deliberate configs (SURVEY.md §4 "Engine configs to set deliberately"):

- ``spark.sql.session.timeZone=UTC`` — the reference coerces every timestamp
  with ``pd.to_datetime(..., utc=True)`` (reference dags/yfinance_to_minio.py:66)
  and declares ``TIMESTAMP(3) WITH TIME ZONE`` (reference RUNBOOK.md:90).
- ``spark.sql.ansi.enabled=false`` — the notebook uses
  ``pd.to_numeric(errors="coerce")`` (null-on-error) semantics
  (reference notebooks/test_airflow_yfinance.ipynb:160); non-ANSI casts match.
- ``spark.sql.parser.escapedStringLiterals=false`` (the default, pinned
  even against ``extra_conf``) —
  backslash escapes in SQL string literals are processed; the engine's
  SQL-text regexes (``Engine._TRY_INT_PAT``) double their backslashes for
  that mode and would change meaning under the legacy escape mode.
- AQE on (+ skew join) — runtime re-planning replaces Trino's CBO role.
- ``spark.sql.shuffle.partitions`` sized to local cores, not the 200 default:
  at 100 TB on a real cluster this is instead sized so that a shuffle
  partition holds ~128-512 MB (AQE coalescing then right-sizes at runtime).
"""

from __future__ import annotations

import os
import shutil
import urllib.parse
import uuid
from typing import Any, Callable, Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# write_parquet collects a write to the driver and writes it with pyarrow
# when Spark estimates its plan at or under this many bytes; larger writes
# keep Spark's write command.
DRIVER_WRITE_MAX_BYTES = 64 * 1024 * 1024

# Hive's escapePathName set (Spark's ExternalCatalogUtils.charToEscape on
# a non-Windows host): these characters of a partition directory name are
# written as %XX.
_HIVE_ESCAPE = frozenset(
    [chr(c) for c in range(1, 0x20)] + list("\"#%'*/:=?\\\x7f{[]^")
)

# atomic types whose Parquet encoding pyarrow writes exactly as Spark does
_SAME_ENCODING = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
    T.TimestampType, T.TimestampNTZType,
)


def _col(name: str) -> F.Column:
    return F.col("`" + name.replace("`", "``") + "`")


def _map_leaves(
    dt: T.DataType, leaf: Callable[[T.DataType], T.DataType]
) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(
                    f.name, _map_leaves(f.dataType, leaf), f.nullable, f.metadata
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_map_leaves(dt.elementType, leaf), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _map_leaves(dt.keyType, leaf),
            _map_leaves(dt.valueType, leaf),
            dt.valueContainsNull,
        )
    return leaf(dt)


def local_frame(
    spark: SparkSession, rows: Iterable[Any], schema: T.StructType | str
) -> DataFrame:
    """A DataFrame over driver-side rows, as an Arrow local relation.

    ``spark.createDataFrame(list, schema)`` turns a Python list into a
    Python RDD, so every action on the frame (even collecting a DML
    statement's one-row result) runs a Spark job whose tasks start Python
    workers. Handed a ``pyarrow.Table`` instead, Spark builds a
    ``LocalRelation`` that the driver answers without a job. Every engine
    result frame and small driver-side table is built here.

    Rows go through the same type verifier and ``StructType.toInternal`` as
    the list path, so a wrong-typed value raises and naive datetimes, dates
    and decimals keep the meaning the list path gives them (a naive
    datetime is system local time). Two cases differ from the list path,
    which would let the JVM coerce the value: a string column takes only
    ``str`` values, and a decimal with more digits than its column holds
    raises where the list path rounded it. Zero rows give an empty frame
    of ``schema``.

    PySpark's Arrow conversion has no char, varchar or year-month interval
    type. A DataFrame
    never carries char/varchar (Spark reads them as string), so those
    columns come back as string. A year-month interval crosses as its
    int months and is cast back.
    """
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    schema = _map_leaves(
        schema,
        lambda t: (
            T.StringType() if isinstance(t, (T.CharType, T.VarcharType)) else t
        ),
    )
    carrier = _map_leaves(
        schema,
        lambda t: (
            T.IntegerType() if isinstance(t, T.YearMonthIntervalType) else t
        ),
    )
    verify = _make_type_verifier(schema)
    columns: list[list] = [[] for _ in schema.fields]
    for row in rows:
        verify(row)
        for col, v in zip(columns, schema.toInternal(row)):
            col.append(v)
    arrow = to_arrow_schema(carrier)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    df = spark.createDataFrame(table, carrier)
    if carrier == schema:
        return df
    return df.select(
        [
            _col(f.name).cast(f.dataType).alias(f.name, metadata=f.metadata)
            for f in schema.fields
        ]
    )


def _same_encoding(dt: T.DataType) -> bool:
    if isinstance(dt, T.StructType):
        return bool(dt.fields) and all(
            _same_encoding(f.dataType) for f in dt.fields
        )
    if isinstance(dt, T.ArrayType):
        return _same_encoding(dt.elementType)
    if isinstance(dt, T.MapType):
        return _same_encoding(dt.keyType) and _same_encoding(dt.valueType)
    if isinstance(dt, T.DecimalType):
        # Spark writes 18 digits or fewer as INT32/INT64, pyarrow always as
        # a fixed-length byte array
        return dt.precision > 18
    return isinstance(dt, _SAME_ENCODING)


def _hive_dir(name: str, value: str | None) -> str:
    def esc(s: str) -> str:
        return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in s)

    return f"{esc(name)}={esc(value) if value else '__HIVE_DEFAULT_PARTITION__'}"


def _has_float(t: pa.DataType) -> bool:
    return pa.types.is_floating(t) or any(
        _has_float(t.field(i).type) for i in range(t.num_fields)
    )


def _statistics(table: pa.Table) -> bool | list[str]:
    """The columns of one file that get Parquet statistics. pyarrow leaves
    NaN out of a float column's min/max where Spark records max = NaN, so
    on a file holding NaN, Spark's row-group filter and the engine's file
    skipping would both drop the NaN rows of ``x > 10``. Such a column is
    written without statistics, and so is every nested column with a
    float leaf (statistics then go by top-level name)."""
    drop = {
        f.name
        for f, c in zip(table.schema, table.columns)
        if (pa.types.is_floating(f.type) and pc.any(pc.is_nan(c)).as_py())
        or (pa.types.is_nested(f.type) and _has_float(f.type))
    }
    if not drop:
        return True
    return [
        f.name
        for f in table.schema
        if f.name not in drop and not pa.types.is_nested(f.type)
    ]


def _plain_bytes(t: pa.DataType, values: pa.Array) -> int:
    if pa.types.is_binary(t) or pa.types.is_string(t) or (
        pa.types.is_large_binary(t) or pa.types.is_large_string(t)
    ):
        return 4 * len(values) + (pc.sum(pc.binary_length(values)).as_py() or 0)
    return max(t.bit_width, 32) // 8 * len(values)


def _dictionary(table: pa.Table) -> list[str]:
    """The columns of one file that keep a dictionary, by parquet-mr's
    rule: a column keeps it when the distinct values plus the bit-packed
    indices take fewer bytes than the plain values. pyarrow would
    dictionary-encode every column: a mostly-unique column then takes
    more bytes than plain, and Spark's row-group filter reads its
    dictionary page for every predicate on it."""
    out = []
    for f, c in zip(table.schema, table.columns):
        if pa.types.is_boolean(f.type) or pa.types.is_nested(f.type):
            continue
        values = c.drop_null()
        distinct = pc.unique(values)
        index_bytes = len(values) * (len(distinct) - 1).bit_length() // 8
        if (
            _plain_bytes(f.type, distinct) + index_bytes
            < _plain_bytes(f.type, values)
        ):
            out.append(f.name)
    return out


def _write_file(table: pa.Table, directory: str, name: str) -> None:
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        # no row group at all for no rows, as Spark's writer does
        with pq.ParquetWriter(
            fh, table.schema, compression="snappy",
            use_dictionary=_dictionary(table),
            write_statistics=_statistics(table),
        ) as w:
            if table.num_rows:
                w.write_table(table)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(directory, name))


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_parquet(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    *,
    mode: str = "errorifexists",
    cluster: bool = False,
    skip_empty: bool = False,
) -> tuple[int, int]:
    """Write ``df`` as snappy Parquet under ``path``, Hive-partitioned by
    ``partition_by``, and return the rows and the distinct partition
    values written (0 values when unpartitioned). With ``cluster`` each
    partition value gets one file (Spark's path hash-repartitions by the
    partition columns first). With ``skip_empty`` an empty frame writes
    nothing, not even ``path``. Timestamps are INT64 microseconds, which
    carry statistics (Spark's default INT96 has none).

    Two writers make one file layout. The driver writes when ``path`` is
    local (no URI scheme), Spark's estimate of the plan's size is at most
    ``DRIVER_WRITE_MAX_BYTES`` and every column type has the same Parquet
    encoding in pyarrow as in Spark: atomic types, decimals of more than
    18 digits, and arrays, maps and structs of them. One Arrow collect
    brings the rows over, carrying ``spark_partition_id()`` and each
    partition value as ``CAST(col AS STRING)`` in the session time zone,
    and pyarrow writes one file per non-empty result partition and
    partition value, the boundaries Spark's writer draws; unpartitioned,
    task 0 writes a file even when it has no rows, as Spark's does.
    Directory names are escaped as Hive does, and NULL and '' become
    ``__HIVE_DEFAULT_PARTITION__``. Each file carries Spark's footer keys
    (its version, so dates before 1582 read back without rebasing, and
    the row schema) and parquet-mr's dictionary choices, and is written
    under a hidden temp name, fsynced and renamed into place; the
    directories are fsynced after. At interactive
    sizes this skips the write command's fixed cost (committer,
    ``_temporary`` renames, ``.crc`` and ``_SUCCESS`` files), most of a
    small write's time. Otherwise, as for object stores and large frames,
    Spark's write command runs, with an ``observe`` for the counts and,
    for ``skip_empty``, a limit-1 probe of ``df`` first."""
    parts = list(partition_by or [])
    cluster = cluster and bool(parts)
    schema = df.schema
    fields = [f for f in schema.fields if f.name not in parts]
    pfields = [f for f in schema.fields if f.name in parts]
    plan = None
    if (
        not urllib.parse.urlparse(path).scheme
        and mode in ("errorifexists", "append", "overwrite")
        and fields
        and len(pfields) == len(set(parts)) == len(parts)
        and len({f.name.lower() for f in schema.fields}) == len(schema.fields)
        and all(_same_encoding(f.dataType) for f in fields)
        and all(
            isinstance(f.dataType, _SAME_ENCODING + (T.DecimalType,))
            for f in pfields
        )
    ):
        collect = df.select(
            *[_col(f.name) for f in fields],
            F.spark_partition_id(),
            *[_col(c).cast("string") for c in parts],
        )
        plan = collect._jdf.queryExecution().optimizedPlan()
    driver = (
        plan is not None
        and plan.stats().sizeInBytes() <= DRIVER_WRITE_MAX_BYTES
    )
    if not driver:
        if skip_empty and df.isEmpty():
            return 0, 0
        if cluster:
            df = df.repartition(*[_col(c) for c in parts])
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows")]
        if parts:
            metrics.append(
                F.size(F.collect_set(F.struct(*[_col(c) for c in parts])))
                .alias("parts")
            )
        writer = df.observe(obs, *metrics).write.mode(mode)
        if parts:
            writer = writer.partitionBy(*parts)
        key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            writer.parquet(path)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        got = obs.get
        return int(got["rows"]), int(got.get("parts", 0))

    table = collect.toArrow()
    n = table.num_rows
    if skip_empty and n == 0:
        return 0, 0
    if mode == "overwrite":
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=mode == "append")
    k = len(fields)
    payload = table.select(list(range(k))).replace_schema_metadata({
        "org.apache.spark.version": pyspark.__version__,
        "org.apache.spark.sql.parquet.row.metadata": T.StructType(fields).json(),
    })
    job = uuid.uuid4()
    keys = table.columns[k:]
    if cluster:
        # one file per partition value needs no shuffle on the driver
        keys[0] = pa.array(np.zeros(n, np.int32))
    elif n and plan.nodeName() == "LocalRelation":
        # the optimizer evaluated spark_partition_id() on the driver, 0 for
        # every row; Spark scans a local relation as its rows sliced
        # evenly over min(rows, leaf parallelism) partitions
        p = min(n, int(
            spark.conf.get("spark.sql.leafNodeDefaultParallelism", None)
            or spark.sparkContext.defaultParallelism
        ))
        starts = np.arange(p) * n // p
        keys[0] = pa.array(np.searchsorted(starts, np.arange(n), "right") - 1)
    names = [f"k{i}" for i in range(len(keys))]
    groups = (
        pa.table(keys + [pa.array(np.arange(n))], names=names + ["i"])
        .group_by(names, use_threads=False)
        .aggregate([("i", "list")])
    )
    rows_of = groups.column("i_list")
    dirs = {path, os.path.dirname(os.path.abspath(path))}
    values = set()
    pids = set()
    for g, (pid, *vals) in enumerate(
        zip(*(groups.column(c).to_pylist() for c in names))
    ):
        d = path
        for c, v in zip(parts, vals):
            d = os.path.join(d, _hive_dir(c, v))
            dirs.add(d)
        os.makedirs(d, exist_ok=True)
        values.add(tuple(vals))
        pids.add(pid)
        _write_file(
            payload.take(rows_of[g].values), d,
            f"part-{pid:05d}-{job}-c000.snappy.parquet",
        )
    if not parts and 0 not in pids:
        # Spark's unpartitioned writer opens a file in task 0 even when
        # that task has no rows (the empty file carries the schema)
        _write_file(
            payload.slice(0, 0), path, f"part-00000-{job}-c000.snappy.parquet"
        )
    for d in dirs:
        _fsync_dir(d)
    return n, len(values) if parts else 0


def get_spark(
    app_name: str = "oss_data_lake_spark",
    cpus: str | int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode for tests; the same conf block is what we'd ship to a
    1000-executor cluster minus ``master`` and driver memory.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet INT64 TIMESTAMP(NANOS) (events.ts fixture): older readers
        # need nanosAsLong (arrives long, loaders convert); newer readers
        # ignore it and would infer TIMESTAMP_NTZ — disable NTZ inference so
        # ts is LTZ micros under the UTC session on both generations.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # pinned after extra_conf: the escape mode is part of the engine's
    # SQL-text contract, not a tuning knob
    builder = builder.config("spark.sql.parser.escapedStringLiterals", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
