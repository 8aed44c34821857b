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
from typing import Any, Callable, Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _make_type_verifier, _parse_datatype_string

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


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
            F.col("`" + f.name.replace("`", "``") + "`")
            .cast(f.dataType)
            .alias(f.name, metadata=f.metadata)
            for f in schema.fields
        ]
    )


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
