"""``session.local_frame``: driver-side rows as an Arrow local relation.

- For every column type the engine builds, its frame equals
  ``spark.createDataFrame(rows, schema)`` in schema and collected rows,
  including naive and aware timestamps under a non-UTC zone.
- A wrong-typed value raises, as the list path's verifier does.
- char/varchar columns come back as string and a year-month interval
  column keeps its type, though PySpark's Arrow conversion has neither.
- No module of the package calls ``createDataFrame`` outside the helper,
  so a Python-RDD result frame cannot come back unnoticed."""

from __future__ import annotations

import ast
import datetime as dt
import pathlib
import time
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError

from oss_data_lake_spark.session import local_frame

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "oss_data_lake_spark"

AWARE = dt.timezone(dt.timedelta(hours=5, minutes=30))

CASES = [
    ("long", [(2**53 + 1,), (-(2**63),), (2**63 - 1,), (None,)]),
    ("int", [(7,), (-(2**31),), (None,)]),
    ("double", [(1.5,), (-0.0,), (1e308,), (None,)]),
    ("boolean", [(True,), (False,), (None,)]),
    ("string", [("héllo ✓ 日本",), ("",), (None,)]),
    ("date", [(dt.date(2020, 2, 29),), (dt.date(1900, 1, 1),), (None,)]),
    ("decimal(12,3)", [(Decimal("123456789.125"),), (Decimal("-0.001"),),
                       (None,)]),
    ("timestamp", [(dt.datetime(2021, 3, 14, 2, 30),),  # DST gap in NY
                   (dt.datetime(2021, 11, 7, 1, 30),),  # DST fold in NY
                   (dt.datetime(2021, 6, 1, 12, 0, 0, 123456, tzinfo=AWARE),),
                   (None,)]),
    ("array<string>", [(["a", None, "ü"],), ([],), (None,)]),
    ("interval day to second", [(dt.timedelta(days=-3, microseconds=7),),
                                (None,)]),
]


@pytest.fixture()
def new_york(spark, monkeypatch):
    """System and session time zone both America/New_York."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    yield
    spark.conf.set("spark.sql.session.timeZone", old)
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("ddl, rows", CASES, ids=[c[0] for c in CASES])
def test_matches_list_path(spark, new_york, ddl, rows):
    schema = f"id int, v {ddl}"
    rows = [(i, *r) for i, r in enumerate(rows)]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.orderBy("id").collect() == want.orderBy("id").collect()


@pytest.mark.parametrize("ddl", [c[0] for c in CASES])
def test_zero_rows(spark, ddl):
    got = local_frame(spark, [], f"v {ddl}")
    assert got.schema == spark.createDataFrame([], f"v {ddl}").schema
    assert got.collect() == []


def test_struct_schema_and_dict_rows(spark):
    want = spark.createDataFrame([{"a": 1, "b": "x"}], "a long, b string")
    got = local_frame(spark, [{"a": 1, "b": "x"}], want.schema)
    assert got.schema == want.schema and got.collect() == want.collect()


@pytest.mark.parametrize("ddl, as_string, value", [
    ("varchar(10)", "string", "ab"),
    ("char(3)", "string", "ab"),
    ("array<varchar(5)>", "array<string>", ["ab", None]),
    ("struct<x: char(2), y: int>", "struct<x: string, y: int>", ("ab", 1)),
])
def test_char_varchar_come_back_as_string(spark, ddl, as_string, value):
    """The list path refuses char/varchar outright (a DataFrame never
    carries them); the helper builds the frame Spark would read."""
    for rows in ([(value,), (None,)], []):
        got = local_frame(spark, rows, f"v {ddl}")
        want = spark.createDataFrame(rows, f"v {as_string}")
        assert got.schema == want.schema and got.collect() == want.collect()


@pytest.mark.parametrize("ddl", [
    "interval year to month", "array<interval month>",
    "struct<x: interval year>",
])
def test_year_month_interval_zero_rows(spark, ddl):
    """An empty frame over a stored year-month interval column (CREATE
    TABLE, TRUNCATE, a read that prunes every file) keeps its type."""
    got = local_frame(spark, [], f"k int not null, v {ddl}")
    want = spark.createDataFrame([], f"k int not null, v {ddl}")
    assert got.schema == want.schema
    assert got.collect() == []


@pytest.mark.parametrize("ddl, bad", [
    ("long", "1"), ("long", 1.0), ("long", 2**63), ("int", 2**31),
    ("boolean", 1), ("date", "2020-01-01"), ("decimal(10,2)", 1.5),
    ("timestamp", dt.date(2020, 1, 1)), ("array<string>", "abc"),
])
def test_wrong_type_raises(spark, ddl, bad):
    with pytest.raises((PySparkTypeError, PySparkValueError)):
        spark.createDataFrame([(bad,)], f"v {ddl}")
    with pytest.raises((PySparkTypeError, PySparkValueError)):
        local_frame(spark, [(bad,)], f"v {ddl}")


def test_overscaled_decimal_raises(spark):
    """The list path rounds 1.234 into decimal(10,2) as 1.23, a different
    value; the helper refuses it."""
    rows = [(Decimal("1.234"),)]
    rounded = spark.createDataFrame(rows, "v decimal(10,2)").first()[0]
    assert rounded == Decimal("1.23")
    with pytest.raises(pa.ArrowInvalid):
        local_frame(spark, rows, "v decimal(10,2)")


@pytest.mark.parametrize("bad", [5, 1.5, True, [1]])
def test_string_column_takes_only_str(spark, bad):
    """The list path's verifier lets any object into a string column and
    the JVM spells it (``true``, ``[1]``); the helper refuses it."""
    with pytest.raises(TypeError):
        local_frame(spark, [(bad,)], "v string")


def test_no_create_dataframe_outside_the_helper():
    """Walk the package's syntax trees: every ``.createDataFrame(`` call
    must sit inside ``session.local_frame``."""
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        if path.name == "session.py" and path.parent == PACKAGE:
            (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef)
                     and n.name == "local_frame"]
            allowed = {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"
                    and id(node) not in allowed):
                offenders.append(
                    f"{path.relative_to(PACKAGE.parent)}:{node.lineno}"
                )
    assert offenders == []
