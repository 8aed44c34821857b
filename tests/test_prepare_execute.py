"""PREPARE / EXECUTE / DEALLOCATE PREPARE — Trino's prepared-statement
surface (every parameterized JDBC/BI query issues these under the
hood). Substitution is client-side and literal-safe: `?` markers are
located on the MASKED text, USING arguments split on depth-0 commas
outside literals."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from oss_data_lake_spark.engine import Engine
from tests.hostile import STRUCTURE, payloads, quote


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE items (k INT, name STRING, price DOUBLE) USING snapshot")
    e.sql(
        "INSERT INTO items VALUES (1, 'apple', 1.5), (2, 'ba,na?na', 2.5), "
        "(3, 'o''brien', 3.5)"
    )
    return e


def test_prepare_execute_roundtrip(eng):
    out = eng.sql(
        "PREPARE pick FROM SELECT k, name FROM items WHERE k = ? OR name = ?"
    ).collect()
    assert (out[0]["statement"], out[0]["n_params"]) == ("pick", 2)
    rows = eng.sql("EXECUTE pick USING 1, 'zzz'").collect()
    assert [(r["k"], r["name"]) for r in rows] == [(1, "apple")]
    # re-execute with different parameters — same prepared text
    rows = eng.sql("EXECUTE pick USING 99, 'apple'").collect()
    assert [(r["k"], r["name"]) for r in rows] == [(1, "apple")]


def test_hostile_literal_parameters_splice_safely(eng):
    """String arguments carrying commas, `?`, and escaped quotes must
    splice as ONE parameter each — the masking layer sees none of their
    bytes as structure."""
    eng.sql("PREPARE h FROM SELECT k FROM items WHERE name = ?")
    assert [r["k"] for r in eng.sql("EXECUTE h USING 'ba,na?na'").collect()] == [2]
    assert [r["k"] for r in eng.sql("EXECUTE h USING 'o''brien'").collect()] == [3]


def test_question_mark_inside_literal_is_not_a_parameter(eng):
    """A `?` inside a string literal of the PREPARED body is data: the
    statement has exactly one real parameter."""
    out = eng.sql(
        "PREPARE q FROM SELECT k FROM items WHERE name = 'ba,na?na' AND k = ?"
    ).collect()
    assert out[0]["n_params"] == 1
    assert [r["k"] for r in eng.sql("EXECUTE q USING 2").collect()] == [2]
    assert eng.sql("EXECUTE q USING 1").count() == 0


def test_parameter_count_mismatch_refuses(eng):
    eng.sql("PREPARE p2 FROM SELECT k FROM items WHERE k = ? AND price > ?")
    with pytest.raises(ValueError, match="2 parameter"):
        eng.sql("EXECUTE p2 USING 1")
    with pytest.raises(ValueError, match="2 parameter"):
        eng.sql("EXECUTE p2 USING 1, 2.0, 3")
    with pytest.raises(ValueError, match="no prepared statement"):
        eng.sql("EXECUTE ghost USING 1")


def test_execute_drives_dml_and_time_travel(eng):
    """The substituted text re-enters sql(): row-level DML and AS-OF
    clauses are parameterizable like any SELECT."""
    eng.sql("PREPARE ins FROM INSERT INTO items VALUES (?, ?, ?)")
    eng.sql("EXECUTE ins USING 4, 'pear', 4.5")
    assert eng.sql("SELECT * FROM items WHERE k = 4").count() == 1
    eng.sql("PREPARE del FROM DELETE FROM items WHERE k = ?")
    eng.sql("EXECUTE del USING 4")
    assert eng.sql("SELECT * FROM items WHERE k = 4").count() == 0
    eng.sql("PREPARE old FROM SELECT COUNT(*) AS n FROM items FOR VERSION AS OF ?")
    assert eng.sql("EXECUTE old USING 2").collect()[0]["n"] == 3


def test_deallocate_and_replace(eng):
    eng.sql("PREPARE s FROM SELECT 1 AS one")
    assert eng.sql("EXECUTE s").collect()[0]["one"] == 1
    eng.sql("PREPARE s FROM SELECT 2 AS two")  # re-PREPARE replaces
    assert eng.sql("EXECUTE s").collect()[0]["two"] == 2
    eng.sql("DEALLOCATE PREPARE s")
    with pytest.raises(ValueError, match="no prepared statement"):
        eng.sql("EXECUTE s")
    with pytest.raises(ValueError, match="no prepared statement"):
        eng.sql("DEALLOCATE PREPARE s")


def test_describe_input_and_output(eng):
    eng.sql("PREPARE d FROM SELECT k, name FROM items WHERE k = ? AND price > ?")
    inp = eng.sql("DESCRIBE INPUT d").collect()
    assert [(r["position"], r["type"]) for r in inp] == [
        (0, "unknown"), (1, "unknown"),
    ]
    out = eng.sql("DESCRIBE OUTPUT d").collect()
    assert [(r["column_name"], r["type"]) for r in out] == [
        ("k", "int"), ("name", "string"),
    ]
    # zero-parameter statement: empty INPUT, OUTPUT still typed
    eng.sql("PREPARE z FROM SELECT price FROM items")
    assert eng.sql("DESCRIBE INPUT z").count() == 0
    assert [tuple(r) for r in eng.sql("DESCRIBE OUTPUT z").collect()] == [
        ("price", "double"),
    ]
    # DESCRIBE OUTPUT never executes a statement body
    eng.sql("PREPARE dml FROM DELETE FROM items WHERE k = ?")
    with pytest.raises(ValueError, match="without executing"):
        eng.sql("DESCRIBE OUTPUT dml")
    assert eng.sql("SELECT COUNT(*) AS n FROM items").collect()[0]["n"] == 3
    with pytest.raises(ValueError, match="no prepared statement"):
        eng.sql("DESCRIBE INPUT ghost")


# --------------- prepared-statement parameters carrying hostile literals

_payload = payloads(STRUCTURE, max_size=16)


@settings(
    max_examples=30, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(_payload)
def test_execute_parameter_differential(hostile_eng, p):
    """EXECUTE ... USING '<hostile>' must select exactly the rows Spark
    says match the equality — the parameter splice can neither leak
    structure nor corrupt neighbors."""
    e, _t, base = hostile_eng
    e.sql("PREPARE fz FROM SELECT k FROM t WHERE s = ? OR k = ?")
    got = sorted(
        r["k"]
        for r in e.sql(f"EXECUTE fz USING {quote(p)}, 3").collect()
    )
    want = sorted(
        r["k"]
        for r in base.filter(
            (F.col("s") == F.lit(p)) | (F.col("k") == 3)
        ).collect()
    )
    assert got == want, (p, got, want)


@settings(max_examples=50, deadline=None)
@given(st.lists(_payload, min_size=1, max_size=4))
def test_using_arg_splitter_arity(args):
    """The depth-0 comma split over USING text must recover exactly the
    quoted arguments, whatever their content."""
    text = ", ".join(quote(a) for a in args)
    got = Engine._split_using_args(text)
    assert got == [quote(a) for a in args]


@settings(max_examples=50, deadline=None)
@given(st.lists(st.booleans(), min_size=0, max_size=6), _payload)
def test_param_positions_skip_literal_question_marks(slots, p):
    """`?` markers interleaved with literals CONTAINING `?`: only the
    bare markers count, at exactly their offsets."""
    parts, expect = [], []
    pos = 0
    for bare in slots:
        if bare:
            parts.append("x = ")
            pos += 4
            expect.append(pos)
            parts.append("?")
            pos += 1
        else:
            q = quote(p + "?")
            parts.append(q)
            pos += len(q)
        parts.append(" AND ")
        pos += 5
    text = "".join(parts)
    assert Engine._param_positions(text) == expect
