"""Quantified subquery comparisons (`op ANY/SOME/ALL (subquery)`) —
the statement-layer rewrite (`Engine._translate_quantified`) checked
DIFFERENTIALLY against DuckDB, which evaluates the ANSI text natively.
The matrix covers every operator × quantifier × subquery population
(empty / all-NULL / mixed-NULL / no-NULL), in WHERE context, in SELECT
projection (where UNKNOWN must surface as NULL, not FALSE), and under
NOT (where a FALSE-for-NULL shortcut would flip answers)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings

from oss_data_lake_spark.engine import Engine
from tests.hostile import QUANTIFIED, payloads, quote

XS = [None, 0, 2, 3, 5, 9]
B_VARIANTS = {
    "empty": [],
    "all_null": [None, None],
    "mixed": [None, 2, 5],
    "dense": [2, 3, 5],
}
OPS = ["=", "<>", "!=", "<", "<=", ">", ">="]
QUANTS = ["ANY", "SOME", "ALL"]


@pytest.fixture(scope="module")
def eng(spark):
    e = Engine(spark=spark)
    spark.createDataFrame([(x,) for x in XS], "x int")\
        .createOrReplaceTempView("qa")
    for tag, ys in B_VARIANTS.items():
        spark.createDataFrame([(y,) for y in ys], "y int")\
            .createOrReplaceTempView(f"qb_{tag}")
    yield e
    for v in ["qa"] + [f"qb_{t}" for t in B_VARIANTS]:
        spark.catalog.dropTempView(v)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE qa AS SELECT * FROM (VALUES "
        + ", ".join("(NULL)" if x is None else f"({x})" for x in XS)
        + ") t(x)"
    )
    for tag, ys in B_VARIANTS.items():
        if ys:
            vals = ", ".join(
                "(NULL)" if y is None else f"({y})" for y in ys
            )
            con.execute(f"CREATE TABLE qb_{tag} AS "
                        f"SELECT * FROM (VALUES {vals}) t(y)")
        else:
            con.execute(
                f"CREATE TABLE qb_{tag} (y INTEGER)"
            )
    return con


def _pairs():
    for op in OPS:
        for q in QUANTS:
            for tag in B_VARIANTS:
                yield op, q, tag


@pytest.mark.parametrize("op,quant,tag", list(_pairs()))
def test_where_context_matches_duckdb(eng, duck, op, quant, tag):
    sql = (f"SELECT x FROM qa WHERE x {op} {quant} "
           f"(SELECT y FROM qb_{tag}) ORDER BY x NULLS FIRST")
    got = [r.x for r in eng.sql(sql).collect()]
    want = [r[0] for r in duck.execute(sql).fetchall()]
    assert got == want, f"{sql}: spark={got} duckdb={want}"


@pytest.mark.parametrize("op,quant,tag", list(_pairs()))
def test_projection_context_preserves_unknown(eng, duck, op, quant, tag):
    """In a SELECT list the result is a nullable BOOLEAN — UNKNOWN must
    come back as NULL (a WHERE-style FALSE coercion would be wrong)."""
    sql = (f"SELECT x, x {op} {quant} (SELECT y FROM qb_{tag}) AS f "
           f"FROM qa ORDER BY x NULLS FIRST")
    got = [(r.x, r.f) for r in eng.sql(sql).collect()]
    want = list(duck.execute(sql).fetchall())
    assert got == want, f"{sql}: spark={got} duckdb={want}"


@pytest.mark.parametrize("tag", list(B_VARIANTS))
def test_not_context(eng, duck, tag):
    """NOT(UNKNOWN) is UNKNOWN: rows with unknown comparisons must stay
    excluded under NOT too."""
    sql = (f"SELECT x FROM qa WHERE NOT (x > ALL "
           f"(SELECT y FROM qb_{tag})) ORDER BY x NULLS FIRST")
    got = [r.x for r in eng.sql(sql).collect()]
    want = [r[0] for r in duck.execute(sql).fetchall()]
    assert got == want


def test_parenthesized_and_function_lhs(eng, duck):
    for sql in [
        "SELECT x FROM qa WHERE (x + 1) >= ALL (SELECT y FROM qb_dense) "
        "ORDER BY x",
        "SELECT x FROM qa WHERE abs(x) < ANY (SELECT y FROM qb_mixed) "
        "ORDER BY x",
    ]:
        got = [r.x for r in eng.sql(sql).collect()]
        want = [r[0] for r in duck.execute(sql).fetchall()]
        assert got == want, sql


def test_any_aggregate_call_is_not_rewritten(eng, spark):
    """Spark's any()/some() BOOLEAN AGGREGATES keep working — the
    rewrite requires a subquery body after the paren."""
    spark.createDataFrame([(True,), (False,)], "b boolean")\
        .createOrReplaceTempView("qflags")
    try:
        r = eng.sql("SELECT any(b) AS a, some(b) AS s FROM qflags")\
            .collect()[0]
        assert (r.a, r.s) == (True, True)
        # and the comparison-to-aggregate spelling stays Spark's
        r2 = eng.sql(
            "SELECT b FROM qflags GROUP BY b HAVING true = any(b) "
            "ORDER BY b"
        ).collect()
        assert [row.b for row in r2] == [True]
    finally:
        spark.catalog.dropTempView("qflags")


def test_literal_spelling_is_data(eng):
    s = eng.sql("SELECT 'x > ALL (SELECT 1)' AS s").collect()[0]["s"]
    assert s == "x > ALL (SELECT 1)"


def test_quantified_over_snapshot_table_and_view(eng, spark, tmp_path):
    """The rewrite composes with the engine surface: snapshot tables and
    persistent views on both sides of the comparison."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE qt (k BIGINT, v BIGINT) USING snapshot")
    e.sql("INSERT INTO qt VALUES (1, 10), (2, 20), (3, 30)")
    try:
        e.sql("CREATE VIEW qv AS SELECT v FROM qt WHERE k <= 2")
        try:
            got = [r.k for r in e.sql(
                "SELECT k FROM qt WHERE v > ALL (SELECT v FROM qv) "
                "ORDER BY k"
            ).collect()]
            assert got == [3]
            # view body carrying the quantified comparison re-plans too
            e.sql("CREATE VIEW qv2 AS SELECT k FROM qt "
                  "WHERE v >= ALL (SELECT v FROM qt)")
            try:
                assert [r.k for r in e.sql("SELECT * FROM qv2").collect()] \
                    == [3]
            finally:
                e.sql("DROP VIEW qv2")
        finally:
            e.sql("DROP VIEW qv")
    finally:
        e.drop_snapshot_table("qt", delete_data=True)


@pytest.mark.parametrize("op,quant", [
    (">", "ALL"), ("<", "ALL"), (">=", "ANY"), ("=", "ALL"),
    ("<>", "ANY"), ("=", "ANY"), ("<>", "ALL"),
])
def test_correlated_quantified_matches_duckdb(eng, duck, spark, op, quant):
    """CORRELATED quantified subqueries (Trino supports them): the
    aggregate encoding leaves the correlation inside the derived table
    and Spark's decorrelation turns the scalar aggregates into outer
    joins — checked against DuckDB's native correlated evaluation,
    including groups with NULLs and an outer key with NO inner rows
    (empty-set semantics per group)."""
    data_s = [(1, 10), (1, 20), (1, None), (2, 5), (3, 7)]
    data_c = [(1, 15), (1, 18), (2, None), (2, 99)]  # k=3 has no rows
    spark.createDataFrame(data_s, "k int, v int")\
        .createOrReplaceTempView("qs")
    spark.createDataFrame(data_c, "k int, y int")\
        .createOrReplaceTempView("qc")
    duck.execute("CREATE OR REPLACE TABLE qs AS SELECT * FROM (VALUES "
                 + ", ".join(f"({k}, {'NULL' if v is None else v})"
                             for k, v in data_s) + ") t(k, v)")
    duck.execute("CREATE OR REPLACE TABLE qc AS SELECT * FROM (VALUES "
                 + ", ".join(f"({k}, {'NULL' if y is None else y})"
                             for k, y in data_c) + ") t(k, y)")
    sql = (f"SELECT k, v FROM qs WHERE v {op} {quant} "
           f"(SELECT y FROM qc WHERE qc.k = qs.k) "
           f"ORDER BY k, v NULLS FIRST")
    try:
        got = [(r.k, r.v) for r in eng.sql(sql).collect()]
        want = list(duck.execute(sql).fetchall())
        assert got == want, f"{sql}: spark={got} duckdb={want}"
    finally:
        spark.catalog.dropTempView("qs")
        spark.catalog.dropTempView("qc")


def test_quantified_stats_subquery_executes_once(eng, spark):
    """The 'one merged aggregate pass' claim: the stats struct appears
    textually once per field, but Spark's subquery reuse executes ONE
    physical subquery — the executed plan carries ReusedSubquery nodes
    for every textual duplicate."""
    df = eng.sql(
        "SELECT x FROM qa WHERE x > ALL (SELECT y FROM qb_dense)"
    )
    df.collect()  # reuse is visible in the EXECUTED plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedSubquery" in plan


# --- translator keywords inside literals beside a real quantified comparison

_payload = payloads(QUANTIFIED)


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_translator_keywords_inside_literals_stay_data(fz_eng, payload):
    """A literal carrying quantified / SQL-JSON / information_schema
    spellings round-trips byte-identically — no translator fires inside
    it, and the row count of the carrying query is unchanged."""
    lit = quote(payload)
    rows = fz_eng.sql(
        f"SELECT k, {lit} AS s FROM fz WHERE k < 3 ORDER BY k"
    ).collect()
    assert [r.k for r in rows] == [0, 1, 2]
    assert all(r.s == payload for r in rows)


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_quantified_in_where_with_hostile_literal_beside_it(fz_eng, payload):
    """A real quantified comparison translates while a hostile literal
    sits in the same statement — the masked-text scan must not let the
    literal shift the subquery span."""
    lit = quote(payload)
    rows = fz_eng.sql(
        f"SELECT k, {lit} AS s FROM fz "
        f"WHERE k > ALL (SELECT k - 19 FROM fz) ORDER BY k"
    ).collect()
    assert [r.k for r in rows] == list(range(1, 20))
    assert all(r.s == payload for r in rows)


def test_malformed_quantified_raises_not_corrupts(fz_eng):
    # unbalanced subquery paren: translator declines; Spark's parser
    # reports the site
    with pytest.raises(Exception):
        fz_eng.sql("SELECT k FROM fz WHERE k > ALL (SELECT k FROM fz")
    # quantifier over a non-subquery stays Spark's own error (any() is
    # an aggregate, invalid in WHERE)
    with pytest.raises(Exception):
        fz_eng.sql("SELECT k FROM fz WHERE k = ANY (k)")
