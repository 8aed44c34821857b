"""Round-14: the Trino FROM-clause UNNEST SQL text
(``Engine._translate_unnest``), EXECUTE IMMEDIATE, and the WITH
FUNCTION refusal.

UNNEST claims, each pinned:

1. EXACTNESS — every handled form (CROSS JOIN / comma / LEFT JOIN ON
   TRUE, WITH ORDINALITY, map expansion, array-of-rows via inline) is
   checked differentially against DuckDB's native unnest /
   generate_subscripts / LATERAL idioms.
2. ORDINALITY CONTRACT — 1-based, BIGINT, LAST column (Trino), not
   Spark's 0-based pos-first.
3. LOUD REFUSAL — multi-argument (zipping) UNNEST, missing alias
   column list, non-TRUE LEFT JOIN conditions, ordinality alias counts
   Spark cannot type — all raise with the supported grammar; nothing
   is silently approximated.
4. LITERAL SAFETY — UNNEST text inside a string literal is data
   (fuzzed and spot-pinned here).
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings

from oss_data_lake_spark.engine import Engine
from tests.hostile import UNNEST, payloads, quote


@pytest.fixture(scope="module")
def eng(spark):
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW unnest_t AS SELECT * FROM VALUES
        (1, array('a', 'b', 'c'), map('k1', 10, 'k2', 20),
         array(named_struct('f1', 'x', 'f2', 1),
               named_struct('f1', 'y', 'f2', 2))),
        (2, array('d'), map('k3', 30),
         array(named_struct('f1', 'z', 'f2', 3))),
        (3, cast(array() as array<string>),
         cast(map() as map<string, int>),
         cast(array() as array<struct<f1: string, f2: int>>)),
        (4, cast(NULL as array<string>),
         cast(NULL as map<string, int>),
         cast(NULL as array<struct<f1: string, f2: int>>))
        AS t(id, arr, m, rs)"""
    )
    return Engine(spark=spark)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        """CREATE VIEW unnest_t AS SELECT * FROM (VALUES
        (1, ['a', 'b', 'c'], MAP {'k1': 10, 'k2': 20},
         [{'f1': 'x', 'f2': 1}, {'f1': 'y', 'f2': 2}]),
        (2, ['d'], MAP {'k3': 30}, [{'f1': 'z', 'f2': 3}]),
        (3, []::VARCHAR[], MAP {}::MAP(VARCHAR, INT),
         []::STRUCT(f1 VARCHAR, f2 INT)[]),
        (4, NULL::VARCHAR[], NULL::MAP(VARCHAR, INT),
         NULL::STRUCT(f1 VARCHAR, f2 INT)[])
        ) AS t(id, arr, m, rs)"""
    )
    return con


def _rows(df):
    return sorted(map(tuple, df.collect()))


# ---------------------------------------------------------------- forms


def test_cross_join_array(eng, duck):
    got = _rows(eng.sql(
        "SELECT id, u.v FROM unnest_t CROSS JOIN UNNEST(arr) AS u(v)"
    ))
    want = sorted(map(tuple, duck.execute(
        "SELECT id, unnest(arr) AS v FROM unnest_t"
    ).fetchall()))
    assert got == want and len(got) == 4


def test_with_ordinality_one_based_bigint_last(eng, duck):
    df = eng.sql(
        "SELECT id, u.v, u.i FROM unnest_t "
        "CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(v, i)"
    )
    # the ordinality column is BIGINT (Trino), not Spark's INT pos
    assert dict(df.dtypes)["i"] == "bigint"
    got = _rows(df)
    want = sorted(map(tuple, duck.execute(
        "SELECT id, unnest(arr) AS v, generate_subscripts(arr, 1) AS i "
        "FROM unnest_t"
    ).fetchall()))
    assert got == want
    assert got[0] == (1, "a", 1)  # 1-based, not 0-based


def test_map_expansion(eng, duck):
    got = _rows(eng.sql(
        "SELECT id, u.k, u.w FROM unnest_t CROSS JOIN UNNEST(m) "
        "AS u(k, w)"
    ))
    want = sorted(map(tuple, duck.execute(
        "SELECT id, ue.k, ue.w FROM unnest_t, LATERAL (SELECT "
        "unnest(map_keys(m)) AS k, unnest(map_values(m)) AS w) ue"
    ).fetchall()))
    assert got == want and len(got) == 3


def test_map_with_ordinality(eng):
    got = _rows(eng.sql(
        "SELECT id, u.k, u.w, u.i FROM unnest_t "
        "CROSS JOIN UNNEST(m) WITH ORDINALITY AS u(k, w, i)"
    ))
    assert got == [(1, "k1", 10, 1), (1, "k2", 20, 2), (2, "k3", 30, 1)]


def test_array_of_rows_inline(eng, duck):
    # >= 3 alias columns select the inline (array-of-rows) shape
    got = _rows(eng.sql(
        "SELECT id, u.a, u.b, u.c FROM unnest_t "
        "CROSS JOIN UNNEST(transform(rs, "
        "r -> named_struct('a', r.f1, 'b', r.f2, 'c', r.f2 * 2)))"
        " AS u(a, b, c)"
    ))
    want = sorted(map(tuple, duck.execute(
        "SELECT id, r.f1 AS a, r.f2 AS b, r.f2 * 2 AS c "
        "FROM (SELECT id, unnest(rs) AS r FROM unnest_t)"
    ).fetchall()))
    assert got == want and len(got) == 3


def test_alias_without_as_keyword(eng):
    got = _rows(eng.sql(
        "SELECT id, u.v FROM unnest_t CROSS JOIN UNNEST(arr) u(v) "
        "WHERE id = 2"
    ))
    assert got == [(2, "d")]


def test_lowercase_spellings(eng):
    got = _rows(eng.sql(
        "select id, u.v, u.i from unnest_t "
        "cross join unnest(arr) with ordinality as u(v, i) where id = 2"
    ))
    assert got == [(2, "d", 1)]


def test_comma_join_form(eng):
    got = _rows(eng.sql(
        "SELECT id, u.v FROM unnest_t, UNNEST(arr) AS u(v) WHERE id = 1"
    ))
    assert got == [(1, "a"), (1, "b"), (1, "c")]


def test_left_join_on_true_preserves_empty_and_null(eng, duck):
    got = _rows(eng.sql(
        "SELECT id, u.v FROM unnest_t "
        "LEFT JOIN UNNEST(arr) AS u(v) ON TRUE"
    ))
    want = sorted(
        map(tuple, duck.execute(
            "SELECT id, w.v FROM unnest_t LEFT JOIN LATERAL "
            "(SELECT unnest(arr) AS v) AS w ON TRUE"
        ).fetchall()),
        key=lambda r: (r[0], r[1] or ""),
    )
    assert sorted(got, key=lambda r: (r[0], r[1] or "")) == want
    # ids 3 (empty) and 4 (NULL) keep one row each with NULL v
    assert (3, None) in got and (4, None) in got


def test_unnest_argument_through_function_translation(eng):
    """The UNNEST argument is spliced verbatim and then flows through
    the LATER dialect passes — slice() is the shared spelling here,
    and the chain order (unnest first) is what makes this compose."""
    got = _rows(eng.sql(
        "SELECT id, u.v, u.i FROM unnest_t "
        "CROSS JOIN UNNEST(slice(arr, 1, 2)) WITH ORDINALITY AS u(v, i) "
        "WHERE id = 1"
    ))
    assert got == [(1, "a", 1), (1, "b", 2)]


def test_chained_unnests_previous_alias_visible(eng):
    got = _rows(eng.sql(
        "SELECT id, u.v, w.c FROM unnest_t "
        "CROSS JOIN UNNEST(arr) AS u(v) "
        "CROSS JOIN UNNEST(split(u.v, '')) AS w(c) WHERE id = 2"
    ))
    assert (2, "d", "d") in got


def test_unnest_inside_view_body(eng, spark):
    """View bodies run the same translator chain (_plan_view_body) —
    an UNNEST view must plan on read."""
    eng.sql(
        "CREATE OR REPLACE VIEW unnest_v AS "
        "SELECT id, u.v FROM unnest_t CROSS JOIN UNNEST(arr) AS u(v)"
    )
    try:
        got = _rows(eng.sql("SELECT * FROM unnest_v WHERE id = 2"))
        assert got == [(2, "d")]
    finally:
        eng.sql("DROP VIEW unnest_v")


def test_unnest_text_inside_literal_is_data(eng):
    row = eng.sql(
        "SELECT 'CROSS JOIN UNNEST(arr) AS t(v)' AS s, id "
        "FROM unnest_t WHERE id = 1"
    ).collect()[0]
    assert row.s == "CROSS JOIN UNNEST(arr) AS t(v)"


# ------------------------------------------------------------- refusals


@pytest.mark.parametrize(
    "sql, needle",
    [
        ("SELECT * FROM unnest_t CROSS JOIN UNNEST(arr, arr) AS u(a, b)",
         "zips the arrays"),
        ("SELECT * FROM unnest_t CROSS JOIN UNNEST(arr)",
         "explicit column list"),
        ("SELECT * FROM unnest_t CROSS JOIN UNNEST(arr) AS u",
         "explicit column list"),
        ("SELECT * FROM unnest_t LEFT JOIN UNNEST(arr) AS u(v) ON id = 1",
         "ON TRUE"),
        ("SELECT * FROM unnest_t "
         "CROSS JOIN UNNEST(arr) WITH ORDINALITY AS u(v)",
         "ordinality"),
        ("SELECT * FROM unnest_t "
         "CROSS JOIN UNNEST(rs) WITH ORDINALITY AS u(a, b, c, i)",
         "ordinality"),
        ("SELECT * FROM unnest_t INNER JOIN UNNEST(arr) AS u(v) ON true",
         "CROSS JOIN UNNEST"),
        ("SELECT * FROM unnest_t CROSS JOIN UNNEST(arr) AS u(v || 'x')",
         "simple identifiers"),
    ],
)
def test_unnest_refusals(eng, sql, needle):
    with pytest.raises(ValueError, match="(?i)" + needle.replace(
            "(", r"\(").replace(")", r"\)")):
        eng.sql(sql)


def test_two_col_alias_over_array_of_rows_fails_loud_not_wrong(eng):
    """The documented ambiguity: 2 aliases without ordinality selects
    the MAP shape; an array-of-rows through it must fail Spark's
    analysis with an explicit arity error — never return wrong data."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException, match="ARITY|aliases|number"):
        eng.sql(
            "SELECT * FROM unnest_t CROSS JOIN UNNEST(rs) AS u(a, b)"
        ).collect()


# ---------------------------------------------------- EXECUTE IMMEDIATE


def test_execute_immediate_basic(eng):
    assert eng.sql("EXECUTE IMMEDIATE 'SELECT 41 + 1 AS x'").collect()[
        0
    ].x == 42


def test_execute_immediate_undoubles_quotes(eng):
    row = eng.sql(
        "EXECUTE IMMEDIATE 'SELECT ''O''''Brien'' AS s'"
    ).collect()[0]
    assert row.s == "O'Brien"


def test_execute_immediate_using_params(eng):
    row = eng.sql(
        "EXECUTE IMMEDIATE 'SELECT ? * ? AS p, ? AS s' "
        "USING 6, 7, 'x,y'"
    ).collect()[0]
    assert row.p == 42 and row.s == "x,y"


def test_execute_immediate_body_gets_full_dialect(eng):
    """The unwrapped body routes through sql() — the whole translator
    chain applies (strpos is the round-13 dialect layer)."""
    row = eng.sql(
        "EXECUTE IMMEDIATE 'SELECT strpos(''hello'', ''llo'') AS p'"
    ).collect()[0]
    assert row.p == 3


def test_execute_immediate_unnest_composes(eng):
    got = _rows(eng.sql(
        "EXECUTE IMMEDIATE 'SELECT id, u.v FROM unnest_t "
        "CROSS JOIN UNNEST(arr) AS u(v) WHERE id = 2'"
    ))
    assert got == [(2, "d")]


def test_execute_immediate_hostile_self_reference(eng):
    """A body whose LITERAL contains the words EXECUTE IMMEDIATE —
    the unwrap must not recurse into data."""
    row = eng.sql(
        "EXECUTE IMMEDIATE 'SELECT ''EXECUTE IMMEDIATE ''''SELECT"
        " 1'''''' AS s'"
    ).collect()[0]
    assert row.s == "EXECUTE IMMEDIATE 'SELECT 1'"


@pytest.mark.parametrize(
    "sql, needle",
    [
        ("EXECUTE IMMEDIATE 'SELECT ? AS x'", "parameter"),
        ("EXECUTE IMMEDIATE 'SELECT 1' USING 1", "parameter"),
        ("EXECUTE IMMEDIATE SELECT 1", "string literal"),
        ("EXECUTE IMMEDIATE 'SELECT 1' garbage", "trailing"),
    ],
)
def test_execute_immediate_refusals(eng, sql, needle):
    with pytest.raises(ValueError, match="(?i)" + needle):
        eng.sql(sql)


# -------------------------------------------- WITH FUNCTION / AT TZ END


def test_with_function_routine_refuses(eng):
    with pytest.raises(ValueError, match="inline SQL routines"):
        eng.sql(
            "WITH FUNCTION twice(x BIGINT) RETURNS BIGINT RETURN x * 2 "
            "SELECT twice(21)"
        )


def test_cte_named_function_still_plans(eng):
    assert eng.sql(
        "WITH function AS (SELECT 1 AS a) SELECT a FROM function"
    ).collect()[0].a == 1


def test_cte_named_function_with_column_list_still_plans(eng):
    assert eng.sql(
        "WITH function(a, b) AS (SELECT 1, 2) SELECT b FROM function"
    ).collect()[0].b == 2


def test_with_function_refusal_applies_in_view_bodies(eng):
    with pytest.raises(ValueError, match="inline SQL routines"):
        eng.sql(
            "CREATE OR REPLACE VIEW wf_v AS WITH FUNCTION f(x INT) "
            "RETURNS INT RETURN x SELECT f(1)"
        )
        eng.sql("SELECT * FROM wf_v")


def test_case_end_at_time_zone_refuses_with_fix(eng):
    with pytest.raises(ValueError, match="bare SQL keyword"):
        eng.sql(
            "SELECT CASE WHEN id = 1 THEN TIMESTAMP '2020-01-01 00:00:00'"
            " ELSE TIMESTAMP '2021-01-01 00:00:00' END"
            " AT TIME ZONE 'UTC' AS z FROM unnest_t"
        )


def test_parenthesized_case_at_time_zone_plans(eng, spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    row = eng.sql(
        "SELECT CAST((CASE WHEN id = 1 THEN "
        "TIMESTAMP '2020-01-01 00:00:00' ELSE "
        "TIMESTAMP '2021-06-01 00:00:00' END) "
        "AT TIME ZONE 'America/New_York' AS DATE) AS d "
        "FROM unnest_t WHERE id = 1"
    ).collect()[0]
    assert str(row.d) == "2019-12-31"


# ----------------------------------------------- property differential


def test_unnest_property_differential_vs_duckdb(eng, duck):
    """Seeded pseudo-random small arrays through CROSS JOIN UNNEST
    WITH ORDINALITY vs DuckDB's unnest/generate_subscripts — 40 shapes
    covering empty, singleton, duplicate elements, and NULL elements."""
    state = 99991
    for case in range(40):
        state = (state * 1103515245 + 12345) % (2**31)
        n = state % 5  # 0..4 elements
        elems = []
        for j in range(n):
            state = (state * 1103515245 + 12345) % (2**31)
            v = state % 7
            elems.append("NULL" if v == 6 else str(v % 4))
        arr_sql = ", ".join(elems)
        spark_q = (
            f"SELECT u.v, u.i FROM (SELECT "
            f"cast(array({arr_sql}) as array<int>) AS a) "
            f"CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(v, i)"
        )
        duck_q = (
            f"SELECT unnest(a) AS v, generate_subscripts(a, 1) AS i "
            f"FROM (SELECT [{arr_sql}]::INT[] AS a)"
        )
        got = sorted(
            ((r.v, r.i) for r in eng.sql(spark_q).collect()),
            key=lambda t: (t[1],),
        )
        want = sorted(
            ((v, i) for v, i in duck.execute(duck_q).fetchall()),
            key=lambda t: (t[1],),
        )
        assert got == want, (case, arr_sql, got, want)


# ---------------- UNNEST and EXECUTE IMMEDIATE spellings inside literals

_payload = payloads(UNNEST)


@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_unnest_spellings_inside_literals_are_data(eng, payload):
    """SELECT '<payload>' round-trips byte-for-byte even when the
    payload spells an UNNEST clause, WITH ORDINALITY, or EXECUTE
    IMMEDIATE — the masked-text matchers must never fire inside the
    literal."""
    got = eng.sql(
        f"SELECT {quote(payload)} AS s, length({quote(payload)}) AS n"
    ).collect()[0]
    assert got.s == payload
    assert got.n == len(payload)


@settings(
    max_examples=60, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_execute_immediate_roundtrips_hostile_payload(eng, payload):
    """EXECUTE IMMEDIATE 'SELECT ''<payload-doubled>'' AS s' must
    yield the payload exactly: the unwrap undoubles ONCE, the inner
    statement's own literal grammar handles the rest."""
    inner = f"SELECT {quote(payload)} AS s"
    stmt = "EXECUTE IMMEDIATE " + quote(inner)
    got = eng.sql(stmt).collect()[0]
    assert got.s == payload


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_real_unnest_next_to_hostile_literal(eng, payload):
    """A REAL UNNEST clause with the hostile payload in a neighboring
    literal: the rewrite splices around the literal, never into it."""
    got = sorted(eng.sql(
        f"SELECT u.v, {quote(payload)} AS s FROM "
        f"(SELECT array(1, 2) AS a) "
        f"CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(v, i)"
    ).collect())
    assert [r.v for r in got] == [1, 2]
    assert all(r.s == payload for r in got)


def test_composed_unnest_statement_with_every_seam(eng):
    """One statement exercising the UNNEST rewrite, a translated
    function in its argument, EXECUTE IMMEDIATE wrapping, and hostile
    literals simultaneously — the chain must compose."""
    row = eng.sql(
        "EXECUTE IMMEDIATE 'SELECT u.v AS v, u.i AS i, "
        "strpos(''CROSS JOIN UNNEST('', ''UNNEST'') AS p "
        "FROM (SELECT array(10, 20) AS a) "
        "CROSS JOIN UNNEST(slice(a, 1, 1)) WITH ORDINALITY AS u(v, i)'"
    ).collect()
    assert len(row) == 1
    assert (row[0].v, row[0].i, row[0].p) == (10, 1, 12)
