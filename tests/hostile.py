"""Hostile SQL-text payloads for the statement fuzz properties: strings
that look like SQL structure and must stay data when quoted. Each list
names the rewrite seam whose spellings it carries; ``payloads`` mixes one
with short generated text over SQL punctuation. Spark itself is the
oracle wherever a value can be re-derived."""

from __future__ import annotations

from hypothesis import strategies as st


def quote(p: str) -> str:
    """``p`` as a SQL string literal."""
    return "'" + p.replace("'", "''") + "'"


def payloads(tricky: list[str], max_size: int = 24):
    """One of ``tricky``, or generated text up to ``max_size`` characters
    (raw quotes are left to the tricky forms)."""
    plain = st.text(
        alphabet="abcdefgXYZ0123456789 _.,$?=<>()-;'",
        min_size=0, max_size=max_size,
    ).map(lambda s: s.replace("'", ""))
    return st.one_of(st.sampled_from(tricky), plain)


# persistent-view bodies, GENERATED expressions, transaction statements
# and prepared-statement parameters
STRUCTURE = [
    "DELETE FROM t WHERE 1=1",
    "a; DROP TABLE t; --",
    "t FOR VERSION AS OF 3",
    "orders$files",
    "CREATE VIEW v AS SELECT 1",
    "GENERATED ALWAYS AS (k)",
    "BEGIN TRANSACTION ON t",
    "COMMIT TRANSACTION ON t",
    "?",
    "? OR ? -- ?",
    "USING 1, 2",
    "O''Brien",
    ");( ))((",
    "",
]

# SET SESSION values, the TABLESAMPLE translator and MATCH_RECOGNIZE
# DEFINE literals
SAMPLING = [
    "TABLESAMPLE BERNOULLI (10)",
    "t TABLESAMPLE SYSTEM (50) REPEATABLE (1)",
    "TABLESAMPLE BERNOULLI (",          # unbalanced — must stay data
    ") TABLESAMPLE SYSTEM (100",
    "SET SESSION a = 'b'",
    "USE hive.analytics",
    "O''Brien",
    "'; DROP TABLE t; --",
    "",
]

# the quantified-comparison, SQL/JSON and information_schema translators
QUANTIFIED = [
    "x > ALL (SELECT 1)",
    "v = ANY (SELECT k FROM fz)",
    "<= SOME (",                       # unbalanced — must stay data
    ") <> ALL (SELECT",
    "json_value(doc, '$.a')",
    "json_exists(props, 'lax $.k')",
    "information_schema.tables",
    "iceberg.information_schema.columns",
    "O''Brien",
    "'; DROP TABLE t; --",
    "",
]

# the Trino function-dialect rewrites and AT TIME ZONE
DIALECT = [
    "strpos('a','b')",
    "date_diff('day', x, y)",
    "date_add('hour', 1",           # unbalanced — must stay data
    "format_datetime(ts, 'YYYY')",  # refused OUTSIDE a literal only
    "AT TIME ZONE 'UTC'",
    "ts AT TIME ZONE",
    "approx_distinct(",
    "x = ANY (SELECT",
    "O''Brien strpos",
    "'; DROP TABLE t; --",
    "",
]

# the UNNEST rewrite and the EXECUTE IMMEDIATE unwrap
UNNEST = [
    "CROSS JOIN UNNEST(arr) AS t(v)",
    "UNNEST(a, b) AS t(x, y)",
    "WITH ORDINALITY AS t(v, i)",
    "LEFT JOIN UNNEST(m) ON TRUE",
    "UNNEST(",                       # unbalanced — must stay data
    "EXECUTE IMMEDIATE 'SELECT 1'",
    "EXECUTE IMMEDIATE",
    "WITH FUNCTION f(x INT) RETURNS INT",
    "TRY(1 / 0)",
    "TRY(CAST(x AS INT)",           # unbalanced — must stay data
    "O''Brien UNNEST",
    "'; DROP TABLE t; --",
    "",
]
