"""Round-11 BI-handshake surface (VERDICT r10 next #4/#5): the chatter
Metabase/CloudBeaver issue against Trino on connect — SHOW COLUMNS
(Trino's exact 4-column shape with Trino type spellings), USE,
SET SESSION / RESET SESSION / SHOW SESSION (accept-and-apply for
spark.* keys, accept-and-record otherwise — never a refusal) — plus
the Trino TABLESAMPLE spellings (BERNOULLI/SYSTEM → Spark percent
sampling, REPEATABLE passthrough, literal-safe translation) routed
over registered snapshot tables AND persistent views."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from tests.hostile import SAMPLING, payloads, quote


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE bi (k INT, v DOUBLE, s STRING, emb ARRAY<FLOAT>, "
        "d DECIMAL(18,2), ts TIMESTAMP) USING snapshot"
    )
    rows = ", ".join(
        f"({i}, {i}.5, 's{i}', array(CAST(0.{i} AS FLOAT)), "
        f"{i}.25, TIMESTAMP '2024-01-0{i % 9 + 1} 00:00:00')"
        for i in range(40)
    )
    e.sql(f"INSERT INTO bi VALUES {rows}")
    return e


def test_show_columns_trino_shape(eng):
    df = eng.sql("SHOW COLUMNS FROM bi")
    assert df.columns == ["Column", "Type", "Extra", "Comment"]
    types = {r["Column"]: r["Type"] for r in df.collect()}
    assert types == {
        "k": "integer",
        "v": "double",
        "s": "varchar",
        "emb": "array(real)",
        "d": "decimal(18,2)",
        "ts": "timestamp(6)",
    }
    assert all(
        r["Extra"] == "" and r["Comment"] == "" for r in df.collect()
    )
    # the IN spelling too
    assert eng.sql("SHOW COLUMNS IN bi").count() == 6


def test_show_columns_falls_through_for_catalog_names(eng, spark):
    spark.createDataFrame([Row(x=1)]).createOrReplaceTempView("plainv")
    # not a snapshot table: Spark's own SHOW COLUMNS shape answers
    assert eng.sql("SHOW COLUMNS FROM plainv").columns == ["col_name"]


def test_use_applies_or_records(eng, spark):
    r = eng.sql("USE default").collect()[0]
    assert r["schema"] == "default" and r["applied"] is True
    # Trino's catalog.schema form over a schema Spark doesn't have:
    # accepted and recorded, never an error (a refusal aborts the
    # client's whole connection)
    r = eng.sql("USE hive.analytics").collect()[0]
    assert r["schema"] == "hive.analytics" and r["applied"] is False
    assert eng._current_schema == "hive.analytics"


def test_set_session_apply_record_reset(eng, spark):
    # a Trino-only property: recorded, echoed, resettable
    r = eng.sql("SET SESSION query_max_run_time = '2h'").collect()[0]
    assert (r["name"], r["value"], r["applied"]) == (
        "query_max_run_time", "2h", False,
    )
    listed = {
        (row["name"], row["value"])
        for row in eng.sql("SHOW SESSION").collect()
    }
    assert ("query_max_run_time", "2h") in listed
    assert eng.sql("RESET SESSION query_max_run_time").collect()[0][
        "reset"
    ] is True
    assert eng.sql("SHOW SESSION").count() == 0
    # a spark.* property: APPLIED to the live conf
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        r = eng.sql(
            "SET SESSION spark.sql.shuffle.partitions = 7"
        ).collect()[0]
        assert r["applied"] is True
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    # quoted values unescape Trino-style ('' -> ')
    r = eng.sql("SET SESSION note = 'O''Brien'").collect()[0]
    assert r["value"] == "O'Brien"


def test_tablesample_bernoulli_system_bounds(eng):
    n = eng.sql("SELECT COUNT(*) AS n FROM bi").collect()[0]["n"]
    assert n == 40
    assert eng.sql(
        "SELECT k FROM bi TABLESAMPLE BERNOULLI (100)"
    ).count() == 40
    assert eng.sql("SELECT k FROM bi TABLESAMPLE SYSTEM (0)").count() == 0
    # a 50% sample is a strict subset with plausible mass
    got = eng.sql(
        "SELECT k FROM bi TABLESAMPLE BERNOULLI (50) REPEATABLE (7)"
    ).collect()
    assert 0 < len(got) < 40
    assert {r["k"] for r in got} <= set(range(40))


def test_tablesample_repeatable_is_deterministic(eng):
    q = "SELECT k FROM bi TABLESAMPLE BERNOULLI (50) REPEATABLE (42)"
    a = [r["k"] for r in eng.sql(q).orderBy("k").collect()]
    b = [r["k"] for r in eng.sql(q).orderBy("k").collect()]
    assert a == b


def test_tablesample_inside_literal_stays_data(eng):
    lit = "x TABLESAMPLE BERNOULLI (10) y"
    got = eng.sql(
        f"SELECT 'x TABLESAMPLE BERNOULLI (10) y' AS s FROM bi LIMIT 1"
    ).collect()[0]["s"]
    assert got == lit


def test_tablesample_over_persistent_view(eng):
    eng.sql("CREATE VIEW bi_big AS SELECT k, v FROM bi WHERE k >= 10")
    assert eng.sql(
        "SELECT k FROM bi_big TABLESAMPLE BERNOULLI (100)"
    ).count() == 30
    got = eng.sql(
        "SELECT k FROM bi_big TABLESAMPLE SYSTEM (50) REPEATABLE (3)"
    ).collect()
    assert {r["k"] for r in got} <= set(range(10, 40))


def test_tablesample_composes_with_time_travel(eng):
    eng.sql("DELETE FROM bi WHERE k >= 20")
    assert eng.sql(
        "SELECT k FROM bi TABLESAMPLE BERNOULLI (100)"
    ).count() == 20
    assert eng.sql(
        "SELECT k FROM bi FOR VERSION AS OF 2 "
        "TABLESAMPLE BERNOULLI (100)"
    ).count() == 40


# ---------------- Trino CREATE TABLE DDL, verbatim (round 11) ------------
def test_reference_notebook_ddl_verbatim(spark, tmp_path):
    """The reference notebook's cell-3 DDL (test_airflow_yfinance.ipynb:
    Trino types incl. TIMESTAMP(3) WITH TIME ZONE and the Iceberg
    partitioning=ARRAY['day(ts)'] property) must run VERBATIM (modulo
    catalog prefix, per README) and produce a hidden-day-partitioned
    snapshot table the rest of the notebook's trace works against."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "nb"))
    e.sql("CREATE SCHEMA IF NOT EXISTS yfinance")
    e.sql("""CREATE TABLE IF NOT EXISTS fact_price (
      ticker VARCHAR,
      ts TIMESTAMP(3) WITH TIME ZONE,
      open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE,
      volume BIGINT,
      ingest_date VARCHAR
    ) WITH (partitioning = ARRAY['day(ts)'])""")
    e.sql(
        "INSERT INTO fact_price VALUES "
        "('AAPL', TIMESTAMP '2024-01-02 10:00:00', 1, 2, 0.5, 1.0, 10, 'd'),"
        "('AAPL', TIMESTAMP '2024-01-03 10:00:00', 1, 2, 0.5, 2.0, 10, 'd'),"
        "('MSFT', TIMESTAMP '2024-01-02 11:00:00', 1, 2, 0.5, 5.0, 10, 'd')"
    )
    rows = e.sql(
        "SELECT ticker, AVG(close) AS avg_close FROM fact_price "
        "GROUP BY ticker ORDER BY ticker"
    ).collect()
    assert [(r["ticker"], r["avg_close"]) for r in rows] == [
        ("AAPL", 1.5), ("MSFT", 5.0),
    ]
    # true hidden partitioning: one day directory per distinct day(ts)
    parts = {r["partition"] for r in e.sql("SHOW PARTITIONS fact_price").collect()}
    assert parts == {"_p_days_ts=2024-01-02", "_p_days_ts=2024-01-03"}
    # Trino type spellings round-trip through SHOW COLUMNS
    types = {r["Column"]: r["Type"]
             for r in e.sql("SHOW COLUMNS FROM fact_price").collect()}
    assert types["ticker"] == "varchar"
    assert types["ts"] == "timestamp(6)"
    # IF NOT EXISTS: re-running the verbatim DDL is a no-op
    e.sql("""CREATE TABLE IF NOT EXISTS fact_price (
      ticker VARCHAR, ts TIMESTAMP(3) WITH TIME ZONE, open DOUBLE,
      high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT,
      ingest_date VARCHAR) WITH (partitioning = ARRAY['day(ts)'])""")
    assert e.sql("SELECT COUNT(*) AS n FROM fact_price").collect()[0]["n"] == 3


def test_trino_create_translation_scope(spark, tmp_path):
    """The translator fires ONLY on Trino markers: Spark-native DDL and
    CREATE-TABLE-looking text inside literals stay untouched."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "scope"))
    e.sql("CREATE TABLE plainspark (k INT, v STRING) USING parquet")
    assert spark.catalog.tableExists("plainspark")  # session catalog, not snapshot
    got = e.sql("SELECT 'CREATE TABLE x (a VARCHAR)' AS s").collect()[0]["s"]
    assert got == "CREATE TABLE x (a VARCHAR)"
    # bare-VARCHAR Trino DDL with NO partitioning property also routes
    # to a snapshot table (Trino CREATEs carry no USING clause)
    e.sql("CREATE TABLE tri (a VARCHAR, b TIMESTAMP(6))")
    e.sql("INSERT INTO tri VALUES ('x', TIMESTAMP '2024-01-01 00:00:00')")
    assert e.sql("SELECT COUNT(*) AS n FROM tri").collect()[0]["n"] == 1
    spark.sql("DROP TABLE IF EXISTS plainspark")


def test_show_tables_from_dotted_namespace(spark, tmp_path):
    """RUNBOOK step 7's `SHOW TABLES FROM iceberg.yfinance`: a dotted
    namespace with registered snapshot tables answers in Trino's
    single-`Table`-column shape; real Spark databases still fall
    through to Spark's own SHOW TABLES."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "st"))
    e.sql("""CREATE TABLE iceberg.yfinance.fact_price (
      ticker VARCHAR, ts TIMESTAMP(3) WITH TIME ZONE, close DOUBLE
    ) WITH (partitioning = ARRAY['day(ts)'])""")
    df = e.sql("SHOW TABLES FROM iceberg.yfinance")
    assert df.columns == ["Table"]
    assert [r["Table"] for r in df.collect()] == ["fact_price"]
    # a real Spark database still routes to Spark
    spark.sql("CREATE DATABASE IF NOT EXISTS showdb")
    try:
        out = e.sql("SHOW TABLES FROM showdb")
        assert "tableName" in out.columns  # Spark's own shape
    finally:
        spark.sql("DROP DATABASE showdb")


def test_show_schemas_from_unknown_catalog(spark, tmp_path):
    """RUNBOOK troubleshooting's `SHOW SCHEMAS FROM iceberg`: a catalog
    Spark doesn't know answers from registry dotted-name prefixes in
    Trino's single-`Schema`-column shape."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "sc"))
    e.sql("CREATE TABLE iceberg.yfinance.t1 (k INT) USING snapshot")
    e.sql("CREATE TABLE iceberg.curated.t2 (k INT) USING snapshot")
    df = e.sql("SHOW SCHEMAS FROM iceberg")
    assert df.columns == ["Schema"]
    assert [r["Schema"] for r in df.collect()] == ["curated", "yfinance"]


def test_reference_smoke_test_trace_verbatim(spark, tmp_path):
    """The reference README/RUNBOOK smoke-test statements, verbatim:
    dotted CREATE SCHEMA, 3-part Trino DDL, INSERT, aggregates, SHOW
    SCHEMAS/TABLES, row-level DELETE, and time travel — all against the
    catalog.schema.table names the reference docs use."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "smoke"))
    e.sql("CREATE SCHEMA IF NOT EXISTS iceberg.yfinance")
    e.sql(
        "CREATE TABLE IF NOT EXISTS iceberg.yfinance.fact_price "
        "(ticker VARCHAR, ts TIMESTAMP(3) WITH TIME ZONE, open DOUBLE, "
        "high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT, "
        "ingest_date DATE) WITH (partitioning = ARRAY['day(ts)'])"
    )
    e.sql(
        "INSERT INTO iceberg.yfinance.fact_price VALUES "
        "('AAPL', TIMESTAMP '2024-01-02 10:00:00', 1,2,0.5,1.5,10, "
        "DATE '2024-01-03'), "
        "('MSFT', TIMESTAMP '2024-01-03 10:00:00', 1,2,0.5,2.5,10, "
        "DATE '2024-01-04')"
    )
    n = e.sql(
        "SELECT COUNT(*) FROM iceberg.yfinance.fact_price"
    ).collect()[0][0]
    assert n == 2
    avg = e.sql(
        "SELECT ticker, AVG(close) AS avg_close FROM "
        "iceberg.yfinance.fact_price GROUP BY ticker ORDER BY ticker"
    ).collect()
    assert [(r[0], r[1]) for r in avg] == [("AAPL", 1.5), ("MSFT", 2.5)]
    assert [r["Schema"] for r in
            e.sql("SHOW SCHEMAS FROM iceberg").collect()] == ["yfinance"]
    assert [r["Table"] for r in
            e.sql("SHOW TABLES FROM iceberg.yfinance").collect()] == [
        "fact_price"]
    e.sql("DELETE FROM iceberg.yfinance.fact_price WHERE ticker = 'MSFT'")
    assert e.sql(
        "SELECT COUNT(*) FROM iceberg.yfinance.fact_price"
    ).collect()[0][0] == 1
    assert e.sql(
        "SELECT COUNT(*) FROM iceberg.yfinance.fact_price "
        "FOR VERSION AS OF 2"
    ).collect()[0][0] == 2
    # schema lifecycle: non-empty DROP refused; empty DROP works
    with pytest.raises(ValueError, match="not empty"):
        e.sql("DROP SCHEMA iceberg.yfinance")
    e.sql("CREATE SCHEMA iceberg.empty")
    e.sql("DROP SCHEMA iceberg.empty")
    with pytest.raises(ValueError, match="does not exist"):
        e.sql("DROP SCHEMA iceberg.empty")


def test_use_schema_resolves_unqualified_names(spark, tmp_path):
    """The Metabase connection pattern (README step 7: catalog=iceberg,
    schema=yfinance): after USE, unqualified names resolve to the dotted
    registrations — reads, DML, and time travel through EITHER spelling
    see one table; switching schemas retires the aliases."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "use"))
    e.sql("CREATE TABLE iceberg.yfinance.fact_price (ticker VARCHAR, "
          "close DOUBLE) WITH (partitioning = ARRAY[])")
    e.sql("INSERT INTO iceberg.yfinance.fact_price VALUES ('AAPL', 1.0)")
    e.sql("USE iceberg.yfinance")
    # unqualified read + DML, as a BI client issues them
    assert e.sql("SELECT COUNT(*) AS n FROM fact_price").collect()[0]["n"] == 1
    e.sql("INSERT INTO fact_price VALUES ('MSFT', 2.0)")
    # both spellings see one table
    assert e.sql(
        "SELECT COUNT(*) AS n FROM iceberg.yfinance.fact_price"
    ).collect()[0]["n"] == 2
    assert e.sql(
        "SELECT COUNT(*) AS n FROM fact_price FOR VERSION AS OF 2"
    ).collect()[0]["n"] == 1
    # schema switch retires the alias
    e.sql("USE iceberg.other")
    import pytest as _pt
    with _pt.raises(Exception):
        e.sql("SELECT COUNT(*) FROM fact_price").collect()
    # and switching back restores it
    e.sql("USE iceberg.yfinance")
    assert e.sql("SELECT COUNT(*) AS n FROM fact_price").collect()[0]["n"] == 2


def test_drop_through_use_alias_removes_both_spellings(spark, tmp_path):
    """DROP via the unqualified alias deletes the table's storage, so the
    dotted twin must vanish too — a dangling registration would reference
    deleted files."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "drop"))
    e.sql("CREATE TABLE iceberg.yfinance.tmp (k INT) USING snapshot")
    e.sql("USE iceberg.yfinance")
    assert e.sql("SELECT COUNT(*) AS n FROM tmp").collect()[0]["n"] == 0
    e.sql("DROP TABLE tmp")
    import pytest as _pt
    for spelling in ("tmp", "iceberg.yfinance.tmp"):
        with _pt.raises(Exception):
            e.sql(f"SELECT COUNT(*) FROM {spelling}").collect()
    # the name is fully free again: recreate through either spelling
    e.sql("CREATE TABLE iceberg.yfinance.tmp (k INT) USING snapshot")
    e.sql("INSERT INTO tmp VALUES (1)")
    assert e.sql("SELECT COUNT(*) AS n FROM tmp").collect()[0]["n"] == 1


def test_bi_connect_trace_with_information_schema(spark, tmp_path):
    """The full connect-time trace a Trino BI client issues, extended
    (round 12) with the information_schema leg Metabase/CloudBeaver use
    alongside SHOW: USE → SET SESSION → schemata → tables → columns —
    every statement answered, introspection rows consistent with the
    SHOW surfaces."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE SCHEMA iceberg.marts")
    e.sql("CREATE TABLE iceberg.marts.fact (k BIGINT, v DOUBLE) "
          "USING snapshot")
    try:
        e.sql("USE iceberg.marts")
        e.sql("SET SESSION query_max_run_time = '2h'")
        schemata = {r.schema_name for r in e.sql(
            "SELECT schema_name FROM iceberg.information_schema.schemata"
        ).collect()}
        assert "marts" in schemata
        show_schemas = {r[0] for r in
                        e.sql("SHOW SCHEMAS FROM iceberg").collect()}
        assert "marts" in show_schemas and schemata >= show_schemas
        tables = e.sql(
            "SELECT table_name FROM iceberg.information_schema.tables "
            "WHERE table_schema = 'marts'"
        ).collect()
        assert [r.table_name for r in tables] == ["fact"]
        assert [r[0] for r in
                e.sql("SHOW TABLES FROM iceberg.marts").collect()] == [
            "fact"
        ]
        cols = e.sql(
            "SELECT column_name, data_type "
            "FROM iceberg.information_schema.columns "
            "WHERE table_schema = 'marts' AND table_name = 'fact' "
            "ORDER BY ordinal_position"
        ).collect()
        show_cols = e.sql("SHOW COLUMNS FROM iceberg.marts.fact").collect()
        assert [(c.column_name, c.data_type) for c in cols] == [
            (r["Column"], r["Type"]) for r in show_cols
        ]
        # round 13: SHOW FUNCTIONS — the last SHOW spelling BI tools
        # issue on connect; the dialect rows double as the coverage
        # contract, and a filtered probe works mid-handshake
        fns = e.sql("SHOW FUNCTIONS").collect()
        names = {r.function for r in fns}
        assert {"approx_distinct", "date_diff", "strpos"} <= names
        probe = e.sql("SHOW FUNCTIONS LIKE 'approx%'").collect()
        assert any(r.function == "approx_distinct" for r in probe)
    finally:
        e.sql("USE default")
        e.drop_snapshot_table("iceberg.marts.fact", delete_data=True)


def test_bare_current_catalog_schema_niladics(spark, tmp_path):
    """Trino spells CURRENT_CATALOG / CURRENT_SCHEMA without parens (ANSI
    niladics; BI tools SELECT them on connect) — they reflect the
    engine's USE state, while Spark's function spellings stay Spark's."""
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    r = e.sql(
        "SELECT current_catalog AS c, current_schema AS s"
    ).collect()[0]
    assert (r.c, r.s) == ("spark_catalog", "default")
    e.sql("USE iceberg.marts2")
    try:
        r = e.sql(
            "SELECT current_catalog AS c, current_schema AS s"
        ).collect()[0]
        assert (r.c, r.s) == ("iceberg", "marts2")
        # composes inside predicates against information_schema
        n = e.sql(
            "SELECT count(*) AS n FROM information_schema.schemata "
            "WHERE catalog_name = current_catalog"
        ).collect()[0]["n"]
        assert n >= 0
        # the function forms stay Spark's own
        f = e.sql("SELECT current_catalog() AS c").collect()[0]["c"]
        assert f == "spark_catalog"
        # literal spelling is data
        s = e.sql("SELECT 'current_schema' AS s").collect()[0]["s"]
        assert s == "current_schema"
    finally:
        e.sql("USE default")


# ---------- SET SESSION values and TABLESAMPLE spellings inside literals

_payload = payloads(SAMPLING)


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_set_session_value_round_trips(fz_eng, payload):
    """Any payload survives SET SESSION quoting verbatim: stored,
    listed, and reset — never parsed as statement structure."""
    r = fz_eng.sql(f"SET SESSION fuzz_key = {quote(payload)}").collect()[0]
    assert r["name"] == "fuzz_key" and r["value"] == payload
    listed = {
        row["name"]: row["value"]
        for row in fz_eng.sql("SHOW SESSION").collect()
    }
    assert listed["fuzz_key"] == payload
    assert fz_eng.sql("RESET SESSION fuzz_key").collect()[0]["reset"] is True


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_tablesample_translator_never_rewrites_literals(fz_eng, payload):
    """A string literal carrying TABLESAMPLE keywords (balanced or not)
    comes back byte-identical — the translator matches on masked text,
    so quoted bytes are invisible to it — and the statement still
    samples correctly when a REAL clause follows the literal."""
    got = fz_eng.sql(
        f"SELECT {quote(payload)} AS s FROM fz "
        f"TABLESAMPLE BERNOULLI (100) LIMIT 1"
    ).collect()[0]["s"]
    assert got == payload


def test_unbalanced_real_tablesample_still_errors(fz_eng):
    """An unbalanced UNQUOTED sampling clause is left for the SQL
    parser to refuse — the translator must not loop or 'repair' it."""
    with pytest.raises(Exception):
        fz_eng.sql("SELECT k FROM fz TABLESAMPLE BERNOULLI (100").collect()
