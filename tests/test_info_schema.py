"""ANSI ``information_schema`` through ``Engine.sql`` — the BI
introspection surface Trino serves per catalog (reference BI path:
Metabase/CloudBeaver against Trino, `RUNBOOK.md:120-123`). Shapes are
Trino 467's; scoping, WHERE/JOIN composition, and view visibility are
exercised against a mixed registry (3-part snapshot names, a bare
snapshot table, a persistent view, the Spark session catalog)."""

from __future__ import annotations

import pytest

from oss_data_lake_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE SCHEMA iceberg.yfinance")
    e.sql(
        "CREATE TABLE iceberg.yfinance.ohlcv ("
        " ticker STRING, ts TIMESTAMP, close DOUBLE) USING snapshot"
    )
    e.sql(
        "CREATE TABLE iceberg.yfinance.dividends ("
        " ticker STRING, amount DECIMAL(10,2) DEFAULT 0.00) USING snapshot"
    )
    e.sql("CREATE TABLE scratch (k BIGINT, v STRING) USING snapshot")
    e.sql("CREATE VIEW latest_close AS "
          "SELECT ticker, max(close) AS mx FROM iceberg.yfinance.ohlcv "
          "GROUP BY ticker")
    yield e
    for t in ("iceberg.yfinance.ohlcv", "iceberg.yfinance.dividends",
              "scratch"):
        e.drop_snapshot_table(t, delete_data=True)


def test_tables_shape_and_rows(eng):
    rows = eng.sql(
        "SELECT table_catalog, table_schema, table_name, table_type "
        "FROM information_schema.tables ORDER BY table_name"
    ).collect()
    got = {(r.table_catalog, r.table_schema, r.table_name, r.table_type)
           for r in rows}
    assert ("iceberg", "yfinance", "ohlcv", "BASE TABLE") in got
    assert ("iceberg", "yfinance", "dividends", "BASE TABLE") in got
    assert ("snapshot", "default", "scratch", "BASE TABLE") in got
    assert ("snapshot", "default", "latest_close", "VIEW") in got


def test_catalog_qualified_scoping(eng):
    """<cat>.information_schema.* scopes to that catalog (Trino form)."""
    rows = eng.sql(
        "SELECT table_catalog, table_name "
        "FROM iceberg.information_schema.tables"
    ).collect()
    assert {r.table_catalog for r in rows} == {"iceberg"}
    assert {r.table_name for r in rows} == {"ohlcv", "dividends"}
    # a catalog with nothing in it: empty relation, same shape, no error
    assert eng.sql(
        "SELECT * FROM nosuch.information_schema.tables"
    ).count() == 0


def test_schemata(eng):
    rows = eng.sql(
        "SELECT catalog_name, schema_name FROM information_schema.schemata"
    ).collect()
    got = {(r.catalog_name, r.schema_name) for r in rows}
    assert ("iceberg", "yfinance") in got
    assert ("snapshot", "default") in got
    assert ("spark_catalog", "default") in got
    # empty declared schemas still appear (the CREATE SCHEMA record)
    eng.sql("CREATE SCHEMA iceberg.empty_ns")
    got2 = {(r.catalog_name, r.schema_name) for r in eng.sql(
        "SELECT * FROM iceberg.information_schema.schemata").collect()}
    assert ("iceberg", "empty_ns") in got2


def test_columns_shape_types_defaults(eng):
    rows = eng.sql(
        "SELECT * FROM information_schema.columns "
        "WHERE table_name = 'dividends' ORDER BY ordinal_position"
    ).collect()
    assert [r.column_name for r in rows] == ["ticker", "amount"]
    assert rows[0].ordinal_position == 1
    assert rows[0].data_type == "varchar"        # Trino spelling
    assert rows[1].data_type == "decimal(10,2)"
    assert rows[1].column_default is not None    # declared DEFAULT text
    assert rows[0].column_default is None
    assert set(r.is_nullable for r in rows) <= {"YES", "NO"}


def test_views_relation_carries_definition(eng):
    rows = eng.sql(
        "SELECT table_name, view_definition FROM information_schema.views"
    ).collect()
    defs = {r.table_name: r.view_definition for r in rows}
    assert "latest_close" in defs
    assert "max(close)" in defs["latest_close"]
    # the view's columns resolve through its planned body
    cols = eng.sql(
        "SELECT column_name, data_type FROM information_schema.columns "
        "WHERE table_name = 'latest_close' ORDER BY ordinal_position"
    ).collect()
    assert [c.column_name for c in cols] == ["ticker", "mx"]
    assert cols[1].data_type == "double"


def test_composes_with_where_join_and_cte(eng):
    """The relations are ordinary relations: WHERE, JOIN, CTEs, and
    aggregates all compose (BI tools issue exactly this kind of text)."""
    n = eng.sql(
        "WITH t AS (SELECT * FROM information_schema.tables "
        "            WHERE table_schema = 'yfinance') "
        "SELECT t.table_name, count(*) AS ncols "
        "FROM t JOIN information_schema.columns c "
        "  ON c.table_catalog = t.table_catalog "
        " AND c.table_schema = t.table_schema "
        " AND c.table_name = t.table_name "
        "GROUP BY t.table_name ORDER BY t.table_name"
    ).collect()
    assert [(r.table_name, r.ncols) for r in n] == [
        ("dividends", 2), ("ohlcv", 3)
    ]


def test_literal_spelling_is_data(eng):
    got = eng.sql(
        "SELECT 'information_schema.tables' AS s"
    ).collect()[0]["s"]
    assert got == "information_schema.tables"


def test_use_alias_bares_not_double_counted(eng):
    """After USE iceberg.yfinance, the bare aliases the engine registers
    for unqualified resolution must not surface as extra tables."""
    eng.sql("USE iceberg.yfinance")
    try:
        rows = eng.sql(
            "SELECT table_catalog, table_schema, table_name "
            "FROM information_schema.tables "
            "WHERE table_name = 'ohlcv'"
        ).collect()
        assert len(rows) == 1
        assert (rows[0].table_catalog, rows[0].table_schema) == (
            "iceberg", "yfinance"
        )
    finally:
        eng.sql("USE default")


def test_persistent_view_over_information_schema(eng):
    """A saved query over information_schema re-plans per reference —
    new tables appear without recreating the view."""
    eng.sql("CREATE VIEW my_tables AS "
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_catalog = 'iceberg'")
    try:
        before = {r.table_name for r in
                  eng.sql("SELECT * FROM my_tables").collect()}
        assert before == {"ohlcv", "dividends"}
        eng.sql("CREATE TABLE iceberg.yfinance.extra (k BIGINT) "
                "USING snapshot")
        try:
            after = {r.table_name for r in
                     eng.sql("SELECT * FROM my_tables").collect()}
            assert after == {"ohlcv", "dividends", "extra"}
        finally:
            eng.drop_snapshot_table("iceberg.yfinance.extra",
                                    delete_data=True)
    finally:
        eng.sql("DROP VIEW my_tables")


def test_show_catalogs(eng):
    """Trino's SHOW CATALOGS — CloudBeaver's first connect statement —
    answered from the same universe information_schema.schemata serves,
    in Trino's single-column shape."""
    df = eng.sql("SHOW CATALOGS")
    assert df.columns == ["Catalog"]
    cats = {r["Catalog"] for r in df.collect()}
    assert {"iceberg", "snapshot", "spark_catalog"} <= cats
    # consistent with the schemata relation
    is_cats = {r.catalog_name for r in eng.sql(
        "SELECT DISTINCT catalog_name FROM information_schema.schemata"
    ).collect()}
    assert cats == is_cats


def test_uppercase_catalog_qualifier_folds(eng):
    """Trino folds unquoted identifiers to lowercase:
    `ICEBERG.information_schema.tables` must scope like `iceberg`
    (round-13 ADVICE fix — previously a silent empty relation)."""
    rows = eng.sql(
        "SELECT table_name FROM ICEBERG.information_schema.tables "
        "ORDER BY table_name"
    ).collect()
    assert {r.table_name for r in rows} == {"ohlcv", "dividends"}


def test_broken_view_does_not_poison_columns(eng):
    """Per-entry error surfacing (round-13 ADVICE fix): ONE view whose
    base table was dropped must not fail the whole
    information_schema.columns relation — it just contributes no rows."""
    eng.sql("CREATE TABLE doomed (k BIGINT) USING snapshot")
    eng.sql("CREATE VIEW v_doomed AS SELECT k FROM doomed")
    try:
        eng.drop_snapshot_table("doomed", delete_data=True)
        rows = eng.sql(
            "SELECT table_name, column_name "
            "FROM information_schema.columns"
        ).collect()
        names = {r.table_name for r in rows}
        assert "v_doomed" not in names          # no rows for the broken view
        assert {"ohlcv", "scratch"} <= names    # everything else intact
        # ...and the broken view still LISTS in tables (Trino behavior:
        # existence is metadata; only column planning fails)
        tabs = {r.table_name for r in eng.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()}
        assert "v_doomed" in tabs
    finally:
        eng.sql("DROP VIEW v_doomed")


def test_is_views_cleaned_up_when_expand_views_raises(eng, spark):
    """Round-13 ADVICE fix: if persistent-view expansion raises (cyclic
    view), the statement-scoped __is_* metadata temp views must NOT leak
    into the session."""
    import pytest as _pytest

    before = {t.name for t in spark.catalog.listTables()
              if t.isTemporary and t.name.startswith("__is_")}
    # a self-cycle the expander must refuse: create v as valid, then
    # repoint it at itself through the catalog's update path
    eng.sql("CREATE VIEW v_cycle AS SELECT 1 AS x")
    try:
        vc = eng._views()
        vc.create("v_cycle", "SELECT x FROM v_cycle", or_replace=True)
        with _pytest.raises(Exception, match="cycle"):
            eng.sql(
                "SELECT * FROM v_cycle JOIN information_schema.tables "
                "ON true"
            )
        after = {t.name for t in spark.catalog.listTables()
                 if t.isTemporary and t.name.startswith("__is_")}
        assert after == before, f"leaked metadata views: {after - before}"
    finally:
        eng.sql("DROP VIEW v_cycle")


# -------------------------------- a table named like the reserved schema


def test_information_schema_inside_ddl_name_is_refused_cleanly(fz_eng):
    """A table NAMED like the reserved schema cannot shadow it — the
    reference text rewrites to the metadata relation first, so the
    CREATE fails loudly rather than silently registering a shadow."""
    with pytest.raises(Exception):
        fz_eng.sql("CREATE TABLE information_schema.tables (k INT) "
                   "USING snapshot")
