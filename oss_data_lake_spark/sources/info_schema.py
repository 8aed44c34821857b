"""ANSI ``information_schema`` relations served through ``Engine.sql``.

Reference parity: the reference's BI tools (Metabase / CloudBeaver against
Trino — `RUNBOOK.md:120-123`) introspect the catalog through
``information_schema`` at least as often as through SHOW statements. Trino
serves four relations per catalog (Trino 467 `information_schema`
documentation; column shapes below are Trino's):

    <catalog>.information_schema.schemata  (catalog_name, schema_name)
    <catalog>.information_schema.tables    (table_catalog, table_schema,
                                            table_name, table_type)
    <catalog>.information_schema.columns   (table_catalog, table_schema,
                                            table_name, column_name,
                                            ordinal_position,
                                            column_default, is_nullable,
                                            data_type)
    <catalog>.information_schema.views     (table_catalog, table_schema,
                                            table_name, view_definition)

Implementation is the ``t$files`` rewrite shape (`snapshots.py`): each
``[catalog.]information_schema.<relation>`` reference found OUTSIDE string
literals/comments becomes a driver-built metadata DataFrame registered as a
temp view for the statement's duration, and the reference text is rewritten
to the view name — so the relations compose with WHERE / JOIN / ORDER BY /
CTEs and with the rest of the statement surface. Rows are pure metadata
(dozens), never a data scan.

Naming model (a documented delta — Trino's catalogs are server config
entries the engine does not have): a registered snapshot table named
``a.b.c`` reads as catalog=a, schema=b (middle parts joined), table=c;
``b.c`` and bare ``c`` read under the pseudo-catalog ``snapshot`` with
schema ``b`` / ``default``. Spark session-catalog tables appear under
catalog ``spark_catalog``; persistent engine views under their own parsed
names with ``table_type='VIEW'`` and their SQL text as ``view_definition``.
The UNQUALIFIED form spans the whole federated namespace; the QUALIFIED
form ``<cat>.information_schema.*`` scopes rows to ``<cat>`` exactly like
Trino. USE-schema alias bares (`engine._schema_aliases`) are skipped — they
are resolution sugar for the same dotted table, not a second table.
Data types use Trino spellings (`dml_sql._trino_type_name`, the SHOW
COLUMNS mapping), ``is_nullable`` is ``'YES'``/``'NO'`` per the standard,
and ``column_default`` carries the snapshot table's declared DEFAULT text
(NULL when none — Trino reports NULL there too).
"""

from __future__ import annotations

import itertools
import re
from typing import TYPE_CHECKING

from oss_data_lake_spark.session import local_frame
from oss_data_lake_spark.sqltext import _masked, _sub_outside_literals

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

# monotone suffix: a statement and a view body expanded WITHIN it must
# not share temp-view names (the inner expansion drops its views after
# binding — a shared name would yank the outer statement's relation)
_SEQ = itertools.count()

_IS_REF_RE = re.compile(
    r"\b(?:([A-Za-z_]\w*)\s*\.\s*)?INFORMATION_SCHEMA\s*\.\s*"
    r"(TABLES|COLUMNS|SCHEMATA|VIEWS)\b",
    re.IGNORECASE,
)

# write-statement heads whose TARGET is an information_schema relation:
# the standard schema is reserved and read-only, and silently rewriting
# the target would create/drop a mangled temp-view-named table instead
_IS_WRITE_TARGET_RE = re.compile(
    r"^\s*(?:CREATE\s+(?:OR\s+REPLACE\s+)?TABLE(?:\s+IF\s+NOT\s+EXISTS)?"
    r"|DROP\s+TABLE(?:\s+IF\s+EXISTS)?|ALTER\s+TABLE"
    r"|INSERT\s+(?:INTO|OVERWRITE)(?:\s+TABLE)?|DELETE\s+FROM|UPDATE"
    r"|TRUNCATE(?:\s+TABLE)?|MERGE\s+INTO|COPY\s+INTO)\s+"
    r"(?:[A-Za-z_]\w*\s*\.\s*)?INFORMATION_SCHEMA\s*\.",
    re.IGNORECASE,
)

_SHAPES = {
    "schemata": "catalog_name string, schema_name string",
    "tables": (
        "table_catalog string, table_schema string, table_name string, "
        "table_type string"
    ),
    "columns": (
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position long, column_default string, "
        "is_nullable string, data_type string"
    ),
    "views": (
        "table_catalog string, table_schema string, table_name string, "
        "view_definition string"
    ),
}


def _split_name(name: str) -> tuple[str, str, str]:
    parts = name.split(".")
    if len(parts) >= 3:
        return parts[0], ".".join(parts[1:-1]), parts[-1]
    if len(parts) == 2:
        return "snapshot", parts[0], parts[1]
    return "snapshot", "default", parts[0]


def _snapshot_columns(t) -> list[tuple[str, str, bool, str | None]]:
    """(name, trino_type, nullable, default_text) per column, from the
    MANIFEST schema (no data scan; falls back to planning the read for
    legacy manifests without a recorded schema)."""
    from oss_data_lake_spark.sources.dml_sql import _trino_type_name

    schema = t.schema()
    if schema is None:
        schema = t.read().schema
    defaults = {}
    try:
        defaults = t.column_defaults()
    except Exception:
        pass

    def _default_text(d) -> str | None:
        if d is None:
            return None
        return d if isinstance(d, str) else str(d)

    return [
        (
            f.name,
            _trino_type_name(f.dataType.simpleString()),
            bool(f.nullable),
            _default_text(defaults.get(f.name)),
        )
        for f in schema.fields
    ]


def _universe(engine) -> tuple[list[tuple], list[tuple[str, str]]]:
    """All (catalog, schema, name, type, columns_fn, view_def) entries
    plus extra (catalog, schema) rows from empty declared schemas."""
    entries: list[tuple] = []
    aliases = set(getattr(engine, "_schema_aliases", {}) or {})
    for name, t in sorted(engine._snapshot_tables.items()):
        if name in aliases:
            continue  # USE-schema sugar for a dotted entry already listed
        cat, sch, tbl = _split_name(name)
        entries.append(
            (cat, sch, tbl, "BASE TABLE",
             (lambda t=t: _snapshot_columns(t)), None)
        )
    try:
        vc = engine._views()
        for vname in vc.names():
            body = vc.get(vname)
            cat, sch, tbl = _split_name(vname)

            def _view_cols(vname=vname, body=body):
                from oss_data_lake_spark.sources.dml_sql import (
                    _trino_type_name,
                )

                expanded = engine._expand_views(body, _stack=(vname,))
                try:
                    df = engine._plan_view_body(vname, body)
                    return [
                        (f.name,
                         _trino_type_name(f.dataType.simpleString()),
                         bool(f.nullable), None)
                        for f in df.schema.fields
                    ]
                finally:
                    for v in expanded:
                        engine.spark.catalog.dropTempView(v)

            entries.append((cat, sch, tbl, "VIEW", _view_cols, body))
    except Exception:
        pass
    spark = engine.spark
    try:
        for db in spark.catalog.listDatabases():
            for tb in spark.catalog.listTables(db.name):
                if tb.isTemporary:
                    continue  # session scratch (incl. our own __is views)

                def _spark_cols(db=db.name, tb=tb.name):
                    from oss_data_lake_spark.sources.dml_sql import (
                        _trino_type_name,
                    )

                    return [
                        (c.name, _trino_type_name(c.dataType),
                         bool(c.nullable), None)
                        for c in spark.catalog.listColumns(tb, db)
                    ]

                ttype = (
                    "VIEW" if (tb.tableType or "").upper() == "VIEW"
                    else "BASE TABLE"
                )
                entries.append(
                    ("spark_catalog", db.name, tb.name, ttype,
                     _spark_cols, None)
                )
    except Exception:
        pass
    extra_schemas: list[tuple[str, str]] = []
    for s in sorted(getattr(engine, "_ns_schemas", ()) or ()):
        parts = s.split(".")
        if len(parts) >= 2:
            extra_schemas.append((parts[0], ".".join(parts[1:])))
        else:
            extra_schemas.append(("snapshot", parts[0]))
    try:
        for db in engine.spark.catalog.listDatabases():
            extra_schemas.append(("spark_catalog", db.name))
    except Exception:
        pass
    return entries, extra_schemas


def build_relation(engine, relation: str, catalog: str | None) -> "DataFrame":
    """One information_schema relation as a DataFrame, optionally scoped
    to ``catalog`` (the qualified ``<cat>.information_schema.*`` form)."""
    relation = relation.lower()
    if relation not in _SHAPES:
        raise ValueError(f"unknown information_schema relation: {relation}")
    entries, extra_schemas = _universe(engine)
    if catalog is not None:
        # Trino folds unquoted identifiers to lowercase, so the qualifier
        # in `ICEBERG.information_schema.tables` must scope like `iceberg`
        catalog = catalog.lower()
        entries = [e for e in entries if e[0].lower() == catalog]
        extra_schemas = [s for s in extra_schemas if s[0].lower() == catalog]
    spark: "SparkSession" = engine.spark
    rows: list[tuple]
    if relation == "schemata":
        rows = sorted(
            {(c, s) for c, s, *_ in entries} | set(extra_schemas)
        )
    elif relation == "tables":
        rows = [(c, s, n, ty) for c, s, n, ty, _cols, _vd in entries]
    elif relation == "views":
        rows = [
            (c, s, n, vd)
            for c, s, n, ty, _cols, vd in entries
            if ty == "VIEW" and vd is not None
        ]
    else:  # columns
        rows = []
        import warnings

        from pyspark.errors import AnalysisException

        for c, s, n, _ty, cols_fn, _vd in entries:
            # per-entry error surfacing (Trino's behavior): ONE view
            # broken by a dropped base table contributes no rows but
            # must not fail the whole relation — BI introspection reads
            # information_schema.columns on every connect. Only the
            # EXPECTED failure classes are skipped (view re-planning /
            # analysis errors), and each skip is warned so a missing
            # table's absence stays diagnosable; any other error class
            # is a real engine bug and propagates (round-13 ADVICE).
            try:
                cols = cols_fn()
            except (AnalysisException, ValueError, KeyError) as ex:
                warnings.warn(
                    f"information_schema.columns: skipped {c}.{s}.{n}:"
                    f" {str(ex).splitlines()[0][:200]}"
                )
                continue
            for pos, (cn, dt, nullable, default) in enumerate(
                cols, start=1
            ):
                rows.append(
                    (c, s, n, cn, pos, default,
                     "YES" if nullable else "NO", dt)
                )
    return local_frame(spark, rows, _SHAPES[relation])


def expand_information_schema(engine, text: str) -> tuple[str, list[str]]:
    """Rewrite information_schema references in ``text`` to temp views
    (registered here; caller drops them). Matching runs on the MASKED
    text, so the spelling inside a string literal or comment is data."""
    if "information_schema" not in text.lower():
        return text, []
    if _IS_WRITE_TARGET_RE.match(_masked(text)):
        raise ValueError(
            "information_schema is reserved and read-only — it cannot be "
            "the target of DDL or DML"
        )

    created: list[str] = []
    made: dict[tuple[str | None, str], str] = {}

    def sub(m: "re.Match[str]") -> str:
        cat = m.group(1)
        rel = m.group(2).lower()
        key = (cat, rel)
        if key not in made:
            view = f"__is_{cat or 'all'}_{rel}_{next(_SEQ)}"
            build_relation(engine, rel, cat).createOrReplaceTempView(view)
            created.append(view)
            made[key] = view
        return made[key]

    # a catalog qualifier that is itself qualified (x.y.information_schema)
    # is out of scope — Trino has no such form; leave it for the parser
    def guarded(m: "re.Match[str]") -> str:
        start = m.start(1) if m.group(1) else m.start()
        if start > 0 and text[start - 1] == ".":
            return m.group(0)
        return sub(m)

    rewritten = _sub_outside_literals(_IS_REF_RE, guarded, text)
    return rewritten, created
