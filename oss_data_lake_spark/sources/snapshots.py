"""Snapshot layer over the parquet warehouse — the minimal re-expression of
the reference's Iceberg table-format semantics (reference
etc/catalog/iceberg.properties:14-20, RUNBOOK.md:90): atomic commits,
time-travel reads, and rollback, without requiring the Iceberg runtime jar
(``connectors.preferred_table_format`` upgrades to the real thing when one
is on the classpath).

Design (scaled-down Iceberg):

- Every commit writes its data files into a FRESH immutable directory
  ``data/c{N}-{suffix}/`` — existing files are never mutated or deleted, so
  concurrent readers of any older snapshot are undisturbed (snapshot
  isolation for readers).
- A manifest ``_snapshots/v{N}.json`` lists the data directories visible in
  that snapshot (append = parent dirs + new dir; overwrite = new dir only;
  row-level DML additionally shrinks per-dir VISIBLE-file subsets).
- ``_snapshots/CURRENT`` names the live version. WHERE the manifest slot
  claim and pointer advance become atomic is pluggable
  (``sources/catalog.py``): the default local protocol uses flock +
  hard-link claims + ``os.replace``; ``CasCommitProtocol`` runs the same
  tail as conditional-PUT claims + pointer CAS for object stores. Either
  way a crash mid-commit leaves the previous snapshot intact (the
  orphaned data dir is unreferenced garbage, reclaimed by ``vacuum``).
- ``rollback(v)`` never deletes: it creates a NEW snapshot whose file list
  equals the old one — exactly Iceberg's ``rollback_to_snapshot``.
- **Schema evolution**: every manifest records the table schema AS OF that
  snapshot. Appends may add columns or widen types (int→long,
  float→double, int/long→double — Iceberg's safe promotions); reads at a
  version project every data file onto *that version's* schema, so files
  written before a column existed yield NULL for it, files written with
  narrower types are upcast, and time-travel reads reproduce the old
  schema exactly (a column added later is invisible at the old version).
  Incompatible appends (type narrowing, column type change) are rejected
  at commit time. Overwrite commits may reshape the schema freely.
- **Partition spec evolution** (Iceberg spec §Partition Evolution): each
  commit may declare its own ``partition_by`` layout; the spec applies to
  THAT commit's data directory only. Old data keeps its old layout — no
  rewrite — and a snapshot can mix directories with different specs
  because each directory is an independent Hive-partition-discovered scan
  whose columns are projected onto the snapshot schema. Filters on a
  partition column prune directories in the sub-scans that are
  partitioned by it and fall back to row-level filtering in the rest —
  exactly Iceberg's split-planning behavior across spec changes.

At 100 TB: manifests store directory-level (not file-level) entries and the
data volume per commit is written partition-parallel by Spark; the manifest
write itself is O(#commits) driver-side metadata, the same order as
Iceberg's metadata JSON. Listing-based scan planning stays on Spark's
parquet reader over the manifest's directories.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import json
import operator
import os
import re
import time
import urllib.parse
import uuid
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from oss_data_lake_spark.session import local_frame, write_parquet
from oss_data_lake_spark.sources.catalog import (
    CommitConflict,
    CommitProtocol,
    open_protocol,
)
from oss_data_lake_spark.sources.commit_edit import (
    Edit,
    ManifestBuilder,
    empty_file_set,
    file_set,
    table_fields,
)
from oss_data_lake_spark import sqlplan
from oss_data_lake_spark.sqltext import _masked, _sub_outside_literals

# Iceberg's safe type promotions (spec §Schemas: int→long, float→double,
# decimal precision widening — we support the primitive pair plus the
# int-family→double convenience Spark casts losslessly for int/long)
_WIDENINGS: set[tuple[str, str]] = {
    ("integer", "long"),
    ("float", "double"),
    ("integer", "double"),
    ("long", "double"),
    ("short", "integer"),
    ("short", "long"),
    ("byte", "short"),
    ("byte", "integer"),
    ("byte", "long"),
}


def _compatible(old: T.DataType, new: T.DataType) -> bool:
    return old == new or (old.typeName(), new.typeName()) in _WIDENINGS


def _parse_type(ddl: str) -> T.DataType:
    """Spark type-DDL string → DataType (``int``, ``string``,
    ``decimal(10,2)``, ``array<double>``, ...)."""
    return T._parse_datatype_string(ddl)


def _quote_ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_type(dt: T.DataType) -> str:
    """``dt`` as CAST target text. ``simpleString`` leaves struct field
    names bare (a name with a space or colon would not parse) and drops
    their NOT NULL; array/map element nullability has no SQL spelling."""
    if isinstance(dt, T.StructType):
        return "struct<" + ",".join(
            f"{_quote_ident(f.name)}:{_sql_type(f.dataType)}"
            + ("" if f.nullable else " NOT NULL")
            for f in dt.fields
        ) + ">"
    if isinstance(dt, T.ArrayType):
        return f"array<{_sql_type(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{_sql_type(dt.keyType)},{_sql_type(dt.valueType)}>"
    return dt.simpleString()


# ------------------------------------------------ hidden partitioning
#
# Iceberg's partition TRANSFORMS (spec §Partition Transforms): a table
# partitions by a DERIVED value — days(ts), bucket(16, k),
# truncate(4, s) — that the reader never sees and the writer never
# supplies. The derived value lives in a hidden ``_p_*`` column that
# exists only inside the data directories (Hive path segments + per-dir
# write schema); the snapshot schema excludes it, so every read path
# drops it at the projection. Planners prune on the SOURCE column's
# predicates by pushing the bounds through the transform: monotone
# transforms (time granularities, truncate) map range bounds directly,
# bucket maps equality probes through the same hash the writer used.

_TIME_FORMATS = {
    "years": "%Y",
    "months": "%Y-%m",
    "days": "%Y-%m-%d",
    "hours": "%Y-%m-%d-%H",
}
_TIME_SPARK_FORMATS = {
    "years": "yyyy",
    "months": "yyyy-MM",
    "days": "yyyy-MM-dd",
    "hours": "yyyy-MM-dd-HH",
}
_TRANSFORM_RE = re.compile(
    r"^\s*(years|months|days|hours)\s*\(\s*([A-Za-z_]\w*)\s*\)\s*$"
    r"|^\s*(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([A-Za-z_]\w*)\s*\)\s*$",
    re.IGNORECASE,
)


def parse_partition_entry(entry: str) -> tuple[str, dict | None]:
    """One ``partition_by`` entry → ``(physical_column, transform)``.
    A bare column name is identity partitioning (transform None); a
    transform call returns the deterministic hidden column name and the
    spec dict ``{"kind", "source", "param"}``."""
    m = _TRANSFORM_RE.match(entry)
    if not m:
        return entry.strip(), None
    if m.group(1):
        kind, source, param = m.group(1).lower(), m.group(2), None
        pcol = f"_p_{kind}_{source}"
    else:
        kind, source = m.group(3).lower(), m.group(5)
        param = int(m.group(4))
        if param <= 0:
            raise ValueError(f"{kind} width must be positive: {entry!r}")
        pcol = f"_p_{kind}{param}_{source}"
    return pcol, {"kind": kind, "source": source, "param": param}


_SIZE_MULT = {
    "": 1, "b": 1,
    "k": 1024, "kb": 1024, "kib": 1024,
    "m": 1024**2, "mb": 1024**2, "mib": 1024**2,
    "g": 1024**3, "gb": 1024**3, "gib": 1024**3,
    "t": 1024**4, "tb": 1024**4, "tib": 1024**4,
    "p": 1024**5, "pb": 1024**5, "pib": 1024**5,
}
_SIZE_RE = re.compile(
    r"^(-?\d+(?:\.\d+)?)\s*(" + "|".join(
        re.escape(k) for k in _SIZE_MULT if k
    ) + r")?$"
)


def _parse_size_bytes(s) -> int:
    """A Spark size conf value ('10485760', '10MB', '1.5g', '-1') →
    bytes. Suffixes are exactly the ones the multiplier table knows, so
    a regex hit can never miss the lookup."""
    m = _SIZE_RE.match(str(s).strip().lower())
    if not m:
        raise ValueError(f"unparseable size: {s!r}")
    return int(float(m.group(1)) * _SIZE_MULT[m.group(2) or ""])


# --- per-file stats sidecar spill (the manifest's metadata-scale valve) ---
# A manifest is dir-granular JSON, but ``file_stats`` carries PER-FILE
# column bounds (and base64 blooms): at millions of files that map would
# dominate the manifest — parsed, merged, and re-serialized on the driver
# at EVERY commit. Iceberg keeps file-level metadata in avro manifest
# FILES referenced from a manifest list; Delta checkpoints stats into
# parquet sidecars. We do the same: past a threshold a dir's stats spill
# to one immutable parquet sidecar under ``stats/`` and the manifest
# carries an O(1) reference ``{"__sidecar__": rel, "files": n, "rows": r,
# "cols": [...]}``. A dir's file set never changes after creation (CoW
# shrinks VISIBILITY via ``dir_files``), so the sidecar is written once
# and every later manifest copies only the tiny reference.
_STATS_SIDECAR_KEY = "__sidecar__"
_STATS_SPILL_FILES = 4096          # per-dir file count trigger
_STATS_SPILL_BYTES = 1 << 20       # or serialized size (bloom-heavy dirs)
_STATS_SPILL_PROP = "stats.spill.file-threshold"  # per-table override
_STATS_CACHE: dict[str, dict] = {}  # abs sidecar path -> parsed stats
_STATS_CACHE_CAP = 64               # sidecars are immutable (uuid names)


def _is_stats_ref(entry) -> bool:
    return isinstance(entry, dict) and _STATS_SIDECAR_KEY in entry


# A SQL view over a snapshot scan whose admitted data files total at most
# this many bytes is planned as one partition when its statement would
# shuffle (see ``sql_with_time_travel``); past it, Spark's file splits
# scan in parallel, which wins once the scan costs more than the shuffle
# one partition saves (measured crossover ~3 MB on a 4-vCPU host).
SMALL_SCAN_BYTES = 1 << 20


# Iceberg v3 restricts DEFAULTs to literals because an INITIAL default
# is re-evaluated at every scan: a time/context-dependent expression
# would give files predating the column a DIFFERENT value on each
# query. These analyzed-plan node types are constant within one query
# but not across queries, so they must be refused even though Catalyst
# marks them foldable+deterministic.
_QUERY_CONSTANT_NODES = frozenset({
    "CurrentTimestamp", "CurrentDate", "Now", "LocalTimestamp",
    "CurrentTime", "CurrentTimeZone", "CurrentDatabase",
    "CurrentCatalog", "CurrentUser", "SparkVersion",
    "MonotonicallyIncreasingID", "SparkPartitionID", "InputFileName",
    "InputFileBlockStart", "InputFileBlockLength",
})


def _default_expr_node_names(spark: "SparkSession", lit: str) -> list:
    """Node names of the ANALYZED expression tree for ``lit`` (tiny —
    defaults are scalar expressions), plus the root's foldable /
    deterministic flags: ``[(name, foldable, deterministic), ...]``
    with the root first. Returns [] when the JVM internals are
    unavailable (Connect-mode guard) — callers then skip the
    constancy check and keep the evaluate-once gate."""
    try:
        jdf = spark.range(1).select(F.expr(lit).alias("c"))._jdf
        root = jdf.queryExecution().analyzed().expressions().apply(0)
        if root.nodeName() == "Alias":
            root = root.children().apply(0)

        def walk(e):
            out = [(e.nodeName(), bool(e.foldable()), bool(e.deterministic()))]
            ch = e.children()
            for i in range(ch.size()):
                out.extend(walk(ch.apply(i)))
            return out

        return walk(root)
    except Exception:
        return []


def validate_default(spark: "SparkSession", lit: str, dtype) -> None:
    """A DEFAULT must be a CONSTANT expression the column's type can
    represent. Three gates: (1) it evaluates without error and does not
    silently null-cast (``DEFAULT 'abc'`` on an INT would write NULLs
    forever); (2) it is foldable and deterministic — ``rand()`` /
    ``uuid()`` would re-randomize on every scan of pre-existing files;
    (3) it contains no query-constant node (``current_timestamp()``,
    ``current_date()``…), which Catalyst calls deterministic but which
    changes between queries — Iceberg v3 restricts defaults to
    literals for exactly this reason."""
    try:
        raw, casted = spark.range(1).select(
            F.expr(lit).alias("r"),
            F.expr(lit).cast(dtype).alias("c"),
        ).collect()[0]
    except Exception as e:
        raise ValueError(f"invalid DEFAULT expression {lit!r}: {e}")
    if raw is not None and casted is None:
        raise ValueError(
            f"DEFAULT {lit!r} does not cast to "
            f"{dtype.simpleString()} (would silently become NULL)"
        )
    nodes = _default_expr_node_names(spark, lit)
    if nodes:
        _root_name, foldable, deterministic = nodes[0]
        if not (foldable and deterministic):
            raise ValueError(
                f"DEFAULT {lit!r} is not a constant expression "
                f"(non-deterministic / non-foldable): pre-existing rows "
                f"would read a different value on every scan"
            )
        hit = next(
            (n for n, _f, _d in nodes if n in _QUERY_CONSTANT_NODES), None
        )
        if hit is not None:
            raise ValueError(
                f"DEFAULT {lit!r} depends on query time/context "
                f"({hit}): use a literal instead — pre-existing rows "
                f"would read a different value on every scan"
            )


class _CompleteStats(dict):
    """Per-file stats resolved from a spilled sidecar. The sidecar was
    written by THIS format's writer, whose harvest records every file it
    discovers (empty column maps included) — so its key set IS the dir's
    complete file universe and planners may skip the defensive
    directory listing older inline manifests still get."""


def _rename_spec_entry(entry: str, old: str, new: str) -> str:
    """A ``partition_by`` entry with column ``old`` renamed to ``new``
    (identity entries and transform sources both follow)."""
    pcol, tr = parse_partition_entry(entry)
    if tr is None:
        return new if entry.strip() == old else entry
    if tr["source"] != old:
        return entry
    if tr["param"] is None:
        return f"{tr['kind']}({new})"
    return f"{tr['kind']}({tr['param']}, {new})"


def _transform_time_value(value, fmt: str) -> str | None:
    """A source-column bound → its time-granularity partition value
    (None = unmappable, caller must not prune)."""
    if isinstance(value, datetime.datetime):
        return value.strftime(fmt)
    if isinstance(value, datetime.date):
        return datetime.datetime(
            value.year, value.month, value.day
        ).strftime(fmt)
    if isinstance(value, str):
        txt = value.strip().replace("T", " ")
        for pat in (
            "%Y-%m-%d %H:%M:%S.%f",
            "%Y-%m-%d %H:%M:%S",
            "%Y-%m-%d %H:%M",
            "%Y-%m-%d",
        ):
            try:
                return datetime.datetime.strptime(txt, pat).strftime(fmt)
            except ValueError:
                continue
    return None


class SnapshotTable:
    """A parquet table with Iceberg-style snapshots, time travel, rollback.

    ``protocol`` selects WHERE the metadata tail becomes atomic
    (``sources/catalog.py``): default is the local-filesystem
    flock/link protocol; pass a :class:`CasCommitProtocol` over a catalog
    service / conditional-PUT object store for multi-writer safety where
    POSIX primitives don't exist — the role the reference delegates to
    Lakekeeper (reference docker-compose.yaml:21-46)."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        protocol: CommitProtocol | None = None,
    ):
        self.spark = spark
        # canonicalize: `_rel_file_sql` derives tombstone coordinates from
        # a string-length offset over `_metadata.file_path`, so a
        # non-canonical path (trailing slash, `..`, `//`) would silently
        # mismatch file coordinates at scan time
        self.path = (
            path.rstrip("/")
            if "://" in path
            else os.path.normpath(path)
        )
        self._meta = os.path.join(self.path, "_snapshots")
        self.protocol = protocol or open_protocol(self.path)

    # ------------------------------------------------------------ commits

    def commit(
        self,
        df: DataFrame,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        txn_app: str | None = None,
        txn_version: int | None = None,
        txn_force: bool = False,
        tag: str | None = None,
        props_update: dict[str, str] | None = None,
        apply_sort_order: bool = True,
    ) -> int:
        """Write ``df`` as a new snapshot; returns the new version number.

        ``tag`` overrides the manifest's recorded operation string
        (semantics stay ``mode``'s); ``tag='compact'`` marks a commit as
        dataChange=false — same rows, different files — which the change
        feed and ``skipChangeCommits`` streaming then pass over.

        mode='overwrite' → snapshot sees only this commit's files;
        mode='append'    → snapshot sees parent's files + this commit's.

        ``partition_by`` sets THIS commit's physical layout (Hive-style
        dirs). The spec may differ from earlier commits' — partition spec
        evolution: new data adopts the new layout, old directories are
        left untouched and keep pruning under their own spec.

        ``stats_for`` names columns whose per-FILE min/max/null-count
        bounds are harvested from the freshly written parquet FOOTERS
        (distributed, metadata-only — ``sources/skipping.py``) and stored
        in the manifest, enabling Iceberg-style file skipping via
        ``read_between``. Stats cover THIS commit's files; appended-to
        parents keep whatever stats their own commits recorded (a dir
        without stats is simply never skipped).

        ``bloom_for`` additionally builds a per-file bloom filter over the
        named columns (1 KiB each) for POINT-LOOKUP pruning via
        ``read_eq`` — the lever for equality probes on columns the layout
        does not cluster, where every file's [min, max] straddles the
        probe. Costs one column-projected read per file at commit time.

        ``txn_app`` + ``txn_version`` make the commit IDEMPOTENT (the
        Delta ``txnAppId``/``txnVersion`` writer-identity protocol): if
        any snapshot in the version log already records this app with an
        equal-or-higher transaction version, the commit is a no-op that
        returns that snapshot's version. The identity is stored IN the
        manifest, published by the same atomic pointer swap as the data —
        so a re-delivered streaming micro-batch (foreachBatch is
        at-least-once after a crash) can never append twice.
        ``txn_force=True`` skips the idempotence check and REWRITES the
        app's ledger entry to this version — the REPAIR path for flows
        that deliberately rewind state (e.g. an incremental MV rebuilding
        after its table was rolled back); never for normal writers.

        ``props_update`` merges table properties INTO THE SAME manifest
        publish as the data — data + metadata land atomically or not at
        all (the substrate ``copy_into``'s ingest ledger rides on).

        When the table DECLARES a sort order (``set_sort_order`` /
        ``ALTER TABLE ... WRITE ORDERED BY``), the commit range-partitions
        + locally sorts on it before writing — Iceberg's
        write.distribution-mode=range — so every file covers a narrow
        slice of the sort columns and footer stats (auto-harvested for
        them) prune tightly. ``apply_sort_order=False`` opts out for
        callers that arranged their own layout (``commit_clustered`` /
        ``commit_zordered``).
        """
        if mode not in ("overwrite", "append"):
            raise ValueError(f"unsupported commit mode: {mode}")
        if (txn_app is None) != (txn_version is None):
            raise ValueError("txn_app and txn_version must be set together")
        if txn_force and txn_app is None:
            raise ValueError("txn_force requires a txn identity")

        def applied_txn() -> int | None:
            if txn_app is None or txn_force:
                return None
            wm = self._txn_watermarks()
            entry = wm.get(txn_app)
            if entry is not None and entry["version"] >= txn_version:
                return entry["snapshot"]
            return None

        already = applied_txn()
        if already is not None:
            return already  # idempotent no-op
        # GENERATED ALWAYS AS columns: compute when absent, validate
        # when present — BEFORE the partition/constraint/sort machinery
        # so every later stage (including CHECK constraints over the
        # generated value) sees the complete frame
        df = self._apply_generated(df, self.current_version())
        # hidden partitioning: transform entries derive a hidden _p_*
        # column that exists only in the data directory — the snapshot
        # schema (below) stays the ORIGINAL df's, so readers never see it
        parsed_spec = [parse_partition_entry(c) for c in (partition_by or [])]
        phys_cols = [p for p, _ in parsed_spec]
        transforms: dict[str, dict] = {}
        write_df = df
        dtypes = dict(df.dtypes)
        for pcol, tr in parsed_spec:
            if tr is None:
                if pcol not in df.columns:
                    raise ValueError(
                        f"partition column '{pcol}' not in dataframe"
                    )
                continue
            if tr["source"] not in df.columns:
                raise ValueError(
                    f"partition transform source '{tr['source']}' "
                    f"not in dataframe"
                )
            if tr["kind"] in _TIME_SPARK_FORMATS and dtypes[
                tr["source"]
            ] not in ("timestamp", "timestamp_ntz", "date"):
                # Iceberg's transform typing rule: a time granularity
                # needs a timestamp/date source. On e.g. a string
                # column, unparseable values would hash to the null
                # partition and IS NOT NULL / range pruning on the
                # source column could silently skip their files.
                raise ValueError(
                    f"{tr['kind']}() needs a timestamp/date source "
                    f"column; '{tr['source']}' is {dtypes[tr['source']]}"
                )
            tr = {**tr, "vtype": dtypes[tr["source"]]}
            transforms[pcol] = tr
            write_df = write_df.withColumn(pcol, self._transform_expr(tr))
        parent = self.current_version()
        if mode == "append" and parent:
            # fast-fail before paying for the write; re-checked against the
            # actual parent at claim time (optimistic concurrency below)
            self._check_evolution(self.schema(parent), df.schema)
        bloom_for = bloom_for or []
        # CHECK constraints gate every commit kind BEFORE the data write
        # (one filter+limit pass; a constraint added concurrently with an
        # in-flight commit gates from the NEXT commit on — it already
        # validated the table as of its own publish)
        table_constraints = self.constraints(parent) if parent else {}
        if table_constraints:
            self._enforce(table_constraints, df, context="this commit")
        # declared sort order (WRITE ORDERED BY): one range shuffle at
        # write time buys every future read_between its file skipping.
        # Columns the incoming frame lacks are skipped (stale metadata
        # must not brick writes); stats auto-harvest for the sort columns
        # so the clustered layout is actually prunable.
        if apply_sort_order and parent:
            sort_cols = [
                c
                for c in (self.current_sort_order(parent) or [])
                if c in write_df.columns
            ]
            if sort_cols:
                keys = phys_cols + [
                    c for c in sort_cols if c not in phys_cols
                ]
                write_df = write_df.repartitionByRange(
                    *[F.col(c) for c in keys]
                ).sortWithinPartitions(*keys)
                stats_for = list(
                    dict.fromkeys(
                        (stats_for or [])
                        # identity partition values live in the path,
                        # not the footers — nothing to harvest there
                        + [c for c in sort_cols if c not in phys_cols]
                    )
                )
        data_dir = f"data/c{(parent or 0) + 1}-{uuid.uuid4().hex[:8]}"
        self._write_data_dir(write_df, data_dir, phys_cols or None)
        own_stats = self._harvest_stats(data_dir, stats_for, bloom_for)

        # Concurrency (what Iceberg delegates to its catalog — the
        # reference runs Lakekeeper for exactly this): the expensive data
        # write happened ONCE above, outside any serialization; the cheap
        # metadata tail — txn-idempotence check, parent read, manifest
        # build, version claim, pointer advance — runs through the
        # table's COMMIT PROTOCOL (``sources/catalog.py``) as one
        # ``Edit``. Append semantics compose across writers: each
        # (re)build reads the actual parent and prepends its dirs.
        names = [f.name for f in df.schema.fields]
        schema = df.schema.jsonValue()
        # the WRITE schema includes the hidden transform columns so their
        # path-segment values parse under the declared type; the snapshot
        # schema (original df) excludes them
        write_schema = write_df.schema.jsonValue()
        append = mode == "append"

        def check(parent, pm, read_manifest) -> None:
            if append and pm:
                self._check_evolution(self._schema_of(pm), df.schema)

        def files(pm: dict | None) -> dict:
            # stable column identity (field ids): names the parent knows
            # keep their ids across appends AND overwrites; new names get
            # fresh ids — the substrate for RENAME COLUMN
            ids, _ = self._next_field_ids(pm, names)
            own = {
                "data_dirs": [data_dir],
                "partition_specs": {data_dir: list(phys_cols)},
                "partition_transforms": (
                    {data_dir: transforms} if transforms else {}
                ),
                "dir_schemas": {data_dir: write_schema},
                "dir_field_ids": {data_dir: ids},
                "file_stats": {data_dir: own_stats} if own_stats else {},
            }
            if not (append and pm):
                return {**empty_file_set(), **own}  # overwrite starts clean
            # append: the parent's dirs, then this commit's; visibility
            # and delete state carry forward unchanged
            return {
                k: pm.get(k, []) + x if isinstance(x, list)
                else {**pm.get(k, {}), **x}
                for k, x in own.items()
            }

        def fields(pm: dict | None) -> dict:
            ids, last = self._next_field_ids(pm, names)
            p = pm or {}
            return {
                # appends adopt the (possibly evolved) write schema
                "schema": schema,
                # append keeps the parent's full name→id map (its dirs
                # stay resolvable even for columns this append lacks)
                "field_ids": {**(p.get("field_ids") or {}), **ids}
                if append else ids,
                "last_field_id": last,
                "properties": {
                    **p.get("properties", {}), **(props_update or {}),
                },
                # an overwrite reshaping a column away drops its default
                "column_defaults": {
                    n: e
                    for n, e in (p.get("column_defaults") or {}).items()
                    if n in names
                } or None,
            }

        return self._commit(Edit(
            tag or mode, files, fields, check,
            txn=None if txn_app is None else (txn_app, txn_version, txn_force),
        ))

    @staticmethod
    def _transform_expr(tr: dict) -> F.Column:
        """The Catalyst expression computing one hidden partition value
        (pure codegen — no UDF): time granularities format to
        lexicographically-ordered strings, bucket is a null-preserving
        xxhash64 mod (Spark's ``xxhash64`` hashes NULL to the seed, so
        the null branch is explicit — a NULL source must land in the
        null partition, as Iceberg specifies), truncate is a string
        prefix or a floor-width for integers."""
        src = F.col(tr["source"])
        kind = tr["kind"]
        if kind in _TIME_SPARK_FORMATS:
            return F.date_format(src, _TIME_SPARK_FORMATS[kind])
        if kind == "bucket":
            return F.when(src.isNull(), F.lit(None).cast("int")).otherwise(
                F.pmod(F.xxhash64(src), F.lit(tr["param"])).cast("int")
            )
        if tr["vtype"] == "string":
            return F.substring(src, 1, tr["param"])
        return (F.floor(src / tr["param"]) * tr["param"]).cast(tr["vtype"])

    def _write_data_dir(
        self,
        df: DataFrame,
        data_dir: str,
        partition_by: list[str] | None = None,
    ) -> None:
        """Write one immutable data directory. ``session.write_parquet``
        picks the writer: a small write to a local table (an INSERT batch,
        a DML rewrite, the compaction of a small table) is collected once
        and written by pyarrow on the driver, since a Spark write
        command's fixed cost is most of such a write's time; a large write
        or an object-store table keeps Spark's write command. Both write
        the same file layout, with INT64 timestamps (Spark's default INT96
        carries no column statistics). The files stay invisible until the
        manifest commit that names the directory, so which writer wrote
        them changes no reader."""
        write_parquet(
            self.spark, df, os.path.join(self.path, data_dir), partition_by
        )

    def _harvest_stats(
        self,
        data_dir: str,
        stats_for: list[str] | None,
        bloom_for: list[str] | None,
    ) -> dict:
        if not (stats_for or bloom_for):
            return {}
        from oss_data_lake_spark.sources.skipping import collect_file_stats

        return self._spill_stats(
            collect_file_stats(
                self.spark,
                os.path.join(self.path, data_dir),
                stats_for or [],
                bloom_for=bloom_for or [],
            )
        )

    def _spill_stats(self, own_stats: dict) -> dict:
        """Past the spill threshold, write a dir's per-file stats to one
        immutable parquet sidecar under ``stats/`` and return the O(1)
        manifest reference; below it, return the stats inline. The
        reference keeps the aggregates cheap paths need without a read:
        file count (scan sizing), known row total (read-amp ratio), and
        the stat-bearing column names (``stats_columns``)."""
        if not own_stats or _is_stats_ref(own_stats):
            return own_stats
        props = self.properties(self.current_version())
        if _STATS_SPILL_PROP in props:
            # explicit override: the file-count threshold alone decides
            # (an operator pinning a huge value MEANS inline)
            if len(own_stats) < int(props[_STATS_SPILL_PROP]):
                return own_stats
        elif (
            len(own_stats) < _STATS_SPILL_FILES
            and len(json.dumps(own_stats)) < _STATS_SPILL_BYTES
        ):
            return own_stats
        import pyarrow as pa
        import pyarrow.parquet as pq

        files, cols, payloads = [], [], []
        for f in sorted(own_stats):
            per_col = own_stats[f]
            if not per_col:
                files.append(f)
                cols.append(None)
                payloads.append(None)
            for c in sorted(per_col):
                files.append(f)
                cols.append(c)
                payloads.append(json.dumps(per_col[c]))
        rows_known = 0
        for per_col in own_stats.values():
            for c, entry in per_col.items():
                if not c.startswith("bloom:") and "rows" in entry:
                    rows_known += entry["rows"]
                    break
        rel = f"stats/st-{uuid.uuid4().hex[:12]}.parquet"
        os.makedirs(os.path.join(self.path, "stats"), exist_ok=True)
        tmp = os.path.join(self.path, rel + f".tmp-{uuid.uuid4().hex[:6]}")
        pq.write_table(
            pa.table(
                {
                    "file": pa.array(files, pa.string()),
                    "col": pa.array(cols, pa.string()),
                    "payload": pa.array(payloads, pa.string()),
                }
            ),
            tmp,
        )
        # atomic appear: a crash leaves an unreferenced tmp for vacuum,
        # never a half-written sidecar behind a live reference
        os.replace(tmp, os.path.join(self.path, rel))
        return {
            _STATS_SIDECAR_KEY: rel,
            "files": len(own_stats),
            "rows": rows_known,
            "cols": sorted(
                {
                    c
                    for per_col in own_stats.values()
                    for c in per_col
                    if not c.startswith("bloom:")
                }
            ),
        }

    def dir_stats(self, manifest: dict, d: str) -> dict | None:
        """``manifest["file_stats"][d]`` with a spilled sidecar reference
        read through (cached — sidecars are immutable once written)."""
        return self._resolve_stats((manifest.get("file_stats") or {}).get(d))

    def _resolve_stats(self, entry):
        if not _is_stats_ref(entry):
            return entry
        p = entry[_STATS_SIDECAR_KEY]
        absp = (
            p
            if os.path.isabs(p) or "://" in p
            else os.path.join(self.path, p)
        )
        cached = _STATS_CACHE.get(absp)
        if cached is not None:
            return cached
        import pyarrow.parquet as pq

        t = pq.read_table(absp)
        out: _CompleteStats = _CompleteStats()
        for f, c, payload in zip(
            t.column("file").to_pylist(),
            t.column("col").to_pylist(),
            t.column("payload").to_pylist(),
        ):
            per_col = out.setdefault(f, {})
            if c is not None:
                per_col[c] = json.loads(payload)
        if len(_STATS_CACHE) >= _STATS_CACHE_CAP:
            _STATS_CACHE.pop(next(iter(_STATS_CACHE)))
        _STATS_CACHE[absp] = out
        return out

    def _txn_watermarks(self, version: int | None = None) -> dict:
        """Per-app ``{app: {"version": v, "snapshot": k}}`` high-water map
        from the manifest at ``version`` (default: current head)."""
        cur = version if version is not None else self.current_version()
        return self._builder().watermarks_of(
            None if cur is None else self._manifest(cur)
        )

    def _builder(self) -> ManifestBuilder:
        return ManifestBuilder(self.protocol)

    def _commit(self, edit: Edit) -> int:
        """Publish ``edit`` through this table's commit protocol — the
        one way every commit kind lands (``sources/commit_edit.py``)."""
        return self._builder().commit(edit)

    def txn_watermark(self, app: str) -> int | None:
        """The highest transaction version this table has applied for
        writer identity ``app`` (None if never) — the public face of the
        idempotence ledger, used e.g. by incremental MVs to make their
        refresh watermark atomic with their data commit."""
        entry = self._txn_watermarks().get(app)
        return None if entry is None else entry["version"]

    # -------------------------------------------------- CHECK constraints
    #
    # Delta's table CHECK constraints (ALTER TABLE ... ADD CONSTRAINT ...
    # CHECK (expr)): table-level predicates every NEW row must satisfy,
    # enforced at write time — the quality gate a training-data ingest
    # pipeline wants at the storage boundary. SQL semantics: a row
    # violates only when the expression evaluates to FALSE (NULL
    # satisfies). Stored in the manifest and carried through every commit
    # kind; enforcement costs one filter+limit(1) pass over each commit's
    # (or rewrite's) data.

    def constraints(self, version: int | None = None) -> dict[str, str]:
        v = version if version is not None else self.current_version()
        if v is None:
            return {}
        return dict(self._manifest(v).get("constraints", {}))

    def add_constraint(self, name: str, expr: str) -> int:
        """Register CHECK constraint ``name`` and VALIDATE the existing
        data against it (like Delta, adding fails if current rows
        violate). Publishes a metadata-only snapshot (same data, new
        constraint set); returns the new version."""
        cur = self.current_version()
        if cur is None:
            raise ValueError(f"no snapshots at {self.path}")
        if name in self.constraints(cur):
            raise ValueError(f"constraint '{name}' already exists")
        self._enforce({name: expr}, self.read(cur), context="existing rows")
        # rows committed concurrently between the validation above and the
        # commit claim are gated only by the OLD constraint set — if the
        # claimed parent drifted, re-validate against it inside the
        # protocol so the published constraint can never postdate data
        # that violates it (ADVICE r6)
        return self._commit_constraints(
            lambda cons: {**cons, name: expr},
            f"add_constraint_{name}",
            revalidate=(cur, {name: expr}),
        )

    def drop_constraint(self, name: str) -> int:
        cur = self.current_version()
        if cur is None or name not in self.constraints(cur):
            raise ValueError(f"no such constraint: '{name}'")
        return self._commit_constraints(
            lambda cons: {k: v for k, v in cons.items() if k != name},
            f"drop_constraint_{name}",
        )

    # --------------------------------------------------- table properties
    #
    # Delta-style TBLPROPERTIES: a small string map in the manifest,
    # carried through every commit kind. The engine interprets
    # ``delete.mode = merge-on-read`` (SQL DELETEs route through
    # ``delete_where_mor``); everything else is user metadata.

    def properties(self, version: int | None = None) -> dict[str, str]:
        v = version if version is not None else self.current_version()
        if v is None:
            return {}
        return dict(self._manifest(v).get("properties", {}))

    def set_properties(self, props: dict[str, str]) -> int:
        return self._commit_meta(
            "properties", lambda cur: {**cur, **props}, "set_properties"
        )

    def unset_properties(self, names: list[str]) -> int:
        return self._commit_meta(
            "properties",
            lambda cur: {k: v for k, v in cur.items() if k not in set(names)},
            "unset_properties",
        )

    def _commit_meta(
        self, key: str, update_fn, tag: str, check=None
    ) -> int:
        """Metadata-only commit setting one table-level field to
        ``update_fn(the parent's value, {} when unset)``, which builds a
        new value (the parent's may be the shared cached manifest's);
        ``check`` is the edit's conflict rule."""
        return self._commit(Edit(
            tag,
            fields=lambda pm: {key: update_fn(pm.get(key) or {})},
            check=check,
            on_table=True,
        ))

    # ------------------------------------------------- schema-change DDL
    #
    # Iceberg's metadata-only schema evolution (ALTER TABLE ... ADD
    # COLUMNS / DROP COLUMN): no data file is touched — the snapshot
    # schema changes and reads project every file onto it (added columns
    # NULL-fill for pre-evolution files; dropped columns become invisible
    # at the new version while time travel still shows them). RENAME
    # works through the field-ID indirection above (``rename_column``) —
    # name-based projection alone would silently lose the renamed
    # column's data in old files.

    def add_columns(
        self, cols: dict[str, str], defaults: dict[str, str] | None = None
    ) -> int:
        """Append nullable columns (name → Spark type DDL string) to the
        table schema; metadata-only commit. ``defaults`` maps a subset of
        the new names to constant SQL expressions — Iceberg v3's
        INITIAL DEFAULT: files written before the column existed read
        the default (not NULL), and it doubles as the column's starting
        WRITE default (what INSERTs omitting the column fill). The
        initial default is fixed at add time; ``set_column_default``
        changes only the write default afterward."""
        defaults = defaults or {}
        unknown = set(defaults) - set(cols)
        if unknown:
            raise ValueError(
                f"DEFAULT for columns not being added: {sorted(unknown)}"
            )
        for cname, lit in defaults.items():
            self._validate_default(lit, _parse_type(cols[cname]))

        def update(schema: T.StructType) -> T.StructType:
            existing = {f.name for f in schema.fields}
            dup = existing & set(cols)
            if dup:
                raise ValueError(f"columns already exist: {sorted(dup)}")
            fields = list(schema.fields)
            for cname, ddl in cols.items():
                fields.append(
                    T.StructField(cname, _parse_type(ddl), nullable=True)
                )
            return T.StructType(fields)

        def new_defaults(cur: dict | None) -> dict:
            return {
                **(cur or {}),
                **{c: {"initial": x, "write": x} for c, x in defaults.items()},
            }

        return self._commit_schema(
            update,
            f"add_columns_{'_'.join(cols)}",
            new_defaults if defaults else None,
        )

    def drop_columns(self, names: list[str]) -> int:
        """Remove columns from the table schema; metadata-only commit
        (data files keep the bytes — time travel still reads them).
        Dropping a GENERATED column drops its rule; dropping one of a
        generated column's INPUTS refuses while the rule exists."""
        dropping = set(names)
        for g, inputs in self.generated_input_columns().items():
            if g in dropping:
                continue  # the rule leaves with its column
            bad = sorted(inputs & dropping)
            if bad:
                raise ValueError(
                    f"cannot drop {bad}: GENERATED column '{g}' derives "
                    f"from them — drop '{g}' first"
                )

        def update(schema: T.StructType) -> T.StructType:
            existing = {f.name for f in schema.fields}
            missing = set(names) - existing
            if missing:
                raise ValueError(f"no such columns: {sorted(missing)}")
            kept = [f for f in schema.fields if f.name not in set(names)]
            if not kept:
                raise ValueError("cannot drop every column")
            return T.StructType(kept)

        def new_defaults(cur: dict | None) -> dict | None:
            # a re-added same-name column must not inherit the dropped
            # column's default (mirrors the fresh-field-id rule)
            if not cur:
                return cur
            return {n: e for n, e in cur.items() if n not in dropping} or None

        return self._commit_schema(
            update, f"drop_columns_{'_'.join(names)}", new_defaults
        )

    def widen_column(self, name: str, type_ddl: str) -> int:
        """Metadata-only TYPE WIDENING (Iceberg's safe promotions —
        ``ALTER TABLE ... ALTER COLUMN c TYPE t``): the snapshot schema
        adopts the wider type; no data file is touched — reads already
        upcast every dir onto the snapshot schema. Narrowing or
        cross-family changes refuse (they would corrupt silently)."""
        new_t = _parse_type(type_ddl)

        def update(schema: T.StructType) -> T.StructType:
            fields, found = [], False
            for f in schema.fields:
                if f.name == name:
                    found = True
                    if not _compatible(f.dataType, new_t):
                        raise ValueError(
                            f"cannot alter column '{name}' from "
                            f"{f.dataType.simpleString()} to "
                            f"{new_t.simpleString()}: not a safe widening"
                        )
                    fields.append(T.StructField(name, new_t, f.nullable))
                else:
                    fields.append(f)
            if not found:
                raise ValueError(f"no such column: '{name}'")
            return T.StructType(fields)

        return self._commit_schema(update, "widen_column")

    # ------------------------------------------------- column DEFAULTs
    #
    # Two defaults per column, Iceberg-v3 style. INITIAL: what files
    # written before the column existed read (fixed at ADD COLUMN time —
    # appends must carry every schema column, so "dir lacks the column"
    # is exactly "dir predates it"; a post-drop re-add gets a fresh
    # field id, so pre-drop data stays invisible either way). WRITE:
    # what an INSERT omitting the column fills — freely changeable, no
    # effect on committed rows.

    def column_defaults(self, version: int | None = None) -> dict:
        """``{name: {"initial": sql|None, "write": sql|None}}``."""
        v = version if version is not None else self.current_version()
        if v is None:
            return {}
        return dict(self._manifest(v).get("column_defaults") or {})

    def _validate_default(self, lit: str, dtype: T.DataType) -> None:
        validate_default(self.spark, lit, dtype)

    def set_column_default(self, name: str, lit: str) -> int:
        """Set the WRITE default for an existing column (``ALTER TABLE
        ... ALTER COLUMN c SET DEFAULT e``). Future INSERTs omitting the
        column fill it; committed rows and the initial default are
        untouched."""
        schema = self.schema()
        if schema is None:
            raise ValueError("SET DEFAULT needs a schema-carrying snapshot")
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: '{name}'")
        self._validate_default(lit, field.dataType)

        def update(cur: dict) -> dict:
            entry = dict(cur.get(name) or {})
            entry["write"] = lit
            return {**cur, name: entry}

        return self._commit_meta(
            "column_defaults", update, f"set_default_{name}"
        )

    def drop_column_default(self, name: str) -> int:
        """Clear the WRITE default (``... DROP DEFAULT``); the initial
        default — baked into already-committed history — stays."""
        schema = self.schema()
        if schema is None or all(f.name != name for f in schema.fields):
            raise ValueError(f"no such column: '{name}'")

        def update(cur: dict) -> dict:
            entry = dict(cur.get(name) or {})
            entry.pop("write", None)
            out = dict(cur)
            if entry:
                out[name] = entry
            else:
                out.pop(name, None)
            return out

        return self._commit_meta(
            "column_defaults", update, f"drop_default_{name}"
        )

    def write_defaults(self, version: int | None = None) -> dict[str, str]:
        """``{name: sql}`` for columns with a WRITE default — what the
        INSERT path fills for omitted columns."""
        return {
            n: e["write"]
            for n, e in self.column_defaults(version).items()
            if e.get("write") is not None
        }

    # -------------------------------------------- GENERATED columns
    #
    # Delta's GENERATED ALWAYS AS (expr): a column whose value is a
    # function of the row's OTHER columns. Stored as a third field of
    # the ``column_defaults`` entry — the map that already rides every
    # commit kind, follows RENAME, leaves with DROP COLUMN, and travels
    # with clone/publish — so no new manifest key to carry. Contract:
    #   - commit() (INSERT INTO / COPY INTO / API appends/overwrites):
    #     an ABSENT generated column is computed; a PRESENT one is
    #     VALIDATED row-wise (null-safe equality, one batched pass with
    #     the CHECK constraints' cost shape) — an inconsistent write
    #     refuses, never silently lands,
    #   - UPDATE recomputes fired rows after assignments (Delta's
    #     recompute), subquery conditions included; assigning a
    #     generated column directly refuses,
    #   - merge-on-read UPDATE and MERGE refuse assignments to a
    #     generated column OR its input columns (conservative; the error
    #     names the copy-on-write escape),
    #   - RENAME of the column or any input refuses (the stored
    #     expression is text); DROP COLUMN of an input refuses while
    #     the rule exists; dropping the generated column drops the
    #     rule with it.

    def generated_columns(self, version: int | None = None) -> dict[str, str]:
        """``{name: sql_expr}`` for GENERATED ALWAYS AS columns."""
        return self._generated_of(self.column_defaults(version))

    @staticmethod
    def _generated_of(column_defaults: dict | None) -> dict[str, str]:
        return {
            n: e["generated"]
            for n, e in (column_defaults or {}).items()
            if e.get("generated") is not None
        }

    def generated_input_columns(
        self, version: int | None = None
    ) -> dict[str, set[str]]:
        """``{generated_name: {input column names}}`` — schema columns
        the stored expression references (masked word scan)."""
        schema = self.schema(version)
        return self._generated_inputs(
            self.generated_columns(version),
            {f.name for f in schema.fields} if schema else set(),
        )

    @staticmethod
    def _generated_inputs(
        gens: dict[str, str], names: set[str]
    ) -> dict[str, set[str]]:
        out: dict[str, set[str]] = {}
        for g, expr in gens.items():
            words = set(re.findall(r"[A-Za-z_]\w*", _masked(expr)))
            out[g] = (words & names) - {g}
        return out

    def set_generated_column(self, name: str, expr: str) -> int:
        """Attach GENERATED ALWAYS AS ``expr`` to column ``name``
        (normally done by column-list CREATE TABLE). Validates that the
        expression plans over the table schema, is deterministic, and
        references only OTHER columns."""
        schema = self.schema()
        if schema is None:
            raise ValueError(
                "GENERATED column needs a schema-carrying snapshot"
            )
        field = next((f for f in schema.fields if f.name == name), None)
        if field is None:
            raise ValueError(f"no such column: '{name}'")
        empty = local_frame(self.spark, [], schema)
        try:
            probe = empty.select(F.expr(expr).cast(field.dataType))
            probe.schema
        except Exception as e:
            raise ValueError(
                f"GENERATED expression for '{name}' does not plan over "
                f"the table schema: {e}"
            )
        try:
            root = (
                probe._jdf.queryExecution().analyzed().expressions().apply(0)
            )
            deterministic = bool(root.deterministic())
        except Exception:
            deterministic = True  # JVM internals unavailable: skip check
        if not deterministic:
            raise ValueError(
                f"GENERATED expression for '{name}' is non-deterministic: "
                f"recomputation would change committed values"
            )
        words = set(re.findall(r"[A-Za-z_]\w*", _masked(expr)))
        if name in words:
            raise ValueError(
                f"GENERATED column '{name}' cannot reference itself"
            )

        def update(cur: dict) -> dict:
            entry = dict(cur.get(name) or {})
            entry["generated"] = expr
            return {**cur, name: entry}

        return self._commit_meta(
            "column_defaults", update, f"set_generated_{name}"
        )

    def _apply_generated(self, df: DataFrame, parent: int | None) -> DataFrame:
        """The commit()-side contract: compute absent generated columns,
        batch-validate present ones (one pass, CHECK-constraint shape)."""
        if not parent:
            return df
        gens = self.generated_columns(parent)
        if not gens:
            return df
        schema = self.schema(parent)
        ftypes = {f.name: f.dataType for f in schema.fields} if schema else {}
        checks: dict[str, str] = {}
        all_inputs = self.generated_input_columns(parent)
        for name, expr in gens.items():
            inputs = all_inputs.get(name, set())
            missing = inputs - set(df.columns)
            if missing:
                raise ValueError(
                    f"GENERATED column '{name}' needs input column(s) "
                    f"{sorted(missing)} which the write is missing"
                )
            ty = ftypes.get(name)
            if name not in df.columns:
                df = df.withColumn(
                    name, F.expr(expr).cast(ty) if ty else F.expr(expr)
                )
            else:
                rhs = f"CAST(({expr}) AS {ty.simpleString()})" if ty else expr
                checks[f"generated({name})"] = f"{name} <=> ({rhs})"
        if checks:
            self._enforce(checks, df, context="this commit")
        return df

    def _initial_defaults(self, manifest: dict) -> dict[str, str]:
        return {
            n: e["initial"]
            for n, e in (manifest.get("column_defaults") or {}).items()
            if e.get("initial") is not None
        }

    # ------------------------------------------------------ snapshot tags
    #
    # Iceberg refs (tags): a NAMED pointer to a snapshot version, stored
    # in table properties (``tag.<name>`` → version) so it rides every
    # commit and publishes atomically. ``FOR VERSION AS OF '<tag>'``
    # time-travels by name; ``expire_snapshots`` keeps tagged versions
    # alive regardless of keep_last — exactly Iceberg's tag retention.

    _TAG_NAME_RE = re.compile(r"[A-Za-z_][\w.-]*")

    def create_tag(self, name: str, version: int | None = None) -> int:
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError(f"no snapshots to tag at {self.path}")
        if not self._TAG_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid tag name: {name!r}")
        self._manifest(v)  # must exist (raises otherwise)
        if f"tag.{name}" in self.properties():
            raise ValueError(f"tag {name!r} already exists")
        return self.set_properties({f"tag.{name}": str(v)})

    def drop_tag(self, name: str) -> int:
        if f"tag.{name}" not in self.properties():
            raise ValueError(f"unknown tag {name!r}")
        return self.unset_properties([f"tag.{name}"])

    def tags(self) -> dict[str, int]:
        return {
            k[len("tag."):]: int(x)
            for k, x in self.properties().items()
            if k.startswith("tag.")
        }

    def resolve_ref(self, name: str) -> int:
        """Tag name → version number (the ``AS OF '<tag>'`` resolver)."""
        raw = self.properties().get(f"tag.{name}")
        if raw is None:
            raise ValueError(
                f"unknown tag {name!r} (tags: {sorted(self.tags())}, "
                f"branches: {sorted(self.branches())})"
            )
        return int(raw)

    # ------------------------------------------------------------ branches
    #
    # Iceberg refs (branches): an independently-writable line of commits
    # diverging from a snapshot. Implemented as a MANAGED shallow clone
    # under the table's own root (``_branches/<name>``) — creation is
    # zero-copy and O(1); any DML/SQL runs against the branch handle;
    # ``fast_forward`` completes the loop by publishing the branch back
    # (the WAP pattern with a name). Existence is the branch directory's
    # snapshot log (crash-safe: no property/dir two-step to desync), and
    # the source table's ``vacuum``/``expire_snapshots`` treat branch-
    # referenced files as LIVE, so retention on main can never corrupt
    # an open branch.

    _BRANCHES_DIR = "_branches"

    def create_branch(
        self, name: str, version: int | None = None
    ) -> "SnapshotTable":
        """Branch ``name`` off snapshot ``version`` (default: head).
        Zero-copy; refuses on outstanding merge-on-read debt like any
        shallow clone (``compact()`` first)."""
        if not self._TAG_NAME_RE.fullmatch(name):
            raise ValueError(f"invalid branch name: {name!r}")
        dest = os.path.join(self.path, self._BRANCHES_DIR, name)
        if SnapshotTable(self.spark, dest).current_version() is not None:
            raise ValueError(f"branch {name!r} already exists")
        return self.shallow_clone_to(dest, version=version)

    def branch(self, name: str) -> "SnapshotTable":
        """Handle to an existing branch — a full ``SnapshotTable``:
        read/time-travel/DML/merge/compact all work against it."""
        bt = SnapshotTable(
            self.spark, os.path.join(self.path, self._BRANCHES_DIR, name)
        )
        if bt.current_version() is None:
            raise ValueError(
                f"unknown branch {name!r} (branches: "
                f"{sorted(self.branches())})"
            )
        return bt

    def branches(self) -> dict[str, dict]:
        """``{name: {"head": branch head version, "from_version": the
        source snapshot it branched from}}``."""
        out: dict[str, dict] = {}
        for name, bt in self._branch_tables():
            try:
                src = bt._manifest(1).get("clone_source") or {}
            except Exception:
                # the branch expired its own v1 (clone manifest): still
                # a live branch, just without a recorded fork point
                src = {}
            out[name] = {
                "head": bt.current_version(),
                "from_version": src.get("version"),
            }
        return out

    def drop_branch(self, name: str) -> None:
        import shutil

        root = os.path.join(self.path, self._BRANCHES_DIR, name)
        if SnapshotTable(self.spark, root).current_version() is None:
            raise ValueError(
                f"unknown branch {name!r} (branches: "
                f"{sorted(self.branches())})"
            )
        shutil.rmtree(root)

    def fast_forward(
        self,
        name: str,
        require_source_unchanged: bool = True,
        drop: bool = True,
        txn_record: str | None = None,
    ) -> int:
        """Land branch ``name``'s accumulated changes on this table as
        ONE atomic commit (Iceberg's fast_forward procedure; the
        publish/rebase machinery underneath, so
        ``require_source_unchanged=False`` rebases non-overlapping
        concurrent main-line commits). Drops the branch on success by
        default — pass ``drop=False`` to keep developing on it.
        ``txn_record`` stamps the landed manifest with a multi-table
        transaction id so crash recovery can tell an already-applied
        member from a pending one (see ``Engine.recover_transactions``).
        The publish lands through THIS handle's commit protocol — a
        table attached via a REST catalog fast-forwards through that
        catalog, never through a default local tail."""
        v = self.branch(name).publish(
            require_source_unchanged=require_source_unchanged,
            txn_record=txn_record,
            source_protocol=self.protocol,
        )
        if drop:
            self.drop_branch(name)
        return v

    def _branch_tables(self) -> list[tuple[str, "SnapshotTable"]]:
        root = os.path.join(self.path, self._BRANCHES_DIR)
        out: list[tuple[str, SnapshotTable]] = []
        if os.path.isdir(root):
            for name in sorted(os.listdir(root)):
                bt = SnapshotTable(self.spark, os.path.join(root, name))
                if bt.current_version() is not None:
                    out.append((name, bt))
        return out

    def _all_branch_tables(self) -> list["SnapshotTable"]:
        """Every branch table under this root, RECURSIVELY: a branch of
        a branch flattens its references to the ORIGINAL root (clone
        semantics), so this table's retention must see nested branches'
        refs too, even when the middle branch expired its own."""
        out: list[SnapshotTable] = []
        stack: list[SnapshotTable] = [self]
        while stack:
            t = stack.pop()
            for _name, bt in t._branch_tables():
                out.append(bt)
                stack.append(bt)
        return out

    def _commit_schema(self, update_fn, tag: str, defaults=None) -> int:
        """Metadata-only schema change: ``update_fn`` maps the parent's
        schema to the new one; ``defaults`` (optional) maps the parent's
        column defaults to the new ones."""
        def fields(pm: dict) -> dict:
            s = pm.get("schema")
            if s is None:
                raise ValueError("schema change needs a schema-carrying snapshot")
            new_schema = update_fn(T.StructType.fromJson(s))
            out = {"schema": new_schema.jsonValue()}
            if defaults is not None:
                out["column_defaults"] = defaults(pm.get("column_defaults"))
            # field-id bookkeeping: dropped names leave the map (their
            # ids stay burned — a re-added same-name column gets a FRESH
            # id, so pre-drop data does not resurface); added names get
            # fresh ids past the high-water
            if pm.get("field_ids") is not None:
                out["field_ids"], out["last_field_id"] = self._next_field_ids(
                    pm, [f.name for f in new_schema.fields]
                )
            return out

        return self._commit(Edit(tag, fields=fields, on_table=True))

    def _commit_constraints(
        self, update_fn, tag: str, revalidate: tuple | None = None
    ) -> int:
        """Set the CHECK constraints to ``update_fn(parent's)``. With
        ``revalidate = (version, constraints)``, a parent other than the
        validated ``version`` is validated against ``constraints`` first."""
        def check(parent, pm, read_manifest) -> None:
            if revalidate is not None and parent != revalidate[0]:
                self._enforce(
                    revalidate[1],
                    self.read(parent),
                    context="rows committed concurrently with ADD CONSTRAINT",
                )

        return self._commit_meta("constraints", update_fn, tag, check)

    def _enforce(
        self, constraints: dict[str, str], df: DataFrame, context: str
    ) -> None:
        """One pass: raise on the first row violating any constraint
        (expr IS FALSE; NULL satisfies, per SQL CHECK semantics)."""
        for cname, expr in constraints.items():
            bad = df.filter(
                F.coalesce(F.expr(expr), F.lit(True)) == F.lit(False)
            ).limit(1)
            if bad.count() > 0:
                sample = bad.collect()[0].asDict()
                raise ValueError(
                    f"CHECK constraint '{cname}' ({expr}) violated by "
                    f"{context}: {sample}"
                )

    def commit_clustered(
        self,
        df: DataFrame,
        cluster_by: str,
        n_files: int,
        mode: str = "overwrite",
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        tag: str | None = None,
    ) -> int:
        """Commit with a CLUSTERED layout: range-partition + sort on
        ``cluster_by`` so each of the ``n_files`` output files covers a
        narrow, near-disjoint slice of the column — Iceberg's sort-order
        metadata, the precondition for effective file skipping (random
        placement gives every file the full range; nothing ever skips).
        One shuffle at write time buys every future ``read_between`` its
        file-level pruning. Stats default to the cluster column."""
        clustered = df.repartitionByRange(
            n_files, F.col(cluster_by)
        ).sortWithinPartitions(cluster_by)
        return self.commit(
            clustered,
            mode=mode,
            stats_for=stats_for or [cluster_by],
            bloom_for=bloom_for,
            tag=tag,
            apply_sort_order=False,
        )

    def commit_zordered(
        self,
        df: DataFrame,
        zorder_by: list[str],
        n_files: int,
        mode: str = "overwrite",
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        bits: int = 8,
        tag: str | None = None,
    ) -> int:
        """Commit with a Z-ORDERED layout (Delta's ``OPTIMIZE ZORDER BY``,
        Iceberg's multi-column sort order): quantile-bucketize each
        ``zorder_by`` column, bit-interleave the bucket ids, range-
        partition + sort on the interleaved value — every file then covers
        a bounded slice of EVERY listed column, so ``read_between`` prunes
        on any of them. The tradeoff vs ``commit_clustered``: with d
        dimensions each file spans ~(1/n_files)^(1/d) of each column's
        range instead of 1/n_files of one column's. Stats default to the
        z-order columns."""
        from oss_data_lake_spark.sources.skipping import zvalue_column

        z = zvalue_column(df, zorder_by, bits=bits)
        ordered = (
            df.withColumn("__z", z)
            .repartitionByRange(n_files, F.col("__z"))
            .sortWithinPartitions("__z")
            .drop("__z")
        )
        return self.commit(
            ordered,
            mode=mode,
            stats_for=stats_for or list(zorder_by),
            bloom_for=bloom_for,
            tag=tag,
            apply_sort_order=False,
        )

    def _check_evolution(self, old: T.StructType, new: T.StructType) -> None:
        """Append-mode schema contract: existing columns keep (or widen)
        their types; columns may be added; dropping a column in an append
        is rejected (drop = overwrite's job — an append must not make
        parent data unreachable through the current schema)."""
        new_fields = {f.name: f for f in new.fields}
        for f in old.fields:
            nf = new_fields.get(f.name)
            if nf is None:
                raise ValueError(
                    f"append drops column '{f.name}'; use mode='overwrite'"
                )
            if not _compatible(f.dataType, nf.dataType):
                raise ValueError(
                    f"append changes '{f.name}' {f.dataType.simpleString()}"
                    f" -> {nf.dataType.simpleString()} (not a safe widening)"
                )

    def cherry_pick(self, version: int) -> int:
        """Re-apply commit ``version``'s delta onto the CURRENT head as a
        new commit — Iceberg's ``cherrypick_snapshot``. The canonical
        use: after ``rollback``, re-land one of the dropped commits
        without replaying its write (zero data copy — the commit's dirs
        are still on disk until vacuum).

        Only PURE-APPEND commits cherry-pick (Iceberg's rule): the step
        must add data dirs and change nothing else — no visibility
        shrink, no tombstones/equality deletes, no schema change. The
        added dirs must not already be visible at head, and their
        write-time field ids must all still exist in the head schema
        (a column dropped since would make the old data unlabelable)."""
        m = self._manifest(version)
        pv = m.get("parent")
        try:
            p = self._manifest(pv) if pv else {"data_dirs": []}
        except Exception as e:
            raise ValueError(
                f"cherry_pick: v{version}'s parent manifest v{pv} is "
                f"expired ({e}); the commit's delta cannot be verified"
            ) from e
        p_dirs = set(p.get("data_dirs", []))
        added = [d for d in m["data_dirs"] if d not in p_dirs]
        removed = [d for d in p.get("data_dirs", []) if d not in m["data_dirs"]]
        pure_append = (
            added
            and not removed
            and m.get("dir_files", {}) == p.get("dir_files", {})
            and m.get("delete_dirs", []) == p.get("delete_dirs", [])
            and m.get("eq_deletes", []) == p.get("eq_deletes", [])
            and m.get("schema") == p.get("schema")
        )
        if not pure_append:
            raise ValueError(
                f"cherry_pick: v{version} is not a pure-append commit "
                f"(mode={m.get('mode')!r}); only appends re-apply — "
                "use rollback/RESTORE for state-shaped history surgery"
            )
        for d in added:
            if "://" in d:
                continue  # object-store ref: existence checked at scan
            root = d if os.path.isabs(d) else os.path.join(self.path, d)
            if not os.path.isdir(root):
                raise ValueError(
                    f"cherry_pick: v{version}'s dir {d!r} was vacuumed; "
                    "the data is gone"
                )

        def check(parent, head: dict, read_manifest) -> None:
            already = [d for d in added if d in head["data_dirs"]]
            if already:
                raise ValueError(
                    f"cherry_pick: dirs already visible at head: {already}"
                )
            # duplication guard: if the PICKED dirs were ever consumed
            # by a rewrite in head's lineage (CoW DML, compaction,
            # overwrite), their rows live on in the rewrite's output —
            # re-adding the dirs would silently duplicate them. A
            # ROLLBACK drop is the safe case (the rows left the table;
            # that's what cherry_pick exists to undo). Walk head's
            # ancestor chain and classify the commit that dropped each
            # picked dir — Iceberg refuses the same way when the picked
            # snapshot's ancestry diverged.
            chain = [head]
            chain_complete = True
            while chain[-1].get("parent"):
                try:
                    chain.append(read_manifest(chain[-1]["parent"]))
                except Exception:
                    chain_complete = False  # expired ancestry
                    break
            head_dirs = set(head["data_dirs"])

            def _rows_live(d: str, depth: int = 0) -> tuple[bool, dict | None]:
                """Are dir ``d``'s ROWS reachable at head? Directly (dir
                visible), or transitively: EVERY rewrite that ever
                consumed it may have copied its rows forward, so all
                drop transitions are checked — a rollback/cherry-pick
                drop moves dirs, never rows, and contributes nothing."""
                if d in head_dirs:
                    return True, None
                if depth > 64:
                    return True, None  # pathological chain: be safe
                for child, par in zip(chain, chain[1:]):
                    if d in par["data_dirs"] and d not in child["data_dirs"]:
                        mode = str(child.get("mode", ""))
                        if mode.startswith(("rollback_to_", "cherry_pick_")):
                            continue  # dir moved, rows didn't
                        par_dirs = set(par["data_dirs"])
                        for out in child["data_dirs"]:
                            if out not in par_dirs:
                                live, _ = _rows_live(out, depth + 1)
                                if live:
                                    return True, child
                return False, None

            for d in added:
                live, via = _rows_live(d)
                if live and via is not None:
                    raise ValueError(
                        f"cherry_pick: dir {d!r} was consumed by a "
                        f"'{via.get('mode')}' rewrite at "
                        f"v{via.get('version')} whose output is still "
                        "visible — re-adding the dir would duplicate "
                        "its rows; replay through MERGE instead"
                    )
                if not live and not chain_complete:
                    # fail CLOSED: an expired ancestor may hide the
                    # rewrite that consumed this dir
                    raise ValueError(
                        f"cherry_pick: head's ancestry is partially "
                        f"expired and dir {d!r}'s fate cannot be "
                        "verified; replay through MERGE instead"
                    )
            head_ids = set((head.get("field_ids") or {}).values())
            for d in added:
                used = set((m.get("dir_field_ids", {}).get(d) or {}).values())
                if used and not used <= head_ids:
                    raise ValueError(
                        f"cherry_pick: dir {d!r} uses field ids the head "
                        f"schema no longer carries ({sorted(used - head_ids)})"
                    )

        def files(head: dict) -> dict:
            out = {"data_dirs": head["data_dirs"] + added}
            for key in (
                "partition_specs",
                "partition_transforms",
                "dir_schemas",
                "dir_field_ids",
                "file_stats",
            ):
                src = m.get(key, {})
                picked = {d: src[d] for d in added if d in src}
                if picked:
                    out[key] = {**head.get(key, {}), **picked}
            return out

        return self._commit(Edit(
            f"cherry_pick_{version}", files, check=check, on_table=True
        ))

    def rollback(self, version: int) -> int:
        """New snapshot exposing exactly the file set of ``version``.
        Serialized by the same commit protocol as ``commit``."""
        old = self._manifest(version)
        # the rolled-to file set, with the schema state that labels it
        # (schema, field ids, column DEFAULTs: a column added after the
        # rolled-to version leaves with its default) and the table stats
        # describing it. Everything else follows the HEAD: the id
        # high-water (ids burned after the rolled-to version stay
        # burned), the txn ledger (rolling back data must not roll back
        # applied-batch memory), and the operator decisions — constraints,
        # properties, declared layout.
        return self._commit(Edit(
            f"rollback_to_{version}",
            files=file_set(old),
            fields={
                k: old.get(k)
                for k in ("schema", "column_defaults", "field_ids", "table_stats")
            },
        ))

    # --------------------------------------------- zero-copy shallow clone
    #
    # Delta's CREATE TABLE ... SHALLOW CLONE / Iceberg snapshot-ref
    # tables: a NEW table whose first snapshot references the SOURCE
    # table's data files by absolute path — no data is copied, the clone
    # costs one manifest write regardless of table size (the
    # 100-TB-dev-branch primitive: clone prod, run experimental DML on
    # the clone, drop it). Divergence is natural: the clone's own
    # commits write under its root; copy-on-write DML rewrites only
    # touched files into the clone (untouched data keeps pointing at the
    # source); ``compact()`` localizes everything. Same caveat as Delta:
    # vacuum/expire on the SOURCE does not know about clones — a source
    # vacuum can orphan a clone's external references, so clones are
    # working copies, not backups. The clone's own ``vacuum`` never
    # touches external (source-rooted) files.

    def shallow_clone_to(
        self, dest_path: str, version: int | None = None
    ) -> "SnapshotTable":
        """Clone this table's snapshot ``version`` (default: current) to
        a new table at ``dest_path`` without copying data. Refuses when
        the snapshot carries merge-on-read debt (position/equality delete
        coordinates are source-root-relative and would not survive the
        root change) — ``compact()`` the source first; likewise the
        clone itself is copy-on-write-only until compacted local."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError(f"no snapshots to clone at {self.path}")
        m = self._manifest(v)
        if m.get("delete_dirs") or m.get("eq_deletes"):
            raise ValueError(
                "shallow clone of a snapshot with outstanding "
                "merge-on-read deletes is unsupported (tombstone "
                "coordinates are source-relative); compact() first"
            )

        def _abs(d: str) -> str:
            if os.path.isabs(d) or "://" in d:
                return d  # clone of a clone: already external
            return os.path.join(self.path, d)

        def _abs_stats(mapping: dict) -> dict:
            # spilled sidecar references are source-root-relative: the
            # clone keeps them as external absolute refs, exactly like
            # its data dirs (and with the same vacuum-lifetime coupling)
            out = {}
            for k, val in mapping.items():
                if _is_stats_ref(val):
                    val = {**val, _STATS_SIDECAR_KEY: _abs(val[_STATS_SIDECAR_KEY])}
                out[_abs(k)] = val
            return out

        clone = SnapshotTable(self.spark, dest_path)
        if clone.current_version() is not None:
            raise ValueError(f"clone destination {dest_path} already exists")

        self._carry_ledger_sidecars(self.properties(v), clone.path)
        clone._commit(Edit(
            "shallow_clone",
            files={
                **empty_file_set(),
                "data_dirs": [_abs(d) for d in m["data_dirs"]],
                **{
                    k: {_abs(d): x for d, x in m.get(k, {}).items()}
                    for k in (
                        "partition_specs",
                        "partition_transforms",
                        "dir_schemas",
                        "dir_files",
                        "dir_field_ids",
                    )
                },
                "file_stats": _abs_stats(m.get("file_stats", {})),
            },
            # the source snapshot's table state; tags name SOURCE version
            # numbers — meaningless (or wrong) against the clone's own
            # history, so they stay behind. The clone is a NEW table: its
            # txn ledger starts empty, so source micro-batch identities
            # cannot suppress clone commits.
            fields={
                **table_fields(m),
                "properties": {
                    k: val
                    for k, val in m.get("properties", {}).items()
                    if not k.startswith("tag.")
                },
            },
            on_table=False,
            stamp={"clone_source": {"path": self.path, "version": v}},
        ))
        return clone

    @classmethod
    def convert_parquet(
        cls,
        spark: SparkSession,
        src_dir: str,
        dest_root: str,
        partition_by: list[str] | None = None,
        stats_for: list[str] | None = None,
    ) -> "SnapshotTable":
        """Adopt an existing plain-parquet directory as snapshot v1 —
        Delta's ``CONVERT TO DELTA`` / Iceberg's migrate procedure,
        expressed zero-copy: the new table's first manifest REFERENCES
        ``src_dir`` absolutely (the shallow-clone mechanism over a
        foreign dir), so conversion is O(1) in data size and the source
        files are never touched. All external-reference rules apply
        unchanged: CoW DML diverges into the new root, merge-on-read
        refuses until ``compact()`` localizes, vacuum never crosses
        into the foreign dir.

        ``partition_by`` names the Hive-layout partition columns of a
        ``col=value`` directory tree; the adopted schema (partition
        value types included) is Spark's inferred read schema — pin it
        by converting, checking ``schema()``, and widening if needed.

        ``stats_for`` harvests per-file footer bounds for the named
        columns during the conversion (one parallel metadata pass, no
        data read) so the adopted table file-skips from v1."""
        src = (
            src_dir.rstrip("/")
            if "://" in src_dir
            else os.path.normpath(os.path.abspath(src_dir))
        )
        df = spark.read.parquet(src)
        schema = df.schema
        missing = [
            c for c in (partition_by or []) if c not in schema.fieldNames()
        ]
        if missing:
            raise ValueError(
                f"convert: partition columns {missing} not discovered "
                f"in {src} (expected Hive col=value path segments)"
            )
        table = cls(spark, dest_root)
        if table.current_version() is not None:
            raise ValueError(f"convert destination {dest_root} already exists")
        fids, last = cls._next_field_ids(None, schema.fieldNames())
        own_stats: dict = {}
        if stats_for:
            from oss_data_lake_spark.sources.skipping import (
                collect_file_stats,
            )

            pcols = set(partition_by or [])
            own_stats = table._spill_stats(
                collect_file_stats(
                    spark, src, [c for c in stats_for if c not in pcols]
                )
            )

        table._commit(Edit(
            "convert",
            files={
                "data_dirs": [src],
                "partition_specs": {src: list(partition_by or [])},
                "dir_schemas": {src: schema.jsonValue()},
                "dir_field_ids": {src: fids},
                "file_stats": {src: own_stats} if own_stats else {},
            },
            fields={
                "schema": schema.jsonValue(),
                "field_ids": fids,
                "last_field_id": last,
            },
            on_table=False,
        ))
        return table

    def publish(
        self,
        require_source_unchanged: bool = True,
        dry_run: bool = False,
        txn_record: str | None = None,
        source_protocol: "CommitProtocol | None" = None,
        prepare: bool = False,
    ) -> "int | tuple[int | None, dict]":
        """Complete the WRITE-AUDIT-PUBLISH loop for a shallow clone:
        push THIS clone's head state back to its source table as ONE
        atomic commit (Iceberg's WAP pattern — stage on a branch, audit,
        fast-forward publish; here the clone is the branch).

        Mechanics: still-external dirs (untouched source data) re-become
        source-relative references — zero copy; clone-LOCAL dirs (the
        audited new/rewritten data, including any localized MoR
        tombstones) are copied into the source root under their own
        names, so tombstone coordinates survive verbatim. The copy
        happens OUTSIDE the commit protocol (like every data write); a
        lost publish race leaves only unreferenced dirs for the
        source's vacuum.

        ``require_source_unchanged`` (default): refuse with a
        CommitConflict if the source advanced past the cloned version.
        ``require_source_unchanged=False`` REBASES instead: when the
        source's commits since the clone touched a DISJOINT set of base
        dirs from the clone's audited changes (file sets, visibility,
        tombstone/equality targets all compared), the publish
        re-parents the clone's diff onto the source head — both lands
        land; overlapping changes (or a source-side schema change)
        still refuse with a CommitConflict. Iceberg's cherry-pick of
        non-conflicting commits, at manifest granularity. The source's
        OWN tags survive the publish; the clone's audited properties
        and constraints are adopted.

        ``dry_run`` VALIDATES publishability without committing or
        copying: the pure build closure runs once against the current
        source head (conflict detection included — the rebase overlap
        analysis is read-only) and its manifest is discarded. The
        multi-table transaction commit uses this as its all-or-nothing
        phase-1 check. ``txn_record`` stamps the published manifest
        with a transaction id for crash-recovery idempotence.

        ``prepare`` runs the data/sidecar copies and the build ONCE
        against the current source head, then returns ``(parent,
        manifest)`` WITHOUT committing — the server-side multi-table
        commit path: the caller bundles every member's pair into one
        atomic catalog request (``POST /v1/transactions/commit``) whose
        requirements pin each member to its prepared parent. The copies
        are unreferenced until a manifest lands, so a lost requirement
        race just re-prepares (the copy reuse check makes that
        idempotent)."""
        import shutil

        v = self.current_version()
        if v is None:
            raise ValueError(f"nothing to publish at {self.path}")
        srcinfo = self._manifest(1).get("clone_source")
        if not srcinfo:
            raise ValueError(
                "publish() pushes a SHALLOW CLONE back to its source; "
                f"{self.path} is not a clone"
            )
        src_root = srcinfo["path"]
        head = self._manifest(v)
        moved: dict[str, str] = {}
        # fast-fail BEFORE the data copy below (a refused publish must
        # not strew dirs under the source root — a later RETRY with
        # rebase would see its own leftovers as collisions); the commit
        # build re-checks against the claimed parent, so a race that
        # slips past this pre-check still refuses atomically
        if require_source_unchanged:
            src_head = SnapshotTable(
                self.spark, src_root, protocol=source_protocol
            ).current_version()
            if src_head is None:
                raise ValueError(
                    f"publish: source table at {src_root} has no "
                    "snapshots (moved or deleted); re-clone and replay"
                )
            if src_head != srcinfo["version"]:
                raise CommitConflict(
                    f"source advanced to v{src_head} since the clone was "
                    f"taken at v{srcinfo['version']}; re-clone and "
                    f"replay the changes, or publish("
                    f"require_source_unchanged=False) to rebase "
                    f"non-overlapping changes"
                )

        def _same_tree(a: str, b: str) -> bool:
            """Identical file listing (names + sizes) — the cheap
            idempotence check for a re-copy of OUR OWN earlier publish
            attempt (commit-protocol dirs are immutable once written)."""
            la = sorted(
                (os.path.relpath(os.path.join(dp, f), a),
                 os.path.getsize(os.path.join(dp, f)))
                for dp, _dn, fs in os.walk(a) for f in fs
            )
            lb = sorted(
                (os.path.relpath(os.path.join(dp, f), b),
                 os.path.getsize(os.path.join(dp, f)))
                for dp, _dn, fs in os.walk(b) for f in fs
            )
            return la == lb

        def localize(d: str) -> str:
            if d in moved:
                return moved[d]
            if os.path.isabs(d) or "://" in d:
                if not (d + "/").startswith(src_root + "/"):
                    # a clone-of-clone flattens its refs to the ORIGINAL
                    # root; publishing to the MIDDLE clone keeps them as
                    # external refs — the destination is itself a clone
                    # holding refs into that same root, so no new
                    # cross-root dependency is created
                    moved[d] = d
                    return d
                rel = os.path.relpath(d, src_root)
            else:
                # clone-local data: copy UNDER THE SAME NAME so
                # position-tombstone file coordinates stay valid
                dst = os.path.join(src_root, d)
                if os.path.exists(dst):
                    if not _same_tree(os.path.join(self.path, d), dst):
                        raise ValueError(
                            f"publish collision: {d!r} already exists "
                            f"under the source root"
                        )
                    # our own earlier refused/crashed attempt: reuse
                elif not dry_run:
                    shutil.copytree(os.path.join(self.path, d), dst)
                rel = d
            moved[d] = rel
            return rel

        data_dirs = [localize(d) for d in head["data_dirs"]]
        delete_dirs = [localize(d) for d in head.get("delete_dirs", [])]
        eq_deletes = [
            {
                **e,
                "dir": localize(e["dir"]),
                "applies_dirs": [
                    localize(x) for x in e.get("applies_dirs", [])
                ],
            }
            for e in head.get("eq_deletes", [])
        ]

        def remap(mapping: dict) -> dict:
            return {moved.get(k, k): s for k, s in mapping.items()}

        def _localize_stats_ref(val):
            """A spilled-stats sidecar reference, re-rooted for the
            published manifest: absolute refs into the source become
            relative again, clone-local sidecars copy once under their
            own name (uuid-named, so an existing destination can only be
            our own crashed attempt's copy), and refs into a third root
            (clone-of-clone) stay external — mirroring ``localize``."""
            if not _is_stats_ref(val):
                return val
            p = val[_STATS_SIDECAR_KEY]
            if os.path.isabs(p) or "://" in p:
                if (p + "/").startswith(src_root + "/"):
                    return {
                        **val,
                        _STATS_SIDECAR_KEY: os.path.relpath(p, src_root),
                    }
                return val
            dst = os.path.join(src_root, p)
            if not os.path.exists(dst) and not dry_run:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                shutil.copy2(os.path.join(self.path, p), dst)
            return val

        pub_stats = {
            moved.get(k, k): _localize_stats_ref(s)
            for k, s in head.get("file_stats", {}).items()
        }

        # ``source_protocol``: the caller's handle protocol (fast_forward
        # passes it) — a REST-attached table's publish must land through
        # its catalog service, not a default local tail
        source = SnapshotTable(self.spark, src_root, protocol=source_protocol)

        def _owner_dirs(root: str, dirs: list[str]) -> set[str]:
            """The data dirs a set of delete-vector dirs tombstones —
            a vectorized single-column read, metadata-scale."""
            import pyarrow.parquet as pq

            owners: set[str] = set()
            for dd in dirs:
                t = pq.read_table(
                    os.path.join(root, dd), columns=["file"]
                )
                for f in t.column("file").unique().to_pylist():
                    parts = f.split("/")
                    owners.add("/".join(parts[:2]) if len(parts) > 2 else f)
            return owners

        # the clone's audited table state travels with the publish:
        # schema, field ids, constraints, column DEFAULTs, declared layout
        # and table stats (rebase refuses on source-side schema
        # divergence, so there is no source evolution to merge); the txn
        # ledger stays the source's. Properties: the clone's minus ITS
        # tags (clone-version refs), while the SOURCE's tags survive.
        clone_props = {
            k: x for k, x in head.get("properties", {}).items()
            if not k.startswith("tag.")
        }

        @functools.cache
        def base() -> dict:
            """The source snapshot the clone was taken at."""
            return source._manifest(srcinfo["version"])

        def advanced(pm: dict | None) -> bool:
            return (pm["version"] if pm else 0) != srcinfo["version"]

        def check(parent, pm, read_manifest) -> None:
            if require_source_unchanged and advanced(pm):
                raise CommitConflict(
                    f"source advanced to v{parent} since the clone was "
                    f"taken at v{srcinfo['version']}; re-clone and "
                    f"replay the changes, or publish("
                    f"require_source_unchanged=False) to rebase "
                    f"non-overlapping changes"
                )

        def files(pm: dict | None) -> dict:
            if not advanced(pm):
                return {
                    **empty_file_set(),
                    **{
                        k: remap(head.get(k, {}))
                        for k in (
                            "partition_specs",
                            "partition_transforms",
                            "dir_schemas",
                            "dir_files",
                            "dir_field_ids",
                        )
                    },
                    "data_dirs": data_dirs,
                    "delete_dirs": delete_dirs,
                    "eq_deletes": eq_deletes,
                    "file_stats": pub_stats,
                }
            # ---- rebase: re-parent the clone's diff onto the new head
            head_src = pm
            if json.dumps(head_src.get("schema"), sort_keys=True) != (
                json.dumps(base().get("schema"), sort_keys=True)
            ) or head_src.get("field_ids") != base().get("field_ids"):
                raise CommitConflict(
                    "publish rebase: source schema evolved since the "
                    "clone — re-clone and replay"
                )
            base_dirs = list(base()["data_dirs"])
            head_dirs = list(head_src["data_dirs"])
            clone_dirs = list(data_dirs)
            base_set, head_set = set(base_dirs), set(head_dirs)
            clone_set = set(clone_dirs)
            base_df = base().get("dir_files", {})
            clone_df = remap(head.get("dir_files", {}))
            src_df = head_src.get("dir_files", {})
            clone_removed = [d for d in base_dirs if d not in clone_set]
            clone_vis = {
                d for d in base_dirs
                if d in clone_set and clone_df.get(d) != base_df.get(d)
            }
            src_removed = [d for d in base_dirs if d not in head_set]
            src_vis = {
                d for d in base_dirs
                if d in head_set and src_df.get(d) != base_df.get(d)
            }
            # HARD touches conflict at dir granularity: removals,
            # tombstone targets, equality applies (their coordinates
            # are not mergeable). Visibility shrinks are file-granular
            # — two pruned CoW DMLs on DIFFERENT files of the same dir
            # rebase by intersecting their survivor sets below.
            clone_hard = (
                set(clone_removed)
                | (_owner_dirs(self.path, head.get("delete_dirs", []))
                   & base_set)
                | {
                    d
                    for e in eq_deletes
                    for d in e.get("applies_dirs", [])
                    if d in base_set
                }
            )
            src_hard = (
                set(src_removed)
                | (_owner_dirs(src_root, head_src.get("delete_dirs", []))
                   & base_set)
                | {
                    d
                    for e in head_src.get("eq_deletes", [])
                    for d in e.get("applies_dirs", [])
                    if d in base_set
                }
            )
            overlap = sorted(
                (clone_hard & (src_hard | src_vis))
                | (src_hard & clone_vis)
            )
            if overlap:
                raise CommitConflict(
                    f"publish rebase: the source and the clone both "
                    f"changed {overlap} since v{srcinfo['version']} — "
                    f"re-clone and replay"
                )
            # file-level visibility merge for dirs BOTH sides shrank:
            # each side's removed-file set (relative to the base's view)
            # must be disjoint; the merged view removes both
            vis_merge: dict[str, list[str]] = {}
            for d in sorted(clone_vis & src_vis):
                bvis = base_df.get(d)
                if bvis is None:
                    root_d = os.path.join(src_root, d)
                    bvis = [
                        os.path.relpath(os.path.join(dp, f), root_d)
                        for dp, _dn, fs in os.walk(root_d)
                        for f in fs
                        if f.endswith(".parquet") and not f.startswith("_")
                    ]
                u = set(bvis)
                cv, sv = clone_df.get(d), src_df.get(d)
                c_rm = u - (u if cv is None else set(cv))
                s_rm = u - (u if sv is None else set(sv))
                clash = sorted(c_rm & s_rm)
                if clash:
                    raise CommitConflict(
                        f"publish rebase: the source and the clone both "
                        f"rewrote files of '{d}' ({clash[:3]}...) since "
                        f"v{srcinfo['version']} — re-clone and replay"
                    )
                vis_merge[d] = sorted(u - c_rm - s_rm)
            clone_removed_set = set(clone_removed)
            final_dirs = [
                d for d in head_dirs if d not in clone_removed_set
            ] + [
                d for d in clone_dirs
                if d not in base_set and d not in head_set
            ]

            def merged(key: str) -> dict:
                return {
                    **dict(head_src.get(key, {})),
                    **remap(head.get(key, {})),
                }

            return {
                "data_dirs": final_dirs,
                "partition_specs": merged("partition_specs"),
                "partition_transforms": merged("partition_transforms"),
                "dir_schemas": merged("dir_schemas"),
                # visibility: the source head's view, overridden by the
                # clone for the dirs only the CLONE touched (plus its
                # new dirs), and by the file-level merge where BOTH
                # sides shrank disjoint file sets
                "dir_files": {
                    **dict(src_df),
                    **{
                        d: f for d, f in clone_df.items()
                        if d in clone_vis or d not in base_set
                    },
                    **vis_merge,
                },
                "delete_dirs": list(
                    dict.fromkeys(
                        list(head_src.get("delete_dirs", []))
                        + list(delete_dirs)
                    )
                ),
                # deduped by key-file dir: base-inherited entries arrive
                # from BOTH sides (the clone carries its base's state)
                "eq_deletes": list(
                    {
                        e["dir"]: e
                        for e in (
                            list(head_src.get("eq_deletes", []))
                            + list(eq_deletes)
                        )
                    }.values()
                ),
                "dir_field_ids": merged("dir_field_ids"),
                "file_stats": {
                    **dict(head_src.get("file_stats", {})),
                    **pub_stats,
                },
            }

        def properties(pm: dict | None) -> dict:
            parent_props = (pm or {}).get("properties", {})
            tags = {
                k: x for k, x in parent_props.items() if k.startswith("tag.")
            }
            if not advanced(pm):
                return {**clone_props, **tags}
            # rebase, a three-way merge: the source HEAD's values win (it
            # may have advanced its COPY INTO ledger, tags, knobs since the
            # clone) except where the CLONE changed a value relative to its
            # base — the audited change being published
            base_props = base().get("properties", {}) or {}
            merged_props = {
                k: x for k, x in parent_props.items() if k not in tags
            }
            for k, x in clone_props.items():
                if base_props.get(k) != x:
                    merged_props[k] = x
            for k in base_props:
                if not k.startswith("tag.") and k not in clone_props:
                    merged_props.pop(k, None)  # the clone unset it
            return {**merged_props, **tags}

        edit = Edit(
            lambda pm: "publish_rebase" if advanced(pm) else "publish_clone",
            files,
            lambda pm: {**table_fields(head), "properties": properties(pm)},
            check,
            # multi-table transaction stamp: recovery's "did this member
            # already land?" check reads it (crash between the txn record
            # and the last pointer move)
            stamp={"txn_record": txn_record} if txn_record else {},
        )
        if dry_run:
            # phase-1 validation only: run the pure build once against
            # the live head (no claim, no pointer move, no data copy —
            # the copies above were skipped) and discard the manifest.
            # CommitConflict / collision errors propagate to the caller.
            source._builder().build(
                edit, source.current_version(), source._manifest
            )
            return 0
        self._carry_ledger_sidecars(self.properties(v), src_root)
        if prepare:
            parent = source.current_version()
            return parent, source._builder().build(
                edit, parent, source._manifest
            )
        return source._commit(edit)

    def _external_dirs(self, manifest: dict) -> list[str]:
        """Data dirs outside this table's root (shallow-clone refs)."""
        return [
            d
            for d in manifest["data_dirs"]
            if os.path.isabs(d) or "://" in d
        ]

    def _require_local_dirs(self, manifest: dict, op: str) -> None:
        """Merge-on-read writers record table-ROOT-relative file
        coordinates; on a shallow clone still referencing source files
        those coordinates would be wrong, so MoR ops refuse until
        ``compact()`` localizes the data (copy-on-write DML works)."""
        ext = self._external_dirs(manifest)
        if ext:
            raise ValueError(
                f"{op} needs table-local files but {len(ext)} dir(s) are "
                "shallow-clone references; compact() first or use "
                "copy-on-write (delete.mode=copy-on-write)"
            )

    # -------------------------------------------- idempotent file ingest
    #
    # Delta's COPY INTO: bulk-load files from a landing location with
    # FILE-LEVEL idempotency — re-running the statement after new files
    # arrive ingests exactly the delta; re-running unchanged is a no-op.
    # The load ledger (per-source ingested file names) lives in table
    # properties and is published IN THE SAME manifest as the data
    # (``props_update``), so a crash between write and publish leaves
    # both out — re-run and it ingests again, never doubles. Scale:
    # below ``_COPY_LEDGER_SPILL`` names per source the ledger is
    # inline JSON; past it the name list SPILLS to a parquet sidecar
    # under ``ledgers/`` referenced from the property (the
    # delete-vector pattern) — the manifest stays O(1) per source
    # regardless of how many files were ever ingested, and ``vacuum``
    # reclaims sidecars no live snapshot references. Concurrent COPY
    # INTO from the SAME source should be serialized by the caller
    # (each re-checks the ledger before writing, not inside the commit
    # claim).

    _COPY_LEDGER_PROP = "copy.into.ledger"
    _COPY_LEDGER_SPILL = 10_000

    def _carry_ledger_sidecars(self, props: dict, dest_root: str) -> None:
        """COPY INTO ledger sidecar references are table-root-relative;
        when properties travel to another root (shallow clone, WAP
        publish) the tiny sidecar files must travel too, under the same
        relative name, so the reference resolves at the destination."""
        raw = props.get(self._COPY_LEDGER_PROP)
        if not raw:
            return
        import shutil

        for entry in json.loads(raw).values():
            if not isinstance(entry, dict):
                continue
            srcf = os.path.join(self.path, entry["sidecar"])
            dstf = os.path.join(dest_root, entry["sidecar"])
            if os.path.abspath(srcf) != os.path.abspath(
                dstf
            ) and not os.path.exists(dstf):
                os.makedirs(os.path.dirname(dstf), exist_ok=True)
                shutil.copyfile(srcf, dstf)

    def _ledger_entry_files(self, entry) -> set[str]:
        """One source's ingested-file set: inline list, or a spilled
        sidecar read column-wise (never enters the manifest)."""
        if isinstance(entry, dict):
            import pyarrow.parquet as pq

            t = pq.read_table(
                os.path.join(self.path, entry["sidecar"]),
                columns=["file"],
            )
            return set(t.column("file").to_pylist())
        return set(entry or [])

    def copy_into(
        self,
        src: str,
        pattern: str | None = None,
        stats_for: list[str] | None = None,
        force: bool = False,
        fileformat: str = "parquet",
    ) -> dict:
        """Ingest files under ``src`` matching ``pattern`` (recursive)
        that no previous ``copy_into`` from this source loaded. Returns
        ``{"version", "files_loaded", "rows_loaded"}`` (version is the
        unchanged head on a no-op).

        ``fileformat`` (Databricks ``FILEFORMAT =``): ``parquet``
        (default), ``csv`` (headered), or ``json`` (lines). Non-parquet
        sources read under the TABLE's schema — COPY INTO is the format
        CONVERSION point, so the landed files are always parquet with
        the table's types; this needs a schema-carrying table and pays
        one real read of the new files (parquet stays footer-only).
        The default pattern follows the format (``*.parquet`` /
        ``*.csv`` / ``*.json``).

        The ledger is MONOTONE across ``rollback``/RESTORE (properties
        follow the head, not the restored snapshot) — files once loaded
        stay skipped even after their rows were rolled away, exactly
        Delta's COPY INTO + RESTORE interaction; ``force=True`` is the
        Delta ``COPY_OPTIONS ('force'='true')`` escape: reload every
        matching file regardless of the ledger (may duplicate rows)."""
        import fnmatch

        fileformat = fileformat.lower()
        if fileformat not in ("parquet", "csv", "json"):
            raise ValueError(
                f"COPY INTO: unsupported FILEFORMAT {fileformat!r} "
                f"(parquet, csv, json)"
            )
        if pattern is None:
            pattern = f"*.{fileformat}"
        src_abs = os.path.abspath(src)
        found: list[str] = []
        for root, _dirs, files in os.walk(src_abs):
            for f in files:
                if f.startswith((".", "_")):
                    continue  # hidden/metadata (_SUCCESS, .crc)
                if fnmatch.fnmatch(f, pattern):
                    found.append(
                        os.path.relpath(os.path.join(root, f), src_abs)
                    )
        found.sort()
        ledger = json.loads(
            self.properties().get(self._COPY_LEDGER_PROP, "{}")
        )
        seen = self._ledger_entry_files(ledger.get(src_abs))
        new = found if force else [f for f in found if f not in seen]
        if not new:
            return {
                "version": self.current_version(),
                "files_loaded": 0,
                "rows_loaded": 0,
            }
        paths = [os.path.join(src_abs, f) for f in new]
        if fileformat == "parquet":
            df = self.spark.read.parquet(*paths)
        else:
            target = self.schema()
            if target is None:
                raise ValueError(
                    f"COPY INTO FILEFORMAT = {fileformat.upper()} needs "
                    "a schema-carrying table (the source has no types "
                    "of its own)"
                )
            if fileformat == "csv":
                # map by HEADER NAME, not position (Databricks COPY
                # INTO semantics): read headered strings, then project
                # onto the table schema — a source whose column order
                # differs still lands each value in the right column
                raw = self.spark.read.option("header", "true").csv(paths)
                if not any(
                    f.name in set(raw.columns) for f in target.fields
                ):
                    raise ValueError(
                        "COPY INTO FILEFORMAT = CSV: no header column "
                        f"matches the table schema (headers: "
                        f"{raw.columns}) — headerless/positional CSVs "
                        "are not supported"
                    )
                df = self._align(raw, target)
            else:
                df = self.spark.read.schema(target).json(paths)
        # rows_loaded rides the COMMIT's own write job via observe()
        # (r15, guide §2.4 — the round-3 ingest precedent): the former
        # standalone df.count() was a whole extra Spark job per COPY
        # INTO just for the accounting scalar. GATED to the plain-append
        # shape: a CHECK constraint's limit(1) probe would publish a
        # partial count as the observation's first action, and a declared
        # sort order's range-sampling pass re-executes the scan subtree
        # (accumulator double-count) — those (rare) shapes keep the
        # standalone footer count.
        obs = None
        if not self.constraints() and not self.current_sort_order():
            from pyspark.sql import Observation

            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        else:
            rows = df.count()  # parquet: footer count — no data scan
        merged = sorted(seen | set(new))
        if len(merged) > self._COPY_LEDGER_SPILL:
            # spill: the manifest carries an O(1) sidecar reference; a
            # crash before the commit publishes leaves the sidecar as
            # unreferenced garbage for vacuum, never a half-ledger
            import pyarrow as pa
            import pyarrow.parquet as pq

            rel = f"ledgers/copy-{uuid.uuid4().hex[:12]}.parquet"
            os.makedirs(os.path.join(self.path, "ledgers"), exist_ok=True)
            pq.write_table(
                pa.table({"file": merged}),
                os.path.join(self.path, rel),
            )
            ledger[src_abs] = {"sidecar": rel, "count": len(merged)}
        else:
            ledger[src_abs] = merged
        pb = self.current_partition_by()
        identity = {c for c in pb if "(" not in c}
        version = self.commit(
            df,
            mode="append",
            # ingested data adopts the table's current partition layout;
            # identity partition columns get path-segment (not footer)
            # stats, so they leave the stats_for list
            partition_by=pb or None,
            stats_for=(
                sorted(set(stats_for) - identity) if stats_for else None
            ),
            tag="copy_into",
            props_update={self._COPY_LEDGER_PROP: json.dumps(ledger)},
        )
        return {
            "version": version,
            "files_loaded": len(new),
            # the commit's write materialized df, so the observation is
            # complete by now; int() for a plain JSON-able scalar
            "rows_loaded": (
                int(obs.get["rows"]) if obs is not None else rows
            ),
        }

    # ------------------------------------------------------------- reads

    def read(
        self, version: int | None = None, *, small_scan: bool = False
    ) -> DataFrame:
        """Read the table at ``version`` (default: current snapshot),
        projected onto that version's schema: files from commits before a
        column existed yield NULL for it, narrower-typed files are upcast,
        and columns unknown to the snapshot's schema are invisible.
        ``small_scan`` plans a small scan as one partition (see
        ``_read_selection``)."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError(f"no snapshots at {self.path}")
        return self._read_selection(v, None, small_scan)

    # ------------------------------------------------ field-ID indirection
    #
    # Iceberg's column-identity model: every column carries a stable
    # FIELD ID assigned at creation; data directories remember the
    # write-time name → id mapping (``dir_field_ids``), the snapshot
    # remembers the current name → id mapping (``field_ids``). Reads
    # resolve a dir's columns BY ID, so ``ALTER TABLE ... RENAME COLUMN``
    # is a metadata-only commit: old files keep their written names, the
    # projection re-labels them; a column dropped and re-added under the
    # same name gets a FRESH id, so pre-drop data does not resurface.
    # Stats and blooms stay keyed by write-time names per dir; planners
    # translate current → write-time names through the id.

    @staticmethod
    def _next_field_ids(
        parent_manifest: dict | None, names: list[str]
    ) -> tuple[dict[str, int], int]:
        """name → id for a commit's columns: parent's ids for names it
        knows, fresh ids beyond ``last_field_id`` for new names."""
        prev = (parent_manifest or {}).get("field_ids") or {}
        last = (parent_manifest or {}).get("last_field_id") or (
            max(prev.values()) if prev else 0
        )
        out: dict[str, int] = {}
        for n in names:
            if n in prev:
                out[n] = prev[n]
            else:
                last += 1
                out[n] = last
        return out, last

    def _dir_renames(self, manifest: dict, rel_dir: str) -> dict[str, str]:
        """write-time name → CURRENT name for columns of ``rel_dir`` that
        were renamed since the dir was written (empty dict = identity;
        legacy manifests without field ids fall back to name matching)."""
        return self._dir_projection(manifest, rel_dir)[1]

    def _dir_projection(
        self, manifest: dict, rel_dir: str
    ) -> tuple[list[str], dict[str, str]]:
        """``(dead_columns, renames)`` resolving ``rel_dir``'s write-time
        names against the snapshot's current name → id map:

        - a write column whose id LEFT the map (DROP COLUMN) is DEAD — it
          must be dropped before name alignment, or a later re-added
          same-name column would resurface the old bytes;
        - a write column whose id maps to a different current name is
          RENAMED (applied after the drops, so a live column renamed onto
          a dead one's name wins)."""
        fids = manifest.get("field_ids")
        dmap = manifest.get("dir_field_ids", {}).get(rel_dir)
        if not fids or not dmap:
            return [], {}
        id2cur = {i: n for n, i in fids.items()}
        dead = [w for w, i in dmap.items() if i not in id2cur]
        renames = {
            w: id2cur[i]
            for w, i in dmap.items()
            if i in id2cur and id2cur[i] != w
        }
        return dead, renames

    def _dir_stat_name(self, manifest: dict, rel_dir: str, column: str) -> str:
        """CURRENT column name → the WRITE-TIME name ``rel_dir``'s stats
        and blooms are keyed by (identity when no rename applies)."""
        fids = manifest.get("field_ids")
        dmap = manifest.get("dir_field_ids", {}).get(rel_dir)
        if not fids or not dmap:
            return column
        i = fids.get(column)
        if i is None:
            return column
        for w, wid in dmap.items():
            if wid == i:
                return w
        return column

    def rename_column(self, old: str, new: str) -> int:
        """``ALTER TABLE ... RENAME COLUMN old TO new`` — metadata-only:
        the snapshot schema and the name → field-id mapping change; data
        files keep their written names and reads re-label them by id.
        Time travel shows the old name at old versions; stats/blooms
        (keyed by write-time names) keep pruning through the id
        translation. Refuses on legacy directories that predate field-id
        manifests (name-based projection there would silently NULL the
        renamed column's old data — recommit/compact first). Refuses on
        a GENERATED column or any of its inputs: the stored expression
        is text and would silently stop resolving."""
        gin = self.generated_input_columns()
        holders = sorted(
            g for g, inputs in gin.items() if old in inputs or old == g
        )
        if holders:
            raise ValueError(
                f"cannot rename '{old}': GENERATED column rule(s) "
                f"{holders} reference it — drop the generated column "
                f"first"
            )

        def fields(manifest: dict) -> dict:
            s = manifest.get("schema")
            fids = manifest.get("field_ids")
            if s is None or not fids:
                raise ValueError(
                    "RENAME COLUMN needs a field-id-carrying snapshot "
                    "(legacy manifest: recommit or compact first)"
                )
            schema = T.StructType.fromJson(s)
            names = [f.name for f in schema.fields]
            if old not in names:
                raise ValueError(f"no such column: '{old}'")
            if new in names:
                raise ValueError(f"column already exists: '{new}'")
            fid = fids[old]
            dir_ids = manifest.get("dir_field_ids", {})
            # only dirs with NO field-id map are unsafe (legacy writers:
            # their columns can't be relabeled by id). A dir whose map
            # simply lacks THIS id predates the column — nothing in it
            # needs relabeling, so the rename is trivially safe there.
            missing = [
                d for d in manifest["data_dirs"] if not dir_ids.get(d)
            ]
            if missing:
                raise ValueError(
                    f"RENAME COLUMN '{old}': directories predate field-id "
                    f"manifests ({missing}); recommit or compact first"
                )
            out = {
                "schema": T.StructType(
                    [
                        T.StructField(new if f.name == old else f.name,
                                      f.dataType, f.nullable)
                        for f in schema.fields
                    ]
                ).jsonValue(),
                "field_ids": {
                    (new if n == old else n): i for n, i in fids.items()
                },
            }
            decl = manifest.get("declared_partition_by")
            if decl:
                # a declared spec names CURRENT columns — follow the rename
                out["declared_partition_by"] = [
                    _rename_spec_entry(e, old, new) for e in decl
                ]
            dso = manifest.get("declared_sort_order")
            if dso:
                out["declared_sort_order"] = [
                    new if c == old else c for c in dso
                ]
            cdef = manifest.get("column_defaults")
            if cdef:
                out["column_defaults"] = {
                    (new if n == old else n): e for n, e in cdef.items()
                }
            return out

        return self._commit(
            Edit(f"rename_{old}_to_{new}", fields=fields, on_table=True)
        )

    def _visible_files(self, manifest: dict, rel_dir: str) -> list[str] | None:
        """The file subset of ``rel_dir`` VISIBLE in this snapshot (None =
        every file). Row-level rewrites (``delete_where``/``update_where``/
        ``merge_rows``) never mutate committed files; they shrink a dir's
        visible set and add a replacement dir — Iceberg v2's copy-on-write
        expressed at our manifest granularity."""
        return manifest.get("dir_files", {}).get(rel_dir)

    def _scan_parts(
        self,
        manifest: dict,
        target: T.StructType,
        selection: dict[str, list[str] | None] | None = None,
        with_meta: bool = False,
    ) -> list[DataFrame]:
        """The snapshot's scan children, aligned onto ``target``.

        Same-schema UNPARTITIONED directories are folded into ONE
        multi-path reader call instead of a per-directory ``unionByName``
        chain: a table that accreted N append commits plans a single
        parallel scan over N directories, so plan size stays flat in the
        number of commit generations (a 1000-commit table would otherwise
        parse a 1000-arm union; compaction bounds it operationally, this
        bounds it structurally — plan pinned by
        tests/test_snapshots_merge.py). Directories with a Hive partition
        spec, or legacy dirs without a recorded schema, keep their own
        scan (partition-column recovery needs the per-dir ``basePath``).

        ``selection`` (the file-skipping plan) restricts each dir to a
        file subset (None = whole dir, [] = fully pruned); the manifest's
        ``dir_files`` visibility subset is intersected on top."""
        specs = manifest.get("partition_specs", {})
        schemas = manifest.get("dir_schemas", {})
        # a dir written without a column reads its INITIAL DEFAULT (the
        # dir provably predates the column: appends must carry every
        # schema column, and a re-add gets a fresh field id)
        init_fill = self._initial_defaults(manifest)
        # entries: ("dir", rel_dir, files) for per-dir scans, or
        # ("group", schema_key, [abs paths]) for folded same-schema scans,
        # or ("pgroup", (schema, spec, proj), [(dir, files)]) for folded
        # SAME-SPEC Hive-partitioned dirs (only past a dir-count
        # threshold — see _read_partitioned_group)
        entries: list = []
        group_pos: dict[str, int] = {}
        pgroups: dict[str, list] = {}
        for d in manifest["data_dirs"]:
            vis = self._visible_files(manifest, d)
            sel = None if selection is None else selection.get(d)
            if sel is None:
                eff = vis
            elif vis is None:
                eff = sel
            else:
                vset = set(vis)
                eff = [f for f in sel if f in vset]
            if eff == []:
                continue  # nothing visible / everything pruned
            schema_json = schemas.get(d)
            proj = self._dir_projection(manifest, d)
            if schema_json is None:
                entries.append(("dir", (d, proj), eff))
                continue
            if specs.get(d):
                pkey = json.dumps(
                    [schema_json, specs[d], sorted(proj[0]),
                     sorted(proj[1].items())],
                    sort_keys=True,
                )
                pgroups.setdefault(
                    pkey, [schema_json, specs[d], proj, []]
                )[3].append((d, eff))
                continue
            # fold key includes the dir's projection (drops + renames):
            # dirs written under different historical names must not
            # share one reader call
            key = json.dumps(
                [schema_json, sorted(proj[0]), sorted(proj[1].items())],
                sort_keys=True,
            )
            root = os.path.join(self.path, d)
            paths = (
                [root]
                if eff is None
                else [os.path.join(root, f) for f in eff]
            )
            if key in group_pos:
                entries[group_pos[key]][2].extend(paths)
            else:
                group_pos[key] = len(entries)
                entries.append(["group", (schema_json, proj), paths])
        for schema_json, spec, proj, dir_effs in pgroups.values():
            if len(dir_effs) >= self._PARTITIONED_FOLD_MIN:
                entries.append(("pgroup", (schema_json, spec, proj), dir_effs))
            else:
                # few dirs: per-dir scans keep Spark's native partition
                # pruning (the folded path derives partition columns, so
                # partition filters become row filters there)
                entries.extend(
                    ("dir", (d, proj), eff) for d, eff in dir_effs
                )
        parts: list[DataFrame] = []
        for kind, a, b in entries:
            # the part's schema when known without asking the JVM
            have = None
            if kind == "pgroup":
                schema_json, spec, (dead, renames) = a
                part = self._read_partitioned_group(schema_json, spec, b)
            elif kind == "dir":
                (schema_or_dir, (dead, renames)) = a
                part = self._read_dir(manifest, schema_or_dir, files=b)
            else:
                schema_or_dir, (dead, renames) = a
                # unpartitioned same-schema dirs/files: one reader call,
                # explicit schema, no partition discovery needed
                have = T.StructType.fromJson(schema_or_dir)
                part = self.spark.read.schema(have).parquet(*b)
            if dead:
                # field-id projection: columns whose id left the schema
                # are invisible even to a re-added same-name column
                part = part.drop(*dead)
                have = None
            if renames:
                # field-id projection: write-time names → current names
                part = part.withColumnsRenamed(renames)
                have = None
            parts.append(
                self._align(
                    part, target, fill=init_fill, have=have, meta=with_meta
                )
            )
        return parts

    # fold same-spec Hive-partitioned dirs into one scan only past this
    # many dirs: below it, per-dir reads keep Spark's NATIVE partition
    # pruning (the folded scan derives partition columns from file paths,
    # so partition filters there are row filters); above it, plan size
    # wins — a table accreting hundreds of partitioned appends must not
    # plan a hundred-arm union (compaction remains the durable fix)
    _PARTITIONED_FOLD_MIN = 9

    def _read_partitioned_group(
        self,
        schema_json: dict,
        spec: list[str],
        dir_effs: list,
    ) -> DataFrame:
        """ONE reader call over many same-spec partitioned dirs: Spark
        refuses multi-root partition discovery (CONFLICTING_DIRECTORY_
        STRUCTURES — the commit-dir segments between table root and
        ``key=value`` aren't partitions), so the fold lists leaf files
        explicitly, reads them under the DATA-only schema, and re-derives
        each partition column from ``_metadata.file_path``. Decoding is
        EXACT: the distinct raw path segments are known driver-side (the
        listing is already in hand), so Hive's percent-escapes and the
        null marker translate through a literal mapping, never a lossy
        URL-decode."""
        import urllib.parse

        schema = T.StructType.fromJson(schema_json)
        pset = set(spec)
        data_fields = [f for f in schema.fields if f.name not in pset]
        paths: list[str] = []
        for d, eff in dir_effs:
            root = os.path.join(self.path, d)
            if eff is None:
                for dp, _dn, fs in os.walk(root):
                    for f in sorted(fs):
                        if f.endswith(".parquet") and not f.startswith("_"):
                            paths.append(os.path.join(dp, f))
            else:
                paths.extend(os.path.join(root, f) for f in eff)
        part = self.spark.read.schema(
            T.StructType(data_fields)
        ).parquet(*paths)
        for c in spec:
            field = schema[c]
            pat = f"/{re.escape(c)}=([^/]+)/"
            crex = re.compile(pat)
            raws = {m.group(1) for p in paths for m in [crex.search(p)] if m}
            raw = F.regexp_extract(F.col("_metadata.file_path"), pat, 1)
            # `_metadata.file_path` is a Hadoop URI: the on-disk segment
            # is percent-escaped AGAIN (java.net.URI path rules — '%'
            # → %25, space → %20; unreserved + sub-delims + ':@/' kept),
            # so the mapping carries BOTH forms of every observed value
            java_safe = "/-._~!$&'()*+,;=:@"
            decode = {}
            for r in raws:
                val = (
                    None
                    if r == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(r)
                )
                decode[r] = val
                decode[urllib.parse.quote(r, safe=java_safe)] = val
            if all(v == r for r, v in decode.items()):
                val = raw
            else:
                val = raw
                for r, v in decode.items():
                    if v != r:
                        val = F.when(raw == F.lit(r), F.lit(v)).otherwise(val)
            part = part.withColumn(c, val.cast(field.dataType))
        # no projection here: downstream _align selects the
        # target order, and a select would drop `_metadata` access
        return part

    def _partition_stats_entry(
        self, rel_file: str, column: str, ctype: str | None
    ) -> dict | None:
        """A SYNTHETIC per-file stats entry for a Hive PARTITION column,
        derived from the file's own path segment: every row of the file
        provably carries the segment's value, so (min, max) is a point
        and the null marker is an all-null entry. This gives partition
        columns manifest-level file skipping — they have no footer stats
        (partitionBy removes them from the files) and the folded
        multi-dir scan bypasses Spark's native partition pruning, so this
        planner-side derivation is what keeps `WHERE p = x` from opening
        every file at scale. Unparseable paths return None (must read)."""
        import urllib.parse

        from oss_data_lake_spark.sources import skipping

        m = re.search(f"/{re.escape(column)}=([^/]+)/", "/" + rel_file)
        if not m:
            return None
        raw = m.group(1)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            return {"rows": 1, "nulls": 1, "enc": skipping.ENC_VERSION}
        enc = skipping.encode_bound(urllib.parse.unquote(raw), ctype)
        if enc is None:
            return None
        return {
            "rows": 1, "nulls": 0, "min": enc, "max": enc,
            "enc": skipping.ENC_VERSION,
        }

    def current_partition_by(self, version: int | None = None) -> list[str]:
        """The spec future writes adopt, in ``commit(partition_by=)``
        form: a DECLARED spec when partition-spec evolution set one
        (``set_partition_spec`` / ALTER TABLE ... PARTITION FIELD), else
        the LATEST data dir's spec rendered back (transforms as their
        call syntax, sources translated to CURRENT column names) — what
        engine-level INSERT/COPY INTO adopt so appends follow the
        table's layout instead of silently accreting unpartitioned
        dirs."""
        v = version if version is not None else self.current_version()
        if v is None:
            return []
        return self._partition_by_of(self._manifest(v))

    def _partition_by_of(self, m: dict) -> list[str]:
        declared = m.get("declared_partition_by")
        if declared is not None:
            return list(declared)
        dirs = m.get("data_dirs") or []
        if not dirs:
            return []
        d = dirs[-1]
        spec = m.get("partition_specs", {}).get(d) or []
        trs = m.get("partition_transforms", {}).get(d) or {}
        ren = self._dir_renames(m, d)
        out = []
        for c in spec:
            tr = trs.get(c)
            if tr is None:
                out.append(ren.get(c, c))
                continue
            src = ren.get(tr["source"], tr["source"])
            if tr["param"] is None:
                out.append(f"{tr['kind']}({src})")
            else:
                out.append(f"{tr['kind']}({tr['param']}, {src})")
        return out

    # --------------------------------------------------- table statistics
    #
    # ANALYZE TABLE ... COMPUTE STATISTICS: Spark's CBO reads catalog
    # stats; this engine has no session catalog entry per snapshot
    # table, so harvested stats live in the manifest and the engine
    # applies them where the optimizer cannot see — the broadcast
    # decision. Spark's static estimate for a parquet scan is FILE
    # BYTES, which overshoots a merge-on-read table that tombstoned
    # most of its rows; ANALYZE records the LIVE size so a dimension
    # that IS small joins as a broadcast without a hand-placed hint.

    def analyze(self, columns: list[str] | None = None) -> dict:
        """Harvest table statistics from parquet FOOTERS and the
        manifest's delete state (metadata-scale — no data read):
        visible-file byte size, footer row count, live rows (footer
        rows minus position tombstones minus equality keys —
        approximate above, exact at zero debt), and live size (bytes
        scaled by the live fraction). ``columns`` adds approximate NDV
        per column — the one data scan, same as Spark's own ANALYZE
        FOR COLUMNS. Publishes a metadata-only ``analyze`` commit;
        read back via :meth:`table_stats`. Stats are as-of the
        analyzed version and go stale like any CBO stats — re-run
        after large DML waves."""
        import pyarrow.parquet as pq

        v = self.current_version()
        if v is None:
            raise ValueError(f"no snapshots at {self.path}")
        m = self._manifest(v)
        total_bytes = 0
        footer_rows = 0
        for d in m.get("data_dirs", []):
            root = (
                d if os.path.isabs(d) or "://" in d
                else os.path.join(self.path, d)
            )
            vis = self._visible_files(m, d)
            paths = (
                [os.path.join(root, f) for f in vis]
                if vis is not None
                else [
                    os.path.join(dp, f)
                    for dp, _dn, fs in os.walk(root)
                    for f in fs
                    if f.endswith(".parquet") and not f.startswith("_")
                ]
            )
            for p in paths:
                total_bytes += os.path.getsize(p)
                footer_rows += pq.ParquetFile(p).metadata.num_rows
        dead = 0
        for dd in m.get("delete_dirs", []):
            droot = os.path.join(self.path, dd)
            for dp, _dn, fs in os.walk(droot):
                for f in fs:
                    if f.endswith(".parquet"):
                        dead += pq.ParquetFile(
                            os.path.join(dp, f)
                        ).metadata.num_rows
        for e in m.get("eq_deletes", []):
            eroot = os.path.join(self.path, e["dir"])
            for dp, _dn, fs in os.walk(eroot):
                for f in fs:
                    if f.endswith(".parquet"):
                        dead += pq.ParquetFile(
                            os.path.join(dp, f)
                        ).metadata.num_rows
        live_rows = max(footer_rows - dead, 0)
        live_frac = live_rows / footer_rows if footer_rows else 0.0
        stats: dict = {
            "analyzed_version": v,
            "file_bytes": total_bytes,
            "footer_rows": footer_rows,
            "row_count": live_rows,
            "size_bytes": int(total_bytes * live_frac),
        }
        if columns:
            schema = self.schema(v)
            known = {f.name for f in schema.fields} if schema else set()
            bad = [c for c in columns if c not in known]
            if bad:
                raise ValueError(f"ANALYZE: no such columns: {bad}")
            row = self.read(version=v).agg(
                *[
                    F.approx_count_distinct(c).alias(c)
                    for c in columns
                ]
            ).collect()[0]
            stats["ndv"] = {c: int(row[c]) for c in columns}

        # FOR COLUMNS merges into (never clears) earlier NDVs
        stats["version"] = self._commit_meta(
            "table_stats",
            lambda prev: {
                **stats,
                "ndv": {**prev.get("ndv", {}), **stats.get("ndv", {})},
            },
            "analyze",
        )
        return stats

    def table_stats(self, version: int | None = None) -> dict | None:
        v = version if version is not None else self.current_version()
        if v is None:
            return None
        return self._manifest(v).get("table_stats")

    def read_hinted(
        self, version: int | None = None, *, small_scan: bool = False
    ) -> DataFrame:
        """:meth:`read`, plus a broadcast hint when ANALYZE recorded a
        live size under the session's autoBroadcastJoinThreshold — the
        stats-driven join decision Spark's file-size estimate cannot
        make for merge-on-read tables (tombstones don't shrink file
        bytes). Respects a disabled threshold (<= 0)."""
        df = self.read(version=version, small_scan=small_scan)
        st = self.table_stats(version)
        if not st:
            return df
        try:
            thr = _parse_size_bytes(
                self.spark.conf.get(
                    "spark.sql.autoBroadcastJoinThreshold", "10485760"
                )
            )
        except ValueError:
            return df  # unparseable session conf: no hint, never raise
        if thr > 0 and st["size_bytes"] <= thr:
            return df.hint("broadcast")
        return df

    # ------------------------------------------ partition-spec evolution
    #
    # Iceberg's ALTER TABLE ... ADD/DROP PARTITION FIELD: metadata-only.
    # The DECLARED spec governs what future writes adopt
    # (current_partition_by); existing dirs keep the spec they were
    # written under, and reads/pruning span both generations because
    # every dir carries its own spec — no data moves at ALTER time.

    def set_partition_spec(self, spec: list[str]) -> int:
        """Declare the partition spec (identity columns and/or hidden
        transforms in ``commit(partition_by=)`` call syntax) that future
        writes adopt. Validates eagerly: sources must exist in the
        current schema, time-granularity transforms need a
        timestamp/date source (Iceberg's transform typing rule),
        duplicate target fields refuse."""
        schema = self.schema()
        dtypes = (
            {f.name: f.dataType.simpleString() for f in schema.fields}
            if schema is not None
            else None
        )
        seen: set[str] = set()
        for entry in spec:
            pcol, tr = parse_partition_entry(entry)
            if pcol in seen:
                raise ValueError(f"duplicate partition field: {entry!r}")
            seen.add(pcol)
            src = tr["source"] if tr else pcol
            if dtypes is not None and src not in dtypes:
                raise ValueError(
                    f"partition field source '{src}' not in table schema"
                )
            if (
                tr
                and tr["kind"] in _TIME_SPARK_FORMATS
                and dtypes is not None
                and dtypes[src] not in ("timestamp", "timestamp_ntz", "date")
            ):
                raise ValueError(
                    f"{tr['kind']}() needs a timestamp/date source "
                    f"column; '{src}' is {dtypes[src]}"
                )

        return self._commit_meta(
            "declared_partition_by", lambda _: list(spec), "set_partition_spec"
        )

    def add_partition_field(self, entry: str) -> int:
        """``ALTER TABLE ... ADD PARTITION FIELD entry``."""
        cur = self.current_partition_by()
        new_pcol, _ = parse_partition_entry(entry)
        if any(parse_partition_entry(e)[0] == new_pcol for e in cur):
            raise ValueError(f"partition field already present: {entry!r}")
        return self.set_partition_spec(cur + [entry.strip()])

    def drop_partition_field(self, entry: str) -> int:
        """``ALTER TABLE ... DROP PARTITION FIELD entry`` (matched by
        the field it produces, so whitespace variants agree)."""
        cur = self.current_partition_by()
        pcol, _ = parse_partition_entry(entry)
        kept = [e for e in cur if parse_partition_entry(e)[0] != pcol]
        if len(kept) == len(cur):
            raise ValueError(f"no such partition field: {entry!r}")
        return self.set_partition_spec(kept)

    # ------------------------------------------------- declared sort order
    #
    # Iceberg's WRITE ORDERED BY: a table-level declaration that future
    # writes range-partition + sort on the named columns, so each file
    # covers a narrow slice and footer stats prune tightly. Metadata-only
    # at ALTER time (existing files keep their layout; ``compact()``
    # restores the clustered shape across old generations).

    def set_sort_order(self, cols: list[str]) -> int:
        """Declare the write sort order future commits adopt (empty list
        = WRITE UNORDERED). Validates eagerly against the current
        schema; duplicates refuse."""
        schema = self.schema()
        names = (
            {f.name for f in schema.fields} if schema is not None else None
        )
        seen: set[str] = set()
        for c in cols:
            if c in seen:
                raise ValueError(f"duplicate sort column: {c!r}")
            seen.add(c)
            if names is not None and c not in names:
                raise ValueError(f"sort column '{c}' not in table schema")

        return self._commit_meta(
            "declared_sort_order", lambda _: list(cols) or None, "set_sort_order"
        )

    def current_sort_order(self, version: int | None = None) -> list[str]:
        v = version if version is not None else self.current_version()
        if v is None:
            return []
        return list(self._manifest(v).get("declared_sort_order") or [])

    def metadata_df(
        self, kind: str, version: int | None = None
    ) -> DataFrame:
        """Iceberg-style metadata tables, SELECT-able in SQL as
        ``<table>$files`` / ``$history`` / ``$snapshots`` /
        ``$partitions`` (Trino's Iceberg connector spelling — the
        reference's query engine exposes exactly these). Everything
        answers from manifests, path segments, and the stats
        references' aggregates — NO data-file reads, so a metadata
        query costs the same on a 100-TB table as on a test fixture."""
        spark = self.spark
        if kind == "history":
            rows = [
                (
                    m.get("version"),
                    m.get("parent"),
                    m.get("mode"),
                    len(m["data_dirs"]),
                    m.get("committed_at_ms"),
                )
                for m in self.versions()
                # AS OF scopes the log to commits up to that version
                if version is None or m.get("version") <= version
            ]
            return local_frame(
                spark,
                rows,
                "version long, parent long, operation string, "
                "n_data_dirs long, committed_at_ms long",
            )
        if kind == "snapshots":
            head = (
                version if version is not None else self.current_version()
            )
            rows = [
                (
                    m.get("version"),
                    m.get("parent"),
                    m.get("mode"),
                    m.get("committed_at_ms"),
                    len(m["data_dirs"]),
                    len(m.get("delete_dirs", [])),
                    len(m.get("eq_deletes", [])),
                    m.get("version") == head,
                )
                for m in self.versions()
                if version is None or m.get("version") <= version
            ]
            return local_frame(
                spark,
                rows,
                "version long, parent long, operation string, "
                "committed_at_ms long, n_data_dirs long, "
                "n_delete_vector_dirs long, n_eq_deletes long, "
                "is_current boolean",
            )
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError(f"no snapshots at {self.path}")
        manifest = self._manifest(v)
        if kind == "files":
            rows = []
            for d in manifest["data_dirs"]:
                stats = self.dir_stats(manifest, d) or {}
                universe = self._stats_universe(d, stats)
                vis = manifest.get("dir_files", {}).get(d)
                vset = None if vis is None else set(vis)
                for f in universe:
                    cols = stats.get(f, {})
                    nrows = None
                    for c, entry in cols.items():
                        if not c.startswith("bloom:") and "rows" in entry:
                            nrows = entry["rows"]
                            break
                    rows.append(
                        (
                            d,
                            f,
                            vset is None or f in vset,
                            nrows,
                            sorted(
                                c
                                for c in cols
                                if not c.startswith("bloom:")
                            ),
                        )
                    )
            return local_frame(
                spark,
                rows,
                "data_dir string, file string, visible boolean, "
                "rows long, stat_columns array<string>",
            )
        if kind == "partitions":
            counts: dict[str, int] = {}
            for tup in self._partition_tuples(v):
                counts[tup] = counts.get(tup, 0) + 1
            return local_frame(
                spark, sorted(counts.items()), "partition string, n_files long"
            )
        raise ValueError(
            f"unknown metadata table '${kind}' (supported: $files, "
            f"$history, $snapshots, $partitions)"
        )

    def _partition_tuples(self, version: int) -> list[str]:
        """One partition path tuple per VISIBLE file (duplicates kept —
        the caller aggregates); each dir parses under its own spec."""
        m = self._manifest(version)
        specs = m.get("partition_specs", {})
        out: list[str] = []
        for d in m.get("data_dirs", []):
            spec = specs.get(d) or []
            if not spec:
                continue
            vis = self._visible_files(m, d)
            if vis is None:
                root = (
                    d if os.path.isabs(d) or "://" in d
                    else os.path.join(self.path, d)
                )
                vis = [
                    os.path.relpath(os.path.join(dp, f), root)
                    for dp, _dn, fs in os.walk(root)
                    for f in fs
                    if f.endswith(".parquet") and not f.startswith("_")
                ]
            for rel in vis:
                path = "/" + rel.replace(os.sep, "/")
                segs = []
                for c in spec:
                    mm = re.search(f"/{re.escape(c)}=([^/]+)/", path)
                    if mm:
                        segs.append(f"{c}={mm.group(1)}")
                if segs:
                    out.append("/".join(segs))
        return out

    def show_partitions(self, version: int | None = None) -> list[str]:
        """``SHOW PARTITIONS``: the snapshot's distinct partition path
        tuples, read from FILE PATH SEGMENTS only (the P20 coordinates —
        no data scan). Each dir parses under its OWN spec, so
        generations written before a spec evolution list alongside the
        current layout. Hidden transform fields appear under their path
        names (``_p_days_ts=2024-01-01``)."""
        v = version if version is not None else self.current_version()
        if v is None:
            raise ValueError(f"no snapshots at {self.path}")
        return sorted(set(self._partition_tuples(v)))

    def _transform_for(
        self, manifest: dict, d: str, col_d: str
    ) -> tuple[str | None, dict | None]:
        """The ``(hidden_column, transform)`` partitioning dir ``d`` by
        a DERIVED value of write-time column ``col_d``, or (None, None).
        The lever that makes hidden partitioning prune: a predicate on
        the SOURCE column reaches the hidden column's path segments."""
        for pcol, tr in (
            manifest.get("partition_transforms", {}).get(d) or {}
        ).items():
            if tr.get("source") == col_d:
                return pcol, tr
        return None, None

    @staticmethod
    def _transform_ptype(tr: dict) -> str:
        """The hidden column's declared type for bound encoding."""
        if tr["kind"] in _TIME_FORMATS:
            return "string"
        if tr["kind"] == "bucket":
            return "int"
        return tr.get("vtype", "string")

    def _transform_bound(self, tr: dict, value):
        """Map a source-column bound through a MONOTONE transform into
        the hidden column's value space (None = unmappable — caller
        must not prune). Sound because every supported transform except
        bucket is order-preserving: lo ≤ v ≤ hi ⇒ T(lo) ≤ T(v) ≤ T(hi),
        so admitting files by [T(lo), T(hi)] can only over-admit.
        Bucket is not monotone and only serves the equality path."""
        kind = tr["kind"]
        if kind in _TIME_FORMATS:
            return _transform_time_value(value, _TIME_FORMATS[kind])
        if kind == "truncate":
            if tr.get("vtype") == "string":
                return str(value)[: tr["param"]]
            try:
                import math

                return int(
                    math.floor(float(value) / tr["param"])
                ) * tr["param"]
            except (TypeError, ValueError):
                return None
        return None  # bucket

    def _bucket_value(self, tr: dict, value) -> int | None:
        """A point-probe literal → its bucket id, computed by the SAME
        Catalyst expression the writer used (one driver-local one-row
        evaluation — no table scan, and no Python re-implementation of
        xxhash64 to drift from)."""
        try:
            row = (
                self.spark.range(1)
                .select(
                    F.pmod(
                        F.xxhash64(
                            F.lit(value).cast(tr.get("vtype", "string"))
                        ),
                        F.lit(tr["param"]),
                    )
                    .cast("int")
                    .alias("b")
                )
                .first()
            )
        except Exception:
            return None  # uncastable literal: no pruning
        return row["b"]

    # Predicate forms plan_pruned accepts:
    #   (col, lo, hi)                       range (lo == hi → eq + bloom)
    #   {"col": c, "in": [v1, v2, ...]}     IN list: a file survives if
    #                                       ANY value's eq test admits it
    #   {"col": c, "null": True|False}      IS NULL / IS NOT NULL
    # ``_as_test`` normalizes them into the planner's tests:
    # ("range", c, lo, hi), ("eq", c, v), ("in", c, values) and
    # ("null", c, want_null).

    def plan_range_scan(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
        manifest: dict | None = None,
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """File-skipping scan plan for ``column BETWEEN lower AND upper``:
        returns ``(selection, files_selected, files_skipped)`` where
        ``selection[rel_dir]`` is the rel-file list to read, or ``None``
        meaning "whole directory" (no stats recorded — never skipped).
        Skips only files whose manifest bounds PROVE no row can match;
        soundness lives in ``skipping.file_may_match``. Range-only: a
        point range gets no bloom check (``plan_pruned`` adds it).
        ``manifest``, when given, is the already-read manifest to plan
        against (``version`` is then not consulted)."""
        return self._plan([("range", column, lower, upper)], version, manifest)

    def plan_eq_scan(
        self, column: str, value, version: int | None = None
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """File-skipping plan for ``column = value``: min/max bounds AND
        the per-file bloom (when recorded) must both admit the probe.
        Same return shape as ``plan_range_scan``."""
        return self._plan([("eq", column, value)], version)

    def plan_null_scan(
        self, column: str, want_null: bool, version: int | None = None
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """File-skipping plan for ``column IS [NOT] NULL`` from the
        recorded per-file null counts: a zero-null file cannot match
        ``IS NULL``; an all-null (or empty) file cannot match
        ``IS NOT NULL``. Missing stats → must read."""
        return self._plan([("null", column, want_null)], version)

    def plan_pruned(
        self,
        preds: list,
        version: int | None = None,
        manifest: dict | None = None,
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """Multi-predicate scan plan: a file survives only if EVERY
        predicate admits it (conjunction semantics). Predicate forms
        documented above ``plan_range_scan``. Same return shape and
        ``manifest`` contract."""
        return self._plan([_as_test(p) for p in preds], version, manifest)

    def _plan(
        self, tests: list[tuple], version: int | None,
        manifest: dict | None = None,
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """The scan planner behind every ``plan_*`` entry point: at most
        one manifest read (none when the caller passes ``manifest``),
        then per data dir one stats resolution and at most one file
        universe. A file is kept only if every test admits it; a dir no
        test can restrict stays ``None`` (whole)."""
        if manifest is None:
            v = version if version is not None else self.current_version()
            if v is None:
                raise ValueError(f"no snapshots at {self.path}")
            manifest = self._manifest(v)
        # column → Spark simpleString type from the snapshot schema: a
        # column without one encodes its bounds by the default heuristic
        schema = manifest.get("schema")
        ctypes = {
            f.name: f.dataType.simpleString()
            for f in (T.StructType.fromJson(schema).fields if schema else [])
        }
        selection: dict[str, list[str] | None] = {}
        n_sel = n_skip = 0
        for d in manifest["data_dirs"]:
            stats = self.dir_stats(manifest, d)
            admits = list(filter(None, (
                self._file_test(manifest, d, stats, ctypes, t) for t in tests
            )))
            if not admits:
                selection[d] = None
                continue
            universe = self._dir_universe(manifest, d, stats)
            keep = [f for f in universe if all(a(f) for a in admits)]
            selection[d] = keep
            n_sel += len(keep)
            n_skip += len(universe) - len(keep)
        return selection, n_sel, n_skip

    def _file_test(
        self, manifest: dict, d: str, stats: dict | None, ctypes: dict,
        test: tuple,
    ):
        """One test over dir ``d``'s files: a function ``rel_file → may
        match``, or None when the test cannot restrict the dir. First
        applicable source wins: a Hive partition column's path segment,
        a hidden transform's segment, else the footer stats (min/max,
        plus the bloom for equality and the null counts for IS NULL)."""
        from oss_data_lake_spark.sources import skipping

        kind, column, *args = test
        if kind == "in":
            per_value = [
                self._file_test(manifest, d, stats, ctypes, ("eq", column, x))
                for x in args[0]
            ]
            if not per_value or any(t is None for t in per_value):
                return None
            return lambda f: any(t(f) for t in per_value)
        ctype = ctypes.get(column)
        col_d = self._dir_stat_name(manifest, d, column)
        pcol, tr = self._transform_for(manifest, d, col_d)
        hive = col_d in (manifest.get("partition_specs", {}).get(d) or [])

        def segments(c, t, admit):
            # partition column (Hive or hidden): each file's value comes
            # from its path segment — prunes even without footer stats
            return lambda f: admit(self._partition_stats_entry(f, c, t))

        def footers(admit):
            return (lambda f: admit(stats.get(f, {}))) if stats else None

        if kind == "null":
            admit = (
                skipping.file_may_contain_null
                if args[0]
                else skipping.file_may_contain_nonnull
            )
            if hive:
                return segments(col_d, ctype, admit)
            if tr is not None:
                # every transform is NULL-PRESERVING (NULL source →
                # null partition segment), so the source's IS [NOT]
                # NULL maps 1:1 onto the hidden column's segments
                return segments(pcol, self._transform_ptype(tr), admit)
            return footers(lambda cols: admit(cols.get(col_d)))
        if kind == "eq":
            value = args[0]
            enc = skipping.encode_bound(value, ctype)
            if enc is not None and hive:
                return segments(
                    col_d, ctype,
                    lambda s: skipping.file_may_match(s, enc, enc),
                )
            if tr is not None and value is not None:
                # HIDDEN partitioning: a point probe maps exactly —
                # monotone transforms via the bound map, bucket via the
                # writer's own hash expression
                if tr["kind"] == "bucket":
                    pval = self._bucket_value(tr, value)
                else:
                    pval = self._transform_bound(tr, value)
                ptype = self._transform_ptype(tr)
                penc = skipping.encode_bound(pval, ptype)
                if penc is not None:
                    return segments(
                        pcol, ptype,
                        lambda s: skipping.file_may_match(s, penc, penc),
                    )
            if enc is None:
                return None
            return footers(
                lambda cols: skipping.file_may_match(
                    cols.get(col_d), enc, enc
                )
                and skipping.bloom_may_contain(
                    cols.get(f"bloom:{col_d}"), value, ctype
                )
            )
        lower, upper = args
        lo = skipping.encode_bound(lower, ctype)
        hi = skipping.encode_bound(upper, ctype)
        if lo is None and hi is None:
            # unbounded: no predicate to prune with — the all-null skip
            # rule must not fire
            return None
        if hive:
            return segments(
                col_d, ctype, lambda s: skipping.file_may_match(s, lo, hi)
            )
        if tr is not None:
            # HIDDEN partitioning: push the source bounds through a
            # monotone transform onto the hidden column's segments
            plo, phi = (
                None if b is None else self._transform_bound(tr, b)
                for b in (lower, upper)
            )
            if (lower is None or plo is not None) and (
                upper is None or phi is not None
            ):
                ptype = self._transform_ptype(tr)
                elo = skipping.encode_bound(plo, ptype)
                ehi = skipping.encode_bound(phi, ptype)
                if elo is not None or ehi is not None:
                    return segments(
                        pcol, ptype,
                        lambda s: skipping.file_may_match(s, elo, ehi),
                    )
        return footers(
            lambda cols: skipping.file_may_match(cols.get(col_d), lo, hi)
        )

    def _dir_universe(
        self, manifest: dict, d: str, stats: dict | None
    ) -> list[str]:
        """The files of dir ``d`` in this snapshot: its visible subset
        when the manifest records one, else the stats universe."""
        vis = self._visible_files(manifest, d)
        if vis is not None:
            return sorted(vis)
        return self._stats_universe(d, stats or {})

    def _stats_universe(self, rel_dir: str, stats: dict) -> list[str]:
        """The FILE UNIVERSE a pruned scan of ``rel_dir`` plans against:
        the stats dict's keys unioned with the directory's actual parquet
        listing. ``collect_file_stats`` records every file it discovers
        (possibly with an empty column map), but manifests persisted by
        older builds could miss a file whose footer yielded zero usable
        stat rows — planning from stats alone would silently EXCLUDE such
        a file (wrong-skip data loss). A file found by the listing but
        absent from stats defaults to must-read. The listing is one
        O(#files) metadata call per directory per plan — EXCEPT for
        stats resolved from a spilled sidecar (`_CompleteStats`), whose
        key set is the writer's complete universe by construction: big
        dirs, exactly where the listing would hurt, plan from metadata
        alone (the Iceberg trust-the-manifest behavior)."""
        if isinstance(stats, _CompleteStats):
            return sorted(stats)
        from oss_data_lake_spark.sources.skipping import _iter_parquet_files

        root = os.path.join(self.path, rel_dir)
        listed = [
            os.path.relpath(p, root) for p in _iter_parquet_files(root)
        ]
        return sorted(set(stats) | set(listed))

    def read_between(
        self,
        column: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame:
        """Read rows with ``column BETWEEN lower AND upper`` (inclusive;
        one-sided if a bound is None), opening ONLY files whose
        manifest-recorded bounds can contain matches. The exact predicate
        is still applied to the surviving rows, so results never depend on
        stats quality — only scan cost does. Directories without stats are
        read whole (and still benefit from partition pruning / row-group
        pushdown inside the scan)."""
        v = version if version is not None else self.current_version()
        selection, _n_sel, _n_skip = self.plan_range_scan(
            column, lower, upper, version=v
        )
        out = self._read_selection(v, selection)
        pred = None
        if lower is not None:
            pred = F.col(column) >= F.lit(lower)
        if upper is not None:
            up = F.col(column) <= F.lit(upper)
            pred = up if pred is None else (pred & up)
        return out.filter(pred) if pred is not None else out

    def read_eq(self, column: str, value, version: int | None = None) -> DataFrame:
        """Point lookup ``column = value`` opening only files whose bounds
        and bloom admit the probe; the exact equality filter still applies
        to surviving rows (bloom false positives cost a file read, never a
        wrong row)."""
        v = version if version is not None else self.current_version()
        selection, _n_sel, _n_skip = self.plan_eq_scan(column, value, version=v)
        out = self._read_selection(v, selection)
        return out.filter(F.col(column) == F.lit(value))

    def stats_columns(self, version: int | None = None) -> set[str]:
        """Columns with at least one recorded per-file bound in the
        snapshot's manifest — the columns a pruned scan can act on."""
        v = version if version is not None else self.current_version()
        if v is None:
            return set()
        m = self._manifest(v)
        out: set[str] = set()
        for d, stats in m.get("file_stats", {}).items():
            ren = self._dir_renames(m, d)
            if _is_stats_ref(stats):
                # spilled dirs answer from the reference's column list —
                # no sidecar read for a pure metadata question
                out.update(ren.get(c, c) for c in stats.get("cols", []))
                continue
            for cols in stats.values():
                out.update(
                    ren.get(c, c) for c in cols if not c.startswith("bloom:")
                )
        # Hive PARTITION columns prune from their path segments (the
        # planners derive synthetic per-file bounds), so they count as
        # stats columns even though footers cannot carry them
        dirs = set(m["data_dirs"])
        for d, spec in m.get("partition_specs", {}).items():
            if d in dirs and spec:
                ren = self._dir_renames(m, d)
                trs = m.get("partition_transforms", {}).get(d) or {}
                for c in spec:
                    # a hidden transform column prunes on its SOURCE —
                    # the _p_* name itself is not a table column
                    src = trs[c]["source"] if c in trs else c
                    out.add(ren.get(src, src))
        return out

    def read_pruned(
        self,
        preds: list[tuple[str, object, object]],
        version: int | None = None,
        *,
        small_scan: bool = False,
    ) -> DataFrame:
        """Read the snapshot opening only files admitted by EVERY
        predicate's manifest bounds — WITHOUT applying any row filter:
        this is the scan a SQL layer puts its own WHERE on top of
        (``engine.sql`` routes extracted SQL-text predicates here).
        Pruning can only drop files PROVEN empty for the conjunction, so
        layering the exact SQL predicates above yields identical results
        to the unpruned scan. ``small_scan`` as for :meth:`read`."""
        v = version if version is not None else self.current_version()
        selection, _n_sel, _n_skip = self.plan_pruned(preds, version=v)
        return self._read_selection(v, selection, small_scan)

    def _read_selection(
        self,
        version: int,
        selection: dict[str, list[str] | None] | None,
        small_scan: bool = False,
    ) -> DataFrame:
        """The live rows of a pruned file selection (None = every visible
        file), projected onto the snapshot schema (empty selection →
        empty frame with that schema). With ``small_scan``, a selection
        whose data files total at most ``SMALL_SCAN_BYTES`` is planned as
        one partition, so operators over it need no exchange; the rows
        are the same. An empty selection stays a local relation, which a
        point lookup folds without a job."""
        manifest = self._manifest(version)
        schema = manifest.get("schema")
        if schema is None:
            # pre-schema legacy manifest: such manifests never carry
            # stats, so every dir is whole (or the plan is vacuous)
            if selection and not all(v is None for v in selection.values()):
                raise ValueError(
                    "pruned scan on a pre-schema manifest: no schema to "
                    "shape the result"
                )
            return self.spark.read.parquet(
                *[os.path.join(self.path, d) for d in manifest["data_dirs"]]
            )
        target = T.StructType.fromJson(schema)
        out = self._live_rows(manifest, target, selection)
        if out is None:
            return local_frame(self.spark, [], target)
        if small_scan and self._is_small_scan(manifest, selection):
            return out.coalesce(1)
        return out

    def _is_small_scan(
        self, manifest: dict, selection: dict[str, list[str] | None] | None
    ) -> bool:
        """Whether the data files a scan of ``selection`` reads total at
        most ``SMALL_SCAN_BYTES``: local ``os.stat`` sizes summed over the
        planner's admitted lists (a whole dir's list from
        ``_dir_universe``), stopping once past the bound. No JVM call and
        no footer read. An object-store table is never small: each size
        would cost a request."""
        if urllib.parse.urlparse(self.path).scheme:
            return False
        total = 0
        for d in manifest["data_dirs"]:
            files = None if selection is None else selection.get(d)
            if files is None:
                files = self._dir_universe(
                    manifest, d, self.dir_stats(manifest, d)
                )
            root = os.path.join(self.path, d)
            for f in files:
                try:
                    total += os.stat(os.path.join(root, f)).st_size
                except OSError:
                    return False  # Spark reports the missing file
                if total > SMALL_SCAN_BYTES:
                    return False
        return True

    def _live_rows(
        self,
        manifest: dict,
        target: T.StructType,
        selection: dict[str, list[str] | None] | None = None,
        keep_meta: bool = False,
    ) -> DataFrame | None:
        """The rows ``manifest`` shows of its ``selection`` (None = every
        visible file), aligned onto ``target``: the scan parts unioned
        (same-schema unpartitioned dirs fold into one scan), then the
        manifest's delete vectors and equality deletes anti-joined out.
        ``keep_meta`` keeps the ``__dv_file`` / ``__dv_pos`` coordinates;
        otherwise they are read only when a delete needs them. None when
        the selection leaves no file to scan."""
        dv_dirs = manifest.get("delete_dirs", [])
        eqs = manifest.get("eq_deletes", [])
        need_meta = keep_meta or bool(dv_dirs or eqs)
        parts = self._scan_parts(
            manifest, target, selection=selection, with_meta=need_meta
        )
        if not parts:
            return None
        out = functools.reduce(DataFrame.unionByName, parts)
        if dv_dirs:
            # AQE picks broadcast when the vectors are small (the usual
            # case)
            dv = self._read_delete_vectors(dv_dirs)
            out = out.join(
                dv,
                (out["__dv_file"] == dv["file"])
                & (out["__dv_pos"] == dv["pos"]),
                "left_anti",
            )
        for e in eqs:
            # a row drops iff its key tuple matches AND its source file
            # lives in one of the delete's ``applies_dirs`` (rows
            # appended after the delete are exempt — the sequencing rule)
            if not e.get("applies_dirs"):
                continue
            keys, on = self._eq_key_join(out, manifest, e)
            app = functools.reduce(operator.or_, [
                out["__dv_file"].startswith(d + "/")
                for d in e["applies_dirs"]
            ])
            out = out.join(keys, on & app, "left_anti")
        if need_meta and not keep_meta:
            out = out.drop("__dv_file", "__dv_pos")
        return out

    def _eq_key_join(
        self, out: DataFrame, manifest: dict, entry: dict
    ) -> tuple[DataFrame, F.Column]:
        """``(keys, condition)`` joining ``out`` to one equality delete's
        key file: the keys are explicitly broadcast (CDC-batch-sized by
        design), and each key column is matched through its field id to
        its CURRENT name, so a rename cannot detach the delete."""
        keys = self.spark.read.parquet(
            os.path.join(self.path, entry["dir"])
        ).select(
            *[F.col(w).alias(f"__eq_{j}") for j, w in enumerate(entry["cols"])]
        ).distinct()
        id2cur = {i: n for n, i in (manifest.get("field_ids") or {}).items()}
        on = functools.reduce(operator.and_, [
            out[id2cur.get(i, w)] == keys[f"__eq_{j}"]
            for j, (w, i) in enumerate(zip(entry["cols"], entry["ids"]))
        ])
        return F.broadcast(keys), on

    def _read_dir(
        self, manifest: dict, rel_dir: str, files: list[str] | None = None
    ) -> DataFrame:
        """Scan one data directory under its exact WRITE schema when the
        manifest recorded it: data columns load as written (the snapshot
        projection upcasts afterwards) and Hive partition values parse
        under their declared type instead of directory-name inference —
        a string key '01' stays '01', never int 1.

        ``files`` restricts the scan to a rel-file subset (the
        file-skipping path); ``basePath`` keeps Hive partition-column
        recovery working when individual files inside ``key=value``
        subdirectories are listed explicitly."""
        path = os.path.join(self.path, rel_dir)
        schema_json = manifest.get("dir_schemas", {}).get(rel_dir)
        if files is not None:
            targets = [os.path.join(path, f) for f in files]
            reader = self.spark.read.option("basePath", path)
            if schema_json is not None:
                reader = reader.schema(T.StructType.fromJson(schema_json))
            return reader.parquet(*targets)
        if schema_json is None:  # legacy dir: inference, as before
            return self.spark.read.parquet(path)
        return (
            self.spark.read.schema(T.StructType.fromJson(schema_json))
            .parquet(path)
        )

    def schema(self, version: int | None = None) -> T.StructType | None:
        """The table schema as of ``version`` (None for legacy manifests)."""
        v = version if version is not None else self.current_version()
        if v is None:
            return None
        return self._schema_of(self._manifest(v))

    @staticmethod
    def _schema_of(m: dict) -> T.StructType | None:
        s = m.get("schema")
        return T.StructType.fromJson(s) if s else None

    def _align(
        self,
        df: DataFrame,
        target: T.StructType,
        fill: dict | None = None,
        *,
        have: T.StructType | None = None,
        meta: bool = False,
    ) -> DataFrame:
        """``df`` projected onto ``target`` in target order, each column
        cast to its target type. A column ``df`` lacks reads its
        ``fill`` expression (the INITIAL DEFAULT: the file predates the
        column), NULL otherwise. ``meta`` appends the delete-vector
        coordinates ``__dv_file`` / ``__dv_pos``.

        ``have`` is ``df``'s schema when the caller knows it without a
        JVM analysis call. A df matching ``target`` name for name and
        type for type, in order, comes back unchanged; otherwise the
        projection is one ``selectExpr`` (a Column chain costs several
        py4j round trips per column)."""
        have = df.schema if have is None else have
        if not meta and [(f.name, f.dataType) for f in have.fields] == [
            (f.name, f.dataType) for f in target.fields
        ]:
            return df
        types = {f.name: f.dataType for f in have.fields}
        exprs = []
        for f in target.fields:
            q = _quote_ident(f.name)
            if f.name not in types:
                lit = (fill or {}).get(f.name)
                value = "NULL" if lit is None else f"({lit})"
            elif types[f.name] == f.dataType:
                exprs.append(q)
                continue
            else:
                value = q
            exprs.append(f"CAST({value} AS {_sql_type(f.dataType)}) AS {q}")
        if meta:
            exprs += [
                f"{self._rel_file_sql()} AS __dv_file",
                "_metadata.row_index AS __dv_pos",
            ]
        return df.selectExpr(*exprs)

    # ---------------------------------- merge-on-read delete vectors
    #
    # Iceberg v2 position deletes / Delta deletion vectors: a DELETE may
    # record (file, row-position) tombstones instead of rewriting data
    # files — O(matched rows written as a tiny parquet) instead of
    # O(candidate files rewritten). Readers anti-join the scan against
    # the union of the snapshot's delete vectors on
    # (relative file, _metadata.row_index); compaction materializes the
    # deletes and clears the vectors. Positions never touch the driver —
    # the tombstone write is a distributed filter+projection.

    def _rel_file_sql(self) -> str:
        """``_metadata.file_path`` → table-relative file path (the same
        coordinates manifests use), computed identically at tombstone
        write and scan time so the anti-join compares like with like.
        Local paths canonicalize to ``file:`` URIs."""
        prefix = self.path if "://" in self.path else f"file:{self.path}"
        return f"substring(_metadata.file_path, {len(prefix) + 2})"

    def _read_delete_vectors(self, dv_dirs: list[str]) -> DataFrame:
        return self.spark.read.schema("file string, pos long").parquet(
            *[os.path.join(self.path, d) for d in dv_dirs]
        )

    @staticmethod
    def _recordable_dv_candidates(
        selection: dict, cap: int = 256
    ) -> dict | None:
        """The pruned candidate selection of a MoR DML, if it is worth
        recording in the manifest for the change feed (r15, see
        ``_dv_matched_rows``): every dir pruned to an explicit file list
        and the total bounded — unpruned or huge selections return None
        and the feed keeps its collect fallback."""
        total = 0
        out: dict[str, list[str]] = {}
        for d, fl in selection.items():
            if fl is None:
                return None
            total += len(fl)
            if total > cap:
                return None
            out[d] = list(fl)
        return out

    # ------------------------------------------------- equality deletes
    #
    # Iceberg v2's SECOND delete-file kind: where a position delete needs
    # a SCAN to find its rows, an equality delete just records KEY TUPLES
    # — write cost O(keys), independent of table and file size: the
    # streaming-CDC-upsert primitive. Sequencing follows Iceberg's
    # data-sequence-number rule, expressed at our manifest granularity as
    # ``applies_dirs``: an equality delete applies only to data
    # directories present when it committed — a row with the same key
    # appended LATER survives. Key columns are recorded by FIELD ID, so
    # renames cannot detach a delete from its column. Readers anti-join
    # each outstanding delete's broadcast keys against the applicable
    # dirs only; ``compact`` materializes and clears them (and the
    # tombstone-ratio policy triggers that automatically).

    # past this many keys the IN-plan's O(keys x files) driver cost
    # stops paying for itself; the arm falls back to the whole applies
    # scan (executors filter either way — pruning is an optimization)
    _EQ_ARM_PRUNE_MAX_KEYS = 256

    def _eq_arm_selection(
        self, manifest: dict, entry: dict
    ) -> dict[str, list[str] | None]:
        """The file selection for one equality-delete feed arm:
        ``applies_dirs`` whole, everything else pruned — tightened by
        the key column's stats/bloom plan for bounded single-column key
        sets (key files are CDC-batch-sized by design; one pyarrow
        column read at plan time)."""
        applies = set(entry["applies_dirs"])
        sel: dict[str, list[str] | None] = {
            d: (None if d in applies else [])
            for d in manifest["data_dirs"]
        }
        mv = manifest.get("version")
        if len(entry["cols"]) != 1 or mv is None:
            return sel
        try:
            import pyarrow.parquet as pq

            kt = pq.read_table(
                os.path.join(self.path, entry["dir"]),
                columns=[entry["cols"][0]],
            )
            keys = [
                k for k in kt.column(entry["cols"][0]).unique().to_pylist()
                if k is not None
            ]
            if not keys or len(keys) > self._EQ_ARM_PRUNE_MAX_KEYS:
                return sel
            fids = manifest.get("field_ids") or {}
            id2cur = {i: n for n, i in fids.items()}
            cur_name = id2cur.get(entry["ids"][0], entry["cols"][0])
            insel = self._plan([("in", cur_name, keys)], mv, manifest)[0]
        except (OSError, ValueError, KeyError):
            return sel  # pruning is best-effort; the scan stays sound
        for d, files in insel.items():
            if d in applies and files is not None:
                sel[d] = files
        return sel

    def _clip_selection_to(
        self, sel: dict, scanned: dict, other: dict
    ) -> dict:
        """Selection entries restricted to files ALSO visible in the
        ``other`` manifest. Feed arms that re-derive rows from one side
        of a commit step (delete-vector / equality-delete matches) must
        not re-emit rows whose FILES changed visibility in the same
        step — those rows ride the file-level diff, and counting them
        here too double-books the change (caught by the randomized
        differential: CoW-hide, eq-delete the same key, rollback)."""
        other_dirs = set(other["data_dirs"])
        out: dict[str, list[str] | None] = {}
        for d, files in sel.items():
            if d not in other_dirs:
                out[d] = []
                continue
            ovis = self._visible_files(other, d)
            if ovis is None:
                out[d] = files
                continue
            oset = set(ovis)
            if files is None:
                files = self._dir_universe(
                    scanned, d, self.dir_stats(scanned, d)
                )
            out[d] = [f for f in files if f in oset]
        return out

    def _eq_matched_rows(
        self, manifest: dict, entry: dict, target: T.StructType,
        clip_to: dict | None = None,
        also_eqs: list | None = None,
        also_dvs: list | None = None,
    ) -> DataFrame:
        """Rows of ``manifest`` matched by ONE equality delete's keys
        within its ``applies_dirs`` — the change-feed primitive. The scan
        applies the manifest's OWN delete state first (position vectors
        and the other remaining equality deletes), so already-removed
        rows never re-enter. ``also_eqs``/``also_dvs``: sibling entries
        changing in the SAME feed step, applied so each row
        resurrects/deletes through exactly ONE arm (single-ownership —
        dv arms and earlier eq arms outrank this one).
        Single-column deletes prune the applies scan through the key
        column's footer stats/blooms first (a file whose bounds exclude
        every key provably contributes no matched row), so the arm's
        cost tracks the files the keys can live in, not the applies
        set."""
        sel = self._eq_arm_selection(manifest, entry)
        if clip_to is not None:
            sel = self._clip_selection_to(sel, manifest, clip_to)
        state = {
            **manifest,
            "delete_dirs": manifest.get("delete_dirs", []) + (also_dvs or []),
            "eq_deletes": [
                e for e in manifest.get("eq_deletes", [])
                if e["dir"] != entry["dir"]
            ] + (also_eqs or []),
        }
        out = self._live_rows(state, target, sel)
        if out is None:
            return local_frame(self.spark, [], target)
        keys, on = self._eq_key_join(out, manifest, entry)
        hit = out.join(keys, on, "left_semi")
        return hit.select(*[F.col(f.name) for f in target.fields])

    def version_as_of(self, ts_ms: int) -> int:
        """The snapshot visible at epoch-millis ``ts_ms``: the LARGEST
        version committed at or before it (Iceberg's
        ``FOR TIMESTAMP AS OF`` resolution). Raises if the timestamp
        precedes the first commit."""
        cands = [
            m["version"]
            for m in self.versions()
            if m["committed_at_ms"] <= ts_ms
        ]
        if not cands:
            raise ValueError(
                f"no snapshot at or before {ts_ms} ms in {self.path}"
            )
        return max(cands)

    def current_version(self) -> int | None:
        return self.protocol.read_current()

    def versions(self) -> list[dict]:
        """All snapshot manifests, oldest first (the snapshot log)."""
        return [self._manifest(v) for v in self.protocol.list_versions()]

    def read_changes(self, from_version: int, to_version: int | None = None) -> DataFrame:
        """Incremental scan: rows ADDED after ``from_version`` up to
        ``to_version`` (default current) — Iceberg's incremental-append
        scan, the primitive an incremental training pipeline consumes
        ("process only the documents ingested since my last run").

        Valid across append/rollback-of-append chains only: an overwrite
        between the two versions rewrites history, so there is no
        well-defined delta — we raise rather than silently replay the
        whole table."""
        to_v = to_version if to_version is not None else self.current_version()
        if to_v is None or from_version > to_v:
            raise ValueError(f"bad version range: {from_version}..{to_v}")
        base_m = self._manifest(from_version)
        base = set(base_m["data_dirs"])
        head = self._manifest(to_v)
        if not base <= set(head["data_dirs"]):
            raise ValueError(
                f"snapshot {to_v} is not an append descendant of "
                f"{from_version} (an overwrite intervened); read the full "
                f"snapshot instead"
            )
        if set(head.get("delete_dirs", [])) != set(base_m.get("delete_dirs", [])):
            raise ValueError(
                f"snapshot {to_v} is not an append descendant of "
                f"{from_version} (merge-on-read delete vectors changed); "
                f"read the full snapshot instead"
            )
        if [e["dir"] for e in head.get("eq_deletes", [])] != [
            e["dir"] for e in base_m.get("eq_deletes", [])
        ]:
            raise ValueError(
                f"snapshot {to_v} is not an append descendant of "
                f"{from_version} (equality deletes changed); read the "
                f"change feed or the full snapshot instead"
            )
        for d in base:
            bvis = self._visible_files(base_m, d)
            hvis = self._visible_files(head, d)
            shrunk = (hvis is not None) and (
                bvis is None or not set(bvis) <= set(hvis)
            )
            if shrunk:
                # a copy-on-write DELETE/UPDATE/MERGE removed rows from
                # this dir between the two versions: "rows added since"
                # is undefined, exactly like an overwrite
                raise ValueError(
                    f"snapshot {to_v} is not an append descendant of "
                    f"{from_version} (a row-level rewrite shrank '{d}'); "
                    f"read the full snapshot instead"
                )
        new_dirs = [d for d in head["data_dirs"] if d not in base]
        target = self.schema(to_v)
        if not new_dirs:
            if target is None:
                raise ValueError("no changes and no schema to shape an empty result")
            return local_frame(self.spark, [], target)
        def _one(d: str) -> DataFrame:
            if target is None:
                return self.spark.read.parquet(os.path.join(self.path, d))
            part = self._read_dir(head, d)
            dead, ren = self._dir_projection(head, d)
            if dead:
                part = part.drop(*dead)
            if ren:
                part = part.withColumnsRenamed(ren)
            # incremental reads see the same values a full read would:
            # absent columns fill their initial defaults
            return self._align(
                part, target, fill=self._initial_defaults(head)
            )

        parts = [_one(d) for d in new_dirs]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # ------------------------------------------------ change data feed
    #
    # Delta CDF / Iceberg changelog-scan parity, derived POST-HOC from
    # manifests (no write-time change files): between any two snapshots,
    # the visible-row multiset delta decomposes into
    #
    #   inserts = rows of files that BECAME visible (child dvs applied)
    #           ⊕ rows un-tombstoned by dvs that LEFT the snapshot
    #             (rollback resurrections)
    #   deletes = rows of files that LEFT visibility (parent dvs applied)
    #           ⊕ rows tombstoned by NEW delete vectors on surviving files
    #
    # so  parent ⊎ inserts ∖ deletes = child  holds as multisets for
    # EVERY commit kind — append, overwrite, CoW DELETE/UPDATE/MERGE
    # (removed candidate files vs the replacement dir), merge-on-read
    # (the tombstone files ARE the delete delta), rollback. A CoW UPDATE
    # therefore emits its candidates' unchanged rows as delete+insert
    # pairs — coarser than Delta's update_pre/postimage but net-correct,
    # which is what retraction consumers (IncrementalAggregate) need.
    # Commits tagged ``compact`` rearrange files without changing rows
    # (Delta's dataChange=false) and contribute NOTHING to the feed.
    #
    # Soundness of the dv terms rides the writer invariant that delete
    # vectors never overlap (MoR writers tombstone only rows that
    # survived all existing vectors); the scans below still anti-join
    # prior vectors defensively.

    CHANGE_TYPE_COL = "_change_type"
    CHANGE_VERSION_COL = "_commit_version"

    def read_change_feed(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Typed change rows for versions ``from_version+1 .. to_version``
        (default current): the table columns projected onto the END
        version's schema, plus ``_change_type`` (``'insert'`` |
        ``'delete'``) and ``_commit_version``. ``from_version = 0`` feeds
        the table from its first commit. Unlike :meth:`read_changes`,
        this never refuses on DML — rewrites become retraction pairs."""
        to_v = to_version if to_version is not None else self.current_version()
        if to_v is None or from_version > to_v or from_version < 0:
            raise ValueError(f"bad version range: {from_version}..{to_v}")
        target = self.schema(to_v)
        if target is None:
            raise ValueError("change feed needs a schema-carrying snapshot")
        known = set(self.protocol.list_versions())
        need = set(range(max(from_version, 1), to_v + 1))
        if not need <= known:
            raise ValueError(
                f"change feed {from_version}..{to_v} needs expired "
                f"snapshots {sorted(need - known)}; re-baseline from a "
                f"full read"
            )
        prev_m: dict = (
            self._manifest(from_version)
            if from_version > 0
            else {"data_dirs": [], "delete_dirs": []}
        )
        # Plan-size fold (the P11' technique applied to the feed): a
        # commit step that ONLY adds whole new dirs — plain appends, the
        # overwhelmingly common history shape — contributes exactly
        # "every row of the new dirs, stamped insert@v". Those arms fold
        # across ALL such steps in the range into ONE multi-path scan
        # with a dir→version stamp, so a 1000-append history feeds in
        # O(schema generations) scans, not O(commits). Steps that touch
        # visibility, delete vectors, or equality deletes keep their
        # per-commit arms (those are metadata-scale by construction).
        parts: list[DataFrame] = []
        fold_sel: dict[str, list[str] | None] = {}
        fold_ver: dict[str, int] = {}
        fold_src: dict[str, dict] = {}
        for v in range(from_version + 1, to_v + 1):
            cur_m = self._manifest(v)
            new_dirs = self._append_only_step(prev_m, cur_m)
            if new_dirs is None or any(d in fold_sel for d in new_dirs):
                # not foldable — or a dir RE-ENTERING visibility
                # (rollback past its removal) that already has a folded
                # arm at its first add: a second fold entry would
                # overwrite the first and lose that insert event, so
                # the whole step keeps per-commit arms
                parts.extend(self._pair_changes(prev_m, cur_m, target, v))
            else:
                for d in new_dirs:
                    fold_sel[d] = self._visible_files(cur_m, d)
                    fold_ver[d] = v
                    fold_src[d] = cur_m
            prev_m = cur_m
        if fold_sel:
            parts.append(
                self._folded_insert_arm(
                    prev_m, fold_sel, fold_ver, fold_src, target
                )
            )
        meta_fields = [
            T.StructField(self.CHANGE_TYPE_COL, T.StringType(), False),
            T.StructField(self.CHANGE_VERSION_COL, T.LongType(), False),
        ]
        if not parts:
            return local_frame(
                self.spark, [], T.StructType(list(target.fields) + meta_fields)
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _append_only_step(self, p: dict, c: dict) -> list[str] | None:
        """The new whole dirs of a commit step that is FOLDABLE into the
        change feed's multi-path insert scan, or None when the step must
        plan its own arms. Foldable means the step's entire feed
        contribution is "the new dirs' visible rows as inserts": nothing
        removed, shared-dir visibility unchanged, delete vectors and
        equality deletes untouched (they therefore cannot reference the
        new dirs' files — vectors are (file,pos)-scoped and equality
        deletes are ``applies_dirs``-scoped to dirs existing at THEIR
        commit). Compaction steps contribute nothing (dataChange=false)
        and fold as the empty list."""
        if str(c.get("mode", "")).startswith("compact"):
            return []
        p_dirs, c_dirs = list(p["data_dirs"]), list(c["data_dirs"])
        p_set = set(p_dirs)
        if p_set - set(c_dirs):
            return None  # dirs left visibility: per-commit delete arms
        if p.get("delete_dirs", []) != c.get("delete_dirs", []):
            return None
        if p.get("eq_deletes", []) != c.get("eq_deletes", []):
            return None
        for d in p_dirs:
            if self._visible_files(p, d) != self._visible_files(c, d):
                return None  # a shared dir's visible set moved
        new = [d for d in c_dirs if d not in p_set]
        # the version stamp extracts the first two path segments from
        # __dv_file; a dir outside the engine's `data/<commit>` naming
        # keeps per-commit arms rather than risking a bad extract
        if any(not re.fullmatch(r"[^/]+/[^/]+", d) for d in new):
            return None
        return new

    def _folded_insert_arm(
        self,
        end_m: dict,
        sel: dict[str, list[str] | None],
        ver: dict[str, int],
        src: dict[str, dict],
        target: T.StructType,
    ) -> DataFrame:
        """ONE insert arm covering every folded append step: a synthetic
        manifest over exactly the folded dirs (write-time schema/spec/
        field-ids from each dir's CREATING manifest, name resolution from
        the END manifest's field-id map) goes through the same
        ``_scan_parts`` folding the data read path uses, then
        ``_commit_version`` is stamped per row from a dir→version literal
        map over the scan's file-path meta column."""
        dirs = sorted(sel)
        synth = {
            "data_dirs": dirs,
            "dir_files": {d: f for d, f in sel.items() if f is not None},
            "dir_schemas": {
                d: src[d].get("dir_schemas", {}).get(d) for d in dirs
            },
            "partition_specs": {
                d: s
                for d in dirs
                if (s := src[d].get("partition_specs", {}).get(d))
            },
            "field_ids": end_m.get("field_ids"),
            "dir_field_ids": {
                d: m
                for d in dirs
                if (m := src[d].get("dir_field_ids", {}).get(d))
            },
        }
        scan = self._scan_parts(synth, target, with_meta=True)
        out = scan[0]
        for q in scan[1:]:
            out = out.unionByName(q)
        vmap = F.create_map(
            *[F.lit(x) for d in dirs for x in (d, ver[d])]
        )
        dir_of_row = F.regexp_extract(
            F.col("__dv_file"), r"^([^/]+/[^/]+)", 1
        )
        return out.select(
            *[F.col(f.name) for f in target.fields],
            F.lit("insert").alias(self.CHANGE_TYPE_COL),
            # every row's dir is in the map by construction; the
            # coalesce keeps the column non-nullable like the per-commit
            # arms' literal stamps
            F.coalesce(F.element_at(vmap, dir_of_row), F.lit(-1))
            .cast("long")
            .alias(self.CHANGE_VERSION_COL),
        )

    def _pair_changes(
        self, p: dict, c: dict, target: T.StructType, v: int
    ) -> list[DataFrame]:
        """The change-row parts of ONE commit step ``p → c``."""
        if str(c.get("mode", "")).startswith("compact"):
            return []  # dataChange=false: same rows, different files
        p_dirs, c_dirs = list(p["data_dirs"]), list(c["data_dirs"])
        removed_sel: dict[str, list[str] | None] = {d: [] for d in p_dirs}
        added_sel: dict[str, list[str] | None] = {d: [] for d in c_dirs}
        c_set = set(c_dirs)
        for d in p_dirs:
            if d not in c_set:
                removed_sel[d] = self._visible_files(p, d)  # None = whole
                continue
            if (
                self._visible_files(c, d) is None
                and self._visible_files(p, d) is None
            ):
                continue
            cfiles = set(self._dir_universe(c, d, self.dir_stats(c, d)))
            pfiles = set(self._dir_universe(p, d, self.dir_stats(p, d)))
            removed_sel[d] = sorted(pfiles - cfiles)
            added_sel[d] = sorted(cfiles - pfiles)
        p_set = set(p_dirs)
        for d in c_dirs:
            if d not in p_set:
                added_sel[d] = self._visible_files(c, d)  # None = whole

        parts: list[DataFrame] = []

        def stamp(df: DataFrame, kind: str) -> DataFrame:
            return df.select(
                *[F.col(f.name) for f in target.fields],
                F.lit(kind).alias(self.CHANGE_TYPE_COL),
                F.lit(v).cast("long").alias(self.CHANGE_VERSION_COL),
            )

        # files that LEFT visibility → deletes (minus rows the parent had
        # already tombstoned or equality-deleted — they were never
        # visible)
        if any(s is None or s for s in removed_sel.values()):
            rm = self._live_rows(p, target, removed_sel)
            if rm is not None:
                parts.append(stamp(rm, "delete"))
        # files that BECAME visible → inserts (minus rows the child
        # already tombstones — e.g. a later feed pair's dv target;
        # equality deletes are dir-aware, so fresh dirs pass untouched)
        if any(s is None or s for s in added_sel.values()):
            ad = self._live_rows(c, target, added_sel)
            if ad is not None:
                parts.append(stamp(ad, "insert"))
        # delete vectors that ARRIVED → deletes of surviving-file rows
        new_dvs = [
            d for d in c.get("delete_dirs", [])
            if d not in set(p.get("delete_dirs", []))
        ]
        if new_dvs:
            # arriving vectors too are clipped to the parent: a rollback
            # can bring a vector in alongside files the parent never had
            # (mor-delete -> compact -> rollback) — those rows were never
            # inserted (the file-insert arm applies the child's vectors),
            # so no delete may be emitted for them
            parts.append(
                stamp(
                    self._dv_matched_rows(c, new_dvs, target, clip_to=p),
                    "delete",
                )
            )
        # delete vectors that LEFT while their files stayed visible
        # (rollback past a MoR delete) → resurrected rows as inserts
        gone_dvs = [
            d for d in p.get("delete_dirs", [])
            if d not in set(c.get("delete_dirs", []))
        ]
        if gone_dvs:
            parts.append(
                stamp(
                    self._dv_matched_rows(c, gone_dvs, target, clip_to=p),
                    "insert",
                )
            )
        # equality deletes that ARRIVED → deletes of the keys' matched
        # rows in the PARENT's visible state; ones that LEFT while their
        # dirs stayed (rollback) → resurrections from the CHILD's state
        p_eqs = {e["dir"]: e for e in p.get("eq_deletes", [])}
        c_eqs = {e["dir"]: e for e in c.get("eq_deletes", [])}
        # an arm's rows must still be visible on the OTHER side of the
        # step too — rows whose files changed visibility in this same
        # step ride the file-level diff above, not the eq/dv arms.
        # SINGLE OWNERSHIP across arms changing in one step: a row
        # matched by several arriving/departing entries (the same key
        # eq-deleted twice, or tombstoned AND eq-deleted) must count
        # once — each eq arm also applies the earlier sibling entries,
        # and departure arms apply the departing vectors (dv arms own
        # their positions; arrival dv rows matching an arriving eq are
        # owned by the eq arm, since _dv_matched_rows applies c's eqs)
        arrived = [e for d2, e in c_eqs.items() if d2 not in p_eqs]
        for i, e in enumerate(arrived):
            parts.append(
                stamp(
                    self._eq_matched_rows(
                        p, e, target, clip_to=c,
                        also_eqs=arrived[:i],
                    ),
                    "delete",
                )
            )
        departed = [e for d2, e in p_eqs.items() if d2 not in c_eqs]
        for i, e in enumerate(departed):
            parts.append(
                stamp(
                    self._eq_matched_rows(
                        c, e, target, clip_to=p,
                        also_eqs=departed[:i],
                        also_dvs=gone_dvs,
                    ),
                    "insert",
                )
            )
        return parts

    def _dv_matched_rows(
        self, manifest: dict, dv_dirs: list[str], target: T.StructType,
        clip_to: dict | None = None,
    ) -> DataFrame:
        """Rows of ``manifest``'s VISIBLE files matched by the given
        delete vectors: the scan opens only the files the vectors name,
        then semi-joins on (file, pos). Restricting to the manifest's
        visible set keeps removed-file rows out (they are counted by the
        file-level diff).

        File discovery (r15): the MoR DML paths record each vector dir's
        pruned candidate selection IN the manifest (``dv_candidates``) —
        a guaranteed superset of the files the vectors name, because the
        tombstones were computed from exactly that scan — so the common
        case is pure metadata: no Spark job to list the vectors' files.
        Vectors without a recorded selection (unpruned DML, pre-r15
        manifests, very large candidate sets) fall back to the bounded
        distinct-file collect. A superset only widens the semi-join's
        probe side; the (file, pos) join keeps row membership exact."""
        dv = self._read_delete_vectors(dv_dirs)
        rec = manifest.get("dv_candidates") or {}
        cand_sels = [rec.get(d) for d in dv_dirs]
        sel: dict[str, list[str] | None] = {
            d: [] for d in manifest["data_dirs"]
        }
        if dv_dirs and all(s is not None for s in cand_sels):
            for s in cand_sels:
                for dd, fl in s.items():
                    cur = sel.get(dd)
                    if cur is None or dd not in sel:
                        continue  # dir gone from visibility / whole-dir
                    have = set(cur)
                    cur.extend(f for f in fl if f not in have)
        else:
            files = [
                r["file"] for r in dv.select("file").distinct().collect()
            ]
            for rel in files:
                for d in manifest["data_dirs"]:
                    if rel.startswith(d + "/"):
                        lst = sel[d]
                        if lst is not None:
                            lst.append(rel[len(d) + 1:])
                        break
        if clip_to is not None:
            sel = self._clip_selection_to(sel, manifest, clip_to)
        # the manifest's OWN equality deletes apply first: a row they
        # suppress is not visible on this side, so a vector that targets
        # it must not emit it (rollback to a version with outstanding
        # equality deletes — differential-found)
        out = self._live_rows(
            {**manifest, "delete_dirs": []}, target, sel, keep_meta=True
        )
        if out is None:
            return local_frame(self.spark, [], target)
        hit = out.join(
            dv,
            (out["__dv_file"] == dv["file"]) & (out["__dv_pos"] == dv["pos"]),
            "left_semi",
        )
        return hit.select(*[F.col(f.name) for f in target.fields])

    # ------------------------------------------------------ row-level DML
    #
    # The Trino-over-Iceberg-v2 surface the reference engine exposes
    # (DELETE FROM / UPDATE / MERGE INTO, Trino 467 per reference
    # docker-compose.yaml:153): committed files are never mutated. Every
    # DELETE, UPDATE, MERGE and REPLACE WHERE entry point below is a thin
    # wrapper over ONE core:
    #
    # - ``_row_dml`` is the optimistic attempt loop. Each attempt pins the
    #   head version and reads its manifest ONCE — schema, constraints,
    #   partition layout, sort order, generated columns, txn watermarks
    #   and the delete state all come from that dict. It plans the
    #   candidate files through ``_dml_plan`` (manifest stats prune them:
    #   at 100 TB a keyed DELETE touches the few files the stats admit,
    #   not the table), runs one writer, and publishes.
    # - ``_match`` is the matcher: one fire flag per candidate row, from a
    #   Column condition or, for subquery conditions, from SQL over a temp
    #   view. UPDATE's assignments are one projection over that flag
    #   (``_assign``), GENERATED recompute included.
    # - Three writers write their files and return a manifest edit plus
    #   the statement's result info: the copy-on-write rewrite
    #   (``_write_rewrite``: replacement rows into a fresh data dir, the
    #   candidate files leave visibility), position deletes
    #   (``_write_positions``: (file, pos) tombstones, plus the updated
    #   rows for UPDATE) and equality deletes (``_write_eq``: one key
    #   file, plus the source rows for the MERGE upsert). The last two
    #   are merge-on-read: readers anti-join the deletes until
    #   ``compact`` materializes them.
    # - ``_publish_dml`` is the one commit build: it refuses a head that
    #   moved since the pin, applies the edit to the pinned manifest and
    #   stamps the snapshot fields. A lost race raises ``CommitConflict``
    #   and the loop replans against the new head (Iceberg's
    #   validate-and-retry); a failed attempt's files are unreferenced
    #   garbage for ``vacuum``.

    _DML_RETRIES = 3
    # the matcher's fire-flag column on candidate rows
    _FIRE = "__dml_fire"

    def delete_where(
        self,
        condition: "str | F.Column",
        prune_column: str | None = None,
        prune_lower=None,
        prune_upper=None,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        prune_preds: list[tuple[str, object, object]] | None = None,
        run_sql=None,
        alias: str | None = None,
    ) -> dict:
        """``DELETE FROM t WHERE condition`` as a pruned copy-on-write
        rewrite. Rows where the condition is TRUE are removed; FALSE and
        NULL survive (SQL DELETE semantics). ``prune_column`` + bounds
        (or ``prune_preds``) restrict the rewrite to files whose manifest
        stats intersect them — files outside provably contain no matching
        row ONLY if the caller's bounds really cover the condition, so
        bounds must be implied by the condition (e.g. the condition's own
        BETWEEN range, or the non-subquery conjuncts of a subquery
        condition). ``run_sql`` / ``alias`` carry a subquery condition
        (see ``_match``). Returns ``{"version", "files_rewritten",
        "files_skipped"}``."""

        def transform(cand: DataFrame, m: dict, target) -> DataFrame:
            fired = self._match(cand, condition, run_sql, alias)
            return fired.filter(~F.col(self._FIRE)).drop(self._FIRE)

        return self._rewrite_where(
            "delete", transform,
            (prune_preds, prune_column, prune_lower, prune_upper),
            stats_for, bloom_for,
        )

    def update_where(
        self,
        condition: "str | F.Column",
        assignments: dict[str, "str | F.Column"],
        prune_column: str | None = None,
        prune_lower=None,
        prune_upper=None,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        prune_preds: list[tuple[str, object, object]] | None = None,
        run_sql=None,
        alias: str | None = None,
    ) -> dict:
        """``UPDATE t SET col = expr, ... WHERE condition`` as a pruned
        copy-on-write rewrite: candidate rows where the condition is TRUE
        take the assigned expressions (``_assign``); FALSE/NULL rows pass
        through unchanged. Same pruning contract, subquery conditions and
        return shape as ``delete_where``."""

        def transform(cand: DataFrame, m: dict, target) -> DataFrame:
            self._check_assignments(assignments, m, target)
            fired = self._match(cand, condition, run_sql, alias, assignments)
            return self._assign(fired, assignments, m, target)

        return self._rewrite_where(
            "update", transform,
            (prune_preds, prune_column, prune_lower, prune_upper),
            stats_for, bloom_for,
        )

    def replace_where(
        self,
        df: DataFrame,
        condition: "str | F.Column",
        prune_preds: list[tuple[str, object, object]] | None = None,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        enforce: bool = True,
    ) -> dict:
        """Delta's ``replaceWhere``: atomically replace exactly the rows
        matching ``condition`` with ``df`` — ONE commit carrying both
        the deletion (as a visibility shrink of the pruned candidate
        files) and the new data, so readers never observe the gap a
        DELETE-then-INSERT pair would expose. ``enforce`` (Delta's
        default) validates every incoming row satisfies the condition —
        a replacement that silently leaks rows outside its declared
        slice corrupts the other slices' ownership.

        ``prune_preds`` scopes the rewrite to files whose manifest
        bounds admit the condition (same contract as ``delete_where``);
        at 100 TB a day-scoped replace rewrites one day's files, never
        the table."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        if enforce:
            n_bad = df.filter(
                ~F.coalesce(cond, F.lit(False))
            ).limit(1).count()
            if n_bad:
                raise ValueError(
                    "replaceWhere: incoming rows fall OUTSIDE the "
                    "replaced predicate; fix the data or pass "
                    "enforce=False to accept them"
                )

        # GENERATED columns hold on the replacement slice too: compute
        # when absent, refuse inconsistent values (same contract as
        # commit — replace_where writes through its own path)
        df = self._apply_generated(df, self.current_version())

        def transform(cand: DataFrame, m: dict, target) -> DataFrame:
            fired = self._match(cand, cond)
            survivors = fired.filter(~F.col(self._FIRE)).drop(self._FIRE)
            return survivors.unionByName(df, allowMissingColumns=True)

        return self._rewrite_where(
            "replace_where", transform, (prune_preds, None, None, None),
            stats_for, bloom_for,
        )

    def merge_rows(
        self,
        source: DataFrame,
        keys: list[str],
        when_matched: str | None = "update",
        matched_condition: str | None = None,
        when_not_matched: str | None = "insert",
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
        matched_assignments: dict[str, str] | None = None,
        insert_values: dict[str, str] | None = None,
        source_keys: list[str] | None = None,
        when_not_matched_by_source: str | None = None,
        not_matched_by_source_condition: str | None = None,
        not_matched_by_source_assignments: dict[str, str] | None = None,
    ) -> dict:
        """``MERGE INTO t USING source ON keys`` with the full clause
        matrix of ``operators.upsert.merge``, as a pruned copy-on-write
        rewrite: candidate files are those whose stats on ``keys[0]``
        intersect the SOURCE's key range (two driver scalars) — files
        outside it provably hold no matching key, so target-survivor and
        insert anti-joins both restrict to the candidate slice. DELETE,
        UPDATE and MERGE thus share one pruned-rewrite path (Iceberg/Delta
        parity). Source schema must match the table schema.

        A ``WHEN NOT MATCHED BY SOURCE`` clause DISABLES the key-range
        pruning: unmatched target rows OUTSIDE the source range must
        fire it too, so every file is a candidate (the clause is
        inherently whole-table — same in Delta)."""
        from oss_data_lake_spark.operators.upsert import merge

        # only the STAR forms need the full table schema from the source
        # (non-star clauses and BY SOURCE-only merges reference just
        # their named columns plus the keys)
        star_shapes = (
            (when_matched == "update" and not matched_assignments)
            or (when_not_matched == "insert" and not insert_values)
        )
        whole_table = when_not_matched_by_source is not None
        if whole_table:
            lo = hi = None
        else:
            skey0 = (source_keys or keys)[0]
            src = source
            plan = source._jdf.queryExecution().optimizedPlan()
            if plan.stats().sizeInBytes() <= SMALL_SCAN_BYTES:
                # a small source's bounds in one job, with no shuffle;
                # the merge join below keeps the source's partitions
                src = source.coalesce(1)
            bounds = src.agg(
                F.min(skey0).alias("lo"), F.max(skey0).alias("hi")
            ).first()
            lo, hi = bounds["lo"], bounds["hi"]

        def transform(cand: DataFrame, m: dict, target) -> DataFrame:
            # MERGE has no recompute projection: refuse touching a
            # GENERATED column or its inputs through SET/VALUES (star
            # forms copy the source row wholesale, and commit-side
            # validation does not run on this path, so star merges on
            # generated-column tables refuse outright)
            if self._generated_of(m.get("column_defaults")):
                for a in (matched_assignments, insert_values,
                          not_matched_by_source_assignments):
                    if a:
                        self._check_assignments(
                            a, m, target, inputs_too=True
                        )
                if star_shapes:
                    raise ValueError(
                        "star-form MERGE (UPDATE SET * / INSERT *) is not "
                        "supported on a table with GENERATED columns: the "
                        "source row would overwrite derived values "
                        "unvalidated — name the columns explicitly, or use "
                        "INSERT INTO / UPDATE"
                    )
            names = {f.name for f in target.fields}
            if star_shapes and set(source.columns) != names:
                raise ValueError(
                    f"merge source schema mismatch: "
                    f"source={sorted(source.columns)} table={sorted(names)}"
                )
            # non-star clauses keep the source's OWN (possibly narrower)
            # schema: the assignment/VALUES expressions reference it
            return merge(
                cand,
                self._align(source, target) if star_shapes else source,
                keys,
                when_matched=when_matched,
                matched_condition=matched_condition,
                when_not_matched=when_not_matched,
                matched_assignments=matched_assignments,
                insert_values=insert_values,
                source_keys=source_keys,
                when_not_matched_by_source=when_not_matched_by_source,
                not_matched_by_source_condition=(
                    not_matched_by_source_condition
                ),
                not_matched_by_source_assignments=(
                    not_matched_by_source_assignments
                ),
            )

        return self._rewrite_where(
            "merge", transform,
            (None, None if whole_table else keys[0], lo, hi),
            stats_for, bloom_for,
        )

    def delete_where_mor(
        self,
        condition: "str | F.Column",
        prune_column: str | None = None,
        prune_lower=None,
        prune_upper=None,
        prune_preds: list | None = None,
    ) -> dict:
        """MERGE-ON-READ ``DELETE``: position deletes for the matching
        rows instead of rewriting their files. Same pruning contract as
        ``delete_where``; cost is one pruned scan + a tiny parquet write,
        independent of how large the candidate FILES are. Readers pay an
        anti-join until ``compact()`` materializes the deletes. Returns
        ``{"version", "files_scanned", "files_skipped", "mode":
        "merge-on-read"}``."""
        return self._row_dml(
            "delete_mor",
            functools.partial(self._write_positions, condition, None, None),
            (prune_preds, prune_column, prune_lower, prune_upper),
        )

    def update_where_mor(
        self,
        condition: "str | F.Column",
        assignments: dict[str, "str | F.Column"],
        prune_column: str | None = None,
        prune_lower=None,
        prune_upper=None,
        prune_preds: list | None = None,
        stats_for: list[str] | None = None,
    ) -> dict:
        """MERGE-ON-READ ``UPDATE``: tombstone the matching rows and
        append their updated versions — ONE atomic commit, zero candidate
        files rewritten (Delta's deletion-vector update). Write volume is
        O(matched rows), not O(candidate files). Assignments see the
        pre-update row; constraints gate the updated rows. Same return
        shape as ``delete_where_mor``."""
        return self._row_dml(
            "update_mor",
            functools.partial(
                self._write_positions, condition, assignments, stats_for
            ),
            (prune_preds, prune_column, prune_lower, prune_upper),
        )

    def delete_where_eq(
        self, columns: "str | list[str]", keys
    ) -> dict:
        """Keyed DELETE as an equality-delete file: drop every CURRENT
        row whose ``columns`` tuple appears in ``keys`` (a DataFrame of
        key tuples, a list of scalars for one column, or a list of
        tuples). No data file is read or written — one tiny parquet of
        keys plus a metadata commit. Returns ``{"version", "n_keys",
        "mode": "equality-delete"}``."""
        cols = [columns] if isinstance(columns, str) else list(columns)
        if not cols:
            raise ValueError("equality delete needs at least one column")
        if not isinstance(keys, DataFrame):
            rows = [
                tuple(k) if isinstance(k, (tuple, list)) else (k,)
                for k in keys
            ]
            if not rows:
                raise ValueError("equality delete needs at least one key")

        def key_rows(m: dict, target) -> tuple[DataFrame, None]:
            if isinstance(keys, DataFrame):
                return keys.select(*cols).distinct(), None
            ftypes = {f.name: f.dataType for f in target.fields}
            missing = [c for c in cols if c not in ftypes]
            if missing:
                raise ValueError(f"no such columns: {missing}")
            # SQL-parsed literals arrive as raw Python str/int/float
            # (DELETE ... WHERE ts = TIMESTAMP '...' yields a str);
            # coerce each value to the column's declared type so the
            # typed local_frame below never trips Spark's verifier
            typed = [
                tuple(
                    _coerce_key_value(v, ftypes[c])
                    for v, c in zip(r, cols)
                )
                for r in rows
            ]
            return local_frame(
                self.spark,
                typed,
                T.StructType([T.StructField(c, ftypes[c], True) for c in cols]),
            ).distinct(), None

        return self._row_dml(
            "delete_eq",
            functools.partial(
                self._write_eq, cols, key_rows, "equality DELETE", None
            ),
        )

    def merge_rows_mor(
        self,
        source: DataFrame,
        keys: list[str],
        stats_for: list[str] | None = None,
    ) -> dict:
        """MERGE-ON-READ upsert (``WHEN MATCHED THEN UPDATE SET * /
        WHEN NOT MATCHED THEN INSERT *``): ONE atomic commit writing an
        equality-delete file on the source's key tuples plus the source
        rows as a fresh data dir (exempt from the delete by sequencing).
        Cost is O(source) — zero target files read or written: the
        streaming-CDC-upsert primitive. Richer clause forms (DELETE
        clauses, matched conditions) need the CoW ``merge_rows``."""

        def upsert_rows(m: dict, target) -> tuple[DataFrame, DataFrame]:
            if self._generated_of(m.get("column_defaults")):
                raise ValueError(
                    "merge-on-read upsert is not supported on a table with "
                    "GENERATED columns: the source rows would land "
                    "unvalidated — use copy-on-write MERGE with explicit "
                    "assignments, or INSERT INTO"
                )
            names = {f.name for f in target.fields}
            if set(source.columns) != names:
                raise ValueError(
                    f"merge source schema mismatch: "
                    f"source={sorted(source.columns)} table={sorted(names)}"
                )
            src = self._align(source, target)
            cons = m.get("constraints")
            if cons:
                self._enforce(cons, src, context="this merge")
            return src.select(*keys).distinct(), src

        return self._row_dml(
            "merge_mor",
            functools.partial(
                self._write_eq, list(keys), upsert_rows,
                "merge-on-read MERGE", stats_for,
            ),
        )

    # ------------------------------------------------------ the DML core

    def _row_dml(self, tag: str, write, plan: tuple | None = None) -> dict:
        """Run one row-level DML statement. Per attempt: pin the head
        ``v`` and read its manifest ``m`` once; plan the candidate files
        (``plan`` = ``(prune_preds, prune_column, lower, upper)`` for
        ``_dml_plan``; None for a writer that reads no data); call
        ``write(v, m, target, planned)``, which writes its files and
        returns ``(files, info)``; publish the file-set edit ``files`` as
        snapshot ``v + 1``. ``files`` of None commits nothing. Returns
        ``info`` with the published (or pinned) ``version`` first."""
        last_err: Exception | None = None
        for _attempt in range(self._DML_RETRIES):
            v = self.current_version()
            if v is None:
                raise ValueError(f"no snapshots at {self.path}")
            m = self._manifest(v)
            if m.get("schema") is None:
                raise ValueError(
                    f"{tag} needs a schema-carrying snapshot "
                    "(legacy manifest: recommit first)"
                )
            target = T.StructType.fromJson(m["schema"])
            planned = None if plan is None else self._dml_plan(m, *plan)
            files, info = write(v, m, target, planned)
            if files is None:
                return {"version": v, **info}
            try:
                return {"version": self._publish_dml(v, m, tag, files), **info}
            except CommitConflict as e:
                last_err = e  # head moved: replan against the new head
        raise CommitConflict(
            f"{tag} on {self.path} lost {self._DML_RETRIES} optimistic "
            f"retries to concurrent commits"
        ) from last_err

    def _dml_plan(
        self, m: dict, prune_preds, prune_column, prune_lower, prune_upper
    ) -> tuple[dict[str, list[str] | None], int, int]:
        """The candidate files of a row-level DML in manifest ``m``: the
        SQL-text conjuncts (``prune_preds``), else the ``prune_column``
        range (range-only, as ``plan_range_scan``), else the whole table.
        A whole-table plan reports the REAL file count, not 0/0 —
        operation metrics are what cost monitoring reads."""
        if prune_preds:
            return self.plan_pruned(prune_preds, manifest=m)
        if prune_column is not None:
            return self.plan_range_scan(
                prune_column, prune_lower, prune_upper, manifest=m
            )
        n_sel = sum(
            len(self._dir_universe(m, d, self.dir_stats(m, d)))
            for d in m["data_dirs"]
        )
        return {d: None for d in m["data_dirs"]}, n_sel, 0

    def _match(
        self, cand: DataFrame, condition, run_sql=None, alias=None,
        assignments: dict | None = None,
    ) -> DataFrame:
        """The matcher: ``cand`` plus the fire flag ``_FIRE`` — TRUE where
        the condition holds, FALSE where it is FALSE or NULL (SQL DML
        semantics) — computed once per candidate row, and for an UPDATE
        one ``__dml_set_<i>`` column per assignment (in ``assignments``
        order) holding its value on fired rows. Every expression of the
        statement is evaluated here, in the statement's scope.

        A Spark Column cannot hold a subquery (Trino accepts ``k IN
        (SELECT ...)``, ``EXISTS (...)`` and scalar comparisons in DML
        statements), so with ``run_sql(text) -> DataFrame`` the condition
        and assignments (SQL text) run as SQL over a temp view of the
        candidates: Catalyst plans a subquery as a real (broadcast-able)
        join, never a driver-side collect. The SQL layer passes
        ``sql_with_time_travel``, so inner SELECTs see every registered
        snapshot table (and AS-OF clauses). ``alias`` (the statement's
        target name) lets correlated subqueries and assignments reference
        the candidate row as ``t.col``; an inner ``FROM t`` still
        resolves to the table's pre-statement snapshot (the alias is not
        in scope for an inner FROM — standard SQL). The view is dropped
        as soon as the statement is analyzed."""
        values = list((assignments or {}).values())
        if run_sql is None:
            cond = F.expr(condition) if isinstance(condition, str) else condition
            tagged = cand.select(
                "*", F.coalesce(cond, F.lit(False)).alias(self._FIRE)
            )
            if not values:
                return tagged
            fire = F.col(self._FIRE)
            return tagged.select("*", *[
                F.when(fire, F.expr(a) if isinstance(a, str) else a)
                .alias(f"__dml_set_{i}")
                for i, a in enumerate(values)
            ])
        view = f"__dml_cand_{uuid.uuid4().hex[:8]}"
        as_alias = f" AS {alias}" if alias and "." not in alias else ""
        # the condition's fire flag materializes in the inner SELECT, so
        # N assignments do not plan N copies of a subquery join
        sql = (
            f"SELECT *, coalesce(({condition}), false) AS {self._FIRE} "
            f"FROM {view}{as_alias}"
        )
        if values:
            sets = ", ".join(
                f"CASE WHEN {self._FIRE} THEN ({a}) END AS __dml_set_{i}"
                for i, a in enumerate(values)
            )
            sql = f"SELECT *, {sets} FROM ({sql}){as_alias}"
        cand.createOrReplaceTempView(view)
        try:
            return run_sql(sql)
        finally:
            self.spark.catalog.dropTempView(view)

    def _check_assignments(
        self, assignments: dict, m: dict, target: T.StructType,
        inputs_too: bool = False,
    ) -> None:
        """Refuse assignments to unknown columns and to a GENERATED column
        (its value derives from other columns). ``inputs_too``: the
        conservative paths (merge-on-read UPDATE, MERGE) also refuse
        assigning a generated column's INPUT columns."""
        names = {f.name for f in target.fields}
        unknown = set(assignments) - names
        if unknown:
            raise ValueError(
                f"UPDATE assigns unknown columns: {sorted(unknown)}"
            )
        gens = self._generated_of(m.get("column_defaults"))
        hit = sorted(set(assignments) & set(gens))
        if hit:
            raise ValueError(
                f"cannot assign GENERATED column(s) {hit}: their values "
                f"derive from other columns"
            )
        if not inputs_too:
            return
        for g, inputs in self._generated_inputs(gens, names).items():
            bad = sorted(set(assignments) & inputs)
            if bad:
                raise ValueError(
                    f"this UPDATE path cannot assign {bad}: GENERATED "
                    f"column '{g}' derives from them and only "
                    f"copy-on-write UPDATE recomputes (set "
                    f"delete.mode=copy-on-write)"
                )

    def _assign(
        self, tagged: DataFrame, assignments: dict, m: dict,
        target: T.StructType,
    ) -> DataFrame:
        """The UPDATE projection over the matcher's output: fired rows
        take the assigned values (evaluated by ``_match`` against the
        PRE-update row — standard SQL: every assignment sees the old
        values) cast to the column type, then re-derive their GENERATED
        columns from the post-assignment values (Delta's recompute);
        unfired rows keep their committed values. Returns the ``target``
        columns."""
        fire = F.col(self._FIRE)
        slot = {c: f"__dml_set_{i}" for i, c in enumerate(assignments)}
        cols = [
            F.when(fire, F.col(slot[f.name]).cast(f.dataType))
            .otherwise(F.col(f.name))
            .alias(f.name)
            if f.name in slot
            else F.col(f.name)
            for f in target.fields
        ]
        out = tagged.select(*cols, fire)
        types = {f.name: f.dataType for f in target.fields}
        for g, gexpr in self._generated_of(m.get("column_defaults")).items():
            out = out.withColumn(
                g,
                F.when(fire, F.expr(gexpr).cast(types.get(g)))
                .otherwise(F.col(g)),
            )
        return out.drop(self._FIRE)

    def _rewrite_where(
        self, tag: str, transform, plan: tuple, stats_for, bloom_for
    ) -> dict:
        """A copy-on-write statement: ``transform(cand, m, target)`` maps
        the live candidate rows to their replacement."""
        return self._row_dml(
            tag,
            functools.partial(
                self._write_rewrite, tag, transform, stats_for, bloom_for
            ),
            plan,
        )

    def _write_rewrite(
        self, tag, transform, stats_for, bloom_for, v, m, target, planned
    ):
        """The copy-on-write writer: the replacement of the candidate
        rows goes into one fresh data dir under the table's current
        partition layout and declared sort order; the edit hides the
        candidate files (``dir_files`` shrink) and adds the new dir.
        Non-candidate files are untouched."""
        selection, n_sel, n_skip = planned
        cand = self._live_rows(m, target, selection)
        if cand is None:
            cand = local_frame(self.spark, [], target)
        replacement = self._align(transform(cand, m, target), target)
        cons = m.get("constraints")
        if cons and tag != "delete":  # deletes can't create violating rows
            self._enforce(cons, replacement, context=f"this {tag}")
        new_dir = f"data/r{v + 1}-{uuid.uuid4().hex[:8]}"
        # the replacement keeps the table's CURRENT partition layout
        # (identity or hidden transform) — CoW DML must not erode a
        # partitioned table into unpartitioned accretion
        parsed = [parse_partition_entry(c) for c in self._partition_by_of(m)]
        if not all(
            (tr["source"] if tr else p) in replacement.columns
            for p, tr in parsed
        ):
            parsed = []  # layout's source column gone: plain write
        phys = [p for p, _ in parsed]
        trs: dict[str, dict] = {}
        write_df = replacement
        dtypes = dict(replacement.dtypes)
        for pcol, tr in parsed:
            if tr is not None:
                tr = {**tr, "vtype": dtypes[tr["source"]]}
                trs[pcol] = tr
                write_df = write_df.withColumn(
                    pcol, self._transform_expr(tr)
                )
        # the replacement honors a declared sort order too (same
        # contract as commit()): rewritten survivors come back out
        # range-clustered with their stats, so CoW DML never erodes
        # the WRITE ORDERED BY layout
        so_cols = [
            c
            for c in (m.get("declared_sort_order") or [])
            if c in write_df.columns
        ]
        if so_cols:
            so_keys = phys + [c for c in so_cols if c not in phys]
            write_df = write_df.repartitionByRange(
                *[F.col(c) for c in so_keys]
            ).sortWithinPartitions(*so_keys)
            stats_for = list(
                dict.fromkeys(
                    (stats_for or [])
                    + [c for c in so_cols if c not in phys]
                )
            )
        self._write_data_dir(write_df, new_dir, phys or None)
        own_stats = self._harvest_stats(
            new_dir,
            [c for c in (stats_for or []) if c not in set(phys)] or None,
            bloom_for,
        )
        new_dir_schema = write_df.schema.jsonValue()

        dirs: list[str] = []
        dir_files: dict[str, list[str]] = {}
        for d in m["data_dirs"]:
            sel = selection.get(d)
            if sel is None:
                continue  # whole dir was rewritten: no longer visible
            if sel == []:
                dirs.append(d)
                vis = self._visible_files(m, d)
                if vis is not None:
                    dir_files[d] = vis
                continue
            removed = set(sel)
            new_vis = [
                f
                for f in self._dir_universe(m, d, self.dir_stats(m, d))
                if f not in removed
            ]
            if not new_vis:
                continue  # every remaining file rewritten
            dirs.append(d)
            dir_files[d] = new_vis
        keep = set(dirs)
        fids = m.get("field_ids") or {}

        def kept(key: str) -> dict:
            return {d: s for d, s in m.get(key, {}).items() if d in keep}

        # per-dir maps keep only the surviving dirs; delete vectors stay
        # (those of rewritten files become vacuous: their files left
        # visibility); table-level fields carry over
        files = {
            "data_dirs": dirs + [new_dir],
            # the replacement dir is written under CURRENT names
            "dir_field_ids": {
                **kept("dir_field_ids"),
                **({new_dir: self._dir_ids(fids, target)} if fids else {}),
            },
            "partition_specs": {**kept("partition_specs"), new_dir: list(phys)},
            "partition_transforms": {
                **kept("partition_transforms"),
                **({new_dir: trs} if trs else {}),
            },
            "dir_schemas": {**kept("dir_schemas"), new_dir: new_dir_schema},
            "dir_files": dir_files,
            # equality deletes keep applying to surviving dirs; the
            # replacement dir is exempt (its rows were read THROUGH the
            # deletes); entries with no surviving dir drop
            "eq_deletes": [
                {**e, "applies_dirs": still}
                for e in m.get("eq_deletes", [])
                for still in [
                    [d for d in e.get("applies_dirs", []) if d in keep]
                ]
                if still
            ],
            "file_stats": {
                **kept("file_stats"),
                **({new_dir: own_stats} if own_stats else {}),
            },
        }
        return files, {"files_rewritten": n_sel, "files_skipped": n_skip}

    def _write_positions(
        self, condition, assignments, stats_for, v, m, target, planned
    ):
        """The position-delete writer (merge-on-read): (file, pos)
        tombstones for the fired rows instead of rewriting their files,
        so write volume is O(fired rows), not O(candidate files). With
        ``assignments`` (UPDATE) the updated rows land as a fresh data
        dir in the same commit. The pruned candidate selection is
        recorded as ``dv_candidates`` for the change feed. A selection
        with no file to scan commits nothing."""
        selection, n_sel, n_skip = planned
        info = {
            "files_scanned": n_sel, "files_skipped": n_skip,
            "mode": "merge-on-read",
        }
        kind = "DELETE" if assignments is None else "UPDATE"
        self._require_local_dirs(m, f"merge-on-read {kind}")
        if assignments is not None:
            self._check_assignments(assignments, m, target, inputs_too=True)
        cand = self._live_rows(m, target, selection, keep_meta=True)
        if cand is None:
            return None, info
        fired = self._match(
            cand, condition, assignments=assignments
        ).filter(F.col(self._FIRE))
        if assignments is not None:
            updated = self._assign(fired, assignments, m, target)
            cons = m.get("constraints")
            if cons:
                self._enforce(cons, updated, context="this update")
        dv_dir = f"deletes/dv{v + 1}-{uuid.uuid4().hex[:8]}"
        write_parquet(
            self.spark,
            fired.select(
                F.col("__dv_file").alias("file"),
                F.col("__dv_pos").alias("pos"),
            ),
            os.path.join(self.path, dv_dir),
        )
        data_dir = own_stats = None
        if assignments is not None:
            data_dir = f"data/u{v + 1}-{uuid.uuid4().hex[:8]}"
            self._write_data_dir(updated, data_dir)
            own_stats = self._harvest_stats(data_dir, stats_for, None)
        dv_cands = self._recordable_dv_candidates(selection)

        files = {
            **self._with_data_dir(m, data_dir, target, own_stats),
            "delete_dirs": m.get("delete_dirs", []) + [dv_dir],
        }
        if dv_cands is not None:
            files["dv_candidates"] = {
                **m.get("dv_candidates", {}), dv_dir: dv_cands,
            }
        return files, info

    def _write_eq(
        self, cols, rows_of, op, stats_for, v, m, target, planned
    ):
        """The equality-delete writer (merge-on-read, scan-free): one key
        file recorded with the key columns' field ids and, as
        ``applies_dirs``, the pinned snapshot's data dirs. ``rows_of(m,
        target)`` returns ``(keys, append)``: the key tuples, and for the
        MERGE upsert the source rows, which land in the same commit as a
        fresh data dir — exempt from the delete by sequencing."""
        self._require_local_dirs(m, op)
        key_df, append = rows_of(m, target)
        fids = m.get("field_ids") or {}
        ids = [fids.get(c) for c in cols]
        if any(i is None for i in ids):
            raise ValueError(
                f"{op} on {cols}: not all columns carry field ids "
                f"(legacy manifest — recommit first)"
            )
        eq_dir = f"deletes/eq{v + 1}-{uuid.uuid4().hex[:8]}"
        n_keys, _ = write_parquet(
            self.spark, key_df.coalesce(1), os.path.join(self.path, eq_dir)
        )
        entry = {
            "dir": eq_dir,
            "cols": cols,
            "ids": ids,
            "applies_dirs": list(m["data_dirs"]),
        }
        data_dir = own_stats = None
        if append is None:
            info = {"n_keys": n_keys, "mode": "equality-delete"}
        else:
            data_dir = f"data/g{v + 1}-{uuid.uuid4().hex[:8]}"
            self._write_data_dir(append, data_dir)
            own_stats = self._harvest_stats(data_dir, stats_for, None)
            info = {"mode": "merge-on-read"}

        return {
            **self._with_data_dir(m, data_dir, target, own_stats),
            "eq_deletes": m.get("eq_deletes", []) + [entry],
        }, info

    @staticmethod
    def _dir_ids(fids: dict, target: T.StructType) -> dict:
        """The write-time name → field id map of a dir written under
        ``target``."""
        return {f.name: fids[f.name] for f in target.fields if f.name in fids}

    def _with_data_dir(
        self, m: dict, d: str | None, target: T.StructType, own_stats: dict
    ) -> dict:
        """The file-set edit adding one unpartitioned data dir ``d``
        written under ``target`` to ``m`` (none when ``d`` is None) — the
        append of the merge-on-read UPDATE and MERGE upsert."""
        if d is None:
            return {}
        out = {
            "data_dirs": m["data_dirs"] + [d],
            "partition_specs": {**m.get("partition_specs", {}), d: []},
            "dir_schemas": {**m.get("dir_schemas", {}), d: target.jsonValue()},
        }
        if m.get("field_ids"):
            out["dir_field_ids"] = {
                **m.get("dir_field_ids", {}),
                d: self._dir_ids(m["field_ids"], target),
            }
        if own_stats:
            out["file_stats"] = {**m.get("file_stats", {}), d: own_stats}
        return out

    def _publish_dml(self, v: int, m: dict, tag: str, files) -> int:
        """The one commit of every row-level DML: the file-set edit
        ``files`` pinned to the manifest ``m`` of version ``v`` it was
        planned against — a head that moved since refuses with
        ``CommitConflict``, and the build reads no manifest."""
        return self._commit(Edit(tag, files, pin=(v, m)))

    # ----------------------------------------------------------- cleanup

    # Merge-on-read debt is pay-later: every outstanding position
    # tombstone and equality delete adds an anti-join to EVERY read
    # (SCALE.md's read-amplification curve). The auto-compaction policy
    # is the Delta auto-compact analogue: table properties set a
    # threshold, the sink (and any caller) checks it after writes, and
    # ``compact`` materializes the deletes back to a clean file set.
    #
    #   compact.tombstone-ratio = '0.1'  → compact when (dv rows +
    #       eq-delete keys) / known table rows ≥ 0.1
    #   compact.max-eq-deletes  = '8'    → compact when ≥ 8 equality
    #       deletes are outstanding (each is a read-time anti-join)
    #   compact.max-files       = '1000' → compact when the LIVE file
    #       count crosses the cap (streaming small-file accretion —
    #       Delta's auto-compaction trigger); counted from reference
    #       aggregates and visibility lists, no data read

    def maintenance_status(self) -> dict:
        """Tombstone accumulation vs table size and whether the
        configured auto-compaction threshold is crossed. Costs one count
        over the (tiny) delete files plus a manifest-stats walk — no
        data-file reads."""
        v = self.current_version()
        out = {
            "due": False, "tombstone_rows": 0, "eq_delete_keys": 0,
            "n_eq_deletes": 0, "table_rows_known": 0, "ratio": 0.0,
            "threshold": None, "max_eq_deletes": None,
        }
        if v is None:
            return out
        m = self._manifest(v)
        props = m.get("properties", {})
        thr = props.get("compact.tombstone-ratio")
        max_eq = props.get("compact.max-eq-deletes")
        out["threshold"] = float(thr) if thr is not None else None
        out["max_eq_deletes"] = int(max_eq) if max_eq is not None else None
        dv_dirs = m.get("delete_dirs", [])
        if dv_dirs:
            out["tombstone_rows"] = self._read_delete_vectors(dv_dirs).count()
        eqs = m.get("eq_deletes", [])
        out["n_eq_deletes"] = len(eqs)
        for e in eqs:
            out["eq_delete_keys"] += (
                self.spark.read.parquet(
                    os.path.join(self.path, e["dir"])
                ).count()
            )
        rows = 0
        for d in m["data_dirs"]:
            vis = self._visible_files(m, d)
            raw = (m.get("file_stats") or {}).get(d)
            if vis is None and _is_stats_ref(raw):
                # whole dir visible: the reference carries the known row
                # total — no sidecar read
                rows += raw.get("rows", 0)
                continue
            stats = self._resolve_stats(raw) or {}
            files = stats.keys() if vis is None else vis
            for f in files:
                for cname, entry in (stats.get(f) or {}).items():
                    if not cname.startswith("bloom:") and "rows" in entry:
                        rows += entry["rows"]
                        break
        out["table_rows_known"] = rows
        # FRAGMENTATION policy (compact.max-files): live file count from
        # reference aggregates / visibility lists. Computed ONLY when
        # the policy is set — the stats-less fallback lists directories,
        # and the sink calls this per micro-batch
        max_files = props.get("compact.max-files")
        out["max_files"] = int(max_files) if max_files is not None else None
        out["live_files"] = (
            self._live_file_count(m) if max_files is not None else None
        )
        dead = out["tombstone_rows"] + out["eq_delete_keys"]
        if dead:
            out["ratio"] = (
                dead / rows if rows else float("inf")
            )
        if out["threshold"] is not None and out["ratio"] >= out["threshold"]:
            out["due"] = True
        if (
            out["max_eq_deletes"] is not None
            and out["n_eq_deletes"] >= out["max_eq_deletes"]
        ):
            out["due"] = True
        if (
            out["max_files"] is not None
            and out["live_files"] > out["max_files"]
        ):
            out["due"] = True
        return out

    def _live_file_count(self, m: dict) -> int:
        """Visible-file count from visibility lists and stats aggregates
        (spilled references answer O(1)); dirs with neither fall back to
        one listing."""
        n_files = 0
        for d in m["data_dirs"]:
            vis = self._visible_files(m, d)
            if vis is not None:
                n_files += len(vis)
                continue
            raw = (m.get("file_stats") or {}).get(d)
            if _is_stats_ref(raw):
                n_files += raw.get("files", 1)
            elif raw:
                n_files += len(raw)
            else:
                from oss_data_lake_spark.sources.skipping import (
                    _iter_parquet_files,
                )

                n_files += sum(
                    1
                    for _ in _iter_parquet_files(
                        d if os.path.isabs(d) or "://" in d
                        else os.path.join(self.path, d)
                    )
                )
        return n_files

    def auto_compact(
        self,
        target_partitions: int | None = None,
        **compact_kwargs,
    ) -> int | None:
        """Compact IF the maintenance policy says so; returns the new
        version or None. Wired into the streaming sink so a table that
        accretes merge-on-read debt under load self-heals at the
        configured ratio instead of paying ever-growing read-time
        anti-joins."""
        status = self.maintenance_status()
        if not status["due"]:
            return None
        # policy-driven compaction must keep the table's layout: an
        # unqualified compact() would rewrite a partitioned table
        # unpartitioned, and every later commit adopting
        # current_partition_by() would then silently accrete
        # unpartitioned dirs — the exact erosion the sink promises
        # never happens. Identity partition columns live in the path,
        # not the payload, so they leave stats_for.
        if (
            "partition_by" not in compact_kwargs
            and compact_kwargs.get("cluster_by") is None
            and compact_kwargs.get("zorder_by") is None
        ):
            spec = self.current_partition_by()
            if spec:
                compact_kwargs["partition_by"] = spec
                sf = compact_kwargs.get("stats_for")
                if sf:
                    identity = {c for c in spec if "(" not in c}
                    compact_kwargs["stats_for"] = [
                        c for c in sf if c not in identity
                    ] or None
        if target_partitions is None:
            v = self.current_version()
            n_files = self._live_file_count(self._manifest(v))
            target_partitions = max(1, min(32, n_files))
        return self.compact(
            target_partitions=target_partitions, **compact_kwargs
        )

    def compact(
        self,
        target_partitions: int = 1,
        partition_by: list[str] | None = None,
        cluster_by: str | None = None,
        zorder_by: list[str] | None = None,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
    ) -> int:
        """Rewrite the CURRENT snapshot's (possibly many small) data dirs
        into one coalesced dir as a NEW snapshot — Iceberg's
        ``rewrite_data_files`` / Delta's ``OPTIMIZE``. History is
        untouched (old snapshots still reference the old dirs); pair with
        ``vacuum`` after expiring them. At scale ``target_partitions``
        sizes output files; the plain rewrite is one partition-parallel
        pass with no shuffle (coalesce). ``partition_by`` lets compaction
        normalize a table whose dirs mix evolved specs onto the latest
        spec in one pass.

        ``cluster_by`` / ``zorder_by`` (mutually exclusive, and exclusive
        with ``partition_by``'s layout) re-SORT during the rewrite —
        ``OPTIMIZE ... ZORDER BY`` — so a table that accreted unordered
        streaming micro-batches regains tight per-file bounds; stats (and
        optional blooms) are re-harvested for the compacted files."""
        if sum(x is not None for x in (cluster_by, zorder_by)) > 1:
            raise ValueError("cluster_by and zorder_by are exclusive")
        if (cluster_by or zorder_by) and partition_by:
            raise ValueError(
                "re-clustering compaction is exclusive with partition_by"
            )
        cur = self.read()
        if cluster_by is not None:
            return self.commit_clustered(
                cur,
                cluster_by=cluster_by,
                n_files=target_partitions,
                stats_for=stats_for,
                bloom_for=bloom_for,
                tag="compact",
            )
        if zorder_by is not None:
            return self.commit_zordered(
                cur,
                zorder_by=zorder_by,
                n_files=target_partitions,
                stats_for=stats_for,
                bloom_for=bloom_for,
                tag="compact",
            )
        so = self.current_sort_order() if not partition_by else []
        # same contract as commit(): a sort column the current schema
        # lost must not brick the rewrite — sort on what survives
        so = [c for c in so if c in cur.columns]
        if so:
            # a declared WRITE ORDERED BY makes compaction a REWRITE WITH
            # SORT (Iceberg's rewrite_data_files strategy=sort): old
            # unordered generations regain the clustered layout
            keys = [F.col(c) for c in so]
            return self.commit(
                cur.repartitionByRange(target_partitions, *keys)
                .sortWithinPartitions(*so),
                mode="overwrite",
                stats_for=list(dict.fromkeys((stats_for or []) + so)),
                bloom_for=bloom_for,
                tag="compact",
                apply_sort_order=False,
            )
        return self.commit(
            cur.coalesce(target_partitions),
            mode="overwrite",
            partition_by=partition_by,
            stats_for=stats_for,
            bloom_for=bloom_for,
            tag="compact",
        )

    def compact_where(
        self,
        prune_preds: list | None = None,
        prune_column: str | None = None,
        prune_lower=None,
        prune_upper=None,
        target_partitions: int = 1,
        stats_for: list[str] | None = None,
        bloom_for: list[str] | None = None,
    ) -> dict:
        """SCOPED compaction (Delta's ``OPTIMIZE ... WHERE``): rewrite
        only the files the predicate's manifest bounds admit into
        ``target_partitions`` coalesced files — whole files, never row
        subsets, so the visible multiset is unchanged (the commit tags
        ``compact`` = dataChange:false; the change feed and
        ``skipChangeCommits`` pass over it). At 100 TB this is THE
        compaction shape: you coalesce yesterday's small streaming
        files, not the table. Files with outstanding tombstones get
        their deletes materialized in passing (visible rows only are
        rewritten). Returns Delta-style operation metrics."""
        return self._rewrite_where(
            "compact",
            lambda cand, m, target: cand.coalesce(target_partitions),
            (prune_preds, prune_column, prune_lower, prune_upper),
            stats_for,
            bloom_for,
        )

    def expire_snapshots(
        self,
        keep_last: int = 1,
        older_than_ms: int | None = None,
        retain_ms: int | None = None,
    ) -> list[int]:
        """Iceberg's ``expire_snapshots``: drop manifests older than the
        newest ``keep_last`` versions, then vacuum newly-unreferenced data
        dirs. The CURRENT pointer is never expired; returns the expired
        version numbers. Time travel to expired versions stops working —
        that is the point (bounded metadata + reclaimable storage).

        ``older_than_ms`` adds Iceberg's TIME-based retention: only
        snapshots committed BEFORE the cutoff are eligible (a snapshot
        younger than the cutoff survives even beyond ``keep_last``).

        Every expired manifest leaves a DEREFERENCE-STAMPED copy under
        ``_snapshots/expired/``; a later ``vacuum(retain_ms=...)``
        treats copies stamped within the window as still-live
        references — so RETAIN's in-flight-reader guarantee keys on
        when files became unreachable, not on their write mtime (the
        Delta deletion-timestamp semantics). Pass ``retain_ms`` here to
        apply the window to the expiry's own vacuum."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        manifests = self.versions()
        versions = [m["version"] for m in manifests]
        cur = self.current_version()
        keep = set(versions[-keep_last:])
        if cur is not None:
            keep.add(cur)
        if older_than_ms is not None:
            keep.update(
                m["version"]
                for m in manifests
                if m.get("committed_at_ms", 0) >= older_than_ms
            )
        # TAGGED versions never expire (Iceberg tag retention) — a tag
        # is a promise that AS OF '<tag>' keeps resolving
        keep.update(self.tags().values())
        expired = [v for v in versions if v not in keep]
        exp_root = os.path.join(self._meta, "expired")
        by_version = {m["version"]: m for m in manifests}
        for v in expired:
            os.makedirs(exp_root, exist_ok=True)
            copy = dict(by_version[v])
            copy["expired_at_ms"] = int(time.time() * 1000)
            tmp = os.path.join(exp_root, f".v{v}.json.tmp")
            with open(tmp, "w") as fh:
                json.dump(copy, fh)
            os.replace(tmp, os.path.join(exp_root, f"v{v}.json"))
            self.protocol.delete_manifest(v)
        self.vacuum(retain_ms=retain_ms)
        return expired

    def vacuum(
        self, dry_run: bool = False, retain_ms: int | None = None
    ) -> list[str]:
        """Reclaim storage unreachable from ANY live snapshot:

        1. whole data DIRECTORIES no manifest references (crash
           leftovers, fully-rewritten dirs after their snapshots expire);
        2. individual FILES inside referenced directories that EVERY
           referencing manifest's visibility subset excludes — the dead
           files copy-on-write DML leaves behind (a dir stays referenced
           as long as one live file remains, so dir-level GC alone would
           leak the rewritten files forever as DML accrues). A dir any
           live manifest reads whole keeps every file.

        Never touches a file any live snapshot can read, and never a
        file OUTSIDE this table's root (a shallow clone's external
        source references are the source table's to manage). Returns
        the removed rel paths (dirs and files). ``dry_run=True``
        (Delta's ``VACUUM ... DRY RUN``) returns what WOULD be removed
        without touching anything. ``retain_ms`` (Delta's ``RETAIN n
        HOURS``) keeps anything DEREFERENCED within the window — the
        in-flight-reader safety margin: a query planned against a
        just-expired snapshot keeps its files until the window passes.
        Dereference time comes from the expiry-stamped manifest copies
        ``expire_snapshots`` leaves under ``_snapshots/expired/``
        (copies inside the window count as live references; copies past
        it are cleaned up), with a write-mtime floor on top for files
        that never had a manifest (crash leftovers)."""
        import shutil

        from oss_data_lake_spark.sources.skipping import _iter_parquet_files

        cutoff = (
            time.time() - retain_ms / 1000.0
            if retain_ms is not None
            else None
        )

        def past_retention(path: str) -> bool:
            """mtime FLOOR: one young file keeps a whole dir. Covers
            paths no manifest (live or expired-copy) ever referenced."""
            if cutoff is None:
                return True
            if os.path.isfile(path):
                return os.path.getmtime(path) <= cutoff
            for dp, _dn, fs in os.walk(path):
                for f in fs:
                    if os.path.getmtime(os.path.join(dp, f)) > cutoff:
                        return False
            return True

        manifests = self.versions()
        # expiry-stamped copies: within the retain window they are LIVE
        # references (the Delta deletion-timestamp semantics); past it
        # (or with no window) the copy itself is reclaimed
        exp_root = os.path.join(self._meta, "expired")
        if os.path.isdir(exp_root):
            for name in sorted(os.listdir(exp_root)):
                fp = os.path.join(exp_root, name)
                try:
                    with open(fp) as fh:
                        em = json.load(fh)
                except (OSError, ValueError):
                    continue  # half-written tmp: leave for its writer
                if (
                    cutoff is not None
                    and em.get("expired_at_ms", 0) / 1000.0 > cutoff
                ):
                    manifests.append(em)
                elif not dry_run:
                    os.remove(fp)
        # MANAGED BRANCHES reference this root's dirs absolutely; their
        # live snapshots keep those files alive (normalized to rel-dir
        # synthetic manifests so both the dir-level and file-level GC
        # passes below see them) — retention on main never corrupts an
        # open branch
        for bt in self._all_branch_tables():
            for bm in bt.versions():
                norm: dict = {"data_dirs": [], "dir_files": {}}
                for d in bm["data_dirs"]:
                    if "://" not in d and os.path.isabs(d) and (
                        d + os.sep
                    ).startswith(self.path + os.sep):
                        rel = os.path.relpath(d, self.path)
                        norm["data_dirs"].append(rel)
                        vis = bm.get("dir_files", {}).get(d)
                        if vis is not None:
                            norm["dir_files"][rel] = vis
                # a branch's spilled-stats refs into this root keep the
                # sidecars alive, same as its data dirs
                norm["file_stats"] = {
                    d: e
                    for d, e in (bm.get("file_stats") or {}).items()
                    if _is_stats_ref(e)
                    and "://" not in e[_STATS_SIDECAR_KEY]
                    and os.path.isabs(e[_STATS_SIDECAR_KEY])
                    and (e[_STATS_SIDECAR_KEY] + os.sep).startswith(
                        self.path + os.sep
                    )
                }
                if norm["data_dirs"] or norm["file_stats"]:
                    manifests.append(norm)
        referenced = {
            d
            for m in manifests
            for d in m["data_dirs"]
            if not (os.path.isabs(d) or "://" in d)
        }
        data_root = os.path.join(self.path, "data")
        removed = []
        if os.path.isdir(data_root):
            for name in os.listdir(data_root):
                rel = f"data/{name}"
                if rel not in referenced and past_retention(
                    os.path.join(data_root, name)
                ):
                    if not dry_run:
                        shutil.rmtree(os.path.join(data_root, name))
                    removed.append(rel)
        # merge-on-read tombstone dirs unreferenced by any live snapshot
        dv_referenced = {
            d for m in manifests for d in m.get("delete_dirs", [])
        } | {
            e["dir"] for m in manifests for e in m.get("eq_deletes", [])
        }
        dv_root = os.path.join(self.path, "deletes")
        if os.path.isdir(dv_root):
            for name in os.listdir(dv_root):
                rel = f"deletes/{name}"
                if rel not in dv_referenced and past_retention(
                    os.path.join(dv_root, name)
                ):
                    if not dry_run:
                        shutil.rmtree(os.path.join(dv_root, name))
                    removed.append(rel)
        # COPY INTO ledger sidecars no live manifest's property references
        # (superseded spills, crash leftovers)
        led_referenced = set()
        for m in manifests:
            raw = (m.get("properties") or {}).get(self._COPY_LEDGER_PROP)
            if not raw:
                continue
            for entry in json.loads(raw).values():
                if isinstance(entry, dict):
                    led_referenced.add(entry["sidecar"])
        led_root = os.path.join(self.path, "ledgers")
        if os.path.isdir(led_root):
            for name in os.listdir(led_root):
                rel = f"ledgers/{name}"
                if rel not in led_referenced and past_retention(
                    os.path.join(led_root, name)
                ):
                    if not dry_run:
                        os.remove(os.path.join(led_root, name))
                    removed.append(rel)
        # spilled-stats sidecars no live (or retained-expired, or branch)
        # manifest references — superseded spills, crash-leftover tmps
        stats_referenced = set()
        for m in manifests:
            for e in (m.get("file_stats") or {}).values():
                if not _is_stats_ref(e):
                    continue
                p = e[_STATS_SIDECAR_KEY]
                if os.path.isabs(p) or "://" in p:
                    if "://" not in p and (p + os.sep).startswith(
                        self.path + os.sep
                    ):
                        stats_referenced.add(os.path.relpath(p, self.path))
                else:
                    stats_referenced.add(p)
        stats_root = os.path.join(self.path, "stats")
        if os.path.isdir(stats_root):
            for name in os.listdir(stats_root):
                rel = f"stats/{name}"
                if rel not in stats_referenced and past_retention(
                    os.path.join(stats_root, name)
                ):
                    if not dry_run:
                        os.remove(os.path.join(stats_root, name))
                    removed.append(rel)
        for d in sorted(referenced):
            live: set[str] = set()
            whole = False
            for m in manifests:
                if d not in m["data_dirs"]:
                    continue
                vis = self._visible_files(m, d)
                if vis is None:
                    whole = True  # some snapshot reads the whole dir
                    break
                live.update(vis)
            if whole:
                continue
            root = os.path.join(self.path, d)
            for p in list(_iter_parquet_files(root)):
                rel_f = os.path.relpath(p, root)
                if rel_f not in live and past_retention(p):
                    if not dry_run:
                        os.remove(p)
                    removed.append(f"{d}/{rel_f}")
        return removed

    # ----------------------------------------------------------- internal

    def _manifest(self, version: int) -> dict:
        """Shared parsed manifest (``CommitProtocol.manifest``): copy
        before editing, never mutate."""
        return self.protocol.manifest(version)


# --------------------------------------------------------- SQL time travel
#
# The Trino/Iceberg time-travel surface (the reference engine's ``SELECT
# ... FROM t FOR VERSION AS OF n`` / ``FOR TIMESTAMP AS OF ts``, Trino 467
# per reference docker-compose.yaml:153 over the Iceberg REST catalog,
# etc/catalog/iceberg.properties:14-20) and Delta's ``table_changes``:
# ``sql_with_time_travel`` resolves each reference the statement's one
# parse reports AGAINST THE MANIFESTS to a temp view and splices its name
# over the reference. BI/JDBC clients that cannot preprocess text get the
# same capability as named views via ``snapshot_view``.

# Trino-Iceberg metadata tables: SELECT ... FROM t$files / t$history /
# t$snapshots / t$partitions (the reference's engine exposes exactly
# these); rewritten to metadata-DataFrame temp views before Spark's
# parser (which rejects '$' in identifiers) ever sees the text
_META_TABLE_RE = re.compile(
    r"\b([A-Za-z_][\w.]*)\$(files|history|snapshots|partitions)\b"
    r"(?:\s+FOR\s+VERSION\s+AS\s+OF\s+(\d+))?",
    re.IGNORECASE,
)


def _parse_ts_ms(literal: str) -> int:
    """ISO-8601 timestamp literal → epoch millis. Naive literals are UTC
    (the engine's session timezone — see session.py); explicit offsets are
    honored."""
    dt = datetime.datetime.fromisoformat(literal)
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=datetime.timezone.utc)
    return int(dt.timestamp() * 1000)


def snapshot_view(
    spark: SparkSession,
    view_name: str,
    table: "SnapshotTable",
    version: int | None = None,
    *,
    small_scan: bool = False,
) -> str:
    """Register ``table`` at ``version`` (default: current) as a temp view
    — the time-travel surface for JDBC/BI clients sharing the session
    (serving.py): ``CREATE VIEW``-equivalent without SQL-text rewriting.
    ANALYZE-harvested stats ride along (``read_hinted``): a dimension
    whose LIVE size is under the broadcast threshold joins broadcast
    even when its file bytes overshoot. A MATERIALIZED VIEW's stored
    state (``n_rows`` / ``__s_*`` sums / ``__sk_*`` sketches) projects
    through its recorded presentation onto the defining SELECT's shape
    — queries see the declared aliases, never the internal state.
    ``small_scan`` as for ``SnapshotTable.read``."""
    df = table.read_hinted(version=version, small_scan=small_scan)
    pres = table.properties().get("mv.presentation")
    if pres:
        df = df.selectExpr(*json.loads(pres))
    df.createOrReplaceTempView(view_name)
    return view_name


# ------------------------------------------- SQL predicate pruning
#
# The reference's primary persona is a BI tool issuing plain SQL
# (reference RUNBOOK.md:120-132), so file skipping fires from SQL:
# ``sql_with_time_travel`` parses the statement once (``sqlplan``) and
# backs a table's head or versioned view with a file-pruned scan. Pruning
# drops only files PROVEN empty for the extracted conjunction, and the
# SQL's own WHERE still runs on top, so a missed conjunct only
# under-prunes. A conjunct prunes a table only when (a) it is an
# extractable top-level AND conjunct of a WHERE (never a HAVING), (b) the
# walk from that WHERE reaches the table through only inner/cross joins,
# the preserved side of an outer, semi or anti join and the table's own
# alias (never a derived table, aggregate, window, limit, union or full
# join: ``sqlplan``'s docstring), (c) the table has exactly ONE relation
# leaf in the statement, subqueries and CTE bodies included, counted
# case-insensitively (two references, ``t`` and ``T`` alike, share one
# view), and (d) the column is one of the table's
# stats columns, qualified (if at all) by its alias, or its name when it
# has none. Anything else falls back to the unpruned view.


def _coerce_key_value(v, dtype: T.DataType):
    """A raw Python literal (str/int/float, the shapes ``sqlplan``
    reads from a parsed literal) coerced to what Spark's type
    verifier accepts for ``dtype``. Values already the right shape pass
    through; an unconvertible value raises the same TypeError the
    verifier would, just earlier and with the column type in hand."""
    if v is None:
        return None
    if isinstance(
        dtype, (T.TimestampType, T.TimestampNTZType)
    ) and isinstance(v, str):
        return datetime.datetime.fromisoformat(v.strip().replace("T", " "))
    if isinstance(dtype, T.DateType):
        if isinstance(v, str):
            return datetime.date.fromisoformat(v.strip())
        if isinstance(v, datetime.datetime):
            return v.date()
        return v
    if isinstance(dtype, (T.DoubleType, T.FloatType)) and isinstance(
        v, (int, str)
    ):
        return float(v)
    if isinstance(
        dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    ):
        if isinstance(v, str):
            return int(v)
        if isinstance(v, float) and v.is_integer():
            return int(v)
        return v
    if isinstance(dtype, T.DecimalType) and isinstance(
        v, (int, float, str, decimal.Decimal)
    ):
        # a literal the column cannot hold exactly (more fraction digits
        # than its scale, or more digits than its precision) equals no
        # stored value; rounding it would match other rows, so it raises
        # and the statement takes the position-delete path
        try:
            d = decimal.Decimal(str(v))
            q = d.quantize(
                decimal.Decimal(1).scaleb(-dtype.scale),
                context=decimal.Context(prec=dtype.precision),
            )
            exact = q == d
        except decimal.InvalidOperation:
            exact = False
        if not exact:
            raise ValueError(f"{v!r} does not fit {dtype.simpleString()}")
        return q
    if isinstance(dtype, T.BooleanType) and isinstance(v, str):
        s = v.strip().lower()
        if s in ("true", "t", "1", "yes"):
            return True
        if s in ("false", "f", "0", "no"):
            return False
        # an unrecognized string must NOT silently become False (that
        # would tombstone every flag=false row); raising routes the
        # statement to the position-delete path, whose SQL cast
        # semantics (NULL) match nothing
        raise ValueError(f"not a boolean literal: {v!r}")
    return v


def _as_test(pred) -> tuple:
    """A ``plan_pruned`` predicate → the planner's test tuple (forms
    above ``SnapshotTable.plan_range_scan``). A point range becomes an
    equality: the eq test adds per-file BLOOM pruning on top of the
    min/max bounds — the lever for ``WHERE id = x`` on columns the
    layout doesn't cluster."""
    if isinstance(pred, dict):
        if "in" in pred:
            return ("in", pred["col"], pred["in"])
        return ("null", pred["col"], pred["null"])
    column, lo, hi = pred
    if lo is not None and lo == hi:
        return ("eq", column, lo)
    return ("range", column, lo, hi)


def parse_for_pruning(
    spark: SparkSession, text: str, tables: dict[str, "SnapshotTable"]
) -> tuple[sqlplan.Statement | None, dict[str, list]]:
    """The one parse of ``text`` (None, unparsed, when it names no
    registered table and holds neither ``table_changes`` nor the words
    ``as of``, even in a literal or comment) and per registered table the
    predicates (forms above ``SnapshotTable.plan_range_scan``) a pruned
    view of it may act on, under the gates above."""
    low = text.lower()
    if not any(name.lower() in low for name in tables) and not (
        "table_changes" in low or " as of " in f" {' '.join(low.split())} "
    ):
        return None, {}
    stmt = sqlplan.statement(text, spark)
    out: dict[str, list] = {}
    for name, t in tables.items():
        terms = stmt.terms.get(name.lower())
        if not terms or stmt.leaves[name.lower()] != 1:
            continue
        stats = t.stats_columns()
        preds = [x.pred for x in terms if x.col in stats]
        if preds:
            out[name] = preds
    return stmt, out


def temp_view_exists(spark: SparkSession, name: str) -> bool:
    """Whether ``name`` is bound to a session temp view, resolved the way
    the analyzer resolves it (case-insensitive unless
    ``spark.sql.caseSensitive``). One question to the session catalog,
    where ``spark.catalog.listTables()`` would list every table and view
    in the session."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return catalog.getTempView(name).isDefined()


def sql_with_time_travel(
    spark: SparkSession, text: str, tables: dict[str, "SnapshotTable"]
) -> DataFrame:
    """Run SQL text supporting ``<table> FOR VERSION|TIMESTAMP AS OF ...``
    and ``table_changes('<table>', start[, end])`` over registered
    ``SnapshotTable``s. Each reference and its source span come from the
    statement's one parse by Spark's parser (``sqlplan``), which raises
    Spark's parse error for a statement it cannot parse; it resolves
    against the manifests to a temp view whose name is spliced over the
    span (``travel``). Names resolve case-insensitively, as temp views
    do; an unregistered one raises. Plain references to registered names
    read the CURRENT snapshot via temp views, so one statement can mix
    versioned and head reads. The temp views are DROPPED before
    returning — analysis is forced first, so the returned DataFrame
    stays valid while later ``spark.sql`` calls see no leftover
    shadowing views.

    One partition for small scans: when the parse finds an operator that
    plans an exchange (``sqlplan._SHUFFLING``: GROUP BY or a function
    call, DISTINCT, a join or subquery, ORDER BY, a window, a set
    operation), every head, pruned, versioned, tag, timestamp or branch
    view whose admitted data files total at most ``SMALL_SCAN_BYTES`` is
    ``coalesce(1)`` over its scan. It then reports ``SinglePartition``,
    the operator plans no exchange, and a range aggregate runs one Spark
    job instead of a map stage, a shuffle and a result stage. A statement
    with no such operator (a lookup) keeps Spark's file splits, which
    read its files in parallel. Larger scans keep the splits too: past
    the bound the scan costs more than the shuffle one partition saves,
    and a large scan would run as one task. A write fed by such a
    statement (INSERT … SELECT, CTAS, MERGE USING a query) reads the
    same one-partition views, so it usually writes one file."""
    created: list[str] = []
    registered = {name.lower(): name for name in tables}

    def travel(tr: sqlplan.Travel) -> str:
        """The temp view one reference reads. An all-digit version is a
        version number (tag names start with a letter); another name is
        a tag, else a branch read at its own head (Iceberg resolves both
        ref kinds by name). ``table_changes`` bounds are INCLUSIVE commit
        versions (Delta semantics) or timestamps: changes after the
        version current just BEFORE the start, up to the version as of
        the end."""
        name = registered.get(tr.name)
        if name is None:
            raise ValueError(
                f"time travel references unregistered snapshot table "
                f"'{tr.name}' (registered: {sorted(tables)})"
            )
        t, key = tables[name], name.replace(".", "_")
        if tr.kind == "changes":
            start, end = (*tr.at, None)[:2]
            if isinstance(start, str):
                try:
                    start = t.version_as_of(_parse_ts_ms(start) - 1) + 1
                except ValueError:
                    start = 1  # before the first commit: everything
            if isinstance(end, str):
                end = t.version_as_of(_parse_ts_ms(end))
            view = f"__tc_{key}_{start - 1}_{'head' if end is None else end}"
            df = t.read_change_feed(start - 1, end)
        elif tr.kind == "version" and not tr.at.isdigit() and (
            tr.at not in t.tags() and tr.at in t.branches()
        ):
            view = f"__tt_{key}_br_" + re.sub(r"\W", "_", tr.at)
            df = t.branch(tr.at).read(small_scan=shuffles)
        else:
            version = (
                t.version_as_of(_parse_ts_ms(tr.at))
                if tr.kind == "timestamp"
                else int(tr.at) if tr.at.isdigit() else t.resolve_ref(tr.at)
            )
            view = f"__tt_{key}_v{version}"
            preds = pruned.get(name)
            df = (
                t.read_pruned(preds, version=version, small_scan=shuffles)
                if preds
                else t.read(version=version, small_scan=shuffles)
            )
        df.createOrReplaceTempView(view)
        created.append(view)
        return view

    def sub_meta(m: "re.Match[str]") -> str:
        name, kind = registered.get(m.group(1).lower()), m.group(2).lower()
        if name is None:
            raise ValueError(
                f"metadata table references unregistered snapshot "
                f"table '{m.group(1)}' (registered: {sorted(tables)})"
            )
        t = tables[name]
        ver = int(m.group(3)) if m.group(3) else None
        view = f"__meta_{name.replace('.', '_')}_{kind}" + (
            f"_v{ver}" if ver is not None else ""
        )
        # AS OF scopes every kind: per-snapshot ($files/$partitions)
        # to that version's state, log kinds to commits up to it
        t.metadata_df(kind, version=ver).createOrReplaceTempView(view)
        created.append(view)
        return view

    try:
        # Spark's grammar rejects `t$files`: splice before the one parse,
        # whose leaves decide the head views, whose conjuncts prune both
        # the versioned and the head views and whose time-travel
        # references are spliced right to left
        text = _sub_outside_literals(_META_TABLE_RE, sub_meta, text)
        stmt, pruned = parse_for_pruning(spark, text, tables)
        shuffles = stmt is not None and stmt.shuffles
        travels = stmt.travels if stmt else ()
        rewritten = text
        for tr in sorted(travels, key=lambda r: r.start, reverse=True):
            rewritten = rewritten[:tr.start] + travel(tr) + rewritten[tr.stop:]
        versioned = Counter(r.name for r in travels if r.kind != "changes")
        # plain (non-AS-OF) leaves read the head. A USER temp view under
        # a registered name is refused loudly — silently replacing (then
        # dropping) it would destroy user session state.
        heads = [
            n for n in tables
            if stmt and stmt.leaves[n.lower()] > versioned[n.lower()]
        ]
        # longest names first: with both "a.b" and "a.b.c" registered, the
        # longer reference must not be clobbered by the shorter rewrite
        for name in sorted(heads, key=len, reverse=True):
            t = tables[name]
            view = name
            if "." in name:
                # a DOTTED registry name (the reference's verbatim
                # catalog.schema.table references) cannot be a temp-view
                # name — substitute a sanitized single-part view into the
                # statement text (outside literals) and register that;
                # any spelling the parse counted as this leaf (names
                # resolve case-insensitively, as the leaves count them)
                view = "__nsv_" + re.sub(r"\W", "_", name)
                rewritten = _sub_outside_literals(
                    re.compile(rf"\b{re.escape(name)}\b", re.IGNORECASE),
                    lambda _m, _v=view: _v,
                    rewritten,
                )
            if temp_view_exists(spark, view):
                raise ValueError(
                    f"a temp view named '{view}' already exists in "
                    f"this session; it would shadow (and be destroyed "
                    f"by) the snapshot table of the same name — drop "
                    f"it or register the table under another name"
                )
            preds = pruned.get(name)
            if preds:
                t.read_pruned(
                    preds, small_scan=shuffles
                ).createOrReplaceTempView(view)
            else:
                snapshot_view(spark, view, t, small_scan=shuffles)
            created.append(view)
        df = spark.sql(rewritten)
        # force analysis so dropping the views cannot unbind the plan
        df.schema
        return df
    finally:
        # success or failure, no helper views outlive the call
        for view in created:
            spark.catalog.dropTempView(view)
