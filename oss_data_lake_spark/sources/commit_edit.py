"""One manifest edit for every snapshot commit.

Every ``SnapshotTable`` commit says what it changes as an :class:`Edit`,
and :class:`ManifestBuilder` turns the edit into the child of the parent
the commit lands on — the one caller of ``CommitProtocol.commit``. The
builder sorts manifest keys into three classes:

- **per-commit** (``PER_COMMIT``): ``version``, ``parent``, ``mode``,
  ``txn``, ``txn_record``, ``committed_at_ms``, ``clone_source``. Stamped
  fresh on every commit (``txn_record`` and ``clone_source`` only when
  the edit's ``stamp`` names them), never carried from the parent.
- **file-set** (``FILE_SET``): the data dirs and everything keyed by
  them, i.e. which files a reader sees. An edit's ``files`` sets some of
  them; the rest are carried. An edit that replaces the whole file set
  starts from ``empty_file_set()``.
- **table-level**: every other key (schema, field ids, properties,
  constraints, column defaults, declared layout, table stats, the txn
  ledger), carried from the parent unless the edit's ``fields`` sets it.

A new table (no parent) starts from an empty file set and the defaults
of ``_new_table``. The txn ledger (``txn_watermarks``) belongs to the
builder: it is carried through every commit, advanced by the edit's
``txn`` identity, and answers the idempotence check that turns a
re-delivered txn commit into a no-op returning the snapshot it landed as.

Conflict rule contract: ``Edit.check(parent, pm, read_manifest)`` judges
the parent the commit is built on (``pm`` its manifest, None for a new
table). It must be pure — it may read manifests and data, never write —
and refuses by raising: ``CommitConflict`` for a race a replan can win,
``ValueError`` for a commit that cannot land. It runs again on every
claim: an optimistic protocol that loses a claim builds again on the new
head, and the rule, ``files`` and ``fields`` all run again against it.
A pinned edit (``pin = (version, manifest)``) was planned against that
exact snapshot: any other parent refuses with ``CommitConflict``, and the
build reads no manifest. ``on_table`` True refuses an empty table, False
an existing one.

The parsed parent may be the shared cached manifest: the builder edits a
shallow copy and never mutates a value it carries.
"""

from __future__ import annotations

import functools
import time
from dataclasses import dataclass, field
from typing import Callable

from oss_data_lake_spark.sources.catalog import CommitConflict, CommitProtocol

PER_COMMIT = frozenset(
    {"version", "parent", "mode", "txn", "txn_record", "committed_at_ms",
     "clone_source"}
)
LEDGER = "txn_watermarks"


def empty_file_set() -> dict:
    """Every file-set key, for a snapshot that shows no file."""
    return {
        "data_dirs": [],
        # per-dir partition spec and hidden-partition transforms
        "partition_specs": {},
        "partition_transforms": {},
        # per-dir write schema and write-time name -> field id map
        "dir_schemas": {},
        "dir_field_ids": {},
        # per-dir visible-file subsets (absent dir = every file)
        "dir_files": {},
        # merge-on-read position and equality deletes
        "delete_dirs": [],
        "eq_deletes": [],
        # per-dir per-file column bounds (absent dir = never skipped)
        "file_stats": {},
    }


# ``dv_candidates``: per delete-vector dir, the candidate files the DML
# that wrote it scanned (a change-feed hint). It lives exactly as long as
# its delete dir: the builder keeps the entries of the child's
# ``delete_dirs`` and drops the key when none is left.
FILE_SET = frozenset({*empty_file_set(), "dv_candidates"})


def _new_table() -> dict:
    return {
        **empty_file_set(),
        "constraints": {},
        "properties": {},
        "declared_partition_by": None,
        "declared_sort_order": None,
        "table_stats": None,
        "column_defaults": None,
    }


def _table_level(key: str) -> bool:
    return key not in PER_COMMIT and key not in FILE_SET and key != LEDGER


def file_set(m: dict) -> dict:
    """``m``'s complete file set (keys it lacks read empty)."""
    return {**empty_file_set(), **{k: m[k] for k in FILE_SET if k in m}}


def table_fields(m: dict) -> dict:
    """``m``'s table-level fields, the txn ledger excluded."""
    return {k: x for k, x in m.items() if _table_level(k)}


@dataclass(frozen=True)
class Edit:
    """One commit's change to its parent manifest. ``mode``, ``files``
    and ``fields`` are values or functions of the parent manifest (None
    for a new table); ``txn`` is ``(app, version, force)``; ``stamp``
    holds the per-commit ``txn_record`` / ``clone_source``."""

    mode: str | Callable[[dict | None], str]
    files: dict | Callable[[dict | None], dict] | None = None
    fields: dict | Callable[[dict | None], dict] | None = None
    check: Callable[[int | None, dict | None, Callable], None] | None = None
    pin: tuple[int, dict] | None = None
    on_table: bool | None = None
    txn: tuple[str, int, bool] | None = None
    stamp: dict = field(default_factory=dict)


class ManifestBuilder:
    """Builds every manifest a table's commit protocol publishes."""

    def __init__(self, protocol: CommitProtocol):
        self.protocol = protocol

    def commit(self, edit: Edit) -> int:
        """Publish ``edit`` as the next version; returns it, or the
        snapshot an already-applied txn identity landed as."""
        return self.protocol.commit(functools.partial(self.build, edit))

    def build(
        self, edit: Edit, parent: int | None, read_manifest
    ) -> dict | int:
        """The manifest ``edit`` makes of ``parent`` (the build callback
        ``CommitProtocol.commit`` runs per claim)."""
        mode = edit.mode
        if edit.pin is not None:
            if parent != edit.pin[0]:
                raise CommitConflict(
                    f"planned against v{edit.pin[0]}, head is v{parent}"
                )
            pm = edit.pin[1]
        else:
            pm = read_manifest(parent) if parent else None
        if edit.on_table and pm is None:
            raise ValueError(f"{mode} on an empty table")
        if edit.on_table is False and pm is not None:
            raise ValueError(f"{mode}: the destination table already exists")
        version = (parent or 0) + 1
        ledger, txn = self.watermarks_of(pm), None
        if edit.txn is not None:
            app, tv, force = edit.txn
            entry = ledger.get(app)
            if not force and entry is not None and entry["version"] >= tv:
                return entry["snapshot"]  # re-delivery: already applied
            txn = {"app": app, "version": tv}
            ledger = {**ledger, app: {"version": tv, "snapshot": version}}
        if edit.check is not None:
            edit.check(parent, pm, read_manifest)
        out = _new_table()
        out.update((k, x) for k, x in (pm or {}).items() if k not in PER_COMMIT)
        for part, in_class in (
            (edit.files, FILE_SET.__contains__),
            (edit.fields, _table_level),
            (edit.stamp, PER_COMMIT.__contains__),
        ):
            part = part(pm) if callable(part) else part or {}
            stray = sorted(k for k in part if not in_class(k))
            if stray:
                raise KeyError(f"{mode} edit sets {stray} outside their class")
            out.update(part)
        live = set(out["delete_dirs"])
        dv = {d: c for d, c in out.pop("dv_candidates", {}).items() if d in live}
        if dv:
            out["dv_candidates"] = dv
        out.update(
            version=version,
            parent=parent,
            mode=mode(pm) if callable(mode) else mode,
            txn=txn,
            txn_watermarks=ledger,
            committed_at_ms=int(time.time() * 1000),
        )
        return out

    def watermarks_of(self, m: dict | None) -> dict:
        """The txn ledger ``{app: {"version", "snapshot"}}`` manifest
        ``m`` carries ({} for no parent); a manifest from before the
        ledger existed derives it once from the whole version log."""
        if m is None:
            return {}
        if LEDGER in m:
            return m[LEDGER]
        wm: dict = {}
        for v in self.protocol.list_versions():
            old = self.protocol.manifest(v)
            txn = old.get("txn")
            if txn and (
                txn["app"] not in wm
                or txn["version"] > wm[txn["app"]]["version"]
            ):
                wm[txn["app"]] = {
                    "version": txn["version"],
                    "snapshot": old["version"],
                }
        return wm
