"""Persistent SQL VIEWs — the logical-view counterpart of M15's
MATERIALIZED VIEW (reference parity: Trino-over-Iceberg view DDL, the
canonical BI artifact of the reference stack — Metabase/CloudBeaver
users save queries as views; reference RUNBOOK §3.3 fronts arbitrary BI
SQL).

A view is a NAME bound to SELECT text in catalog metadata. Nothing is
materialized: the text is re-planned at read time over the CURRENT
snapshot of every base table, so a view over a snapshot table always
reflects the head — and composes with the full statement surface its
body may use (time-travel ``FOR VERSION AS OF``, metadata tables
``t$files``, ``table_changes(...)``), because the body evaluates through
``sql_with_time_travel``.

Storage is one JSON file per view under ``<warehouse>/_views/`` written
atomically (tmp + rename, the manifest discipline) — a fresh engine
process over the same warehouse sees the same views, and two engines
share them the way they share snapshot tables. The files are
metadata-scale (statement text), never data.

Dropped base columns: the view stores its definition, not its plan —
when a base column the body needs is dropped, read-time analysis fails
and the error names the VIEW so the user knows which saved query broke
(Trino's behavior: views are validated at reference time).
"""

from __future__ import annotations

import json
import os
import re
import tempfile

from oss_data_lake_spark.sqltext import _literal_spans

_VIEW_NAME_RE = re.compile(r"^[A-Za-z_][\w.]*$")


class ViewCatalog:
    """Durable name → SELECT-text bindings under ``root``. Every
    operation reads the directory fresh (metadata-scale, one small JSON
    per view), so concurrent engine processes over the same warehouse
    observe each other's DDL without coordination beyond the atomic
    rename."""

    def __init__(self, root: str):
        self.root = root

    # ------------------------------------------------------------ files
    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.json")

    def _write_atomic(self, name: str, payload: dict) -> None:
        os.makedirs(self.root, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(payload, fh)
            os.replace(tmp, self._path(name))
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)
            raise

    # -------------------------------------------------------------- API
    def names(self) -> list[str]:
        if not os.path.isdir(self.root):
            return []
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.root)
            if f.endswith(".json")
        )

    def get(self, name: str) -> str | None:
        try:
            with open(self._path(name)) as fh:
                return json.load(fh)["text"]
        except FileNotFoundError:
            return None

    def create(
        self,
        name: str,
        text: str,
        or_replace: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        if not _VIEW_NAME_RE.match(name):
            raise ValueError(f"invalid view name: {name!r}")
        if self.get(name) is not None:
            if if_not_exists:
                return
            if not or_replace:
                raise ValueError(
                    f"view '{name}' already exists; use CREATE OR "
                    f"REPLACE VIEW or DROP VIEW first"
                )
        self._write_atomic(name, {"name": name, "text": text})

    def drop(self, name: str, if_exists: bool = False) -> bool:
        try:
            os.remove(self._path(name))
            return True
        except FileNotFoundError:
            if if_exists:
                return False
            raise ValueError(f"view '{name}' does not exist")


def referenced_views(text: str, names: list[str]) -> list[str]:
    """View names from ``names`` referenced by ``text`` outside string
    literals — the same masked-scan discipline every statement rewrite
    here uses (``'... FROM v'`` inside a literal stays data)."""
    spans = _literal_spans(text)
    hits = []
    for name in names:
        for m in re.finditer(rf"\b{re.escape(name)}\b", text):
            lo = m.start()
            if not any(a <= lo < b for a, b in spans):
                hits.append(name)
                break
    return hits
