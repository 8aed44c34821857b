"""Iceberg-REST-shaped catalog façade over HTTP — the Lakekeeper role.

The reference stack's commit atomicity lives in a catalog SERVICE
reached over HTTP: Trino's Iceberg connector points at
``uri=http://lakekeeper:8181/catalog`` (reference
etc/catalog/iceberg.properties:16, docker-compose.yaml:21-46). The CAS
semantics of that role are already replicated in-process by
``sources/catalog.py``; this module closes the remaining gap — the WIRE
— so two independent Engine processes share one snapshot table through
the same protocol SHAPE the reference uses: *load table* + *commit with
requirements*.

Server: :class:`RestCatalogServer` — a stdlib ``ThreadingHTTPServer``
holding table metadata (version → manifest, CURRENT pointer) behind one
lock. The commit endpoint checks Iceberg-REST-style requirements
(``assert-current-version``) and appends the manifest ATOMICALLY under
the lock: a stale requirement gets ``409 CommitFailedException`` and
nothing changes — the lost update is structurally rejected server-side,
exactly the Lakekeeper behavior Trino relies on.

Client: :class:`RestCommitProtocol` — a ``CommitProtocol`` whose
``commit(build)`` loops load → build → POST-with-requirement, rebuilding
on 409 (optimistic concurrency, same loop as ``CasCommitProtocol``).
Plug it into ``SnapshotTable(..., protocol=...)`` and the full statement
surface (DML, branches, time travel) runs its metadata tail through
HTTP while data files stay on the shared store.

Endpoints (minimal Iceberg-REST subset):

- ``GET    /v1/config``                         → defaults/overrides
- ``GET    /v1/tables/{name}``                  → load: current version + list
- ``GET    /v1/tables/{name}/manifests/{v}``    → manifest JSON
- ``POST   /v1/tables/{name}/commit``           → requirements + manifest
- ``DELETE /v1/tables/{name}/manifests/{v}``    → retention (expire)
"""

from __future__ import annotations

import json
import re
import threading
import urllib.error
import urllib.request
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from oss_data_lake_spark.sources.catalog import (
    CommitConflict,
    CommitProtocol,
)

_TABLE_RE = re.compile(r"^/v1/tables/([A-Za-z_][\w.-]*)$")
_NAMESPACES_RE = re.compile(r"^/v1/namespaces$")
_NAMESPACE_RE = re.compile(r"^/v1/namespaces/([A-Za-z_][\w.-]*)$")
_NS_TABLES_RE = re.compile(r"^/v1/namespaces/([A-Za-z_][\w.-]*)/tables$")
_MANIFEST_RE = re.compile(r"^/v1/tables/([A-Za-z_][\w.-]*)/manifests/(\d+)$")
_COMMIT_RE = re.compile(r"^/v1/tables/([A-Za-z_][\w.-]*)/commit$")
_VIEWS_RE = re.compile(r"^/v1/views$")
_VIEW_RE = re.compile(r"^/v1/views/([A-Za-z_][\w.]*)$")


class RestCatalogServer:
    """In-process catalog service on ``127.0.0.1:<ephemeral>``. One
    lock serializes commits (the catalog-service role: requirement
    check + append are one atomic step); reads are lock-consistent.
    Metadata only — manifests are KB-scale JSON, never data."""

    def __init__(self):
        self._tables: dict[str, dict] = {}  # name -> {versions, current}
        self._views: dict[str, str] = {}    # name -> SELECT text
        self._namespaces: dict[str, dict] = {}  # dotted name -> properties
        # Lakekeeper's MANAGEMENT warehouse role (reference RUNBOOK step 4:
        # GET/POST /management/v1/warehouse with the repo's JSON payloads):
        # name -> {project-id, storage-profile} — credentials accepted but
        # never echoed back (Lakekeeper redacts them too)
        self._warehouses: dict[str, dict] = {}
        self._mu = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def _json(self, code: int, payload: dict) -> None:
                body = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):
                if self.path == "/v1/config":
                    return self._json(200, {"defaults": {}, "overrides": {}})
                if self.path.rstrip("/") == "/management/v1/warehouse":
                    with outer._mu:
                        # the id echoed here is the one assigned at
                        # creation and stored in the record — POST and GET
                        # must agree (listing order is by name, but ids
                        # are creation-stable)
                        whs = [
                            {"id": w["id"], "name": n,
                             "project-id": w.get("project-id"),
                             "storage-profile": w.get("storage-profile")}
                            for n, w in sorted(outer._warehouses.items())
                        ]
                    return self._json(200, {"warehouses": whs})
                if _NAMESPACES_RE.match(self.path):
                    with outer._mu:
                        return self._json(
                            200,
                            {"namespaces": sorted(outer._namespaces)},
                        )
                m = _NS_TABLES_RE.match(self.path)
                if m:
                    ns = m.group(1)
                    with outer._mu:
                        if ns not in outer._namespaces:
                            return self._json(
                                404, {"error": "NoSuchNamespaceException"}
                            )
                        # a table belongs to the DEEPEST namespace its
                        # dotted name prefixes (Iceberg identifier rule)
                        members = sorted(
                            t for t in outer._tables
                            if t.startswith(ns + ".")
                            and "." not in t[len(ns) + 1:]
                        )
                    return self._json(200, {"identifiers": members})
                m = _NAMESPACE_RE.match(self.path)
                if m:
                    with outer._mu:
                        props = outer._namespaces.get(m.group(1))
                    if props is None:
                        return self._json(
                            404, {"error": "NoSuchNamespaceException"}
                        )
                    return self._json(
                        200,
                        {"namespace": m.group(1), "properties": props},
                    )
                m = _TABLE_RE.match(self.path)
                if m:
                    with outer._mu:
                        t = outer._tables.get(m.group(1))
                        if t is None:
                            return self._json(
                                404, {"error": "NoSuchTableException"}
                            )
                        return self._json(200, {
                            "metadata": {
                                "current-version": t["current"],
                                "versions": sorted(t["versions"]),
                            }
                        })
                m = _MANIFEST_RE.match(self.path)
                if m:
                    with outer._mu:
                        t = outer._tables.get(m.group(1))
                        mf = (t or {"versions": {}})["versions"].get(
                            int(m.group(2))
                        )
                    if mf is None:
                        return self._json(
                            404, {"error": "NoSuchManifestException"}
                        )
                    return self._json(200, mf)
                if _VIEWS_RE.match(self.path):
                    with outer._mu:
                        return self._json(
                            200, {"views": sorted(outer._views)}
                        )
                m = _VIEW_RE.match(self.path)
                if m:
                    with outer._mu:
                        text = outer._views.get(m.group(1))
                    if text is None:
                        return self._json(
                            404, {"error": "NoSuchViewException"}
                        )
                    return self._json(
                        200, {"name": m.group(1), "text": text}
                    )
                return self._json(404, {"error": "NotFound"})

            def do_POST(self):
                if self.path.rstrip("/") == "/management/v1/warehouse":
                    # the reference's create-yfinance-warehouse.json shape:
                    # warehouse-name / project-id / storage-profile /
                    # storage-credential (accepted, stored minus secrets)
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n).decode())
                    name = req.get("warehouse-name") or req.get("name")
                    if not name:
                        return self._json(
                            400, {"error": "warehouse-name required"}
                        )
                    with outer._mu:
                        if name in outer._warehouses:
                            return self._json(409, {
                                "error": "WarehouseAlreadyExistsException",
                            })
                        # id is assigned ONCE here and stored with the
                        # record; GET echoes the stored id, so creation
                        # order and name-sorted listing order can't
                        # disagree about which warehouse an id names
                        wid = f"wh-{len(outer._warehouses)}"
                        outer._warehouses[name] = {
                            "id": wid,
                            "project-id": req.get("project-id"),
                            "storage-profile": req.get("storage-profile"),
                        }
                    return self._json(201, {"warehouse-id": wid})
                if _NAMESPACES_RE.match(self.path):
                    # Lakekeeper's namespace role: nested namespaces are
                    # dotted names; creating a child requires the parent
                    # (Iceberg REST CreateNamespace semantics)
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n).decode())
                    name = req["namespace"]
                    if isinstance(name, list):
                        name = ".".join(name)
                    with outer._mu:
                        if name in outer._namespaces:
                            return self._json(409, {
                                "error": "NamespaceAlreadyExistsException",
                            })
                        parent = name.rsplit(".", 1)[0] if "." in name else None
                        if parent and parent not in outer._namespaces:
                            return self._json(404, {
                                "error": "NoSuchNamespaceException",
                                "message": f"parent '{parent}' missing",
                            })
                        outer._namespaces[name] = dict(
                            req.get("properties") or {}
                        )
                    return self._json(200, {"namespace": name})
                if self.path == "/v1/transactions/commit":
                    # Lakekeeper's multi-table commit (the capability the
                    # reference's Iceberg REST catalog exposes — one
                    # request commits N tables): validate EVERY member's
                    # requirements under the single service lock, then
                    # apply EVERY manifest — all-or-nothing server-side,
                    # for engines that share only the catalog, not a
                    # filesystem
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n).decode())
                    changes = req.get("table-changes", [])
                    seen = [c.get("table") for c in changes]
                    if len(set(seen)) != len(seen):
                        return self._json(400, {
                            "error": "BadRequest",
                            "message": f"duplicate table in transaction: "
                                       f"{seen}",
                        })
                    with outer._mu:
                        staged = []
                        for ch in changes:
                            # validation is READ-ONLY: a table unknown to
                            # the catalog reads as current=None — creating
                            # the entry here would leave phantom empty
                            # tables behind when a LATER member 409s
                            # (round-10 ADVICE: they showed up in
                            # namespace listings and blocked drops)
                            t = outer._tables.get(ch["table"])
                            cur = t["current"] if t else None
                            versions = t["versions"] if t else {}
                            for r in ch.get("requirements", []):
                                if r.get("type") == "assert-current-version":
                                    if cur != r.get("version"):
                                        return self._json(409, {
                                            "error": "CommitFailedException",
                                            "message": (
                                                f"table {ch['table']}: "
                                                f"current version is "
                                                f"{cur}, not "
                                                f"{r.get('version')} — "
                                                f"NOTHING was applied"
                                            ),
                                        })
                                else:
                                    return self._json(400, {
                                        "error": "BadRequest",
                                        "message": f"unknown requirement "
                                                   f"{r!r}",
                                    })
                            v = int(ch["manifest"]["version"])
                            if v in versions:
                                return self._json(409, {
                                    "error": "CommitFailedException",
                                    "message": (
                                        f"table {ch['table']}: version {v} "
                                        f"already committed — NOTHING was "
                                        f"applied"
                                    ),
                                })
                            staged.append((ch["table"], v, ch["manifest"]))
                        # every requirement held: apply all — entries are
                        # materialized only HERE, and no step below can
                        # fail, so the lock makes this atomic
                        results = []
                        for name, v, mf in staged:
                            t = outer._tables.setdefault(
                                name, {"versions": {}, "current": None}
                            )
                            t["versions"][v] = mf
                            if t["current"] is None or v > t["current"]:
                                t["current"] = v
                            results.append({"table": name, "version": v})
                        return self._json(200, {"results": results})
                m = _VIEW_RE.match(self.path)
                if m:
                    n = int(self.headers.get("Content-Length", 0))
                    req = json.loads(self.rfile.read(n).decode())
                    name = m.group(1)
                    with outer._mu:
                        exists = name in outer._views
                        if exists and req.get("mode") == "create":
                            return self._json(409, {
                                "error": "ViewAlreadyExistsException",
                            })
                        if exists and req.get("mode") == "create_if_absent":
                            return self._json(200, {"created": False})
                        outer._views[name] = req["text"]
                        return self._json(200, {"created": not exists})
                m = _COMMIT_RE.match(self.path)
                if not m:
                    return self._json(404, {"error": "NotFound"})
                n = int(self.headers.get("Content-Length", 0))
                req = json.loads(self.rfile.read(n).decode())
                manifest = req["manifest"]
                with outer._mu:
                    t = outer._tables.setdefault(
                        m.group(1), {"versions": {}, "current": None}
                    )
                    # Iceberg-REST commit requirements: every one must
                    # hold against the CURRENT state or the whole commit
                    # refuses — the lost-update rejection
                    for r in req.get("requirements", []):
                        if r.get("type") == "assert-current-version":
                            if t["current"] != r.get("version"):
                                return self._json(409, {
                                    "error": "CommitFailedException",
                                    "message": (
                                        f"requirement failed: current "
                                        f"version is {t['current']}, "
                                        f"not {r.get('version')}"
                                    ),
                                })
                        else:
                            return self._json(400, {
                                "error": "BadRequest",
                                "message": f"unknown requirement {r!r}",
                            })
                    v = int(manifest["version"])
                    if v in t["versions"]:
                        return self._json(409, {
                            "error": "CommitFailedException",
                            "message": f"version {v} already committed",
                        })
                    t["versions"][v] = manifest
                    if t["current"] is None or v > t["current"]:
                        t["current"] = v
                    return self._json(200, {"version": v})

            def do_DELETE(self):
                m = _TABLE_RE.match(self.path)
                if m:
                    # dropTable: the whole metadata tail goes — a later
                    # CREATE of the same name starts at v1 again (without
                    # this, a dropped-then-recreated table would append
                    # onto stale metadata referencing deleted data)
                    with outer._mu:
                        if m.group(1) not in outer._tables:
                            return self._json(
                                404, {"error": "NoSuchTableException"}
                            )
                        del outer._tables[m.group(1)]
                        return self._json(200, {})
                m = _NAMESPACE_RE.match(self.path)
                if m:
                    ns = m.group(1)
                    with outer._mu:
                        if ns not in outer._namespaces:
                            return self._json(
                                404, {"error": "NoSuchNamespaceException"}
                            )
                        # Iceberg refuses dropping a non-empty namespace
                        busy = any(
                            t.startswith(ns + ".") for t in outer._tables
                        ) or any(
                            other.startswith(ns + ".")
                            for other in outer._namespaces
                        )
                        if busy:
                            return self._json(409, {
                                "error": "NamespaceNotEmptyException",
                            })
                        del outer._namespaces[ns]
                        return self._json(200, {})
                m = _VIEW_RE.match(self.path)
                if m:
                    with outer._mu:
                        if m.group(1) not in outer._views:
                            return self._json(
                                404, {"error": "NoSuchViewException"}
                            )
                        del outer._views[m.group(1)]
                        return self._json(200, {})
                m = _MANIFEST_RE.match(self.path)
                if not m:
                    return self._json(404, {"error": "NotFound"})
                with outer._mu:
                    t = outer._tables.get(m.group(1))
                    if t is None or int(m.group(2)) not in t["versions"]:
                        return self._json(
                            404, {"error": "NoSuchManifestException"}
                        )
                    del t["versions"][int(m.group(2))]
                    return self._json(200, {})

        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address
        return f"http://{host}:{port}"

    def start(self) -> "RestCatalogServer":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()


class RestViewCatalog:
    """Persistent-VIEW bindings through the catalog service — the same
    ``names/get/create/drop`` interface as ``views.ViewCatalog`` (the
    file-based default), so ``Engine(view_catalog=...)`` shares saved
    queries across processes the way Lakekeeper serves Iceberg views.
    All operations are one HTTP round-trip over KB-scale text."""

    def __init__(self, base_url: str):
        self.base = base_url.rstrip("/")

    def _request(self, method: str, path: str, payload: dict | None = None):
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(
            self.base + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read().decode() or "{}")

    def names(self) -> list[str]:
        _code, body = self._request("GET", "/v1/views")
        return body["views"]

    def get(self, name: str) -> str | None:
        code, body = self._request("GET", f"/v1/views/{name}")
        return None if code == 404 else body["text"]

    def create(
        self,
        name: str,
        text: str,
        or_replace: bool = False,
        if_not_exists: bool = False,
    ) -> None:
        mode = (
            "replace"
            if or_replace
            else "create_if_absent" if if_not_exists else "create"
        )
        code, _body = self._request(
            "POST", f"/v1/views/{name}", {"text": text, "mode": mode}
        )
        if code == 409:
            raise ValueError(
                f"view '{name}' already exists; use CREATE OR REPLACE "
                f"VIEW or DROP VIEW first"
            )

    def drop(self, name: str, if_exists: bool = False) -> bool:
        code, _body = self._request("DELETE", f"/v1/views/{name}")
        if code == 404:
            if if_exists:
                return False
            raise ValueError(f"view '{name}' does not exist")
        return True


class RestNamespaces:
    """Namespace operations through the catalog service — the
    Lakekeeper warehouse/namespace role (the reference creates
    namespaces through Lakekeeper before Trino can CREATE SCHEMA;
    ``sources/tables.Warehouse`` is the in-session analogue). Nested
    namespaces are dotted names; a child needs its parent; a non-empty
    namespace refuses to drop — Iceberg REST semantics."""

    def __init__(self, base_url: str):
        self.base = base_url.rstrip("/")

    def _request(self, method: str, path: str, payload: dict | None = None):
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(
            self.base + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read().decode() or "{}")

    def list(self) -> list[str]:
        _code, body = self._request("GET", "/v1/namespaces")
        return body["namespaces"]

    def create(
        self,
        name: str,
        properties: dict | None = None,
        if_not_exists: bool = False,
    ) -> bool:
        code, body = self._request(
            "POST", "/v1/namespaces",
            {"namespace": name, "properties": properties or {}},
        )
        if code == 409:
            if if_not_exists:
                return False
            raise ValueError(f"namespace '{name}' already exists")
        if code == 404:
            raise ValueError(body.get("message", f"cannot create '{name}'"))
        return True

    def properties(self, name: str) -> dict | None:
        code, body = self._request("GET", f"/v1/namespaces/{name}")
        return None if code == 404 else body["properties"]

    def tables(self, name: str) -> list[str]:
        code, body = self._request("GET", f"/v1/namespaces/{name}/tables")
        if code == 404:
            raise ValueError(f"namespace '{name}' does not exist")
        return body["identifiers"]

    def drop(self, name: str, if_exists: bool = False) -> bool:
        code, body = self._request("DELETE", f"/v1/namespaces/{name}")
        if code == 404:
            if if_exists:
                return False
            raise ValueError(f"namespace '{name}' does not exist")
        if code == 409:
            raise ValueError(f"namespace '{name}' is not empty")
        return True


def rest_commit_transaction(
    base_url: str, changes: list[dict]
) -> list[dict]:
    """Submit one SERVER-SIDE multi-table commit:
    ``POST /v1/transactions/commit`` with every member's
    ``{"table", "requirements", "manifest"}``. The service validates all
    requirements and applies all manifests under its single lock —
    all-or-nothing with no client-side crash window. Returns the
    per-table results on 200; raises :class:`CommitConflict` on 409
    (NOTHING applied — re-prepare every member and retry)."""
    data = json.dumps({"table-changes": changes}).encode()
    req = urllib.request.Request(
        base_url.rstrip("/") + "/v1/transactions/commit",
        data=data,
        method="POST",
        headers={"Content-Type": "application/json"},
    )
    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read().decode())["results"]
    except urllib.error.HTTPError as e:
        body = json.loads(e.read().decode() or "{}")
        if e.code == 409:
            raise CommitConflict(
                body.get("message", "transaction requirements failed")
            ) from None
        raise RuntimeError(
            f"transaction commit failed ({e.code}): {body}"
        ) from None


class RestCommitProtocol(CommitProtocol):
    """``CommitProtocol`` over the REST catalog: optimistic load →
    build → commit-with-requirement, rebuilding on 409. The server's
    atomic requirement check makes a lost update structurally
    impossible — same guarantee as ``CasCommitProtocol``, through the
    reference's wire shape."""

    def __init__(self, base_url: str, table: str, retries: int = 20):
        self.base = base_url.rstrip("/")
        self.table = table
        self.retries = retries

    # ------------------------------------------------------------ wire
    def _request(self, method: str, path: str, payload: dict | None = None):
        data = None if payload is None else json.dumps(payload).encode()
        req = urllib.request.Request(
            self.base + path,
            data=data,
            method=method,
            headers={"Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=30) as resp:
                return resp.status, json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read().decode() or "{}")

    # ------------------------------------------------------- protocol
    def read_current(self) -> int | None:
        code, body = self._request("GET", f"/v1/tables/{self.table}")
        if code == 404:
            return None
        return body["metadata"]["current-version"]

    def read_manifest(self, version: int) -> dict:
        code, body = self._request(
            "GET", f"/v1/tables/{self.table}/manifests/{version}"
        )
        if code == 404:
            raise FileNotFoundError(
                f"{self.table} manifest v{version} not in catalog"
            )
        return body

    def list_versions(self) -> list[int]:
        code, body = self._request("GET", f"/v1/tables/{self.table}")
        if code == 404:
            return []
        return list(body["metadata"]["versions"])

    def delete_manifest(self, version: int) -> None:
        self._request(
            "DELETE", f"/v1/tables/{self.table}/manifests/{version}"
        )

    def drop_table(self) -> None:
        """Remove the WHOLE metadata tail from the catalog (DROP TABLE
        semantics): without this, a dropped-then-recreated name would
        append onto stale service metadata referencing deleted data.
        ``Engine.drop_snapshot_table`` calls it when the table's
        protocol exposes it; missing tables are a no-op (idempotent)."""
        self._request("DELETE", f"/v1/tables/{self.table}")

    def commit(self, build) -> int:
        for _attempt in range(self.retries):
            parent = self.read_current()
            result = build(parent, self.manifest)
            if isinstance(result, int):
                return result
            code, body = self._request(
                "POST",
                f"/v1/tables/{self.table}/commit",
                {
                    "requirements": [
                        {"type": "assert-current-version", "version": parent}
                    ],
                    "manifest": result,
                },
            )
            if code == 200:
                return body["version"]
            if code == 409:
                continue  # head moved: rebuild against the new parent
            raise RuntimeError(
                f"catalog commit failed ({code}): {body}"
            )
        raise CommitConflict(
            f"commit lost {self.retries} requirement races on table "
            f"'{self.table}'"
        )
