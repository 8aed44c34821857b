"""Pluggable commit protocols — the catalog seam that makes snapshot
commits safe beyond one host's filesystem.

The reference stack delegates commit atomicity to a catalog SERVICE:
Trino's Iceberg connector points at a Lakekeeper REST catalog (reference
docker-compose.yaml:21-46, etc/catalog/iceberg.properties:16), because an
object store has no rename, no link, and no lock — multi-writer atomicity
needs a compare-and-swap point OUTSIDE the store (or the store's own
conditional PUT: S3 ``If-None-Match``/``If-Match``, GCS
``x-goog-if-generation-match``). This module factors ``SnapshotTable``'s
metadata tail behind one interface with two implementations:

- :class:`LocalFsCommitProtocol` — the flock + hard-link-claim protocol
  (POSIX-atomic, cross-process on one host): the build callback runs under
  an exclusive lock, the manifest is link-claimed into its version slot,
  and the CURRENT pointer advances via temp + ``os.replace``. A slot a
  dead writer linked but never pointed to is rolled forward by the next
  commit, as the CAS protocol below does.
- :class:`CasCommitProtocol` — optimistic concurrency over a
  :class:`CasCatalog` key-value store offering only GET / conditional-PUT
  (exactly the object-store primitive set — no rename, no link, no lock):

  1. read CURRENT → parent
  2. run the build callback against parent (pure: safe to re-run)
  3. ``put_if_absent`` the full manifest into slot ``v{parent+1}`` —
     the atomic CLAIM; losing the claim means another writer committed
     first, so re-read and rebuild (a lost update is structurally
     impossible: no write lands except through a won claim)
  4. CAS the CURRENT pointer ``parent → parent+1``

  A writer that crashes between claim and pointer-advance leaves a
  complete, consistent manifest in the slot; the next writer's failed
  claim HELPS it forward (CAS of the pointer on its behalf) before
  retrying — the standard roll-forward that keeps the table lock-free
  and never wedged.

Readers are safe on any implementation because a version slot only ever
comes into existence with its full payload (hard-link of a written file /
single conditional PUT), and the pointer only advances to slots that
exist.

``InMemoryCasCatalog`` is the object-store-semantics fake the tests prove
the CAS protocol against; a production deployment backs :class:`CasCatalog`
with S3 conditional writes or a REST catalog service (the Lakekeeper role).
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid
from abc import ABC, abstractmethod
from collections import OrderedDict
from typing import Callable

# build(parent_version, read_manifest) returns either the manifest dict for
# version parent+1, or an int short-circuit (an already-applied idempotent
# commit's snapshot version). It may run MORE THAN ONCE under optimistic
# protocols — it must be pure (no side effects beyond reading manifests).
BuildFn = Callable[["int | None", Callable[[int], dict]], "dict | int"]


class CommitConflict(RuntimeError):
    """An optimistic rewrite/commit lost its validation race: the table
    head moved between planning and publish. Retryable by replanning."""


class CommitProtocol(ABC):
    """Where a snapshot table's metadata becomes atomic: version slots,
    the CURRENT pointer, and the serialization of the commit tail."""

    @abstractmethod
    def read_current(self) -> int | None: ...

    @abstractmethod
    def read_manifest(self, version: int) -> dict: ...

    def manifest(self, version: int) -> dict:
        """Parsed manifest of ``version`` — the one way callers get one.
        The dict may be shared with other callers: never mutate it.
        Raises ``FileNotFoundError`` for an absent (expired) slot."""
        return self.read_manifest(version)

    @abstractmethod
    def list_versions(self) -> list[int]: ...

    @abstractmethod
    def delete_manifest(self, version: int) -> None: ...

    @abstractmethod
    def commit(self, build: BuildFn) -> int:
        """Run ``build`` against a consistent parent and publish its
        manifest as the next version; returns the published (or
        short-circuited) version number."""


def open_protocol(
    path: str, rest: "tuple[str, str] | None" = None
) -> CommitProtocol:
    """The commit protocol of the table rooted at ``path``: the REST
    catalog service ``rest`` = ``(url, table)`` when given, else the
    local ``<path>/_snapshots`` tail. Every engine-built protocol comes
    from here."""
    if rest is not None:
        from oss_data_lake_spark.sources.rest_catalog import (
            RestCommitProtocol,
        )

        return RestCommitProtocol(*rest)
    return LocalFsCommitProtocol(os.path.join(path, "_snapshots"))


# --------------------------------------------------------------- local FS

# Parsed local manifests, process-wide: absolute path -> (identity,
# dict). A version slot is write-once (link-claimed from a fresh file),
# so an entry is valid while the file's (inode, size, mtime) is; a table
# dropped and recreated at the same path has new files and misses.
# Bounded by the summed file sizes; the oldest entries leave first.
_MANIFESTS: "OrderedDict[str, tuple[tuple, dict]]" = OrderedDict()
_MANIFESTS_CAP = 16 << 20
_manifests_bytes = 0
_manifests_mu = threading.Lock()


def _cache_manifest(path: str, ident: tuple | None, manifest=None) -> None:
    """Put ``manifest`` under ``path`` (``ident[1]`` is its size), or
    drop the entry when ``ident`` is None."""
    global _manifests_bytes
    with _manifests_mu:
        old = _MANIFESTS.pop(path, None)
        if old is not None:
            _manifests_bytes -= old[0][1]
        if ident is None or ident[1] > _MANIFESTS_CAP:
            return
        _MANIFESTS[path] = (ident, manifest)
        _manifests_bytes += ident[1]
        while _manifests_bytes > _MANIFESTS_CAP:
            _manifests_bytes -= _MANIFESTS.popitem(last=False)[1][0][1]


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class LocalFsCommitProtocol(CommitProtocol):
    """flock-serialized tail + hard-link version claims + atomic pointer
    replace — correct across processes on ONE host's POSIX filesystem.
    (Object stores have none of these primitives; use
    :class:`CasCommitProtocol` there.) The metadata directory is created
    by the first commit, never by a handle."""

    def __init__(self, meta_dir: str):
        self.meta = os.path.abspath(meta_dir)

    def read_current(self) -> int | None:
        try:
            with open(os.path.join(self.meta, "CURRENT")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def read_manifest(self, version: int) -> dict:
        with open(os.path.join(self.meta, f"v{version}.json")) as f:
            return json.load(f)

    def manifest(self, version: int) -> dict:
        """Cached parse, checked by one ``os.stat`` (which also raises
        ``FileNotFoundError`` for an expired slot). Filled on read only:
        a build's own dict may hold tuples a JSON round trip would not."""
        path = os.path.join(self.meta, f"v{version}.json")
        st = os.stat(path)
        ident = (st.st_ino, st.st_size, st.st_mtime_ns)
        with _manifests_mu:
            hit = _MANIFESTS.get(path)
        if hit is not None and hit[0] == ident:
            return hit[1]
        out = self.read_manifest(version)
        _cache_manifest(path, ident, out)
        return out

    def list_versions(self) -> list[int]:
        try:
            names = os.listdir(self.meta)
        except FileNotFoundError:
            return []
        out = []
        for name in names:
            m = re.fullmatch(r"v(\d+)\.json", name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def delete_manifest(self, version: int) -> None:
        path = os.path.join(self.meta, f"v{version}.json")
        _cache_manifest(path, None)
        os.remove(path)

    def commit(self, build: BuildFn) -> int:
        import fcntl

        os.makedirs(self.meta, exist_ok=True)
        with open(os.path.join(self.meta, "LOCK"), "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                parent = self._roll_forward()
                result = build(parent, self.manifest)
                if isinstance(result, int):
                    return result
                version = result["version"]
                self._publish(version, result)
                return version
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _roll_forward(self) -> int | None:
        """Finish a publish a dead writer left half done, then return the
        head to build on. Called under the lock, so no live writer owns a
        temp file or a slot above CURRENT: a slot there comes from a
        writer that died between its link and its pointer replace, and
        its manifest is complete (the link is create-exclusive with full
        content). If it parses, CURRENT advances to it — as
        :class:`CasCommitProtocol` helps a dead claim forward — and so on
        while the next slot exists; otherwise every later commit would
        collide with the slot. Stale ``*.tmp-*`` files are removed."""
        for name in os.listdir(self.meta):
            if ".tmp-" in name and name.startswith(("CURRENT.", "v")):
                os.remove(os.path.join(self.meta, name))
        head = cur = self.read_current()
        nxt = (cur or 0) + 1
        while os.path.exists(os.path.join(self.meta, f"v{nxt}.json")):
            try:
                self.read_manifest(nxt)
            except ValueError:
                break  # not a manifest: leave it for the link to refuse
            cur, nxt = nxt, nxt + 1
        if cur != head:
            cpath = os.path.join(self.meta, "CURRENT")
            os.replace(self._write_synced(cpath, str(cur)), cpath)
            _fsync_dir(self.meta)
        return cur

    def _publish(self, version: int, manifest: dict) -> None:
        """The manifest is written to a temp file and ``os.link``ed into
        ``v{N}.json``: an ATOMIC create-exclusive with full content, so a
        reader never observes a partial manifest, and a version slot can
        never be silently overwritten even by a non-conforming writer
        (the link raises instead). The CURRENT pointer then advances
        MONOTONICALLY via temp + ``os.replace``. Each file is fsynced
        before it is linked or renamed into place, and the directory
        after, so a host crash cannot leave CURRENT naming a manifest
        that never reached the disk."""
        mpath = os.path.join(self.meta, f"v{version}.json")
        tmp = self._write_synced(mpath, json.dumps(manifest))
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise RuntimeError(
                f"version {version} already exists under {self.meta} — "
                f"a writer bypassed the commit lock"
            )
        finally:
            os.remove(tmp)
        _fsync_dir(self.meta)
        if version > (self.read_current() or 0):
            cpath = os.path.join(self.meta, "CURRENT")
            os.replace(self._write_synced(cpath, str(version)), cpath)
            _fsync_dir(self.meta)

    @staticmethod
    def _write_synced(path: str, text: str) -> str:
        """``text`` in a fresh temp file beside ``path``, flushed to
        disk; returns the temp file's path."""
        tmp = path + f".tmp-{uuid.uuid4().hex[:6]}"
        with open(tmp, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        return tmp


# ------------------------------------------------------------ CAS catalog


class CasCatalog(ABC):
    """The minimal key-value contract a CAS commit point needs — exactly
    what object stores and catalog services offer. NO rename, NO link,
    NO lock: atomicity comes only from conditional writes."""

    @abstractmethod
    def get(self, key: str) -> bytes | None: ...

    @abstractmethod
    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Create-exclusive (S3 ``If-None-Match: *``); False if the key
        exists."""

    @abstractmethod
    def put_if_match(
        self, key: str, data: bytes, expected: bytes | None
    ) -> bool:
        """Conditional replace: succeed only if the key's current value
        equals ``expected`` (None = key must not exist) — S3
        ``If-Match``-by-content / a catalog service's CAS endpoint."""

    @abstractmethod
    def list_keys(self, prefix: str) -> list[str]: ...

    @abstractmethod
    def delete(self, key: str) -> None: ...


class InMemoryCasCatalog(CasCatalog):
    """Object-store-semantics fake for tests: a guarded dict whose ONLY
    atomic primitives are the conditional puts. Deliberately offers
    nothing a real object store lacks."""

    def __init__(self):
        self._data: dict[str, bytes] = {}
        self._mu = threading.Lock()

    def get(self, key: str) -> bytes | None:
        with self._mu:
            return self._data.get(key)

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._mu:
            if key in self._data:
                return False
            self._data[key] = data
            return True

    def put_if_match(
        self, key: str, data: bytes, expected: bytes | None
    ) -> bool:
        with self._mu:
            if self._data.get(key) != expected:
                return False
            self._data[key] = data
            return True

    def list_keys(self, prefix: str) -> list[str]:
        with self._mu:
            return sorted(k for k in self._data if k.startswith(prefix))

    def delete(self, key: str) -> None:
        with self._mu:
            self._data.pop(key, None)


class CasCommitProtocol(CommitProtocol):
    """Optimistic commits through a :class:`CasCatalog`: claim the next
    version slot with a conditional PUT, then CAS the pointer. Lost
    updates are structurally rejected — a manifest only becomes visible
    through a won claim, and the claim key embeds the parent version it
    was built against."""

    def __init__(self, catalog: CasCatalog, prefix: str = "", retries: int = 20):
        self.catalog = catalog
        self.prefix = prefix
        self.retries = retries

    def _vkey(self, version: int) -> str:
        return f"{self.prefix}v{version}.json"

    def _ckey(self) -> str:
        return f"{self.prefix}CURRENT"

    def read_current(self) -> int | None:
        raw = self.catalog.get(self._ckey())
        return None if raw is None else int(raw.decode())

    def read_manifest(self, version: int) -> dict:
        raw = self.catalog.get(self._vkey(version))
        if raw is None:
            raise FileNotFoundError(self._vkey(version))
        return json.loads(raw.decode())

    def list_versions(self) -> list[int]:
        out = []
        for key in self.catalog.list_keys(f"{self.prefix}v"):
            m = re.fullmatch(r"v(\d+)\.json", key[len(self.prefix):])
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def delete_manifest(self, version: int) -> None:
        self.catalog.delete(self._vkey(version))

    def _advance(self, parent: int | None, version: int) -> bool:
        return self.catalog.put_if_match(
            self._ckey(),
            str(version).encode(),
            None if parent is None else str(parent).encode(),
        )

    def commit(self, build: BuildFn) -> int:
        for _attempt in range(self.retries):
            parent = self.read_current()
            result = build(parent, self.manifest)
            if isinstance(result, int):
                return result
            version = result["version"]
            payload = json.dumps(result).encode()
            if not self.catalog.put_if_absent(self._vkey(version), payload):
                # Slot taken: a concurrent writer won this version. If it
                # crashed between claim and pointer-advance, its manifest
                # is complete (single conditional PUT) — HELP it forward
                # so the table can never wedge, then rebuild against the
                # new head.
                self._advance(parent, version)
                continue
            if self._advance(parent, version):
                return version
            # our claim landed but the pointer moved under us: the only
            # writer able to advance past `parent` toward OUR slot is a
            # helper rolling us forward — verify and succeed
            cur = self.read_current()
            if cur is not None and cur >= version:
                return version
            raise RuntimeError(
                f"catalog pointer at {cur} below claimed slot {version} "
                f"after failed advance — inconsistent catalog"
            )
        raise CommitConflict(
            f"commit lost {self.retries} claim races under prefix "
            f"'{self.prefix}'"
        )
