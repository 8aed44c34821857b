"""SnapshotTable as a STREAMING SOURCE — Delta's ``readStream`` parity.

The reference stack's consumers poll tables for new data (its DAG is
batch-triggered; a streaming consumer over Iceberg needs the incremental
append scan). Delta Lake's flagship equivalent is reading a versioned
table AS a stream: every committed append becomes a micro-batch, offsets
are table versions, and checkpoint recovery replays exactly the
uncommitted-to-sink versions. This module implements that on Spark 4's
Python DataSource API:

- **Offsets are snapshot versions** (``{"version": N}``): monotone by the
  commit protocol, durable in the stream checkpoint.
- **A micro-batch is the manifest DIFF between two versions**: exactly
  the data directories (restricted to their visible-file subsets) that
  versions ``start+1..end`` added — the same append-only delta contract
  as ``SnapshotTable.read_changes``, planned driver-side from manifests
  (metadata only).
- **One input partition per data file**: executors read their file with
  pyarrow and project onto the END version's schema (missing columns →
  NULL — schema evolution mid-stream yields the evolved view, like
  Delta with schema tracking).
- **Non-append history REFUSES loudly**: an overwrite / rollback /
  row-level rewrite between polled versions has no well-defined delta —
  the stream errors rather than silently replaying or dropping rows
  (Delta requires ``skipChangeCommits`` for the same reason; we have no
  silent mode).

Usage::

    spark.dataSource.register(SnapshotStreamSource)
    (spark.readStream.format("snapshot_stream")
          .option("path", table_path)
          .load()
          .writeStream...)

At 100 TB: offset planning is O(#versions-polled) manifest reads on the
driver; file reads are executor-parallel; a micro-batch's size is bounded
by what was committed, not by table size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

FORMAT_NAME = "snapshot_stream"


def _decode_segment(raw: str, typ: str):
    """A Hive ``key=value`` path segment value → a typed python value
    under the dir's DECLARED write-schema type (driver-side, at plan
    time — executors receive the decoded constants, never the paths)."""
    import datetime
    import urllib.parse

    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    v = urllib.parse.unquote(raw)
    if typ in ("byte", "short", "integer", "long"):
        return int(v)
    if typ in ("float", "double"):
        return float(v)
    if typ == "boolean":
        return v.lower() == "true"
    if typ == "date":
        return datetime.date.fromisoformat(v)
    if isinstance(typ, str) and typ.startswith("timestamp"):
        return datetime.datetime.fromisoformat(v.replace(" ", "T"))
    if isinstance(typ, str) and typ.startswith("decimal"):
        import decimal

        return decimal.Decimal(v)
    if typ == "string":
        return v
    # an unknown type decoded as a raw string would emit MISTYPED rows;
    # refuse at plan time instead (the pre-round-7 behavior for ALL
    # partitioned layouts, now scoped to the genuinely undecodable)
    raise ValueError(
        f"snapshot_stream: cannot decode partition segment {raw!r} "
        f"under declared type {typ!r}"
    )


def _rest_of(options) -> "tuple[str, str] | None":
    """``(restUrl, restTable)`` when both options name a REST-attached
    table, else None (the table's local ``_snapshots`` tail)."""
    url, tbl = options.get("restUrl"), options.get("restTable")
    return (str(url).rstrip("/"), str(tbl)) if url and tbl else None


def _build_source_class():
    """The DataSource / reader / partition classes are defined inside
    this factory, so cloudpickle ships the classes themselves to Python
    workers by value. Planning — ``schema()``, ``reader()`` and the
    readers' ``partitions()`` — runs in a Python worker and reads CURRENT
    and manifests through the table's commit protocol
    (``catalog.open_protocol``), so the package must be importable on
    Python workers, as every other engine path already requires. The readers
    keep only plain data as attributes (the table path and the REST
    ``(url, table)`` tuple) and import the factory inside their methods.
    The executor-side ``read`` touches only stdlib/pyarrow and pickled
    partition data."""

    class _FilePartition(InputPartition):
        def __init__(
            self, abs_path: str, columns: list[str],
            src_names: list[str] | None = None,
            consts: dict | None = None,
        ):
            self.abs_path = abs_path
            self.columns = columns
            # per-column WRITE-TIME name inside this file (field-id
            # resolution for renamed columns); None = same as columns
            self.src_names = src_names or columns
            # Hive PARTITION-column values for this file, decoded from
            # its path segments at PLAN time (partitionBy strips them
            # from the file bytes); {} for unpartitioned dirs
            self.consts = consts or {}

    class _ChangePartition(InputPartition):
        """One file's contribution to a CHANGE-FEED micro-batch. The
        executor reads the file with pyarrow and emits typed rows:

        - ``only_dv_refs`` set  → emit exactly the row indices those
          delete-vector files tombstone for this file
          (position-tombstone delta);
        - ``eq_only`` set       → emit rows whose key tuple matches the
          referenced equality-delete file's keys
          (equality-delete delta);
        - otherwise             → emit every row EXCEPT positions any
          ``skip_dv_refs`` vector tombstones and rows matching any
          ``eq_skip`` reference (whole-file visibility delta,
          pre-filtered by the snapshot's own delete state).

        Tombstone positions and equality keys are shipped as FILE
        REFERENCES, not values: the driver plans from file lists only
        (a wave with 10^5 tombstoned positions costs the driver one
        vectorized distinct over the vectors' ``file`` column), and the
        executor that already reads its data file reads the relevant
        delete files too — the same side-file pattern Iceberg v2
        executors use."""

        def __init__(
            self,
            abs_path: str,
            rel_path: str,
            src_names: list[str],
            change_type: str,
            commit_version: int,
            skip_dv_refs: list[str] | None = None,   # abs dv dirs
            only_dv_refs: list[str] | None = None,   # abs dv dirs
            eq_only: tuple | None = None,    # (key_src_names, abs_dir, cols)
            eq_skip: list | None = None,     # [(key_src_names, abs_dir, cols)]
            consts: dict | None = None,
        ):
            self.abs_path = abs_path
            self.rel_path = rel_path
            self.src_names = src_names
            self.change_type = change_type
            self.commit_version = commit_version
            self.skip_dv_refs = skip_dv_refs or []
            self.only_dv_refs = only_dv_refs or []
            self.eq_only = eq_only
            self.eq_skip = eq_skip or []
            self.consts = consts or {}

    class _SnapshotStreamReader(DataSourceStreamReader):
        """Planner: versions → file partitions, from manifests read
        through the table's commit protocol."""

        def __init__(
            self,
            path: str,
            start_version: int,
            skip_change_commits: bool = False,
            change_feed: bool = False,
            max_versions_per_trigger: int | None = None,
            max_files_per_trigger: int | None = None,
            max_bytes_per_trigger: int | None = None,
            end_version: int | None = None,
            rest: "tuple[str, str] | None" = None,
        ):
            self.path = path.rstrip("/")
            # a REST-attached table's (url, table): its metadata tail
            # lives in the catalog service, not under <path>/_snapshots
            # (executors only ever see data-file lists, which stay on
            # the shared store like every other table)
            self.rest = rest
            self.start_version = start_version
            self.skip_change_commits = skip_change_commits
            self.change_feed = change_feed
            # Delta's maxFilesPerTrigger-family admission control. The
            # Python DataSource API's latestOffset takes no start/limit,
            # so the budget applies relative to the best-known progress:
            # start_version at construction, then every initialOffset/
            # partitions()/commit() call advances or confirms it.
            # RESTART SAFETY (traced against Spark 4.1's
            # MicroBatchExecution, pinned by
            # test_restart_offer_never_below_restored_position): before
            # the first latestOffset of a restarted run, the engine
            # always replans the checkpointed batch — partitions(start,
            # end) with the RESTORED offsets — for both a committed and
            # an uncommitted last batch. That call advances _baseline to
            # the restored position, so a capped offer can never sit
            # below it and the offset log never regresses (the round-8
            # advisor's double-restart replay hazard needs a
            # latestOffset-before-reveal ordering that does not exist).
            # The _floor is residual defense if a future engine ever
            # reorders the calls: a backwards batch plans as empty, the
            # true position is recorded, and later batches clamp to it.
            self.max_versions_per_trigger = max_versions_per_trigger
            self.max_files_per_trigger = max_files_per_trigger
            self.max_bytes_per_trigger = max_bytes_per_trigger
            # endVersion: a hard offer CEILING — latestOffset never
            # offers past it, so a drain is bounded to a snapshot point
            # (the library-side Trigger.AvailableNow: drain_available_now
            # pins this to the head AT ENTRY, paces to exactly there,
            # and stops; commits landing during the drain wait for the
            # next run — Delta's availableNow contract)
            self.end_version = end_version
            self._baseline: int = start_version
            self._floor: int | None = None

        # -------------------------------------------------------- meta
        def _current(self) -> int:
            from oss_data_lake_spark.sources.catalog import open_protocol

            return open_protocol(self.path, self.rest).read_current() or 0

        def _manifest(self, v: int) -> dict:
            from oss_data_lake_spark.sources.catalog import open_protocol

            return open_protocol(self.path, self.rest).manifest(v)

        @staticmethod
        def _visible(manifest: dict, d: str):
            return manifest.get("dir_files", {}).get(d)

        # ----------------------------------------------------- offsets
        def initialOffset(self) -> dict:
            return {"version": self.start_version}

        def _new_files(self, prev: dict, cur: dict) -> list[tuple[str, str]]:
            """(dir, rel file) pairs a commit step added (metadata-scale:
            listings of the NEW dirs only) — the admission-control unit."""
            prev_dirs = set(prev.get("data_dirs", []))
            return [
                (d, f)
                for d in cur.get("data_dirs", [])
                if d not in prev_dirs
                for f in self._rel_files(cur, d)
            ]

        def latestOffset(self) -> dict:
            cur = max(self._current(), self.start_version)
            if self.end_version is not None:
                cur = min(cur, self.end_version)
            base = self._baseline
            if cur <= base:
                return {"version": cur}
            hi = cur
            if self.max_versions_per_trigger is not None:
                hi = min(hi, base + max(self.max_versions_per_trigger, 1))
            if (
                self.max_files_per_trigger is not None
                or self.max_bytes_per_trigger is not None
            ):
                fbudget = self.max_files_per_trigger
                bbudget = self.max_bytes_per_trigger
                taken_f, taken_b = 0, 0
                prev = (
                    self._manifest(base) if base > 0 else {"data_dirs": []}
                )
                capped = base
                for v in range(base + 1, hi + 1):
                    m = self._manifest(v)
                    new = self._new_files(prev, m)
                    taken_f += len(new)
                    if bbudget is not None:
                        taken_b += sum(
                            os.path.getsize(os.path.join(self.path, d, f))
                            for d, f in new
                        )
                    prev = m
                    capped = v
                    # always admit >= 1 version, then stop at budget
                    if (fbudget is not None and taken_f >= max(fbudget, 1)) or (
                        bbudget is not None and taken_b >= max(bbudget, 1)
                    ):
                        break
                hi = capped
            return {"version": hi}

        def commit(self, end: dict) -> None:
            # sink checkpoint owns durable progress; the reader only
            # learns its admission-control baseline from it
            v = end.get("version") if isinstance(end, dict) else None
            if v is not None:
                self._baseline = max(self._baseline, int(v))

        # -------------------------------------------------- partitions
        def _classify(self, prev: dict, cur: dict) -> str:
            """One commit step: 'noop' (metadata-only / compaction),
            'append' (only new files arrived), or 'change' (files left
            visibility or delete vectors moved)."""
            if str(cur.get("mode", "")).startswith("compact"):
                return "noop"  # dataChange=false: same rows, new files
            if set(cur.get("delete_dirs", [])) != set(
                prev.get("delete_dirs", [])
            ):
                return "change"
            if [e["dir"] for e in cur.get("eq_deletes", [])] != [
                e["dir"] for e in prev.get("eq_deletes", [])
            ]:
                return "change"
            prev_dirs = set(prev["data_dirs"])
            if not prev_dirs <= set(cur["data_dirs"]):
                return "change"
            for d in prev_dirs:
                pvis = self._visible(prev, d)
                cvis = self._visible(cur, d)
                if (cvis is not None) and (
                    pvis is None or not set(pvis) <= set(cvis)
                ):
                    return "change"
            new_dirs = [d for d in cur["data_dirs"] if d not in prev_dirs]
            return "append" if new_dirs else "noop"

        # ---------------------------------------- change-feed planning
        #
        # (driver-side; the delete/equality files are metadata-scale —
        # read with pyarrow directly, no Spark job)

        def _rel_files(self, m: dict, d: str) -> list[str]:
            vis = self._visible(m, d)
            if vis is not None:
                return sorted(vis)
            root = os.path.join(self.path, d)
            out = []
            for dp, _dn, fs in os.walk(root):
                for f in sorted(fs):
                    if f.endswith(".parquet") and not f.startswith("_"):
                        out.append(
                            os.path.relpath(os.path.join(dp, f), root)
                        )
            return sorted(out)

        def _dv_file_set(self, dd: str) -> frozenset:
            """The rel data files one delete-vector dir tombstones — a
            vectorized single-column distinct (positions NEVER
            materialize driver-side; executors holding a file read its
            positions from the referenced vectors themselves). Memoized:
            vector dirs are immutable once committed."""
            cache = getattr(self, "_dvf_cache", None)
            if cache is None:
                cache = self._dvf_cache = {}
            hit = cache.get(dd)
            if hit is not None:
                return hit
            import pyarrow.parquet as pq

            t = pq.read_table(
                os.path.join(self.path, dd), columns=["file"]
            )
            out = frozenset(t.column("file").unique().to_pylist())
            cache[dd] = out
            return out

        def _dv_refs_for(self, dv_dirs: list, rel: str) -> list[str]:
            """abs paths of the vector dirs that tombstone ``rel``."""
            return [
                os.path.join(self.path, dd)
                for dd in dv_dirs
                if rel in self._dv_file_set(dd)
            ]

        def _src_names_for(self, m, d, columns, head_fids):
            dmap = m.get("dir_field_ids", {}).get(d) or {}
            id2w = {i: w for w, i in dmap.items()}
            return [
                id2w.get(head_fids.get(c), c)
                if head_fids.get(c) in id2w
                else c
                for c in columns
            ]

        def _eq_filters(self, m, eqs, d):
            """References to the equality deletes in ``eqs`` that apply
            to dir ``d``: (write-time key names, abs key file dir,
            stored column names) — the executor reads the keys."""
            return [
                (
                    self._entry_key_src(m, d, e),
                    os.path.join(self.path, e["dir"]),
                    list(e["cols"]),
                )
                for e in eqs
                if d in set(e.get("applies_dirs", []))
            ]

        def _entry_key_src(self, m, d, entry):
            """the equality entry's key columns under dir d's WRITE names
            (field-id resolution — a rename between the file's commit and
            the delete's must not detach the match)."""
            dmap = m.get("dir_field_ids", {}).get(d) or {}
            id2w = {i: w for w, i in dmap.items()}
            return [
                id2w.get(i, cname)
                for cname, i in zip(entry["cols"], entry["ids"])
            ]

        def _path_consts(self, m, d, rel_file):
            """IDENTITY partition-column values for one file of dir
            ``d``, decoded from its ``key=value`` path segments under
            the dir's declared write types (round 7 — partitioned
            layouts stream; previously refused). Hidden transform
            (``_p_*``) columns are omitted: they exist in no read
            schema, so their segments are simply ignored."""
            spec = m.get("partition_specs", {}).get(d) or []
            if not spec:
                return {}
            trs = m.get("partition_transforms", {}).get(d) or {}
            types: dict = {}
            sj = m.get("dir_schemas", {}).get(d)
            if sj:
                types = {
                    f["name"]: f["type"]
                    for f in sj.get("fields", [])
                    if isinstance(f.get("type"), str)
                }
            out = {}
            path = "/" + rel_file.replace(os.sep, "/")
            import re as _re

            for cname in spec:
                if cname in trs:
                    continue
                mm = _re.search(f"/{_re.escape(cname)}=([^/]+)/", path)
                if not mm:
                    raise ValueError(
                        f"snapshot_stream: partition segment '{cname}' "
                        f"missing from {rel_file!r}"
                    )
                out[cname] = _decode_segment(
                    mm.group(1), types.get(cname, "string")
                )
            return out

        def _change_partitions(self, p, c, v, columns, head_fids):
            """One commit step → typed-change partitions, mirroring
            SnapshotTable._pair_changes: file-visibility diffs (whole-
            file inserts/deletes, pre-filtered by the owning snapshot's
            delete state), position-tombstone diffs (exactly the listed
            rows), equality-delete diffs (key-matched rows)."""
            if str(c.get("mode", "")).startswith("compact"):
                return []
            parts = []
            p_dirs, c_dirs = list(p["data_dirs"]), list(c["data_dirs"])
            p_set, c_set = set(p_dirs), set(c_dirs)
            p_dvd = p.get("delete_dirs", [])
            c_dvd = c.get("delete_dirs", [])
            p_eqs = p.get("eq_deletes", [])
            c_eqs = c.get("eq_deletes", [])
            removed: list[tuple[str, str]] = []
            added: list[tuple[str, str]] = []
            for d in p_dirs:
                if d not in c_set:
                    removed += [(d, f) for f in self._rel_files(p, d)]
                    continue
                if (
                    self._visible(p, d) is None
                    and self._visible(c, d) is None
                ):
                    continue
                pf = set(self._rel_files(p, d))
                cf = set(self._rel_files(c, d))
                removed += [(d, f) for f in sorted(pf - cf)]
                added += [(d, f) for f in sorted(cf - pf)]
            for d in c_dirs:
                if d not in p_set:
                    added += [(d, f) for f in self._rel_files(c, d)]
            for d, f in removed:
                rel = f"{d}/{f}"
                parts.append(_ChangePartition(
                    os.path.join(self.path, rel), rel,
                    self._src_names_for(p, d, columns, head_fids),
                    "delete", v,
                    skip_dv_refs=self._dv_refs_for(p_dvd, rel),
                    eq_skip=self._eq_filters(p, p_eqs, d),
                    consts=self._path_consts(p, d, f),
                ))
            for d, f in added:
                rel = f"{d}/{f}"
                parts.append(_ChangePartition(
                    os.path.join(self.path, rel), rel,
                    self._src_names_for(c, d, columns, head_fids),
                    "insert", v,
                    skip_dv_refs=self._dv_refs_for(c_dvd, rel),
                    eq_skip=self._eq_filters(c, c_eqs, d),
                    consts=self._path_consts(c, d, f),
                ))

            def owner(rel):
                for d in c_dirs:
                    if rel.startswith(d + "/"):
                        return d
                return None

            def visible_in(m, d, rel):
                return rel[len(d) + 1:] in set(self._rel_files(m, d))

            new_dv = [dd for dd in c_dvd if dd not in set(p_dvd)]
            gone_dv = [dd for dd in p_dvd if dd not in set(c_dvd)]
            for dd, kind in [(x, "delete") for x in new_dv] + [
                (x, "insert") for x in gone_dv
            ]:
                for rel in sorted(self._dv_file_set(dd)):
                    d = owner(rel)
                    if d is None or not visible_in(c, d, rel):
                        continue
                    if not (d in p_set and visible_in(p, d, rel)):
                        # mirror the batch feed's clip for BOTH kinds: a
                        # file not visible at the parent rides the file-
                        # level diff (inserts already apply the child's
                        # vectors; deletes of never-inserted rows must
                        # not be emitted)
                        continue
                    parts.append(_ChangePartition(
                        os.path.join(self.path, rel), rel,
                        self._src_names_for(c, d, columns, head_fids),
                        kind, v,
                        only_dv_refs=[os.path.join(self.path, dd)],
                        # the child's OWN equality deletes apply first: a
                        # row they suppress is not visible, so a vector
                        # targeting it must not emit it (batch-feed rule)
                        eq_skip=self._eq_filters(c, c_eqs, d),
                        consts=self._path_consts(c, d, rel[len(d) + 1:]),
                    ))
            p_eq_dirs = {e["dir"] for e in p_eqs}
            c_eq_dirs = {e["dir"] for e in c_eqs}
            arrived_eq = [e for e in c_eqs if e["dir"] not in p_eq_dirs]
            departed_eq = [e for e in p_eqs if e["dir"] not in c_eq_dirs]
            # single ownership across same-step arms (the batch feed's
            # rule): each eq arm also skips earlier sibling entries, and
            # departure arms skip the departing vectors' positions
            for e, kind, m_state, eqs_state, dvd_state, sibs, xtra_dv in (
                [
                    (e, "delete", p, p_eqs, p_dvd, arrived_eq[:i], [])
                    for i, e in enumerate(arrived_eq)
                ]
                + [
                    (e, "insert", c, c_eqs, c_dvd, departed_eq[:i],
                     gone_dv)
                    for i, e in enumerate(departed_eq)
                ]
            ):
                eq_abs = os.path.join(self.path, e["dir"])
                for d in e.get("applies_dirs", []):
                    if d not in c_set or d not in p_set:
                        continue
                    # batch-feed clip: eq arms own only files visible on
                    # BOTH sides of the step (visibility changes ride
                    # the file-level diff)
                    both = set(self._rel_files(c, d)) & set(
                        self._rel_files(p, d)
                    )
                    for f in sorted(both):
                        rel = f"{d}/{f}"
                        parts.append(_ChangePartition(
                            os.path.join(self.path, rel), rel,
                            self._src_names_for(
                                c, d, columns, head_fids
                            ),
                            kind, v,
                            skip_dv_refs=self._dv_refs_for(
                                list(dvd_state) + list(xtra_dv), rel
                            ),
                            eq_only=(
                                self._entry_key_src(c, d, e),
                                eq_abs,
                                list(e["cols"]),
                            ),
                            # the changed entry itself is never in the
                            # filter state (p for arriving, c for gone);
                            # earlier same-step siblings ARE
                            eq_skip=self._eq_filters(m_state, eqs_state, d)
                            + self._eq_filters(c, sibs, d),
                            consts=self._path_consts(c, d, f),
                        ))
            return parts

        def partitions(self, start: dict, end: dict):
            sv, ev = start["version"], end["version"]
            if ev < sv:
                # a restored checkpoint above our capped offer: record
                # the true position — later batches clamp to it so the
                # range below never replays
                self._floor = max(self._floor or 0, sv)
            if self._floor is not None:
                sv = max(sv, self._floor)
            # the engine's planned range reveals its progress: the
            # admission baseline advances even before commit() fires
            self._baseline = max(self._baseline, sv, ev)
            if ev <= sv:
                return []
            head = self._manifest(ev)
            target = head.get("schema")
            if target is None:
                raise ValueError(
                    "snapshot_stream: head manifest has no schema"
                )
            columns = [f["name"] for f in target["fields"]]
            if self.change_feed:
                parts: list = []
                prev = self._manifest(sv) if sv > 0 else {"data_dirs": []}
                head_fids = head.get("field_ids") or {}
                for v in range(sv + 1, ev + 1):
                    cur = self._manifest(v)
                    parts.extend(
                        self._change_partitions(
                            prev, cur, v, columns, head_fids
                        )
                    )
                    prev = cur
                return parts
            # walk the range COMMIT BY COMMIT (not one base-vs-head
            # diff): each append step emits exactly the files it added,
            # so a change commit elsewhere in the range doesn't poison
            # the appends around it
            parts: list[_FilePartition] = []
            prev: dict = (
                self._manifest(sv) if sv > 0 else {"data_dirs": []}
            )
            for v in range(sv + 1, ev + 1):
                cur = self._manifest(v)
                kind = self._classify(prev, cur)
                if kind == "change":
                    if not self.skip_change_commits:
                        raise ValueError(
                            f"snapshot_stream: version {v} is not an "
                            f"append (an overwrite / rollback / row-level "
                            f"DML / merge-on-read delete intervened) — "
                            f"no well-defined append delta. Set "
                            f"skipChangeCommits=true to pass over change "
                            f"commits (their rows, including any files "
                            f"they add, are SKIPPED — Delta semantics), "
                            f"or consume SnapshotTable.read_change_feed "
                            f"for typed insert/delete rows"
                        )
                    prev = cur
                    continue  # skip the WHOLE commit, added files incl.
                if kind == "noop":
                    prev = cur
                    continue
                prev_dirs = set(prev["data_dirs"])
                head_fids = head.get("field_ids") or {}
                for d in cur["data_dirs"]:
                    if d in prev_dirs:
                        continue
                    # field-id projection: a column renamed between this
                    # commit and the head is read under its WRITE name
                    src_names = self._src_names_for(
                        cur, d, columns, head_fids
                    )
                    for f in self._rel_files(cur, d):
                        parts.append(
                            _FilePartition(
                                os.path.join(self.path, d, f),
                                columns,
                                src_names,
                                consts=self._path_consts(cur, d, f),
                            )
                        )
                prev = cur
            return parts

        # -------------------------------------------------------- read
        def read(self, partition):
            # executor-side: pyarrow read + projection onto the head
            # columns (absent column → None)
            import pyarrow.parquet as pq

            tbl = pq.read_table(partition.abs_path)
            present = set(tbl.column_names)
            # partition-column values decoded from the file's path at
            # plan time (the file bytes don't carry them)
            consts = getattr(partition, "consts", {}) or {}

            def project(row):
                return tuple(
                    row.get(s) if s in present else consts.get(s)
                    for s in partition.src_names
                )

            def keyval(row, n):
                return row.get(n) if n in present else consts.get(n)

            if isinstance(partition, _ChangePartition):
                rows = tbl.to_pylist()
                # bare: batch reads reuse the change machinery (dv/eq
                # filtering by reference) without the feed columns
                extra = (
                    ()
                    if getattr(partition, "bare", False)
                    else (partition.change_type, partition.commit_version)
                )
                rel = partition.rel_path

                def dv_positions(refs):
                    # this executor reads only ITS file's tombstones —
                    # a pushed-down (file == rel) scan of the vectors
                    ps: list[int] = []
                    for ref in refs:
                        dt = pq.read_table(
                            ref,
                            columns=["file", "pos"],
                            filters=[("file", "==", rel)],
                        )
                        ps.extend(dt.column("pos").to_pylist())
                    return sorted(ps)

                def eq_keyset(ref, cols):
                    kt = pq.read_table(ref, columns=list(cols))
                    return set(
                        zip(*[kt.column(c).to_pylist() for c in cols])
                    ) if kt.num_rows else set()

                eq_skip = [
                    (names, eq_keyset(ref, cols))
                    for names, ref, cols in partition.eq_skip
                ]

                def eq_hit(row):
                    return any(
                        tuple(keyval(row, n) for n in names) in ks
                        for names, ks in eq_skip
                    )

                if partition.only_dv_refs:
                    # position-targeted rows still pass through the
                    # snapshot's equality deletes: a row they suppress
                    # is not visible, so a vector targeting it emits
                    # nothing (the batch feed's rule)
                    for i in dv_positions(partition.only_dv_refs):
                        if not eq_hit(rows[i]):
                            yield project(rows[i]) + extra
                    return
                skip = set(dv_positions(partition.skip_dv_refs))
                only = partition.eq_only
                only_keys = (
                    eq_keyset(only[1], only[2]) if only else None
                )
                for i, row in enumerate(rows):
                    if i in skip:
                        continue
                    if eq_hit(row):
                        continue
                    if only_keys is not None and (
                        tuple(keyval(row, n) for n in only[0])
                        not in only_keys
                    ):
                        continue
                    yield project(row) + extra
                return
            for row in tbl.to_pylist():
                yield project(row)

    class _SnapshotBatchReader(DataSourceReader):
        """BATCH reads through the same format —
        ``spark.read.format("snapshot_stream").option("path", p)
        [.option("versionAsOf", n)]`` — so a plain Spark session (no
        engine configs; the package importable on its Python workers)
        reads a snapshot table with full correctness: one snapshot's
        visible files plan as partitions, and executors apply position
        tombstones / equality deletes from file REFERENCES, exactly
        like the stream. Clean dirs take the plain-file fast path."""

        def __init__(
            self,
            path: str,
            version: int | None = None,
            rest: "tuple[str, str] | None" = None,
        ):
            self._r = _SnapshotStreamReader(path, 0, rest=rest)
            self._version = version

        def partitions(self):
            r = self._r
            v = self._version if self._version is not None else r._current()
            m = r._manifest(v)
            s = m.get("schema")
            if s is None:
                raise ValueError(
                    "snapshot_stream batch read needs a schema-carrying "
                    "snapshot table"
                )
            columns = [f["name"] for f in s["fields"]]
            head_fids = m.get("field_ids") or {}
            dvd = m.get("delete_dirs", [])
            eqs = m.get("eq_deletes", [])
            parts = []
            for d in m["data_dirs"]:
                src_names = r._src_names_for(m, d, columns, head_fids)
                eq_skip = r._eq_filters(m, eqs, d)
                for f in r._rel_files(m, d):
                    rel = f"{d}/{f}"
                    dv_refs = r._dv_refs_for(dvd, rel) if dvd else []
                    if dv_refs or eq_skip:
                        pt = _ChangePartition(
                            os.path.join(r.path, rel), rel, src_names,
                            "insert", v,
                            skip_dv_refs=dv_refs,
                            eq_skip=eq_skip,
                            consts=r._path_consts(m, d, f),
                        )
                        pt.bare = True  # no feed columns on batch rows
                    else:
                        pt = _FilePartition(
                            os.path.join(r.path, rel), columns,
                            src_names, consts=r._path_consts(m, d, f),
                        )
                    parts.append(pt)
            return parts

        def read(self, partition):
            return _SnapshotStreamReader.read(self._r, partition)

    class SnapshotStreamSource(DataSource):
        """``spark.readStream.format("snapshot_stream").option("path", p)``.

        Options: ``path`` (table root, required); ``startVersion``
        (first micro-batch starts AFTER this version; default 0 =
        stream the table from its first commit);
        ``skipChangeCommits`` ('true'/'false', default false) — pass
        over non-append commits (overwrite / rollback / row-level DML /
        merge-on-read deletes) instead of erroring, Delta's
        ``skipChangeCommits`` semantics: the change commit contributes
        NOTHING to the stream, including any files it added.
        ``maxVersionsPerTrigger`` / ``maxFilesPerTrigger`` /
        ``maxBytesPerTrigger`` (ints ≥ 1)
        — Delta's admission control: each micro-batch advances at most
        that many versions / admits versions until that many NEW files
        (or bytes of new files) accumulate (always ≥ 1 version per
        batch, so progress never stalls). ``endVersion`` — a hard offer
        ceiling; ``drain_available_now`` (module-level helper) pins it
        to the entry-time head for real Trigger.AvailableNow semantics:
        the engine's own ``availableNow=True`` falls back to
        single-batch execution for Python sources, which under
        admission control would strand the backlog after one capped
        batch. The cap is relative to the engine's known progress;
        the first batch after a checkpoint restart is uncapped (a
        capped guess below the restored offset would plan a replaying
        batch under the API's equality-compared offsets).
        ``restUrl`` + ``restTable`` — read or stream a REST-attached
        table: CURRENT and manifests come from the catalog service
        instead of ``<path>/_snapshots`` (planning only; executors
        still read data files from the shared store). ``changeFeed``
        ('true'/'false', default false) — Delta's streaming
        ``readChangeFeed``: every commit kind becomes a typed
        micro-batch of (table columns, ``_change_type`` insert/delete,
        ``_commit_version``) rows, matching the batch
        ``SnapshotTable.read_change_feed`` semantics — appends stream as
        inserts, MoR deltas as exactly their tombstoned/keyed rows, CoW
        rewrites and overwrites as retraction pairs, compaction as
        nothing. The stream NEVER refuses on DML in this mode."""

        @classmethod
        def name(cls) -> str:
            return FORMAT_NAME

        def _flag(self, name: str) -> bool:
            return str(self.options.get(name, "false")).lower() == "true"

        def schema(self):
            from oss_data_lake_spark.sources.catalog import open_protocol

            path = self.options["path"]
            proto = open_protocol(path, _rest_of(self.options))
            v = self.options.get("versionAsOf")
            cur = int(v) if v is not None else proto.read_current()
            if cur is None:
                raise FileNotFoundError(
                    f"snapshot_stream: no snapshot table at {path}"
                )
            s = proto.manifest(cur).get("schema")
            if s is None:
                raise ValueError(
                    "snapshot_stream needs a schema-carrying snapshot table"
                )
            out = T.StructType.fromJson(s)
            if self._flag("changeFeed"):
                out = T.StructType(
                    list(out.fields)
                    + [
                        T.StructField("_change_type", T.StringType(), False),
                        T.StructField(
                            "_commit_version", T.LongType(), False
                        ),
                    ]
                )
            return out

        def reader(self, schema):
            # batch path: spark.read.format(...) — one snapshot's state
            if self._flag("changeFeed"):
                raise ValueError(
                    "changeFeed batch reads go through the "
                    "table_changes() SQL TVF or "
                    "SnapshotTable.read_change_feed, not the reader"
                )
            v = self.options.get("versionAsOf")
            return _SnapshotBatchReader(
                self.options["path"].rstrip("/"),
                int(v) if v is not None else None,
                rest=_rest_of(self.options),
            )

        def streamReader(self, schema):
            if self._flag("changeFeed") and self._flag("skipChangeCommits"):
                raise ValueError(
                    "changeFeed and skipChangeCommits are exclusive: the "
                    "feed EMITS change commits, skip passes over them"
                )
            start = int(self.options.get("startVersion", 0) or 0)
            ts = self.options.get("startTimestamp")
            if ts is not None:
                if self.options.get("startVersion") is not None:
                    raise ValueError(
                        "startVersion and startTimestamp are exclusive"
                    )
                # Delta's startingTimestamp: stream from the first commit
                # AT OR AFTER the timestamp — i.e. the offset is the last
                # version strictly before it. _parse_ts_ms is the shared
                # literal parser (naive literals read as UTC; an explicit
                # offset is honored, not clobbered)
                from oss_data_lake_spark.sources.catalog import (
                    open_protocol,
                )
                from oss_data_lake_spark.sources.snapshots import (
                    _parse_ts_ms,
                )

                ms = _parse_ts_ms(ts)
                proto = open_protocol(
                    self.options["path"], _rest_of(self.options)
                )
                start = 0
                for v in range(1, (proto.read_current() or 0) + 1):
                    try:
                        m = proto.manifest(v)
                    except FileNotFoundError:
                        continue  # expired
                    if m.get("committed_at_ms", 0) < ms:
                        start = v
            def _int_opt(name: str) -> int | None:
                raw = self.options.get(name)
                if raw is None:
                    return None
                n = int(raw)
                if n < 1:
                    raise ValueError(f"{name} must be >= 1, got {raw!r}")
                return n

            return _SnapshotStreamReader(
                self.options["path"],
                start,
                self._flag("skipChangeCommits"),
                self._flag("changeFeed"),
                max_versions_per_trigger=_int_opt("maxVersionsPerTrigger"),
                max_files_per_trigger=_int_opt("maxFilesPerTrigger"),
                max_bytes_per_trigger=_int_opt("maxBytesPerTrigger"),
                end_version=_int_opt("endVersion"),
                rest=_rest_of(self.options),
            )

    return SnapshotStreamSource


SnapshotStreamSource = _build_source_class()


def drain_available_now(
    spark,
    path: str,
    checkpoint: str,
    batch_fn,
    poll_ms: int = 50,
    timeout_sec: float = 300,
    **options,
) -> int:
    """Delta's ``Trigger.AvailableNow`` over the paced snapshot source.

    Spark 4.1's Python DataSource API has no
    ``SupportsTriggerAvailableNow`` hook, so the ENGINE trigger
    ``availableNow=True`` falls back to single-batch execution — one
    ``latestOffset`` call — which under admission control
    (``maxVersionsPerTrigger`` / ``maxFilesPerTrigger`` /
    ``maxBytesPerTrigger``) would drain only ONE capped batch and
    terminate with backlog left behind. This helper supplies the real
    contract library-side:

    1. snapshot the table head AT ENTRY,
    2. run a processing-time paced stream whose ``endVersion`` is
       pinned to that snapshot (commits landing DURING the drain are
       excluded — they wait for the next invocation, exactly Delta's
       availableNow),
    3. stop once the checkpoint has committed a batch reaching the
       snapshot (or immediately when the checkpoint is already there).

    Replay safety comes from the checkpoint itself: a crash mid-drain
    re-enters at the committed offset and finishes the remaining
    versions exactly once. Returns the snapshot head version the drain
    is bounded to."""
    import time as _time

    from oss_data_lake_spark.sources.catalog import open_protocol

    # the entry-time head, through the same protocol the planner reads
    head = open_protocol(path.rstrip("/"), _rest_of(options)).read_current()
    if not head:
        return 0
    # already drained? peek at the checkpoint's last COMMITTED offset —
    # starting a stream just to learn "nothing to do" would wait out the
    # engine's 10 s no-data progress throttle
    commits_dir = os.path.join(checkpoint, "commits")
    offsets_dir = os.path.join(checkpoint, "offsets")
    try:
        done = max(
            int(f) for f in os.listdir(commits_dir) if f.isdigit()
        )
        with open(os.path.join(offsets_dir, str(done))) as fh:
            last = [
                ln for ln in fh.read().splitlines() if ln.startswith("{")
            ][-1]
        if int(json.loads(last).get("version", 0)) >= head:
            return head
    except (FileNotFoundError, ValueError, IndexError):
        pass  # no checkpoint yet / unreadable: run the stream
    reader = (
        spark.readStream.format(FORMAT_NAME)
        .option("path", path)
        .option("endVersion", str(head))
    )
    for k, v in options.items():
        reader = reader.option(k, str(v))
    q = (
        reader.load()
        .writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{poll_ms} milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + timeout_sec
        while _time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            p = q.lastProgress
            if p:
                srcs = p.get("sources") or []
                end = srcs[0].get("endOffset") if srcs else None
                if end is not None:
                    if isinstance(end, str):
                        try:
                            end = json.loads(end)
                        except json.JSONDecodeError:
                            # the engine reports the Python source's
                            # offset dict via repr (single quotes)
                            import ast

                            end = ast.literal_eval(end)
                    if int(end.get("version", 0)) >= head:
                        break
            _time.sleep(poll_ms / 1000.0)
        else:
            raise TimeoutError(
                f"drain_available_now: did not reach v{head} within "
                f"{timeout_sec}s (checkpoint {checkpoint})"
            )
    finally:
        q.stop()
        q.awaitTermination()
    return head
