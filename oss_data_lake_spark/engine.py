"""The engine facade — the single entry point a reference user switches to.

Maps the reference's three query lifecycles (SURVEY.md §3) onto one object:

- §3.1 ingestion (Airflow DAG → Trino)     → ``Engine.ingest_ohlcv``
- §3.2 programmatic SQL (SQLAlchemy→Trino) → ``Engine.sql`` (Spark SQL text,
  same statements modulo catalog prefix)
- §3.3 BI SQL (Metabase JDBC→Trino)        → same ``sql`` surface; EXPLAIN
  transparency via ``Engine.explain`` (Trino's EXPLAIN analogue)

plus the fixture/table plumbing the driver and tests use.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession

from oss_data_lake_spark.plans.audit import explain_str
from oss_data_lake_spark.session import get_spark, local_frame
from oss_data_lake_spark.sources.loaders import register_views
from oss_data_lake_spark.sources.tables import Warehouse
from oss_data_lake_spark.sqltext import (
    _LITERAL_RE,
    _depths,
    _literal_spans,
    _masked,
    _sub_outside_literals,
    close_paren,
    split_top,
)


class Engine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        warehouse_dir: str | None = None,
        view_catalog=None,
    ):
        """``view_catalog`` overrides WHERE persistent views live: the
        default is the warehouse-local file catalog
        (``sources/views.ViewCatalog``); pass a
        ``rest_catalog.RestViewCatalog`` to share saved queries across
        processes through the catalog service (the Lakekeeper view
        role)."""
        self.spark = spark or get_spark(warehouse_dir=warehouse_dir)
        self._warehouse_dir = warehouse_dir
        self._snapshot_tables: dict = {}
        # open single-table transactions: name -> (original handle,
        # staging branch name); while open, the REGISTRY ENTRY for the
        # name is the branch table, so every dispatch arm (including
        # ones that mutate the registry for other names) works on the
        # real dict — no throwaway copies
        self._txns: dict[str, tuple] = {}
        self._view_catalog = view_catalog
        # PREPARE name FROM <stmt> registry (session-scoped, like Trino)
        self._prepared: dict[str, str] = {}
        # BI-handshake session state: SET SESSION properties and the
        # USE-selected schema (Trino clients issue both on connect)
        self._session_props: dict[str, str] = {}
        self._current_schema: str | None = None
        # multi-part schemas (dotted CREATE SCHEMA — engine-level records,
        # Spark's session catalog being single-part)
        self._ns_schemas: set[str] = set()
        # USE-schema aliases: bare name -> (dotted source, handle) — how a
        # Trino client's unqualified names resolve after USE cat.schema
        self._schema_aliases: dict[str, tuple[str, object]] = {}

    # -- §3.2 / §3.3: the SQL surface ------------------------------------
    def sql(self, text: str) -> DataFrame:
        """Spark SQL text, plus — over any snapshot tables registered via
        ``register_snapshot_table`` — the Trino/Iceberg statement surface
        Spark's session catalog lacks:

        - time-travel clauses (``FOR VERSION AS OF n`` /
          ``FOR TIMESTAMP AS OF 'ts'``),
        - row-level DML (``DELETE FROM`` / ``UPDATE ... SET``) executed as
          stats-pruned copy-on-write rewrites (``sources/dml_sql.py``),
        - maintenance statements (``OPTIMIZE [ZORDER BY|CLUSTER BY]``,
          ``VACUUM``, ``DESCRIBE HISTORY``),
        - and plain SELECTs whose WHERE conjuncts route the scan through
          manifest file skipping: one parse by Spark's parser finds the
          registered tables the statement reads and the conjuncts that
          constrain each one's rows (``sqlplan.statement``)."""
        self._sync_schema_aliases()
        m = self._EXPLAIN_ANALYZE_RE.match(text)
        if m:
            # Trino's EXPLAIN ANALYZE: EXECUTE the statement, then show
            # the plan with runtime evidence — here the AQE FINAL plan
            # (isFinalPlan=true) whose ShuffleQueryStage nodes carry
            # measured Statistics(sizeInBytes, rowCount). The result is
            # drained through toLocalIterator (streamed, bounded driver
            # memory) on the statement's OWN QueryExecution so the
            # printed plan is the one that ran.
            df = self.sql(m.group(1))
            n = sum(1 for _ in df.toLocalIterator())
            plan = explain_str(df, "formatted")
            return local_frame(
                self.spark, [(plan, n)], "plan string, rows long"
            )
        handled = self._handle_prepared_statement(text)
        if handled is not None:
            return handled
        handled = self._handle_txn_statement(text)
        if handled is not None:
            return handled
        handled = self._handle_view_statement(text)
        if handled is not None:
            return handled
        handled = self._handle_session_statement(text)
        if handled is not None:
            return handled
        handled = self._handle_match_recognize(text)
        if handled is not None:
            return handled
        # the shared literal-safe translator chain (Trino/ANSI spellings
        # Spark's parser lacks) — ONE helper so `sql()` and persistent
        # view bodies (`_plan_view_body`) accept the identical dialect
        text = self._translate_chain(text)
        # Trino/Iceberg CREATE TABLE spellings (the reference notebook's
        # verbatim DDL) translate to the engine's snapshot CREATE grammar
        # (DDL-only: view bodies are queries, so this stays out of the
        # shared chain)
        text = self._translate_trino_create(text)
        from oss_data_lake_spark.sources.dml_sql import dispatch_statement

        # ANSI information_schema relations (Trino's BI introspection
        # surface) rewrite to statement-scoped metadata temp views —
        # the t$files shape (sources/info_schema.py)
        from oss_data_lake_spark.sources.info_schema import (
            expand_information_schema,
        )

        text, is_views = expand_information_schema(self, text)
        # the __is_* metadata views enter the cleanup list BEFORE view
        # expansion runs: if _expand_views raises (broken or cyclic
        # view), the finally below still drops them — they must not
        # leak into the session and shadow later statements' relations
        expanded = list(is_views)
        try:
            # persistent views referenced by the statement (or by DML
            # subqueries inside it) become session temp views for its
            # duration — re-planned over the CURRENT base snapshots,
            # then dropped (analysis is forced before the drop, so
            # returned DataFrames stay valid)
            expanded += self._expand_views(text)
            if self._snapshot_tables:
                from oss_data_lake_spark.sources.snapshots import (
                    sql_with_time_travel,
                )

                dispatched = dispatch_statement(
                    self.spark, text, self._snapshot_tables, engine=self
                )
                if dispatched is not None:
                    if expanded:
                        dispatched.schema  # bind before the views drop
                    return dispatched
                df = sql_with_time_travel(
                    self.spark, text, self._snapshot_tables
                )
                if expanded:
                    df.schema  # bind the plan before the views drop
                return df
            dispatched = dispatch_statement(self.spark, text, {}, engine=self)
            if dispatched is not None:
                if expanded:
                    dispatched.schema  # bind before the views drop
                return dispatched
            df = self.spark.sql(text)
            if expanded:
                df.schema  # bind the plan before the views drop
            return df
        finally:
            for v in expanded:
                self.spark.catalog.dropTempView(v)

    # -- PREPARE / EXECUTE (Trino prepared statements) --------------------
    #
    # Reference parity: Trino's JDBC/BI clients issue PREPARE name FROM
    # <stmt> / EXECUTE name [USING expr, ...] / DEALLOCATE PREPARE name
    # under the hood (every parameterized Metabase/CloudBeaver query).
    # Substitution is CLIENT-side and literal-safe: `?` placeholders are
    # located on the MASKED text (a `?` inside a string literal or
    # comment is data, never a parameter), and USING arguments are split
    # on depth-0 commas outside literals — a string argument carrying
    # commas, quotes, or `?` splices through untouched. The substituted
    # text re-enters ``sql()``, so the full statement surface (DML,
    # time travel, views, maintenance) is parameterizable.

    _EXPLAIN_ANALYZE_RE = re.compile(
        r"^\s*EXPLAIN\s+ANALYZE\s+(.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _PREPARE_RE = re.compile(
        r"^\s*PREPARE\s+([A-Za-z_]\w*)\s+FROM\s+(.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _EXECUTE_RE = re.compile(
        r"^\s*EXECUTE\s+([A-Za-z_]\w*)(?:\s+USING\s+(.+?))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    # Trino 467's one-shot prepared statement (EXECUTE IMMEDIATE
    # '<stmt>' [USING ...]): the statement text is a string literal —
    # embedded quotes arrive DOUBLED per the SQL literal grammar —
    # unwrapped and routed through sql() with the same `?` parameter
    # substitution as named EXECUTE. Matched BEFORE _EXECUTE_RE so
    # IMMEDIATE is never read as a statement name.
    _EXEC_IMMEDIATE_RE = re.compile(
        r"^\s*EXECUTE\s+IMMEDIATE\s+", re.IGNORECASE
    )
    _DEALLOCATE_RE = re.compile(
        r"^\s*DEALLOCATE\s+PREPARE\s+([A-Za-z_]\w*)\s*;?\s*$",
        re.IGNORECASE,
    )
    _DESCRIBE_IO_RE = re.compile(
        r"^\s*DESCRIBE\s+(INPUT|OUTPUT)\s+([A-Za-z_]\w*)\s*;?\s*$",
        re.IGNORECASE,
    )
    _QUERY_HEAD_RE = re.compile(
        r"^\s*(SELECT|WITH|VALUES|TABLE)\b", re.IGNORECASE
    )

    @staticmethod
    def _param_positions(text: str) -> list[int]:
        """Offsets of the `?` parameter markers — found on the masked
        text, so literal/comment bytes can never register as one."""
        return [i for i, ch in enumerate(_masked(text)) if ch == "?"]

    @staticmethod
    def _split_using_args(args_text: str) -> list[str]:
        """Depth-0 comma split outside literals — each piece is one
        parameter EXPRESSION spliced verbatim (Trino evaluates these;
        literals, the overwhelmingly common case, splice exactly)."""
        return [a.strip() for a in split_top(args_text) if a.strip()]

    def _handle_prepared_statement(self, text: str) -> DataFrame | None:
        m = self._EXEC_IMMEDIATE_RE.match(text)
        if m:
            # the statement literal starts exactly at the match end —
            # located by span so a body containing quotes (or the text
            # "EXECUTE IMMEDIATE" itself) can never confuse the scan
            span = next(
                (s for s in _literal_spans(text) if s[0] == m.end()),
                None,
            )
            if span is None or text[m.end()] != "'":
                raise ValueError(
                    "EXECUTE IMMEDIATE takes a string literal: "
                    "EXECUTE IMMEDIATE 'SELECT ...' [USING ...]"
                )
            body = text[span[0] + 1: span[1] - 1].replace("''", "'")
            tail = text[span[1]:].strip().rstrip(";").strip()
            args: list[str] = []
            if tail:
                um = re.match(
                    r"USING\s+(.+)$", tail, re.IGNORECASE | re.DOTALL
                )
                if um is None:
                    raise ValueError(
                        f"EXECUTE IMMEDIATE: unexpected trailing text "
                        f"{tail!r} — only a USING parameter list may "
                        f"follow the statement literal"
                    )
                args = self._split_using_args(um.group(1))
            positions = self._param_positions(body)
            if len(args) != len(positions):
                raise ValueError(
                    f"EXECUTE IMMEDIATE: statement has "
                    f"{len(positions)} parameter(s), USING supplies "
                    f"{len(args)}"
                )
            out = body
            for pos, arg in zip(reversed(positions), reversed(args)):
                out = out[:pos] + arg + out[pos + 1:]
            return self.sql(out)
        m = self._PREPARE_RE.match(text)
        if m:
            name, body = m.group(1), m.group(2)
            self._prepared[name] = body
            return local_frame(
                self.spark,
                [(name, len(self._param_positions(body)))],
                "statement string, n_params long",
            )
        m = self._DEALLOCATE_RE.match(text)
        if m:
            name = m.group(1)
            if name not in self._prepared:
                raise ValueError(f"no prepared statement named {name!r}")
            del self._prepared[name]
            return local_frame(
                self.spark, [(name,)], "statement string"
            )
        m = self._DESCRIBE_IO_RE.match(text)
        if m:
            kind, name = m.group(1).upper(), m.group(2)
            body = self._prepared.get(name)
            if body is None:
                raise ValueError(f"no prepared statement named {name!r}")
            if kind == "INPUT":
                # Trino's DESCRIBE INPUT: one row per `?`, type unknown
                # (parameters are untyped until EXECUTE)
                return local_frame(
                    self.spark,
                    [
                        (i, "unknown")
                        for i in range(len(self._param_positions(body)))
                    ],
                    "position long, type string",
                )
            # DESCRIBE OUTPUT: plan (never execute) the body with NULL
            # in each parameter slot. Only query-shaped bodies plan
            # side-effect-free through sql() — statement bodies (DML,
            # DDL) would EXECUTE on dispatch, so they refuse loudly.
            if not self._QUERY_HEAD_RE.match(body):
                raise ValueError(
                    f"DESCRIBE OUTPUT {name}: only query-shaped "
                    f"prepared statements (SELECT/WITH/VALUES) can be "
                    f"described without executing; this body is a "
                    f"statement"
                )
            probe = body
            for pos in reversed(self._param_positions(body)):
                probe = probe[:pos] + "NULL" + probe[pos + 1:]
            schema = self.sql(probe).schema
            return local_frame(
                self.spark,
                [
                    (f.name, f.dataType.simpleString())
                    for f in schema.fields
                ],
                "column_name string, type string",
            )
        m = self._EXECUTE_RE.match(text)
        if m:
            name, args_text = m.group(1), m.group(2)
            body = self._prepared.get(name)
            if body is None:
                raise ValueError(f"no prepared statement named {name!r}")
            positions = self._param_positions(body)
            args = self._split_using_args(args_text) if args_text else []
            if len(args) != len(positions):
                raise ValueError(
                    f"EXECUTE {name}: statement has {len(positions)} "
                    f"parameter(s), USING supplies {len(args)}"
                )
            # splice back-to-front so earlier offsets stay valid
            out = body
            for pos, arg in zip(reversed(positions), reversed(args)):
                out = out[:pos] + arg + out[pos + 1:]
            return self.sql(out)
        return None

    # -- SQL transactions (WAP branches under SQL spelling) --------------
    #
    # BEGIN TRANSACTION ON t1[, t2, ...] stages every later statement
    # naming an enlisted table on a hidden branch (a zero-copy managed
    # clone): inside the transaction you read your own writes; every
    # OTHER reader keeps seeing the pre-transaction heads. COMMIT lands
    # the branches; ROLLBACK drops them and nothing ever happened.
    #
    # SINGLE table: one fast_forward — atomic by the table's own commit
    # protocol (non-overlapping concurrent commits rebase; real
    # conflicts refuse and leave the transaction open).
    #
    # MULTIPLE tables (the Lakekeeper multi-table-commit capability —
    # the reference's Iceberg REST catalog commits N tables in one
    # request): COMMIT runs a three-phase protocol.
    #   1. VALIDATE every member with a DRY-RUN publish (the full
    #      rebase conflict analysis, read-only): one conflict aborts
    #      the whole commit before anything lands — the transaction
    #      stays open for inspection / ROLLBACK.
    #   2. Write ONE durable transaction record
    #      (<warehouse>/_txns/<id>.json, create-exclusive) naming every
    #      (table path, branch, parent version) — the commit point.
    #      Before the record exists the transaction can only roll BACK;
    #      once it exists it can only roll FORWARD.
    #   3. Land each branch via fast_forward; every landed manifest is
    #      stamped with the record id. The record is deleted after the
    #      last member lands.
    # A crash anywhere in phase 3 self-heals: recover_transactions()
    # (run automatically at every BEGIN, or explicitly) re-reads the
    # record, skips members whose head chain already carries the stamp,
    # lands the rest, then deletes the record — so the commit is atomic
    # across the crash in either direction. Residual corner, surfaced
    # loudly rather than half-applied: a CONFLICTING write that lands in
    # the crash window can make a pending member unrebasable — recovery
    # raises and keeps the record (operator resolution), it never drops
    # a committed member silently.

    _NAMES = r"[A-Za-z_][\w.]*(?:\s*,\s*[A-Za-z_][\w.]*)*"
    _BEGIN_RE = re.compile(
        rf"^\s*BEGIN\s+TRANSACTION\s+ON\s+({_NAMES})\s*;?\s*$",
        re.IGNORECASE,
    )
    _COMMIT_RE = re.compile(
        rf"^\s*COMMIT\s+TRANSACTION\s+ON\s+({_NAMES})\s*;?\s*$",
        re.IGNORECASE,
    )
    _ROLLBACK_RE = re.compile(
        rf"^\s*ROLLBACK\s+TRANSACTION\s+ON\s+({_NAMES})\s*;?\s*$",
        re.IGNORECASE,
    )
    _DROP_GUARD_RE = re.compile(
        r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
        re.IGNORECASE,
    )

    @staticmethod
    def _txn_names(group: str) -> list[str]:
        names = [n.strip() for n in group.split(",") if n.strip()]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate table in transaction: {names}")
        return names

    def _txns_dir(self) -> str:
        import os

        root = self._warehouse_dir
        if root is None:
            root = self.spark.conf.get("spark.sql.warehouse.dir")
            if root.startswith("file:"):
                root = root[len("file:"):]
        return os.path.join(root, "_txns")

    @staticmethod
    def _protocol_descriptor(t) -> dict | None:
        """A JSON-reconstructable description of the table's commit
        protocol for the transaction record: crash recovery runs in a
        FRESH process, so a member whose metadata tail lives behind a
        catalog service must be re-attached to THAT service — landing
        its branch through a default local protocol would fork the
        table's history. None = the default local protocol."""
        from oss_data_lake_spark.sources.catalog import (
            LocalFsCommitProtocol,
        )
        from oss_data_lake_spark.sources.rest_catalog import (
            RestCommitProtocol,
        )

        p = t.protocol
        if isinstance(p, LocalFsCommitProtocol):
            return None
        if isinstance(p, RestCommitProtocol):
            return {"kind": "rest", "url": p.base, "table": p.table}
        raise ValueError(
            "multi-table transactions need a crash-recoverable commit "
            f"protocol (local filesystem or REST catalog); table at "
            f"{t.path} uses {type(p).__name__}, which a fresh recovery "
            f"process cannot reconstruct"
        )

    def _reattach(self, ent: dict):
        """A member table from its transaction-record entry, on the
        protocol it committed through."""
        from oss_data_lake_spark.sources.catalog import open_protocol
        from oss_data_lake_spark.sources.snapshots import SnapshotTable

        desc = ent.get("protocol")
        if desc is not None and desc.get("kind") != "rest":
            raise ValueError(f"unknown protocol descriptor: {desc!r}")
        rest = None if desc is None else (desc["url"], desc["table"])
        return SnapshotTable(
            self.spark, ent["path"], protocol=open_protocol(ent["path"], rest)
        )

    def _txn_record_write(self, gid: str, entries: list[dict]) -> str:
        """The commit point: one create-exclusive JSON record naming
        every member. ``os.link`` of a fully-written temp file — a
        reader never observes a partial record, and a duplicate id
        refuses instead of overwriting."""
        import json
        import os
        import time

        d = self._txns_dir()
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{gid}.json")
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "id": gid,
                    "tables": entries,
                    # ownership lease: auto-recovery (the BEGIN hook in
                    # OTHER processes) must not race the owner through
                    # phase 3 — it skips records this young whose owner
                    # process is still alive
                    "owner": {"pid": os.getpid(), "ts": time.time()},
                },
                fh,
            )
        try:
            os.link(tmp, path)
        finally:
            os.remove(tmp)
        return path

    # passed by the BEGIN hook as recover_transactions(min_age_s=...) to
    # mark BACKGROUND recovery: any non-zero value defers to a LIVE
    # owner's record at any age (liveness, not age, is the ownership
    # test — round-10 ADVICE closed the >lease-long phase-3 race);
    # explicit recover_transactions() calls (min_age_s=0) override
    _TXN_LEASE_S = 60.0

    def recover_transactions(self, min_age_s: float = 0.0) -> list[str]:
        """Roll every pending multi-table transaction record FORWARD:
        members whose head chain already carries the record's stamp are
        done (crash after their pointer move); the rest land now. The
        record is deleted only after every member is landed. Returns the
        recovered record ids. Run automatically at every BEGIN
        TRANSACTION; safe (and cheap — one listdir) when idle.

        A non-zero ``min_age_s`` (the BEGIN hook passes ``_TXN_LEASE_S``)
        marks this as a BACKGROUND recovery: records whose owner process
        is still ALIVE are skipped at any age — a record is live while
        its owner is mid-phase-3 (which can outlast any fixed lease on
        large tables), and the landed-stamp check plus fast_forward are
        not atomic, so two processes publishing the same branch
        concurrently would duplicate application or raise spurious
        conflicts. A dead owner forfeits immediately; explicit calls
        (the RECOVER TRANSACTIONS statement, the owner's own in-process
        retry) recover everything."""
        import json
        import os

        d = self._txns_dir()
        if not os.path.isdir(d):
            return []
        recovered = []
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".json"):
                continue
            path = os.path.join(d, fname)
            try:
                with open(path) as fh:
                    rec = json.load(fh)
            except FileNotFoundError:
                continue  # a concurrent recovery finished it first
            gid = rec["id"]
            owner = rec.get("owner") or {}
            pid = owner.get("pid")
            if min_age_s and pid is not None and pid != os.getpid():
                # liveness is checked at ANY record age (round-10 ADVICE:
                # phase 3 can legitimately outlast the lease — e.g.
                # fast_forward over several large tables — and racing a
                # live owner re-opens the duplicate-application window
                # the lease exists to close). A dead owner forfeits
                # immediately, young or old; a live one keeps its record
                # until an EXPLICIT recover (min_age_s=0) overrides.
                try:
                    os.kill(pid, 0)
                    alive = True
                except ProcessLookupError:
                    alive = False
                except PermissionError:
                    alive = True
                if alive:
                    continue  # the owner is mid-commit: its record
            for ent in rec["tables"]:
                t = self._reattach(ent)
                head = t.current_version() or 0
                landed = any(
                    self._manifest_stamp(t, v) == gid
                    for v in range(ent["parent"] + 1, head + 1)
                )
                if landed:
                    # crash after this member's pointer move but before
                    # its branch drop: finish the cleanup
                    if ent["branch"] in t.branches():
                        t.drop_branch(ent["branch"])
                    continue
                if ent["branch"] not in t.branches():
                    raise RuntimeError(
                        f"transaction {gid}: member {ent['path']} has "
                        f"neither landed nor kept its branch "
                        f"{ent['branch']!r} — cannot roll forward"
                    )
                # CommitConflict here = a conflicting write landed in
                # the crash window; surface it, keep the record
                t.fast_forward(
                    ent["branch"],
                    require_source_unchanged=False,
                    txn_record=gid,
                )
            try:
                os.remove(path)
            except FileNotFoundError:
                pass  # a concurrent recovery deleted it — same outcome
            recovered.append(gid)
        return recovered

    @staticmethod
    def _manifest_stamp(t, v: int):
        """The txn-record stamp of version ``v``, or None when the
        manifest is MISSING (expire_snapshots may delete intermediate
        manifests; a vanished version cannot prove the stamp, and
        raising here would make the record permanently unrecoverable)."""
        try:
            return t._manifest(v).get("txn_record")
        except FileNotFoundError:
            return None

    def _handle_txn_statement(self, text: str) -> DataFrame | None:
        m = self._BEGIN_RE.match(text)
        if m:
            self.recover_transactions(min_age_s=self._TXN_LEASE_S)
            names = self._txn_names(m.group(1))
            for name in names:
                if self._snapshot_tables.get(name) is None:
                    raise ValueError(
                        f"BEGIN TRANSACTION: unregistered snapshot table "
                        f"{name!r}"
                    )
                if name in self._txns:
                    raise ValueError(
                        f"a transaction is already open on {name!r}"
                    )
            if len(names) > 1:
                # multi-table COMMIT needs every member's protocol to be
                # reconstructable by a fresh recovery process — refuse at
                # BEGIN, before anything is staged
                for name in names:
                    self._protocol_descriptor(self._snapshot_tables[name])
            gid = f"txn-{uuid.uuid4().hex[:10]}"
            rows = []
            for name in names:
                t = self._snapshot_tables[name]
                bt = t.create_branch(gid)
                self._txns[name] = (t, gid, frozenset(names))
                self._snapshot_tables[name] = bt
                rows.append((name, gid))
            return local_frame(
                self.spark, rows, "table string, branch string"
            )
        m = self._COMMIT_RE.match(text)
        if m:
            names = self._txn_names(m.group(1))
            group = self._txn_group(names, "COMMIT")
            if len(names) == 1:
                # single table: the branch publish IS the atomic commit
                name = names[0]
                t, br, _members = self._txns[name]
                self._compact_mor_debt(t, br)
                version = t.fast_forward(br, require_source_unchanged=False)
                del self._txns[name]
                self._snapshot_tables[name] = t
                return local_frame(
                    self.spark, [(version,)], "version long"
                )
            return self._commit_multi(names, group)
        m = self._ROLLBACK_RE.match(text)
        if m:
            names = self._txn_names(m.group(1))
            self._txn_group(names, "ROLLBACK")
            rows = []
            for name in names:
                t, br, _members = self._txns.pop(name)
                self._snapshot_tables[name] = t
                t.drop_branch(br)
                rows.append((name,))
            return local_frame(self.spark, rows, "table string")
        m = self._DROP_GUARD_RE.match(text)
        if m and m.group(1) in self._txns:
            raise ValueError(
                f"DROP TABLE {m.group(1)!r}: a transaction is open on "
                f"it — COMMIT or ROLLBACK first"
            )
        return None

    def _txn_group(self, names: list[str], verb: str) -> frozenset:
        """Validate that ``names`` is exactly one open transaction
        group (the statement must name every enlisted table — partial
        commits of a multi-table transaction are not a thing)."""
        for name in names:
            if name not in self._txns:
                raise ValueError(f"no open transaction on {name!r}")
        groups = {self._txns[n][2] for n in names}
        if len(groups) != 1 or groups.pop() != frozenset(names):
            raise ValueError(
                f"{verb} TRANSACTION must name the exact table set of "
                f"ONE open transaction; open groups: "
                f"{sorted(set(self._txns[n][2] for n in names), key=sorted)}"
            )
        return frozenset(names)

    @staticmethod
    def _compact_mor_debt(t, br: str) -> None:
        bt = t.branch(br)
        bm = bt._manifest(bt.current_version())
        if bm.get("delete_dirs") or bm.get("eq_deletes"):
            # merge-on-read debt staged inside the transaction:
            # localize it so the publish is clean (same rule as any
            # clone publish)
            bt.compact()

    def _commit_multi(self, names: list[str], group: frozenset) -> DataFrame:
        gid = self._txns[names[0]][1]
        members = [(n, self._txns[n][0]) for n in names]
        for _n, t in members:
            self._compact_mor_debt(t, gid)
        # pure-REST groups commit SERVER-SIDE: the catalog service is
        # the commit point, so no local _txns record is needed (or
        # possible — the members may share only the catalog). This
        # branch runs BEFORE the dry-run loop: its prepare step IS the
        # validation (nothing lands until the POST), and its
        # landed-stamp idempotence check must see a re-issued COMMIT
        # before any rebase analysis can trip over the already-landed
        # head.
        from oss_data_lake_spark.sources.rest_catalog import (
            RestCommitProtocol,
        )

        if all(
            isinstance(t.protocol, RestCommitProtocol) for _n, t in members
        ) and len({t.protocol.base for _n, t in members}) == 1:
            return self._commit_multi_rest(members, gid)
        # phase 1: every member must be publishable NOW — one conflict
        # aborts the whole commit with nothing landed and the
        # transaction open (inspect, retry, or ROLLBACK)
        for _n, t in members:
            t.branch(gid).publish(
                require_source_unchanged=False, dry_run=True,
                source_protocol=t.protocol,
            )
        # phase 2: the commit point
        self._txn_record_write(
            gid,
            [
                {
                    "name": n,
                    "path": t.path,
                    "branch": gid,
                    "parent": t.current_version() or 0,
                    "protocol": self._protocol_descriptor(t),
                }
                for n, t in members
            ],
        )
        # phase 3: land every member (a crash from here rolls FORWARD
        # via recover_transactions). A member failing HERE — a
        # conflicting write squeezing into the tiny window after the
        # record — triggers one immediate in-process recovery attempt;
        # if the conflict persists, the record stays (the transaction is
        # COMMITTED and must eventually roll forward) and the error says
        # so. Either way the in-memory registry is restored for every
        # member that landed.
        import os

        rows = []
        try:
            for n, t in members:
                v = t.fast_forward(
                    gid, require_source_unchanged=False, txn_record=gid
                )
                del self._txns[n]
                self._snapshot_tables[n] = t
                rows.append((n, v))
        except Exception as first:
            try:
                self.recover_transactions()
            except Exception:
                raise RuntimeError(
                    f"transaction {gid} is COMMITTED (record written) "
                    f"but a member failed to land and immediate "
                    f"roll-forward also failed; the record is kept — "
                    f"rerun recover_transactions() once the conflict "
                    f"clears: {first}"
                ) from first
            # recovery landed the rest: finish the bookkeeping
            for n, t in members:
                if n in self._txns:
                    del self._txns[n]
                    self._snapshot_tables[n] = t
            return local_frame(
                self.spark,
                [(n, t.current_version()) for n, t in members],
                "table string, version long",
            )
        try:
            os.remove(os.path.join(self._txns_dir(), f"{gid}.json"))
        except FileNotFoundError:
            # an (over-eager or explicit) concurrent recovery observed
            # every member landed and removed the record first — the
            # commit is fully applied either way
            pass
        return local_frame(self.spark, rows, "table string, version long")

    _REST_TXN_RETRIES = 20

    def _commit_multi_rest(self, members: list[tuple], gid: str) -> DataFrame:
        """SERVER-SIDE multi-table commit through the catalog service —
        the Lakekeeper multi-table-commit shape the reference's Iceberg
        REST catalog exposes (etc/catalog/iceberg.properties:16 points
        Trino at it): every member's branch is PREPARED (data copies +
        built manifest + its ``assert-current-version`` parent) and the
        whole set lands in ONE ``POST /v1/transactions/commit`` the
        service applies atomically under its lock.

        Atomicity needs no local ``_txns`` record and has no crash
        window: before the POST returns, nothing landed (the staged
        branches survive — retry or ROLLBACK); after it, everything
        landed exactly once (a crashed client cannot re-POST: the
        staged state died with it, and a duplicate version would 409).
        Engines that share ONLY the catalog — no POSIX filesystem —
        get the same all-or-nothing guarantee. A 409 means some
        member's head moved between prepare and POST: every member
        re-prepares (the publish machinery rebases non-overlapping
        concurrent commits; genuine overlap raises CommitConflict with
        the transaction still open, nothing landed)."""
        from oss_data_lake_spark.sources.catalog import CommitConflict
        from oss_data_lake_spark.sources.rest_catalog import (
            rest_commit_transaction,
        )

        base = members[0][1].protocol.base
        for _attempt in range(self._REST_TXN_RETRIES):
            # idempotence vs our OWN lost response: a timeout/crash after
            # the service already applied the POST re-enters here (retry
            # or a re-issued COMMIT TRANSACTION) — if every member's head
            # chain PAST ITS BRANCH FORK carries the gid stamp, the
            # transaction IS committed; finish cleanup instead of landing
            # a spurious rebased no-op version. Cost on the normal path:
            # (head - fork) manifest reads per member — usually zero
            def _landed(t) -> bool:
                head = t.current_version() or 0
                if gid in t.branches():
                    fork = t.branch(gid)._manifest(1)["clone_source"][
                        "version"
                    ]
                    lo = fork + 1
                else:
                    lo = 1  # branch already cleaned: scan the whole chain
                return any(
                    self._manifest_stamp(t, v) == gid
                    for v in range(lo, head + 1)
                )

            if all(_landed(t) for _n, t in members):
                rows = []
                for n, t in members:
                    if gid in t.branches():
                        t.drop_branch(gid)
                    del self._txns[n]
                    self._snapshot_tables[n] = t
                    rows.append((n, t.current_version()))
                return local_frame(
                    self.spark, rows, "table string, version long"
                )
            changes = []
            for _n, t in members:
                parent, manifest = t.branch(gid).publish(
                    require_source_unchanged=False,
                    txn_record=gid,
                    source_protocol=t.protocol,
                    prepare=True,
                )
                changes.append({
                    "table": t.protocol.table,
                    "requirements": [
                        {"type": "assert-current-version", "version": parent}
                    ],
                    "manifest": manifest,
                })
            try:
                results = rest_commit_transaction(base, changes)
            except CommitConflict:
                continue  # a head moved: re-prepare every member
            rows = []
            for (n, t), res in zip(members, results):
                t.drop_branch(gid)
                del self._txns[n]
                self._snapshot_tables[n] = t
                rows.append((n, res["version"]))
            return local_frame(
                self.spark, rows, "table string, version long"
            )
        raise CommitConflict(
            f"multi-table transaction {gid} lost "
            f"{self._REST_TXN_RETRIES} requirement races — still open"
        )

    # -- persistent SQL VIEWs (logical twin of MATERIALIZED VIEW) --------
    #
    # Reference parity: Trino-over-Iceberg view DDL — the saved-query
    # artifact Metabase/CloudBeaver users create over the reference
    # stack (RUNBOOK §3.3 fronts arbitrary BI SQL). A view binds a name
    # to SELECT text in durable catalog metadata
    # (<warehouse>/_views/<name>.json); reads re-plan the text over the
    # CURRENT snapshot of every base table, so views always reflect the
    # head and compose with the body's time travel / metadata tables /
    # table_changes. Nothing is materialized and nothing is refreshed.

    _CREATE_VIEW_RE = re.compile(
        r"^\s*CREATE\s+(?:(OR\s+REPLACE)\s+)?VIEW\s+"
        r"(?:(IF\s+NOT\s+EXISTS)\s+)?([A-Za-z_][\w.]*)\s+AS\s+(.*?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _DROP_VIEW_RE = re.compile(
        r"^\s*DROP\s+VIEW\s+(?:(IF\s+EXISTS)\s+)?([A-Za-z_][\w.]*)\s*;?\s*$",
        re.IGNORECASE,
    )
    _SHOW_VIEWS_RE = re.compile(r"^\s*SHOW\s+VIEWS\s*;?\s*$", re.IGNORECASE)
    _SHOW_SNAPSHOT_TABLES_RE = re.compile(
        r"^\s*SHOW\s+SNAPSHOT\s+TABLES\s*;?\s*$", re.IGNORECASE
    )
    # the reference smoke test's `SHOW TABLES FROM iceberg.yfinance`
    # (RUNBOOK.md step 7): a dotted namespace that has no Spark database
    # answers from the snapshot registry by name prefix, in Trino's
    # single-`Table`-column shape; real Spark databases fall through
    _SHOW_TABLES_NS_RE = re.compile(
        r"^\s*SHOW\s+TABLES\s+(?:FROM|IN)\s+([A-Za-z_][\w.]*)\s*;?\s*$",
        re.IGNORECASE,
    )
    # `SHOW SCHEMAS FROM iceberg` (RUNBOOK troubleshooting): a catalog
    # Spark doesn't know answers from the registry's dotted-name prefixes
    # in Trino's single-`Schema`-column shape
    _SHOW_SCHEMAS_CAT_RE = re.compile(
        r"^\s*SHOW\s+SCHEMAS\s+(?:FROM|IN)\s+([A-Za-z_]\w*)\s*;?\s*$",
        re.IGNORECASE,
    )
    _SHOW_CATALOGS_RE = re.compile(
        r"^\s*SHOW\s+CATALOGS\s*;?\s*$", re.IGNORECASE
    )
    # Trino's SHOW FUNCTIONS (the last SHOW spelling BI tools issue on
    # connect, after SHOW CATALOGS/SCHEMAS/TABLES): answered from a
    # static table of the TRANSLATED Trino surface — the honest
    # dialect-coverage contract — unioned with Spark's own function
    # registry (those names work verbatim through Engine.sql).
    _SHOW_FUNCTIONS_RE = re.compile(
        r"^\s*SHOW\s+FUNCTIONS(?:\s+LIKE\s+'((?:[^']|'')*)')?\s*;?\s*$",
        re.IGNORECASE,
    )
    # (function, function_type, description) — every Trino spelling the
    # engine's translator chain accepts, with where it lands in Spark.
    # Grown ONLY alongside the translators: this table is asserted
    # against the chain in tests/test_trino_dialect.py.
    _DIALECT_FUNCTIONS = (
        ("approx_distinct", "trino dialect",
         "translated to approx_count_distinct (HLL; optional max "
         "standard error)"),
        ("date_diff", "trino dialect",
         "date_diff('unit', a, b) translated to timestampdiff(unit, a, "
         "b); units millisecond..year"),
        ("date_add", "trino dialect",
         "date_add('unit', n, ts) translated to timestampadd(unit, n, "
         "ts); Spark's 2-arg date_add(date, days) unchanged"),
        ("strpos", "trino dialect",
         "strpos(s, sub) translated to locate(sub, s) (1-based, 0 when "
         "absent); 3-arg instance form refuses"),
        ("format_datetime", "trino dialect",
         "translated to date_format over the Joda/Spark shared pattern "
         "subset; other pattern letters refuse"),
        ("regexp_like", "trino dialect",
         "Spark builtin of the same name and semantics; passes through"),
        ("day_of_week", "trino dialect",
         "translated to weekday(x)+1 (ISO Mon=1..Sun=7); alias dow"),
        ("dow", "trino dialect", "alias of day_of_week"),
        ("day_of_year", "trino dialect",
         "translated to dayofyear(x); alias doy"),
        ("doy", "trino dialect", "alias of day_of_year"),
        ("day_of_month", "trino dialect", "translated to day(x)"),
        ("week", "trino dialect",
         "translated to weekofyear(x) (ISO week); alias week_of_year"),
        ("week_of_year", "trino dialect", "alias of week"),
        ("year_of_week", "trino dialect",
         "translated to extract(YEAROFWEEK FROM x); alias yow"),
        ("yow", "trino dialect", "alias of year_of_week"),
        ("to_unixtime", "trino dialect",
         "translated to unix_micros(x)/1e6 (DOUBLE epoch seconds)"),
        ("date_parse", "trino dialect",
         "date_parse(s, '%-fmt') translated to to_timestamp over the "
         "shared MySQL-directive subset; unsupported directives refuse; "
         "unparseable input yields NULL (Trino raises)"),
        ("arbitrary", "trino dialect",
         "translated to any_value (same any-row contract)"),
        ("format", "trino dialect",
         "translated to format_string (both are Java Formatter)"),
        ("json_value", "trino dialect",
         "SQL:2016; translated to get_json_object (+ CAST for "
         "RETURNING)"),
        ("json_query", "trino dialect",
         "SQL:2016; translated to get_json_object"),
        ("json_exists", "trino dialect",
         "SQL:2016; translated to get_json_object IS NOT NULL"),
        ("try", "trino dialect",
         "TRY over a single +, -, *, / operation, CAST, or element_at "
         "translated to the matching try_* builtin; other bodies "
         "refuse"),
        ("any_match", "trino dialect",
         "translated to exists(arr, lambda) — shared 3VL contract"),
        ("all_match", "trino dialect",
         "translated to forall(arr, lambda) — shared 3VL contract"),
        ("none_match", "trino dialect",
         "translated to (NOT exists(arr, lambda))"),
        ("json_parse", "trino dialect",
         "passthrough (the engine's SQL/JSON functions read JSON "
         "text); malformed input yields NULL downstream, not an error"),
        ("json_format", "trino dialect",
         "passthrough (no canonical re-rendering; returns the JSON "
         "text verbatim)"),
        ("current_catalog", "sql clause (translated)",
         "bare niladic; substituted from engine session state"),
        ("current_schema", "sql clause (translated)",
         "bare niladic; substituted from engine session state"),
        ("at time zone", "sql clause (translated)",
         "ANSI datetime factor; translated to "
         "convert_timezone(current_timezone(), zone, ts)"),
        ("tablesample bernoulli", "sql clause (translated)",
         "translated to TABLESAMPLE (p PERCENT)"),
        ("tablesample system", "sql clause (translated)",
         "translated to TABLESAMPLE (p PERCENT) (row-level "
         "approximation)"),
        ("any/some/all (quantified comparison)", "sql clause (translated)",
         "ANSI §8.9; exact 3VL aggregate rewrite"),
        ("window frame exclude", "sql clause (translated)",
         "SQL:2011; subtraction-identity rewrite for "
         "SUM/COUNT/AVG"),
        ("offset n rows / fetch first", "sql clause (translated)",
         "SQL:2008 row-limiting; translated to LIMIT/OFFSET"),
        ("match_recognize", "sql clause (translated)",
         "row-pattern recognition; window-stack compilation"),
    )
    # dotted CREATE/DROP SCHEMA (the reference smoke test's verbatim
    # `CREATE SCHEMA IF NOT EXISTS iceberg.yfinance`): Spark's session
    # catalog is single-part, so multi-part schemas are ENGINE-level
    # records — visible in SHOW SCHEMAS FROM, non-empty DROP refused
    _CREATE_SCHEMA_NS_RE = re.compile(
        r"^\s*CREATE\s+SCHEMA\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)\s*;?\s*$",
        re.IGNORECASE,
    )
    _DROP_SCHEMA_NS_RE = re.compile(
        r"^\s*DROP\s+SCHEMA\s+(IF\s+EXISTS\s+)?"
        r"([A-Za-z_]\w*(?:\.[A-Za-z_]\w*)+)\s*;?\s*$",
        re.IGNORECASE,
    )
    _RECOVER_TXNS_RE = re.compile(
        r"^\s*RECOVER\s+TRANSACTIONS\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_CREATE_VIEW_RE = re.compile(
        r"^\s*SHOW\s+CREATE\s+VIEW\s+([A-Za-z_][\w.]*)\s*;?\s*$",
        re.IGNORECASE,
    )

    def _views(self):
        from oss_data_lake_spark.sources.views import ViewCatalog

        if getattr(self, "_view_catalog", None) is None:
            import os

            root = self._warehouse_dir
            if root is None:
                root = self.spark.conf.get("spark.sql.warehouse.dir")
                if root.startswith("file:"):
                    root = root[len("file:"):]
            self._view_catalog = ViewCatalog(os.path.join(root, "_views"))
        return self._view_catalog

    def view_exists(self, name: str) -> bool:
        return self._views().get(name) is not None

    def _sync_schema_aliases(self) -> None:
        """USE-schema name resolution: Trino/BI clients connect with a
        catalog+schema and then issue UNQUALIFIED table names (the
        Metabase/CloudBeaver connection settings in the reference,
        README.md step 7). While ``USE cat.schema`` is in effect, every
        registered ``cat.schema.t`` ALSO answers to bare ``t`` — an alias
        entry pointing at the SAME SnapshotTable handle, so reads, DML,
        and time travel through either spelling see one table. Aliases
        are re-derived before each statement: a schema switch retires
        them, and a DROP through either name removes both entries (the
        storage is gone — a dangling twin would reference deleted
        files)."""
        cur = self._current_schema
        reg = self._snapshot_tables
        for bare, (dotted, handle) in list(self._schema_aliases.items()):
            if reg.get(bare) is not handle and bare in reg:
                del self._schema_aliases[bare]  # user re-registered bare
                continue
            if bare not in reg and dotted in reg and reg[dotted] is handle:
                # dropped VIA the alias: the dotted twin now references
                # deleted storage — remove it too
                del reg[dotted]
                del self._schema_aliases[bare]
                continue
            if dotted not in reg or reg[dotted] is not handle:
                reg.pop(bare, None)  # source dropped or replaced
                del self._schema_aliases[bare]
                continue
            if not cur or not dotted.startswith(cur + "."):
                del reg[bare]  # schema switched away
                del self._schema_aliases[bare]
        if not cur:
            return
        pref = cur + "."
        for dotted in list(reg):
            if not dotted.startswith(pref):
                continue
            bare = dotted[len(pref):]
            if "." in bare or bare in reg:
                continue  # deeper nesting, or a real bare table wins
            reg[bare] = reg[dotted]
            self._schema_aliases[bare] = (dotted, reg[dotted])

    # -- BI handshake (USE / SET SESSION / RESET SESSION / SHOW SESSION) --
    #
    # Reference parity: Metabase/CloudBeaver issue this chatter against
    # Trino on connect (reference RUNBOOK.md:120-123) before any real
    # query. Semantics: accept-and-APPLY where a Spark equivalent exists
    # (`USE <db>` switches the session catalog database when it exists;
    # `SET SESSION spark.*` sets the Spark conf), accept-and-RECORD
    # otherwise (the property/schema is remembered and echoed back with
    # applied=false, never an error — a refused handshake statement
    # aborts the whole client connection).

    _USE_RE = re.compile(
        r"^\s*USE\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
    )
    _SET_SESSION_RE = re.compile(
        r"^\s*SET\s+SESSION\s+([A-Za-z_][\w.]*)\s*=\s*(.+?)\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _RESET_SESSION_RE = re.compile(
        r"^\s*RESET\s+SESSION\s+([A-Za-z_][\w.]*)\s*;?\s*$", re.IGNORECASE
    )
    _SHOW_SESSION_RE = re.compile(
        r"^\s*SHOW\s+SESSION\s*;?\s*$", re.IGNORECASE
    )

    def _handle_session_statement(self, text: str) -> DataFrame | None:
        m = self._USE_RE.match(text)
        if m:
            target = m.group(1)
            # Trino spells `USE catalog.schema`; the schema leg maps to
            # a Spark database when one exists
            db = target.rsplit(".", 1)[-1]
            try:
                self.spark.catalog.setCurrentDatabase(db)
                applied = True
            except Exception:
                applied = False  # recorded only — never a refusal
            self._current_schema = target
            return local_frame(
                self.spark,
                [(target, applied)],
                "schema string, applied boolean",
            )
        m = self._SET_SESSION_RE.match(text)
        if m:
            key, raw = m.group(1), m.group(2).strip()
            val = (
                raw[1:-1].replace("''", "'")
                if len(raw) >= 2 and raw[0] == raw[-1] == "'"
                else raw
            )
            applied = False
            if key.startswith("spark."):
                self.spark.conf.set(key, val)
                applied = True
            self._session_props[key] = val
            return local_frame(
                self.spark,
                [(key, val, applied)],
                "name string, value string, applied boolean",
            )
        m = self._RESET_SESSION_RE.match(text)
        if m:
            key = m.group(1)
            existed = self._session_props.pop(key, None) is not None
            if key.startswith("spark."):
                try:
                    self.spark.conf.unset(key)
                    existed = True
                except Exception:
                    pass
            return local_frame(
                self.spark, [(key, existed)], "name string, reset boolean"
            )
        if self._SHOW_SESSION_RE.match(text):
            return local_frame(
                self.spark,
                sorted(self._session_props.items()),
                "name string, value string",
            )
        return None

    # Trino's MATCH_RECOGNIZE (SQL:2016 row-pattern recognition), routed to
    # the restricted runs-and-windows rewrite in operators/match_recognize
    # (see that module's docstring for the exact supported class and its
    # exactness proof). Statement shape:
    #   SELECT [alias.]* FROM <source> MATCH_RECOGNIZE (
    #     PARTITION BY c [, c...]  ORDER BY c [ASC]
    #     MEASURES expr AS alias [, ...]
    #     [ONE ROW PER MATCH] [AFTER MATCH SKIP PAST LAST ROW]
    #     PATTERN ( ... )  DEFINE V AS pred [, ...]
    #   ) [AS alias] [ORDER BY ...] [LIMIT n]
    # <source> is evaluated through sql() itself, so snapshot tables,
    # persistent views, time travel, and TABLESAMPLE all compose.
    _MR_HEAD_RE = re.compile(
        r"^\s*SELECT\s+(?:\w+\s*\.\s*)?\*\s+FROM\s+(.+?)\s+"
        r"MATCH_RECOGNIZE\s*\(",
        re.IGNORECASE | re.DOTALL,
    )

    def _handle_match_recognize(self, text: str) -> DataFrame | None:
        from oss_data_lake_spark.operators.match_recognize import (
            match_recognize,
        )

        masked = _masked(text)
        m = self._MR_HEAD_RE.match(masked)
        if m is None:
            return None
        i = close_paren(masked, m.end())
        if i is None:
            raise ValueError("MATCH_RECOGNIZE: unbalanced parentheses")
        src = text[m.start(1): m.end(1)].strip()
        body, bmask = text[m.end(): i - 1], masked[m.end(): i - 1]
        tail = text[i:]
        tm = re.match(r"\s*AS\s+\w+", tail, re.IGNORECASE)
        if tm:
            tail = tail[tm.end():]
        tail = tail.strip().rstrip(";").strip()
        if tail and not re.match(
            r"^(ORDER\s+BY|LIMIT)\b", tail, re.IGNORECASE
        ):
            raise ValueError(
                f"MATCH_RECOGNIZE: unsupported trailing clause {tail!r}"
            )

        # ORDERED keyword search: each clause is located AFTER the
        # previous one, so identifiers that merely look like clause
        # keywords (a column named `subset` in a DEFINE predicate, a
        # measure alias named `define`) can't misfire the parser —
        # SQL:2016 fixes the clause order, so the positions are known
        def _sect(kw: str, start: int = 0, end: int | None = None) -> int:
            s = re.compile(kw, re.IGNORECASE).search(
                bmask, start, end if end is not None else len(bmask)
            )
            return s.start() if s else -1

        marks = {"partition": _sect(r"\bPARTITION\s+BY\b")}
        marks["order"] = _sect(
            r"\bORDER\s+BY\b", max(marks["partition"], 0)
        )
        marks["measures"] = _sect(r"\bMEASURES\b", max(marks["order"], 0))
        after_meas = max(marks["measures"], 0)
        marks["one_row"] = _sect(r"\bONE\s+ROW\s+PER\s+MATCH\b", after_meas)
        marks["all_rows"] = _sect(
            r"\bALL\s+ROWS\s+PER\s+MATCH\b", after_meas
        )
        marks["after"] = _sect(r"\bAFTER\s+MATCH\b", after_meas)
        marks["pattern"] = _sect(r"\bPATTERN\s*\(", after_meas)
        # SUBSET's only legal home is between PATTERN's closing paren and
        # DEFINE — search just that gap
        pclose = len(bmask)
        if marks["pattern"] >= 0:
            popen = bmask.index("(", marks["pattern"])
            pclose = close_paren(bmask, popen + 1) or len(bmask)
        marks["define"] = _sect(r"\bDEFINE\b", pclose)
        marks["subset"] = _sect(
            r"\bSUBSET\b", pclose,
            marks["define"] if marks["define"] >= 0 else None,
        )
        rows_per_match = "all" if marks["all_rows"] >= 0 else "one"
        if marks["subset"] >= 0:
            raise ValueError("MATCH_RECOGNIZE: SUBSET is not supported")
        if marks["after"] >= 0 and not re.match(
            r"AFTER\s+MATCH\s+SKIP\s+PAST\s+LAST\s+ROW\b",
            bmask[marks["after"]:],
            re.IGNORECASE,
        ):
            raise ValueError(
                "MATCH_RECOGNIZE: only AFTER MATCH SKIP PAST LAST ROW"
            )
        for req in ("partition", "order", "measures", "pattern", "define"):
            if marks[req] < 0:
                # present somewhere but not at its ordered position →
                # the clauses are out of order; absent entirely → missing
                kw = {
                    "partition": r"\bPARTITION\s+BY\b",
                    "order": r"\bORDER\s+BY\b",
                    "measures": r"\bMEASURES\b",
                    "pattern": r"\bPATTERN\s*\(",
                    "define": r"\bDEFINE\b",
                }[req]
                if re.search(kw, bmask, re.IGNORECASE):
                    raise ValueError("MATCH_RECOGNIZE: clauses out of order")
                raise ValueError(f"MATCH_RECOGNIZE: missing {req} clause")
        if not (
            marks["partition"] < marks["order"] < marks["measures"]
            < marks["pattern"] < marks["define"]
        ):
            raise ValueError("MATCH_RECOGNIZE: clauses out of order")

        def _slice(start_kw: str, start: int) -> str:
            nxt = min(
                (v for v in marks.values() if v > start), default=len(body)
            )
            cut = re.match(start_kw, bmask[start:nxt], re.IGNORECASE)
            return body[start + cut.end(): nxt]

        pb_txt = _slice(r"PARTITION\s+BY", marks["partition"])
        partition_by = [c.strip() for c in pb_txt.split(",") if c.strip()]
        ob_txt = _slice(r"ORDER\s+BY", marks["order"])
        ob = ob_txt.strip()
        om = re.fullmatch(r"(\w+)(?:\s+ASC)?", ob, re.IGNORECASE)
        if not om:
            raise ValueError(
                f"MATCH_RECOGNIZE: ORDER BY must be one ascending "
                f"column, got {ob!r}"
            )
        order_by = om.group(1)

        measures: dict[str, str] = {}
        for item in self._split_using_args(
            _slice(r"MEASURES", marks["measures"])
        ):
            am = re.match(
                r"^(.+?)\s+AS\s+(\w+)$", item, re.IGNORECASE | re.DOTALL
            )
            if not am:
                raise ValueError(
                    f"MATCH_RECOGNIZE: measure needs AS alias: {item!r}"
                )
            measures[am.group(2)] = am.group(1).strip()

        # PATTERN ( ... ): balanced slice of the body
        pattern = body[popen + 1: pclose - 1].strip()

        defines: dict[str, str] = {}
        for item in self._split_using_args(
            _slice(r"DEFINE", marks["define"])
        ):
            dm = re.match(
                r"^(\w+)\s+AS\s+(.+)$", item, re.IGNORECASE | re.DOTALL
            )
            if not dm:
                raise ValueError(
                    f"MATCH_RECOGNIZE: DEFINE needs VAR AS pred: {item!r}"
                )
            defines[dm.group(1).upper()] = dm.group(2).strip()

        source = self.sql(f"SELECT * FROM {src}")
        res = match_recognize(
            source, partition_by, order_by, pattern, defines, measures,
            rows_per_match=rows_per_match,
        )
        if tail:
            name = f"__mr_out_{abs(hash(text)) % 10**8}"
            res.createOrReplaceTempView(name)
            try:
                out = self.spark.sql(f"SELECT * FROM {name} {tail}")
                out.schema  # bind before the view drops
                return out
            finally:
                self.spark.catalog.dropTempView(name)
        return res

    # Trino/Iceberg CREATE TABLE DDL, verbatim (reference notebook
    # `notebooks/test_airflow_yfinance.ipynb` cell 3 and RUNBOOK step 7):
    #
    #   CREATE TABLE [IF NOT EXISTS] t (
    #     ticker VARCHAR, ts TIMESTAMP(3) WITH TIME ZONE, ... )
    #   WITH (partitioning = ARRAY['day(ts)'])
    #
    # translates to the engine's snapshot grammar: Trino type spellings
    # (TIMESTAMP(p) [WITH TIME ZONE] → TIMESTAMP, bare VARCHAR → STRING,
    # VARBINARY → BINARY, REAL → FLOAT) and the Iceberg partitioning
    # property (singular day/month/year/hour transforms → the engine's
    # plural spellings; bucket(n, c) and plain columns pass through).
    # The translation fires ONLY on Trino markers (a WITH(partitioning)
    # clause or a Trino-only type) so Spark-native DDL is untouched, and
    # all matching runs on the MASKED text (keywords inside literals are
    # data). Other WITH properties (format, location hints) are accepted
    # and dropped — storage here is always parquet under the table root.
    _TRINO_CREATE_RE = re.compile(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)"
        r"\s*\(",
        re.IGNORECASE,
    )
    _TRINO_TYPE_SUBS = [
        (re.compile(r"\bTIMESTAMP\s*\(\s*\d+\s*\)\s+WITH\s+TIME\s+ZONE",
                    re.IGNORECASE), "TIMESTAMP"),
        (re.compile(r"\bTIMESTAMP\s+WITH\s+TIME\s+ZONE", re.IGNORECASE),
         "TIMESTAMP"),
        (re.compile(r"\bTIMESTAMP\s*\(\s*\d+\s*\)", re.IGNORECASE),
         "TIMESTAMP"),
        (re.compile(r"\bVARCHAR\b(?!\s*\()", re.IGNORECASE), "STRING"),
        (re.compile(r"\bVARBINARY\b", re.IGNORECASE), "BINARY"),
        (re.compile(r"\bREAL\b", re.IGNORECASE), "FLOAT"),
    ]
    _TRINO_PART_RE = re.compile(
        r"partitioning\s*=\s*ARRAY\s*\[([^\]]*)\]", re.IGNORECASE
    )
    _TRINO_XFORM_RE = re.compile(
        r"^(day|month|year|hour)\s*\(\s*([A-Za-z_]\w*)\s*\)$", re.IGNORECASE
    )

    @classmethod
    def _trino_partitioning(cls, props: str) -> str:
        """The ``partitioning = ARRAY['day(ts)', 'k']`` entry of a Trino
        WITH clause as ``" PARTITIONED BY (days(ts), k)"`` ("" without
        one); the other properties are the caller's."""
        pm = cls._TRINO_PART_RE.search(props)
        entries = []
        for ent in pm.group(1).split(",") if pm else ():
            ent = ent.strip().strip("'\"")
            xm = cls._TRINO_XFORM_RE.match(ent)
            if xm:
                ent = f"{xm.group(1).lower()}s({xm.group(2)})"
            if ent:
                entries.append(ent)
        return f" PARTITIONED BY ({', '.join(entries)})" if entries else ""

    # Trino CTAS: `CREATE TABLE [IF NOT EXISTS] name [WITH (props)]
    # AS <query>` (round 13 — dashboard rollups saved as Iceberg tables
    # are created exactly this way). Fires only when the statement
    # carries a Trino marker — a WITH (...) properties clause or a
    # DOTTED name Spark's single-part session catalog cannot host — so
    # a plain single-part Spark CTAS keeps Spark semantics. Recognized
    # properties: partitioning (ARRAY of columns/transforms, same
    # day()->days() mapping as the column-list form) and format
    # ('PARQUET' — the engine's native layout; anything else refuses).
    _TRINO_CTAS_HEAD_RE = re.compile(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?"
        r"([A-Za-z_][\w.]*)",
        re.IGNORECASE,
    )

    def _translate_trino_ctas(self, text: str) -> str:
        masked = _masked(text)
        m = self._TRINO_CTAS_HEAD_RE.match(masked)
        if m is None:
            return text
        i = m.end()
        props = None
        wm = re.compile(r"\s*WITH\s*\(", re.IGNORECASE).match(masked, i)
        if wm:
            j = close_paren(masked, wm.end())
            if j is None:
                return text  # unbalanced: the parser reports it
            props = text[wm.end(): j - 1]
            i = j
        am = re.compile(
            r"\s*AS\s+(?=SELECT|WITH|VALUES|TABLE|\()", re.IGNORECASE
        ).match(masked, i)
        if am is None:
            return text  # not a CTAS (column-list form handles the rest)
        name = m.group(2)
        if props is None:
            # Trino-marker test for a PLAIN (no WITH-properties) CTAS
            # (round-13 ADVICE — documented here): a single-part name
            # is always Spark's CTAS; a 3-part name is always engine-
            # level (Spark cannot host catalog.schema.table); the
            # ambiguous 2-part form (`db.t AS SELECT` is ALSO valid
            # Spark database-qualified CTAS) reroutes ONLY when its
            # prefix is a registered engine schema (CREATE SCHEMA
            # here) or engine tables already live under it — an
            # unclaimed database prefix keeps Spark semantics.
            dots = name.count(".")
            if dots == 0:
                return text
            if dots == 1:
                prefix = name.rsplit(".", 1)[0].lower()
                ns = {s.lower() for s in self._ns_schemas}
                ns |= {
                    s.lower().rsplit(".", 1)[-1]
                    for s in self._ns_schemas
                }
                claimed = prefix in ns or any(
                    "." in t and t.lower().rsplit(".", 1)[0] == prefix
                    for t in self._snapshot_tables
                )
                if not claimed:
                    return text
        if props:
            known = {"partitioning", "format"}
            for key in re.findall(r"([A-Za-z_]\w*)\s*=", props):
                if key.lower() not in known:
                    raise ValueError(
                        f"CREATE TABLE ... WITH: unsupported property "
                        f"{key!r} (supported: {sorted(known)})"
                    )
            fm = re.search(
                r"format\s*=\s*'([^']*)'", props, re.IGNORECASE
            )
            if fm and fm.group(1).upper() != "PARQUET":
                raise ValueError(
                    f"CREATE TABLE ... WITH (format = {fm.group(1)!r}): "
                    f"only PARQUET is supported"
                )
        part = self._trino_partitioning(props or "")
        ine = m.group(1) or ""
        body = text[am.end():]
        return (
            f"CREATE TABLE {ine}{name} USING snapshot{part} AS {body}"
        )

    def _translate_trino_create(self, text: str) -> str:
        text = self._translate_trino_ctas(text)
        masked = _masked(text)
        m = self._TRINO_CREATE_RE.match(masked)
        if m is None:
            return text
        i = close_paren(masked, m.end())
        if i is None:
            return text
        cols, tail = text[m.end(): i - 1], text[i:].strip().rstrip(";")
        tail_masked = masked[i:].strip().rstrip(";")
        wm = re.match(r"^\s*WITH\s*\((.*)\)\s*$", tail_masked,
                      re.IGNORECASE | re.DOTALL)
        # Split the column list at depth-0 commas so type substitutions
        # apply ONLY in type position: the leading token of each entry is
        # the column NAME, and a column literally named real / varchar /
        # varbinary must never be rewritten into a type token (round-11
        # ADVICE). A double-quoted name is blanked in the masked entry,
        # so the name probe sees backtick and bare names only.
        parts = []  # (name-prefix, type-body, masked type-body)
        for ent in split_top(cols):
            ent_m = _masked(ent)
            idm = re.match(r"\s*(?:`[^`]*`|\w+)", ent_m)
            cut = idm.end() if idm else 0
            parts.append((ent[:cut], ent[cut:], ent_m[cut:]))
        has_trino_type = any(
            rx.search(body_m)
            for _, _, body_m in parts
            for rx, _ in self._TRINO_TYPE_SUBS
        )
        if not (wm or (has_trino_type and not tail)):
            return text  # not the Trino form (e.g. USING snapshot already)
        # type spellings — substitute on spans found in the MASKED body
        entries = []
        for head, body, body_m in parts:
            for rx, repl in self._TRINO_TYPE_SUBS:
                out, pos = [], 0
                for tm in rx.finditer(body_m):
                    out.append(body[pos: tm.start()])
                    out.append(repl)
                    pos = tm.end()
                if out:
                    out.append(body[pos:])
                    body = "".join(out)
                    # same-offset substitution keeps body/body_m aligned
                    body_m = rx.sub(repl, body_m)
            entries.append(head + body)
        cols = ",".join(entries)
        # the WITH (...) properties are the whole tail
        part = self._trino_partitioning(tail if wm else "")
        ine = m.group(1) or ""
        return (
            f"CREATE TABLE {ine}{m.group(2)} ({cols}) USING snapshot{part}"
        )

    # Trino's sampling spellings: `TABLESAMPLE BERNOULLI (p)` is row-level
    # Bernoulli sampling — exactly Spark's `TABLESAMPLE (p PERCENT)`;
    # `TABLESAMPLE SYSTEM (p)` is page-level in Trino, mapped to the same
    # row-level percent sample here (a documented approximation — Spark
    # has no page-granular sampler; the row-level sample is statistically
    # finer, never coarser). An optional REPEATABLE (seed) suffix passes
    # through to Spark for deterministic replay. Matching runs on the
    # MASKED text, so the keyword inside a string literal is data.
    _TABLESAMPLE_RE = re.compile(
        r"TABLESAMPLE\s+(BERNOULLI|SYSTEM)\s*\(", re.IGNORECASE
    )

    # Quantified subquery comparisons (ANSI SQL §8.9; Trino 467 supports
    # them, Spark's parser does not): `x op ANY|SOME|ALL (subquery)`
    # rewrites to an EXACT three-valued-logic encoding over one aggregate
    # pass of the subquery — a scalar struct (count(*), count(v), min(v),
    # max(v)) probed by a CASE. The struct subquery appears textually per
    # field but plans identically, so Spark's subquery reuse executes it
    # ONCE; the subquery collapses to one row before the outer scan, the
    # shape you want at scale. `= ANY` and `<> ALL` route to Spark's
    # native IN / NOT IN (already exact ANSI). NULL semantics are
    # preserved (empty→TRUE/FALSE per quantifier, NULL lhs or NULL
    # elements → UNKNOWN where the standard says so), so the rewrite is
    # valid in any boolean context, including under NOT.
    #
    # Supported LHS forms (matched on the MASKED text): an identifier
    # chain, a one-level function call, or a parenthesized expression
    # (≤2 paren levels). Deeper LHS nesting is left untranslated and
    # surfaces as Spark's own parse error. The trailing `(` must open a
    # SELECT/WITH/VALUES/TABLE body — `x = any(bool_col)`-style calls to
    # Spark's any()/some() AGGREGATES never fire the rewrite.
    # LHS call form requires the paren to FOLLOW the name directly and
    # the name not to be a clause keyword — `WHERE (x+1) >= ALL (...)`
    # must bind LHS to the parenthesized expression, not to a phantom
    # function WHERE(x+1)
    _QUANT_RE = re.compile(
        r"((?!(?:WHERE|AND|OR|NOT|WHEN|THEN|ELSE|ON|SELECT|HAVING|CASE|"
        r"BETWEEN|IN|EXISTS|LIKE|IS)\()"
        r"[A-Za-z_][\w.]*(?:\((?:[^()]|\([^()]*\))*\))?"
        r"|\((?:[^()]|\([^()]*\))*\))"
        r"\s*(<>|!=|<=|>=|=|<|>)\s*(ANY|SOME|ALL)\s*\(",
        re.IGNORECASE,
    )

    @staticmethod
    def _quantified_case(lhs: str, op: str, quant: str, sub: str) -> str:
        any_ = quant.upper() in ("ANY", "SOME")
        if op == "!=":
            op = "<>"
        stats = (
            "(SELECT named_struct('c', count(*), 'cy', count(__v), "
            f"'mn', min(__v), 'mx', max(__v)) FROM ({sub}) __qq(__v))"
        )
        nb = "CAST(NULL AS BOOLEAN)"
        if (op == "=" and any_) or (op == "<>" and not any_):
            # the MEMBERSHIP pair (= ANY ≡ IN, <> ALL ≡ NOT IN). Spark's
            # IN-subquery is used ONLY as the positive match witness —
            # its TRUE is always a real match, but in projection context
            # Spark's existence-join evaluation returns FALSE where ANSI
            # says UNKNOWN (NULL lhs / NULL elements, verified in
            # tests/test_quantified.py), so every other verdict comes
            # from the aggregate guards.
            empty = "FALSE" if any_ else "TRUE"
            pos, neg = ("TRUE", "FALSE") if any_ else ("FALSE", "TRUE")
            return (
                f"(CASE WHEN {stats}.c = 0 THEN {empty} "
                f"WHEN ({lhs}) IS NULL THEN {nb} "
                f"WHEN (({lhs}) IN ({sub})) THEN {pos} "
                f"WHEN {stats}.cy < {stats}.c THEN {nb} "
                f"ELSE {neg} END)"
            )
        if op in ("=", "<>"):
            # witness for "some non-null element differs": min/max probe
            hit = (
                f"{stats}.cy > 0 AND (({lhs}) <> {stats}.mn "
                f"OR ({lhs}) <> {stats}.mx)"
            )
            empty, on_hit, tail = (
                ("FALSE", "TRUE", "FALSE") if any_  # <> ANY
                else ("TRUE", "FALSE", "TRUE")      # = ALL
            )
            return (
                f"(CASE WHEN {stats}.c = 0 THEN {empty} "
                f"WHEN ({lhs}) IS NULL THEN {nb} "
                f"WHEN {hit} THEN {on_hit} "
                f"WHEN {stats}.cy < {stats}.c THEN {nb} "
                f"ELSE {tail} END)"
            )
        if any_:
            bound = {"<": "mx", "<=": "mx", ">": "mn", ">=": "mn"}[op]
            return (
                f"(CASE WHEN {stats}.c = 0 THEN FALSE "
                f"WHEN ({lhs}) IS NULL THEN {nb} "
                f"WHEN ({lhs}) {op} {stats}.{bound} THEN TRUE "
                f"WHEN {stats}.cy < {stats}.c THEN {nb} "
                f"ELSE FALSE END)"
            )
        fail_op = {"<": ">=", "<=": ">", ">": "<=", ">=": "<"}[op]
        bound = {"<": "mn", "<=": "mn", ">": "mx", ">=": "mx"}[op]
        return (
            f"(CASE WHEN {stats}.c = 0 THEN TRUE "
            f"WHEN ({lhs}) IS NULL THEN {nb} "
            f"WHEN ({lhs}) {fail_op} {stats}.{bound} THEN FALSE "
            f"WHEN {stats}.cy < {stats}.c THEN {nb} "
            f"ELSE TRUE END)"
        )

    # ANSI niladic session functions (SQL standard CURRENT_CATALOG /
    # CURRENT_SCHEMA — Trino spells them WITHOUT parens; Spark's parser
    # only accepts the function forms). The bare keywords substitute as
    # string literals reflecting the ENGINE's session state: after
    # `USE iceberg.yfinance` they read 'iceberg' / 'yfinance' (the
    # engine-recorded schema wins over Spark's catalog, which cannot
    # represent the dotted namespace); with no USE they fall back to
    # Spark's current catalog/database. The function spellings
    # current_catalog() / current_schema() stay Spark's own. ANSI makes
    # these reserved words, so a bare identifier collision is not legal
    # SQL to begin with; literals are masked as everywhere else.
    _NILADIC_RE = re.compile(
        r"\b(CURRENT_CATALOG|CURRENT_SCHEMA)\b(?!\s*\()", re.IGNORECASE
    )

    def _translate_session_niladics(self, text: str) -> str:
        if not re.search(
            r"current_(catalog|schema)", text, re.IGNORECASE
        ):
            return text
        cur = self._current_schema
        if cur and "." in cur:
            cat, sch = cur.split(".", 1)
        else:
            try:
                cat = self.spark.catalog.currentCatalog()
            except Exception:
                cat = "spark_catalog"
            sch = cur or self.spark.catalog.currentDatabase()

        def q(v: str) -> str:
            return "'" + v.replace("'", "''") + "'"

        vals = {"CURRENT_CATALOG": q(cat), "CURRENT_SCHEMA": q(sch)}
        return _sub_outside_literals(
            self._NILADIC_RE, lambda m: vals[m.group(1).upper()], text
        )

    # -- Trino scalar-function dialect (reference RUNBOOK.md:120-123:
    # the BI tools emit Trino SQL — these are the spellings their saved
    # queries and generated filters actually contain). Each rewrite is
    # EXACT: the Spark builtin has the same semantics (verified by the
    # differential matrix in tests/test_trino_dialect.py and the b59
    # oracle arm), or the translation refuses loudly. Matching runs on
    # the MASKED text — `strpos` inside a string literal is data.
    #
    #   approx_distinct(x[, e])      -> approx_count_distinct(x[, e])
    #                                   (both HLL; e is the max standard
    #                                   error in both engines)
    #   date_diff('unit', a, b)      -> timestampdiff(unit, a, b)
    #                                   (elapsed complete units, b - a.
    #                                   Clamped MONTH-END diffs are a
    #                                   documented cross-engine
    #                                   disagreement point — Spark's
    #                                   day-comparison rule says
    #                                   Jan31->Feb29 = 0 months, DuckDB's
    #                                   datesub says 1; the dialect layer
    #                                   inherits Spark's rule, pinned in
    #                                   tests, and the b59 oracle hashes
    #                                   only the unambiguous elapsed
    #                                   units)
    #   date_add('unit', n, ts)      -> timestampadd(unit, n, ts)
    #                                   (3-arg literal-unit form ONLY —
    #                                   Spark's own 2-arg date_add(d, n)
    #                                   is untouched)
    #   strpos(s, sub)               -> locate(sub, s)   (ARG ORDER SWAP;
    #                                   both 1-based, 0 = not found. The
    #                                   3-arg Trino instance form refuses:
    #                                   locate's 3rd arg is a START
    #                                   POSITION, not an instance count)
    #   format_datetime(ts, 'pat')   -> date_format(ts, 'pat') scoped to
    #                                   the Joda/Spark shared pattern
    #                                   subset (allowlist below); any
    #                                   other pattern letter refuses —
    #                                   Joda 'Y'/'w'/'x'/'e' silently
    #                                   mean different fields in Spark
    #   regexp_like(s, p)            -> no rewrite (Spark builtin since
    #                                   3.4, same RE semantics class;
    #                                   pinned in tests)
    #
    # Trino units shared by Spark's timestampdiff/timestampadd:
    _TRINO_TIME_UNITS = frozenset(
        ("millisecond", "second", "minute", "hour",
         "day", "week", "month", "quarter", "year")
    )
    # -- phase 2 (same round): the date-part/epoch/convenience family.
    # Simple-substitution names (argument list passes through verbatim;
    # the Spark expression template wraps it):
    #   day_of_week/dow   -> weekday(x)+1      (ISO Mon=1..Sun=7 — Spark's
    #                                           dayofweek is Sun=1, the trap)
    #   day_of_year/doy   -> dayofyear(x)
    #   day_of_month      -> day(x)
    #   week/week_of_year -> weekofyear(x)     (ISO week in both engines)
    #   year_of_week/yow  -> extract(YEAROFWEEK FROM x)
    #   to_unixtime       -> unix_micros(x)/1e6 (Trino returns DOUBLE
    #                                           epoch seconds)
    #   arbitrary         -> any_value(x)      (same any-row contract;
    #                                           nondeterministic, so
    #                                           pytest-pinned, never
    #                                           oracle-hashed)
    #   format            -> format_string(...) (both are Java Formatter)
    # NOT translated (documented):
    #   from_unixtime — the 1-arg spelling exists in BOTH dialects with
    #   CONFLICTING return types (Trino: timestamp; Spark: string);
    #   silently re-typing Spark-SQL users' results is worse than the
    #   gap, so the spelling keeps Spark semantics. Trino text can use
    #   timestamp_seconds(x) directly.
    _TRINO_SUBST = {
        "DAY_OF_WEEK": "(weekday({a}) + 1)",
        "DOW": "(weekday({a}) + 1)",
        "DAY_OF_YEAR": "dayofyear({a})",
        "DOY": "dayofyear({a})",
        "DAY_OF_MONTH": "day({a})",
        "WEEK": "weekofyear({a})",
        "WEEK_OF_YEAR": "weekofyear({a})",
        "YEAR_OF_WEEK": "extract(YEAROFWEEK FROM {a})",
        "YOW": "extract(YEAROFWEEK FROM {a})",
        "TO_UNIXTIME": "(CAST(unix_micros({a}) AS DOUBLE) / 1000000.0)",
        "ARBITRARY": "any_value({a})",
        "FORMAT": "format_string({a})",
        # round 14 — the lambda-predicate trio (Trino "Array
        # functions"): Spark spells them exists/forall, and BOTH
        # engines share the 3VL contract (NULL when no definite match
        # and some lambda result is NULL), so the rewrite is exact.
        # none_match parenthesizes so the NOT can never rebind in a
        # surrounding comparison.
        "ANY_MATCH": "exists({a})",
        "ALL_MATCH": "forall({a})",
        "NONE_MATCH": "(NOT exists({a}))",
        # json_parse/json_format pass through as the VARCHAR they wrap:
        # the engine's SQL/JSON machinery (json_value/json_query/
        # json_extract twins) operates on JSON TEXT directly, so
        # json_extract(json_parse(col), ...) composes exactly.
        # DOCUMENTED deviations (the b58 lax-mode class): no parse-time
        # validation (Trino's json_parse RAISES on malformed input;
        # here malformed text flows on and the extraction yields NULL)
        # and no canonicalization (json_format(json_parse(x)) returns x
        # verbatim, not Trino's compact re-rendering).
        "JSON_PARSE": "({a})",
        "JSON_FORMAT": "({a})",
    }
    # date_parse('s', '%-fmt') — Trino/MySQL %-directives shared (same
    # field meaning) with Spark's to_timestamp pattern letters. Any
    # directive outside the map refuses loudly; DuckDB's strptime shares
    # the %-format natively, so the oracle runs the original spellings.
    _MYSQL_FMT = {
        "%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd", "%H": "HH",
        "%h": "hh", "%i": "mm", "%s": "ss", "%T": "HH:mm:ss",
        "%p": "a", "%%": "%",
    }
    # Joda-time pattern letters whose meaning is IDENTICAL in Spark's
    # datetime pattern grammar (era, year, month, day, halfday hours,
    # day hours, clockhours, minute, second, fraction, am/pm, weekday
    # name, day-of-year, zone name). Everything else (Y weekyear, w/x
    # week fields, e numeric weekday, C century, Z offset spelling
    # differences, Q — Joda has no quarter) refuses.
    _JODA_SHARED = frozenset("GyMdHhKkmsSaEDz")
    _TRINO_FN_RE = re.compile(
        r"\b(APPROX_DISTINCT|DATE_DIFF|DATE_ADD|STRPOS|FORMAT_DATETIME"
        r"|DATE_PARSE|DAY_OF_WEEK|DOW|DAY_OF_YEAR|DOY|DAY_OF_MONTH"
        r"|WEEK_OF_YEAR|WEEK|YEAR_OF_WEEK|YOW|TO_UNIXTIME|ARBITRARY"
        r"|FORMAT|TRY|ANY_MATCH|ALL_MATCH|NONE_MATCH"
        r"|JSON_PARSE|JSON_FORMAT)"
        r"\s*\(",
        re.IGNORECASE,
    )

    def _mysql_to_spark_pattern(self, fmt: str) -> str:
        """Trino/MySQL %-directives → Spark datetime pattern letters,
        scoped to the shared-meaning map; literal letter runs (and any
        embedded quote) are pattern-quoted so they stay literals."""
        out, k = [], 0
        while k < len(fmt):
            if fmt[k] == "%":
                d = fmt[k: k + 2]
                m = self._MYSQL_FMT.get(d)
                if m is None:
                    raise ValueError(
                        f"date_parse: unsupported format directive {d!r} "
                        f"(supported: {sorted(self._MYSQL_FMT)})"
                    )
                out.append(m)
                k += 2
            else:
                j = k
                while j < len(fmt) and fmt[j] != "%":
                    j += 1
                lit = fmt[k:j]
                if any(c.isalpha() for c in lit) or "'" in lit:
                    out.append("'" + lit.replace("'", "''") + "'")
                else:
                    out.append(lit)
                k = j
        return "".join(out)

    _STR_LIT_RE = re.compile(r"^\s*'((?:[^']|'')*)'\s*$")

    # -- Trino's TRY(expr) (NULL instead of error; Trino 467 functions
    # doc "Conditional expressions"). Spark has no generic TRY — it has
    # the specific try_* builtins — so the translator accepts exactly
    # the bodies those cover and REFUSES the rest (the refusal lists
    # the supported forms; a blanket expr-swallow would silently change
    # which sub-expression is guarded):
    #   TRY(a / b)              -> try_divide(a, b)
    #   TRY(a + b)              -> try_add(a, b)
    #   TRY(a - b)              -> try_subtract(a, b)
    #   TRY(a * b)              -> try_multiply(a, b)
    #   TRY(CAST(x AS t))       -> try_cast(x AS t)
    #   TRY(element_at(m, k))   -> try_element_at(m, k)
    # The binary forms require exactly ONE depth-0 operator (unary
    # signs excluded) — `TRY(a + b * c)` refuses with the parenthesize
    # fix because try_add(a, b * c) would guard only the addition.
    # String→integral try_cast rejects unparseable rows by THROWING and
    # catching a per-row exception (SparkNumberFormatException with a
    # formatted message) — ~7 µs/row on this host, 1.08 s vs 0.17 s over
    # sf0.1 orders when every row fails (r15 probe; guide §1.2 per-task
    # work). The guard below pre-rejects those rows with one anchored
    # character-class regex (linear scan, no backtracking, no exception)
    # and keeps try_cast for plausible rows, so overflow still NULLs
    # through try_cast itself. Equivalence is a SUPERSET property —
    # whatever the regex rejects, try_cast must map to NULL — proven by
    # a 3,712-string structured matrix plus ~108k random fuzz strings
    # over {digits, signs, '.', ASCII/unicode spaces, control chars,
    # DEL, unicode digits, exponents}: 0 value mismatches for TINYINT/
    # SMALLINT/INT/BIGINT (tests/test_trino_dialect.py pins a compact
    # matrix). The accepted surface is trimAll semantics — Spark trims
    # \\x00-\\x20 and \\x7f on BOTH ends, then [+-]?digits — so the
    # class is exactly [\\x00-\\x20\\x7f]. NON-INTEGRAL targets keep
    # plain try_cast (floating/decimal/temporal accept grammars the
    # matrix does not cover). The typeof() dispatch makes the rewrite
    # TYPE-SAFE at SQL-text level: typeof is foldable (static type, not
    # data), so for a string input the optimizer folds the branch to
    # `CASE WHEN NOT rlike THEN NULL ELSE try_cast END` and for any
    # other input type the whole CASE folds to the bare try_cast —
    # verified in the optimized plan both ways.
    _TRY_INT_TARGETS = frozenset(
        {"TINYINT", "SMALLINT", "INT", "INTEGER", "BIGINT",
         "BYTE", "SHORT", "LONG"}
    )
    # SQL-literal spelling: doubled backslashes survive Spark's string
    # escape processing so the Java regex engine sees \x00 etc.
    _TRY_INT_PAT = (
        "^[\\\\x00-\\\\x20\\\\x7f]*[+-]?[0-9]+[\\\\x00-\\\\x20\\\\x7f]*$"
    )

    # Spark builtins that draw a new value on each evaluation. The guard
    # spells <expr> three times, so each spelling would draw its own
    # value (the regex would judge one row value and the cast another):
    # an expr calling one keeps plain try_cast, which evaluates it once.
    _NONDETERMINISTIC_CALL = re.compile(
        r"\b(?:rand|randn|random|randstr|uniform|uuid|shuffle|"
        r"monotonically_increasing_id|spark_partition_id|"
        r"input_file_name|input_file_block_(?:start|length))\s*\(",
        re.IGNORECASE,
    )

    def _try_cast_int_guard(self, body: str) -> str | None:
        """For CAST-body text `<expr> AS <integral type>`, return the
        exception-free guarded rewrite; None to keep plain try_cast."""
        masked = _masked(body)
        depths = _depths(masked)
        as_pos = max(  # the last depth-0 AS is CAST's own
            (m.start() for m in re.finditer(r"\bAS\b", masked, re.IGNORECASE)
             if depths[m.start()] == 0),
            default=-1,
        )
        if as_pos < 0:
            return None
        expr = body[:as_pos].strip()
        ty = body[as_pos + 2:].strip()
        if (
            not expr
            or ty.upper() not in self._TRY_INT_TARGETS
            or self._NONDETERMINISTIC_CALL.search(masked[:as_pos])
        ):
            return None
        return (
            f"CASE WHEN typeof({expr}) = 'string' AND NOT "
            f"(CAST({expr} AS STRING) RLIKE '{self._TRY_INT_PAT}') "
            f"THEN NULL ELSE try_cast({expr} AS {ty}) END"
        )

    def _translate_try(self, argtext: str, args: list[str]) -> str:
        if len(args) != 1 or not args[0].strip():
            raise ValueError("TRY takes exactly one expression")
        inner = args[0].strip()
        masked = _masked(inner)
        for head, target in (("CAST", "try_cast"),
                             ("ELEMENT_AT", "try_element_at")):
            hm = re.match(rf"^{head}\s*\(", masked, re.IGNORECASE)
            if hm:
                j = close_paren(masked, hm.end())
                if j is not None and not masked[j:].strip():
                    # the whole body IS the call — rewrap as try_*
                    body = inner[hm.end(): j - 1]
                    if head == "CAST":
                        guarded = self._try_cast_int_guard(body)
                        if guarded is not None:
                            return guarded
                    return f"{target}({body})"
        ops = []
        prev_sig = ""  # last non-space char seen (for unary detection)
        depths = _depths(masked)
        for k, ch in enumerate(masked):
            if depths[k] == 0 and ch in "+-*/":
                # a sign directly after nothing, an operator, a comma,
                # or an open paren is unary, not a binary operator
                if ch in "+-" and (prev_sig == "" or prev_sig in "+-*/(,"):
                    pass
                else:
                    ops.append((k, ch))
            if not ch.isspace():
                prev_sig = ch
        if len(ops) == 1:
            k, ch = ops[0]
            lhs, rhs = inner[:k].strip(), inner[k + 1:].strip()
            if lhs and rhs:
                target = {"/": "try_divide", "+": "try_add",
                          "-": "try_subtract", "*": "try_multiply"}[ch]
                return f"{target}({lhs}, {rhs})"
        if len(ops) > 1:
            raise ValueError(
                "TRY over a multi-operator expression is ambiguous "
                "(try_* guards ONE operation) — parenthesize the "
                "operation to guard, e.g. TRY(a / b) * c or "
                "a + TRY(b / c)"
            )
        shown = inner if len(inner) <= 60 else inner[:60] + "..."
        raise ValueError(
            f"TRY({shown}): unsupported body — Spark covers TRY over "
            f"a single +, -, *, / operation, CAST, or element_at "
            f"(try_add/try_subtract/try_multiply/try_divide/try_cast/"
            f"try_element_at); other bodies have no exact Spark "
            f"equivalent"
        )

    def _translate_trino_functions(self, text: str) -> str:
        if not re.search(
            r"approx_distinct|date_diff|date_add|strpos|format"
            r"|date_parse|day_of_|\bdow\b|\bdoy\b|week|\byow\b"
            r"|to_unixtime|arbitrary|\btry\s*\(|_match\s*\("
            r"|json_parse|json_format",
            text, re.IGNORECASE,
        ):
            return text
        return self._rewrite_sites(
            text, self._TRINO_FN_RE, self._trino_function_site
        )

    def _trino_function_site(self, text: str, masked: str, m) -> tuple | None:
        fname = m.group(1).upper()
        i = close_paren(masked, m.end())
        if i is None:
            return None  # unbalanced: the parser reports it
        argtext = text[m.end(): i - 1]
        args = split_top(argtext)

        def unit_of(a: str) -> str:
            lm = self._STR_LIT_RE.match(a)
            if lm is None:
                raise ValueError(
                    f"{fname.lower()}: the unit must be a string "
                    f"literal ('day', 'hour', ...), got {a.strip()!r}"
                )
            u = lm.group(1).lower()
            if u not in self._TRINO_TIME_UNITS:
                raise ValueError(
                    f"{fname.lower()}: unsupported unit {u!r} "
                    f"(supported: {sorted(self._TRINO_TIME_UNITS)})"
                )
            return u.upper()

        repl = None
        if fname in self._TRINO_SUBST:
            # plain replace, NOT str.format: the argument text is user
            # SQL and may contain literal braces (format('{x}', ...))
            repl = self._TRINO_SUBST[fname].replace("{a}", argtext)
        elif fname == "DATE_PARSE":
            if len(args) != 2:
                raise ValueError(
                    f"date_parse expects 2 arguments, got {len(args)}"
                )
            pm = self._STR_LIT_RE.match(args[1])
            if pm is None:
                raise ValueError(
                    "date_parse: the format must be a string literal"
                )
            # unescape the SQL literal, convert, re-escape for embedding
            spark_fmt = self._mysql_to_spark_pattern(
                pm.group(1).replace("''", "'")
            ).replace("'", "''")
            # documented delta: Spark's to_timestamp is NULL-on-
            # unparseable under the engine's non-ANSI session where
            # Trino raises; the value semantics on parseable input are
            # identical (DuckDB strptime oracles the original %-text)
            repl = f"to_timestamp({args[0]}, '{spark_fmt}')"
        elif fname == "TRY":
            repl = self._translate_try(argtext, args)
        elif fname == "APPROX_DISTINCT":
            repl = f"approx_count_distinct({argtext})"
        elif fname == "DATE_DIFF":
            if len(args) == 3 and self._STR_LIT_RE.match(args[0]):
                u = unit_of(args[0])
                repl = f"timestampdiff({u},{args[1]},{args[2]})"
            # non-literal-unit 3-arg form: not Trino's spelling — leave
            # it for Spark (which has no date_diff; parser reports it)
        elif fname == "DATE_ADD":
            # ONLY the Trino 3-arg ('unit', n, ts) form translates;
            # Spark's own date_add(start_date, num_days) passes through
            if len(args) == 3 and self._STR_LIT_RE.match(args[0]):
                u = unit_of(args[0])
                repl = f"timestampadd({u},{args[1]},{args[2]})"
        elif fname == "STRPOS":
            if len(args) == 3:
                raise ValueError(
                    "strpos(string, substring, instance): the 3-arg "
                    "instance form has no exact Spark builtin (locate's "
                    "3rd argument is a start position, not an instance "
                    "count) — rewrite with regexp or nested locate"
                )
            if len(args) != 2:
                raise ValueError(
                    f"strpos expects 2 arguments, got {len(args)}"
                )
            repl = f"locate({args[1].strip()}, {args[0].strip()})"
        elif fname == "FORMAT_DATETIME":
            if len(args) != 2:
                raise ValueError(
                    f"format_datetime expects 2 arguments, got {len(args)}"
                )
            pm = self._STR_LIT_RE.match(args[1])
            if pm is None:
                raise ValueError(
                    "format_datetime: the pattern must be a string literal"
                )
            # scan the PATTERN VALUE: undo SQL quote-doubling first so
            # 'yyyy''T''HH' walks as yyyy'T'HH (T is a quoted literal)
            pat, k = pm.group(1).replace("''", "'"), 0
            while k < len(pat):
                ch = pat[k]
                if ch == "'":  # Joda quoted literal — same quoting in Spark
                    k += 1
                    while k < len(pat) and pat[k] != "'":
                        k += 1
                    k += 1
                    continue
                if ch.isalpha() and ch not in self._JODA_SHARED:
                    raise ValueError(
                        f"format_datetime: pattern letter {ch!r} is not "
                        f"in the Joda/Spark shared subset "
                        f"({''.join(sorted(self._JODA_SHARED))}) — its "
                        f"meaning differs between the engines; refusing "
                        f"rather than silently reformatting"
                    )
                k += 1
            repl = f"date_format({args[0]}, {args[1].strip()})"
        if repl is None:
            # this call passes through untouched (e.g. Spark's own
            # 2-arg date_add) — but its ARGUMENTS may still contain
            # Trino spellings, so rescan from just after the name
            return m.end(), None
        return i, repl

    # -- AT TIME ZONE (ANSI <datetime factor>; Trino evaluates it by
    # coercing a zoneless timestamp with the SESSION zone, then
    # re-rendering the same instant in the target zone). Spark's parser
    # lacks the clause; the exact equivalent over Spark's session-zoned
    # TIMESTAMP is convert_timezone(current_timezone(), <zone>, ts) —
    # same instant, wall-clock rebased to <zone> (so DATE(ts AT TIME
    # ZONE 'America/New_York') buckets by New-York-local day, the
    # reference dashboards' semantics). The zone must be a string
    # literal; the operand grammar is the quantified-LHS class
    # (identifier chain / one-level call / parenthesized expression) —
    # a compound operand tail refuses loudly like the quantified guard.
    _AT_TZ_RE = re.compile(
        r"((?!(?:WHERE|AND|OR|NOT|WHEN|THEN|ELSE|ON|SELECT|HAVING|CASE|"
        r"BETWEEN|IN|EXISTS|LIKE|IS)\()"
        r"[A-Za-z_][\w.]*(?:\((?:[^()]|\([^()]*\))*\))?"
        r"|\((?:[^()]|\([^()]*\))*\))"
        r"(\s+AT\s+TIME\s+ZONE\b)",
        re.IGNORECASE,
    )

    def _translate_at_time_zone(self, text: str) -> str:
        if not re.search(r"\bTIME\s+ZONE\b", text, re.IGNORECASE):
            return text
        return self._rewrite_sites(text, self._AT_TZ_RE, self._at_tz_site)

    def _at_tz_site(self, text: str, masked: str, m) -> tuple:
        # the operand is the RAW span up to the AT keyword: a typed
        # literal (`timestamp'2020-01-01 00:00:00' AT TIME ZONE ...`)
        # is blanked in the masked view, so the identifier group alone
        # would silently drop the literal half of the operand
        km = re.compile(r"AT\s+TIME\s+ZONE\b", re.IGNORECASE).search(
            masked, m.start(2)
        )
        operand = text[m.start(1): km.start()].strip()
        # a bare structural keyword is never the operand — it is the
        # TAIL of an enclosing construct the operand regex cannot see
        # (`CASE ... END AT TIME ZONE 'z'` binds END); splicing it
        # would bury convert_timezone() inside the CASE body and fail
        # with a misleading parse error downstream
        if operand.upper() in (
            "END", "THEN", "ELSE", "WHEN", "CASE", "NULL", "ASC",
            "DESC", "AND", "OR", "NOT", "OVER", "ALL", "DISTINCT",
            "BETWEEN", "INTERVAL", "ROW", "ROWS",
        ):
            raise ValueError(
                f"AT TIME ZONE: the operand binds only {operand!r}, a "
                f"bare SQL keyword (the tail of an enclosing "
                f"expression) — parenthesize the full operand, e.g. "
                f"(CASE ... END) AT TIME ZONE 'zone'"
            )
        j = m.start(1) - 1
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j >= 0 and masked[j] in "+-*/%|&^":
            raise ValueError(
                f"AT TIME ZONE: the operand binds only {operand!r}, the "
                f"tail of a compound expression (preceding operator "
                f"{masked[j]!r}) — parenthesize the full operand"
            )
        # chained application guard: the rewrite's result is a
        # WALL-CLOCK (timestamp_ntz in the target zone), so a second
        # AT TIME ZONE would re-interpret that wall in the session zone
        # and land on the wrong instant — refuse rather than be
        # silently un-Trino (Trino's chain preserves the instant)
        if re.match(
            r"convert_timezone\s*\(\s*current_timezone\s*\(", operand,
            re.IGNORECASE,
        ):
            raise ValueError(
                "AT TIME ZONE: chained zone rebasing is not supported — "
                "the first application already yields the target-zone "
                "wall-clock; apply AT TIME ZONE once with the final zone"
            )
        # the zone: the next token must be a string literal (it is
        # BLANKED in the masked view, so locate it in the original text)
        zstart = m.end()
        while zstart < len(text) and text[zstart].isspace():
            zstart += 1
        zm = _LITERAL_RE.match(text, zstart)
        if zm is None or text[zstart] != "'":
            raise ValueError(
                "AT TIME ZONE: the zone must be a string literal "
                "('America/New_York', 'UTC', '+05:30', ...)"
            )
        repl = f"convert_timezone(current_timezone(), {zm[0]}, {operand})"
        return zm.end(), repl

    # ANSI row-limiting (SQL:2008 <fetch first clause>; Trino and
    # DBeaver-class BI tools emit it for paging): `OFFSET n ROWS` /
    # `FETCH FIRST|NEXT [n] ROWS ONLY` translate to Spark's
    # LIMIT/OFFSET spellings (Spark wants LIMIT before OFFSET, ANSI
    # puts OFFSET first — the combined form reorders). FETCH ... WITH
    # TIES refuses loudly (it needs a rank filter, not a limit).
    # Matching runs on the MASKED text; `n ROWS` is required on the
    # bare OFFSET form so Spark's own `OFFSET n` is never touched.
    _FETCH_RE = re.compile(
        r"(?:OFFSET\s+(\d+)\s+ROWS?\s+)?"
        r"FETCH\s+(?:FIRST|NEXT)\s+(?:(\d+)\s+)?ROWS?\s+"
        r"(ONLY|WITH\s+TIES)",
        re.IGNORECASE,
    )
    _OFFSET_ROWS_RE = re.compile(
        r"\bOFFSET\s+(\d+)\s+ROWS?\b", re.IGNORECASE
    )

    def _translate_fetch_offset(self, text: str) -> str:
        if not re.search(r"\b(FETCH|OFFSET)\b", text, re.IGNORECASE):
            return text

        def sub_fetch(m: "re.Match[str]") -> str:
            if m.group(3).upper() != "ONLY":
                raise ValueError(
                    "FETCH ... WITH TIES is not supported (a limit "
                    "cannot express it; use a rank() window filter)"
                )
            n = m.group(2) or "1"
            off = f" OFFSET {m.group(1)}" if m.group(1) else ""
            return f"LIMIT {n}{off}"

        text = _sub_outside_literals(self._FETCH_RE, sub_fetch, text)
        return _sub_outside_literals(
            self._OFFSET_ROWS_RE,
            lambda m: f"OFFSET {m.group(1)}",
            text,
        )

    # Window frame EXCLUDE (SQL:2011 <window frame exclusion>; Trino 467
    # supports EXCLUDE CURRENT ROW | GROUP | TIES | NO OTHERS — Spark's
    # parser rejects the clause). Translated to the exact subtraction
    # identities the b57 operator derives (operators/relational_more.py):
    # over a frame that provably CONTAINS the excluded set, the excluded
    # aggregate is frame_agg minus the excluded terms, with a count
    # guard restoring ANSI empty-set NULLs.
    #
    # Supported class (everything else refuses loudly — silently
    # approximating a frame would change results):
    #   - aggregates SUM / COUNT / COUNT(*) / AVG (min/max are not
    #     subtraction-decomposable);
    #   - an explicit ORDER BY in the window;
    #   - EXCLUDE GROUP|TIES: a RANGE frame (or the default frame) whose
    #     bounds reach the current row from both sides — the peer group
    #     is then always inside the frame;
    #   - EXCLUDE CURRENT ROW: any RANGE or ROWS frame reaching offset 0;
    #   - EXCLUDE NO OTHERS: the default — clause dropped verbatim.
    _WIN_EXCLUDE_RE = re.compile(
        r"\b(SUM|COUNT|AVG|MIN|MAX)\s*\(\s*(DISTINCT\s+)?"
        r"((?:[^()]|\([^()]*\))*)\)\s*OVER\s*\(",
        re.IGNORECASE,
    )
    _EXCLUDE_TAIL_RE = re.compile(
        r"^(.*?)\s*EXCLUDE\s+(CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _FRAME_RE = re.compile(
        r"\b(ROWS|RANGE|GROUPS)\s+(BETWEEN\s+.+|UNBOUNDED\s+PRECEDING"
        r"|CURRENT\s+ROW|\d+\s+PRECEDING)\s*$",
        re.IGNORECASE | re.DOTALL,
    )
    _BOUND_OK = re.compile(
        r"^\s*(UNBOUNDED\s+PRECEDING|\d+\s+PRECEDING|CURRENT\s+ROW"
        r"|\d+\s+FOLLOWING|UNBOUNDED\s+FOLLOWING)\s*$",
        re.IGNORECASE,
    )

    @classmethod
    def _exclude_rewrite(
        cls, func: str, expr: str, wbody: str, mode: str
    ) -> str:
        """The replacement text for ``func(expr) OVER (wbody EXCLUDE
        mode)`` — validation raises ValueError with the precise reason."""
        func, mode = func.lower(), re.sub(r"\s+", " ", mode.upper())
        if func in ("min", "max"):
            raise ValueError(
                f"EXCLUDE {mode}: {func}() is not subtraction-decomposable"
            )
        if not re.search(r"\bORDER\s+BY\b", wbody, re.IGNORECASE):
            raise ValueError(
                f"EXCLUDE {mode}: the window needs an explicit ORDER BY"
            )
        fm = cls._FRAME_RE.search(wbody)
        ppre = wbody[: fm.start()].rstrip() if fm else wbody.rstrip()
        frame = wbody[fm.start():].strip() if fm else None
        if frame is not None:
            kind = fm.group(1).upper()
            bm = re.match(
                r"^\w+\s+BETWEEN\s+(.+?)\s+AND\s+(.+)$", frame,
                re.IGNORECASE | re.DOTALL,
            )
            lo, hi = (
                (bm.group(1), bm.group(2)) if bm
                else (fm.group(2), "CURRENT ROW")
            )
            for b in (lo, hi):
                if not cls._BOUND_OK.match(b):
                    raise ValueError(
                        f"EXCLUDE {mode}: unsupported frame bound {b!r}"
                    )
            lo_ok = "PRECEDING" in lo.upper() or "CURRENT" in lo.upper()
            hi_ok = "FOLLOWING" in hi.upper() or "CURRENT" in hi.upper()
            if not (lo_ok and hi_ok):
                raise ValueError(
                    f"EXCLUDE {mode}: the frame must reach the current "
                    f"row from both sides (got {frame!r})"
                )
            if mode in ("GROUP", "TIES") and kind != "RANGE":
                raise ValueError(
                    f"EXCLUDE {mode}: only RANGE frames (where the peer "
                    f"group is provably inside the frame) are supported; "
                    f"got {kind}"
                )
        wf = wbody  # the full-frame window, EXCLUDE clause already gone
        wp = f"{ppre} RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
        star = expr.strip() == "*"
        e = expr.strip()
        if star and func == "sum":
            raise ValueError("sum(*) is not SQL")
        fcnt = (
            f"count(*) OVER ({wf})" if star else f"count({e}) OVER ({wf})"
        )
        pcnt = (
            f"count(*) OVER ({wp})" if star else f"count({e}) OVER ({wp})"
        )
        curn = "1" if star else f"(CASE WHEN ({e}) IS NULL THEN 0 ELSE 1 END)"
        if mode == "CURRENT ROW":
            cnt = f"({fcnt} - {curn})"
        elif mode == "GROUP":
            cnt = f"({fcnt} - {pcnt})"
        else:  # TIES
            cnt = f"({fcnt} - {pcnt} + {curn})"
        if func == "count":
            return cnt
        fsum = f"coalesce(sum({e}) OVER ({wf}), 0)"
        psum = f"coalesce(sum({e}) OVER ({wp}), 0)"
        cur = f"coalesce(({e}), 0)"
        if mode == "CURRENT ROW":
            s = f"{fsum} - {cur}"
        elif mode == "GROUP":
            s = f"{fsum} - {psum}"
        else:
            s = f"{fsum} - {psum} + {cur}"
        guarded = f"(CASE WHEN {cnt} = 0 THEN NULL ELSE {s} END)"
        if func == "sum":
            return guarded
        return f"(CASE WHEN {cnt} = 0 THEN NULL ELSE ({s}) / {cnt} END)"

    def _translate_window_exclude(self, text: str) -> str:
        return self._rewrite_sites(
            text, self._WIN_EXCLUDE_RE, self._window_exclude_site
        )

    def _window_exclude_site(self, text: str, masked: str, m) -> tuple | None:
        i = close_paren(masked, m.end())
        if i is None:
            return None  # unbalanced: the parser reports it
        body, body_m = text[m.end(): i - 1], masked[m.end(): i - 1]
        em = self._EXCLUDE_TAIL_RE.match(body_m)
        if em is None:
            return i, None
        mode = re.sub(r"\s+", " ", em.group(2).upper())
        wbody = body[: em.end(1)].strip()
        if mode == "NO OTHERS":  # the default, spelled out
            repl = f"{text[m.start(): m.end()]}{wbody})"
        else:
            if m.group(2):  # DISTINCT
                raise ValueError(
                    f"EXCLUDE {mode}: DISTINCT window aggregates are not "
                    f"supported"
                )
            repl = self._exclude_rewrite(
                m.group(1), text[m.start(3): m.end(3)], wbody, mode
            )
        return i, repl

    # SQL/JSON standard functions (SQL:2016 §6.27; Trino 467 ships
    # json_value / json_query / json_exists) mapped onto Spark's JSON
    # machinery (get_json_object). Supported class and documented
    # deviations:
    #   json_value(j, 'path' [RETURNING type]) → get_json_object (+CAST);
    #     the default NULL ON EMPTY / NULL ON ERROR behavior is exactly
    #     get_json_object's missing-path→NULL.
    #   json_query(j, 'path')  → get_json_object; exact for object/array
    #     targets (both engines emit compact JSON); a SCALAR target
    #     returns the scalar text where strict SQL:2016 WITHOUT ARRAY
    #     WRAPPER says empty→NULL (documented delta).
    #   json_exists(j, 'path') → get_json_object(...) IS NOT NULL; a
    #     JSON null at the path reads as not-existing (delta: the
    #     standard's lax mode says TRUE).
    # The leading lax/strict mode keyword inside the path literal is
    # stripped (get_json_object is lax-like). ON EMPTY / ON ERROR /
    # WRAPPER clauses are refused loudly — silently approximating them
    # would change results.
    _SQL_JSON_RE = re.compile(
        r"\b(JSON_VALUE|JSON_QUERY|JSON_EXISTS)\s*\(", re.IGNORECASE
    )
    _JSON_PATH_RE = re.compile(
        r"^\s*'\s*(?:lax\s+|strict\s+)?(.*?)\s*'\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _translate_sql_json(self, text: str) -> str:
        return self._rewrite_sites(
            text, self._SQL_JSON_RE, self._sql_json_site
        )

    def _sql_json_site(self, text: str, masked: str, m) -> tuple | None:
        fname = m.group(1).upper()
        i = close_paren(masked, m.end())
        if i is None:
            return None  # unbalanced: the parser reports it
        args = self._split_using_args(text[m.end(): i - 1])
        if len(args) < 2:
            raise ValueError(f"{fname}: needs (json_expr, 'path')")
        jexpr = args[0].strip()
        path_arg, ret_type = args[1].strip(), None
        rm_ = re.match(
            r"^(.*?)\s+RETURNING\s+([A-Za-z_][\w()\s,]*)$",
            path_arg, re.IGNORECASE | re.DOTALL,
        )
        if rm_ and fname == "JSON_VALUE":
            path_arg, ret_type = rm_.group(1).strip(), rm_.group(2).strip()
        if len(args) > 2 or re.search(
            r"\b(ON\s+(EMPTY|ERROR)|WRAPPER)\b", path_arg, re.IGNORECASE
        ):
            raise ValueError(
                f"{fname}: ON EMPTY / ON ERROR / WRAPPER clauses are not "
                f"supported (the default NULL-on-missing behavior is; "
                f"see Engine SQL/JSON notes)"
            )
        pm = self._JSON_PATH_RE.match(path_arg)
        if pm is None:
            raise ValueError(
                f"{fname}: the path must be a string literal "
                f"('lax $.a.b' / '$.a.b'), got {path_arg!r}"
            )
        path = pm.group(1)  # kept in source form: '' escapes re-embed as-is
        base = f"get_json_object({jexpr}, '{path}')"
        if fname == "JSON_EXISTS":
            repl = f"({base} IS NOT NULL)"
        elif ret_type:
            repl = f"CAST({base} AS {ret_type})"
        else:
            repl = base
        return i, repl

    def _translate_quantified(self, text: str) -> str:
        return self._rewrite_sites(
            text, self._QUANT_RE, self._quantified_site
        )

    def _quantified_site(self, text: str, masked: str, m) -> tuple | None:
        i = close_paren(masked, m.end())
        if i is None:
            return None  # unbalanced: the parser reports it
        sub = text[m.end(): i - 1]
        if not self._QUERY_HEAD_RE.match(masked[m.end(): i - 1]):
            # an any()/some() boolean-aggregate call, not a subquery —
            # keep scanning to the right of this site
            return i, None
        lhs = text[m.start(1): m.end(1)].strip()
        # compound-LHS guard: if the char before the matched LHS is an
        # expression-continuation token, the regex bound only the TAIL of
        # a larger expression (`a || b = ANY (...)` matched `b`) and a
        # splice would rewrite INSIDE the arithmetic/concat — for `||`
        # Spark's implicit casts would even make it silently wrong.
        # Refuse loudly (mirror of the clause-keyword lookahead guard);
        # the fix on the user side is to parenthesize the full LHS.
        j = m.start(1) - 1
        while j >= 0 and masked[j].isspace():
            j -= 1
        if j >= 0 and masked[j] in "+-*/%|&^":
            raise ValueError(
                f"quantified comparison: the left-hand side binds only "
                f"{lhs!r}, the tail of a compound expression (preceding "
                f"operator {masked[j]!r}) — parenthesize the full "
                f"left-hand side, e.g. (a || b) = ANY (...)"
            )
        repl = self._quantified_case(lhs, m.group(2), m.group(3), sub)
        # the replacement embeds the subquery text, whose own quantified
        # comparisons (if any) match on the rescan from the splice
        return i, repl

    @staticmethod
    def _rewrite_sites(text: str, pattern, site, done=None) -> str:
        """Rewrite the call sites ``pattern`` finds in the masked text,
        left to right, in one loop. ``site(text, masked, m)`` returns
        None to stop (unbalanced parens: the parser reports them),
        ``(end, None)`` to keep the site and search on from ``end``, or
        ``(end, repl)`` to splice ``repl`` over ``text[m.start():end]``
        and search on from the splice start, so the replacement is
        scanned again. The site's start and ``end`` lie outside
        literals, so the masked copy is spliced alongside the text and
        only ``repl`` is masked. ``done(masked)`` runs once the search
        finds no more sites."""
        masked, pos = _masked(text), 0
        while (m := pattern.search(masked, pos)) is not None:
            step = site(text, masked, m)
            if step is None:
                return text
            end, repl = step
            if repl is None:
                pos = end
                continue
            pos = m.start()
            text = text[:pos] + repl + text[end:]
            masked = masked[:pos] + _masked(repl) + masked[end:]
        if done is not None:
            done(masked)
        return text

    def _translate_chain(self, text: str) -> str:
        """The full literal-safe dialect chain, in dependency order.

        Used by BOTH ``sql()`` and ``_plan_view_body`` so a statement
        that plans at the top level also plans when saved as a view —
        the two paths must never diverge (a body using TABLESAMPLE or a
        bare CURRENT_SCHEMA previously planned only at the top level).
        """
        self._refuse_inline_sql_routine(text)
        text = self._translate_tablesample(text)
        # UNNEST runs BEFORE the function/operator passes: its rewrite
        # splices the argument expression verbatim into a LATERAL
        # subquery, and any Trino spellings inside that expression are
        # then translated by the later passes over the whole text
        text = self._translate_unnest(text)
        text = self._translate_quantified(text)
        text = self._translate_sql_json(text)
        text = self._translate_window_exclude(text)
        text = self._translate_fetch_offset(text)
        text = self._translate_session_niladics(text)
        text = self._translate_trino_functions(text)
        text = self._translate_at_time_zone(text)
        return text

    # -- Trino FROM-clause UNNEST (Trino docs "7.20 SELECT — UNNEST";
    # the reference's events.props JSON shapes are what BI users unnest,
    # reference RUNBOOK.md:120-123). Spark's parser has no UNNEST; the
    # exact equivalent is a LATERAL subquery over the explode /
    # posexplode / inline table functions (correlation in table-function
    # arguments is native Spark SQL since 3.4):
    #
    #   CROSS JOIN UNNEST(a) AS t(v)
    #     -> CROSS JOIN LATERAL (SELECT * FROM explode(a)) AS t(v)
    #   CROSS JOIN UNNEST(a) WITH ORDINALITY AS t(v, i)
    #     -> ... (SELECT col, CAST(pos + 1 AS BIGINT) FROM
    #             posexplode(a)) AS t(v, i)     -- ordinality is 1-based
    #                                           -- BIGINT, LAST (Trino)
    #   CROSS JOIN UNNEST(m) AS t(k, v)          -- MAP expansion
    #     -> ... (SELECT * FROM explode(m)) AS t(k, v)
    #   CROSS JOIN UNNEST(rs) AS t(f1, f2, f3)   -- array<row> expansion
    #     -> ... (SELECT * FROM inline(rs)) AS t(f1, f2, f3)
    #   LEFT JOIN UNNEST(a) AS t(v) ON TRUE      -- keep empty/NULL rows
    #     -> LEFT OUTER JOIN LATERAL (...) AS t(v) ON true
    #   FROM x, UNNEST(a) AS t(v)                -- comma join form
    #     -> FROM x, LATERAL (...) AS t(v)
    #
    # Trino types the expansion from the ARGUMENT type; a text-level
    # rewrite cannot, so the column-alias COUNT picks the table
    # function: 1 column = array, 2 columns (no ordinality) = map,
    # >= 3 columns (no ordinality) = array-of-rows via inline. An
    # array-of-rows unnested through the 2-column map shape fails
    # Spark's analysis with ASSIGNMENT_ARITY_MISMATCH (count mismatch),
    # never a silently wrong result. Forms with no exact Spark
    # equivalent refuse loudly: multi-argument (zipping) UNNEST, a
    # missing alias column list, ordinality over array-of-rows, and
    # LEFT JOIN conditions other than ON TRUE.
    _UNNEST_RE = re.compile(
        r"(\bCROSS\s+JOIN|\bLEFT\s+(?:OUTER\s+)?JOIN|,)\s*"
        r"UNNEST\s*\(",
        re.IGNORECASE,
    )
    _UNNEST_TAIL_RE = re.compile(
        r"\s*(WITH\s+ORDINALITY\b)?\s*(?:AS\s+)?([A-Za-z_]\w*)\s*\(",
        re.IGNORECASE,
    )
    _UNNEST_ON_TRUE_RE = re.compile(r"\s*ON\s+TRUE\b", re.IGNORECASE)

    def _translate_unnest(self, text: str) -> str:
        if not re.search(r"\bUNNEST\b", text, re.IGNORECASE):
            return text

        def refuse_stray(masked: str) -> None:
            # any UNNEST( left outside the handled join forms would hit
            # Spark's parser with an unhelpful error — refuse with the
            # supported grammar instead (a masked scan: UNNEST inside a
            # string literal is data, not grammar)
            if re.search(r"\bUNNEST\s*\(", masked, re.IGNORECASE):
                raise ValueError(
                    "UNNEST is supported as CROSS JOIN UNNEST(expr) "
                    "[WITH ORDINALITY] AS t(col, ...), the comma-join "
                    "form, or LEFT JOIN UNNEST(...) AS t(...) ON TRUE "
                    "— other placements have no Spark equivalent"
                )

        return self._rewrite_sites(
            text, self._UNNEST_RE, self._unnest_site, refuse_stray
        )

    def _unnest_site(self, text: str, masked: str, m) -> tuple | None:
        join_kw = m.group(1)
        is_left = join_kw.upper().lstrip().startswith("LEFT")
        i = close_paren(masked, m.end())
        if i is None:  # unbalanced: leave the text for the parser to flag
            return None
        exprs = [e.strip() for e in split_top(text[m.end(): i - 1])]
        if len(exprs) > 1:
            raise ValueError(
                f"UNNEST with {len(exprs)} arguments zips the arrays "
                f"positionally (Trino) — Spark has no FROM-clause "
                f"equivalent. Unnest one array per clause, or zip "
                f"Spark-side first: CROSS JOIN UNNEST(arrays_zip(a, b)) "
                f"AS t(fa, fb) expands the zipped struct fields"
            )
        expr = exprs[0]
        if not expr:
            raise ValueError("UNNEST: empty argument list")
        tm = self._UNNEST_TAIL_RE.match(masked, i)
        if tm is None:
            raise ValueError(
                "UNNEST requires an alias with an explicit column "
                "list — UNNEST(expr) [WITH ORDINALITY] AS t(col, ...) "
                "(the expansion's column names come from the alias; "
                "Spark's explode defaults are not Trino's)"
            )
        ordinality = tm.group(1) is not None
        alias = tm.group(2)
        j = close_paren(masked, tm.end())
        if j is None:
            return None
        cols_text = masked[tm.end(): j - 1]
        cols = [c.strip() for c in cols_text.split(",")]
        if not all(re.fullmatch(r"[A-Za-z_]\w*", c) for c in cols):
            raise ValueError(
                f"UNNEST AS {alias}(...): column aliases must be "
                f"simple identifiers, got {cols_text.strip()!r}"
            )
        end = j
        if is_left:
            om = self._UNNEST_ON_TRUE_RE.match(masked, end)
            if om is None:
                raise ValueError(
                    "LEFT JOIN UNNEST supports only the ON TRUE join "
                    "condition (Trino's preserve-empty expansion); a "
                    "filtering condition belongs in WHERE"
                )
            end = om.end()
        n = len(cols)
        ord_last = "CAST(pos + 1 AS BIGINT)"  # Trino: 1-based BIGINT
        if not ordinality and n <= 2:
            # n=1: array element; n=2: map (key, value). An
            # array-of-rows through this shape fails analysis with an
            # explicit arity mismatch — see the block comment above.
            inner = f"SELECT * FROM explode({expr})"
        elif not ordinality:
            inner = f"SELECT * FROM inline({expr})"
        elif ordinality and n == 2:
            inner = f"SELECT col, {ord_last} FROM posexplode({expr})"
        elif ordinality and n == 3:
            inner = (
                f"SELECT key, value, {ord_last} FROM posexplode({expr})"
            )
        else:
            raise ValueError(
                f"UNNEST WITH ORDINALITY AS {alias}({cols_text.strip()})"
                f": expected 2 aliases (array element, ordinality) or 3 "
                f"(map key, value, ordinality) — array-of-rows with "
                f"ordinality has no Spark table function; select "
                f"struct fields from a 2-alias form instead"
            )
        lateral = f"LATERAL ({inner}) AS {alias}({', '.join(cols)})"
        if join_kw == ",":
            repl = f", {lateral}"
        elif is_left:
            repl = f"LEFT OUTER JOIN {lateral} ON true"
        else:
            repl = f"CROSS JOIN {lateral}"
        # the replacement contains no UNNEST token, so the rescan from
        # the splice can only advance
        return end, repl

    # -- Trino inline SQL routines (`WITH FUNCTION name(...) RETURNS
    # ... SELECT ...`, Trino 458+): a DOCUMENTED NON-GOAL, same class
    # as general MATCH_RECOGNIZE patterns — Spark has no statement-
    # scoped SQL function and a text-level lambda inliner would be a
    # second expression engine. The guard distinguishes the routine
    # form from a CTE legitimately NAMED "function" (`WITH function AS
    # (...)` / `WITH function(a, b) AS (...)`) by the RETURNS keyword
    # after the parameter list.
    _WITH_FUNCTION_RE = re.compile(
        r"^\s*WITH\s+FUNCTION\s+[A-Za-z_][\w.]*\s*\(", re.IGNORECASE
    )

    def _refuse_inline_sql_routine(self, text: str) -> None:
        masked = _masked(text)
        m = self._WITH_FUNCTION_RE.match(masked)
        if m is None:
            return
        i = close_paren(masked, m.end())
        if i is not None and re.match(
            r"\s*RETURNS\b", masked[i:], re.IGNORECASE
        ):
            raise ValueError(
                "inline SQL routines (WITH FUNCTION ... RETURNS ...) "
                "are not supported — define the expression inline or "
                "register a view; this is a documented non-goal "
                "(COVERAGE.md)"
            )

    def _translate_tablesample(self, text: str) -> str:
        masked = _masked(text)
        out, pos = [], 0
        for m in self._TABLESAMPLE_RE.finditer(masked):
            i = close_paren(masked, m.end())
            if i is None:  # unbalanced: leave the text for the parser to flag
                continue
            arg = text[m.end(): i - 1].strip()
            out.append(text[pos: m.start()])
            out.append(f"TABLESAMPLE ({arg} PERCENT)")
            pos = i
        if not out:
            return text
        out.append(text[pos:])
        return "".join(out)

    def _handle_view_statement(self, text: str) -> DataFrame | None:
        cs_m = self._CREATE_SCHEMA_NS_RE.match(text)
        if cs_m:
            name = cs_m.group(2)
            if name in self._ns_schemas and not cs_m.group(1):
                raise ValueError(f"schema '{name}' already exists")
            self._ns_schemas.add(name)
            return local_frame(self.spark, [], "result string")
        ds_m = self._DROP_SCHEMA_NS_RE.match(text)
        if ds_m:
            name = ds_m.group(2)
            if any(
                t.startswith(name + ".") for t in self._snapshot_tables
            ):
                raise ValueError(f"schema '{name}' is not empty")
            if name not in self._ns_schemas and not ds_m.group(1):
                raise ValueError(f"schema '{name}' does not exist")
            self._ns_schemas.discard(name)
            return local_frame(self.spark, [], "result string")
        if self._SHOW_CATALOGS_RE.match(text):
            # Trino's SHOW CATALOGS (the FIRST statement CloudBeaver
            # issues on connect): catalog names from the same federated
            # universe information_schema.schemata serves, in Trino's
            # single-column shape
            from oss_data_lake_spark.sources.info_schema import _universe

            entries, extra = _universe(self)
            cats = sorted(
                {c for c, *_ in entries} | {c for c, _s in extra}
            )
            return local_frame(
                self.spark, [(c,) for c in cats], "Catalog string"
            )
        sf_m = self._SHOW_FUNCTIONS_RE.match(text)
        if sf_m:
            rows = [
                (f, t, d) for f, t, d in self._DIALECT_FUNCTIONS
            ]
            try:
                rows += [
                    (fn.name.lower(), "spark builtin", "")
                    for fn in self.spark.catalog.listFunctions()
                ]
            except Exception:
                pass
            pat = sf_m.group(1)
            if pat is not None:
                # SQL LIKE over the function name (Trino's LIKE filter)
                rx = re.compile(
                    "^"
                    + re.escape(pat.replace("''", "'"))
                    .replace("%", ".*").replace("_", ".")
                    + "$",
                    re.IGNORECASE,
                )
                rows = [r for r in rows if rx.match(r[0])]
            rows.sort(key=lambda r: (r[0], r[1]))
            schema = (
                "function string, function_type string, "
                "description string"
            )
            return local_frame(self.spark, rows, schema)
        sc_m = self._SHOW_SCHEMAS_CAT_RE.match(text)
        if sc_m:
            cat = sc_m.group(1)
            try:
                if self.spark.catalog.databaseExists(cat):
                    return None  # Spark resolves its own namespaces
            except Exception:
                pass
            pref = cat + "."
            schemas = {
                n[len(pref):].split(".", 1)[0]
                for n in self._snapshot_tables
                if n.startswith(pref) and "." in n[len(pref):]
            } | {
                s[len(pref):].split(".", 1)[0]
                for s in self._ns_schemas
                if s.startswith(pref)
            }
            if schemas:
                return local_frame(
                    self.spark,
                    [(s,) for s in sorted(schemas)],
                    "Schema string",
                )
            return None
        ns_m = self._SHOW_TABLES_NS_RE.match(text)
        if ns_m:
            ns = ns_m.group(1)
            try:
                if self.spark.catalog.databaseExists(ns):
                    return None  # a real Spark database: Spark answers
            except Exception:
                pass
            pref = ns + "."
            names = sorted(
                n[len(pref):]
                for n in self._snapshot_tables
                if n.startswith(pref)
            )
            if names:
                return local_frame(
                    self.spark, [(n,) for n in names], "Table string"
                )
            return None  # unknown either way: Spark raises its error
        if self._SHOW_SNAPSHOT_TABLES_RE.match(text):
            # the engine-registry counterpart of SHOW TABLES: every
            # registered snapshot table with its root and head version
            rows = sorted(
                (n, t.path, t.current_version())
                for n, t in self._snapshot_tables.items()
            )
            schema = "table string, location string, version long"
            return local_frame(self.spark, rows, schema)
        if self._RECOVER_TXNS_RE.match(text):
            return local_frame(
                self.spark,
                [(g,) for g in self.recover_transactions()],
                "txn string",
            )
        vc = self._views()
        m = self._CREATE_VIEW_RE.match(text)
        if m:
            or_replace, if_not_exists, name, body = m.groups()
            if or_replace and if_not_exists:
                raise ValueError(
                    "CREATE OR REPLACE and IF NOT EXISTS are exclusive"
                )
            if name in self._snapshot_tables:
                raise ValueError(
                    f"a snapshot table named '{name}' exists; a view "
                    f"cannot shadow it"
                )
            # validate NOW (Trino does): the body must plan over the
            # current catalog — nested views expand first, a
            # self-reference under OR REPLACE is a cycle at read time
            # so it is refused here while the old definition still
            # exists
            if not (if_not_exists and vc.get(name) is not None):
                expanded = self._expand_views(body, _stack=(name,))
                try:
                    self._plan_view_body(name, body)
                finally:
                    for v in expanded:
                        self.spark.catalog.dropTempView(v)
            vc.create(
                name,
                body,
                or_replace=bool(or_replace),
                if_not_exists=bool(if_not_exists),
            )
            return local_frame(self.spark, [(name,)], "view string")
        m = self._DROP_VIEW_RE.match(text)
        if m:
            if_exists, name = m.groups()
            dropped = vc.drop(name, if_exists=bool(if_exists))
            return local_frame(
                self.spark, [(name, dropped)], "view string, dropped boolean"
            )
        if self._SHOW_VIEWS_RE.match(text):
            return local_frame(
                self.spark,
                [(n, vc.get(n)) for n in vc.names()],
                "view string, definition string",
            )
        m = self._SHOW_CREATE_VIEW_RE.match(text)
        if m:
            name = m.group(1)
            body = vc.get(name)
            if body is None:
                raise ValueError(f"view '{name}' does not exist")
            return local_frame(
                self.spark, [(f"CREATE VIEW {name} AS {body}",)], "stmt string"
            )
        return None

    def _plan_view_body(self, name: str, body: str) -> "DataFrame":
        """Plan (not execute) a view body over the current catalog;
        failures name the VIEW — the user's saved query — not just the
        missing column (Trino's reference-time validation)."""
        from oss_data_lake_spark.sources.snapshots import (
            sql_with_time_travel,
        )

        from oss_data_lake_spark.sources.info_schema import (
            expand_information_schema,
        )

        is_views: list[str] = []
        try:
            # the SAME dialect chain as sql() — a body that used
            # TABLESAMPLE or bare CURRENT_SCHEMA must plan here too
            body = self._translate_chain(body)
            body, is_views = expand_information_schema(self, body)
            df = sql_with_time_travel(self.spark, body, self._snapshot_tables)
            df.schema  # bind before the metadata views drop
            return df
        except Exception as e:
            raise ValueError(
                f"view '{name}' does not plan over the current base "
                f"tables (dropped column or table?): {e}"
            ) from e
        finally:
            for v in is_views:
                self.spark.catalog.dropTempView(v)

    def _expand_views(self, text: str, _stack: tuple = ()) -> list[str]:
        """Session temp views for every persistent view ``text``
        references (transitively — nested views expand depth-first);
        returns the created names for the caller's cleanup. A name
        already bound to a temp view is skipped: statement-local
        expansion is idempotent, and a USER temp view deliberately
        shadows the persistent one (session scope wins, the standard
        resolution order)."""
        vc = self._views()
        names = vc.names()
        if not names:
            return []
        from oss_data_lake_spark.sources.snapshots import temp_view_exists
        from oss_data_lake_spark.sources.views import referenced_views

        created: list[str] = []
        for name in referenced_views(text, names):
            if name in _stack:
                raise ValueError(
                    f"view cycle detected: {' -> '.join(_stack + (name,))}"
                )
            if temp_view_exists(self.spark, name):
                continue
            body = vc.get(name)
            created.extend(self._expand_views(body, _stack + (name,)))
            self._plan_view_body(name, body).createOrReplaceTempView(name)
            created.append(name)
        return created

    def sql_script(self, script: str) -> DataFrame | None:
        """Run a multi-statement SQL script (statements split on
        depth-0 semicolons outside literals) through the full statement
        surface; returns the LAST statement's result — the
        runbook/notebook pattern of DDL + DML + a final SELECT in one
        string."""
        from oss_data_lake_spark.sources.dml_sql import split_statements

        last: DataFrame | None = None
        for stmt in split_statements(script):
            last = self.sql(stmt)
        return last

    def register_snapshot_table(self, name: str, path: str):
        """Expose the SnapshotTable at ``path`` to ``sql`` under ``name``
        (plain references read the current snapshot; AS-OF clauses time
        travel). Existing BRANCHES register alongside under
        ``<name>_branch_<branch>`` — a fresh engine sees the same branch
        namespace the creating engine did. Returns the table handle."""
        from oss_data_lake_spark.sources.dml_sql import branch_sql_name
        from oss_data_lake_spark.sources.snapshots import SnapshotTable

        t = SnapshotTable(self.spark, path)
        self._snapshot_tables[name] = t

        def _register_branches(base_name, base_table):
            for bname, bt in base_table._branch_tables():
                reg = branch_sql_name(base_name, bname)
                self._snapshot_tables.setdefault(reg, bt)
                _register_branches(reg, bt)  # branches of branches

        _register_branches(name, t)
        return t

    def snapshot_table_path(self, name: str) -> str:
        """The managed location for snapshot table ``name``: under the
        engine's warehouse dir (falling back to the session's
        ``spark.sql.warehouse.dir``) in a ``_snapshot_tables/`` namespace
        — the path policy `CREATE TABLE ... USING snapshot` uses."""
        import os

        root = self._warehouse_dir
        if root is None:
            root = self.spark.conf.get("spark.sql.warehouse.dir")
            if root.startswith("file:"):
                root = root[len("file:"):]
        return os.path.join(root, "_snapshot_tables", name)

    def drop_snapshot_table(self, name: str, delete_data: bool = True):
        """Unregister (and by default delete) a managed snapshot table —
        `DROP TABLE` semantics for the snapshot layer. Registered
        branches of the table (their roots live under it) unregister
        with it."""
        import os
        import shutil

        t = self._snapshot_tables.pop(name)
        prefix = t.path + os.sep
        for reg in [
            n
            for n, other in self._snapshot_tables.items()
            if other.path.startswith(prefix)
        ]:
            self._snapshot_tables.pop(reg)
        if delete_data:
            # a catalog-managed metadata tail (REST) must go WITH the
            # data — stale service metadata would make a recreated name
            # append onto references to deleted files
            drop = getattr(t.protocol, "drop_table", None)
            if callable(drop):
                drop()
            shutil.rmtree(t.path, ignore_errors=True)

    def snapshot_view(
        self, view_name: str, table_name: str, version: int | None = None
    ) -> str:
        """Named-view time travel for JDBC/BI clients (serving.py shares
        this session): pin ``view_name`` to ``table_name`` at ``version``."""
        from oss_data_lake_spark.sources.snapshots import snapshot_view

        return snapshot_view(
            self.spark, view_name, self._snapshot_tables[table_name], version
        )

    def explain(self, text_or_df: str | DataFrame, mode: str = "formatted") -> str:
        df = self.sql(text_or_df) if isinstance(text_or_df, str) else text_or_df
        return explain_str(df, mode)

    def table(self, name: str) -> DataFrame:
        return self.spark.table(name)

    # -- catalog ----------------------------------------------------------
    def warehouse(self, db: str) -> Warehouse:
        return Warehouse(self.spark, db, location=self._warehouse_dir)

    def register_fixtures(self, sf_dir: str) -> dict[str, DataFrame]:
        return register_views(self.spark, sf_dir)

    # -- scans / sinks ----------------------------------------------------
    def read(self, path: str, format: str = "parquet", **options) -> DataFrame:
        return self.spark.read.format(format).options(**options).load(path)

    def write(
        self,
        df: DataFrame,
        path: str,
        format: str = "parquet",
        mode: str = "append",
        partition_by: list[str] | None = None,
    ) -> None:
        writer = df.write.format(format).mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)

    # -- §3.1: ingestion --------------------------------------------------
    def ingest_ohlcv(
        self, source_df: DataFrame, out_path: str, ingest_date: str | None = None
    ) -> dict[str, int]:
        from oss_data_lake_spark.sources.ingest import ingest

        return ingest(self.spark, source_df, out_path, ingest_date=ingest_date)
