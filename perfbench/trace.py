"""The traced run: span wrappers around each layer's public entry points,
per-op Spark numbers from the JVM status store, and the per-layer metrics
computed from both.

Wrappers are installed only while a traced block runs and removed after
it, so untraced blocks run the unmodified program. Spans live in memory
and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import time

from perfbench import stats

DML_KINDS = ("insert", "merge", "delete", "update", "optimize", "expire", "vacuum")
OPERATOR_FAMILIES = ("dedup", "similarity", "text", "pipeline", "tokenizer", "relational")
SNAPSHOT_WRITES = (
    "commit", "commit_clustered", "merge_rows", "merge_rows_mor", "delete_where",
    "delete_where_mor", "update_where", "update_where_mor", "compact",
    "compact_where", "expire_snapshots", "vacuum",
)
SNAPSHOT_READS = (
    "read", "read_pruned", "read_between", "read_eq", "plan_pruned",
    "plan_range_scan", "plan_eq_scan",
)
PLAN_METHODS = ("plan_pruned", "plan_range_scan", "plan_eq_scan")
CATALOG_METHODS = ("commit", "read_manifest", "list_versions")
SPARK_METRICS = (
    "jobs_per_op", "stages_per_op", "tasks_per_op", "shuffle_bytes_per_op",
    "input_rows_per_result_row", "executor_cpu_ms", "gc_ms", "spill_bytes",
    "driver_gap_ms",
)


def per_layer_names() -> list[str]:
    names = ["engine.sql.calls", "engine.sql.self_ms", "engine.sql.return_ms"]
    for k in DML_KINDS:
        names += [f"dml_sql.{k}.calls", f"dml_sql.{k}.self_ms"]
    names += [
        "snapshots.commit.self_ms", "snapshots.read.self_ms",
        "snapshots.rows_written_per_row_changed", "snapshots.live_files",
        "snapshots.metadata_bytes", "catalog.commit_ms",
        "catalog.manifest_reads_per_op", "catalog.conflicts",
        "skipping.files_considered", "skipping.files_admitted",
        "skipping.admit_ratio", "ingest.self_ms", "ingest.rows_per_s",
    ]
    for f in OPERATOR_FAMILIES:
        names += [f"operators.{f}.calls", f"operators.{f}.self_ms"]
    names += [f"spark.{m}" for m in SPARK_METRICS]
    names += ["driver.peak_rss_mb", "trace.ops_per_s_ratio", "trace.op_p50_ratio"]
    return names


def dml_kind(text: str) -> str | None:
    words = text.split()
    if not words:
        return None
    head = words[0].lower()
    if head == "alter" and "expire" in text.lower():
        return "expire"
    return head if head in DML_KINDS else None


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def begin(self, name: str, **extra) -> dict:
        span = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None, **extra,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        span = self.begin(name)
        try:
            return fn(*args, **kwargs)
        except BaseException as e:
            span["error"] = type(e).__name__
            raise
        finally:
            self.end(span)

    def _wrap(self, owner, attr: str, name: str, on_call=None, on_return=None):
        orig = inspect.getattr_static(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = tracer.begin(name, **(on_call(args) if on_call else {}))
            try:
                out = orig(*args, **kwargs)
                if on_return:
                    span.update(on_return(out))
                return out
            except BaseException as e:
                span["error"] = type(e).__name__
                raise
            finally:
                tracer.end(span)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from oss_data_lake_spark.engine import Engine
        from oss_data_lake_spark.sources import catalog, dml_sql, ingest, snapshots

        self._wrap(Engine, "sql", "Engine.sql", on_call=lambda a: {"text": a[1][:40]})
        self._wrap(Engine, "ingest_ohlcv", "Engine.ingest_ohlcv")
        self._wrap(
            dml_sql, "dispatch_statement", "dispatch_statement",
            on_call=lambda a: {"kind": dml_kind(a[1])},
        )
        table = snapshots.SnapshotTable
        for m in SNAPSHOT_WRITES + SNAPSHOT_READS:
            if m in PLAN_METHODS:
                self._wrap(
                    table, m, f"SnapshotTable.{m}",
                    on_return=lambda out: {"admitted": out[1], "skipped": out[2]},
                )
            else:
                self._wrap(table, m, f"SnapshotTable.{m}")
        for m in CATALOG_METHODS:
            self._wrap(catalog.LocalFsCommitProtocol, m, f"LocalFsCommitProtocol.{m}")
        self._wrap(
            ingest, "ingest", "ingest",
            on_return=lambda out: {"rows": out.get("rows_written", 0)},
        )

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


class JobGroups:
    """One Spark job group per op; job counts and, for traced ops, the
    job intervals and stage totals read back from the status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jvm = self.sc._jvm

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"perfbench-{op}", "perfbench", False)

    def job_ids(self, op: int) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(f"perfbench-{op}"))

    def _seq(self, scala_seq):
        return list(self._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))

    def detail(self, op: int) -> dict:
        store = self.sc._jsc.sc().statusStore()
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "input_rows": 0,
               "cpu_ns": 0, "gc_ms": 0, "spill_bytes": 0, "intervals": []}
        for jid in self.job_ids(op):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["intervals"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            for sid in self._seq(job.stageIds()):
                attempts = store.stageData(sid, False, self._jvm.java.util.ArrayList(),
                                           False, no_quantiles)
                for s in self._seq(attempts):
                    if str(s.status()) == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numTasks()
                    out["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
                    out["input_rows"] += s.inputRecords()
                    out["cpu_ns"] += s.executorCpuTime()
                    out["gc_ms"] += s.jvmGcTime()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out


def _per_op(total: float, n_ops: int) -> float:
    return total / max(1, n_ops)


def layer_metrics(
    spans: list[dict], traced_ops: list[dict], extra: dict[str, float]
) -> dict[str, float]:
    """Per-layer metrics over the traced ops. Counts and times are means
    per traced op; ratios are over the whole traced region. ``extra``
    supplies the numbers read from disk rather than from spans."""
    n = len(traced_ops)
    self_s = stats.self_times([s for s in spans if s["end"] is not None])
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def calls(name: str) -> int:
        return len(by_name.get(name, []))

    def self_ms(names) -> float:
        return 1000.0 * sum(self_s[s["id"]] for nm in names for s in by_name.get(nm, []))

    ids = {s["id"]: s for s in spans}
    read_ops = {o["op"] for o in traced_ops if o["cls"] == "read"}
    top_sql = [s for s in by_name.get("Engine.sql", []) if s["op"] in read_ops
               and (s["parent"] is None or ids[s["parent"]]["name"] != "Engine.sql")]
    m = {
        "engine.sql.calls": _per_op(calls("Engine.sql"), n),
        "engine.sql.self_ms": _per_op(self_ms(["Engine.sql"]), n),
        "engine.sql.return_ms": 1000.0 * statistics.mean(
            [s["end"] - s["start"] for s in top_sql]) if top_sql else 0.0,
    }
    for k in DML_KINDS:
        mine = [s for s in by_name.get("dispatch_statement", []) if s.get("kind") == k]
        m[f"dml_sql.{k}.calls"] = _per_op(len(mine), n)
        m[f"dml_sql.{k}.self_ms"] = _per_op(1000.0 * sum(self_s[s["id"]] for s in mine), n)
    m["snapshots.commit.self_ms"] = _per_op(
        self_ms([f"SnapshotTable.{x}" for x in SNAPSHOT_WRITES]), n)
    m["snapshots.read.self_ms"] = _per_op(
        self_ms([f"SnapshotTable.{x}" for x in SNAPSHOT_READS]), n)
    for k in ("rows_written_per_row_changed", "live_files", "metadata_bytes"):
        m[f"snapshots.{k}"] = float(extra.get(f"snapshots.{k}", 0.0))
    commits = by_name.get("LocalFsCommitProtocol.commit", [])
    m["catalog.commit_ms"] = 1000.0 * statistics.mean(
        [s["end"] - s["start"] for s in commits]) if commits else 0.0
    m["catalog.manifest_reads_per_op"] = _per_op(calls("LocalFsCommitProtocol.read_manifest"), n)
    m["catalog.conflicts"] = float(sum(1 for s in commits if s.get("error") == "CommitConflict"))
    # only outermost plans: a plan_pruned that calls plan_range_scan is one plan
    plan_names = {f"SnapshotTable.{p}" for p in PLAN_METHODS}

    def nested_in_plan(s: dict) -> bool:
        p = s["parent"]
        while p is not None:
            if ids[p]["name"] in plan_names:
                return True
            p = ids[p]["parent"]
        return False

    plans = [s for nm in plan_names for s in by_name.get(nm, [])
             if "admitted" in s and not nested_in_plan(s)]
    admitted = sum(s["admitted"] for s in plans)
    considered = admitted + sum(s["skipped"] for s in plans)
    m["skipping.files_considered"] = _per_op(considered, n)
    m["skipping.files_admitted"] = _per_op(admitted, n)
    m["skipping.admit_ratio"] = admitted / considered if considered else 0.0
    ing = by_name.get("ingest", [])
    ing_s = sum(s["end"] - s["start"] for s in ing)
    m["ingest.self_ms"] = _per_op(self_ms(["ingest"]), n)
    m["ingest.rows_per_s"] = sum(s.get("rows", 0) for s in ing) / ing_s if ing_s else 0.0
    for f in OPERATOR_FAMILIES:
        mine = [nm for nm in by_name if nm.startswith(f"operators.{f}.")]
        m[f"operators.{f}.calls"] = _per_op(sum(calls(nm) for nm in mine), n)
        m[f"operators.{f}.self_ms"] = _per_op(self_ms(mine), n)
    sp = [o["spark"] for o in traced_ops if "spark" in o]
    result_rows = sum(o.get("n_rows", 0) for o in traced_ops if o["cls"] == "read" and "spark" in o)
    read_input = sum(o["spark"]["input_rows"] for o in traced_ops
                     if o["cls"] == "read" and "spark" in o and o.get("n_rows"))
    k = len(sp)
    m["spark.jobs_per_op"] = _per_op(sum(d["jobs"] for d in sp), k)
    m["spark.stages_per_op"] = _per_op(sum(d["stages"] for d in sp), k)
    m["spark.tasks_per_op"] = _per_op(sum(d["tasks"] for d in sp), k)
    m["spark.shuffle_bytes_per_op"] = _per_op(sum(d["shuffle_bytes"] for d in sp), k)
    m["spark.input_rows_per_result_row"] = read_input / result_rows if result_rows else 0.0
    m["spark.executor_cpu_ms"] = _per_op(sum(d["cpu_ns"] for d in sp) / 1e6, k)
    m["spark.gc_ms"] = _per_op(sum(d["gc_ms"] for d in sp), k)
    m["spark.spill_bytes"] = _per_op(sum(d["spill_bytes"] for d in sp), k)
    m["spark.driver_gap_ms"] = _per_op(
        1000.0 * sum(stats.driver_gap(o["wall_start"], o["wall_end"], o["spark"]["intervals"])
                     for o in traced_ops if "spark" in o), k)
    return m
