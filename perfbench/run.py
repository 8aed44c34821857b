"""Benchmark entry point: one workload, one seed, one Python process.

    python3 perfbench/run.py --workload bi_sql --seed 1 --seconds 15 --trace 0

Run it from the repository root. It generates the inputs from the seed
into a private work directory under ``.perfbench_work/`` (Spark local
dirs, warehouse and lake caches included), starts the engine's session on
``local[<cores>]``, sets up the workload, runs ops one at a time for
``--seconds`` seconds, checks every result against DuckDB and prints one
JSON object as the last line of standard output. ``--trace 1`` runs
traced and untraced blocks in turn and reports per-layer numbers instead
of end-to-end ones; its spans go to ``.perfbench_work/spans-*.jsonl``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from types import SimpleNamespace

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "op_p95_ms": "ms", "ops_per_s": "ops/s",
    "read_p50_ms": "ms",
}


def _isolate(root: str) -> str:
    """A private work dir for this run; every temp path points into it."""
    base = os.path.join(root, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    for d in ("tmp", "local", "lake", "warehouse", "data"):
        os.makedirs(os.path.join(work, d))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_LAKE_DIR": os.path.join(work, "lake"),
        "TZ": "UTC",
    })
    tempfile.tempdir = None
    time.tzset()
    return work


def _run_ops(wl, groups, ids, ops, out, tracer=None):
    """Runs ``ops`` one at a time, each in its own Spark job group; with a
    tracer, also reads back the op's Spark numbers and new data files."""
    for op in ops:
        op["op"] = next(ids)
        groups.begin(op["op"])
        if tracer is not None:
            tracer.op = op["op"]
            files = _data_files(wl.table_dirs)
        op["wall_start"], op["start"] = time.time(), time.perf_counter()
        try:
            if tracer is not None:
                tracer.call(op.get("span", op["name"]), wl.run, op)
            else:
                wl.run(op)
        except Exception as e:  # counted as failed and printed by op name
            op["error"] = f"{type(e).__name__}: {str(e)[:200]}"
        op["end"], op["wall_end"] = time.perf_counter(), time.time()
        if tracer is not None and op["cls"] == "write":
            op["rows_written"] = _footer_rows(_data_files(wl.table_dirs) - files)
        op["ms"] = 1000.0 * (op["end"] - op["start"])
        op["jobs"] = len(groups.job_ids(op["op"]))
        if tracer is not None:
            op["spark"] = groups.detail(op["op"])
        if "rows" in op and op["cls"] == "read":
            op["n_rows"] = len(op["rows"])
        out.append(op)


def _timed(wl, groups, ids, seconds: float, trace: bool):
    """Whole blocks until ``seconds`` have passed and at least the
    workload's ``min_blocks`` ran. In a traced run the
    blocks go untraced, traced, traced, untraced, ... so both halves see
    the same mix and a drift across the run (JIT still warming) cancels."""
    from perfbench.trace import Tracer

    tracer = Tracer() if trace else None
    # a traced run needs the whole untraced/traced/traced/untraced cycle
    need = max(wl.min_blocks, 4) if trace else wl.min_blocks
    untraced, traced = [], []
    t0 = time.perf_counter()
    for i, block in enumerate(wl.blocks()):
        on = trace and i % 4 in (1, 2)
        if on:
            for op in block:
                op["span"] = wl.span_name(op)
            tracer.install()
            try:
                _run_ops(wl, groups, ids, block, traced, tracer)
            finally:
                tracer.uninstall()
        else:
            _run_ops(wl, groups, ids, block, untraced)
        if time.perf_counter() - t0 >= seconds and i + 1 >= need:
            break
    return untraced, traced, time.perf_counter() - t0, tracer


def _lat(ops, cls=None):
    return [o["ms"] for o in ops if cls is None or o["cls"] == cls]


def _summary(ops, wall):
    from perfbench import stats

    out = {"op_p50_ms": stats.median(_lat(ops)), "ops_per_s": len(ops) / wall}
    out["op_p95_ms"], out["op_p95_pct"] = stats.tail_percentile(_lat(ops))
    reads = _lat(ops, "read")
    out["read_p50_ms"] = stats.median(reads)
    out["read_p95_ms"], out["read_p95_pct"] = stats.tail_percentile(reads)
    writes = _lat(ops, "write")
    if writes:
        out["write_p50_ms"] = stats.median(writes)
        out["write_p95_ms"], out["write_p95_pct"] = stats.tail_percentile(writes)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the repo root, not perfbench/, so that perfbench.trace cannot shadow
    # the standard library's trace module
    sys.path[0] = REPO
    # the program and its test-side DuckDB compare must be importable
    # before anything is generated or started
    import oss_data_lake_spark  # noqa: F401
    import tests.parity  # noqa: F401
    from perfbench import datagen, stats
    from perfbench.trace import JobGroups, layer_metrics, per_layer_names
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload}; one of {sorted(WORKLOADS)}")
    work = _isolate(os.getcwd())
    spark = proc = None
    try:
        wl_cls = WORKLOADS[args.workload]
        ctx = SimpleNamespace(
            seed=args.seed, work=work, warehouse=os.path.join(work, "warehouse"),
            sf_dir=datagen.write_tables(os.path.join(work, "data"), args.seed),
        )
        from pyspark import SparkContext

        from oss_data_lake_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{args.workload}", cpus=os.cpu_count(),
            warehouse_dir=ctx.warehouse,
            extra_conf={
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        proc = getattr(SparkContext._gateway, "proc", None)
        spark.sparkContext.setLogLevel("ERROR")
        groups, ids = JobGroups(spark), itertools.count()
        wl = wl_cls(spark, ctx)
        warm = wl.setup()
        done: list[dict] = []
        _run_ops(wl, groups, ids, warm, done)
        setup_s = time.perf_counter() - t_setup

        ticks0 = stats.cpu_ticks()
        untraced, traced, wall, tracer = _timed(wl, groups, ids, args.seconds, bool(args.trace))
        steal = stats.steal_pct(ticks0, stats.cpu_ticks())
        timed = sorted(untraced + traced, key=lambda o: o["op"])
        rss = stats.peak_rss_mb(os.getpid(), [proc.pid] if proc is not None else [])

        bad = wl.check(done + timed)
        bad += [(o["name"], o["error"]) for o in done + timed if o.get("error")]
        attempted = len(done) + len(timed)
        detail = {
            "workload": args.workload, "seed": args.seed, "timed_ops": len(timed),
            "steal_pct": steal, "peak_rss_mb": rss, "failed_ratio": len(bad) / attempted,
            "failures": [f"{n}: {d}" for n, d in bad][:20],
            **_per_template(timed),
        }
        if args.trace:
            summary_u = _summary(untraced, sum(o["ms"] for o in untraced) / 1000.0)
            summary_t = _summary(traced, sum(o["ms"] for o in traced) / 1000.0)
            layer = layer_metrics(tracer.spans, traced,
                                  _table_extra(spark, wl.table_dirs, traced))
            layer["driver.peak_rss_mb"] = rss
            layer["trace.ops_per_s_ratio"] = summary_t["ops_per_s"] / summary_u["ops_per_s"]
            layer["trace.op_p50_ratio"] = summary_t["op_p50_ms"] / summary_u["op_p50_ms"]
            tracer.dump(os.path.join(
                os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = {k: {"value": layer[k], "unit": _layer_unit(k)} for k in per_layer_names()}
            detail["untraced"], detail["traced"] = summary_u, summary_t
        else:
            summary = _summary(timed, wall)
            summary["setup_s"] = setup_s
            detail.update({k: v for k, v in summary.items() if k not in END_TO_END})
            detail.update(wl.extra_metrics(timed, wall))
            detail["warm_ms"] = {o["name"]: round(o["ms"]) for o in done}
            detail["timed_ms"] = [[o["name"], round(o["ms"], 1)] for o in timed]
            metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps(detail))
        for name, d in bad:
            print(f"FAILED {name}: {d}")
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": len(bad),
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            spark.stop()
            SparkContext._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(work, ignore_errors=True)


def _data_files(dirs) -> set[str]:
    return {
        os.path.join(d, f)
        for root in dirs
        for d, _sub, files in os.walk(root)
        for f in files
        if f.endswith(".parquet") and "_snapshots" not in d
    }


def _footer_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


def _table_extra(spark, dirs, traced) -> dict[str, float]:
    """The on-disk side of the snapshots layer: live files and metadata
    bytes of the workload's tables, and rows written per row changed."""
    from oss_data_lake_spark.sources.snapshots import SnapshotTable
    from perfbench.stats import stored_bytes

    writes = [o for o in traced if o["cls"] == "write" and "changed" in o]
    changed = sum(o["changed"] for o in writes)
    return {
        "snapshots.live_files": sum(
            SnapshotTable(spark, d).metadata_df("files").count() for d in dirs),
        "snapshots.metadata_bytes": sum(
            stored_bytes(os.path.join(d, "_snapshots")) for d in dirs),
        "snapshots.rows_written_per_row_changed":
            sum(o["rows_written"] for o in writes) / changed if changed else 0.0,
    }


def _per_template(ops) -> dict[str, dict[str, float]]:
    """Spark jobs and median latency per op template: job counts are
    structural, so two run sets that disagree on them ran different
    plans, and two that agree on them but not on latency met host noise."""
    from perfbench.stats import median

    per: dict[str, list[dict]] = {}
    for o in ops:
        per.setdefault(o["name"], []).append(o)
    return {
        "jobs_per_op": {k: sum(o["jobs"] for o in v) / len(v) for k, v in sorted(per.items())},
        "p50_ms_per_op": {k: median(o["ms"] for o in v) for k, v in sorted(per.items())},
    }


def _layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_per_op"):
        return "bytes"
    if name.endswith("_per_s"):
        return "rows/s"
    if name.endswith("ratio") or "_per_" in name:
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
