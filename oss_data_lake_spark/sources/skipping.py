"""File-level data skipping — Iceberg-manifest-style min/max pruning.

The reference's table format is Iceberg (reference
etc/catalog/iceberg.properties:14-20): its scan planning reads per-file
column bounds from manifest files and PRUNES DATA FILES whose [min, max]
range cannot satisfy the query predicate — before any data byte is read.
This is the second of Iceberg's two pruning levers (the first, hidden
partition pruning, is covered by ``sources/lake.py`` + the p01/p02
queries); at 100 TB it is what makes a selective scan over a NON-partition
column cheap: a date-clustered fact table answers a one-month query by
opening ~1/84th of its files, partition layout notwithstanding.

This module adds that lever to ``SnapshotTable`` without the Iceberg jar:

- **Stats collection is footer-only and distributed.** Parquet writers
  already persist row-group min/max/null-count statistics in the file
  footer; ``collect_file_stats`` ships the commit's file list to executors
  (``parallelize`` + ``mapPartitions``) where pyarrow reads ONLY the
  footers and folds row-group stats into per-file bounds. No data pages
  are read — the same O(metadata) cost as Iceberg's write-side stats, paid
  once per commit. The per-file result rows (#files × #stat-columns) are
  the only thing collected to the driver, and they go straight into the
  snapshot manifest next to the file list — the manifest IS our Iceberg
  manifest.
- **Bounds, not values.** Parquet string stats may be truncated by the
  writer; the format guarantees truncated min stays ≤ the true min and
  truncated max is padded ABOVE the true max, so [min, max] is always a
  superset interval. Pruning with a superset interval is sound; it can
  only under-skip, never wrong-skip. Files with no usable stats are always
  read.
- **Pruning is advisory; filters are still applied.** ``read_between``
  prunes the file list, then applies the exact predicate to the surviving
  rows — correctness never depends on the stats being right, only
  efficiency does. (Pinned by tests/test_skipping.py: pruned result ==
  unpruned result, files_read strictly < files_total.)
- **Clustered writes make stats effective.** Random row placement gives
  every file the full value range (nothing skips). ``commit_clustered``
  range-partitions + sorts on the cluster column before committing —
  Iceberg's sort-order metadata — so each file covers a narrow slice.
  One shuffle at write time buys every future range scan its file-level
  pruning; this is the 1-D form of the z-order tradeoff.

Scope: range/equality predicates over numeric, string, date and timestamp
columns. Partition columns are served by partition pruning (they are not
in footers); file skipping is for the columns the partition layout does
NOT cover — the two levers compose per directory.
"""

from __future__ import annotations

import datetime
import os
from typing import Any, Iterator

from pyspark.sql import SparkSession

# ------------------------------------------------------------ encoding
#
# Stats and query bounds are normalized into one of two comparable kinds:
#   "num" — python int/float (compared numerically; ints stay ints so
#            int64 bounds beyond 2^53 don't lose precision)
#   "str" — strings; date/timestamp values are rendered to fixed-width
#            ISO forms ("YYYY-MM-DD" / "YYYY-MM-DD HH:MM:SS.ffffff" UTC)
#            so lexicographic order == temporal order.
# A value that fits neither kind yields no stats → the file is never
# skipped on that column.


def _make_enc():
    """Build the value encoder as a NESTED function: executors receive it
    pickled BY VALUE inside the mapPartitions closure (the engine package
    is importable only on the driver — the external driver's session has
    no PYTHONPATH for it, so any by-reference pickle of a module-level
    function would fail to unpickle on the workers)."""
    import datetime as _dt
    import decimal as _decimal

    def enc(v):
        if v is None or isinstance(v, bool):
            return None
        if isinstance(v, (int, float)):
            return ("num", v)
        if isinstance(v, _dt.datetime):
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return ("str", v.isoformat(sep=" ", timespec="microseconds"))
        if isinstance(v, _dt.date):
            # dates render in the SAME fixed-width form as timestamps
            # (midnight): a DATE column's stats must compare correctly
            # against a bound parsed from an ISO string — which
            # encode_bound normalizes to the timestamp form. A bare
            # 'YYYY-MM-DD' here would sort BELOW its own midnight
            # rendering and cause wrong skips / bloom false negatives.
            return (
                "str",
                _dt.datetime(v.year, v.month, v.day).isoformat(
                    sep=" ", timespec="microseconds"
                ),
            )
        if isinstance(v, bytes):
            try:
                return ("str", v.decode("utf-8"))
            except UnicodeDecodeError:
                return None
        if isinstance(v, str):
            return ("str", v)
        if isinstance(v, _decimal.Decimal):
            return ("num", float(v))
        return None

    return enc


_enc = _make_enc()

# Stats-encoding format version, stamped into every persisted stats/bloom
# entry. v2 renders DATE values in the midnight timestamp form (so string
# bounds compare correctly). Entries persisted under an OLDER encoding are
# not trusted for "str"-kind skips or bloom probes — the file is read
# instead (under-skip, never wrong-skip); numeric stats are
# version-independent. Recompacting (or any rebuild) refreshes entries.
ENC_VERSION = 2


def encode_bound(v: Any, spark_type: str | None = None) -> tuple[str, Any] | None:
    """Public bound encoder: accepts python numbers, strings, date,
    datetime, or ISO date/timestamp strings.

    ``spark_type`` (the queried COLUMN's Spark ``simpleString`` type, when
    the caller knows it — SnapshotTable resolves it from the snapshot
    schema) disambiguates string bounds: against a string column,
    '1994-01-01' is a plain string (stats hold bare strings); against a
    date/timestamp column it parses to the temporal fixed-width form the
    stats use. Without the type, a date-shaped string normalizes to the
    temporal form (the common case for range scans on temporal columns) —
    ambiguous-type callers should pass ``spark_type``."""
    if isinstance(v, str):
        if spark_type == "string":
            return _enc(v)
        if spark_type in ("date", "timestamp", "timestamp_ntz", None):
            try:
                return _enc(datetime.datetime.fromisoformat(v))
            except ValueError:
                return _enc(v)
        # numeric column probed with a string: try the numeric reading
        try:
            return _enc(float(v) if "." in v else int(v))
        except ValueError:
            return _enc(v)
    return _enc(v)


# --------------------------------------------------------------- blooms
#
# Min/max bounds only help columns the file layout CLUSTERS; a point
# lookup on an unclustered high-cardinality column (doc_id, user_id, order
# key) finds every file's [min, max] straddling the probe. Iceberg/Parquet
# solve this with per-file bloom filters; we store a small bloom per
# (file, column) in the snapshot manifest. False positives cost one extra
# file read; false negatives are impossible IF probe and build hash the
# same canonical encoding — numbers canonicalize through float (so int 5
# and double 5.0 collide deliberately), everything else through the
# min/max encoder's string form.

BLOOM_M = 8192  # bits (1 KiB per file-column)
BLOOM_K = 4

# Commits at or below this many files harvest footer stats on the driver
# (a few ms of metadata I/O) instead of paying a parallelize+collect job;
# larger commits keep the distributed harvest (r15, see collect_file_stats).
_DRIVER_FOOTER_MAX = 32


def _bloom_canon(kind: str, v: Any) -> str:
    if kind == "num":
        return repr(float(v))
    return str(v)


def _bloom_positions(canon: str, m: int = BLOOM_M, k: int = BLOOM_K):
    import hashlib

    digest = hashlib.md5(canon.encode("utf-8")).digest()
    for i in range(k):
        chunk = digest[i * 4 : i * 4 + 4]
        yield int.from_bytes(chunk, "big") % m


def bloom_may_contain(
    entry: dict[str, Any] | None, value: Any, spark_type: str | None = None
) -> bool:
    """Probe a manifest bloom entry; missing bloom → must read.
    ``spark_type`` disambiguates string probes exactly as in
    ``encode_bound`` — the probe canon must match the build canon (typed
    column values) or every lookup false-negatives."""
    if not entry or "bloom" not in entry:
        return True
    if entry.get("enc") != ENC_VERSION:
        return True  # built under an older canon: probes can't be trusted
    import base64

    enc = encode_bound(value, spark_type)
    if enc is None:
        return True
    bits = base64.b64decode(entry["bloom"])
    m = entry.get("m", BLOOM_M)
    canon = _bloom_canon(*enc)
    for pos in _bloom_positions(canon, m, entry.get("k", BLOOM_K)):
        if not (bits[pos // 8] >> (pos % 8)) & 1:
            return False
    return True


# ----------------------------------------------------- stats collection


def _iter_parquet_files(root: str) -> Iterator[str]:
    for dirpath, _dirs, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".parquet") and not name.startswith("_"):
                yield os.path.join(dirpath, name)


def _make_footer_reader(columns: list[str], bloom_columns: list[str] = ()):
    """Executor-side footer reader, built as a nested closure so it is
    pickled BY VALUE (see ``_make_enc``): reads parquet FOOTERS only and
    folds row-group stats to per-file
    (rel_file, col, min, max, null_count, rows).

    ``bloom_columns`` additionally builds a per-file bloom filter from the
    COLUMN DATA (one column-projected read per file — the only data-page
    cost in this module, paid once at commit; parquet's native writer-side
    blooms are the production equivalent). Bloom rows are emitted as
    (rel_file, "bloom:"+col, b64bits, None, m, k)."""
    enc = _make_enc()
    cols = list(columns)
    bcols = [c for c in bloom_columns]
    bloom_m, bloom_k = BLOOM_M, BLOOM_K

    def bloom_of(values):
        # self-contained mirror of _bloom_canon/_bloom_positions (module
        # references would pickle by reference and fail on executors)
        import base64
        import hashlib

        bits = bytearray(bloom_m // 8)
        for v in values:
            e = enc(v)
            if e is None:
                continue
            kind, cv = e
            canon = repr(float(cv)) if kind == "num" else str(cv)
            digest = hashlib.md5(canon.encode("utf-8")).digest()
            for i in range(bloom_k):
                pos = (
                    int.from_bytes(digest[i * 4 : i * 4 + 4], "big")
                    % bloom_m
                )
                bits[pos // 8] |= 1 << (pos % 8)
        return base64.b64encode(bytes(bits)).decode("ascii")

    def read_footers(items):
        import pyarrow.parquet as pq

        for abs_path, rel_path in items:
            pf = pq.ParquetFile(abs_path)
            md = pf.metadata
            rows = md.num_rows
            present = {md.schema.column(i).name for i in range(md.num_columns)}
            for bc in bcols:
                if bc not in present:
                    continue
                tbl = pf.read(columns=[bc])
                yield (
                    rel_path,
                    f"bloom:{bc}",
                    bloom_of(tbl.column(0).to_pylist()),
                    None,
                    bloom_m,
                    bloom_k,
                )
            agg = {
                c: {"min": None, "max": None, "nulls": 0, "known": True}
                for c in cols
            }
            for rg_i in range(md.num_row_groups):
                rg = md.row_group(rg_i)
                seen = set()
                for c_i in range(rg.num_columns):
                    col = rg.column(c_i)
                    name = col.path_in_schema
                    if name not in agg:
                        continue
                    seen.add(name)
                    a = agg[name]
                    st = col.statistics
                    if st is None:
                        a["known"] = False
                        continue
                    if st.null_count is not None:
                        a["nulls"] += st.null_count
                    else:
                        a["known"] = False
                    if st.has_min_max:
                        lo, hi = enc(st.min), enc(st.max)
                        # a NaN bound (Spark records max = NaN on a
                        # float column holding one) orders nothing
                        if (
                            lo is None or hi is None
                            or lo[1] != lo[1] or hi[1] != hi[1]
                        ):
                            a["known"] = False
                            continue
                        if a["min"] is None or lo[1] < a["min"][1]:
                            a["min"] = lo
                        if a["max"] is None or hi[1] > a["max"][1]:
                            a["max"] = hi
                    elif st.null_count != rg.num_rows:
                        # non-null values exist but no bounds for them
                        a["known"] = False
                for name in cols:
                    if name not in seen:
                        # column absent from this row group (e.g. a
                        # partition column, or pre-evolution file): no
                        # stats claim
                        agg[name]["known"] = False
            for c, a in agg.items():
                if not a["known"]:
                    continue
                yield (
                    rel_path,
                    c,
                    list(a["min"]) if a["min"] else None,
                    list(a["max"]) if a["max"] else None,
                    a["nulls"],
                    rows,
                )

    return read_footers


def collect_file_stats(
    spark: SparkSession,
    dir_path: str,
    columns: list[str],
    bloom_for: list[str] = (),
) -> dict[str, dict[str, dict[str, Any]]]:
    """Per-file column bounds (and optional blooms) for every parquet file
    under ``dir_path``: ``{rel_file: {col: {"min": [kind, v]|None,
    "max": ..., "nulls": n, "rows": n}}}`` plus
    ``{"bloom:col": {"bloom": b64, "m": bits, "k": hashes}}`` — JSON-ready
    for the snapshot manifest. Footer reads are distributed over
    executors; only the tiny stats rows come back."""
    files = [
        (p, os.path.relpath(p, dir_path))
        for p in _iter_parquet_files(dir_path)
    ]
    if not files:
        return {}
    if len(files) <= _DRIVER_FOOTER_MAX and not bloom_for:
        # r15 (guide §5 driver-work balance, inverted): for a handful of
        # files a footer read is ~1 ms of local metadata I/O, while the
        # parallelize+collect below is a whole Spark job (~0.1-0.3 s of
        # scheduling) — so small commits harvest on the driver with the
        # SAME reader function. The distributed path stays for large
        # commits (thousands of files at 100 TB) and for blooms, which
        # read column data, not just footers.
        rows = list(_make_footer_reader(columns, bloom_for)(files))
    else:
        sc = spark.sparkContext
        n_slices = min(len(files), max(sc.defaultParallelism, 1))
        rows = (
            sc.parallelize(files, n_slices)
            .mapPartitions(_make_footer_reader(columns, bloom_for))
            .collect()
        )
    # EVERY discovered file gets an entry, even when no column produced a
    # usable stat row (row-group statistics absent/undecodable for all
    # requested columns): the stats dict is the scan planner's FILE
    # UNIVERSE, and a file missing from it would be silently excluded from
    # pruned reads — wrong-skip data loss, not the promised "no stats →
    # always read". An empty per-file dict prunes nothing (file_may_match
    # and bloom_may_contain both return True for absent entries).
    out: dict[str, dict[str, dict[str, Any]]] = {
        rel: {} for _p, rel in files
    }
    for rel, col, a, b, c, d in rows:
        if col.startswith("bloom:"):
            out.setdefault(rel, {})[col] = {
                "bloom": a, "m": c, "k": d, "enc": ENC_VERSION,
            }
        else:
            out.setdefault(rel, {})[col] = {
                "min": a,
                "max": b,
                "nulls": c,
                "rows": d,
                "enc": ENC_VERSION,
            }
    return out


# ------------------------------------------------------------- z-order
#
# Multi-dimensional clustering: bucketize each column by its own
# (approximate) quantiles, then bit-interleave the bucket ids into one
# z-value. Sorting files by z-value gives every file a bounded slice of
# EVERY participating column, so footer min/max stats prune range queries
# on any of them — the Delta OPTIMIZE ZORDER BY / Iceberg sort-order
# multi-column tradeoff: each extra dimension dilutes per-dimension
# selectivity (d dims → file spans ~(1/n_files)^(1/d) of each), which is
# exactly the documented behavior, not a defect.


def zvalue_column(df, cols: list[str], bits: int = 8):
    """A Column computing the z-order (Morton) value of ``cols``.

    Per column: approximate quantile boundaries (distributed GK sketch,
    2^bits-1 scalars to the driver — O(metadata), any input size) define
    2^bits QUANTILE buckets, so skewed distributions cluster as well as
    uniform ones (equi-width width_bucket would collapse under skew).
    Bucket id = #boundaries ≤ value (a size(filter(array,...)) over a
    ≤255-element literal array — whole-stage-codegen'd, no UDF). NULLs
    land in bucket 0. Bits then interleave round-robin across columns,
    most-significant first. Numeric and timestamp columns only (timestamps
    bucketize as epoch seconds)."""
    from pyspark.sql import functions as F

    if not 1 <= bits <= 16:
        raise ValueError("bits must be in 1..16")
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns (use clustering)")
    nb = 1 << bits
    probs = [i / nb for i in range(1, nb)]
    dtypes = dict(df.dtypes)

    def as_double(c: str) -> F.Column:
        vcol = F.col(c)
        if dtypes[c] in ("timestamp", "timestamp_ntz", "date"):
            return vcol.cast("timestamp").cast("double")
        return vcol.cast("double")

    # ONE multi-column quantile pass (approxQuantile takes a column list):
    # d columns cost one scan, not d
    num = df.select(
        *[as_double(c).alias(f"__v{i}") for i, c in enumerate(cols)]
    )
    all_bnds = num.approxQuantile(
        [f"__v{i}" for i in range(len(cols))], probs, 0.01
    )
    buckets = []
    for c, bnds_raw in zip(cols, all_bnds):
        bnds = sorted(set(bnds_raw))
        arr = F.array(*[F.lit(float(b)) for b in bnds])

        def bucket(arr_c, v_c):
            # nested factory, NOT a default-arg lambda: pyspark binds every
            # lambda parameter (defaults included) as a lambda variable,
            # which would silently turn the captured column into x
            return F.size(F.filter(arr_c, lambda x: x <= v_c)).cast("long")

        buckets.append(bucket(arr, as_double(c)))
    z = F.lit(0).cast("long")
    for i in range(bits - 1, -1, -1):
        for b in buckets:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(b, i).bitwiseAND(F.lit(1))
            )
    return z


# -------------------------------------------------------------- pruning


def file_may_contain_null(entry: dict[str, Any] | None) -> bool:
    """Can the file contain a NULL in this column? (``col IS NULL``
    pruning.) Missing stats → must read; a file whose recorded null count
    is zero provably has no NULL row."""
    if entry is None:
        return True
    return entry.get("nulls", 1) > 0


def file_may_contain_nonnull(entry: dict[str, Any] | None) -> bool:
    """Can the file contain a NON-NULL value in this column?
    (``col IS NOT NULL`` pruning.) Missing stats → must read; an all-null
    (or empty) file provably cannot match."""
    if entry is None:
        return True
    rows = entry.get("rows")
    nulls = entry.get("nulls")
    if rows is None or nulls is None:
        return True
    return nulls < rows


def file_may_match(
    entry: dict[str, Any] | None,
    lo: tuple[str, Any] | None,
    hi: tuple[str, Any] | None,
) -> bool:
    """Can any row of the file satisfy ``col BETWEEN lo AND hi``?
    (Range predicates are null-rejecting, so an all-null file never
    matches.) Missing/foreign-kind stats → must read."""
    if entry is None:
        return True
    if entry["rows"] > 0 and entry["nulls"] >= entry["rows"]:
        return False  # all null
    mn, mx = entry.get("min"), entry.get("max")
    if mn is None or mx is None:
        return True
    if entry.get("enc") != ENC_VERSION and (
        mn[0] == "str" or mx[0] == "str"
    ):
        # stats persisted under an older string/temporal encoding: not
        # comparable to current bounds — read the file
        return True
    if lo is not None:
        if lo[0] != mx[0]:
            # kind mismatch: the bound isn't comparable to the stored
            # stats — read the file rather than guess
            return True
        if mx[1] < lo[1]:
            return False
    if hi is not None:
        if hi[0] != mn[0]:
            return True
        if mn[1] > hi[1]:
            return False
    return True
