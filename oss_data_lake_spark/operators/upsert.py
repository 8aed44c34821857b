"""Keyed upsert / MERGE INTO semantics (SURVEY.md §2 "What's missing" #2 —
the reference's Trino-over-Iceberg supports ``MERGE INTO``; reference
RUNBOOK.md re-ingest story).

Spark's parquet session catalog has no native MERGE (that needs the
Delta/Iceberg connector — ``sources/connectors.py`` upgrades when a jar is
present), so the operator is the canonical set-based rewrite:

    merged = source ∪ (target ⟕anti source on keys)

i.e. WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN INSERT *.
One shuffle on the merge keys (the anti join); at 100 TB the write path
restricts the rewrite to TOUCHED PARTITIONS ONLY via dynamic partition
overwrite (``sources.tables.Warehouse.merge_into`` does exactly that), so
merge cost scales with the updated slice, not the table.

The driver query ``m01`` runs the full merge against the orders fixture
with a deterministic update+insert source and aggregates the merged result;
the DuckDB oracle states the same MERGE semantics in ANSI SQL. pytest
additionally pins idempotence (merging the same source twice is a no-op).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from oss_data_lake_spark.functions.deterministic import davg, dsum, sql_davg, sql_dsum
from oss_data_lake_spark.sources.loaders import load_table

UPDATE_MOD = 7  # orders with key % 7 == 0 get a 10% price bump + status 'U'
INSERT_MOD = 97  # orders with key % 97 == 0 spawn a new row at key + offset
INSERT_OFFSET = 10_000_000


def merge_upsert(target: DataFrame, source: DataFrame, keys: list[str]) -> DataFrame:
    """MERGE semantics on DataFrames: source rows win on key match, target
    rows survive otherwise. Requires identical schemas (checked)."""
    if set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge schema mismatch: target={target.columns} source={source.columns}"
        )
    survivors = target.join(source.select(*keys), keys, "left_anti")
    return source.unionByName(survivors)


def merge(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    *,
    when_matched: str | None = "update",
    matched_condition: str | None = None,
    when_not_matched: str | None = "insert",
    matched_assignments: dict[str, str] | None = None,
    insert_values: dict[str, str] | None = None,
    source_keys: list[str] | None = None,
    when_not_matched_by_source: str | None = None,
    not_matched_by_source_condition: str | None = None,
    not_matched_by_source_assignments: dict[str, str] | None = None,
) -> DataFrame:
    """Full MERGE clause semantics, set-based (Trino/Iceberg ``MERGE INTO``
    over the reference's warehouse — WHEN MATCHED [AND cond] THEN
    UPDATE/DELETE, WHEN NOT MATCHED THEN INSERT):

    - ``when_matched``: ``"update"`` (source row replaces target),
      ``"delete"`` (matched target row removed), or None (matched target
      rows untouched).
    - ``matched_condition``: SQL predicate over the SOURCE row gating the
      matched clause; matched rows whose source fails it keep the TARGET
      version (standard fall-through when there is no second clause).
    - ``when_not_matched``: ``"insert"`` or None.
    - ``matched_assignments``: the NON-star ``UPDATE SET c = expr`` form
      (Trino's full grammar): per-column SQL expressions evaluated over
      BOTH rows of a match — reference the target row as ``t.<col>`` and
      the source row as ``s.<col>``. Unassigned columns keep the target
      value. With assignments the source only needs its referenced
      columns plus the keys, not the full table schema.
    - ``insert_values``: the ``INSERT (cols) VALUES (exprs)`` form:
      per-column SQL expressions over the SOURCE row (bare or
      ``s.``-qualified names); unnamed target columns insert NULL.
    - ``when_not_matched_by_source``: Delta's third clause family —
      TARGET rows with NO source match: ``"delete"`` drops them,
      ``"update"`` applies ``not_matched_by_source_assignments``
      (expressions over the TARGET row, bare or ``t.``-qualified), None
      keeps them (default). ``not_matched_by_source_condition`` gates
      the clause (predicate over the target row; non-firing rows
      survive unchanged) — the SYNC-to-source primitive.

    Every piece is a keys-equi join (semi/anti) — co-partitioned single
    shuffle each, no windows, no cartesian; at 100 TB wrap the result in
    ``Warehouse.merge_into``-style dynamic partition overwrite so only
    touched partitions rewrite."""
    if when_matched not in ("update", "delete", None):
        raise ValueError(f"unsupported when_matched: {when_matched}")
    if when_not_matched not in ("insert", None):
        raise ValueError(f"unsupported when_not_matched: {when_not_matched}")
    if when_not_matched_by_source not in ("delete", "update", None):
        raise ValueError(
            f"unsupported when_not_matched_by_source: "
            f"{when_not_matched_by_source}"
        )
    if when_not_matched_by_source == "update":
        if not not_matched_by_source_assignments:
            raise ValueError(
                "WHEN NOT MATCHED BY SOURCE THEN UPDATE needs SET "
                "assignments (no source row exists to copy from)"
            )
        bad = set(not_matched_by_source_assignments) - set(target.columns)
        if bad:
            raise ValueError(f"SET assigns unknown columns: {sorted(bad)}")
    skeys = list(source_keys) if source_keys is not None else list(keys)
    if len(skeys) != len(keys):
        raise ValueError("source_keys must pair with keys")
    if matched_assignments:
        bad = set(matched_assignments) - set(target.columns)
        if bad:
            raise ValueError(f"SET assigns unknown columns: {sorted(bad)}")
        missing = set(skeys) - set(source.columns)
        if missing:
            raise ValueError(f"merge source lacks key columns: {sorted(missing)}")
    if skeys != list(keys) and not (matched_assignments or insert_values):
        raise ValueError(
            "ON keys with different target/source column names need the "
            "non-star clause forms (SET assignments / INSERT VALUES)"
        )
    if insert_values:
        bad = set(insert_values) - set(target.columns)
        if bad:
            raise ValueError(f"INSERT names unknown columns: {sorted(bad)}")
    star_shapes = (
        (when_matched == "update" and not matched_assignments)
        or (when_not_matched == "insert" and not insert_values)
    )
    if star_shapes and set(target.columns) != set(source.columns):
        raise ValueError(
            f"merge schema mismatch: target={target.columns} source={source.columns}"
        )
    # target keys re-labeled to the SOURCE key names for source-side
    # semi/anti joins (identity when the names agree)
    tgt_keys = target.select(
        *[F.col(t).alias(sk) for t, sk in zip(keys, skeys)]
    )
    src_matched = source.join(tgt_keys, skeys, "left_semi")
    if matched_condition is not None:
        cond = F.expr(matched_condition)
        # SQL ternary logic: the clause fires only when cond IS TRUE; FALSE
        # and NULL both fall through to keeping the target row
        src_hit = src_matched.filter(cond)
        miss_keys = src_matched.filter(
            ~F.coalesce(cond, F.lit(False))
        ).select(*[F.col(sk).alias(t) for t, sk in zip(keys, skeys)])
    else:
        src_hit = src_matched
        miss_keys = src_matched.limit(0).select(
            *[F.col(sk).alias(t) for t, sk in zip(keys, skeys)]
        )

    src_keys_as_tgt = source.select(
        *[F.col(sk).alias(t) for t, sk in zip(keys, skeys)]
    )
    pieces: list[DataFrame] = []
    # target rows with no source match: survive by default, or pass
    # through the WHEN NOT MATCHED BY SOURCE clause (Delta's third
    # clause family — same anti-join, so still one keys-equi shuffle)
    # alias as 't' BEFORE evaluating the fire condition so the
    # documented 't.<col>'-qualified condition form resolves for direct
    # API callers too (the SQL path pre-strips the alias; assignments
    # already re-alias below)
    nmbs = target.join(src_keys_as_tgt, keys, "left_anti").alias("t")
    if when_not_matched_by_source is None:
        pieces.append(nmbs)
    else:
        fire = (
            F.coalesce(
                F.expr(not_matched_by_source_condition), F.lit(False)
            )
            if not_matched_by_source_condition is not None
            else F.lit(True)
        )
        pieces.append(nmbs.filter(~fire))  # non-firing rows survive
        if when_not_matched_by_source == "update":
            tgt_fields = {f.name: f.dataType for f in target.schema.fields}
            pieces.append(
                nmbs.filter(fire)
                .alias("t")
                .select(
                    *[
                        F.expr(not_matched_by_source_assignments[c])
                        .cast(tgt_fields[c])
                        .alias(c)
                        if c in not_matched_by_source_assignments
                        else F.col(f"t.{c}").alias(c)
                        for c in target.columns
                    ]
                )
            )
        # "delete": firing rows contribute nothing
    # matched rows whose clause condition failed keep the target version
    pieces.append(target.join(miss_keys, keys, "left_semi"))
    if when_matched == "update":
        if matched_assignments:
            # non-star SET: evaluate each assignment over the matched
            # PAIR (t = target row, s = source row); unassigned columns
            # keep the target value — one keys-equi inner join
            cond = None
            for k, sk in zip(keys, skeys):
                e = F.col(f"t.{k}") == F.col(f"s.{sk}")
                cond = e if cond is None else (cond & e)
            tgt_fields = {f.name: f.dataType for f in target.schema.fields}
            joined = target.alias("t").join(src_hit.alias("s"), cond, "inner")
            pieces.append(
                joined.select(
                    *[
                        F.expr(matched_assignments[c])
                        .cast(tgt_fields[c])
                        .alias(c)
                        if c in matched_assignments
                        else F.col(f"t.{c}").alias(c)
                        for c in target.columns
                    ]
                )
            )
        else:
            pieces.append(src_hit)
    elif when_matched is None:
        pieces.append(
            target.join(
                src_hit.select(
                    *[F.col(sk).alias(t) for t, sk in zip(keys, skeys)]
                ),
                keys,
                "left_semi",
            )
        )
    # "delete": matched+condition rows contribute nothing
    if when_not_matched == "insert":
        unmatched = source.join(tgt_keys, skeys, "left_anti")
        if insert_values:
            # INSERT (cols) VALUES (exprs): expressions over the SOURCE
            # row; target columns not named insert NULL
            tgt_fields = {f.name: f.dataType for f in target.schema.fields}
            pieces.append(
                unmatched.alias("s").select(
                    *[
                        F.expr(insert_values[c]).cast(tgt_fields[c]).alias(c)
                        if c in insert_values
                        else F.lit(None).cast(tgt_fields[c]).alias(c)
                        for c in target.columns
                    ]
                )
            )
        else:
            pieces.append(unmatched)
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def _merge_source(orders3: DataFrame) -> DataFrame:
    """Deterministic update+insert source for m01 (pure arithmetic — no
    randomness, reproducible in the oracle)."""
    updates = orders3.filter(F.col("o_orderkey") % UPDATE_MOD == 0).select(
        "o_orderkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    inserts = orders3.filter(F.col("o_orderkey") % INSERT_MOD == 0).select(
        (F.col("o_orderkey") + INSERT_OFFSET).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    return updates.unionByName(inserts)


def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m01: full MERGE (update + insert) into orders, then per-status
    accounting of the merged result — the set-based read-path form (one
    keyed shuffle, no table write). Its snapshot-native twin m05 runs the
    SAME merge through ``SnapshotTable.merge_rows`` (copy-on-write) under
    the SAME oracle."""
    orders3 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    merged = merge_upsert(orders3, _merge_source(orders3), ["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "sum_price"),
            davg("o_totalprice", "avg_price"),
        )
        .orderBy("o_orderstatus")
    )


def snapshot_merge_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m05: the SNAPSHOT-NATIVE merge (VERDICT r5 ask #4): the orders
    fixture is committed as a versioned table, ``SnapshotTable.merge_rows``
    applies m01's exact merge source as a stats-pruned copy-on-write
    rewrite (one atomic snapshot version), and the per-status accounting
    reads the POST-MERGE head — the UNCHANGED m01 oracle (ANSI MERGE
    semantics over the raw fixture) therefore verifies
    commit -> CoW merge -> snapshot read end to end. DELETE, UPDATE (m04)
    and MERGE share the one pruned-rewrite path (Iceberg/Delta parity);
    idempotence is pinned by tests/test_dml.py. This source's update keys
    span the whole keyspace (k % UPDATE_MOD), so the rewrite legitimately
    touches every file -- the narrow-predicate pruning evidence lives in
    m04 and test_dml."""
    import tempfile

    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders3 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="m05_") + "/orders")
    t.commit_clustered(
        orders3, cluster_by="o_orderkey", n_files=8, stats_for=["o_orderkey"]
    )
    t.merge_rows(_merge_source(orders3), ["o_orderkey"])
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice", "sum_price"),
            davg("o_totalprice", "avg_price"),
        )
        .orderBy("o_orderstatus")
    )


def _m02_snapshot_table(spark: SparkSession, sf_dir: str):
    """Build-once (per scale factor, stamped against the source fixture)
    two-generation snapshot table over orders: v1 = open orders only,
    v2 appends the finished ones. Shared by m02 (API time travel) and m03
    (SQL-text time travel). Staged into a UNIQUE temp dir and swapped
    into place under a flock (``sources/lake.py::_publish_local``) so
    concurrent bench/test processes sharing the lake dir can never read a
    half-built table or corrupt each other's staging; NOTE the swap
    protocol is LOCAL-FILESYSTEM only — at 100 TB on an object store,
    publish via the snapshot layer's own manifest pointer (it is already
    atomic per commit) instead of directory swaps."""
    import os

    from oss_data_lake_spark.sources.lake import (
        _built,
        _publish_local,
        _source_stamp,
        _staging_dir,
        lake_root,
    )
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    sf = os.path.basename(os.path.normpath(sf_dir))
    path = os.path.join(lake_root(), sf, "m02_snapshots")
    src = os.path.join(sf_dir, "orders.parquet")
    stamp = _source_stamp(src)
    if not _built(path, stamp):
        orders3 = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        tmp = _staging_dir(path)
        t = SnapshotTable(spark, tmp)
        t.commit(orders3.filter(F.col("o_orderstatus") == "O"))
        t.commit(
            orders3.filter(F.col("o_orderstatus") == "F"), mode="append"
        )
        with open(os.path.join(tmp, "_SOURCE_STAMP"), "w") as fh:
            fh.write(stamp)
        _publish_local(tmp, path, stamp)
    return SnapshotTable(spark, path)


def snapshot_time_travel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m02: TIME TRAVEL, driver-value-verified — commit the orders fixture
    into a snapshot table in two generations (v1 = open orders only, v2
    appends the finished ones), then read BOTH versions back and return
    per-(version, status) accounting.

    This upgrades the snapshot layer from pytest-only to oracle-checked:
    matching the oracle (which recomputes each version's membership from
    the raw fixture) proves the manifest machinery — version isolation,
    append visibility, as-of reads — end to end."""
    t = _m02_snapshot_table(spark, sf_dir)

    def per_version(v: int) -> DataFrame:
        return (
            t.read(version=v)
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n"),
                dsum("o_totalprice", "sum_price"),
            )
            .withColumn("version", F.lit(v).cast("long"))
        )

    # snapshot versions are 1-based: v1 = first commit, v2 = the append
    return (
        per_version(1)
        .unionByName(per_version(2))
        .select("version", "o_orderstatus", "n", "sum_price")
        .orderBy("version", "o_orderstatus")
    )


def snapshot_sql_time_travel_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m03: SQL-TEXT time travel — the Trino/Iceberg clause surface the
    reference's engine exposes (``FOR VERSION AS OF`` / ``FOR TIMESTAMP
    AS OF``, Trino 467 per reference docker-compose.yaml:153 over Iceberg,
    etc/catalog/iceberg.properties:14-20), served by
    ``sources.snapshots.sql_with_time_travel`` over the same
    two-generation snapshot table m02 builds. One statement reads v1 by
    VERSION NUMBER and v2 by COMMIT TIMESTAMP (resolved against the
    manifest log), so both clause forms and the timestamp→version
    resolution are value-verified against an oracle that re-derives each
    version's membership from the raw fixture."""
    import datetime

    from oss_data_lake_spark.sources.snapshots import sql_with_time_travel

    t = _m02_snapshot_table(spark, sf_dir)
    # any instant in [v2 commit, now) resolves to v2; +500 ms clears the
    # millisecond-rounding edge of the literal round-trip
    v2_ms = t._manifest(2)["committed_at_ms"] + 500
    v2_ts = datetime.datetime.fromtimestamp(
        v2_ms / 1000, tz=datetime.timezone.utc
    ).strftime("%Y-%m-%d %H:%M:%S.%f")
    text = f"""
        SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
               COUNT(DISTINCT o_orderstatus) AS n_status,
               {sql_dsum("o_totalprice")} AS sum_price
        FROM m02_orders FOR VERSION AS OF 1
        UNION ALL
        SELECT CAST(2 AS BIGINT), COUNT(*), COUNT(DISTINCT o_orderstatus),
               {sql_dsum("o_totalprice")}
        FROM m02_orders FOR TIMESTAMP AS OF '{v2_ts}'
        ORDER BY version
    """
    return sql_with_time_travel(spark, text, {"m02_orders": t})


DML_DELETE_LO, DML_DELETE_HI = "1996-01-01", "1996-12-31"
DML_UPDATE_BEFORE = "1994-01-01"
DML_DISCOUNT = "CAST(0.9 AS DOUBLE)"
DML_N_FILES = 12


def row_level_dml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m04: row-level DELETE + UPDATE over a snapshot table — the
    Trino/Iceberg-v2 DML surface (reference docker-compose.yaml:153) as
    stats-pruned copy-on-write (``SnapshotTable.delete_where`` /
    ``update_where``):

    1. orders committed CLUSTERED by o_orderdate (per-file bounds),
    2. DELETE one calendar year — only files whose date bounds intersect
       1996 are rewritten (file counts pinned by
       tests/test_dml.py::test_m04_rewrites_only_intersecting_files),
    3. UPDATE pre-1994 finished orders to a discounted price — again a
       bounded rewrite,
    4. read back the head and account per (year, status).

    Each step publishes ONE atomic snapshot version; the oracle re-derives
    final-row membership and values from the raw fixture, so a row lost,
    resurrected, double-updated, or double-deleted anywhere in the
    commit→prune→rewrite→publish chain breaks the value hash."""
    import tempfile

    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="m04_") + "/orders")
    t.commit_clustered(
        orders,
        cluster_by="o_orderdate",
        n_files=DML_N_FILES,
        stats_for=["o_orderdate"],
    )
    t.delete_where(
        f"o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'"
        f" AND TIMESTAMP '{DML_DELETE_HI} 00:00:00'",
        prune_column="o_orderdate",
        prune_lower=DML_DELETE_LO,
        prune_upper=DML_DELETE_HI,
        stats_for=["o_orderdate"],
    )
    t.update_where(
        f"o_orderstatus = 'F' AND o_orderdate <"
        f" TIMESTAMP '{DML_UPDATE_BEFORE} 00:00:00'",
        {"o_totalprice": f"o_totalprice * {DML_DISCOUNT}"},
        prune_column="o_orderdate",
        prune_upper=DML_UPDATE_BEFORE,
        stats_for=["o_orderdate"],
    )
    return (
        t.read()
        .groupBy(
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
        .orderBy("order_year", "o_orderstatus")
    )


SQL_DML_MERGE_MOD = 11


def sql_dml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m06: the SQL-TEXT DML statement surface end to end — the Trino
    persona typing four statements through ``Engine.sql``
    (``sources/dml_sql.py``) against a snapshot table:

    1. ``DELETE FROM`` one calendar year (extracted WHERE → pruned CoW),
    2. ``UPDATE ... SET`` a discount on dated finished orders,
    3. ``INSERT INTO ... VALUES`` two synthetic rows,
    4. NON-STAR ``MERGE INTO`` (the full Trino grammar, round 7):
       arbitrary ``SET col = expr`` assignments over a NARROW source
       (keys only, aliased differently from the target column) plus an
       ``INSERT (cols) VALUES (exprs)`` clause for an unmatched key.

    Each statement publishes one atomic snapshot version; the returned
    accounting reads the final head. The oracle replays the four
    statements as a CTE chain over the raw fixture, so a mis-parsed
    clause, wrong-pruned file, or mis-applied merge anywhere in the
    text→dispatch→rewrite pipeline breaks the value hash."""
    import tempfile

    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders4 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="m06_") + "/orders")
    t.commit_clustered(
        orders4, cluster_by="o_orderdate", n_files=12,
        stats_for=["o_orderdate"],
    )
    eng = Engine(spark=spark)
    eng._snapshot_tables["t_m06"] = t
    eng.sql(
        f"DELETE FROM t_m06 WHERE o_orderdate BETWEEN"
        f" TIMESTAMP '{DML_DELETE_LO} 00:00:00'"
        f" AND TIMESTAMP '{DML_DELETE_HI} 00:00:00'"
    )
    eng.sql(
        f"UPDATE t_m06 SET o_totalprice = o_totalprice * {DML_DISCOUNT}"
        f" WHERE o_orderstatus = 'F' AND o_orderdate <"
        f" TIMESTAMP '{DML_UPDATE_BEFORE} 00:00:00'"
    )
    eng.sql(
        "INSERT INTO t_m06 VALUES"
        " (90000001, 'X', TIMESTAMP '2030-01-01 00:00:00', CAST(111.0 AS DOUBLE)),"
        " (90000002, 'X', TIMESTAMP '2030-01-02 00:00:00', CAST(222.0 AS DOUBLE))"
    )
    eng.sql(f"""
        MERGE INTO t_m06 USING (
            SELECT o_orderkey AS src_key
            FROM t_m06 WHERE o_orderkey % {SQL_DML_MERGE_MOD} = 0
            UNION ALL SELECT 90000003
        ) AS s
        ON t_m06.o_orderkey = s.src_key
        WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M',
            o_totalprice = t_m06.o_totalprice * CAST(1.1 AS DOUBLE)
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_orderstatus, o_totalprice)
            VALUES (s.src_key, 'Z', CAST(9.5 AS DOUBLE))
    """)
    return (
        t.read()
        .groupBy(
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
        .orderBy("order_year", "o_orderstatus")
    )


M07_UPDATE_BEFORE = "1997-01-01"


def change_feed_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m07: the CHANGE DATA FEED (Delta CDF / Iceberg changelog parity,
    ``SnapshotTable.read_change_feed``) over a DML wave:

    1. orders committed clustered (v1),
    2. merge-on-read DELETE of one calendar year (v2 — the tombstone
       file IS the delete delta),
    3. merge-on-read UPDATE discounting finished orders before 1997
       (v3 — pre-image deletes + post-image inserts; the fixture's dates
       run 1995-2001, so this window is non-empty at every SF),
    4. append of two synthetic rows (v4 — plain inserts).

    The feed from v1 is aggregated per (commit_version, change_type,
    order_year, status); merge-on-read deltas are EXACT row sets (no
    copy-on-write file-boundary noise), so every gross count and signed
    price is re-derivable from the raw fixture — the oracle restates the
    wave as literal unions. A row mis-attributed to the wrong commit,
    change type, or pre/post image breaks the value hash."""
    import tempfile

    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="m07_") + "/orders")
    t.commit_clustered(
        orders,
        cluster_by="o_orderdate",
        n_files=DML_N_FILES,
        stats_for=["o_orderdate"],
    )
    t.delete_where_mor(
        f"o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'"
        f" AND TIMESTAMP '{DML_DELETE_HI} 00:00:00'",
        prune_column="o_orderdate",
        prune_lower=DML_DELETE_LO,
        prune_upper=DML_DELETE_HI,
    )
    t.update_where_mor(
        f"o_orderstatus = 'F' AND o_orderdate <"
        f" TIMESTAMP '{M07_UPDATE_BEFORE} 00:00:00'",
        {"o_totalprice": f"o_totalprice * {DML_DISCOUNT}"},
        prune_column="o_orderdate",
        prune_upper=M07_UPDATE_BEFORE,
    )
    # r15: a JVM-native VALUES LocalRelation — ONE write task, ZERO
    # Python workers. createDataFrame pickles the rows into a 32-slice
    # Python RDD (32 near-empty write tasks), and the first r15 fix —
    # .coalesce(1) on that RDD — was a 4 s REGRESSION: the single write
    # task then evaluated all 32 parent slices SEQUENTIALLY, each paying
    # a JVM-to-Python-worker round (~130 ms apiece, ABBA-measured
    # 0.6 -> 4.6 s per append). Same committed rows and types.
    t.commit(
        spark.sql(
            "SELECT o_orderkey, o_orderstatus,"
            " to_timestamp(o_orderdate) AS o_orderdate, o_totalprice"
            " FROM VALUES"
            " (CAST(90000001 AS BIGINT), 'X', '2030-01-01 00:00:00', 111.0D),"
            " (CAST(90000002 AS BIGINT), 'X', '2030-01-02 00:00:00', 222.0D)"
            " AS t(o_orderkey, o_orderstatus, o_orderdate, o_totalprice)"
        ),
        mode="append",
    )
    feed = t.read_change_feed(1)
    return (
        feed.groupBy(
            F.col("_commit_version").alias("commit_version"),
            F.col("_change_type").alias("change_type"),
            F.date_format("o_orderdate", "yyyy").alias("order_year"),
            "o_orderstatus",
        )
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
        .orderBy("commit_version", "change_type", "order_year", "o_orderstatus")
    )


M08_BASE_MOD = 10  # v1 = keys % 10 < 5; landing slice = keys % 10 in (8, 9)


def lifecycle_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m08: the table LIFECYCLE statements end to end (Delta RESTORE /
    SHALLOW CLONE / COPY INTO parity — the Iceberg rollback +
    snapshot-ref + idempotent-ingest workflows the reference reaches
    through Trino procedures):

    1. commit v1 = orders with key%10 < 5; append v2 = the rest,
    2. ``CREATE TABLE ... SHALLOW CLONE t VERSION AS OF 2`` — a
       zero-copy clone referencing v2's files absolutely,
    3. ``RESTORE TABLE t TO VERSION AS OF 1`` — the base table rolls
       back to the v1 file set (a new commit; clone unaffected),
    4. a landing dir holding the key%10 ∈ {8,9} slice as parquet,
       ``COPY INTO t FROM landing`` run TWICE — the second run must be
       a file-level no-op (double-load breaks the value hash),

    then aggregates BOTH surfaces (restored+copied base, clone) per
    status in long format. The oracle restates each surface as plain
    set algebra over the raw fixture: a restore exposing the wrong file
    set, a clone resolving the wrong root, or a non-idempotent re-copy
    all break the hash."""
    import tempfile

    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders4 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="m08_")
    t = SnapshotTable(spark, root + "/orders")
    t.commit_clustered(
        orders4.filter(F.col("o_orderkey") % M08_BASE_MOD < 5),
        cluster_by="o_orderdate",
        n_files=6,
        stats_for=["o_orderdate"],
    )
    t.commit(
        orders4.filter(F.col("o_orderkey") % M08_BASE_MOD >= 5),
        mode="append",
    )
    eng = Engine(spark=spark)
    eng._snapshot_tables["t_m08"] = t
    clone = t.shallow_clone_to(root + "/clone", version=2)
    eng.sql("RESTORE TABLE t_m08 TO VERSION AS OF 1")
    landing = root + "/landing"
    orders4.filter(
        (F.col("o_orderkey") % M08_BASE_MOD).isin(8, 9)
    ).write.parquet(landing + "/batch1")
    eng.sql(f"COPY INTO t_m08 FROM '{landing}'")
    eng.sql(f"COPY INTO t_m08 FROM '{landing}'")  # must no-op

    def agg(df: DataFrame, surface: str) -> DataFrame:
        return df.groupBy(
            F.lit(surface).alias("surface"), "o_orderstatus"
        ).agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))

    return (
        agg(t.read(), "restored_copied")
        .unionByName(agg(clone.read(), "clone"))
        .orderBy("surface", "o_orderstatus")
    )




M11_MAX_MOD = 97


def subquery_dml_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m11: DML with SUBQUERY conditions (Trino parity, round 8 —
    ``delete_where`` / ``update_where`` with the SQL layer's ``run_sql``):
    against a snapshot of orders,

    1. ``DELETE ... WHERE o_custkey IN (SELECT c_custkey FROM customers
       WHERE c_acctbal < 0)`` — a semi-join delete keyed by another
       relation,
    2. ``UPDATE ... SET o_totalprice = o_totalprice * 0.9 WHERE
       o_totalprice > (SELECT max(...) FROM t WHERE o_orderkey % 97 =
       0)`` — a scalar subquery reading the target's own PRE-statement
       state (max, not avg: exact under any summation order, so the
       boundary comparison is oracle-stable).

    The oracle replays both statements as a CTE chain over the raw
    fixtures; a wrong subquery plan, NULL-semantics slip, or a scalar
    read of the wrong snapshot breaks the value hash."""
    import tempfile

    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    t = SnapshotTable(spark, tempfile.mkdtemp(prefix="m11_") + "/orders")
    t.commit_clustered(
        orders, cluster_by="o_orderkey", n_files=8,
        stats_for=["o_orderkey"],
    )
    load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    ).createOrReplaceTempView("cust_m11")
    eng = Engine(spark=spark)
    eng._snapshot_tables["t_m11"] = t
    eng.sql(
        "DELETE FROM t_m11 WHERE o_custkey IN"
        " (SELECT c_custkey FROM cust_m11 WHERE c_acctbal < 0)"
    )
    eng.sql(
        f"UPDATE t_m11 SET o_totalprice = o_totalprice * {DML_DISCOUNT}"
        f" WHERE o_totalprice > (SELECT max(o_totalprice) FROM t_m11"
        f" WHERE o_orderkey % {M11_MAX_MOD} = 0)"
    )
    return (
        t.read()
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), dsum("o_totalprice", "sum_price"))
        .orderBy("o_orderstatus")
    )

M12_DEL_MOD = 7  # the head view must reflect this post-view DELETE


def views_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m12: persistent SQL VIEWs (Trino-over-Iceberg view DDL — the
    saved-query artifact the reference stack's BI users create;
    reference RUNBOOK §3.3 fronts arbitrary BI SQL). Against a snapshot
    of orders:

    1. ``CREATE VIEW v_m12_head`` = per-status accounting over the
       table (logical: SELECT text in durable catalog metadata, no
       materialization),
    2. ``CREATE VIEW v_m12_pin`` = the SAME accounting pinned with
       ``FOR VERSION AS OF 1`` inside the body (AS-OF composes through
       views),
    3. DML AFTER both creates — ``DELETE WHERE o_orderkey % 7 = 0`` —
       so the head view must re-plan over the new snapshot while the
       pinned view still reads v1,
    4. ``CREATE VIEW v_m12_top`` stacked ON v_m12_head (nested views
       expand depth-first),

    then reads both surfaces through the views in long format. A stale
    (accidentally materialized) head view, a pin that follows the head,
    or a nested expansion that resolves the wrong definition all break
    the value hash."""
    import tempfile

    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    orders3 = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="m12_")
    t = SnapshotTable(spark, root + "/orders")
    t.commit_clustered(
        orders3, cluster_by="o_orderkey", n_files=8, stats_for=["o_orderkey"]
    )
    eng = Engine(spark=spark, warehouse_dir=root + "/wh")
    eng._snapshot_tables["t_m12"] = t
    eng.sql(f"""
        CREATE VIEW v_m12_head AS
        SELECT o_orderstatus, COUNT(*) AS n,
               {sql_dsum("o_totalprice")} AS sum_price
        FROM t_m12 GROUP BY o_orderstatus
    """)
    eng.sql(f"""
        CREATE VIEW v_m12_pin AS
        SELECT COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
        FROM t_m12 FOR VERSION AS OF 1
    """)
    eng.sql(f"DELETE FROM t_m12 WHERE o_orderkey % {M12_DEL_MOD} = 0")
    eng.sql(
        "CREATE VIEW v_m12_top AS "
        "SELECT 'head' AS surface, o_orderstatus, n, sum_price "
        "FROM v_m12_head"
    )
    return eng.sql(
        "SELECT surface, o_orderstatus, n, sum_price FROM v_m12_top "
        "UNION ALL "
        "SELECT 'pinned', 'ALL', n, sum_price FROM v_m12_pin "
        "ORDER BY surface, o_orderstatus"
    )


QUERIES = {
    "m01_merge_upsert_orders": merge_upsert_orders,
    "m02_snapshot_time_travel": snapshot_time_travel_query,
    "m03_sql_time_travel": snapshot_sql_time_travel_query,
    "m04_row_level_dml_orders": row_level_dml_orders,
    "m05_snapshot_merge_orders": snapshot_merge_orders,
    "m06_sql_dml_orders": sql_dml_orders,
    "m07_change_feed_orders": change_feed_orders,
    "m08_lifecycle_orders": lifecycle_orders,
    "m11_subquery_dml_orders": subquery_dml_orders,
    "m12_views_orders": views_orders,
}

_SRC_SQL = f"""
        SELECT o_orderkey, 'U' AS o_orderstatus,
               o_totalprice * 1.1 AS o_totalprice
        FROM orders WHERE o_orderkey % {UPDATE_MOD} = 0
        UNION ALL
        SELECT o_orderkey + {INSERT_OFFSET}, 'N', o_totalprice
        FROM orders WHERE o_orderkey % {INSERT_MOD} = 0
"""

_MERGE_ACCOUNTING_SQL = f"""
        WITH src AS ({_SRC_SQL}),
        merged AS (
            SELECT * FROM src
            UNION ALL
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        )
        SELECT o_orderstatus, COUNT(*) AS n,
               {sql_dsum("o_totalprice")} AS sum_price,
               {sql_davg("o_totalprice")} AS avg_price
        FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
    """

ORACLES = {
    # m03: same membership re-derivation as m02, shaped to the SQL-text
    # query (one row per version; n_status checks DISTINCT through the
    # time-travel view)
    "m03_sql_time_travel": f"""
        SELECT CAST(1 AS BIGINT) AS version, COUNT(*) AS n,
               COUNT(DISTINCT o_orderstatus) AS n_status,
               {sql_dsum("o_totalprice")} AS sum_price
        FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT CAST(2 AS BIGINT), COUNT(*), COUNT(DISTINCT o_orderstatus),
               {sql_dsum("o_totalprice")}
        FROM orders WHERE o_orderstatus IN ('O', 'F')
        ORDER BY version
    """,
    # re-derives each snapshot version's membership from the raw fixture:
    # v1 = the first commit's filter, v2 = v1's files + the appended commit
    "m02_snapshot_time_travel": f"""
        SELECT CAST(1 AS BIGINT) AS version, o_orderstatus,
               COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
        FROM orders WHERE o_orderstatus = 'O'
        GROUP BY o_orderstatus
        UNION ALL
        SELECT CAST(2 AS BIGINT), o_orderstatus,
               COUNT(*), {sql_dsum("o_totalprice")}
        FROM orders WHERE o_orderstatus IN ('O', 'F')
        GROUP BY o_orderstatus
        ORDER BY version, o_orderstatus
    """,
    # m04: final-state re-derivation — the DELETE becomes a NOT-BETWEEN
    # filter, the UPDATE a CASE over the survivors; matching values prove
    # the two pruned CoW rewrites touched exactly the right rows
    "m04_row_level_dml_orders": f"""
        WITH surv AS (
            SELECT o_orderdate, o_orderstatus,
                   CASE WHEN o_orderstatus = 'F'
                             AND o_orderdate < TIMESTAMP '{DML_UPDATE_BEFORE} 00:00:00'
                        THEN o_totalprice * {DML_DISCOUNT}
                        ELSE o_totalprice END AS o_totalprice
            FROM orders
            WHERE NOT (o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'
                                       AND TIMESTAMP '{DML_DELETE_HI} 00:00:00')
        )
        SELECT strftime(o_orderdate, '%Y') AS order_year, o_orderstatus,
               COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
        FROM surv
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    # m06: the four SQL-text statements replayed as a CTE chain — s1
    # deletes the year, s2 applies the dated discount, s3 unions the two
    # inserted rows, s4 applies the merge's re-pricing
    "m06_sql_dml_orders": f"""
        WITH s1 AS (
            SELECT o_orderkey, o_orderstatus, o_orderdate, o_totalprice
            FROM orders
            WHERE NOT (o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'
                                       AND TIMESTAMP '{DML_DELETE_HI} 00:00:00')
        ),
        s2 AS (
            SELECT o_orderkey, o_orderstatus, o_orderdate,
                   CASE WHEN o_orderstatus = 'F'
                             AND o_orderdate < TIMESTAMP '{DML_UPDATE_BEFORE} 00:00:00'
                        THEN o_totalprice * {DML_DISCOUNT}
                        ELSE o_totalprice END AS o_totalprice
            FROM s1
        ),
        s3 AS (
            SELECT * FROM s2
            UNION ALL
            SELECT 90000001, 'X', TIMESTAMP '2030-01-01 00:00:00',
                   CAST(111.0 AS DOUBLE)
            UNION ALL
            SELECT 90000002, 'X', TIMESTAMP '2030-01-02 00:00:00',
                   CAST(222.0 AS DOUBLE)
        ),
        s4 AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % {SQL_DML_MERGE_MOD} = 0
                        THEN 'M' ELSE o_orderstatus END AS o_orderstatus,
                   o_orderdate,
                   CASE WHEN o_orderkey % {SQL_DML_MERGE_MOD} = 0
                        THEN o_totalprice * CAST(1.1 AS DOUBLE)
                        ELSE o_totalprice END AS o_totalprice
            FROM s3
            UNION ALL
            SELECT 90000003, 'Z', NULL, CAST(9.5 AS DOUBLE)
        )
        SELECT strftime(o_orderdate, '%Y') AS order_year, o_orderstatus,
               COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
        FROM s4
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    # m11: the two subquery statements replayed as a CTE chain — s1
    # drops orders of negative-balance customers, s2 discounts rows above
    # the (exact) max of the surviving %97 keys, read from s1 = the
    # UPDATE's pre-statement state
    "m11_subquery_dml_orders": f"""
        WITH s1 AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
            FROM orders
            WHERE o_custkey NOT IN (
                SELECT c_custkey FROM customer WHERE c_acctbal < 0
            )
        ),
        thr AS (
            SELECT max(o_totalprice) AS m FROM s1
            WHERE o_orderkey % {M11_MAX_MOD} = 0
        ),
        s2 AS (
            SELECT o_orderstatus,
                   CASE WHEN o_totalprice > (SELECT m FROM thr)
                        THEN o_totalprice * {DML_DISCOUNT}
                        ELSE o_totalprice END AS o_totalprice
            FROM s1
        )
        SELECT o_orderstatus, COUNT(*) AS n,
               {sql_dsum("o_totalprice")} AS sum_price
        FROM s2
        GROUP BY 1
        ORDER BY 1
    """,
    # m12: both view surfaces restated as plain set algebra — the head
    # view is the post-DELETE accounting, the pinned view is v1's
    "m12_views_orders": f"""
        WITH head AS (
            SELECT o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % {M12_DEL_MOD} <> 0
        )
        SELECT * FROM (
            SELECT 'head' AS surface, o_orderstatus, COUNT(*) AS n,
                   {sql_dsum("o_totalprice")} AS sum_price
            FROM head GROUP BY o_orderstatus
            UNION ALL
            SELECT 'pinned', 'ALL', COUNT(*),
                   {sql_dsum("o_totalprice")}
            FROM orders
        )
        ORDER BY surface, o_orderstatus
    """,
    "m01_merge_upsert_orders": _MERGE_ACCOUNTING_SQL,
    # m05 = the snapshot-native path under the IDENTICAL oracle: matching
    # both proves the CoW merge equals the set-based semantics
    "m05_snapshot_merge_orders": _MERGE_ACCOUNTING_SQL,
    # m07: the change feed restated as literal unions — v2 deletes the
    # 1996 rows (merge-on-read tombstones), v3 emits pre-image deletes
    # and discounted post-image inserts for dated 'F' orders (rows
    # already tombstoned in v2 are NOT update candidates; disjoint here
    # by date anyway), v4 inserts the two appended rows
    "m07_change_feed_orders": f"""
        WITH del96 AS (
            SELECT o_orderdate, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'
                                  AND TIMESTAMP '{DML_DELETE_HI} 00:00:00'
        ),
        updf AS (
            SELECT o_orderdate, o_orderstatus, o_totalprice FROM orders
            WHERE o_orderstatus = 'F'
              AND o_orderdate < TIMESTAMP '{M07_UPDATE_BEFORE} 00:00:00'
              AND NOT (o_orderdate BETWEEN TIMESTAMP '{DML_DELETE_LO} 00:00:00'
                                       AND TIMESTAMP '{DML_DELETE_HI} 00:00:00')
        ),
        feed AS (
            SELECT 2 AS commit_version, 'delete' AS change_type,
                   o_orderdate, o_orderstatus, o_totalprice FROM del96
            UNION ALL
            SELECT 3, 'delete', o_orderdate, o_orderstatus, o_totalprice
            FROM updf
            UNION ALL
            SELECT 3, 'insert', o_orderdate, o_orderstatus,
                   o_totalprice * {DML_DISCOUNT}
            FROM updf
            UNION ALL
            SELECT 4, 'insert', TIMESTAMP '2030-01-01 00:00:00', 'X',
                   CAST(111.0 AS DOUBLE)
            UNION ALL
            SELECT 4, 'insert', TIMESTAMP '2030-01-02 00:00:00', 'X',
                   CAST(222.0 AS DOUBLE)
        )
        SELECT CAST(commit_version AS BIGINT) AS commit_version,
               change_type,
               strftime(o_orderdate, '%Y') AS order_year, o_orderstatus,
               COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
        FROM feed
        GROUP BY 1, 2, 3, 4
        ORDER BY 1, 2, 3, 4
    """,
    # m08: each lifecycle surface restated as set algebra — the clone at
    # source-v2 is the whole fixture; the restored base is v1's slice
    # plus ONE copy of the landing slice (idempotent re-run adds nothing)
    "m08_lifecycle_orders": f"""
        WITH restored_copied AS (
            SELECT o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % {M08_BASE_MOD} < 5
            UNION ALL
            SELECT o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % {M08_BASE_MOD} IN (8, 9)
        )
        SELECT * FROM (
            SELECT 'restored_copied' AS surface, o_orderstatus,
                   COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
            FROM restored_copied GROUP BY 2
            UNION ALL
            SELECT 'clone', o_orderstatus,
                   COUNT(*) AS n, {sql_dsum("o_totalprice")} AS sum_price
            FROM orders GROUP BY 2
        )
        ORDER BY surface, o_orderstatus
    """,
}
