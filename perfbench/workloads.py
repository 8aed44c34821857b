"""The three workloads: ``bi_sql``, ``lake_dml`` and ``corpus_batch``.

Each workload makes its op sequence from the seed alone (the ``*_block``
functions are pure and Spark-free), runs one op at a time through the
program's public surface, and checks every result afterwards against
DuckDB. Ops come in blocks with a fixed mix of op kinds, so the median
of a run does not depend on which kinds a seed happened to draw.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import duckdb

from oss_data_lake_spark.functions.deterministic import sql_davg, sql_dsum


def zipf_pick(rng: random.Random, values, s: float = 1.1):
    """One of ``values``, the first ones far more often than the last."""
    weights = [1.0 / (i + 1) ** s for i in range(len(values))]
    return rng.choices(list(values), weights=weights)[0]


def _block_rng(seed: int, workload: str, block: int) -> random.Random:
    return random.Random(f"{workload}:{seed}:{block}")


class Workload:
    """What the runner needs from a workload: ``setup`` (returns the
    warm-up ops), ``block(i)``, ``run(op)`` and ``check(ops)``."""

    name = ""
    # whole blocks a run measures even when --seconds passes sooner: a
    # fixed block count keeps a fast and a slow run's medians comparable
    min_blocks = 1

    def __init__(self, spark, ctx):
        self.spark, self.ctx = spark, ctx
        self.table_dirs: list[str] = []

    def blocks(self):
        i = 0
        while True:
            yield self.block(i)
            i += 1

    def span_name(self, op: dict) -> str:
        return f"op.{op['name']}"

    def extra_metrics(self, ops: list[dict], wall: float) -> dict[str, float]:
        return {}


# ---------------------------------------------------------------- bi_sql
EVENT_TYPES = ("purchase", "click", "view", "signup", "error")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("ASIA", "EUROPE", "AMERICA", "AFRICA", "MIDDLE EAST")
SNAP_DELETE = "o_orderstatus = 'P' AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'"


def _bi_templates() -> dict[str, tuple[str, str | None]]:
    """name -> (Engine.sql text, DuckDB text or None when identical)."""
    month = "date_format(o_orderdate, 'yyyy-MM')"
    return {
        "flagship_daily_avg": (
            "SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, "
            f"{sql_davg('value')} AS avg_value FROM events "
            "WHERE event_type = '{et}' GROUP BY CAST(ts AS DATE)", None),
        "tpch_q1": (
            "SELECT l_returnflag, l_linestatus, "
            f"{sql_dsum('l_quantity')} AS sum_qty, "
            f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price, "
            f"{sql_davg('l_discount')} AS avg_disc, COUNT(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '{cut} 00:00:00' "
            "GROUP BY l_returnflag, l_linestatus", None),
        "star_revenue_by_nation": (
            "SELECT n_name, COUNT(*) AS n, "
            f"{sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = '{region}' AND o_orderdate >= TIMESTAMP '{year}-01-01 00:00:00' "
            "AND o_orderdate < TIMESTAMP '{next_year}-01-01 00:00:00' GROUP BY n_name", None),
        "topk_orders": (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            "WHERE o_orderpriority = '{pri}' "
            "ORDER BY o_totalprice DESC, o_orderkey LIMIT {k}", None),
        "ma7_window": (
            "SELECT day, n, AVG(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING "
            "AND CURRENT ROW) AS ma7 FROM (SELECT CAST(ts AS DATE) AS day, "
            "COUNT(*) AS n FROM events WHERE event_type = '{et}' "
            "GROUP BY CAST(ts AS DATE)) d", None),
        "trino_dialect": (
            "SELECT user_id % 10 AS bucket, "
            "date_diff('day', TIMESTAMP '2024-01-01 00:00:00', min(ts)) AS first_day, "
            "approx_distinct(event_type) AS n_types, "
            "format_datetime(max(ts), 'yyyy-MM-dd') AS last_day "
            "FROM events WHERE value >= {v} GROUP BY user_id % 10",
            "SELECT user_id % 10 AS bucket, "
            "datesub('day', TIMESTAMP '2024-01-01 00:00:00', min(ts)) AS first_day, "
            "count(DISTINCT event_type) AS n_types, "
            "strftime(max(ts), '%Y-%m-%d') AS last_day "
            "FROM events WHERE value >= {v} GROUP BY user_id % 10"),
        "pruned_range": (
            f"SELECT {month} AS order_month, COUNT(*) AS n, "
            f"{sql_dsum('o_totalprice')} AS sum_price FROM orders_snap "
            "WHERE o_orderdate BETWEEN TIMESTAMP '{lo} 00:00:00' AND TIMESTAMP '{hi} 00:00:00' "
            f"GROUP BY {month}",
            "SELECT strftime(o_orderdate, '%Y-%m') AS order_month, COUNT(*) AS n, "
            f"{sql_dsum('o_totalprice')} AS sum_price FROM orders_snap "
            "WHERE o_orderdate BETWEEN TIMESTAMP '{lo} 00:00:00' AND TIMESTAMP '{hi} 00:00:00' "
            "GROUP BY strftime(o_orderdate, '%Y-%m')"),
        "time_travel": (
            "SELECT o_orderstatus, COUNT(*) AS n, "
            f"{sql_dsum('o_totalprice')} AS total FROM orders_snap FOR VERSION AS OF 1 "
            "WHERE o_orderdate < TIMESTAMP '{year}-01-01 00:00:00' GROUP BY o_orderstatus",
            "SELECT o_orderstatus, COUNT(*) AS n, "
            f"{sql_dsum('o_totalprice')} AS total FROM orders "
            "WHERE o_orderdate < TIMESTAMP '{year}-01-01 00:00:00' GROUP BY o_orderstatus"),
        "show_columns": (
            "SHOW COLUMNS FROM orders_snap",
            "SELECT column_name AS \"Column\" FROM information_schema.columns "
            "WHERE table_name = 'orders'"),
        "information_schema_tables": (
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_name = '{table}'", None),
    }


BI_TEMPLATES = _bi_templates()


def _bi_params(rng: random.Random) -> dict[str, dict]:
    year = zipf_pick(rng, range(1997, 2001))
    lo_year = zipf_pick(rng, range(1996, 2001))
    lo_month = zipf_pick(rng, range(1, 10))
    return {
        "flagship_daily_avg": {"et": zipf_pick(rng, EVENT_TYPES)},
        "tpch_q1": {"cut": str(dt.date(1998, 9, 2) - dt.timedelta(days=zipf_pick(rng, range(60, 130, 10))))},
        "star_revenue_by_nation": {"region": zipf_pick(rng, REGIONS), "year": year, "next_year": year + 1},
        "topk_orders": {"pri": zipf_pick(rng, PRIORITIES), "k": zipf_pick(rng, (10, 20, 50))},
        "ma7_window": {"et": zipf_pick(rng, EVENT_TYPES)},
        "trino_dialect": {"v": zipf_pick(rng, (0, 10, 25, 50, 100))},
        "pruned_range": {"lo": f"{lo_year}-{lo_month:02d}-01", "hi": f"{lo_year}-{lo_month + 3:02d}-01"},
        "time_travel": {"year": zipf_pick(rng, range(1997, 2002))},
        "show_columns": {},
        "information_schema_tables": {"table": "orders_snap"},
    }


def bi_block(seed: int, block: int) -> list[dict]:
    """One op per template, in a seeded order, with Zipf-drawn literals."""
    rng = _block_rng(seed, "bi_sql", block)
    params = _bi_params(rng)
    names = list(BI_TEMPLATES)
    rng.shuffle(names)
    ops = []
    for name in names:
        spark_sql, duck_sql = BI_TEMPLATES[name]
        p = params[name]
        ops.append({
            "name": name, "cls": "read", "sql": spark_sql.format(**p),
            "oracle": (duck_sql or spark_sql).format(**p),
        })
    return ops


class BiSql(Workload):
    """The BI persona: short SELECTs through ``Engine.sql``, rows fetched
    to the client."""

    name = "bi_sql"

    def setup(self) -> list[dict]:
        from oss_data_lake_spark.engine import Engine
        from oss_data_lake_spark.operators.lake import orders_clustered

        self.eng = Engine(spark=self.spark, warehouse_dir=self.ctx.warehouse)
        self.eng.register_fixtures(self.ctx.sf_dir)
        snap = orders_clustered(self.spark, self.ctx.sf_dir)
        self.eng.register_snapshot_table("orders_snap", snap.path)
        self.eng.sql(f"DELETE FROM orders_snap WHERE {SNAP_DELETE}").collect()
        self.table_dirs = [snap.path]
        return bi_block(self.ctx.seed, -1)

    def block(self, i: int) -> list[dict]:
        return bi_block(self.ctx.seed, i)

    def run(self, op: dict) -> None:
        df = self.eng.sql(op["sql"])
        op["rows"], op["cols"] = df.collect(), df.columns

    def check(self, ops: list[dict]) -> list[tuple[str, str]]:
        from tests.parity import compare_rows, duckdb_con

        con = duckdb_con(self.ctx.sf_dir)
        con.execute(f"CREATE VIEW orders_snap AS SELECT * FROM orders WHERE NOT ({SNAP_DELETE})")
        bad = []
        for op in ops:
            if op.get("error"):
                continue
            cols, rows = op["cols"], [tuple(r) for r in op["rows"]]
            if op["name"] == "show_columns":
                i = cols.index("Column")
                cols, rows = ["Column"], [(r[i],) for r in rows]
            res = compare_rows(cols, rows, con, op["oracle"])
            if not res["ok"]:
                bad.append((op["name"], res["detail"]))
        return bad


# -------------------------------------------------------------- lake_dml
TICKERS = tuple(f"T{i:03d}" for i in range(200))
FIRST_MONDAY = dt.date(2025, 1, 6)
INITIAL_WEEKS = 1
ORDER_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority")
FACT_DDL = (
    "CREATE TABLE fact_price (ticker VARCHAR, ts TIMESTAMP(3) WITH TIME ZONE, "
    "open DOUBLE, high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT, "
    "ingest_date VARCHAR) WITH (partitioning = ARRAY['day(ts)'])"
)
DUCK_FACT_DDL = (
    "CREATE TABLE fact_price (ticker VARCHAR, ts TIMESTAMP, open DOUBLE, "
    "high DOUBLE, low DOUBLE, close DOUBLE, volume BIGINT, ingest_date VARCHAR)"
)
# 5 writes (with the maintenance step) and 8 reads per block: 3 point
# lookups and 5 range aggregates, so the read median falls inside the
# range reads' cluster of times rather than at its edge
LAKE_MIX = ("ingest", "merge", "delete", "update", "lookup_order", "lookup_order",
            "lookup_price", "price_range", "price_range", "price_range", "order_range",
            "order_range")
MAINTENANCE = (("optimize", "OPTIMIZE {t}"),
               ("expire", "ALTER TABLE {t} EXPIRE SNAPSHOTS KEEP LAST 2"),
               ("vacuum", "VACUUM {t} RETAIN 0 HOURS"))


def _week(w: int) -> dt.date:
    return FIRST_MONDAY + dt.timedelta(days=7 * w)


def _ts(d: dt.date) -> str:
    return f"TIMESTAMP '{d.isoformat()} 00:00:00'"


class LakeState:
    """What the op generator knows of the tables: the weeks ingested, the
    next new order key, the recent order keys and the keys by recency."""

    def __init__(self, recent_keys: list[int], n_orders: int):
        self.weeks = INITIAL_WEEKS
        self.next_key = n_orders
        self.by_recency = recent_keys
        self.last_merged: list[int] = []


def _merge_source(rows: list[tuple]) -> str:
    values = ", ".join(
        f"({k}, {c}, '{s}', {p:.2f}, '{d} 00:00:00', '{r}')" for k, c, s, p, d, r in rows
    )
    return (
        "SELECT CAST(k AS BIGINT) AS o_orderkey, CAST(c AS BIGINT) AS o_custkey, "
        "s AS o_orderstatus, CAST(p AS DOUBLE) AS o_totalprice, "
        "CAST(d AS TIMESTAMP) AS o_orderdate, r AS o_orderpriority "
        f"FROM (VALUES {values}) AS v(k, c, s, p, d, r)"
    )


def _lake_op(kind: str, rng: random.Random, st: LakeState) -> dict:
    recent_week = st.weeks - 1 - zipf_pick(rng, range(min(st.weeks, 4)))
    if kind == "ingest":
        w = st.weeks
        st.weeks += 1
        return {"name": kind, "cls": "write", "week": w, "seed": rng.randrange(1 << 30)}
    if kind == "merge":
        keys = {st.by_recency[zipf_pick(rng, range(200))] for _ in range(10)}
        keys |= {st.next_key + i for i in range(10)}
        st.next_key += 10
        rows = [
            (k, rng.randrange(1500), rng.choice("FOP"), round(rng.uniform(1000, 500000), 2),
             dt.date(2001, 8, 1) - dt.timedelta(days=zipf_pick(rng, range(60))),
             rng.choice(PRIORITIES))
            for k in sorted(keys)
        ]
        st.last_merged = sorted(keys)
        src = _merge_source(rows)
        return {
            "name": kind, "cls": "write", "source": rows,
            "sql": f"MERGE INTO orders USING ({src}) AS src ON orders.o_orderkey = "
                   "src.o_orderkey WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
            "oracle": [f"DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM ({src}))",
                       f"INSERT INTO orders SELECT * FROM ({src})"],
        }
    if kind == "delete":
        lo = _week(recent_week) + dt.timedelta(days=rng.randrange(5))
        tickers = ", ".join(f"'{t}'" for t in rng.sample(TICKERS, 3))
        sql = (f"DELETE FROM fact_price WHERE ticker IN ({tickers}) AND ts >= {_ts(lo)} "
               f"AND ts < {_ts(lo + dt.timedelta(days=1))}")
        return {"name": kind, "cls": "write", "sql": sql, "oracle": [sql]}
    if kind == "update":
        hi = dt.date(2001, 8, 1) - dt.timedelta(days=30 * zipf_pick(rng, range(12)))
        sql = (f"UPDATE orders SET o_orderstatus = 'F', o_totalprice = o_totalprice + 1.0 "
               f"WHERE o_orderdate >= {_ts(hi - dt.timedelta(days=30))} AND o_orderdate < {_ts(hi)} "
               f"AND o_orderpriority = '{rng.choice(PRIORITIES)}'")
        return {"name": kind, "cls": "write", "sql": sql, "oracle": [sql]}
    if kind == "lookup_order":
        pool = st.last_merged if st.last_merged and rng.random() < 0.5 else st.by_recency
        k = rng.choice(pool[:200])
        sql = (f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
               f"CAST(o_orderdate AS DATE) AS d, o_orderpriority FROM orders WHERE o_orderkey = {k}")
    elif kind == "lookup_price":
        day = _week(recent_week) + dt.timedelta(days=rng.randrange(5))
        sql = (f"SELECT ticker, CAST(ts AS DATE) AS d, open, close, volume FROM fact_price "
               f"WHERE ticker = '{rng.choice(TICKERS)}' AND ts >= {_ts(day)} "
               f"AND ts < {_ts(day + dt.timedelta(days=1))}")
    elif kind == "price_range":
        lo = _week(recent_week) + dt.timedelta(days=rng.randrange(5))
        span = zipf_pick(rng, (1, 2, 3, 5, 7))
        sql = (f"SELECT ticker, COUNT(*) AS n, {sql_davg('close')} AS avg_close FROM fact_price "
               f"WHERE ts >= {_ts(lo)} AND ts < {_ts(lo + dt.timedelta(days=span))} GROUP BY ticker")
    else:  # order_range
        hi = dt.date(2001, 8, 1) - dt.timedelta(days=30 * zipf_pick(rng, range(24)))
        sql = (f"SELECT o_orderstatus, COUNT(*) AS n, {sql_dsum('o_totalprice')} AS revenue "
               f"FROM orders WHERE o_orderdate >= {_ts(hi - dt.timedelta(days=90))} "
               f"AND o_orderdate < {_ts(hi)} GROUP BY o_orderstatus")
    return {"name": kind, "cls": "read", "sql": sql, "oracle": sql}


def lake_block(seed: int, block: int, st: LakeState) -> list[dict]:
    """The fixed op mix in a seeded order, then one maintenance step that
    rotates over OPTIMIZE, EXPIRE SNAPSHOTS and VACUUM and the two tables."""
    rng = _block_rng(seed, "lake_dml", block)
    kinds = list(LAKE_MIX)
    rng.shuffle(kinds)
    ops = [_lake_op(k, rng, st) for k in kinds]
    kind, step = MAINTENANCE[block % 3]
    ops.append({"name": kind, "cls": "write", "oracle": [],
                "sql": step.format(t=("fact_price", "orders")[block % 2])})
    return ops


class LakeDml(Workload):
    """The ingest lifecycle plus row-level DML, with reads of the same
    tables in between."""

    name = "lake_dml"
    # with four blocks the tail (11th slowest of 52 ops) falls inside the
    # UPDATE cluster; with three it fell between UPDATE and DELETE
    min_blocks = 4

    def setup(self) -> list[dict]:
        import pyarrow.parquet as pq

        from oss_data_lake_spark.engine import Engine
        from oss_data_lake_spark.operators.lake import orders_clustered

        orders = pq.read_table(os.path.join(self.ctx.sf_dir, "orders.parquet"),
                               columns=["o_orderkey", "o_orderdate"]).to_pandas()
        recent = orders.sort_values(["o_orderdate", "o_orderkey"], ascending=False)
        self.state = LakeState([int(k) for k in recent["o_orderkey"]], len(orders))
        self.eng = Engine(spark=self.spark, warehouse_dir=self.ctx.warehouse)
        self.eng.sql(FACT_DDL)
        for w in range(INITIAL_WEEKS):
            self._ingest({"week": w, "seed": w})
        snap = orders_clustered(self.spark, self.ctx.sf_dir)
        self.eng.register_snapshot_table("orders", snap.path)
        self.table_dirs = [self.eng.snapshot_table_path("fact_price"), snap.path]
        self.user_bytes = os.path.getsize(os.path.join(self.ctx.sf_dir, "orders.parquet"))
        self.user_bytes += sum(self._staged_bytes(w) for w in range(INITIAL_WEEKS))
        # warm-up: two whole blocks, so every op kind runs twice before
        # timing; after one block of warm-up the first timed block ran
        # 1.2-1.7x the time of the blocks after it (JIT still warming)
        return [op for b in (-1, -2) for op in lake_block(self.ctx.seed, b, self.state)]

    def block(self, i: int) -> list[dict]:
        return lake_block(self.ctx.seed, i, self.state)

    def _staging(self, week: int) -> str:
        return os.path.join(self.ctx.work, "staging", f"week{week}")

    def _staged_bytes(self, week: int) -> int:
        from perfbench.stats import stored_bytes

        return stored_bytes(self._staging(week))

    def _ingest(self, op: dict) -> None:
        from oss_data_lake_spark.sources.ohlcv import generate_ohlcv

        day = _week(op["week"]).isoformat()
        df = generate_ohlcv(self.spark, tickers=TICKERS, start_date=day, n_days=5, seed=op["seed"])
        path = self._staging(op["week"])
        self.eng.ingest_ohlcv(df, path, ingest_date=day)
        self.eng.sql(
            "INSERT INTO fact_price SELECT ticker, ts, open, high, low, close, volume, "
            f"CAST(ingest_date AS STRING) AS ingest_date FROM parquet.`{path}`"
        ).collect()

    def run(self, op: dict) -> None:
        if op["name"] == "ingest":
            self._ingest(op)
            return
        df = self.eng.sql(op["sql"])
        rows = df.collect()
        if op["cls"] == "read":
            op["rows"], op["cols"] = rows, df.columns

    def extra_metrics(self, ops: list[dict], wall: float) -> dict[str, float]:
        from perfbench.stats import stored_bytes

        stored = sum(stored_bytes(d) for d in self.table_dirs)
        return {"stored_bytes_per_user_byte": stored / self.user_bytes_total(ops)}

    def user_bytes_total(self, ops: list[dict]) -> int:
        """Parquet bytes of every row the client submitted: the orders
        table, each ingest batch and each MERGE source."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        total = self.user_bytes
        path = os.path.join(self.ctx.work, "merge_source.parquet")
        for op in ops:
            if op["name"] == "ingest":
                total += self._staged_bytes(op["week"])
            elif op["name"] == "merge":
                cols = list(zip(*op["source"]))
                pq.write_table(pa.table(dict(zip(ORDER_COLS, cols))), path)
                total += os.path.getsize(path)
        return total

    def check(self, ops: list[dict]) -> list[tuple[str, str]]:
        """Replays every executed op in DuckDB: each read is compared at its
        point in the sequence, then the final contents of both tables."""
        from tests.parity import compare_rows

        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet("
                    f"'{os.path.join(self.ctx.sf_dir, 'orders.parquet')}')")
        con.execute(DUCK_FACT_DDL)
        weeks = [{"name": "ingest", "week": w} for w in range(INITIAL_WEEKS)]
        bad = []
        for op in weeks + ops:
            if op.get("error"):
                continue
            if op["name"] == "ingest":
                glob = os.path.join(self._staging(op["week"]), "**", "*.parquet")
                op["changed"] = con.execute(
                    "INSERT INTO fact_price SELECT ticker, CAST(ts AS TIMESTAMP), open, high, "
                    "low, close, volume, CAST(ingest_date AS VARCHAR) FROM "
                    f"read_parquet('{glob}', hive_partitioning = true)").fetchone()[0]
            elif op["cls"] == "write":
                op["changed"] = 0
                for stmt in op["oracle"]:
                    op["changed"] += con.execute(stmt).fetchone()[0]
            else:
                res = compare_rows(op["cols"], [tuple(r) for r in op["rows"]], con, op["oracle"])
                if not res["ok"]:
                    bad.append((op["name"], res["detail"]))
        for table in ("fact_price", "orders"):
            df = self.eng.sql(f"SELECT * FROM {table}")
            res = compare_rows(df.columns, [tuple(r) for r in df.collect()], con,
                               f"SELECT * FROM {table}")
            if not res["ok"]:
                bad.append((f"final_{table}", res["detail"]))
        return bad


# ---------------------------------------------------------- corpus_batch
# One operator of each family in the corpus path: dedup (e11),
# similarity (e26), pipeline (e75), text (e44) and tokenizer (e85). An
# odd count puts a run's median inside one operator's cluster of times
# rather than in the gap between two. e92_corpus_pipeline,
# e14_neardup_clusters, e28_pq_topk and e21_cosine_topk_fast are left
# out to keep a run inside the time budget: the first calls of the
# first three alone add ~18 s of set-up (~11 s of it e92's), and e92's
# stages (near-dup detection, quality, decontamination) are timed here
# one operator at a time.
CORPUS_QUERIES = (
    "e11_minhash_lsh_pairs", "e26_ivf_neardup_pairs", "e75_decontamination",
    "e44_gopher_quality", "e85_bpe_merge_table",
)


def corpus_block(seed: int, block: int) -> list[dict]:
    rng = _block_rng(seed, "corpus_batch", block)
    names = list(CORPUS_QUERIES)
    rng.shuffle(names)
    return [{"name": n, "cls": "read"} for n in names]


class CorpusBatch(Workload):
    """The LLM-data pipeline operators from the registry, each drained to
    the noop sink."""

    name = "corpus_batch"
    min_blocks = 3

    def setup(self) -> list[dict]:
        import pyarrow.parquet as pq

        from oss_data_lake_spark.operators import all_queries

        registry = all_queries()
        self.queries = {n: registry[n] for n in CORPUS_QUERIES}
        # the family is the operator module: dedup, similarity, text, ...
        self.families = {n: self.queries[n].__module__.rsplit(".", 1)[1] for n in CORPUS_QUERIES}
        self.result_rows: dict[str, int] = {}
        self.n_docs = pq.read_metadata(os.path.join(self.ctx.sf_dir, "documents.parquet")).num_rows

        def _noop(batches):
            yield from batches

        self.spark.range(32).repartition(4).mapInPandas(_noop, schema="id long") \
            .write.mode("overwrite").format("noop").save()
        # the first call of each operator is collected: its rows are the
        # ones checked against the oracle. A second round follows because
        # an operator's second call still runs ~1.5x its steady time (JIT),
        # and without it a run's median depends on how many rounds fit.
        warm = corpus_block(self.ctx.seed, -1)
        for op in warm:
            op["collect"] = True
        return warm + corpus_block(self.ctx.seed, -2)

    def block(self, i: int) -> list[dict]:
        return corpus_block(self.ctx.seed, i)

    def span_name(self, op: dict) -> str:
        return f"operators.{self.families[op['name']]}.{op['name']}"

    def run(self, op: dict) -> None:
        df = self.queries[op["name"]](self.spark, self.ctx.sf_dir)
        if op.get("collect"):
            op["rows"], op["cols"] = df.collect(), df.columns
            self.result_rows[op["name"]] = len(op["rows"])
        else:
            df.write.mode("overwrite").format("noop").save()
            op["n_rows"] = self.result_rows[op["name"]]

    def extra_metrics(self, ops: list[dict], wall: float) -> dict[str, float]:
        """Documents through the pipeline per second: every op reads the
        whole corpus once."""
        return {"docs_per_s": self.n_docs * len(ops) / wall}

    def check(self, ops: list[dict]) -> list[tuple[str, str]]:
        from oss_data_lake_spark.operators import all_oracles
        from tests.parity import compare_rows, duckdb_con

        oracles = all_oracles()
        con = duckdb_con(self.ctx.sf_dir)
        bad = []
        for op in ops:
            if "rows" in op:
                res = compare_rows(op["cols"], [tuple(r) for r in op["rows"]], con,
                                   oracles[op["name"]])
                if not res["ok"]:
                    bad.append((op["name"], res["detail"]))
        return bad


WORKLOADS = {w.name: w for w in (BiSql, LakeDml, CorpusBatch)}
