"""Partitioned-Parquet ingestion job — the PySpark re-expression of the
reference's Airflow DAG ``fetch_and_write`` (reference
dags/yfinance_to_minio.py:23-93).

Reference behavior → Spark mapping (SURVEY.md §2.A A3-A8, A24, A25):

- lowercase/rename columns (ref :46-49,:55-57)  → ``toDF``/``withColumnRenamed``
- strict casts: UTC ts, double OHLC, nullable long volume (ref :66-71)
  → ``cast`` under UTC session tz, millisecond truncation to honor the
  reference's ``TIMESTAMP(3)`` DDL (reference RUNBOOK.md:90)
- ``ingest_date`` + ``date`` partition key derivation (ref :73-74)
  → ``current_date()`` (overridable for determinism) + ``date_format(ts)``
- one parquet file per ``date=`` partition dir, partition column dropped
  from file payload (ref :85-91) → ``session.write_parquet(...,
  cluster=True)``, a Hive-partitioned write with one file per partition
  value (the reference's layout, and the small-file-avoidance the
  reference lacks, SURVEY.md §4). A batch Spark estimates at or under
  ``session.DRIVER_WRITE_MAX_BYTES`` (it puts a week of 200 tickers at
  ~1 MB) is collected once, grouped by ``date`` on the driver and written
  by pyarrow; a larger batch or an object-store landing zone (s3a/MinIO,
  with the magic committer) takes Spark's ``repartition("date")`` +
  ``partitionBy("date")``.
- metrics ``{rows_written, partitions}`` (ref :93) → the writer's counts:
  the collected table's rows and partition values on the driver path, an
  ``observe`` riding the write job on the Spark path (no second scan)
- empty-input guard (ref :86-87, dags/yfinance_to_minio_v1.py:31-32)
  → no write, not even the directory: the driver path sees zero rows in
  its one collect; the Spark path pays a limit-1 ``isEmpty`` probe of the
  un-shuffled input first

At 100 TB: ``repartition("date")`` becomes ``repartition(n, "date", salt)``
if single days exceed executor memory; the write path is otherwise
shuffle-once and embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from oss_data_lake_spark.session import write_parquet

FACT_COLUMNS = ("ticker", "ts", "open", "high", "low", "close", "volume", "ingest_date")


def normalize_ohlcv(
    df: DataFrame, ingest_date: "str | Column | None" = None
) -> DataFrame:
    """A3-A5: normalize names, strict-cast types, derive ingest/partition cols.

    ``ingest_date`` may be a literal string (deterministic batch runs), a
    Column (e.g. the ``ingest_date`` discovered from a legacy v1 layout's
    partition dirs — ``sources/legacy_v1.py``), or None (current_date)."""
    df = df.toDF(*[c.lower() for c in df.columns])
    if "date" in df.columns and "ts" not in df.columns:
        df = df.withColumnRenamed("date", "ts")
    if isinstance(ingest_date, Column):
        ingest = ingest_date.cast("date")
    elif ingest_date:
        ingest = F.lit(ingest_date).cast("date")
    else:
        ingest = F.current_date()
    return df.select(
        F.col("ticker").cast("string").alias("ticker"),
        # millisecond truncation: the reference declares TIMESTAMP(3).
        # Integer floor-division (subtract the nonnegative pmod remainder):
        # float division would ROUND pre-1970 timestamps and lose precision
        # past double's 2^53 exact-integer range.
        F.timestamp_micros(
            F.expr(
                "(unix_micros(cast(ts as timestamp)) "
                "- pmod(unix_micros(cast(ts as timestamp)), 1000))"
            )
        ).alias("ts"),
        F.col("open").cast("double").alias("open"),
        F.col("high").cast("double").alias("high"),
        F.col("low").cast("double").alias("low"),
        F.col("close").cast("double").alias("close"),
        F.col("volume").cast("long").alias("volume"),
        ingest.alias("ingest_date"),
    )


def ingest(
    spark: SparkSession,
    source_df: DataFrame,
    out_path: str,
    ingest_date: "str | Column | None" = None,
    mode: str = "append",
) -> dict[str, int]:
    """The full A1→A8 pipeline: normalize → derive partition key → guarded
    partitioned write. Returns the reference's XCom metrics dict."""
    tidy = normalize_ohlcv(source_df, ingest_date=ingest_date)
    tidy = tidy.withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
    rows, parts = write_parquet(
        spark, tidy, out_path, ["date"], mode=mode, cluster=True,
        skip_empty=True,
    )
    return {"rows_written": rows, "partitions": parts}


def read_curated(spark: SparkSession, path: str) -> DataFrame:
    """A9: read the curated zone back — partition discovery recovers ``date``
    as a column from the dir names (subsumes the reference's glob+concat,
    reference notebooks/test_airflow_yfinance.ipynb:58,79-83); raises if the
    path matches nothing (ref :81-82)."""
    # Spark itself raises PATH_NOT_FOUND for a missing path (A25 guard)
    return spark.read.parquet(path)
