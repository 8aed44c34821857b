"""SparkSession factory with engine-wide configuration.

Deliberate configs (SURVEY.md §4 "Engine configs to set deliberately"):

- ``spark.sql.session.timeZone=UTC`` — the reference coerces every timestamp
  with ``pd.to_datetime(..., utc=True)`` (reference dags/yfinance_to_minio.py:66)
  and declares ``TIMESTAMP(3) WITH TIME ZONE`` (reference RUNBOOK.md:90).
- ``spark.sql.ansi.enabled=false`` — the notebook uses
  ``pd.to_numeric(errors="coerce")`` (null-on-error) semantics
  (reference notebooks/test_airflow_yfinance.ipynb:160); non-ANSI casts match.
- ``spark.sql.parser.escapedStringLiterals=false`` (the default, pinned
  even against ``extra_conf``) —
  backslash escapes in SQL string literals are processed; the engine's
  SQL-text regexes (``Engine._TRY_INT_PAT``) double their backslashes for
  that mode and would change meaning under the legacy escape mode.
- AQE on (+ skew join) — runtime re-planning replaces Trino's CBO role.
- ``spark.sql.shuffle.partitions`` sized to local cores, not the 200 default:
  at 100 TB on a real cluster this is instead sized so that a shuffle
  partition holds ~128-512 MB (AQE coalescing then right-sizes at runtime).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "oss_data_lake_spark",
    cpus: str | int | None = None,
    warehouse_dir: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode for tests; the same conf block is what we'd ship to a
    1000-executor cluster minus ``master`` and driver memory.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Parquet INT64 TIMESTAMP(NANOS) (events.ts fixture): older readers
        # need nanosAsLong (arrives long, loaders convert); newer readers
        # ignore it and would infer TIMESTAMP_NTZ — disable NTZ inference so
        # ts is LTZ micros under the UTC session on both generations.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if warehouse_dir:
        builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # pinned after extra_conf: the escape mode is part of the engine's
    # SQL-text contract, not a tuning knob
    builder = builder.config("spark.sql.parser.escapedStringLiterals", "false")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
