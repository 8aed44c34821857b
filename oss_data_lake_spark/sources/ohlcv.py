"""Synthetic OHLCV source — the deterministic stand-in for the reference's
yfinance fetch (A1, reference dags/yfinance_to_minio.py:29-36; no network in
this environment, and the engine treats external fetch as out-of-engine
anyway — SURVEY.md §2.A A1).

Generation is a pure function of (ticker, day, seed): pseudo-randoms come
from murmur3 hashes, the price path is a per-ticker cumulative sum over a
bounded step sequence (window cumsum — one shuffle on ticker). Deterministic
under any partitioning, so tests and re-runs agree bit-for-bit.

Occasional nulls are planted in close/volume to exercise the lenient-cast
and null-filter operators (A6/A7, reference notebook
test_airflow_yfinance.ipynb:160-161).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from oss_data_lake_spark.session import local_frame

DEFAULT_TICKERS = ("AAPL", "MSFT", "GOOGL", "AMZN")  # reference dags/yfinance_to_minio.py:17
DEFAULT_LOOKBACK_DAYS = 30  # reference dags/yfinance_to_minio.py:18


def _u(seed_cols: list[F.Column], lo: float, hi: float) -> F.Column:
    """Deterministic uniform(lo, hi) from a murmur3 hash of the seed cols.
    pmod, not abs: abs(Integer.MIN_VALUE) overflows negative in non-ANSI
    mode and would break the OHLC envelope invariants."""
    h = F.pmod(F.hash(*seed_cols), F.lit(1_000_000))
    return F.lit(lo) + (h / F.lit(1_000_000.0)) * F.lit(hi - lo)


def generate_ohlcv(
    spark: SparkSession,
    tickers: tuple[str, ...] = DEFAULT_TICKERS,
    start_date: str = "2025-06-02",
    n_days: int = DEFAULT_LOOKBACK_DAYS,
    seed: int = 42,
    null_every: int = 37,
) -> DataFrame:
    """Tidy OHLCV frame: one row per (ticker, business day).

    Mirrors the *output* of the reference's fetch+melt (wide yfinance frame →
    tidy rows, reference dags/yfinance_to_minio.py:39-62); the wide→long
    operator itself is exercised separately via :func:`melt_wide`.
    """
    days = spark.range(n_days * 2).select(
        F.date_add(F.lit(start_date).cast("date"), F.col("id").cast("int")).alias("day")
    ).filter(F.dayofweek("day").isin(2, 3, 4, 5, 6)).limit(n_days)
    tick = local_frame(spark, [(t,) for t in tickers], "ticker string")
    grid = tick.crossJoin(days)

    s = F.lit(seed)
    step = _u([F.col("ticker"), F.col("day"), s, F.lit(1)], -2.0, 2.0)
    w = Window.partitionBy("ticker").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    base = 50.0
    close_raw = F.lit(base) + F.sum(step).over(w)
    spread = _u([F.col("ticker"), F.col("day"), s, F.lit(2)], 0.1, 1.5)
    open_ = close_raw - step  # yesterday's close = today's open
    high = F.greatest(open_, close_raw) + spread
    low = F.least(open_, close_raw) - spread
    vol = F.pmod(F.hash("ticker", "day", s, F.lit(3)), F.lit(1_000_000)) + 10_000

    null_marker = F.pmod(F.hash("ticker", "day", s, F.lit(4)), F.lit(null_every))
    return grid.select(
        "ticker",
        F.to_timestamp("day").alias("ts"),
        open_.alias("open"),
        high.alias("high"),
        low.alias("low"),
        F.when(null_marker == 0, F.lit(None)).otherwise(close_raw).alias("close"),
        F.when(null_marker == 1, F.lit(None)).otherwise(vol).cast("long").alias("volume"),
    )


def to_wide(df: DataFrame) -> DataFrame:
    """Pivot the tidy frame to the yfinance-like wide shape (one close column
    per ticker) — so the melt operator has a real wide input to invert."""
    return (
        df.groupBy("ts")
        .pivot("ticker")
        .agg(F.first("close"))
        .orderBy("ts")
    )


def melt_wide(wide: DataFrame, id_col: str = "ts") -> DataFrame:
    """A2: wide→long unpivot (reference dags/yfinance_to_minio.py:39-62 does
    this per-ticker with pandas xs/concat; Spark's native ``unpivot`` is the
    single-operator equivalent — no per-ticker loop, no union)."""
    value_cols = [c for c in wide.columns if c != id_col]
    return wide.unpivot(
        ids=[id_col],
        values=value_cols,
        variableColumnName="ticker",
        valueColumnName="close",
    )
