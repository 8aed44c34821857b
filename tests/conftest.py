from __future__ import annotations

import pathlib
import warnings

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.session import get_spark
from oss_data_lake_spark.sources.snapshots import SnapshotTable
from tests.hostile import STRUCTURE

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# Slow tier (round 15): the full 1,400+-test suite outgrew the external
# driver's pytest window (r14 VERIFY truncated at ~35%). Tests measured
# >= 1.0 s in a quiet full run are listed in slow_tier.txt and marked
# `slow` here; pytest.ini deselects the marker by default so the default
# `pytest tests/` run finishes inside the window. The tier stays fully
# runnable: `pytest tests/ -m slow` (tier only) or
# `pytest tests/ -m 'slow or not slow'` (everything).
_SLOW_TIER = frozenset(
    line.strip()
    for line in (pathlib.Path(__file__).parent / "slow_tier.txt")
    .read_text()
    .splitlines()
    if line.strip() and not line.startswith("#")
)


def stale_slow_entries(
    tier: frozenset, collected: set, args: list, rootdir: pathlib.Path
) -> list[str]:
    """slow_tier.txt entries that name no collected test: the entry's
    module was collected but the test was not (renamed or
    re-parameterized), or the module file is gone. A run narrowed to
    node ids (``file.py::test``) collects partial modules, so it checks
    nothing."""
    if any("::" in a for a in args):
        return []
    files = {nid.split("::", 1)[0] for nid in collected}
    return sorted(
        e
        for e in tier - collected
        if e.split("::", 1)[0] in files
        or not (rootdir / e.split("::", 1)[0]).exists()
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_TIER:
            item.add_marker(pytest.mark.slow)
    # a slow test renamed without its slow_tier.txt entry would silently
    # rejoin the default tier
    stale = stale_slow_entries(
        _SLOW_TIER,
        {item.nodeid for item in items},
        config.args,
        config.rootpath,
    )
    if stale:
        warnings.warn(
            pytest.PytestWarning(
                f"{len(stale)} tests/slow_tier.txt entries match no "
                f"collected test (renamed or removed?): "
                + ", ".join(stale[:10])
                + (" ..." if len(stale) > 10 else "")
            )
        )


_deselected_slow = 0


def pytest_deselected(items):
    global _deselected_slow
    _deselected_slow += sum(1 for i in items if i.get_closest_marker("slow"))


def pytest_terminal_summary(terminalreporter):
    # pytest.ini deselects the slow tier by default; say so, so a green
    # default run is not mistaken for the whole suite
    if _deselected_slow:
        terminalreporter.write_line(
            f"slow tier: {_deselected_slow} tests deselected by default; "
            f"run them with -m slow (everything: -m 'slow or not slow')"
        )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus="8")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct() -> str:
    return SF_CORRECT


@pytest.fixture(scope="module")
def fz_eng(spark, tmp_path_factory):
    """An Engine over snapshot table ``fz``: k = 0..19, v = k + 0.5."""
    root = tmp_path_factory.mktemp("fz")
    e = Engine(spark=spark, warehouse_dir=str(root / "wh"))
    e.sql("CREATE TABLE fz (k INT, v DOUBLE) USING snapshot")
    e.sql(
        "INSERT INTO fz VALUES "
        + ", ".join(f"({i}, {i}.5)" for i in range(20))
    )
    return e


@pytest.fixture(scope="module")
def hostile_eng(spark, tmp_path_factory):
    """``(engine, t, df)``: snapshot table ``t`` registered with the
    rows of ``df``, k = 0..29 and a string ``s`` drawn from
    ``hostile.STRUCTURE``."""
    root = tmp_path_factory.mktemp("hostile")
    e = Engine(spark=spark, warehouse_dir=str(root / "wh"))
    svals = STRUCTURE + ["plain"]
    rows = [
        Row(k=i, s=svals[i % len(svals)], d=float(i) / 2) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "k long, s string, d double")
    t = SnapshotTable(spark, str(root / "t"))
    t.commit(df, stats_for=["k", "d"])
    e._snapshot_tables["t"] = t
    return e, t, df
