"""MATCH_RECOGNIZE semantic anchor: a reference NFA implementing TRUE
SQL:2016 scan semantics — attempt a match at every position, greedy
quantifiers with full backtracking (longest-first preferment), ONE ROW PER
MATCH, AFTER MATCH SKIP PAST LAST ROW — differentially checked against the
runs-and-windows rewrite in `operators/match_recognize.py`.

The DuckDB oracle for b53 re-expresses the SAME rewrite, so cross-engine
parity alone can't catch a semantics bug in the rewrite itself. This NFA
can: it never looks at runs, labels-as-columns, or parity chains — it walks
rows exactly the way the standard describes."""

from __future__ import annotations

import random

import pytest

from oss_data_lake_spark.engine import Engine
from oss_data_lake_spark.operators.match_recognize import (
    match_recognize,
    vshape_events,
)
from tests.hostile import SAMPLING, payloads, quote


# ---------------------------------------------------------------- NFA ----
def nfa_matches(vals, pattern, defines):
    """vals: list of per-row dicts. pattern: [(VAR, '1'|'+')]. defines:
    VAR -> fn(vals, i) -> bool, or None for an always-true variable (PREV
    is physical: the fn may look at vals[i-1] regardless of the match).
    Returns a list of matches; each match is a list of (VAR, row_index)."""
    n = len(vals)

    def ok(var, i):
        f = defines.get(var)
        return True if f is None else bool(f(vals, i))

    def rec(pi, i):
        if pi == len(pattern):
            return []
        var, q = pattern[pi]
        if q == "1":
            if i < n and ok(var, i):
                rest = rec(pi + 1, i + 1)
                if rest is not None:
                    return [(var, i)] + rest
            return None
        j = i
        while j < n and ok(var, j):
            j += 1
        for ln in range(j - i, 0, -1):  # greedy: longest first, backtrack
            rest = rec(pi + 1, i + ln)
            if rest is not None:
                return [(var, x) for x in range(i, i + ln)] + rest
        return None

    out, pos = [], 0
    while pos < n:
        m = rec(0, pos)
        if m is None:
            pos += 1
        else:
            out.append(m)
            pos = m[-1][1] + 1
    return out


def nfa_measure(m, vals, spec):
    """spec: list of (kind, var, col) like the operator's parsed measures
    (match_number handled by the caller)."""
    by_var: dict = {}
    for var, i in m:
        by_var.setdefault(var, []).append(i)
    row = []
    for kind, var, col in spec:
        if kind == "count_star":
            row.append(len(m))
        elif kind == "count_var":
            row.append(len(by_var.get(var, [])))
        elif kind == "first":
            row.append(vals[by_var[var][0]][col])
        else:  # last / var_col
            row.append(vals[by_var[var][-1]][col])
    return tuple(row)


def _run_nfa(rows_by_part, pattern, defines, spec):
    want = []
    for pk in sorted(rows_by_part):
        vals = rows_by_part[pk]
        for mn, m in enumerate(nfa_matches(vals, pattern, defines), 1):
            want.append((pk, mn) + nfa_measure(m, vals, spec))
    return sorted(want)


def _collect_by_user(df):
    rows_by_part: dict = {}
    for r in df.orderBy("user_id", "event_id").collect():
        rows_by_part.setdefault(r["user_id"], []).append(
            {"event_id": r["event_id"], "value": r["value"]}
        )
    return rows_by_part


V_PATTERN = [("STRT", "1"), ("DOWN", "+"), ("UP", "+")]
V_DEFINES = {
    "STRT": None,
    "DOWN": lambda v, i: i > 0 and v[i]["value"] < v[i - 1]["value"],
    "UP": lambda v, i: i > 0 and v[i]["value"] > v[i - 1]["value"],
}
V_SPEC = [
    ("first", "STRT", "event_id"),
    ("last", "STRT", "value"),
    ("last", "DOWN", "value"),
    ("last", "UP", "value"),
    ("last", "UP", "event_id"),
    ("count_var", "DOWN", None),
    ("count_star", None, None),
]


def test_b53_vshape_equals_nfa_on_fixture(spark, sf_dir):
    """The shipped b53 query vs the NFA on the real events fixture —
    every measure of every match, including MATCH_NUMBER ordering."""
    from oss_data_lake_spark.sources.loaders import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    want = _run_nfa(_collect_by_user(ev), V_PATTERN, V_DEFINES, V_SPEC)
    got = sorted(
        (
            r["user_id"], r["match_no"], r["start_event"], r["start_value"],
            r["bottom_value"], r["end_value"], r["end_event"],
            r["down_steps"], r["match_len"],
        )
        for r in vshape_events(spark, sf_dir).collect()
    )
    assert got == want
    assert len(got) > 50  # the fixture genuinely exercises the operator


def _mk_df(spark, rows_by_part):
    data = [
        (pk, r["event_id"], float(r["value"]))
        for pk, vals in rows_by_part.items()
        for r in vals
    ]
    return spark.createDataFrame(data, "user_id long, event_id long, value double")


def _mr(spark, df, pattern_str, defines_sql, measures):
    return match_recognize(
        df,
        partition_by=["user_id"],
        order_by="event_id",
        pattern=pattern_str,
        defines=defines_sql,
        measures=measures,
    )


def test_zigzag_chain_contention_equals_nfa(spark):
    """The START-contention parity chain, deterministically: a strict
    zigzag makes every DOWN run length 1 and zero-gap to the previous
    candidate's consumed end — matches must alternate exactly as the NFA
    says (a greedy scan, NOT one match per run pair)."""
    vals = [10.0, 9.0, 11.0, 8.0, 12.0, 7.0, 13.0, 6.0, 14.0, 5.0, 15.0]
    rows_by_part = {
        1: [{"event_id": i, "value": v} for i, v in enumerate(vals)],
        # same zigzag but opening with a DOWN run at the partition head
        # (dead candidate: no room for STRT)
        2: [{"event_id": i, "value": v}
            for i, v in enumerate([9.0, 8.0, 12.0, 7.0, 13.0, 6.0, 14.0])],
        # len>=2 anchor right after a consumed end: in-run start case
        3: [{"event_id": i, "value": v}
            for i, v in enumerate([5.0, 4.0, 6.0, 5.5, 4.5, 7.0, 8.0])],
    }
    want = _run_nfa(rows_by_part, V_PATTERN, V_DEFINES, V_SPEC)
    df = _mk_df(spark, rows_by_part)
    got = sorted(
        tuple(r)
        for r in _mr(
            spark, df, "(STRT DOWN+ UP+)",
            {"DOWN": "value < PREV(value)", "UP": "value > PREV(value)"},
            {
                "match_no": "MATCH_NUMBER()",
                "m1": "FIRST(STRT.event_id)",
                "m2": "LAST(STRT.value)",
                "m3": "LAST(DOWN.value)",
                "m4": "LAST(UP.value)",
                "m5": "LAST(UP.event_id)",
                "m6": "COUNT(DOWN.*)",
                "m7": "COUNT(*)",
            },
        ).collect()
    )
    assert got == want
    # the zigzag really does alternate: partition 1 skips every other V
    assert [g for g in got if g[0] == 1][0][7] >= 1


PATTERN_CASES = [
    # (pattern text, NFA pattern, SQL defines, NFA defines)
    ("(STRT DOWN+ UP+)", V_PATTERN,
     {"DOWN": "value < PREV(value)", "UP": "value > PREV(value)"},
     V_DEFINES),
    ("(DOWN+ UP+)", [("DOWN", "+"), ("UP", "+")],
     {"DOWN": "value < PREV(value)", "UP": "value > PREV(value)"},
     {k: v for k, v in V_DEFINES.items() if k != "STRT"}),
    ("(FLAT DOWN+)", [("FLAT", "1"), ("DOWN", "+")],
     {"FLAT": "value = PREV(value)", "DOWN": "value < PREV(value)"},
     {"FLAT": lambda v, i: i > 0 and v[i]["value"] == v[i - 1]["value"],
      "DOWN": lambda v, i: i > 0 and v[i]["value"] < v[i - 1]["value"]}),
    ("(DOWN+ FLAT UP+)", [("DOWN", "+"), ("FLAT", "1"), ("UP", "+")],
     {"DOWN": "value < PREV(value)", "UP": "value > PREV(value)",
      "FLAT": "value = PREV(value)"},
     {"FLAT": lambda v, i: i > 0 and v[i]["value"] == v[i - 1]["value"],
      **{k: v for k, v in V_DEFINES.items() if k != "STRT"}}),
    ("(DOWN+ FLAT)", [("DOWN", "+"), ("FLAT", "1")],
     {"DOWN": "value < PREV(value)", "FLAT": "value = PREV(value)"},
     {"FLAT": lambda v, i: i > 0 and v[i]["value"] == v[i - 1]["value"],
      "DOWN": lambda v, i: i > 0 and v[i]["value"] < v[i - 1]["value"]}),
    ("(FLAT)", [("FLAT", "1")],
     {"FLAT": "value = PREV(value)"},
     {"FLAT": lambda v, i: i > 0 and v[i]["value"] == v[i - 1]["value"]}),
    ("(STRT DOWN+)", [("STRT", "1"), ("DOWN", "+")],
     {"DOWN": "value < PREV(value)"},
     {"STRT": None,
      "DOWN": lambda v, i: i > 0 and v[i]["value"] < v[i - 1]["value"]}),
]


@pytest.mark.parametrize("case", range(len(PATTERN_CASES)))
def test_random_differential_vs_nfa(spark, case):
    """Seeded random series with a tiny value alphabet (dense ties, short
    runs, partition-head collisions) across every supported pattern shape:
    the rewrite must equal the NFA on first/last/count measures for every
    variable of every match."""
    pattern_str, pattern, def_sql, def_nfa = PATTERN_CASES[case]
    rng = random.Random(4242 + case)
    rows_by_part = {
        pk: [
            {"event_id": i, "value": float(rng.randint(0, 3))}
            for i in range(rng.randint(20, 120))
        ]
        for pk in range(8)
    }
    pvars = [v for v, _ in pattern]
    spec = []
    measures = {"match_no": "MATCH_NUMBER()"}
    for j, v in enumerate(pvars):
        spec += [
            ("first", v, "event_id"), ("last", v, "event_id"),
            ("last", v, "value"), ("count_var", v, None),
        ]
        measures[f"f{j}"] = f"FIRST({v}.event_id)"
        measures[f"l{j}"] = f"LAST({v}.event_id)"
        measures[f"v{j}"] = f"{v}.value"
        measures[f"c{j}"] = f"COUNT({v}.*)"
    spec.append(("count_star", None, None))
    measures["total"] = "COUNT(*)"
    want = _run_nfa(rows_by_part, pattern, def_nfa, spec)
    got = sorted(
        tuple(r)
        for r in _mr(spark, _mk_df(spark, rows_by_part), pattern_str,
                     def_sql, measures).collect()
    )
    assert got == want
    assert want, f"case {case} produced no matches — vacuous"


def test_rejects_out_of_class_patterns(spark):
    df = _mk_df(spark, {1: [{"event_id": 0, "value": 1.0}]})
    m = {"n": "MATCH_NUMBER()"}
    with pytest.raises(ValueError, match="tiles matches"):
        _mr(spark, df, "(STRT FLAT)", {"FLAT": "value = PREV(value)"}, m)
    with pytest.raises(ValueError, match="distinct"):
        _mr(spark, df, "(A+ A+)", {"A": "value > 0"}, m)
    with pytest.raises(ValueError, match="leading"):
        _mr(spark, df, "(A+ MID B+)",
            {"A": "value > 0", "B": "value < 0"}, m)
    with pytest.raises(ValueError, match="unsupported pattern"):
        _mr(spark, df, "(A* B+)", {"A": "value > 0", "B": "value < 0"}, m)
    with pytest.raises(ValueError, match="unsupported measure"):
        _mr(spark, df, "(A+)", {"A": "value > 0"}, {"x": "SUM(A.value)"})


def test_plan_is_windows_only_no_python_no_join(spark, sf_dir):
    """Scale pin: the whole rewrite is JVM window arithmetic — no Python
    execution, no join of the input against itself, one partitioning."""
    from oss_data_lake_spark.plans.audit import explain_str

    txt = explain_str(vshape_events(spark, sf_dir), "simple")
    for bad in ["FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
                "CartesianProduct", "BroadcastNestedLoopJoin",
                "SortMergeJoin", "BroadcastHashJoin"]:
        assert bad not in txt, bad
    assert "Window" in txt


# --------------------------- SQL statement surface -----------------------
MR_SQL = """
SELECT m.* FROM {src} MATCH_RECOGNIZE (
  PARTITION BY user_id
  ORDER BY event_id
  MEASURES MATCH_NUMBER() AS match_no,
           FIRST(STRT.event_id) AS start_event,
           STRT.value AS start_value,
           LAST(DOWN.value) AS bottom_value,
           LAST(UP.value) AS end_value,
           COUNT(*) AS match_len
  ONE ROW PER MATCH
  AFTER MATCH SKIP PAST LAST ROW
  PATTERN (STRT DOWN+ UP+)
  DEFINE DOWN AS value < PREV(value),
         UP AS value > PREV(value)
) AS m
{tail}
"""


@pytest.fixture()
def mr_eng(spark, tmp_path):
    from oss_data_lake_spark.engine import Engine

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql(
        "CREATE TABLE ticks (user_id BIGINT, event_id BIGINT, "
        "value DOUBLE) USING snapshot"
    )
    vals = [10.0, 9.0, 11.0, 8.0, 12.0, 7.0, 13.0, 5.0, 5.0, 6.0, 4.0, 9.0]
    rows = ", ".join(
        f"({u}, {i}, {v})" for u in (1, 2) for i, v in enumerate(vals)
    )
    e.sql(f"INSERT INTO ticks VALUES {rows}")
    return e


def test_sql_match_recognize_over_snapshot_table_equals_nfa(mr_eng):
    """The Trino textual form over a registered snapshot table must equal
    the NFA on the same rows — the statement layer and the operator are
    one code path."""
    got = sorted(
        tuple(r) for r in mr_eng.sql(MR_SQL.format(src="ticks", tail="")).collect()
    )
    rows_by_part = _collect_by_user(mr_eng.sql("SELECT * FROM ticks"))
    spec = [
        ("first", "STRT", "event_id"), ("last", "STRT", "value"),
        ("last", "DOWN", "value"), ("last", "UP", "value"),
        ("count_star", None, None),
    ]
    want = sorted(_run_nfa(rows_by_part, V_PATTERN, V_DEFINES, spec))
    assert got == want
    assert got  # the crafted zigzag produces matches


def test_sql_match_recognize_trailing_order_limit(mr_eng):
    df = mr_eng.sql(
        MR_SQL.format(src="ticks", tail="ORDER BY user_id, match_no LIMIT 3")
    )
    rows = df.collect()
    assert len(rows) == 3
    assert [r["user_id"] for r in rows] == sorted(r["user_id"] for r in rows)


def test_sql_match_recognize_composes_with_time_travel(mr_eng):
    """FOR VERSION AS OF in the source clause: matches computed over the
    pinned snapshot, not the head."""
    mr_eng.sql("DELETE FROM ticks WHERE user_id = 2")
    head = mr_eng.sql(MR_SQL.format(src="ticks", tail="")).collect()
    # CREATE = v1 (empty), INSERT = v2, DELETE = v3 (the head)
    v1 = mr_eng.sql(
        MR_SQL.format(src="ticks FOR VERSION AS OF 2", tail="")
    ).collect()
    assert {r["user_id"] for r in head} == {1}
    assert {r["user_id"] for r in v1} == {1, 2}
    assert len(v1) == 2 * len(head)


def test_sql_match_recognize_grammar_errors(mr_eng):
    base = MR_SQL.format(src="ticks", tail="")
    for frag, repl, msg in [
        ("MATCH_NUMBER() AS match_no", "RUNNING LAST(UP.value) AS match_no",
         "FINAL semantics"),
        ("AFTER MATCH SKIP PAST LAST ROW", "AFTER MATCH SKIP TO NEXT ROW",
         "SKIP PAST LAST ROW"),
        ("PATTERN (STRT DOWN+ UP+)", "PATTERN (STRT DOWN* UP+)",
         "unsupported pattern"),
    ]:
        with pytest.raises(ValueError, match=msg):
            mr_eng.sql(base.replace(frag, repl))
    # keyword inside a string literal is data, not a trigger
    df = mr_eng.sql("SELECT 'MATCH_RECOGNIZE (' AS s")
    assert df.collect()[0]["s"] == "MATCH_RECOGNIZE ("


# --------------------------- ALL ROWS PER MATCH --------------------------
def _nfa_all_rows(rows_by_part, pattern, defines, spec):
    """Expected ALL ROWS output: one row per matched input row, carrying
    (pk, event_id, value, match_no, classifier) + the FINAL measures."""
    want = []
    for pk in sorted(rows_by_part):
        vals = rows_by_part[pk]
        for mn, m in enumerate(nfa_matches(vals, pattern, defines), 1):
            meas = nfa_measure(m, vals, spec)
            for var, i in m:
                want.append(
                    (pk, vals[i]["event_id"], vals[i]["value"], mn, var)
                    + meas
                )
    return sorted(want)


def test_all_rows_per_match_equals_nfa_zigzag(spark):
    """ALL ROWS PER MATCH (FINAL semantics): every matched row emitted
    with original columns, MATCH_NUMBER, CLASSIFIER, and final measures —
    against the NFA's row assignments on the contention zigzag."""
    vals = [10.0, 9.0, 11.0, 8.0, 12.0, 7.0, 13.0, 6.0, 14.0, 5.0, 15.0]
    rows_by_part = {
        1: [{"event_id": i, "value": v} for i, v in enumerate(vals)],
        2: [{"event_id": i, "value": v}
            for i, v in enumerate([5.0, 4.0, 6.0, 5.5, 4.5, 7.0, 8.0])],
    }
    spec = [("last", "DOWN", "value"), ("count_star", None, None)]
    want = _nfa_all_rows(rows_by_part, V_PATTERN, V_DEFINES, spec)
    df = match_recognize(
        _mk_df(spark, rows_by_part),
        partition_by=["user_id"],
        order_by="event_id",
        pattern="(STRT DOWN+ UP+)",
        defines={"DOWN": "value < PREV(value)", "UP": "value > PREV(value)"},
        measures={
            "match_no": "MATCH_NUMBER()",
            "cls": "CLASSIFIER()",
            "bottom": "FINAL LAST(DOWN.value)",
            "mlen": "COUNT(*)",
        },
        rows_per_match="all",
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["value"], r["match_no"], r["cls"],
         r["bottom"], r["mlen"])
        for r in df.collect()
    )
    assert got == want
    assert want  # non-vacuous


@pytest.mark.parametrize("case", [0, 1, 3, 4, 6])
def test_all_rows_random_differential_vs_nfa(spark, case):
    """ALL ROWS over the seeded random series for the pattern shapes with
    multi-row matches — row membership, classifier, and final measures."""
    pattern_str, pattern, def_sql, def_nfa = PATTERN_CASES[case]
    rng = random.Random(77 + case)
    rows_by_part = {
        pk: [
            {"event_id": i, "value": float(rng.randint(0, 3))}
            for i in range(rng.randint(20, 80))
        ]
        for pk in range(6)
    }
    spec = [("count_star", None, None)]
    want = _nfa_all_rows(rows_by_part, pattern, def_nfa, spec)
    df = match_recognize(
        _mk_df(spark, rows_by_part),
        partition_by=["user_id"],
        order_by="event_id",
        pattern=pattern_str,
        defines=def_sql,
        measures={
            "match_no": "MATCH_NUMBER()",
            "cls": "CLASSIFIER()",
            "mlen": "COUNT(*)",
        },
        rows_per_match="all",
    )
    got = sorted(
        (r["user_id"], r["event_id"], r["value"], r["match_no"], r["cls"],
         r["mlen"])
        for r in df.collect()
    )
    assert got == want
    assert want, f"case {case} vacuous"


def test_sql_all_rows_per_match(mr_eng):
    """The Trino textual ALL ROWS PER MATCH form: original columns +
    measures, unmatched rows omitted, no range join in the plan."""
    from oss_data_lake_spark.plans.audit import explain_str

    df = mr_eng.sql("""
        SELECT * FROM ticks MATCH_RECOGNIZE (
          PARTITION BY user_id ORDER BY event_id
          MEASURES MATCH_NUMBER() AS mno, CLASSIFIER() AS cls,
                   FINAL LAST(UP.value) AS top_v
          ALL ROWS PER MATCH
          AFTER MATCH SKIP PAST LAST ROW
          PATTERN (STRT DOWN+ UP+)
          DEFINE DOWN AS value < PREV(value),
                 UP AS value > PREV(value)
        )""")
    txt = explain_str(df, "simple")
    assert "CartesianProduct" not in txt
    assert "BroadcastNestedLoopJoin" not in txt
    rows = df.collect()
    assert rows and {"user_id", "event_id", "value", "mno", "cls", "top_v"} \
        <= set(df.columns)
    one = mr_eng.sql(MR_SQL.format(src="ticks", tail="")).collect()
    # row counts reconcile: sum of match_len over ONE ROW == ALL ROWS rows
    assert sum(r["match_len"] for r in one) == len(rows)
    assert {r["cls"] for r in rows} == {"STRT", "DOWN", "UP"}


# ------------------ hypothesis property differential ---------------------
from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_series = st.lists(
    st.integers(min_value=0, max_value=2).map(float),
    min_size=2, max_size=40,
)


@settings(
    max_examples=25, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(series=st.lists(_series, min_size=1, max_size=3))
def test_property_vshape_equals_nfa(spark, series):
    """Property form of the differential: ARBITRARY small series (dense
    ties from the 3-value alphabet — worst case for run boundaries and
    contention chains) must match the NFA exactly for the full V-shape
    measure set, one partition per generated list."""
    rows_by_part = {
        pk: [{"event_id": i, "value": v} for i, v in enumerate(vals)]
        for pk, vals in enumerate(series)
    }
    want = _run_nfa(rows_by_part, V_PATTERN, V_DEFINES, V_SPEC)
    got = sorted(
        tuple(r)
        for r in _mr(
            spark, _mk_df(spark, rows_by_part), "(STRT DOWN+ UP+)",
            {"DOWN": "value < PREV(value)", "UP": "value > PREV(value)"},
            {
                "match_no": "MATCH_NUMBER()",
                "m1": "FIRST(STRT.event_id)",
                "m2": "LAST(STRT.value)",
                "m3": "LAST(DOWN.value)",
                "m4": "LAST(UP.value)",
                "m5": "LAST(UP.event_id)",
                "m6": "COUNT(DOWN.*)",
                "m7": "COUNT(*)",
            },
        ).collect()
    )
    assert got == want


def test_sql_match_recognize_over_persistent_view(mr_eng):
    """The source clause resolves through sql(), so persistent SQL views
    compose: a filtered view of the snapshot table feeds the pattern."""
    mr_eng.sql("CREATE VIEW t1 AS SELECT * FROM ticks WHERE user_id = 1")
    got = mr_eng.sql(MR_SQL.format(src="t1", tail="")).collect()
    want = [
        r for r in mr_eng.sql(MR_SQL.format(src="ticks", tail="")).collect()
        if r["user_id"] == 1
    ]
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got


def test_measure_variable_typos_are_refused(spark):
    """A measure referencing a variable not in the pattern must raise a
    clean ValueError — in the general path AND the trivial PATTERN (A)
    path (which previously bound the raw column silently)."""
    df = _mk_df(spark, {1: [{"event_id": 0, "value": 1.0}]})
    with pytest.raises(ValueError, match="not a pattern variable"):
        _mr(spark, df, "(A+ B+)",
            {"A": "value > 0", "B": "value < 0"},
            {"x": "LAST(TYPO.value)"})
    with pytest.raises(ValueError, match="not a pattern variable"):
        _mr(spark, df, "(A)", {"A": "value > 0"}, {"x": "FIRST(TYPO.value)"})
    with pytest.raises(ValueError, match="not a pattern variable"):
        _mr(spark, df, "(A)", {"A": "value > 0"}, {"x": "COUNT(TYPO.*)"})


def test_clause_keywords_as_identifiers_do_not_misfire(mr_eng):
    """A column literally named `subset` in a DEFINE predicate (and a
    measure alias named `define`) must not trip the clause detector —
    keywords are located at their ORDERED SQL:2016 positions only."""
    mr_eng.sql(
        "CREATE TABLE kwtab (u BIGINT, i BIGINT, subset DOUBLE) "
        "USING snapshot"
    )
    mr_eng.sql(
        "INSERT INTO kwtab VALUES (1, 0, 1.0), (1, 1, 2.0), (1, 2, 3.0), "
        "(1, 3, 1.0)"
    )
    out = mr_eng.sql("""
        SELECT * FROM kwtab MATCH_RECOGNIZE (
          PARTITION BY u ORDER BY i
          MEASURES MATCH_NUMBER() AS define, COUNT(UPP.*) AS n_up
          PATTERN (UPP+)
          DEFINE UPP AS subset > PREV(subset)
        )""").collect()
    assert len(out) == 1 and out[0]["n_up"] == 2


# ---- runtime exclusivity guard: overlapping DEFINEs must raise ----
def _one_user_df(spark, vals):
    """One user's events, ``event_id`` = position in ``vals``."""
    return _mk_df(
        spark, {1: [{"event_id": i, "value": v} for i, v in enumerate(vals)]}
    )


def test_overlapping_defines_raise_not_silently_mislabel(spark):
    """Values [5,3,3] with
    DOWN AS value <= PREV(value), UP AS value >= PREV(value). The reference
    NFA finds 1 match; the label rewrite would find 0 — so the engine must
    refuse at execution time, not return the wrong answer."""
    df = _one_user_df(spark, [5, 3, 3])
    out = match_recognize(
        df,
        partition_by=["user_id"],
        order_by="event_id",
        pattern="STRT DOWN+ UP+",
        defines={
            "DOWN": "value <= PREV(value)",
            "UP": "value >= PREV(value)",
        },
        measures={"mn": "MATCH_NUMBER()"},
    )
    with pytest.raises(Exception, match="mutually exclusive"):
        out.collect()


def test_exclusive_defines_pass_the_guard(spark):
    """The guard must not fire on contract-conforming (strict) defines —
    the shipped b53 spelling still evaluates."""
    df = _one_user_df(spark, [5, 3, 1, 4, 6, 2])
    out = match_recognize(
        df,
        partition_by=["user_id"],
        order_by="event_id",
        pattern="STRT DOWN+ UP+",
        defines={
            "DOWN": "value < PREV(value)",
            "UP": "value > PREV(value)",
        },
        measures={"mn": "MATCH_NUMBER()"},
    )
    assert out.count() == 1  # 5>3>1<4<6 matches; trailing 2 has no UP leg


def test_sql_route_overlapping_defines_raise(spark, tmp_path):
    """Engine.sql routes arbitrary Trino MATCH_RECOGNIZE text — the guard
    must protect that path too."""
    from oss_data_lake_spark.engine import Engine

    e = Engine(spark=spark, warehouse_dir=str(tmp_path / "wh"))
    e.sql("CREATE TABLE ev (user_id BIGINT, event_id BIGINT, value DOUBLE) "
          "USING snapshot")
    e.sql("INSERT INTO ev VALUES (1, 0, 5.0), (1, 1, 3.0), (1, 2, 3.0)")
    out = e.sql(
        "SELECT * FROM ev MATCH_RECOGNIZE ("
        " PARTITION BY user_id ORDER BY event_id"
        " MEASURES MATCH_NUMBER() AS mn"
        " PATTERN (STRT DOWN+ UP+)"
        " DEFINE DOWN AS value <= PREV(value),"
        "        UP AS value >= PREV(value))"
    )
    with pytest.raises(Exception, match="mutually exclusive"):
        out.collect()


# ----------------- MATCH_RECOGNIZE DEFINE literals carrying hostile text

_payload = payloads(SAMPLING)


MR_TMPL = """
SELECT * FROM mrz MATCH_RECOGNIZE (
  PARTITION BY u ORDER BY i
  MEASURES MATCH_NUMBER() AS n, LAST(A.s) AS last_s, COUNT(*) AS c
  PATTERN (A+ B+)
  DEFINE A AS s = {pa}, B AS s = {pb}
)
"""


@pytest.fixture(scope="module")
def mrz_eng(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("mrz")
    e = Engine(spark=spark, warehouse_dir=str(root / "whmr"))
    e.sql("CREATE TABLE mrz (u INT, i INT, s STRING) USING snapshot")
    e.sql(
        "INSERT INTO mrz VALUES "
        + ", ".join(
            f"(1, {i}, '{'xy'[i % 2]}')" for i in range(16)
        )
    )
    return e


@settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(payload=_payload)
def test_match_recognize_define_literals_stay_data(mrz_eng, payload):
    """Hostile payloads inside DEFINE string literals must parse as DATA:
    commas, parens, AS, PATTERN(, MATCH_RECOGNIZE( inside the literal may
    never split the clause or re-trigger the router. The statement either
    returns cleanly (payload matched / didn't match rows) or raises a
    clean analysis error — never a mangled rewrite."""
    q = MR_TMPL.format(pa=quote(payload), pb=quote(payload + "z"))
    rows = mrz_eng.sql(q).collect()
    # labels are exclusive ('s' can't equal both payloads), so matches
    # require both labels present — only the 'x'/'y' payloads can match
    for r in rows:
        assert r["last_s"] == payload
        assert r["c"] >= 2


def test_match_recognize_keyword_inside_literal_is_data(mrz_eng):
    df = mrz_eng.sql(
        "SELECT 'MATCH_RECOGNIZE ( PATTERN' AS s FROM mrz LIMIT 1"
    )
    assert df.collect()[0]["s"] == "MATCH_RECOGNIZE ( PATTERN"


def test_match_recognize_malformed_clauses_raise_cleanly(mrz_eng):
    cases = [
        # clause order violated
        ("SELECT * FROM mrz MATCH_RECOGNIZE (ORDER BY i PARTITION BY u "
         "MEASURES MATCH_NUMBER() AS n PATTERN (A+) DEFINE A AS s = 'x')",
         "out of order"),
        # missing DEFINE
        ("SELECT * FROM mrz MATCH_RECOGNIZE (PARTITION BY u ORDER BY i "
         "MEASURES MATCH_NUMBER() AS n PATTERN (A+))", "missing"),
        # SUBSET unsupported
        ("SELECT * FROM mrz MATCH_RECOGNIZE (PARTITION BY u ORDER BY i "
         "MEASURES MATCH_NUMBER() AS n PATTERN (A+) SUBSET S = (A) "
         "DEFINE A AS s = 'x')", "SUBSET"),
        # DESC order
        ("SELECT * FROM mrz MATCH_RECOGNIZE (PARTITION BY u ORDER BY i DESC "
         "MEASURES MATCH_NUMBER() AS n PATTERN (A+) DEFINE A AS s = 'x')",
         "ascending"),
        # measure without alias
        ("SELECT * FROM mrz MATCH_RECOGNIZE (PARTITION BY u ORDER BY i "
         "MEASURES MATCH_NUMBER() PATTERN (A+) DEFINE A AS s = 'x')",
         "AS alias"),
        # trailing junk after the clause
        ("SELECT * FROM mrz MATCH_RECOGNIZE (PARTITION BY u ORDER BY i "
         "MEASURES MATCH_NUMBER() AS n PATTERN (A+) DEFINE A AS s = 'x') "
         "WHERE n > 1", "trailing"),
    ]
    for q, msg in cases:
        with pytest.raises(ValueError, match=msg):
            mrz_eng.sql(q)
