"""SQL predicate extraction → file-pruned head views (one Spark parse per
statement, oss_data_lake_spark/sqlplan.py, through
sources/snapshots.py::parse_for_pruning + read_pruned).

Soundness frame: extraction may only surface predicates that are GENUINE
top-level WHERE conjuncts of the query block that reads the table —
anything else must be ignored (under-pruning is free, wrong-pruning loses
rows). These tests pin every conservative gate, then prove end-to-end that
the pruned SQL path returns identical results to the unpruned one while
opening strictly fewer files.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from oss_data_lake_spark.sources.snapshots import (
    SnapshotTable,
    parse_for_pruning,
    sql_with_time_travel,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "t"))
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), s=f"g{i % 4}") for i in range(100)]
    )
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k", "v"])
    return t


def _pruned(text, tables):
    spark = next(iter(tables.values())).spark
    return parse_for_pruning(spark, text, tables)[1]


def _preds(text, tbl, name="t"):
    return _pruned(text, {name: tbl}).get(name)


def test_between_and_comparisons_extract(tbl):
    got = _preds("SELECT * FROM t WHERE k BETWEEN 10 AND 19", tbl)
    assert got == [("k", 10, 19)]
    got = _preds("SELECT * FROM t WHERE k >= 10 AND k <= 19 AND v = 5", tbl)
    assert got == [("k", 10, None), ("k", None, 19), ("v", 5, 5)]
    # strict ops map to their inclusive superset
    got = _preds("SELECT * FROM t WHERE k > 10 AND k < 20", tbl)
    assert got == [("k", 10, None), ("k", None, 20)]


def test_qualified_names_must_match_table(tbl):
    assert _preds("SELECT * FROM t WHERE t.k >= 50", tbl) == [("k", 50, None)]
    # a foreign qualifier must NOT prune this table
    assert _preds(
        "SELECT * FROM t JOIN u ON t.k = u.k WHERE u.k >= 50", tbl
    ) is None


def test_or_not_case_disable_the_span(tbl):
    assert _preds("SELECT * FROM t WHERE k > 90 OR v < 1", tbl) is None
    assert _preds("SELECT * FROM t WHERE NOT (k > 90)", tbl) is None
    assert _preds(
        "SELECT * FROM t WHERE CASE WHEN k > 90 THEN 1 ELSE 0 END = 1", tbl
    ) is None


def test_non_stats_and_function_wrapped_columns_ignored(spark, tbl):
    assert _preds("SELECT * FROM t WHERE s = 'g1'", tbl) is None  # no stats
    assert _preds("SELECT * FROM t WHERE abs(k) > 90", tbl) is None
    # parentheses are gone after Spark's parse: the conjunct is k > 90
    text = "SELECT k FROM t WHERE (k > 90)"
    assert _preds(text, tbl) == [("k", 90, None)]
    got = sql_with_time_travel(spark, text, {"t": tbl}).collect()
    assert sorted(r["k"] for r in got) == list(range(91, 100))


def test_subquery_and_union_wheres_never_prune_outer_table(tbl):
    # the inner WHERE's from-list names u, not t
    assert _preds(
        "SELECT * FROM t WHERE k IN (SELECT k FROM u WHERE k < 5)", tbl
    ) == []  or _preds(
        "SELECT * FROM t WHERE k IN (SELECT k FROM u WHERE k < 5)", tbl
    ) is None
    # a union branch over ANOTHER table must not poison t's view
    text = (
        "SELECT k FROM t UNION ALL SELECT k FROM u WHERE k < 5"
    )
    assert _preds(text, tbl) is None
    # the same table referenced twice shares one view: no extraction
    text2 = (
        "SELECT * FROM t WHERE k < 5 UNION ALL SELECT * FROM t WHERE k > 90"
    )
    assert _preds(text2, tbl) is None


def test_predicate_shaped_text_inside_literal_ignored(tbl):
    got = _preds("SELECT * FROM t WHERE s = 'k BETWEEN 1 AND 2'", tbl)
    assert got is None


def test_having_not_extracted(tbl):
    got = _preds(
        "SELECT s, count(*) c FROM t WHERE k BETWEEN 0 AND 9 "
        "GROUP BY s HAVING count(*) > 3",
        tbl,
    )
    assert got == [("k", 0, 9)]  # the HAVING comparison is not a pred


def test_sql_pruned_view_matches_unpruned_and_opens_fewer_files(spark, tbl):
    """End to end through sql_with_time_travel: identical results, fewer
    files opened (plan-pinned via InMemoryFileIndex path count)."""
    import re

    from oss_data_lake_spark.plans.audit import explain_str

    text = "SELECT k, v FROM t WHERE k BETWEEN 20 AND 39 ORDER BY k"
    df = sql_with_time_travel(spark, text, {"t": tbl})
    got = [tuple(r) for r in df.collect()]
    want = [(i, float(i)) for i in range(20, 40)]
    assert got == want

    _sel, n_sel, n_skip = tbl.plan_pruned([("k", 20, 39)])
    assert n_skip > 0 and n_sel < n_sel + n_skip
    plan = explain_str(
        sql_with_time_travel(spark, text, {"t": tbl}), "simple"
    )
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m and int(m.group(1)) == n_sel, plan


def test_multi_column_plan_intersects(tbl):
    """Two conjuncts on different stats columns intersect their plans:
    k and v are correlated in the fixture, so each predicate alone admits
    the same files, but a CONTRADICTORY conjunction admits none."""
    sel, n_sel, _ = tbl.plan_pruned([("k", 0, 9), ("v", 90.0, 99.0)])
    assert n_sel == 0
    assert tbl.read_pruned([("k", 0, 9), ("v", 90.0, 99.0)]).count() == 0


def test_compound_expressions_extract_nothing(spark, tbl):
    """A conjunct must BE an extraction shape — a literal matched
    mid-expression would over-prune (ADVICE r6-high: `k = 5 + 50` used to
    extract (k, 5, 5) and wrongly prune the k=55 file)."""
    assert _preds("SELECT * FROM t WHERE k = 5 + 50", tbl) is None
    # an exponent literal is one double literal to Spark's parser
    text = "SELECT count(*) AS n FROM t WHERE k = 5e3"
    assert _preds(text, tbl) == [("k", 5000.0, 5000.0)]
    assert sql_with_time_travel(spark, text, {"t": tbl}).collect()[0]["n"] == 0
    text = "SELECT k FROM t WHERE k = 5e1"
    got = sql_with_time_travel(spark, text, {"t": tbl}).collect()
    assert [r["k"] for r in got] == [50]
    assert _preds("SELECT * FROM t WHERE -k < 5", tbl) is None
    assert _preds("SELECT * FROM t WHERE k BETWEEN 1 AND 5+1", tbl) is None
    assert _preds("SELECT * FROM t WHERE k = v + 1", tbl) is None
    assert _preds("SELECT * FROM t WHERE abs(k) = 5 + 50", tbl) is None
    # a clean conjunct NEXT TO a compound one still extracts (per-conjunct
    # fallback, not whole-span)
    got = _preds("SELECT * FROM t WHERE k = 5 + 50 AND v >= 2", tbl)
    assert got == [("v", 2, None)]
    # trailing semicolon must not block the fullmatch
    assert _preds("SELECT * FROM t WHERE k = 55;", tbl) == [("k", 55, 55)]


def test_compound_expression_sql_end_to_end(spark, tbl):
    """The ADVICE repro: `WHERE k = 5 + 50` must return the k=55 row."""
    df = sql_with_time_travel(
        spark, "SELECT count(*) AS n FROM t WHERE k = 5 + 50", {"t": tbl}
    )
    assert df.collect()[0]["n"] == 1


def test_compound_expression_dml_end_to_end(spark, tmp_path):
    """DELETE FROM t WHERE k = 5 + 50 must delete exactly the k=55 row
    (used to delete nothing: the wrong (k,5,5) range pruned every file
    containing k=55)."""
    from oss_data_lake_spark.sources.dml_sql import dispatch_statement

    t = SnapshotTable(spark, str(tmp_path / "d"))
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k"])
    dispatch_statement(spark, "DELETE FROM d WHERE k = 5 + 50", {"d": t})
    assert t.read().where("k = 55").count() == 0
    assert t.read().count() == 99


def test_unextractable_sql_still_correct(spark, tbl):
    """The fallback path: an OR query gets the UNPRUNED view and full
    results."""
    text = "SELECT count(*) AS n FROM t WHERE k < 5 OR k > 94"
    df = sql_with_time_travel(spark, text, {"t": tbl})
    assert df.collect()[0]["n"] == 10


def test_equality_predicate_uses_bloom_pruning(spark, tmp_path):
    """`WHERE col = x` through the SQL path must engage the per-file
    BLOOM on unclustered columns: min/max bounds alone cannot prune a
    column every file straddles, the bloom can."""
    import re

    from oss_data_lake_spark.plans.audit import explain_str

    t = SnapshotTable(spark, str(tmp_path / "b"))
    # ids shuffled across files: every file's [min, max] straddles any probe
    df = spark.createDataFrame(
        [Row(doc_id=(i * 37) % 1000, v=float(i)) for i in range(1000)]
    ).repartition(10)
    t.commit(df, stats_for=["doc_id"], bloom_for=["doc_id"])

    _sel, range_sel, range_skip = t.plan_range_scan("doc_id", 5, 5)
    sel, eq_sel, eq_skip = t.plan_pruned([("doc_id", 5, 5)])
    assert eq_skip > range_skip, (
        "plan_pruned must route point predicates via the bloom, which "
        "prunes beyond what min/max bounds can on this layout"
    )

    text = "SELECT v FROM b WHERE doc_id = 5"
    df_out = sql_with_time_travel(spark, text, {"b": t})
    assert df_out.count() == 1
    plan = explain_str(
        sql_with_time_travel(spark, text, {"b": t}), "simple"
    )
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m and int(m.group(1)) == eq_sel, plan


def test_in_list_predicate_unions_bloom_plans(spark, tmp_path):
    """`col IN (...)` prunes as the UNION of per-value bloom probes —
    still sound (a file outside every branch provably holds no listed
    value), and each branch gets bloom power beyond min/max."""
    t = SnapshotTable(spark, str(tmp_path / "in"))
    df = spark.createDataFrame(
        [Row(doc_id=(i * 37) % 1000, v=float(i)) for i in range(1000)]
    ).repartition(10)
    t.commit(df, stats_for=["doc_id"], bloom_for=["doc_id"])

    preds = _pruned(
        "SELECT * FROM x WHERE doc_id IN (5, 17, 400)", {"x": t}
    )["x"]
    assert preds == [{"col": "doc_id", "in": [5, 17, 400]}]
    sel, n_sel, n_skip = t.plan_pruned(preds)
    assert n_skip > 0
    got = sql_with_time_travel(
        spark, "SELECT v FROM x WHERE doc_id IN (5, 17, 400)", {"x": t}
    ).count()
    assert got == 3


def test_null_predicates_prune_from_null_counts(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "n"))
    with_nulls = spark.createDataFrame(
        [Row(k=i, v=(None if i % 2 == 0 else float(i))) for i in range(50)],
        "k long, v double",
    )
    no_nulls = spark.createDataFrame(
        [Row(k=100 + i, v=float(i)) for i in range(50)], "k long, v double"
    )
    all_nulls = spark.createDataFrame(
        [Row(k=200 + i, v=None) for i in range(50)], "k long, v double"
    )
    t.commit(with_nulls.coalesce(1), stats_for=["v"])
    t.commit(no_nulls.coalesce(1), mode="append", stats_for=["v"])
    t.commit(all_nulls.coalesce(1), mode="append", stats_for=["v"])

    sel, n_sel, n_skip = t.plan_pruned([{"col": "v", "null": True}])
    assert (n_sel, n_skip) == (2, 1), "zero-null file must skip IS NULL"
    sel, n_sel, n_skip = t.plan_pruned([{"col": "v", "null": False}])
    assert (n_sel, n_skip) == (2, 1), "all-null file must skip IS NOT NULL"

    # end-to-end through SQL text, both forms, exact results
    got = sql_with_time_travel(
        spark, "SELECT count(*) AS n FROM t WHERE v IS NULL", {"t": t}
    ).collect()[0]["n"]
    assert got == 25 + 50
    got = sql_with_time_travel(
        spark, "SELECT count(*) AS n FROM t WHERE v IS NOT NULL", {"t": t}
    ).collect()[0]["n"]
    assert got == 25 + 50
    # IS NOT NULL extraction survives the NOT blocker exception; real
    # negations still disable
    assert _pruned(
        "SELECT * FROM t WHERE v IS NOT NULL", {"t": t}
    )["t"] == [{"col": "v", "null": False}]
    assert _pruned(
        "SELECT * FROM t WHERE v NOT IN (1, 2)", {"t": t}
    ) == {}


def test_as_of_views_also_prune(spark, tmp_path):
    """FOR VERSION AS OF + a WHERE range: the versioned view must plan
    against THAT version's manifest stats and open only admitted files —
    time travel and file skipping compose."""
    import re

    from oss_data_lake_spark.plans.audit import explain_str

    t = SnapshotTable(spark, str(tmp_path / "ttp"))
    df = spark.createDataFrame([Row(k=i, v=float(i)) for i in range(100)])
    t.commit_clustered(df, cluster_by="k", n_files=10, stats_for=["k"])
    # v2 deletes the probed range; the AS-OF read must still see it
    t.delete_where(
        "k BETWEEN 20 AND 39", prune_column="k", prune_lower=20,
        prune_upper=39, stats_for=["k"],
    )
    text = (
        "SELECT count(*) AS n FROM ttp FOR VERSION AS OF 1 "
        "WHERE k BETWEEN 20 AND 39"
    )
    out = sql_with_time_travel(spark, text, {"ttp": t})
    assert out.collect()[0]["n"] == 20
    _sel, n_sel, n_skip = t.plan_pruned([("k", 20, 39)], version=1)
    assert n_skip > 0
    plan = explain_str(sql_with_time_travel(spark, text, {"ttp": t}), "simple")
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m and int(m.group(1)) == n_sel, plan


# --------------------------------------------------- wrong-row regressions
#
# Each statement runs twice: through Engine.sql over the registered
# snapshot tables (pruned views), and through spark.sql over plain temp
# views of the same tables (nothing pruned). The rows must match. The
# text extractor returned wrong rows for every one of these: it pruned
# the null-supplying side of an outer join, and pushed an outer WHERE
# through a window, a LIMIT and an aggregate in a derived table.


def _commit(spark, path, rows, schema, cluster_by, stats):
    t = SnapshotTable(spark, str(path))
    t.commit_clustered(
        spark.createDataFrame(rows, schema),
        cluster_by=cluster_by, n_files=len(rows) // 10 or 1, stats_for=stats,
    )
    return t


def _engine_vs_unpruned(spark, tables, text):
    from oss_data_lake_spark.engine import Engine

    for name, t in tables.items():
        t.read().createOrReplaceTempView(name)
    try:
        want = sorted(tuple(r) for r in spark.sql(text).collect())
    finally:
        for name in tables:
            spark.catalog.dropTempView(name)
    eng = Engine(spark=spark)
    eng._snapshot_tables.update(tables)
    got = sorted(tuple(r) for r in eng.sql(text).collect())
    assert got == want
    return got


@pytest.fixture()
def keyed(spark, tmp_path):
    """ta: k = 0..9 and payload x; tb: the even k only, both with stats."""
    ta = _commit(
        spark, tmp_path / "ta", [(i, i * 10) for i in range(10)],
        "k int, x int", "k", ["k", "x"],
    )
    tb = _commit(
        spark, tmp_path / "tb", [(i, i * 10) for i in range(0, 10, 2)],
        "k int, x int", "k", ["k", "x"],
    )
    return {"ta": ta, "tb": tb}


def test_left_anti_join_where_keeps_the_null_supplying_side(spark, keyed):
    text = (
        "SELECT ta.k FROM ta LEFT JOIN tb ON ta.k = tb.k WHERE tb.k IS NULL"
    )
    assert _preds(text, keyed["tb"], "tb") is None
    got = _engine_vs_unpruned(spark, keyed, text)
    assert got == [(1,), (3,), (5,), (7,), (9,)]


def test_right_join_where_keeps_the_null_supplying_side(spark, keyed):
    text = (
        "SELECT ta.k FROM tb RIGHT JOIN ta ON ta.k = tb.k "
        "WHERE tb.x IS NULL AND ta.x >= 30"
    )
    # the preserved side still prunes
    assert _preds(text, keyed["ta"], "ta") == [("x", 30, None)]
    assert _preds(text, keyed["tb"], "tb") is None
    got = _engine_vs_unpruned(spark, keyed, text)
    assert got == [(3,), (5,), (7,), (9,)]


@pytest.fixture()
def sixty(spark, tmp_path):
    """k = 1..60 in six files; g = k % 3; c = k // 20 (0..3)."""
    return {
        "t": _commit(
            spark, tmp_path / "t60",
            [(k, k % 3, k // 20) for k in range(1, 61)],
            "k int, g int, c int", "k", ["k", "c"],
        )
    }


@pytest.mark.parametrize(
    "text, want",
    [
        (
            "SELECT k, rn FROM (SELECT k, row_number() OVER (ORDER BY k) "
            "AS rn FROM t) s WHERE k > 50",
            [(k, k) for k in range(51, 61)],
        ),
        (
            "SELECT k FROM (SELECT k FROM t ORDER BY k LIMIT 55) s "
            "WHERE k > 50",
            [(k,) for k in range(51, 56)],
        ),
        (
            # c is also a stats column of t itself
            "SELECT * FROM (SELECT g, count(*) AS c FROM t GROUP BY g) s "
            "WHERE c > 3",
            [(0, 20), (1, 20), (2, 20)],
        ),
    ],
    ids=["window", "limit", "aggregate"],
)
def test_outer_where_never_prunes_through_a_derived_table(
    spark, sixty, text, want
):
    assert _preds(text, sixty["t"]) is None
    assert _engine_vs_unpruned(spark, sixty, text) == want


def test_aliased_table_prunes_on_its_alias(spark, tbl):
    import re

    from oss_data_lake_spark.plans.audit import explain_str

    text = "SELECT o.k FROM t o WHERE o.k BETWEEN 20 AND 39"
    assert _preds(text, tbl) == [("k", 20, 39)]
    _sel, n_sel, n_skip = tbl.plan_pruned([("k", 20, 39)])
    assert n_skip > 0
    df = sql_with_time_travel(spark, text, {"t": tbl})
    assert sorted(r["k"] for r in df.collect()) == list(range(20, 40))
    plan = explain_str(df, "simple")
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m and int(m.group(1)) == n_sel, plan
    # the table's own name is out of scope once it is aliased
    assert _preds("SELECT * FROM t o WHERE t.k = 5", tbl) is None


def test_mixed_case_self_join_counts_both_leaves(spark, tbl):
    """Temp views resolve case-insensitively, so ``t a`` and ``T b`` read
    one view: pruning it for ``a.k = 5`` would lose ``b``'s k = 55 row."""
    text = (
        "SELECT a.k, b.k FROM t a JOIN T b ON b.k = a.k + 50 WHERE a.k = 5"
    )
    assert _preds(text, tbl) is None
    assert _engine_vs_unpruned(spark, {"t": tbl}, text) == [(5, 55)]


def test_unnest_outer_side_prunes(spark, tmp_path):
    """Trino's ``CROSS JOIN UNNEST`` becomes a lateral join whose outer
    side a WHERE on the outer table's own columns still prunes."""
    import re

    from oss_data_lake_spark.engine import Engine
    from oss_data_lake_spark.plans.audit import explain_str

    ut = _commit(
        spark, tmp_path / "ut", [(i, [i, i + 100]) for i in range(60)],
        "id int, arr array<int>", "id", ["id"],
    )
    lateral = (
        "SELECT id, u.v FROM ut CROSS JOIN LATERAL "
        "(SELECT * FROM explode(arr)) AS u(v) WHERE id = 2"
    )
    assert _preds(lateral, ut, "ut") == [("id", 2, 2)]
    assert _engine_vs_unpruned(spark, {"ut": ut}, lateral) == [
        (2, 2), (2, 102)
    ]
    eng = Engine(spark=spark)
    eng._snapshot_tables["ut"] = ut
    df = eng.sql(
        "SELECT id, u.v FROM ut CROSS JOIN UNNEST(arr) AS u(v) WHERE id = 2"
    )
    assert sorted(tuple(r) for r in df.collect()) == [(2, 2), (2, 102)]
    _sel, n_sel, n_skip = ut.plan_pruned([("id", 2, 2)])
    assert n_skip > 0
    plan = explain_str(df, "simple")
    m = re.search(r"InMemoryFileIndex\((\d+) paths\)", plan)
    assert m and int(m.group(1)) == n_sel, plan
