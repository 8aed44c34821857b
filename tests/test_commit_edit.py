"""The one manifest builder (``sources/commit_edit.py``): every commit
kind is an ``Edit`` the builder applies to the parent it lands on.

- a Spark-free run over ``InMemoryCasCatalog``: a lost claim re-runs the
  conflict rule against the new parent, an append rebuilds on the new
  head, a pinned edit refuses a moved head and reads no manifest;
- one parametrized field-carry test: a table with every table-level
  field set to a sentinel goes through each edit kind, and each field
  survives or changes exactly as that kind says, while no per-commit key
  is carried;
- a source scan keeping the builder the only caller of
  ``protocol.commit``."""

from __future__ import annotations

import json
import os
import pathlib
import re
import shutil

import pytest

from oss_data_lake_spark.sources.catalog import (
    CasCommitProtocol,
    CommitConflict,
    InMemoryCasCatalog,
)
from oss_data_lake_spark.sources.commit_edit import (
    FILE_SET,
    Edit,
    ManifestBuilder,
)

PKG = pathlib.Path(__file__).resolve().parent.parent / "oss_data_lake_spark"


# ------------------------------------------------- Spark-free builder


def _cas():
    """A CAS-protocol table whose v1 shows dir ``a``, its builder, and
    the list every manifest read of the protocol appends to."""
    proto = CasCommitProtocol(InMemoryCasCatalog(), prefix="t/")
    reads: list[int] = []
    read = proto.read_manifest

    def counting(version: int) -> dict:
        reads.append(version)
        return read(version)

    proto.read_manifest = counting
    builder = ManifestBuilder(proto)
    builder.commit(Edit("create", files={"data_dirs": ["a"]}, on_table=False))
    return proto, builder, reads


def _append(d: str, check=None) -> Edit:
    return Edit(
        "append",
        files=lambda pm: {"data_dirs": pm["data_dirs"] + [d]},
        check=check,
    )


def _racing_check(builder, seen: list, rival: Edit):
    """A conflict rule that records each parent it judges and, on its
    first run, lets ``rival`` land first — so that claim is lost."""
    def check(parent, pm, read_manifest):
        seen.append(parent)
        if len(seen) == 1:
            builder.commit(rival)
    return check


def test_lost_claim_reruns_the_rule_and_append_rebuilds_on_new_head():
    proto, builder, _ = _cas()
    seen: list = []
    v = builder.commit(
        _append("mine", _racing_check(builder, seen, _append("rival")))
    )
    assert seen == [1, 2]  # the rule ran again against the new parent
    assert v == 3 and proto.read_current() == 3
    m = proto.read_manifest(3)
    assert m["data_dirs"] == ["a", "rival", "mine"]
    assert (m["parent"], m["mode"], m["txn"]) == (2, "append", None)


def test_pinned_edit_refuses_a_moved_head_and_reads_no_manifest():
    proto, builder, reads = _cas()
    m1 = proto.read_manifest(1)
    reads.clear()
    assert builder.commit(
        Edit("delete", files={"data_dirs": []}, pin=(1, m1))
    ) == 2
    assert reads == []  # the pinned manifest is the parent
    m2 = proto.read_manifest(2)
    seen: list = []
    with pytest.raises(CommitConflict, match="planned against v2, head is v3"):
        builder.commit(Edit(
            "delete",
            files={"data_dirs": ["b"]},
            check=_racing_check(builder, seen, _append("rival")),
            pin=(2, m2),
        ))
    assert seen == [2]  # lost the claim, then refused the new head
    assert proto.read_current() == 3


def test_txn_identity_is_idempotent_and_the_ledger_carries():
    proto, builder, _ = _cas()
    v = builder.commit(
        Edit("append", files={"data_dirs": ["b"]}, txn=("app", 5, False))
    )
    # a re-delivery of the same (or an older) txn version is a no-op
    assert builder.commit(
        Edit("append", files={"data_dirs": ["c"]}, txn=("app", 5, False))
    ) == v
    assert builder.commit(Edit("set", fields={"properties": {"p": "1"}})) == 3
    m = proto.read_manifest(3)
    assert m["txn_watermarks"] == {"app": {"version": 5, "snapshot": v}}
    assert m["txn"] is None and m["data_dirs"] == ["b"]


def test_edit_keys_must_stay_in_their_class():
    _, builder, _ = _cas()
    with pytest.raises(KeyError, match="outside their class"):
        builder.commit(Edit("bad", files={"schema": {}}))
    with pytest.raises(KeyError, match="outside their class"):
        builder.commit(Edit("bad", fields={"data_dirs": []}))
    with pytest.raises(KeyError, match="outside their class"):
        builder.commit(Edit("bad", fields={"txn_watermarks": {}}))
    with pytest.raises(ValueError, match="already exists"):
        builder.commit(Edit("clone", on_table=False))


# ---------------------------------------------------------- tooling guard


def test_protocol_commit_has_one_call_site_the_builder():
    sites = [
        (p.name, line)
        for p in PKG.rglob("*.py")
        for line in p.read_text().splitlines()
        if ".protocol.commit(" in line
    ]
    assert sites == [
        ("commit_edit.py",
         "        return self.protocol.commit(functools.partial(self.build, edit))")
    ]
    snap = (PKG / "sources" / "snapshots.py").read_text()
    assert not re.search(r"\bdef build\(", snap)


# ------------------------------------------------------ field carry

SCHEMA = "k int, v double, w int"
TABLE_LEVEL = (
    "schema", "field_ids", "last_field_id", "properties", "constraints",
    "column_defaults", "declared_partition_by", "declared_sort_order",
    "table_stats", "txn_watermarks",
)


def _rows(spark, ks, schema=SCHEMA):
    n = len(schema.split(","))
    return spark.createDataFrame(
        [(k, float(k), 1)[:n] for k in ks], schema
    )


@pytest.fixture(scope="module")
def sentinel_root(spark, tmp_path_factory):
    """A table whose head sets every table-level field: properties (and
    a tag), a CHECK constraint, a column DEFAULT, a declared partition
    spec and sort order, ANALYZE stats, field ids past the initial ones,
    and a txn ledger entry rewound by a forced txn commit, so that it
    differs from what a scan of the version log would derive."""
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    root = str(tmp_path_factory.mktemp("sentinel") / "t")
    t = SnapshotTable(spark, root)
    t.commit(_rows(spark, range(20), "k int, v double"), stats_for=["k"])
    t.commit(
        _rows(spark, range(20, 24), "k int, v double"), mode="append",
        txn_app="sentinel-app", txn_version=7,
    )
    t.commit(
        _rows(spark, range(24, 26), "k int, v double"), mode="append",
        txn_app="sentinel-app", txn_version=3, txn_force=True,
    )
    t.set_properties({"sentinel": "p"})
    t.create_tag("sentinel-tag")
    t.add_constraint("sentinel_c", "k >= 0")
    t.add_columns({"w": "int"}, defaults={"w": "7"})
    t.set_partition_spec(["bucket(2, k)"])
    t.set_sort_order(["k"])
    t.analyze(["k"])
    return root


def _parent(t) -> dict:
    """The head manifest, first stamped with per-commit keys the next
    commit must not carry."""
    v = t.current_version()
    p = os.path.join(t.path, "_snapshots", f"v{v}.json")
    with open(p) as f:
        m = json.load(f)
    m.update(txn_record="sentinel-txn", clone_source={"path": "x", "version": 0})
    with open(p, "w") as f:
        json.dump(m, f)
    return m


def _columns(schema: dict) -> list:
    return [(f["name"], f["type"]) for f in schema["fields"]]


def _renamed_schema(pm):
    return {**pm["schema"], "fields": [
        {**f, "name": "v2" if f["name"] == "v" else f["name"]}
        for f in pm["schema"]["fields"]
    ]}


def _kinds(spark, t, tmp):
    """name -> function running that edit kind on ``t``; each returns
    ``(parent manifest, {field: expected value or predicate})`` for the
    fields the kind changes — every other field must survive."""

    def append():
        pm = _parent(t)
        t.commit(_rows(spark, [90]), mode="append")
        return pm, {}

    def overwrite():
        pm = _parent(t)
        t.commit(_rows(spark, range(5)), mode="overwrite")
        return pm, {}

    def compact():
        pm = _parent(t)
        t.compact()
        # a rewrite adopts the schema of the frame it wrote, whose
        # nullability the read's DEFAULT fill may tighten
        return pm, {"schema": lambda s: _columns(s) == _columns(pm["schema"])}

    def cow_dml():
        pm = _parent(t)
        t.delete_where("k = 1")
        return pm, {}

    def mor_dml():
        pm = _parent(t)
        t.delete_where_mor("k = 2")
        return pm, {}

    def properties():
        pm = _parent(t)
        t.set_properties({"new": "1"})
        return pm, {"properties": {**pm["properties"], "new": "1"}}

    def schema():
        pm = _parent(t)
        t.add_columns({"x": "int"})
        x = {"name": "x", "type": "integer", "nullable": True, "metadata": {}}
        fid = pm["last_field_id"] + 1
        return pm, {
            "schema": {**pm["schema"], "fields": pm["schema"]["fields"] + [x]},
            "field_ids": {**pm["field_ids"], "x": fid},
            "last_field_id": fid,
        }

    def constraints():
        pm = _parent(t)
        t.add_constraint("c2", "v >= 0")
        return pm, {"constraints": {**pm["constraints"], "c2": "v >= 0"}}

    def rename():
        pm = _parent(t)
        t.rename_column("v", "v2")
        return pm, {
            "schema": _renamed_schema(pm),
            "field_ids": {
                ("v2" if n == "v" else n): i
                for n, i in pm["field_ids"].items()
            },
        }

    def analyze():
        pm = _parent(t)
        t.analyze()
        return pm, {
            "table_stats": lambda s: s["analyzed_version"] == pm["version"]
            and s["ndv"] == pm["table_stats"]["ndv"],
        }

    def partition_spec():
        pm = _parent(t)
        t.set_partition_spec(["k"])
        return pm, {"declared_partition_by": ["k"]}

    def sort_order():
        pm = _parent(t)
        t.set_sort_order(["v"])
        return pm, {"declared_sort_order": ["v"]}

    def cherry_pick():
        base = t.current_version()
        t.commit(_rows(spark, [91]), mode="append")
        picked = t.current_version()
        t.rollback(base)
        pm = _parent(t)
        t.cherry_pick(picked)
        return pm, {}

    def rollback():
        old = t._manifest(t.current_version())
        t.add_columns({"late": "int"})
        t.analyze()
        pm = _parent(t)
        t.rollback(old["version"])
        # the rolled-to snapshot's schema state and stats; the head's
        # id high-water, ledger and operator decisions
        return pm, {
            k: old[k]
            for k in ("schema", "field_ids", "column_defaults", "table_stats")
        }

    def publish_strict():
        c = t.shallow_clone_to(os.path.join(tmp, "c"))
        c.commit(_rows(spark, [92]), mode="append")
        c.set_properties({"audited": "1"})
        pm = _parent(t)
        c.publish()
        return pm, {"properties": {**pm["properties"], "audited": "1"}}

    def publish_rebase():
        c = t.shallow_clone_to(os.path.join(tmp, "c"))
        t.commit(_rows(spark, [93]), mode="append")
        c.commit(_rows(spark, [94]), mode="append")
        c.set_properties({"audited": "1"})
        pm = _parent(t)
        c.publish(require_source_unchanged=False)
        return pm, {"properties": {**pm["properties"], "audited": "1"}}

    return {f.__name__: f for f in (
        append, overwrite, compact, cow_dml, mor_dml, properties, schema,
        constraints, rename, analyze, partition_spec, sort_order,
        cherry_pick, rollback, publish_strict, publish_rebase,
    )}


KINDS = [
    "append", "overwrite", "compact", "cow_dml", "mor_dml", "properties",
    "schema", "constraints", "rename", "analyze", "partition_spec",
    "sort_order", "cherry_pick", "rollback", "publish_strict",
    "publish_rebase",
]


@pytest.mark.parametrize("kind", KINDS)
def test_every_edit_kind_carries_the_table_level_fields(
    spark, sentinel_root, tmp_path, kind
):
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    root = str(tmp_path / "t")
    shutil.copytree(sentinel_root, root)
    t = SnapshotTable(spark, root)
    head = t._manifest(t.current_version())
    assert head["txn_watermarks"]["sentinel-app"]["version"] == 3
    assert all(head.get(f) for f in TABLE_LEVEL)  # every sentinel is set

    pm, expect = _kinds(spark, t, str(tmp_path))[kind]()
    child = t._manifest(t.current_version())
    for f in TABLE_LEVEL:
        want = expect.get(f, pm.get(f))
        if callable(want):
            assert want(child.get(f)), (kind, f, child.get(f))
        else:
            assert child.get(f) == want, (kind, f)
    # per-commit keys are stamped fresh, never carried
    assert child["version"] == pm["version"] + 1
    assert child["parent"] == pm["version"]
    assert child["txn"] is None
    assert "txn_record" not in child and "clone_source" not in child
    assert set(child) >= FILE_SET - {"dv_candidates"}
