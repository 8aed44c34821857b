"""Table references and file-skipping conjuncts from Spark's own parse.

A statement is parsed once (``parsePlan(text).toJSON()``), a single-table
DML condition once (``parseExpression(cond).toJSON()``); the rest walks
that JSON in Python, so literals, comments, quoted names and subqueries
are the parser's problem, not a regex's. ``toJSON`` lists a tree in
pre-order with children by position; a field holding another tree (a
condition, a subquery's plan, a CTE body) holds its own pre-order list.

The conjuncts of a WHERE (a ``Filter``, split on ``And``; a HAVING is not
one) constrain the relation leaves reached from the Filter's child
through only: a ``SubqueryAlias`` directly over a relation (the leaf's
alias), both sides of an ``Inner``/``Cross`` join, the left side of a
``LeftOuter``/``LeftSemi``/``LeftAnti`` join and the right side of a
``RightOuter`` one (a ``LateralJoin``, Trino's ``CROSS JOIN UNNEST``,
alike: its one plan child is its left side). Nothing else is crossed —
not a ``Project``, ``Aggregate``, ``Window``, ``Limit``, ``Union`` or
``FullOuter`` join — since a WHERE there does not constrain the base
rows. A qualified column applies to the leaf whose alias (or name,
without one) is the qualifier. Extractable conjuncts are ``col op
literal`` (``= < <= > >=``), ``col BETWEEN lit AND lit``, ``col IN
(literals)`` and ``col IS [NOT] NULL``; anything else (OR, NOT, CASE,
functions, arithmetic, subqueries) drops that conjunct only. Leaves are
keyed by lower-cased name: temp views resolve case-insensitively, so
``t`` and ``T`` read one view.

The same parse reports each time-travel reference, a relation with an
``AS OF`` clause (``RelationTimeTravel``) or a ``table_changes(...)``
call, with its source span. ``toJSON`` carries no positions, so only a
statement holding one pays for them: one ``treeString()`` numbers the
nodes as ``TreeNode.apply`` does, then each reference's node, its JSON
and the origins of the node and of a relation's name cost nine py4j
calls per ``AS OF`` and six per ``table_changes`` (two per node for all
nodes when a string literal spans lines and so shifts the numbering).
"""

from __future__ import annotations

import json
import re
import weakref
from collections import Counter, defaultdict
from typing import NamedTuple

from pyspark.errors import ParseException
from pyspark.sql import SparkSession

_IDENT_RE = re.compile(r"[A-Za-z_]\w*")
_BACKTICKED_RE = re.compile(r"`(?:[^`]|``)*`")

_CMP_OPS = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=",
            "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_INT_TYPES = frozenset({"tinyint", "smallint", "integer", "bigint"})
_RELATIONS = frozenset({"UnresolvedRelation", "RelationTimeTravel"})
_SUBQUERIES = frozenset(
    {"Exists", "InSubquery", "LateralSubquery", "ListQuery", "ScalarSubquery"}
)
# parsed-plan nodes Spark plans with an exchange over a multi-partition
# input: a GROUP BY, DISTINCT, join, subquery, ORDER BY, window or set
# operation, and any function call, which may be a global aggregate or a
# window function (the parse does not tell them from scalar functions)
_SHUFFLING = _SUBQUERIES | {
    "Aggregate", "Distinct", "Except", "Intersect", "Join", "Pivot", "Sort",
    "UnresolvedFunction", "UnresolvedHaving", "UnresolvedWindowExpression",
    "WindowExpression",
}
# join type → the children whose rows a WHERE above the join constrains
_JOIN_SIDES = {"Inner": (0, 1), "Cross": (0, 1), "LeftOuter": (0,),
               "LeftSemi": (0,), "LeftAnti": (0,), "RightOuter": (1,)}
_BOUND_TYPES = _INT_TYPES | {"string"}
# commands holding their query in a field, not as a child: their tree
# string and node numbering stop at the command
_QUERY_FIELDS = {"ExplainCommand": "logicalPlan",
                 "DescribeQueryCommand": "plan"}
_NO_VALUE = object()
_PARSERS = weakref.WeakKeyDictionary()  # session → its sqlParser()


class Term(NamedTuple):
    """One extractable conjunct; ``qual`` is None when unqualified, ``op``
    one of ``= < <= > >= between in null notnull``."""

    qual: str | None
    col: str
    op: str
    vals: tuple

    @property
    def pred(self):
        """The ``SnapshotTable.plan_pruned`` predicate (a strict bound
        widens to its inclusive superset, which is sound for skipping)."""
        c, v, op = self.col, self.vals, self.op
        if op == "in":
            return {"col": c, "in": list(v)}
        if op in ("null", "notnull"):
            return {"col": c, "null": op == "null"}
        lo = v[0] if op in ("=", ">", ">=", "between") else None
        hi = v[-1] if op in ("=", "<", "<=", "between") else None
        return (c, lo, hi)


class Travel(NamedTuple):
    """A time-travel reference, ``text[start:stop]``: ``kind`` ``version``
    (``at`` the version or ref name), ``timestamp`` (``at`` the literal's
    text as written) or ``changes`` (``at`` the ``table_changes`` bounds,
    ints or strings). ``name`` is lower-cased, as the leaves are."""

    kind: str
    name: str
    at: object
    start: int
    stop: int


class Statement(NamedTuple):
    """Relation leaves per lower-cased name (subqueries and CTE bodies
    included), per lower-cased name the terms that constrain its leaves'
    rows, whether any node may plan an exchange (``_SHUFFLING``), and the
    time-travel references (``Travel``)."""

    leaves: Counter
    terms: dict
    shuffles: bool
    travels: tuple


class Condition(NamedTuple):
    """One Term (or None) per top-level conjunct, and whether the
    condition holds a subquery or is no expression Spark parses (a
    ``t$files`` inside a subquery, which only the statement path
    splices): either way it is evaluated as SQL."""

    terms: list
    subquery: bool


def _parse(spark: SparkSession, method: str, text: str):
    """The one parser call; the parsed JVM tree."""
    parser = _PARSERS.get(spark)
    if parser is None:
        parser = spark._jsparkSession.sessionState().sqlParser()
        _PARSERS[spark] = parser
    return getattr(parser, method)(text)


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _link(flat: list) -> dict:
    """Give each node of a pre-order list its ``_kids``; the root."""
    open_: list[dict] = []
    for node in flat:
        node["_kids"] = []
        if open_:
            open_[-1]["_kids"].append(node)
        open_.append(node)
        while open_ and len(open_[-1]["_kids"]) == open_[-1]["num-children"]:
            open_.pop()
    return flat[0]


def _nodes(doc):
    """Every node of every tree in the JSON, linked on the way. Generic
    over field names, so no subquery plan or CTE body is missed."""
    stack = [doc]
    while stack:
        o = stack.pop()
        if isinstance(o, dict):
            if "class" in o:
                yield o
            stack.extend(v for k, v in o.items() if k != "_kids")
        elif isinstance(o, list):
            if o and isinstance(o[0], dict) and "num-children" in o[0]:
                _link(o)
            stack.extend(o)


def _name(parts: str | None, strict: bool = False) -> str | None:
    """``"[a, b]"`` (a name as toJSON prints it) → ``"a.b"``, when every
    part is a plain identifier. ``strict`` refuses multi-part names: a
    backquoted name holding ``", "`` prints like two parts."""
    split = parts[1:-1].split(", ") if parts else []
    if not split or strict and len(split) > 1:
        return None
    return ".".join(split) if all(map(_IDENT_RE.fullmatch, split)) else None


def _leaf_name(node: dict) -> str | None:
    if _cls(node) == "RelationTimeTravel":
        node = (node.get("relation") or [{}])[0]
    return _name(node.get("multipartIdentifier"))


def _value(node: dict):
    """A literal as Python: int for integer types, float for decimal/
    double/float, the ISO string for string/date/timestamp (Spark prints
    timestamps in the session time zone); other types have no value."""
    if _cls(node) != "Literal" or node.get("value") is None:
        return _NO_VALUE
    t, v = node["dataType"], node["value"]
    if t in _INT_TYPES:
        return int(v)
    if t in ("double", "float") or t.startswith("decimal"):
        return float(v)
    return v if t in ("string", "date", "timestamp") else _NO_VALUE


def _conjuncts(root: dict) -> list[dict]:
    out, stack = [], [root]
    while stack:
        n = stack.pop()
        if _cls(n) == "And":
            stack.extend(reversed(n["_kids"]))
        else:
            out.append(n)
    return out


def _term(node: dict, strict: bool) -> Term | None:
    cls, kids = _cls(node), node["_kids"]
    if cls == "UnresolvedFunction":
        if _name(node.get("nameParts")) != "between" or len(kids) != 3:
            return None
        op = "between"
    elif cls in _CMP_OPS:
        op = _CMP_OPS[cls]
    elif cls in ("In", "IsNull", "IsNotNull"):
        op = {"In": "in", "IsNull": "null", "IsNotNull": "notnull"}[cls]
    else:
        return None
    name = None
    if _cls(kids[0]) == "UnresolvedAttribute":
        name = _name(kids[0].get("nameParts"), strict)
    vals = tuple(map(_value, kids[1:]))
    if name is None or _NO_VALUE in vals or (op == "in" and not vals):
        return None
    qual, _, col = name.rpartition(".")
    return Term(qual or None, col, op, vals)


def _scopes(plan: dict) -> list[tuple[str, str | None]]:
    """``(leaf key, scope name)`` of each leaf a Filter over ``plan``
    constrains."""
    out, stack = [], [(plan, None)]
    while stack:
        n, alias = stack.pop()
        cls = _cls(n)
        if cls in _RELATIONS:
            out.append(((_leaf_name(n) or "").lower(), alias or _leaf_name(n)))
        elif cls == "SubqueryAlias" and _cls(n["_kids"][0]) in _RELATIONS:
            stack.append((n["_kids"][0], n["identifier"]["name"]))
        elif cls in ("Join", "LateralJoin"):
            jt = n.get("joinType") or {}
            jt = jt.get("tpe", jt).get("object", "")  # USING/NATURAL wrap it
            sides = _JOIN_SIDES.get(jt.rsplit(".", 1)[-1].rstrip("$"), ())
            kids = n["_kids"]
            stack.extend((kids[i], None) for i in sides if i < len(kids))
    return out


def _travel(text: str, doc: dict, node) -> Travel:
    """The reference of one numbered JVM node; ``doc`` is its JSON."""
    ctx = node.origin().context()
    stop = ctx.stopIndex() + 1
    if _cls(doc) == "UnresolvedTableValuedFunction":
        vals = [_value(a[0]) if a[0].get("dataType") in _BOUND_TYPES
                else None for a in doc["functionArgs"]]
        if not 2 <= len(vals) <= 3 or not all(
            isinstance(v, (int, str)) for v in vals
        ):
            raise ValueError("table_changes takes a table name and one or "
                             "two version or timestamp literals")
        return Travel("changes", str(vals[0]).lower(), tuple(vals[1:]),
                      ctx.startIndex(), stop)
    # the node's own span covers only the clause; its name's starts it
    start = node.relation().origin().context().startIndex()
    name = (_leaf_name(doc) or "").lower()
    if doc.get("version") is not None:
        return Travel("version", name, doc["version"], start, stop)
    # the literal as written: Spark prints a typed TIMESTAMP literal in the
    # session time zone, which loses whether the text had an offset
    quote = text[stop - 1]
    if _cls(doc["timestamp"][0]) != "Literal" or quote not in "'\"":
        raise ValueError("FOR TIMESTAMP AS OF takes a timestamp literal")
    at = text[text.rindex(quote, start, stop - 1) + 1:stop - 1]
    return Travel("timestamp", name, at, start, stop)


def _is_travel(node: dict) -> bool:
    return _cls(node) == "RelationTimeTravel" or (
        _cls(node) == "UnresolvedTableValuedFunction"
        and (_name(node["name"]) or "").lower() == "table_changes"
    )


def _travels(text: str, plan, doc: list, refs: int) -> tuple:
    """The ``Travel`` of each of the statement's ``refs`` time-travel
    nodes; ``plan`` is the parsed JVM tree, ``doc`` its JSON."""
    field = _QUERY_FIELDS.get(_cls(doc[0]))
    root = getattr(plan, field)() if field else plan
    lines = [line.lstrip(" :+-") for line in root.treeString().split("\n")]
    marked = [i for i, line in enumerate(lines) if line.startswith(
        ("'RelationTimeTravel ", "'UnresolvedTableValuedFunction "))]
    # a literal spanning lines prints as more lines than nodes and shifts
    # the numbering after it: then every node is tried
    for picks in (marked, range(len(lines))):
        nodes = [n for n in map(root.apply, picks) if n is not None]
        docs = [json.loads(n.toJSON())[0] for n in nodes]
        found = [(d, n) for d, n in zip(docs, nodes) if _is_travel(d)]
        if len(found) == refs:
            return tuple(_travel(text, d, n) for d, n in found)
    raise ValueError(
        f"cannot place the time-travel references of a "
        f"{_cls(doc[0])} statement"
    )


def _strict(text: str) -> bool:
    return any(", " in q for q in _BACKTICKED_RE.findall(text))


def statement(text: str, spark: SparkSession) -> Statement:
    """Leaves, per-leaf terms and time-travel references of one statement;
    raises Spark's ParseException for a statement Spark cannot parse, and
    ValueError for a time-travel value that is not a literal."""
    strict = _strict(text)
    plan = _parse(spark, "parsePlan", text)
    doc = json.loads(plan.toJSON())
    leaves, terms, refs = Counter(), defaultdict(list), 0
    shuffles = False
    for node in _nodes(doc):
        shuffles = shuffles or _cls(node) in _SHUFFLING
        if "multipartIdentifier" in node:
            leaves[(_name(node["multipartIdentifier"]) or "").lower()] += 1
        if _cls(node) == "Filter":
            conj = _conjuncts(_link(node["condition"]))
            found = [t for t in (_term(c, strict) for c in conj) if t]
            for leaf, scope in _scopes(node["_kids"][0]):
                terms[leaf] += [t for t in found if t.qual in (None, scope)]
        elif _is_travel(node):
            refs += 1
    travels = _travels(text, plan, doc, refs) if refs else ()
    return Statement(leaves, dict(terms), shuffles, travels)


def condition(text: str, spark: SparkSession) -> Condition:
    """The conjuncts of a single-table DML condition (no qualifier scope:
    callers keep unqualified terms only)."""
    try:
        doc = json.loads(_parse(spark, "parseExpression", text).toJSON())
    except ParseException:
        return Condition([], True)
    subquery = any(_cls(n) in _SUBQUERIES for n in _nodes(doc))
    strict = _strict(text)
    return Condition([_term(c, strict) for c in _conjuncts(doc[0])], subquery)
