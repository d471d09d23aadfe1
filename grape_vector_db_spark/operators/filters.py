"""Filter surface: reference Filter-AST -> Catalyst Column (P3-P10).

The reference has two filter frontends:

1. The simple ``Filter`` tree (src/types.rs:176-204): ``must`` (AND) /
   ``should`` (OR) / ``must_not`` (NOT) lists over conditions
   ``Equals{field,value} | Range{field,gte,lte} | Match{field,text}``,
   plus ``Nested{path,filter}``.
2. The advanced ``FilterExpression`` AST (src/filtering.rs:39-141):
   Comparison (Eq/Ne/Gt/Gte/Lt/Lte/Like/NotLike/In/NotIn/IsNull/IsNotNull),
   Logical (And/Or/Not), Nested-field ops (Exists/Equal/Contains/
   ArrayContains/ArrayLength/ObjectHasKey), TextSearch, Geospatial.
3. A SQL WHERE parser (src/filtering.rs:764-940) — in Spark that frontend
   is literally ``df.filter(sql_text)``; nothing to build.

We accept the same JSON shapes and translate to a single boolean Column.
The reference executes filters as id-set algebra over per-field inverted
indexes (intersection/union/complement, src/filtering.rs:439-488); in Spark
the same semantics compile to AND/OR/NOT predicates that Catalyst pushes
into the parquet scan — at 100 TB the filter runs inside the scan with
row-group min/max skipping, no index tables needed.

When the payload posting and text indexes exist, the facade serves a
tree of posting-probe leaves as that id-set algebra instead.
:func:`payload_probe_tree` normalizes such a tree once into negation
normal form: ``and`` / ``or`` :class:`Node` s in written order over
:class:`Leaf` ``(field, value, kind, negated)`` tuples, with every
must_not resolved and every negation pushed to the leaves by De Morgan.
It is the only place on the posting route that flips polarity;
servability, posting ids and selectivity are three plain folds over the
NNF tree in :mod:`.payload`.

Notably the reference *stubs* most comparison executors (only Equal and Gt
actually return rows, src/filtering.rs:403-436) — we implement the declared
semantics, not the stubs, and note the divergence here.
"""

from __future__ import annotations

from typing import Any, NamedTuple

from pyspark.sql import Column
from pyspark.sql import functions as F


def _field(name: str) -> Column:
    """Dot-paths address nested struct/map fields, as the reference's path
    flattening does for JSON payloads (src/filtering.rs:260-333)."""
    return F.col(name)


def condition_to_column(cond: dict[str, Any]) -> Column:
    """One reference ``Condition`` (src/types.rs:190-204) -> Column."""
    kind = cond.get("type")
    field = cond.get("field")
    if kind == "equals":
        return _field(field) == F.lit(cond["value"])
    if kind == "range":
        c = F.lit(True)
        if cond.get("gte") is not None:
            c = c & (_field(field) >= F.lit(cond["gte"]))
        if cond.get("lte") is not None:
            c = c & (_field(field) <= F.lit(cond["lte"]))
        return c
    if kind == "match":
        # Full-text match on a text field: EVERY token of the query text
        # (reference tokenizer contract — functions.text.tokens) must be
        # a token of the field. The reference declares Match{field,text}
        # (ref:src/types.rs:203) but never evaluates it; the public
        # payload-filter APIs this surface mirrors (Qdrant MatchText)
        # define it as tokenized AND-match, which is also the semantics
        # the doc_terms inverted index can serve (multi-token = AND of
        # posting probes). Zero kept tokens (stopwords-only text) is a
        # vacuous AND: True. Substring containment — the pre-r10 reading
        # of match — remains available as {"type": "contains"}.
        #
        # ``fuzzy`` (the reference's declared-but-stubbed
        # TextSearchOptions.fuzzy, ref:src/filtering.rs:65-69): truthy
        # relaxes each token to "SOME field token within Levenshtein
        # distance d" (True -> d=1, an int -> that distance) — the
        # higher-order `exists` over the token array, JVM-side; the
        # index route serves the same semantics as a vocabulary
        # expansion probe.
        from ..functions.text import tokens as _tokens
        from .sparse import tokenize_query_py

        if cond.get("case_sensitive"):
            # the reference declares TextSearchOptions.case_sensitive
            # beside fuzzy (ref:src/filtering.rs:65-69, both stubbed).
            # fuzzy is honored; case sensitivity CANNOT be — the
            # tokenizer contract (F8) lowercases, and the text index
            # stores lowercased terms, so a case-sensitive match would
            # silently diverge between the predicate and posting routes.
            # Reject loudly instead of ignoring the option.
            raise ValueError(
                "match is case-insensitive by the tokenizer contract "
                "(F8 lowercases; the text index stores lowercased "
                "terms); case_sensitive=True is not supported"
            )
        toks = sorted(tokenize_query_py(str(cond["text"])))
        if not toks:
            return F.lit(True)
        col_toks = _tokens(_field(field))
        fuzzy = cond.get("fuzzy")
        if fuzzy:
            dist = 1 if fuzzy is True else int(fuzzy)

            def _near(tok):
                # closure factory, NOT a default-arg lambda: PySpark
                # reads the lambda's arity to pick the 1- vs 2-arg
                # higher-order form, and a bound default would read as 2
                return lambda x: F.levenshtein(x, F.lit(tok)) <= F.lit(dist)

            c = None
            for t in toks:
                e = F.exists(col_toks, _near(t))
                c = e if c is None else c & e
            return c
        c = F.array_contains(col_toks, toks[0])
        for t in toks[1:]:
            c = c & F.array_contains(col_toks, t)
        return c
    if kind == "contains":  # case-insensitive substring containment
        return F.lower(_field(field)).contains(str(cond["text"]).lower())
    if kind == "in":
        return _field(field).isin(list(cond["values"]))
    if kind == "like":
        return _field(field).like(cond["pattern"])
    if kind == "is_null":
        return _field(field).isNull()
    if kind == "is_not_null":
        return _field(field).isNotNull()
    if kind == "array_contains":
        return F.array_contains(_field(field), F.lit(cond["value"]))
    if kind == "array_length":  # P6 ArrayLength (declared src/filtering.rs:113)
        return F.size(_field(field)) == F.lit(int(cond["length"]))
    if kind == "object_has_key":  # P6 ObjectHasKey over MAP columns
        return F.map_contains_key(_field(field), F.lit(cond["key"]))
    if kind == "json_path":  # P6 JsonPath over a JSON string column
        return F.get_json_object(_field(field), cond["path"]) == F.lit(
            str(cond["value"])
        )
    if kind == "token_match":  # P8 word-level inverted-index semantics:
        # exact token membership after reference tokenization (not substring)
        from ..functions.text import tokens

        return F.array_contains(tokens(_field(field)), str(cond["token"]).lower())
    if kind == "exists":
        return _field(field).isNotNull()
    if kind == "comparison":
        op = cond["op"]
        val = F.lit(cond["value"])
        col = _field(field)
        return {
            "eq": col == val, "ne": col != val,
            "gt": col > val, "gte": col >= val,
            "lt": col < val, "lte": col <= val,
        }[op]
    raise ValueError(f"unsupported condition: {cond!r}")


def filter_to_column(flt: dict[str, Any]) -> Column:
    """Reference ``Filter`` tree -> one boolean Column.

    Semantics (src/embedded.rs:539-582, src/filtering.rs:439-488):
    must = AND of children; should = OR of children; must_not = AND of
    negations; the three groups AND together.
    """
    parts: list[Column] = []
    for c in flt.get("must", []) or []:
        parts.append(_node(c))
    should = [_node(c) for c in (flt.get("should", []) or [])]
    if should:
        acc = should[0]
        for s in should[1:]:
            acc = acc | s
        parts.append(acc)
    for c in flt.get("must_not", []) or []:
        parts.append(~_node(c))
    if not parts:
        return F.lit(True)
    acc = parts[0]
    for p in parts[1:]:
        acc = acc & p
    return acc


def simple_equality(flt: dict[str, Any]) -> tuple[str, Any] | None:
    """(field, value) when the filter tree is EXACTLY one must-equality —
    the shape a partition-pruned storage layout can serve as a directory
    skip — else None. Structural inspection only (zero Spark work): any
    should/must_not group, nested tree, or second condition disqualifies."""
    if not isinstance(flt, dict):
        return None
    if flt.get("should") or flt.get("must_not"):
        return None
    must = flt.get("must") or []
    if len(must) != 1 or any(k not in ("must",) for k in flt if flt.get(k)):
        return None
    node = must[0]
    if not isinstance(node, dict) or node.get("type") != "equals":
        return None
    if any(k in node for k in ("must", "should", "must_not")):
        return None
    field, value = node.get("field"), node.get("value")
    if field is None or value is None:
        return None
    return str(field), value


class Leaf(NamedTuple):
    """One posting-probe leaf of a negation-normal-form tree: the
    condition ``kind`` on ``field`` with its normalized ``value``, and
    whether the tree above it negates it (``negated``)."""

    field: str
    value: Any
    kind: str
    negated: bool


class Node(NamedTuple):
    """An ``and`` / ``or`` node of a negation-normal-form tree; its
    ``children`` (nodes or :class:`Leaf`) keep their written order."""

    op: str
    children: tuple


def tree_leaves(tree: Node):
    """The leaves of an NNF tree, depth first in written order."""
    for c in tree.children:
        if isinstance(c, Leaf):
            yield c
        else:
            yield from tree_leaves(c)


_GROUPS = ("must", "should", "must_not")


def payload_probe_tree(flt: dict[str, Any]) -> Node | None:
    """The filter tree in negation normal form when EVERY leaf is an
    ``equals``, ``array_contains``, ``range``, ``in``, ``exists`` or
    ``match`` condition, else None (as for an empty tree or group, or a
    leaf without a field or value).

    The result is an ``and`` :class:`Node` over the must children, one
    ``or`` node over the should children (when any), and the must_not
    children with their polarity flipped — the reference semantics
    (src/embedded.rs:539-582). NESTED sub-trees recurse (the reference
    Filter type is recursive, ref:src/types.rs:176-204), and a negated
    sub-tree pushes the NOT to its leaves by De Morgan: it becomes an
    ``or`` over its flipped must children, one ``and`` over its flipped
    should children, and its must_not children at the outer polarity.
    Two negations cancel. De Morgan is exact in Kleene three-valued
    logic here because a negated leaf means the null-rejecting
    complement (field present AND NOT pred), which is what NOT(pred)
    keeps on the predicate path. This is the one place on the posting
    route that flips polarity: the folds in :mod:`.payload` read
    ``Leaf.negated`` and never test a group name.

    Leaf values: a range leaf carries ``{"gte":..., "lte":...}`` (at
    least one bound set), an in leaf the value tuple, an exists leaf
    True, a match leaf the query text, and a fuzzy match leaf (kind
    ``match_fuzzy``) ``(text, distance)`` with True read as 1. Whether
    the indexes can serve a leaf (field indexed, literal type, array
    field, negation of exists or array leaves, text index column) is
    :func:`.payload.servable`'s sidecar check — this normalizer is
    purely structural."""
    return _nnf(flt, False)


def _nnf(flt: Any, negated: bool) -> Node | None:
    if not isinstance(flt, dict):
        return None
    groups: dict[str, list] = {}
    for g in _GROUPS:
        neg = negated != (g == "must_not")
        out: list = []
        for node in flt.get(g) or []:
            if not isinstance(node, dict):
                return None
            if any(k in node for k in _GROUPS):
                child = _nnf(node, neg)
            else:
                child = _probe_leaf(node, neg)
            if child is None:
                return None
            out.append(child)
        groups[g] = out
    if any(k not in _GROUPS for k in flt if flt.get(k)):
        return None
    if not (groups["must"] or groups["should"] or groups["must_not"]):
        return None
    should = groups["should"]
    if should:
        should = [Node("and" if negated else "or", tuple(should))]
    return Node(
        "or" if negated else "and",
        tuple(groups["must"] + should + groups["must_not"]),
    )


def _probe_leaf(node: dict[str, Any], negated: bool) -> Leaf | None:
    kind = node.get("type")
    if kind not in (
        "equals", "array_contains", "range", "in", "exists", "match",
    ):
        return None
    field = node.get("field")
    if field is None:
        return None
    field = str(field)
    if kind == "match":
        # the caller validates servability and owns tokenization
        text = node.get("text")
        if not isinstance(text, str) or not text:
            return None
        if node.get("case_sensitive"):
            # unservable AND unsupported: fall back so the predicate
            # path raises its explicit error
            return None
        fuzzy = node.get("fuzzy")
        if fuzzy:
            dist = 1 if fuzzy is True else int(fuzzy)
            return Leaf(field, (text, dist), "match_fuzzy", negated)
        return Leaf(field, text, kind, negated)
    if kind == "range":
        gte, lte = node.get("gte"), node.get("lte")
        if gte is None and lte is None:
            return None
        return Leaf(field, {"gte": gte, "lte": lte}, kind, negated)
    if kind == "in":
        values = node.get("values")
        if not values or any(v is None for v in values):
            return None
        return Leaf(field, tuple(values), kind, negated)
    if kind == "exists":
        # field present: exactly "has a posting row" for scalar fields
        return Leaf(field, True, kind, negated)
    value = node.get("value")
    if value is None:
        return None
    return Leaf(field, value, kind, negated)


def _node(node: dict[str, Any]) -> Column:
    """A node is either a nested Filter ({must/should/must_not}) or a
    Condition ({type: ...})."""
    if any(k in node for k in ("must", "should", "must_not")):
        return filter_to_column(node)
    if node.get("type") == "nested":
        # Nested{path, filter}: prefix child fields with the path.
        path = node["path"]
        inner = _prefix_fields(node["filter"], path)
        return filter_to_column(inner)
    return condition_to_column(node)


def _prefix_fields(flt: dict[str, Any], path: str) -> dict[str, Any]:
    def fix(n: dict[str, Any]) -> dict[str, Any]:
        n = dict(n)
        if "field" in n:
            n["field"] = f"{path}.{n['field']}"
        for key in ("must", "should", "must_not"):
            if n.get(key):
                n[key] = [fix(c) for c in n[key]]
        if n.get("type") == "nested":
            n["path"] = f"{path}.{n['path']}"
        return n

    return fix(flt)
