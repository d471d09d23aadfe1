"""Payload posting index building blocks for the facade's posting index
(``GrapeVectorDB.build_index('payload')`` and its maintenance on every
write, streamed ones included).

The reference evaluates payload conditions by scanning the store row by
row (ref:src/filtering.rs:439-488); a per-field keyword index — the
narrow ``(field, value, value_num, vec_id)`` posting table — is the
structure that turns the equality case into an index probe. Field-
partitioned and value-sorted, an equality filter reads ONE field's
directory with the value pushed to parquet row-group stats; AND-of-
equality trees intersect posting lists; a bounded per-field value
histogram funds the planner's selectivity estimate exactly, with zero
query-time jobs.

Numeric fields additionally carry ``value_num`` (the source value as
DOUBLE, computed from the TYPED column at build time, so ANSI casts
never fire on malformed strings): a ``Range{gte,lte}`` leaf
(ref:src/types.rs:176-204) becomes a pruned posting range-read with
row-group min/max skipping on the numerically-ordered column — string
order cannot serve ranges ("9" > "10"). The sidecar records per-field
source types (routing validates query-literal types against them) and
numeric min/max (range selectivity interpolation for fields whose
histogram is distinct-count-only).
"""

from __future__ import annotations

import functools
import math
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sparse
from .filters import Leaf, Node, tree_leaves

# Fields with more distinct values than this store only their distinct
# count in the sidecar (an equality on them estimates as 1/n_distinct);
# keyword-ish fields below the bound store exact per-value counts.
HIST_MAX = 64

# Spark simple type names whose values order numerically — the types
# value_num is populated for and Range leaves are servable on.
NUMERIC_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)
INT_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})


def field_types(docs: DataFrame, cols: list[str]) -> dict[str, str]:
    """Per-field Spark simpleString type (``bigint``, ``string``,
    ``array<string>``, ...) — recorded in the sidecar so query-time
    routing can cast literals to the SOURCE type (an int literal against
    a double column must probe "1.0", not "1") and validate range
    servability. Driver-side schema inspection only."""
    return {c: docs.schema[c].dataType.simpleString() for c in cols}


def _element_type(dtype: str) -> str:
    """The scalar type a posting VALUE carries: arrays post per element."""
    if dtype.startswith("array<") and dtype.endswith(">"):
        return dtype[6:-1]
    return dtype


def is_numeric_field(dtype: str) -> bool:
    base = _element_type(dtype).split("(")[0]
    return base in NUMERIC_TYPES or base == "decimal"


def array_fields(docs: DataFrame, cols: list[str]) -> list[str]:
    """The subset of ``cols`` that are array-typed in ``docs`` — these
    post one row per DISTINCT element (the ArrayContains probe shape)
    instead of one per value. Driver-side schema inspection only."""
    from pyspark.sql.types import ArrayType

    return [
        c for c in cols if isinstance(docs.schema[c].dataType, ArrayType)
    ]


def payload_postings(
    docs: DataFrame, cols: list[str], id_col: str = "doc_id"
) -> DataFrame:
    """(field, value, value_num, vec_id) posting rows for a documents
    slice. ``value`` is the Spark string cast (query literals go through
    the SAME cast, so both sides format identically by construction);
    ``value_num`` is the DOUBLE cast of the TYPED source for numeric
    fields (null otherwise) — computed before any stringification, so
    ANSI string->number casts never fire and numeric order is exact.
    Nulls drop — an equality can never match them, and the general
    predicate path owns null semantics.

    Array-typed columns post one row per DISTINCT element (explode +
    dedupe): an ``array_contains`` filter then probes postings exactly
    like an equality does, and a duplicated element can neither multiply
    intersection rows nor double-count in the histogram (which thereby
    counts DOCS containing the value — the fraction selectivity needs)."""
    arr = set(array_fields(docs, cols))
    types = field_types(docs, cols)
    parts = []
    for c in cols:
        numeric = is_numeric_field(types[c])
        if c in arr:
            p = (
                docs.select(
                    F.lit(c).alias("field"),
                    F.explode(c).alias("el"),
                    F.col(id_col).alias("vec_id"),
                )
                .select(
                    "field",
                    F.col("el").cast("string").alias("value"),
                    (
                        F.col("el").cast("double")
                        if numeric
                        else F.lit(None).cast("double")
                    ).alias("value_num"),
                    "vec_id",
                )
                .where(F.col("value").isNotNull())
                .distinct()
            )
        else:
            p = docs.select(
                F.lit(c).alias("field"),
                F.col(c).cast("string").alias("value"),
                (
                    F.col(c).cast("double")
                    if numeric
                    else F.lit(None).cast("double")
                ).alias("value_num"),
                F.col(id_col).alias("vec_id"),
            ).where(F.col("value").isNotNull())
        parts.append(p)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def with_value_num(postings: DataFrame) -> DataFrame:
    """``postings`` with the ``value_num`` column: a legacy table built
    before the column existed derives it from the stored string
    (try_cast, ANSI-safe; numeric fields' strings are Spark casts, so
    they round-trip)."""
    if "value_num" in postings.columns:
        return postings
    return postings.withColumn("value_num", F.expr("try_cast(value as double)"))


def payload_layout(postings: DataFrame) -> DataFrame:
    """The serving shape: one directory per field, value-sorted within so
    parquet min/max stats skip row groups on the value predicate —
    numeric fields order by value_num (string order cannot serve range
    predicates), string fields by value (value_num is null there, so the
    sort key chain degrades to the string exactly)."""
    if "value_num" in postings.columns:
        return postings.repartition("field").sortWithinPartitions(
            "field", "value_num", "value"
        )
    return postings.repartition("field").sortWithinPartitions("field", "value")


def payload_sidecar_stats(
    postings: DataFrame,
    cols: list[str],
    doc_rows: int,
    hist_max: int = HIST_MAX,
    arr_fields: list[str] | None = None,
    f_types: dict[str, str] | None = None,
) -> dict:
    """The _STATS sidecar payload: indexed columns, the BOUNDED per-field
    value histogram, per-field source types, numeric min/max, and the
    corpus row count the fractions divide by. Costs two small aggregate
    jobs over the narrow posting table at build/refresh time — never at
    query time (the planner reads the sidecar driver-side).

    ``doc_rows`` is the documents row count, so it also counts docs
    whose indexed fields are all null."""
    has_num = "value_num" in postings.columns
    aggs = [F.countDistinct("value").alias("nd")]
    if has_num:
        aggs += [
            F.min("value_num").alias("vmin"),
            F.max("value_num").alias("vmax"),
        ]
    per_field_rows = postings.groupBy("field").agg(*aggs).collect()
    per_field = {r["field"]: int(r["nd"]) for r in per_field_rows}
    minmax = {}
    if has_num:
        for r in per_field_rows:
            if r["vmin"] is not None and r["vmax"] is not None:
                minmax[r["field"]] = [float(r["vmin"]), float(r["vmax"])]
    small = [f for f, nd in per_field.items() if nd <= hist_max]
    hist: dict[str, dict] = {
        f: {"n_distinct": nd} for f, nd in per_field.items() if nd > hist_max
    }
    if small:
        for r in (
            postings.where(F.col("field").isin(small))
            .groupBy("field", "value")
            .count()
            .collect()
        ):
            hist.setdefault(r["field"], {})[r["value"]] = int(r["count"])
    # indexed-but-absent fields (all-null or empty corpus) still get an
    # entry so the planner knows the field is covered
    for c in cols:
        hist.setdefault(c, {})
    return {
        "payload_columns": list(cols),
        "histograms": hist,
        # explicit discriminator: which fields carry the distinct-count-
        # only (wide) shape. The old key heuristic ("n_distinct" is the
        # dict's sole key) misreads an EXACT histogram whose only value
        # is the literal string "n_distinct" — consumers prefer this
        # list and fall back to the heuristic for legacy sidecars.
        "wide_hist_fields": sorted(
            f for f, nd in per_field.items() if nd > hist_max
        ),
        "doc_rows": int(doc_rows),
        # which indexed fields are array-typed: an equals probe must NOT
        # serve from per-element postings (whole-array equality), and an
        # array_contains probe only makes sense against them — route
        # validation reads this driver-side
        "array_fields": sorted(arr_fields or []),
        # per-field SOURCE types: query literals cast through these, and
        # Range leaves only route on numeric ones (value_num-backed)
        "field_types": dict(f_types or {}),
        # numeric fields' observed [min, max]: uniform-interpolation
        # range selectivity for fields whose histogram is
        # distinct-count-only
        "numeric_minmax": minmax,
    }


# -- the posting-filter folds ------------------------------------------------
#
# A payload filter the indexes can serve arrives as the negation-normal-
# form tree of ``filters.payload_probe_tree``: ``and`` / ``or`` nodes over
# ``Leaf(field, value, kind, negated)``. Servability, posting ids and
# selectivity are three folds over that tree. They read one Sidecars
# snapshot and take the tables they probe as arguments, so nothing here
# holds facade state; none of them flips polarity (the normalizer did).


class Sidecars(NamedTuple):
    """One driver-side snapshot of the sidecars the folds read, built
    once per filter: the posting index's ``_STATS`` (``{}`` without a
    posting index), the text index's (None without one), and the
    posting fields' source types."""

    payload: dict
    terms: dict | None
    types: dict[str, str]


def _num(x) -> bool:
    return isinstance(x, (int, float)) and not isinstance(x, bool)


def _literal_ok(types: dict[str, str], fld: str, v) -> bool:
    """Is probing this literal against the field's postings provably
    equal to the predicate path's compare?"""
    ft = types.get(fld)
    if ft is None:
        # unknown source type: only the string/string case is provably
        # faithful (the original posting contract)
        return isinstance(v, str)
    if is_numeric_field(ft):
        # a fractional literal against an int column matches nothing on
        # the predicate path (double-widened compare); a truncating
        # cast on the posting path would WRONGLY match
        return _num(v) and not (
            _element_type(ft).split("(")[0] in INT_TYPES
            and isinstance(v, float)
            and not float(v).is_integer()
        )
    if _element_type(ft) == "boolean":
        return isinstance(v, bool)
    # string and other scalar types (date, timestamp, ...) keep the
    # string-cast contract: the literal must already be a string
    return isinstance(v, str)


def _leaf_servable(leaf, side: Sidecars, doc_columns) -> bool:
    fld, v, kind, negated = leaf
    if kind in ("match", "match_fuzzy"):
        # the text index must exist over this very column, and a docs
        # re-publish may have DROPPED the column: then the filter must
        # fall back and error exactly like the predicate path instead of
        # serving stale postings. A stopwords-only text is vacuously
        # TRUE (no posting list expresses "all docs"): it falls back.
        if side.terms is None or fld != side.terms.get("text_col"):
            return False
        if fld not in doc_columns():
            return False
        text = v[0] if kind == "match_fuzzy" else v
        return bool(sparse.tokenize_query_py(text))
    st = side.payload
    if fld not in (st.get("payload_columns") or []):
        return False
    arr = set(st.get("array_fields") or [])
    if kind == "range":
        # numeric scalar of a value_num-backed index (the sidecar
        # carries field_types exactly when the postings carry value_num;
        # string order cannot serve ranges)
        ft = side.types.get(fld)
        if (
            not st.get("field_types")
            or ft is None
            or fld in arr
            or not is_numeric_field(ft)
        ):
            return False
        return not any(
            b is not None and not _num(b) for b in (v.get("gte"), v.get("lte"))
        )
    if kind == "exists":
        # scalar only: an empty array is not-null on the predicate path
        # but posts nothing; absence needs the corpus complement
        return fld not in arr and not negated
    if kind == "in":
        return fld not in arr and all(
            _literal_ok(side.types, fld, x) for x in v
        )
    # equals must hit a scalar field (per-element postings cannot answer
    # whole-array equality), array_contains an array field, and a
    # negated array_contains is unservable (an empty array passes NOT
    # contains but posts nothing)
    if (kind == "array_contains") != (fld in arr):
        return False
    if negated and kind == "array_contains":
        return False
    return _literal_ok(side.types, fld, v)


def servable(tree: Node, side: Sidecars, doc_columns) -> bool:
    """Can the posting and text indexes serve EVERY leaf of the NNF
    tree exactly as the predicate path would? Driver-side inspection of
    the sidecars only — zero jobs. ``doc_columns()`` returns the
    documents' columns; it is called at most once, and only when a
    match leaf needs it."""
    cols = functools.cache(doc_columns)
    return all(
        _leaf_servable(leaf, side, cols) for leaf in tree_leaves(tree)
    )


def _wide(st: dict, fld: str, h: dict) -> bool:
    """Does ``fld`` carry the distinct-count-only histogram? The recorded
    field list when present; the key heuristic only for legacy sidecars
    (it misreads an exact histogram whose sole VALUE is "n_distinct")."""
    if "wide_hist_fields" in st:
        return fld in st["wide_hist_fields"]
    return "n_distinct" in h and len(h) == 1


def _leaf_fraction(leaf, side: Sidecars) -> float | None:
    """Estimated fraction of the leaf's OWN corpus it keeps, floored at
    half a row of that corpus and capped at 1; None when the sidecars
    cannot fund it. Match leaves divide per-token df by the TEXT
    sidecar's doc_rows, payload leaves divide histogram counts by the
    posting sidecar's — never mixed. A negated leaf is (present -
    matching): the null-rejecting complement the posting algebra
    serves."""
    fld, val, kind, negated = leaf
    if kind in ("match", "match_fuzzy"):
        tst = side.terms or {}
        n = int(tst.get("doc_rows") or 0)
        dft = tst.get("df_top")
        if not n or dft is None:
            return None
        if kind == "match_fuzzy":
            # the expansion terms are only known after the query-time
            # vocabulary probe — no zero-job estimate
            return None
        floor = 0.5 / n
        p = 1.0
        for t in sorted(sparse.tokenize_query_py(val)):
            # exact for head terms recorded in df_top, the sound upper
            # bound df_cap for the tail
            df = dft.get(t)
            if df is None:
                if tst.get("df_cap") is None:
                    return None
                df = tst["df_cap"]
            p *= min(max(int(df) / n, floor), 1.0)
        if negated:
            # the text column's "presence" is ~1.0 (no per-field null
            # stats for it; head-term df makes 1-p dominant)
            return min(1.0, max(1.0 - p, floor))
        return min(max(p, floor), 1.0)
    st = side.payload
    n = int(st.get("doc_rows") or 0)
    h = (st.get("histograms") or {}).get(fld)
    if not n or h is None:
        return None
    floor = 0.5 / n
    wide = _wide(st, fld, h)
    present = 1.0 if wide else min(1.0, sum(int(c) for c in h.values()) / n)

    def equal(v) -> float:
        if wide:
            return 1.0 / max(int(h["n_distinct"]), 1)
        ft = side.types.get(fld)
        if ft is not None and is_numeric_field(ft) and not isinstance(v, bool):
            # numeric histogram keys are Spark string casts — match by
            # VALUE, not format (<= HIST_MAX keys, driver-side)
            cnt = 0
            for k, c in h.items():
                try:
                    if float(k) == float(v):
                        cnt += int(c)
                except (TypeError, ValueError):
                    continue
            return cnt / n
        key = str(v).lower() if isinstance(v, bool) else str(v)
        return int(h.get(key, 0)) / n

    if kind == "exists":
        f = present
    elif kind == "in":
        # union of disjoint equalities (a value matches exactly one
        # histogram entry), capped by the field's presence; the value
        # tuple dedupes first so ["a", "a"] counts once
        f = min(sum(equal(x) for x in dict.fromkeys(val)), present)
    elif kind == "range":
        f = _range_fraction(st, fld, h, wide, val, n)
        if f is None:
            return None
    else:
        f = equal(val)
    if negated:
        return min(1.0, max(present - f, floor))
    return min(max(f, floor), 1.0)


def _range_fraction(st, fld, h, wide, bounds, n) -> float | None:
    """A range leaf's kept fraction: the exact histogram sum for an
    exact histogram, else uniform interpolation over the recorded
    numeric [min, max]."""
    gte, lte = bounds.get("gte"), bounds.get("lte")
    if not wide:
        cnt = 0
        for k, c in h.items():
            try:
                x = float(k)
            except (TypeError, ValueError):
                return None
            if (gte is None or x >= gte) and (lte is None or x <= lte):
                cnt += int(c)
        return cnt / n
    mm = (st.get("numeric_minmax") or {}).get(fld)
    if not mm:
        return None
    lo, hi = float(mm[0]), float(mm[1])
    g = lo if gte is None else float(gte)
    le = hi if lte is None else float(lte)
    span = hi - lo
    if span <= 0:
        return 1.0 if g <= lo <= le else 0.0
    return max(0.0, (min(le, hi) - max(g, lo)) / span)


def _fraction(node, side: Sidecars) -> float | None:
    if isinstance(node, Leaf):
        return _leaf_fraction(node, side)
    acc = 1.0 if node.op == "and" else 0.0
    for c in node.children:
        f = _fraction(c, side)
        if f is None:
            return None
        acc = acc * f if node.op == "and" else acc + f
    return min(acc, 1.0)


def tree_fraction(tree: Node, side: Sidecars) -> float | None:
    """Zero-job selectivity of the NNF tree from the sidecars: an ``and``
    node multiplies its children (attribute independence), an ``or``
    node takes the union bound min(1, sum); None when any leaf is
    unfunded (the caller falls back to a sampled estimate)."""
    return _fraction(tree, side)


def _probe_literal(types: dict[str, str], fld: str, val):
    """The literal as the build wrote it: cast THROUGH the recorded
    source type, then to string (F.lit(1).cast("double").cast("string")
    is the "1.0" the build wrote — both sides are the same Spark cast)."""
    ft = types.get(fld)
    vcol = F.lit(val)
    if ft is not None:
        vcol = vcol.cast(_element_type(ft))
    return vcol.cast("string")


def _equal(types: dict[str, str], fld: str, val, negate: bool):
    """Equality predicate for one posting probe. The exact compare is on
    the string ``value``. Numeric fields ADD a ``value_num`` equality
    conjunct: the layout sorts numeric directories by value_num, so the
    conjunct re-aligns the probe with the sort/stats column for
    row-group skipping. It never drops a true match — EXCEPT for a NaN
    literal (value_num == NaN is false while Spark's equality treats
    NaN = NaN as true), so NaN skips it. Negations stay string-only
    (NOT(a AND b) is not NOT(a) AND NOT(b))."""
    lit = _probe_literal(types, fld, val)
    if negate:
        return F.col("value") != lit
    s = F.col("value") == lit
    ft = types.get(fld)
    if (
        ft is not None
        and is_numeric_field(ft)
        and _num(val)
        and not (isinstance(val, float) and math.isnan(val))
    ):
        s = (F.col("value_num") == F.lit(float(val))) & s
    return s


def _match_ids(leaf, terms: DataFrame) -> DataFrame:
    """The ids holding every token of a match leaf: one pruned term probe
    per kept token, intersected (doc_terms rows are unique per (doc,
    term), so the joins never multiply rows); the corpus text is never
    re-tokenized. A fuzzy leaf (the reference's declared-but-stubbed
    TextSearchOptions.fuzzy, ref:src/filtering.rs:65-69) first expands
    each token to the DISTINCT index terms within its Levenshtein
    distance (:func:`.sparse.fuzzy_terms`, vocabulary-bounded) and
    probes the expansion: a doc matches the token if ANY expanded term
    posts for it."""
    fld, val, kind, _neg = leaf
    text = val[0] if kind == "match_fuzzy" else val
    keep = None
    for t in sorted(sparse.tokenize_query_py(text)):
        if kind == "match":
            pl = terms.where(F.col("term") == F.lit(t)).select("vec_id")
        else:
            exp_df = sparse.fuzzy_terms(
                terms.withColumnRenamed("vec_id", "doc_id"),
                t,
                max_dist=int(val[1]),
            )
            # bounded driver collect: past 4096 terms the expansion
            # probes as a broadcast term-join instead (same rows, no
            # driver list, no giant In literal)
            exp = [r["term"] for r in exp_df.limit(4097).collect()]
            if len(exp) > 4096:
                pl = terms.join(F.broadcast(exp_df.select("term")), "term")
            else:
                pl = terms.where(F.col("term").isin(exp))
            pl = pl.select("vec_id").distinct()
        keep = pl if keep is None else keep.join(pl, "vec_id")
    return keep


def _leaf_ids(
    leaf, side: Sidecars, postings, terms, docs, id_col: str
) -> DataFrame:
    fld, val, kind, negate = leaf
    if kind in ("match", "match_fuzzy"):
        keep = _match_ids(leaf, terms())
        if not negate:
            return keep
        # NOT(all tokens present) = the corpus COMPLEMENT: the documents
        # id column (text non-null: the predicate path's null-rejecting
        # NOT) anti-joined against the probe intersection
        base = (
            docs()
            .where(F.col(fld).isNotNull())
            .select(F.col(id_col).alias("vec_id"))
        )
        return base.join(keep, "vec_id", "left_anti")
    if kind == "range":
        vn = F.col("value_num")
        conds = []
        if val.get("gte") is not None:
            conds.append(vn >= F.lit(float(val["gte"])))
        if val.get("lte") is not None:
            conds.append(vn <= F.lit(float(val["lte"])))
        op = conds[0]
        for c in conds[1:]:
            op = op & c
        if negate:
            op = ~op
    elif kind == "exists":
        # field present IS the posting row (scalar fields post exactly
        # once per non-null doc)
        op = F.lit(True)
    elif kind == "in":
        op = None
        for x in val:
            eq = _equal(side.types, fld, x, negate=False)
            op = eq if op is None else (op | eq)
        if negate:
            # value is never null in postings, so De Morgan holds
            # row-wise (the value_num conjunct never drops a true match,
            # so its negation never adds one)
            op = ~op
    else:
        op = _equal(side.types, fld, val, negate)
    return (
        postings()
        .where((F.col("field") == F.lit(fld)) & op)
        .select("vec_id")
    )


def tree_ids(
    tree: Node, side: Sidecars, postings, terms, docs, id_col: str
) -> DataFrame:
    """The ``vec_id`` set of the NNF tree, as posting-list algebra. A leaf
    is a pruned read of one field's posting directory (``postings()``)
    or of the text index (``terms()``), unique per doc by construction;
    a negated leaf is the null-rejecting complement: ``field present AND
    NOT(pred)`` for postings, the ``docs()`` ids (by ``id_col``) minus
    the token probe for a match. An ``or`` node unions its children and
    takes ``distinct``; a one-child ``or`` is its child. An ``and`` node
    is a left-deep join chain, MOST-SELECTIVE-FIRST by the zero-job
    :func:`tree_fraction` of each child (unfunded children keep their
    written order at the end): AQE re-plans each join's strategy from
    runtime sizes but never reorders a manual join tree, so starting
    from the rarest operand bounds every later intermediate. The tables
    are thunks, so a tree that never probes a table never opens it."""

    def rank(node) -> float:
        f = _fraction(node, side)
        return 2.0 if f is None else f

    def ids(node) -> DataFrame:
        if isinstance(node, Leaf):
            return _leaf_ids(node, side, postings, terms, docs, id_col)
        if node.op == "or":
            parts = [ids(c) for c in node.children]
            if len(parts) == 1:
                return parts[0]
            un = parts[0]
            for p in parts[1:]:
                un = un.unionByName(p)
            return un.distinct()
        keep = None
        for c in sorted(node.children, key=rank):
            pl = ids(c)
            keep = pl if keep is None else keep.join(pl, "vec_id")
        return keep

    return ids(tree)
