"""Payload posting index building blocks — shared by the facade
(``GrapeVectorDB.build_index('payload')``) and the streaming twin
(``streaming.ingest.stream_payload_index_to_parquet``).

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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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
    doc_rows: int | None,
    hist_max: int = HIST_MAX,
    arr_fields: list[str] | None = None,
    f_types: dict[str, str] | None = None,
) -> dict:
    """The _STATS sidecar payload: indexed columns, the BOUNDED per-field
    value histogram, per-field source types, numeric min/max, and the
    corpus row count the fractions divide by. Costs two small aggregate
    jobs over the narrow posting table at build/refresh time — never at
    query time (the planner reads the sidecar driver-side).

    ``doc_rows=None`` derives the count from the SAME per-field
    aggregate pass via a rollup grand-total (distinct posting-bearing
    ids — no extra full-index job; the streaming twin's rule, mirroring
    the text index's ADVICE-r10 fix). The facade build passes the
    documents row count instead, which additionally counts docs whose
    indexed fields are all null — both sound for the selectivity
    fractions that divide by it."""
    has_num = "value_num" in postings.columns
    aggs = [F.countDistinct("value").alias("nd")]
    if has_num:
        aggs += [
            F.min("value_num").alias("vmin"),
            F.max("value_num").alias("vmax"),
        ]
    if doc_rows is None:
        # rollup: per-field rows + ONE grand-total row whose distinct-id
        # count is doc_rows ("field" holds column names, never null, so
        # the null-field row is unambiguously the total)
        rows = (
            postings.rollup("field")
            .agg(*aggs, F.countDistinct("vec_id").alias("nid"))
            .collect()
        )
        doc_rows = next(
            (int(r["nid"]) for r in rows if r["field"] is None), 0
        )
        per_field_rows = [r for r in rows if r["field"] is not None]
    else:
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
