"""Vector expression kit (reference parity: cosine/dot/norm/euclidean).

Reference semantics reproduced exactly:
- cosine_similarity(a,b) = dot/(|a|*|b|), **0.0 if either norm is 0**
  (src/storage.rs:851-865).
- euclidean_distance = sqrt(sum((x-y)^2)) (src/index.rs:68-79).

Everything here is a Catalyst ``Column`` built from higher-order functions
(``zip_with`` / ``aggregate`` / ``transform``), so the math runs JVM-side —
no Python in the hot path, no UDF serialization, and Catalyst can still push
filters/projections around it. It is not compiled, though: on Spark 4.1.2
``ZipWith``, ``ArrayAggregate`` and ``ArrayTransform`` are
``CodegenFallback`` expressions, so whole-stage codegen calls back into
their interpreted ``eval`` and the lambda bodies run interpreted, per row
and per element. All arithmetic is
performed in DOUBLE (inputs are ``array<float>`` parquet columns; we cast
up-front) with a strict left-to-right fold, which makes results bit-identical
to a sequential C/DuckDB evaluation of the same formula — required for the
driver's DuckDB-oracle hash comparison.

At 100 TB these expressions scan columnar parquet vectors with zero shuffle;
a k-NN over them is embarrassingly parallel per-partition work followed by a
global TakeOrderedAndProject (see operators.search).
"""

from __future__ import annotations

from collections.abc import Iterable
from numbers import Integral

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column | str) -> Column:
    """Cast array<float> -> array<double> so all math happens in f64."""
    col = F.col(col) if isinstance(col, str) else col
    return col.cast("array<double>")


def sql_double(x: float) -> str:
    """Exact SQL double literal: repr() is the shortest round-trip
    decimal and Spark parses the D-suffixed form with
    Double.parseDouble — the identical binary double, never a DECIMAL
    reinterpretation. Non-finite values spell out the cast Spark's
    string->double parser accepts."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return f"{x!r}D"


_INT_SUFFIX = {"bigint": "L", "int": "", "smallint": "S", "tinyint": "Y"}


def id_literal(data_type):
    """A function that spells one id of ``data_type`` as a SQL literal of
    exactly that type — integral ids as typed digits, strings as a hex
    binary literal cast back to STRING (no quoting or escaping of the id
    text) — or None for a type it cannot spell. The function returns
    None for an id whose Python type is not the column's (an int id
    against a string column): only Spark's implicit cast compares those."""
    from pyspark.sql.types import StringType

    suffix = _INT_SUFFIX.get(data_type.simpleString())
    if suffix is not None:
        def spell_int(i):
            if isinstance(i, Integral) and not isinstance(i, bool):
                return f"{int(i)}{suffix}"
            return None

        return spell_int
    if isinstance(data_type, StringType):
        def spell_str(i):
            if isinstance(i, str):
                return f"CAST(X'{i.encode('utf-8').hex()}' AS STRING)"
            return None

        return spell_str
    return None


def id_in(col: str, ids: Iterable, data_type) -> Column:
    """``col IN (ids)`` as ONE SQL expression: ``Column.isin`` makes one
    py4j round trip per id (a literal Column each), this makes one per
    predicate, and the pushed parquet In filter is the same. Ids that
    :func:`id_literal` cannot spell fall back to ``isin``."""
    ids = list(ids)
    lit = id_literal(data_type)
    spelled = [] if lit is None else ["NULL" if i is None else lit(i) for i in ids]
    if lit is None or None in spelled:
        return F.col(col).isin(ids)
    if not ids:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(spelled)})")


def array_lit_sql(values: Iterable[float]) -> str:
    """SQL text of a literal array<double> — see :func:`vector_lit`."""
    return f"array({', '.join(sql_double(v) for v in values)})"


def vector_lit(values: Iterable[float]) -> Column:
    """A literal query vector as an array<double> Column.

    This is how a (tiny) query vector is broadcast to every task: it's a
    literal folded into the plan, not a join side — zero shuffle.
    Built as ONE parsed SQL string: the F.array(*[F.lit(v) ...]) form
    cost one py4j round trip per COORDINATE (~64 per query vector,
    hundreds for centroid/codebook tables) — pure driver latency on
    every query construction (guide §5). The parsed literal array is
    the identical expression."""
    vals = [float(v) for v in values]
    if not vals:
        # array() alone would type-infer string; keep the old empty form
        return F.array(*[]).cast("array<double>")
    return F.expr(array_lit_sql(vals))


def dot(a: Column, b: Column, dim: int | None = None) -> Column:
    """Left-to-right fold of sum(a[i]*b[i]) — sequential, deterministic.

    Measured note (kept for posterity): an unrolled ``a[0]*b[0] + ...``
    chain is ~2x SLOWER than this fold at dim 64 — per-element GetItem
    null-checking beats the fold's tight loop. ``dim`` is accepted for API
    stability but the fold is always used.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column, dim: int | None = None) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """Reference-faithful cosine: 0.0 when either vector has zero norm
    (src/storage.rs:860-862).

    Formulated as coalesce(try_divide(dot, |a|*|b|), 0): a zero norm forces
    dot == 0, and under ANSI mode (Spark 4 default) try_divide yields NULL
    on a zero divisor, which we map to 0.0 — identical semantics to the
    reference's explicit branch, but each array fold is evaluated exactly
    once per row (a ``when`` guard would re-evaluate the norm folds in both
    the predicate and the branch)."""
    return cosine_from_parts(dot(a, b), l2_norm(a), l2_norm(b))


def cosine_from_parts(d: Column, na: Column, nb: Column) -> Column:
    """Cosine from precomputed dot and norms (columns or literals). Use
    this when norms can be computed once per row/side instead of per pair —
    the all-pairs and batch-kNN hot paths."""
    return F.coalesce(F.try_divide(d, na * nb), F.lit(0.0))


def cosine_distance(a: Column, b: Column) -> Column:
    """1 - cosine_similarity (src/index.rs:686-700)."""
    return F.lit(1.0) - cosine_similarity(a, b)


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
