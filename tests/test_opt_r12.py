"""Round-12 optimization pins.

1. The Arrow RP fold kernel is bit-identical to the SQL
   aggregate(zip_with(...)) fold it replaced — including the degenerate
   rows (NULL vector, NULL element, wrong length, NaN, float32 input)
   and Spark's NaN-greater-than-everything CASE semantics. The SQL fold
   lives here, as the kernel's parity reference (the DuckDB oracle
   builds the same fold).
2. The block-shipping cosine verify emits exactly the rows of a
   per-pair hydration verify (both vectors joined onto each pair, one
   einsum per pair), same doubles, on both the self-join and the
   cross-frame (batch x corpus) shapes, and it is the verify the LSH
   near-dup path runs.
"""
from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.functions.vector import sql_double, to_double_array
from grape_vector_db_spark.operators import ann, dedup
from grape_vector_db_spark.operators.dedup import _block_cosine_verify


def _vec_sql(vec_col: str) -> str:
    """SQL text for the f64-cast vector column (top-level names only)."""
    return f"CAST(`{vec_col}` AS ARRAY<DOUBLE>)"


def _rp_dot_sql(v_sql: str, plane: list[float]) -> str:
    """The dot-product fold as ONE SQL expression:
    aggregate(zip_with(v, array(...), (x, y) -> x * y), 0.0, +)."""
    arr = ", ".join(sql_double(c) for c in plane)
    return (
        f"aggregate(zip_with({v_sql}, array({arr}),"
        " (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )


def _rp_bucket_expr(v_sql: str, n_planes: int, dim: int, seed: int):
    """Sign-bit bucket Column for one hyperplane table (MSB = plane 0),
    folded in LONG (an int accumulator overflows at n_planes >= 32),
    cast to int below 32 planes like the kernel's narrow output."""
    planes = ann._md5_coords(f"{seed}:{{p}}:{{i}}", n_planes, dim)
    bucket = "CAST(0 AS BIGINT)"
    for plane in planes:
        bit = (
            f"(CASE WHEN {_rp_dot_sql(v_sql, plane)} > 0"
            " THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        )
        bucket = f"(({bucket}) * 2 + {bit})"
    if n_planes <= 31:
        bucket = f"CAST({bucket} AS INT)"
    return F.expr(bucket)


def _sql_tables(df, n_planes, n_tables, dim, seed, vec="embedding"):
    buckets = F.array(
        *[
            _rp_bucket_expr(_vec_sql(vec), n_planes, dim, seed + t)
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col("vec_id").alias("id"), F.posexplode(buckets).alias("tbl", "bucket")
    )


def _same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0
    assert [(f.name, f.dataType) for f in a.schema.fields] == [
        (f.name, f.dataType) for f in b.schema.fields
    ]


@pytest.fixture()
def edge(spark):
    rows = [
        (1, [0.5] * 8),
        (2, None),
        (3, [0.5] * 7),                   # short
        (4, [0.5] * 9),                   # long
        (5, [0.5, None] + [0.25] * 6),    # null element
        (6, [float("nan")] * 8),          # NaN dot: Spark CASE says bit 1
        (7, [0.0] * 8),                   # zero vector
        (8, [-1.0] * 8),
    ]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_rp_kernel_bit_identical_to_sql_fold(emb):
    new = ann.random_projection_tables(emb, n_planes=4, n_tables=3, seed=11)
    old = _sql_tables(emb, 4, 3, 64, 11)
    _same(new, old)


def test_rp_kernel_wide_tables_match_long_fold(emb):
    """Past 31 planes both the kernel and the fold emit LONG buckets."""
    new = ann.random_projection_tables(emb, n_planes=40, n_tables=2, seed=3)
    _same(new, _sql_tables(emb, 40, 2, 64, 3))


def test_rp_kernel_edge_rows_match_fold_null_algebra(edge):
    new = ann.random_projection_tables(edge, n_planes=3, n_tables=2, seed=5, dim=8)
    old = _sql_tables(edge, 3, 2, 8, 5)
    _same(new, old)
    # NaN dot takes the CASE's true branch (Spark orders NaN greatest):
    nan_buckets = {
        r["bucket"] for r in new.where(F.col("id") == 6).collect()
    }
    assert nan_buckets == {7}
    # degenerate rows land in bucket 0, not NULL
    assert {r["bucket"] for r in new.where(F.col("id").isin(2, 3, 4, 5)).collect()} == {0}


def test_rp_project_kernel_matches_fold_values(edge):
    factor = math.sqrt(3.0 / 4)
    comps = [
        f"({_rp_dot_sql(_vec_sql('embedding'), coords)}"
        f" * {sql_double(factor)})"
        for coords in ann._md5_coords("5:{p}:{i}", 4, 8)
    ]
    old = edge.select(
        F.col("vec_id").alias("id"),
        F.expr(f"array({', '.join(comps)})").alias("proj"),
    )
    new = ann.rp_project(edge, n_out=4, dim=8, seed=5)
    _same(new, old)


def test_rp_kernel_float32_and_string_ids(spark, edge):
    f32 = edge.select(
        "vec_id", F.col("embedding").cast("array<float>").alias("embedding")
    )
    _same(
        ann.random_projection_tables(f32, n_planes=3, n_tables=2, seed=5, dim=8),
        _sql_tables(f32, 3, 2, 8, 5),
    )
    sid = edge.select(
        F.concat(F.lit("d"), F.col("vec_id")).alias("vec_id"), "embedding"
    )
    out = ann.random_projection_buckets(sid, n_planes=3, seed=5, dim=8)
    assert out.schema["id"].dataType.simpleString() == "string"
    assert out.count() == edge.count()


def _bucket_cand(emb):
    buckets = ann.random_projection_tables(emb, n_planes=3, n_tables=2, seed=9)
    return (
        buckets.alias("x")
        .join(buckets.alias("y"), ["tbl", "bucket"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .distinct()
    )


def _hydration_verify(cand, a_emb, b_emb, threshold, a="a", b="b"):
    """Reference verify: join both vectors onto every candidate pair,
    then one row-wise einsum, 6-dp round, zero-norm -> 0.0."""
    v = to_double_array("embedding")
    rows = (
        cand.join(a_emb.select(F.col("vec_id").alias(a), v.alias("va")), a)
        .join(b_emb.select(F.col("vec_id").alias(b), v.alias("vb")), b)
        .select(a, b, "va", "vb")
        .collect()
    )
    spark = cand.sparkSession
    schema = f"{a} long, {b} long, cosine double"
    if not rows:
        return spark.createDataFrame([], schema)
    A = np.asarray([r["va"] for r in rows], dtype=np.float64)
    B = np.asarray([r["vb"] for r in rows], dtype=np.float64)
    denom = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.where(denom > 0, np.einsum("ij,ij->i", A, B) / denom, 0.0)
    cos = np.round(cos, 6)
    return spark.createDataFrame(
        [(r[a], r[b], float(c)) for r, c in zip(rows, cos) if c >= threshold],
        schema,
    )


def test_block_verify_equals_hydration_verify_self_join(emb):
    cand = _bucket_cand(emb)
    old = _hydration_verify(cand, emb, emb, 0.2)
    new = _block_cosine_verify(
        cand, emb, emb, 0.2, "a", "b", "vec_id", "embedding",
        rows_per_block=64,  # force a real multi-block split
    )
    _same(new, old)
    assert new.count() > 0


def test_block_verify_equals_hydration_verify_cross_frames(emb):
    is_b = F.col("vec_id") % 7 == 0
    batch, corpus = emb.where(is_b), emb.where(~is_b)
    cand = (
        _bucket_cand(emb)
        .where((F.col("a") % 7 == 0) & (F.col("b") % 7 != 0))
        .selectExpr("a as batch_id", "b as corpus_id")
    )
    old = _hydration_verify(cand, batch, corpus, 0.2, "batch_id", "corpus_id")
    new = _block_cosine_verify(
        cand, batch, corpus, 0.2, "batch_id", "corpus_id",
        "vec_id", "embedding", rows_per_block=64,
    )
    _same(new, old)


def test_block_verify_drops_dangling_and_null_vector_ids(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.1]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 999)], "a long, b long"
    )
    out = _block_cosine_verify(cand, emb, emb, 0.0, "a", "b", "vec_id", "embedding")
    rows = out.collect()
    assert [(r["a"], r["b"]) for r in rows] == [(1, 2)]


def test_lsh_pairs_verify_through_the_block_path(emb):
    """embedding_neardup_pairs_lsh verifies its candidates with the block
    verify at every corpus size (the plan groups pairs into
    collect_lists), and its rows equal the hydration reference over the
    same candidates."""
    out = dedup.embedding_neardup_pairs_lsh(
        emb, threshold=0.2, n_planes=3, n_tables=2, seed=9
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" in plan
    _same(out, _hydration_verify(_bucket_cand(emb), emb, emb, 0.2))
