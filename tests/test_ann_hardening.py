"""operators/ann.py hardening pins (self-review findings):

1. _assign_literal(replicas < 1) raises instead of silently emitting an
   EMPTY assignment table (a build that "succeeds" and then finds
   nothing).
2. The IVF-PQ residual lookup keys by the ACTUAL cluster id — a dense
   positional array silently subtracted the wrong/absent centroid for
   non-contiguous centroid tables (externally trained, dropped cell).
3. The RP bucket kernel emits LONG buckets past 31 planes (an int
   fold overflowed at n_planes >= 32 under ANSI), int below, and
   rejects widths past the 64-bit ceiling.
4. kmeans_fit stays correct on the capped/spread-init path (the
   k-means++ D^2 loop is k*sample*dim SINGLE-THREADED driver flops —
   unboundedly slow at autosized nlist for 1e9 rows).
5. knn_pagerank raises the module's conventional ValueError on an
   empty corpus (was: ZeroDivisionError at plan construction).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.operators import ann


def test_assign_literal_zero_replicas_raises(spark):
    src = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, v array<double>"
    )
    with pytest.raises(ValueError, match="replicas"):
        ann._assign_literal(src, {0: [1.0, 0.0]}, replicas=0).collect()


def test_ivfpq_residuals_with_noncontiguous_cluster_ids(spark):
    # centroid ids {0, 3, 7} — a positional lookup would subtract the
    # centroid at ARRAY POSITION 3/7 (absent -> null residual)
    cents = spark.createDataFrame(
        [(0, [10.0, 0.0]), (3, [0.0, 10.0]), (7, [-10.0, 0.0])],
        "cluster int, centroid array<double>",
    )
    codebooks = [[[0.0], [1.0]], [[0.0], [1.0]]]  # m=2, sub=1, k=2
    delta = spark.createDataFrame(
        [(1, [9.0, 1.0]), (2, [1.0, 9.0]), (3, [-9.0, -1.0])],
        "vec_id long, embedding array<double>",
    )
    out = ann.ivfpq_add(delta, cents, codebooks).collect()
    by_id = {r["id"]: r for r in out}
    # each vector lands in its true nearest cell, and the codes exist
    # (a wrong positional lookup nulled v and crashed/zeroed the codes)
    assert by_id[1]["cluster"] == 0
    assert by_id[2]["cluster"] == 3
    assert by_id[3]["cluster"] == 7
    for r in out:
        assert r["codes"] is not None and len(r["codes"]) == 2


class TestRpBucketWidth:
    def test_wide_table_folds_in_long(self, spark):
        df = spark.createDataFrame(
            [(1, [float(i % 3) - 1.0 for i in range(8)])],
            "vec_id long, embedding array<double>",
        )
        out = ann.random_projection_tables(
            df, n_planes=40, n_tables=1, dim=8, seed=1
        )
        assert dict(out.dtypes)["bucket"] == "bigint"
        assert out.collect()[0]["bucket"] >= 0  # no ANSI overflow, no wrap

    def test_past_long_ceiling_raises(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0] * 8)], "vec_id long, embedding array<double>"
        )
        with pytest.raises(ValueError, match="n_planes"):
            ann.random_projection_tables(df, n_planes=63, dim=8, seed=1)

    def test_narrow_tables_keep_int_dtype(self, spark):
        # every existing caller/oracle compares against int buckets
        df = spark.createDataFrame(
            [(1, [1.0, -1.0])], "vec_id long, embedding array<double>"
        )
        out = ann.random_projection_tables(
            df, n_planes=4, n_tables=1, dim=2, seed=1
        )
        assert dict(out.dtypes)["bucket"] == "int"


def test_kmeans_spread_init_path_still_clusters(spark, monkeypatch):
    # force the past-budget branch regardless of size
    monkeypatch.setattr(ann, "_KMEANSPP_FLOP_BUDGET", 0)
    rows = [(i, [10.0 + (i % 3), 0.0]) for i in range(30)] + [
        (100 + i, [-10.0 - (i % 3), 0.0]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ann.kmeans_fit(df, k=2, max_iter=5)
    got = sorted(r["centroid"][0] for r in cents.collect())
    # Lloyd refinement separates the two blobs even from spread init
    assert got[0] < -5 and got[1] > 5


def test_knn_pagerank_empty_corpus_raises(spark):
    edges = spark.createDataFrame(
        [], "src long, dst long, rank int, cosine double"
    )
    corpus = spark.createDataFrame([], "vec_id long")
    with pytest.raises(ValueError, match="empty"):
        ann.knn_pagerank(edges, corpus)
