"""operators/ann.py hardening pins (self-review findings):

1. _assign_literal(replicas < 1) raises instead of silently emitting an
   EMPTY assignment table (a build that "succeeds" and then finds
   nothing).
2. The IVF-PQ residual lookup keys by the ACTUAL cluster id — a dense
   positional array silently subtracted the wrong/absent centroid for
   non-contiguous centroid tables (externally trained, dropped cell).
3. save_pq_index commits the codebooks/codes version PAIR in one
   catalog version (the save_index rule): a crash between the two publishes
   must not pair new codebooks with codes encoded under the old ones.
4. _rp_bucket_expr folds in LONG (int overflowed at n_planes >= 32
   under ANSI) and rejects widths past the 64-bit ceiling.
5. kmeans_fit stays correct on the capped/spread-init path (the
   k-means++ D^2 loop is k*sample*dim SINGLE-THREADED driver flops —
   unboundedly slow at autosized nlist for 1e9 rows).
6. knn_pagerank raises the module's conventional ValueError on an
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


def test_save_pq_index_commits_version_pair(spark, tmpdir):
    from grape_vector_db_spark.sources.tables import (
        publish_table,
        read_catalog,
    )

    path = f"{tmpdir}/pqidx"
    codebooks = [[[0.0], [1.0]]]
    codes = spark.createDataFrame(
        [(1, [0]), (2, [1])], "id long, codes array<int>"
    )
    ann.save_pq_index(path, codebooks, codes)
    cat = read_catalog(spark, path, ("codebooks", "codes"))
    assert cat.version == 1 and set(cat.tables) == {"codebooks", "codes"}
    # simulate a crashed half-rebuild: a NEWER codes version lands but
    # the catalog (the real commit point) was never re-written
    bogus = spark.createDataFrame([(9, [1])], "id long, codes array<int>")
    publish_table(spark, f"{path}/codes", bogus)
    _, got = ann.load_pq_index(spark, path)
    # the reader opens the PAIRED version, not the newest one
    assert {r["id"] for r in got.collect()} == {1, 2}
    # a fresh SAVE re-points the pair and the new codes become visible
    ann.save_pq_index(path, codebooks, bogus)
    _, got2 = ann.load_pq_index(spark, path)
    assert {r["id"] for r in got2.collect()} == {9}


class TestRpBucketWidth:
    def test_wide_table_folds_in_long(self, spark):
        df = spark.createDataFrame(
            [(1, [float(i % 3) - 1.0 for i in range(8)])],
            "vec_id long, embedding array<double>",
        )
        out = df.select(
            ann._rp_bucket_expr(
                "embedding", n_planes=40, dim=8, seed=1
            ).alias("bucket")
        ).collect()
        assert out[0]["bucket"] >= 0  # no ANSI overflow, no wrap

    def test_past_long_ceiling_raises(self, spark):
        with pytest.raises(ValueError, match="n_planes"):
            ann._rp_bucket_expr("embedding", 63, 8, 1)

    def test_narrow_tables_keep_int_dtype(self, spark):
        # every existing caller/oracle compares against int buckets
        df = spark.createDataFrame(
            [(1, [1.0, -1.0])], "vec_id long, embedding array<double>"
        )
        out = df.select(
            ann._rp_bucket_expr(
                "embedding", n_planes=4, dim=2, seed=1
            ).alias("bucket")
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
