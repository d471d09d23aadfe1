"""Tests for SURVEY §2 gap-fill operators: sparse vector ops (F4),
hydration (J8), shard-hash bucketing (F14), title/content scoring (F10),
nested filter ops (P6/P8), index persistence (S13)."""

from __future__ import annotations

import math
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.functions.sparsevec import (
    sparse_cosine,
    sparse_dot,
    sparse_norm,
)
from grape_vector_db_spark.functions.text import text_match_score
from grape_vector_db_spark.operators import ann, filters, search
from grape_vector_db_spark.sources.tables import bucket_by_id


def test_sparse_dot_golden_pin(spark):
    # FIXTURES §6 / src/sparse.rs:383-390: [0,2,4]·[1,2,3] x [1,2,3]·[1,2,1] = 4.0
    df = spark.createDataFrame(
        [([0, 2, 4], [1.0, 2.0, 3.0], [1, 2, 3], [1.0, 2.0, 1.0])],
        "ai array<int>, av array<double>, bi array<int>, bv array<double>",
    )
    row = df.select(
        sparse_dot(F.col("ai"), F.col("av"), F.col("bi"), F.col("bv")).alias("d"),
        sparse_norm(F.col("av")).alias("na"),
        sparse_cosine(F.col("ai"), F.col("av"), F.col("bi"), F.col("bv")).alias("c"),
    ).head()
    assert row["d"] == 4.0
    assert math.isclose(row["na"], math.sqrt(1 + 4 + 9))
    expected_cos = 4.0 / (math.sqrt(14) * math.sqrt(6))
    assert math.isclose(row["c"], expected_cos, rel_tol=1e-12)


def test_sparse_cosine_zero_norm(spark):
    df = spark.createDataFrame(
        [([0], [0.0], [0], [1.0])],
        "ai array<int>, av array<double>, bi array<int>, bv array<double>",
    )
    row = df.select(
        sparse_cosine(F.col("ai"), F.col("av"), F.col("bi"), F.col("bv")).alias("c")
    ).head()
    assert row["c"] == 0.0


def test_hydrate(spark, docs, emb):
    qv = search.query_vector_of(emb, 0)
    res = search.knn(emb, qv, k=5).withColumnRenamed("vec_id", "doc_id")
    out = search.hydrate(res, docs, columns=["text", "lang"])
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["text"] is not None for r in rows)
    assert set(out.columns) >= {"doc_id", "score", "text", "lang"}


def test_bucket_by_id(spark, docs):
    b = bucket_by_id(docs, 8, id_col="doc_id")
    assert b.rdd.getNumPartitions() == 8
    stats = b.groupBy("bucket").count().collect()
    assert len(stats) == 8  # every bucket populated at 500 docs
    # deterministic: same id -> same bucket
    b2 = {r["doc_id"]: r["bucket"] for r in bucket_by_id(docs, 8, "doc_id").collect()}
    b1 = {r["doc_id"]: r["bucket"] for r in b.collect()}
    assert b1 == b2


def test_text_match_title_weighting(spark):
    df = spark.createDataFrame(
        [(1, "spark guide", "all about joins"), (2, "other", "spark joins here")],
        "id int, title string, content string",
    )
    out = {
        r["id"]: r["s"]
        for r in df.select(
            "id",
            text_match_score(F.col("title"), F.col("content"), "spark joins").alias("s"),
        ).collect()
    }
    # doc1: title hit 'spark'(+2), content hit 'joins'(+1) = 3
    # doc2: content hits 'spark'+'joins' = 2
    assert out[1] == 3.0 and out[2] == 2.0


def test_nested_filter_conditions(spark):
    df = spark.createDataFrame(
        [
            (1, ["a", "b"], {"k": "v"}, '{"meta": {"year": 2024}}'),
            (2, ["a"], {}, '{"meta": {"year": 2020}}'),
        ],
        "id int, tags array<string>, props map<string,string>, payload string",
    )
    c = filters.condition_to_column
    assert df.where(c({"type": "array_length", "field": "tags", "length": 2})).count() == 1
    assert df.where(c({"type": "object_has_key", "field": "props", "key": "k"})).count() == 1
    assert (
        df.where(
            c({"type": "json_path", "field": "payload", "path": "$.meta.year", "value": 2024})
        ).count()
        == 1
    )


def test_token_match_vs_substring(spark):
    df = spark.createDataFrame(
        [(1, "sparkling water"), (2, "spark engine")], "id int, text string"
    )
    token = filters.condition_to_column(
        {"type": "token_match", "field": "text", "token": "spark"}
    )
    # token match is word-level: 'sparkling' does NOT match
    assert [r["id"] for r in df.where(token).collect()] == [2]
    # match = full-text token match (Qdrant MatchText semantics; the
    # reference declares Match but never evaluates it) — word-level,
    # multi-token AND
    match1 = filters.condition_to_column(
        {"type": "match", "field": "text", "text": "spark"}
    )
    assert [r["id"] for r in df.where(match1).collect()] == [2]
    match2 = filters.condition_to_column(
        {"type": "match", "field": "text", "text": "engine spark"}
    )
    assert [r["id"] for r in df.where(match2).collect()] == [2]
    # stopwords-only text is a vacuous AND: matches everything
    vac = filters.condition_to_column(
        {"type": "match", "field": "text", "text": "the and of"}
    )
    assert df.where(vac).count() == 2
    # substring containment kept under its own kind
    substr = filters.condition_to_column(
        {"type": "contains", "field": "text", "text": "spark"}
    )
    assert df.where(substr).count() == 2


def test_index_save_load_roundtrip(spark, emb):
    d = tempfile.mkdtemp(prefix="gvdb_idx_")
    try:
        cents, assigned = ann.ivf_build(emb, nlist=4, max_iter=2)
        ann.save_index(d, cents, assigned)
        c2, a2 = ann.load_index(spark, d)
        assert c2.count() == 4
        assert a2.count() == emb.count()
        qv = search.query_vector_of(emb, 0)
        res = ann.ivf_search(emb, c2, a2, qv, k=5, nprobe=2).collect()
        assert res[0]["vec_id"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_ivf_build_fixed_pruned_matches_flat(spark, emb):
    """The persisted partition-pruned flat-IVF path returns exactly what
    the in-memory ivf_flat_search returns."""
    d = tempfile.mkdtemp(prefix="gvdb_flatidx_")
    try:
        qv = search.query_vector_of(emb, 0)
        cents_py = ann.fixed_centroids(nlist=8, dim=len(qv), seed=7)
        want = [(r["vec_id"], r["score"]) for r in
                ann.ivf_flat_search(emb, cents_py, qv, k=5, nprobe=3).collect()]
        cents, assigned = ann.ivf_build_fixed(emb, cents_py)
        ann.save_index(d, cents, assigned)
        got = [(r["vec_id"], r["score"]) for r in
               ann.ivf_search_pruned(spark, d, qv, k=5, nprobe=3).collect()]
        assert got == want and len(got) == 5
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_search_response_metadata(spark, docs, emb):
    """SearchResponse envelope (src/embedded.rs:510-518)."""
    import tempfile as tf
    from grape_vector_db_spark.db import GrapeVectorDB

    d = tf.mkdtemp(prefix="gvdb_resp_")
    try:
        db = GrapeVectorDB(spark, d)
        db.add_documents(docs, emb)
        qv = emb.head()["embedding"]
        resp = db.search_response(vector=qv, limit=5)
        assert resp.total_results == len(resp.results) == 5
        assert resp.query_time_ms > 0
        assert {"vec_id", "score"} <= set(resp.results[0])
    finally:
        shutil.rmtree(d, ignore_errors=True)
