"""Round-11 optimization pins: the filtered-search gate broadcast, the
per-request catalog snapshot, and the one-glob version listing."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.sources.tables import (
    _versions_with_marker,
    publish_table,
    table_versions,
)


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_opt_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    inst.build_index("payload", columns=["lang", "source"])
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


QV = [0.1] * 64


def test_selective_gate_broadcasts_ids_into_corpus_semijoin(db):
    """A posting-served filter whose sidecar estimate is small must
    BROADCAST its id set: the embeddings corpus is never shuffled or
    sorted for the semi-join (guide §3.1 — the 100 TB shape for a
    selective gate)."""
    out = db.search(vector=QV, limit=5, filter={"lang": "en"})
    plan = _plan(out)
    assert "BroadcastHashJoin LeftSemi" in plan
    # no Exchange hashpartitioning of the embeddings read: the only
    # exchanges allowed are BroadcastExchange
    import re

    non_broadcast = [
        ln
        for ln in plan.splitlines()
        if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert non_broadcast == [], non_broadcast
    assert "SortMergeJoin" not in plan


def test_nonselective_gate_keeps_shuffle_semijoin(db):
    """Past the id bound the gate must NOT broadcast (an unbounded id
    broadcast is the driver-OOM shape) — the planner's shuffle
    semi-join remains."""
    orig = GrapeVectorDB.GATE_BROADCAST_MAX_IDS
    GrapeVectorDB.GATE_BROADCAST_MAX_IDS = 0
    spark = db.spark
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # the fixture tables are tiny, so Spark's own 64 MB auto-broadcast
    # would mask the fallback; disable it to see the unhinted shape
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = db.search(vector=QV, limit=5, filter={"lang": "en"})
        plan = _plan(out)
        assert "SortMergeJoin LeftSemi" in plan
    finally:
        GrapeVectorDB.GATE_BROADCAST_MAX_IDS = orig
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_gate_broadcast_rows_match_shuffle_rows(db):
    """Both join strategies must return identical rows."""
    fast = db.search(vector=QV, limit=5, filter={"lang": "en"}).collect()
    orig = GrapeVectorDB.GATE_BROADCAST_MAX_IDS
    GrapeVectorDB.GATE_BROADCAST_MAX_IDS = 0
    try:
        slow = db.search(vector=QV, limit=5, filter={"lang": "en"}).collect()
    finally:
        GrapeVectorDB.GATE_BROADCAST_MAX_IDS = orig
    assert [r.asDict() for r in fast] == [r.asDict() for r in slow]


def test_snapshot_does_not_outlive_a_request(db, docs):
    """The pinned catalog is request-scoped: a write between two reads
    is visible to the second read (cross-request freshness)."""
    before = db.stats()["document_count"]
    extra = docs.limit(3).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    db.add_documents(extra)
    assert db.stats()["document_count"] == before + 3
    # and no pinned catalog leaks outside the call
    assert db._pinned is None


def test_write_reads_its_own_pending_versions(db):
    """A write pins its working catalog: its own reads see a version it
    published at once, another instance sees it only once the write's
    catalog commit lands."""
    before = db._entry("documents")
    seen = {}

    def body():
        db._publish("documents", db.documents().limit(3))
        seen["inside"] = db._entry("documents")
        seen["rows"] = db.documents().count()
        seen["others"] = GrapeVectorDB(db.spark, db.base)._entry("documents")

    db._write(body)
    assert seen["inside"][0] > before[0] and seen["rows"] == 3
    assert seen["others"] == before
    assert GrapeVectorDB(db.spark, db.base)._entry("documents") == seen["inside"]


def test_glob_listing_matches_loop_listing(spark, docs, tmp_path):
    """The single-glob _versions_with_marker must agree with a manual
    t=N walk, including uncommitted (marker-less) versions."""
    base = str(tmp_path / "tbl")
    publish_table(spark, base, docs.limit(2))
    publish_table(spark, base, docs.limit(3))
    # fake an uncommitted version: directory without _SUCCESS
    import os

    os.makedirs(f"{base}/t=99/", exist_ok=True)
    with open(f"{base}/t=99/part-0.parquet", "w") as f:
        f.write("")
    vs = table_versions(spark, base)
    assert vs == [1, 2]
    # glob-special path falls back to the exact loop and agrees
    assert _versions_with_marker(spark, base) == [1, 2]


def test_glob_listing_empty_for_missing_path(spark, tmp_path):
    assert table_versions(spark, str(tmp_path / "nope")) == []


def test_knn_batch_exclude_col_equals_anti_join_rerank(spark, emb):
    """knn_batch's in-scan exclusion (r11) must return EXACTLY the rows
    of the old over-fetch + anti-join + window re-rank formulation."""
    from pyspark.sql import Window

    from grape_vector_db_spark.operators import search

    ex = spark.createDataFrame(
        [(1, [0, 2, 4]), (2, [1, 3])],
        "query_id long, _excl array<bigint>",
    )
    qv = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id") + 1, F.col("embedding")
    ).toDF("query_id", "query_vec")
    queries = qv.join(ex, "query_id")
    new = search.knn_batch(emb, queries, k=5, exclude_col="_excl")

    # old formulation: over-fetch by max excl size, anti-join, re-rank
    hits = search.knn_batch(emb, queries.select("query_id", "query_vec"), k=5 + 3)
    excl = ex.select("query_id", F.explode("_excl").alias("id"))
    kept = hits.join(excl, ["query_id", "id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    old = (
        kept.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "id", "score", "rank")
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() == 10


def test_recommend_batch_plans_no_sort_merge_join(spark, emb):
    """recommend_batch (r11): the own-example exclusion rides the
    broadcast targets row — no SortMergeJoin anywhere in the plan."""
    from grape_vector_db_spark.operators import search

    ex = spark.createDataFrame(
        [(1, 0, 1), (1, 2, -1), (2, 1, 1), (2, 3, 1)],
        "user_id long, example_id long, polarity int",
    )
    out = search.recommend_batch(emb, ex, k=4)
    plan = _plan(out)
    assert "SortMergeJoin" not in plan
    rows = out.collect()
    ids = {(r["user_id"], r["id"]) for r in rows}
    assert (1, 0) not in ids and (1, 2) not in ids
    assert (2, 1) not in ids and (2, 3) not in ids
    assert all(1 <= r["rank"] <= 4 for r in rows)
