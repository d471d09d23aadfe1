"""Stats-funded planner (VERDICT r7 #1): route choice must be funded by
publish-time statistics + a cached sampled selectivity estimate, never by
eager corpus-scale jobs. The hard pin: a warm ``db.search(index="auto")``
call launches ZERO Spark jobs before the search job itself — counted via
sparkContext.statusTracker().getJobIdsForGroup()."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.sources import tables as T


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_stats_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}-done", "done")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_publish_records_row_stats_on_the_write_job(spark, tmp_path):
    p = str(tmp_path / "tbl")
    df = spark.range(137).select(
        F.col("id"), (F.col("id") % 5).cast("int").alias("rank")
    )
    T.publish_table(spark, p, df, stats_exprs={"max_rank": "max(rank)"})
    st = T.read_table_stats(spark, p)
    assert st["rows"] == 137 and st["max_rank"] == 4
    # next version gets its own stats
    T.publish_table(spark, p, df.limit(10))
    assert T.read_table_stats(spark, p)["rows"] == 10
    # a legacy version without the sidecar reads as None (callers must
    # fall back to counting)
    import os

    v = T.table_versions(spark, p)[-1]
    os.remove(f"{p}/t={v}/{T._STATS_FILE}")
    assert T.read_table_stats(spark, p) is None


def test_row_count_falls_back_for_legacy_versions(db):
    import os

    v = db._entry("documents")[0]
    os.remove(f"{db._path('documents')}/t={v}/{T._STATS_FILE}")
    db._stats_cache.clear()
    n = db._row_count("documents")
    assert n == db.documents().count()


def test_sampled_selectivity_matches_exact_at_test_scale(db, docs):
    """The sample covers the whole sf0.001 corpus, so the estimate must
    equal the exact fraction."""
    from grape_vector_db_spark.operators import filters

    flt = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}
    fcol = filters.filter_to_column(flt)
    got = db._estimate_selectivity(fcol)
    want = docs.where("lang = 'de'").count() / docs.count()
    assert abs(got - want) < 1e-9


def test_auto_search_launches_zero_pre_search_jobs(db, emb):
    """The r7 verdict's Done-criterion: with every index built and the
    caches warm, constructing the auto-routed search plan (and its
    EXPLAIN twin search_plan) costs ZERO Spark jobs — row counts, nlist,
    and graph degree come from publish-time stats; filter selectivity
    from the driver-local sample; index existence from FS probes."""
    db.build_index("graph", k=4)
    db.build_index("ivf", nlist=4, max_iter=2)
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}

    # warm: stats caches, the doc sample, parquet schema reads
    assert db.search(vector=qv, limit=5).collect()[0]["vec_id"] == 3
    assert db.search(vector=qv, limit=5, filter=flt).collect()

    df, jobs = _jobs_during(
        db.spark, "pin-unfiltered", lambda: db.search(vector=qv, limit=5)
    )
    assert jobs == [], f"unfiltered auto search ran pre-search jobs: {jobs}"

    df2, jobs = _jobs_during(
        db.spark,
        "pin-filtered",
        lambda: db.search(vector=qv, limit=5, filter=flt),
    )
    assert jobs == [], f"filtered auto search ran pre-search jobs: {jobs}"

    _, jobs = _jobs_during(
        db.spark, "pin-plan", lambda: db.search_plan(filter=flt)
    )
    assert jobs == [], f"search_plan ran jobs: {jobs}"

    # the lazily returned plans still produce the right answers
    assert df.collect()[0]["vec_id"] == 3
    assert {r["vec_id"] for r in df2.collect()}


def test_stats_survive_index_refresh_and_merge(db, spark, emb):
    """Publishes along the write path (merge, index refresh) must keep
    the sidecar current so the next search stays job-free."""
    db.build_index("graph", k=4)
    st = db._table_stats("index_graph")
    assert st is not None and st["max_rank"] == 4
    n0 = db._row_count("embeddings")

    fresh_docs = spark.createDataFrame(
        [(10**6, "fresh doc")], "doc_id long, text string"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    db.add_documents(fresh_docs, fresh)
    assert db._row_count("embeddings") == n0 + 1
    st = db._table_stats("index_graph")
    assert st is not None and st["max_rank"] == 4


def test_publish_empty_dataframe_records_zero_rows(spark, tmp_path):
    """The write-job observation must complete (not hang) and record
    rows=0 for an empty publish — delete-everything cascades and empty
    micro-batches publish empty versions."""
    p = str(tmp_path / "empty_tbl")
    df = spark.range(5).where("id < 0").select(
        "id", F.lit(1).cast("int").alias("rank")
    )
    T.publish_table(spark, p, df, stats_exprs={"max_rank": "max(rank)"})
    st = T.read_table_stats(spark, p)
    assert st["rows"] == 0 and st["max_rank"] is None
    assert st.get("schema")
