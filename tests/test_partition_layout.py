"""Tenant/partition-pruned storage layout: build_index('partition'),
the pruned filtered-search route, and lifecycle (refresh, metadata
moves, delete cascade)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators.filters import simple_equality

FLT_EN = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_part_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


class TestSimpleEquality:
    def test_detects_single_must_equals(self):
        assert simple_equality(FLT_EN) == ("lang", "en")

    def test_rejects_everything_else(self):
        assert simple_equality({}) is None
        assert simple_equality({"must": []}) is None
        assert (
            simple_equality(
                {"must": [{"type": "range", "field": "n_chars", "gte": 10}]}
            )
            is None
        )
        two = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "equals", "field": "source", "value": "web"},
            ]
        }
        assert simple_equality(two) is None
        assert (
            simple_equality({**FLT_EN, "must_not": [{"type": "equals", "field": "a", "value": 1}]})
            is None
        )
        assert (
            simple_equality({**FLT_EN, "should": [{"type": "equals", "field": "a", "value": 1}]})
            is None
        )


class TestPartitionLayout:
    def test_pruned_search_matches_semi_join_route(self, db, emb):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        ]
        db.build_index("partition", column="lang")
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        ]
        assert after == before

    def test_pruned_plan_skips_docs_scan(self, db, emb):
        """The pruned route must read ONLY the matching partition
        directory: PartitionFilters on the scan, and neither a join nor
        a documents read anywhere in the vector arm."""
        db.build_index("partition", column="lang")
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        plan = _plan(db.search(vector=qv, limit=10, filter=FLT_EN))
        assert "PartitionFilters" in plan and "lang" in plan
        assert "Join" not in plan
        assert "documents" not in plan

    def test_non_equality_filters_keep_semi_join_route(self, db, emb):
        db.build_index("partition", column="lang")
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        flt = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "range", "field": "n_chars", "gte": 100},
            ]
        }
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        assert "Join" in plan  # the general path still serves trees

    def test_other_column_equality_not_pruned(self, db, emb):
        db.build_index("partition", column="lang")
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        flt = {"must": [{"type": "equals", "field": "source", "value": "web"}]}
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        assert "Join" in plan

    def test_refresh_keeps_layout_and_serves_new_rows(self, db, spark, emb):
        db.build_index("partition", column="lang")
        dim = len(emb.head()["embedding"])
        nid = 10**6 + 7
        ndocs = spark.createDataFrame(
            [(nid, "the fresh partition row", "en", "web", 23)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        nvec = emb.head()["embedding"]
        nemb = spark.createDataFrame(
            [(nid, list(nvec))], f"vec_id long, embedding array<float>"
        )
        db.add_documents(ndocs, nemb)
        qv = [float(x) for x in nvec]
        got = db.search(vector=qv, limit=3, filter=FLT_EN).collect()
        assert nid in {r["vec_id"] for r in got}
        st = db._table_stats("index_partition")
        assert st and st["partition_column"] == "lang"

    def test_metadata_move_changes_partition(self, db, spark, emb):
        """Updating ONLY a doc's lang must move it across the layout —
        the pruned route must stop (and start) returning it."""
        db.build_index("partition", column="lang")
        vid = db.documents().where("lang = 'en'").head()["doc_id"]
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == vid).head()["embedding"]]
        assert vid in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=FLT_EN).collect()
        }
        upd = spark.createDataFrame(
            [(int(vid), None, "zz", None, None)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        db.add_documents(upd)
        assert vid not in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=FLT_EN).collect()
        }
        flt_zz = {"must": [{"type": "equals", "field": "lang", "value": "zz"}]}
        assert vid in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=flt_zz).collect()
        }

    def test_delete_cascades_into_layout(self, db, emb):
        db.build_index("partition", column="lang")
        vid = db.documents().where("lang = 'en'").head()["doc_id"]
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == vid).head()["embedding"]]
        db.delete_documents(f"doc_id = {vid}")
        got = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        }
        assert vid not in got
        st = db._table_stats("index_partition")
        assert st and st["partition_column"] == "lang"

    def test_build_rejects_unknown_column(self, db):
        with pytest.raises(ValueError):
            db.build_index("partition", column="nope")
        with pytest.raises(ValueError):
            db.build_index("partition")


def test_registry_query_plan_prunes(spark):
    """partition_pruned_knn must show parquet partition pruning on label
    and keep the zero-shuffle TakeOrdered knn shape."""
    import __spark_entry__ as em

    df = em.q_partition_pruned_knn(spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "label" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan and "Join" not in plan


def test_search_plan_and_stats_surface_the_layout(db):
    db.build_index("partition", column="lang")
    pc = db.search_plan(filter=FLT_EN)
    assert "partition-pruned" in pc.reason and "'lang'" in pc.reason
    other = db.search_plan(
        filter={"must": [{"type": "equals", "field": "source", "value": "web"}]}
    )
    assert "partition-pruned" not in other.reason
    st = db.stats()
    assert "index_partition" in st["indexes"]
    assert st["partition_column"] == "lang"
