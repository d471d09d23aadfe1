"""db.py facade hardening pins (self-review findings):

1. delete_documents carries the IVF assignments sidecar through the
   cascade (it dropped 'replicas', so _ivf_replicas() read 1 — grown
   postings diverged from the layout and nprobe lost its scaling).
2. delete_documents never resurrects a tombstoned text index.
3. The similarity threshold applies on EVERY physical route (indexed
   routes silently ignored it — the same request filtered on a small
   corpus and didn't on a large one).
4. The filtered graph walk's ef-expansion is WIDEN-only (a 0.99-
   selectivity filter used to cut an over-fetch beam to the 256 cap).
5. A custom vec_col store is searchable (every route hard-coded the
   operators' 'embedding' default and raised UNRESOLVED_COLUMN).
6. backup() skips tombstoned/None-column index entries (restore()
   aborted mid-way on build_index of an absent column).
7. stats() reports the text inverted index (tombstones excluded).
8. A docs-batch tenant move refreshes the partition layout even when
   an unrelated embeddings batch rides along.
9. Graph and IVF builds refuse non-integral (UUID) ids before any job
   runs and publish nothing; sq and binary still build and serve.
10. build_index rejects keyword arguments its kind does not take.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_dbh_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def test_delete_preserves_ivf_replicas_sidecar(db, spark):
    db.build_index("ivf", nlist=4, replicas=2)
    assert db._ivf_replicas() == 2
    db.delete_documents("doc_id % 10 = 0")
    # the cascade used to republish assignments with NO sidecar — the
    # replica count silently reset to 1
    assert db._ivf_replicas() == 2


def test_delete_does_not_resurrect_text_tombstone(db, docs, spark):
    db.build_index("text")
    full = db.documents()
    db._publish("documents", full.drop("text"))
    ids = spark.createDataFrame([(1,)], "vec_id long")
    db._reindex(ids)  # tombstones
    db._publish("documents", full)  # column restored
    db.delete_documents("doc_id % 7 = 0")
    st = db._table_stats("index_terms") or {}
    # still tombstoned: the cascade used to republish with a real
    # text_col, making the EMPTY index servable again
    assert st.get("text_col") is None
    assert db._gate(
        {"must": [{"type": "match", "field": "text", "text": "vector"}]}
    ).tree is None
    terms, lengths = db._warm_terms()
    # session tokenize, not the tomb
    assert terms.count() > 0 and lengths is not None


def test_threshold_applies_on_indexed_routes(db, emb):
    db.build_index("ivf", nlist=4)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
    out = db.search(vector=qv, limit=10, threshold=0.9, index="ivf")
    rows = out.collect()
    # indexed routes used to ignore the threshold entirely
    assert all(r["score"] >= 0.9 for r in rows)
    loose = db.search(vector=qv, limit=10, index="ivf").collect()
    assert len(loose) >= len(rows)


def test_custom_vec_col_store_is_searchable(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_vc_")
    try:
        inst = GrapeVectorDB(spark, d, vec_col="vec")
        inst.add_documents(
            docs, emb.withColumnRenamed("embedding", "vec")
        )
        qv = [
            float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]
        ]
        # raised UNRESOLVED_COLUMN('embedding') on every route pre-fix
        assert inst.search(vector=qv, limit=5).count() == 5
        assert inst.search_batch([qv], limit=3).count() == 3
        assert inst.recommend([3], limit=3).count() == 3
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_backup_skips_tombstoned_text_index(db, docs, spark, tmpdir):
    db.build_index("text")
    full = db.documents()
    db._publish("documents", full.drop("text"))
    db._reindex(spark.createDataFrame([(1,)], "vec_id long"))
    db._publish("documents", full)
    man = db.backup(f"{tmpdir}/bk")
    kinds = [e["kind"] for e in man["indexes"]]
    assert "text" not in kinds  # restore() would have aborted mid-way


def test_stats_reports_text_index(db):
    assert "index_terms" not in db.stats()["indexes"]
    db.build_index("text")
    st = db.stats()
    assert "index_terms" in st["indexes"]
    assert st["text_index_column"] == "text"


def test_docs_tenant_move_with_embeddings_batch_refreshes_layout(
    db, docs, emb, spark
):
    db.build_index("partition", column="lang")
    # doc 3 moves lang; an UNRELATED embeddings row rides along
    move = spark.createDataFrame([(3, "xx")], "doc_id long, lang string")
    other_vec = emb.where(F.col("vec_id") == 5)
    db.add_documents(move, other_vec)
    row = (
        db._read("index_partition").where(F.col("vec_id") == 3).head()
    )
    # pre-fix the metadata-move branch was gated on embeddings IS None,
    # so doc 3's layout row stayed under the old lang
    assert row["lang"] == "xx"


def test_graph_and_ivf_builds_refuse_uuid_ids(spark, emb, tmp_path):
    import uuid

    rows = emb.where("vec_id < 40").select("vec_id", "embedding").collect()
    vecs = spark.createDataFrame(
        [(str(uuid.UUID(int=r["vec_id"] + 1)), r["embedding"]) for r in rows],
        "vec_id string, embedding array<double>",
    )
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(
        vecs.select(F.col("vec_id").alias("doc_id"), F.lit("doc").alias("text")),
        vecs,
    )
    version = db._catalog().version
    for kind in ("graph", "ivf"):
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup()
        with pytest.raises(ValueError, match="'vec_id' is string"):
            db.build_index(kind)
        assert spark.sparkContext.statusTracker().getJobIdsForGroup() == jobs
        assert db._catalog().version == version
        assert not db._has("index_graph") and not db._has("index_ivf/centroids")
    qv = list(rows[3]["embedding"])
    for kind in ("sq", "binary"):
        db.build_index(kind)
        got = db.search(vector=qv, limit=3, index=kind).collect()
        assert got[0]["vec_id"] == str(uuid.UUID(int=4))


@pytest.mark.parametrize(
    "kind", ["ivf", "graph", "partition", "text", "payload", "binary", "sq"]
)
def test_build_index_rejects_keywords_its_kind_does_not_take(
    spark, docs, emb, tmp_path, kind
):
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(docs.limit(20), emb.limit(20))
    version = db._catalog().version
    with pytest.raises(ValueError, match="takes no K"):
        db.build_index(kind, K=16)
    with pytest.raises(ValueError, match="takes no include_vectors"):
        db.build_index(kind, include_vectors=False)
    assert db._catalog().version == version
