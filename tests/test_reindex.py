"""Facade writes keep every index equal to a fresh build.

One store carries every index kind: ivf (replicas=2), binary (flat),
sq (bucket manifest), graph, partition (lang), payload and text. An
upsert of new and updated ids, one of them a docs-only lang move riding
with an unrelated embeddings row, and then a delete go through
add_documents / delete_documents. Afterwards each index table holds
exactly the rows a fresh build over the final corpus holds, the layout
sidecar keys survive, and each write published the partition layout
once. A tombstoned text index stays tombstoned through both writes.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark import db as db_module
from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import ann, quantization, sparse

CORPUS = 150  # ids below this; the writes' cost is per job, not per row
NEW = list(range(5))  # held out of the base corpus, inserted by the upsert
UPDATED = list(range(100, 115))
MOVED = 114  # docs-only lang move: no embeddings row in the batch
DOOMED = [0, 101, 120, 121, 130]
PAYLOAD_COLS = ["lang", "source", "n_chars"]


def _rows(df, cols) -> list[str]:
    return sorted(repr(r) for r in df.select(*cols).collect())


def _same_rows(got, want) -> None:
    # want's columns: a bucket-manifest read adds `bucket`
    assert _rows(got, want.columns) == _rows(want, want.columns)


def _graph_rows(edges):
    # the increment scores with the Catalyst kernel, the rebuild with
    # BLAS: cosines agree at the repo-wide 6-dp rounding
    return edges.select("src", "dst", "rank", F.round("cosine", 6).alias("c"))


@pytest.fixture()
def grown(spark, docs, emb, tmp_path, monkeypatch):
    inst = GrapeVectorDB(spark, str(tmp_path / "db"))
    docs = docs.where(F.col("doc_id") < CORPUS)
    emb = emb.where(F.col("vec_id") < CORPUS)
    inst.add_documents(
        docs.where(~F.col("doc_id").isin(NEW)),
        emb.where(~F.col("vec_id").isin(NEW)),
    )
    inst.build_index("ivf", nlist=4, replicas=2, max_iter=1)
    inst.build_index("binary")
    inst.build_index("sq", n_buckets=4)
    inst.build_index("graph", k=4)
    inst.build_index("partition", column="lang")
    inst.build_index("payload", columns=PAYLOAD_COLS)
    inst.build_index("text")

    published = []
    real = db_module.publish_table

    def counting(spark_, path, *args, **kwargs):
        published.append(path.rsplit("/", 1)[-1])
        return real(spark_, path, *args, **kwargs)

    monkeypatch.setattr(db_module, "publish_table", counting)

    ids = NEW + UPDATED
    batch = docs.where(F.col("doc_id").isin(ids)).select(
        "doc_id",
        F.concat_ws(" ", "text", F.lit("vector refresh")).alias("text"),
        F.when(F.col("doc_id") == MOVED, F.lit("xx"))
        .otherwise(F.col("lang"))
        .alias("lang"),
        "source",
        (F.col("n_chars") + 1).alias("n_chars"),
    )
    # updated vectors move: reverse the components
    vectors = emb.where(
        F.col("vec_id").isin(ids) & (F.col("vec_id") != MOVED)
    ).select(
        "vec_id",
        F.when(F.col("vec_id").isin(NEW), F.col("embedding"))
        .otherwise(F.reverse("embedding"))
        .alias("embedding"),
        "label",
    )
    inst.add_documents(batch, vectors)
    upsert_publishes = list(published)
    published.clear()
    inst.delete_documents(f"doc_id IN ({', '.join(map(str, DOOMED))})")
    yield inst, upsert_publishes, list(published)
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)


def test_grown_indexes_equal_a_fresh_build(grown, spark):
    db, upsert_publishes, delete_publishes = grown
    # the upsert used to publish the partition layout twice
    assert upsert_publishes.count("index_partition") == 1
    assert delete_publishes.count("index_partition") == 1
    assert db.documents().where(f"doc_id = {MOVED}").head()["lang"] == "xx"
    assert db.documents().where(F.col("doc_id").isin(DOOMED)).count() == 0

    # what build_index derives from the final corpus
    final_docs, final_emb = db.documents(), db.embeddings()
    vecs = final_emb.select("vec_id", "embedding")
    langs = final_docs.select(F.col("doc_id").alias("vec_id"), "lang")
    terms = sparse.doc_terms(final_docs).withColumnRenamed("doc_id", "vec_id")
    for table, want in (
        ("index_packed", quantization.pack_bits(vecs, "vec_id", "embedding")),
        ("index_sq", quantization.sq_quantize(vecs, "vec_id", "embedding")),
        ("index_partition", vecs.join(langs, "vec_id")),
        ("index_payload", db._payload_postings(final_docs, PAYLOAD_COLS)),
        ("index_terms", terms),
    ):
        _same_rows(db._read(table), want)

    cents, assigned = ann.load_index(spark, db._path("index_ivf"))
    _same_rows(
        assigned,
        ann.ivf_add(db.embeddings(), cents, include_vectors=True, replicas=2),
    )
    _same_rows(
        _graph_rows(db._read("index_graph")),
        _graph_rows(ann.knn_graph(db.embeddings(), k=4)),
    )

    # layout sidecar keys survive both writes
    assert db._table_stats("index_ivf/assignments")["replicas"] == 2
    assert db._table_stats("index_partition")["partition_column"] == "lang"
    assert db._bucket_versions("index_sq")


def test_tombstone_survives_upsert_and_delete(spark, docs, emb, tmp_path):
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(docs, emb)
    db.build_index("text")
    full = db.documents()
    db._publish("documents", full.drop("text"))
    db._reindex(spark.createDataFrame([(1,)], "vec_id long"))  # tombstones
    db._publish("documents", full)  # the column comes back
    db.add_documents(db.documents().where("doc_id = 7"))
    db.delete_documents("doc_id = 9")
    st = db._table_stats("index_terms")
    assert st.get("text_col") is None
    assert st.get("dropped_column") == "text"
    assert db._read("index_terms").count() == 0
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)
