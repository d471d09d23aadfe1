"""Id lists reach Spark as one SQL ``IN`` expression.

``Column.isin`` makes one py4j round trip per id, so the graph walk's
per-hop fetches and the facade's id probes build their predicates with
``functions.vector.id_in`` instead. Over integer and string ids, a graph
search (with a result-id probe) and ``get_documents`` never call
``Column.isin`` and return the rows the ``isin`` fallback returns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.functions import vector
from grape_vector_db_spark.operators import ann


def _no_isin(monkeypatch):
    def refuse(self, *a):
        raise AssertionError("Column.isin called")

    monkeypatch.setattr(Column, "isin", refuse)


def _isin_fallback(monkeypatch):
    monkeypatch.setattr(vector, "id_literal", lambda data_type: None)


@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_graph_search_and_get_documents_build_one_in_expression(
    spark, emb, tmp_path, monkeypatch, id_type
):
    vecs = emb.where("vec_id < 40").select("vec_id", "embedding")
    edges = spark.createDataFrame(  # driver-local: nothing left persisted
        [tuple(r) for r in ann.knn_graph(vecs, k=4).select("src", "dst").collect()],
        "src long, dst long",
    )
    keep = vecs.where(F.col("vec_id") % 3 != 0)
    if id_type == "string":
        def name(c):
            return F.format_string("n%02d", c).alias(c)

        vecs = vecs.select(name("vec_id"), "embedding")
        edges = edges.select(name("src"), name("dst"))
        keep = keep.select(name("vec_id"))
    qv = list(emb.where("vec_id = 3").head()["embedding"])

    def walk():
        return ann.graph_beam_search(
            edges, vecs, qv, k=5, beam=4, hops=2, result_ids_df=keep
        ).collect()

    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(
        vecs.select(
            F.col("vec_id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("vec_id")).alias("text"),
        )
    )
    absent = "absent" if id_type == "string" else 10**6
    ids = [r[0] for r in vecs.select("vec_id").limit(6).collect()] + [absent]

    with monkeypatch.context() as m:
        _no_isin(m)
        got_walk, got_docs = walk(), db.get_documents(ids)
    with monkeypatch.context() as m:
        _isin_fallback(m)
        want_walk, want_docs = walk(), db.get_documents(ids)
    assert len(got_walk) == 5 and got_walk == want_walk
    assert len(got_docs) == 6 and got_docs == want_docs


def test_ids_of_another_type_than_the_column_fall_back_to_isin(
    spark, emb, tmp_path
):
    """An id whose Python type is not the column's (a graph with bigint
    ``dst`` ids over string vector ids; a caller passes ints for string
    doc ids) has no literal of the column's type: the predicate falls
    back to ``isin`` and Spark's implicit cast, as before."""
    from pyspark.sql.types import LongType, StringType

    spell = vector.id_literal(StringType())
    assert spell(7) is None and spell("7") == "CAST(X'37' AS STRING)"
    assert vector.id_literal(LongType())("7") is None

    ints = emb.where("vec_id < 40").select("vec_id", "embedding")
    vecs = ints.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )
    edges = spark.createDataFrame(
        [tuple(r) for r in ann.knn_graph(ints, k=4).select("src", "dst").collect()],
        "src long, dst long",
    )
    qv = list(emb.where("vec_id = 3").head()["embedding"])
    got = ann.graph_beam_search(edges, vecs, qv, k=5, beam=4, hops=2).collect()
    assert len(got) == 5

    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(
        vecs.select(F.col("vec_id").alias("doc_id"), F.lit("doc").alias("text"))
    )
    assert db.get_documents([1, 2]) == []  # int ids never equal string keys
    assert [d["doc_id"] for d in db.get_documents(["1", "2"])] == ["1", "2"]
