"""GrapeVectorDB.stream: restart and visibility to the caller.

1. A stream stopped after its first batch and restarted on the same
   checkpoint applies only the batch that arrived since.
2. The caller's instance answers search_cached and count from before the
   stream until the stream commits, then from after it: its version-keyed
   caches see the commits of the stream's own instance.
3. A nondeterministic id column lands as one id in documents and
   embeddings: both halves of a micro-batch read one evaluation of it.
"""

from __future__ import annotations

import random
import shutil

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB

SCHEMA = "doc_id long, text string, lang string, embedding array<float>"


def _row(i: int, lang: str = "en", vec: list[float] | None = None) -> tuple:
    vec = vec or [float((i * (k + 1)) % 7 - 3) for k in range(4)]
    return (i, f"streamed document {i}", lang, vec)


@pytest.fixture()
def db(spark, tmp_path):
    inst = GrapeVectorDB(spark, str(tmp_path / "db"))
    base = spark.createDataFrame([_row(i) for i in range(20)], SCHEMA)
    inst.add_documents(
        base.drop("embedding"),
        base.selectExpr("doc_id AS vec_id", "embedding"),
    )
    inst.build_index("payload", columns=["lang"])
    yield inst
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)


def _stream(db, rows, src: str, checkpoint: str) -> None:
    db.spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    db.stream(
        db.spark.readStream.schema(SCHEMA).parquet(src), checkpoint=checkpoint
    ).awaitTermination(120)


def test_restart_applies_only_new_batches(db, spark, tmp_path):
    src, ck = str(tmp_path / "incoming"), str(tmp_path / "ck")
    _stream(db, [_row(i) for i in range(20, 30)], src, ck)
    assert db.count() == 30
    # a write outside the stream: re-applying the first batch reverts it
    db.add_documents(
        spark.createDataFrame([(25, "zz")], "doc_id long, lang string")
    )
    version = db._entry("documents")[0]
    _stream(db, [_row(i) for i in range(30, 40)], src, ck)
    assert db._entry("documents")[0] == version + 1  # one batch
    assert db.get_document(25)["lang"] == "zz"
    assert db.count() == 40
    assert db.count({"must": [{"type": "equals", "field": "lang",
                               "value": "zz"}]}) == 1


def test_caller_caches_see_the_stream_commits(db, tmp_path):
    probe = [9.0, 9.0, 9.0, -9.0]
    de = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}

    def top():
        return db.search_cached(vector=probe, limit=1).head()["vec_id"]

    before, n_de = top(), db.count(de)
    assert n_de == 0 and before != 99
    assert top() == before  # served from the cache
    _stream(
        db,
        [_row(99, "de", probe)] + [_row(i, "de") for i in range(40, 45)],
        str(tmp_path / "incoming"),
        str(tmp_path / "ck"),
    )
    assert top() == 99
    assert db.count(de) == 6
    assert db.count() == 26


def test_nondeterministic_ids_match_across_halves(db, spark, tmp_path):
    src = str(tmp_path / "incoming")
    spark.createDataFrame(
        [_row(i) for i in range(20, 30)], SCHEMA
    ).write.parquet(src)
    draw = F.udf(
        lambda _: random.getrandbits(40) + 1000, "long"
    ).asNondeterministic()
    stream = spark.readStream.schema(SCHEMA).parquet(src).withColumn(
        "doc_id", draw("doc_id")
    )
    db.stream(stream, checkpoint=str(tmp_path / "ck")).awaitTermination(120)
    docs = {r["doc_id"] for r in db.documents().where("doc_id >= 1000")
            .select("doc_id").collect()}
    vecs = {r["vec_id"] for r in db.embeddings().where("vec_id >= 1000")
            .select("vec_id").collect()}
    assert len(docs) == 10 and docs == vecs
