"""Facade writes evaluate their inputs once.

1. add_documents runs the caller's batch lineage exactly once, however
   many tables and indexes consume it (a counting UDF pins it).
2. A nondeterministic batch lands identically in documents, in its
   payload postings, and in the quantized indexes.
3. Everything materialized for a write is released on success and on
   error.
4. The payload and text sidecars after an upsert and after a delete equal
   those of a fresh build over the same documents, and those of a store
   grown to the same documents by db.stream.
5. A missing _STATS.json is not cached: once it lands, the next read
   sees it.
6. db.stream runs each micro-batch's lineage once, for the documents,
   the embeddings and every index.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators.payload import HIST_MAX
from grape_vector_db_spark.sources.tables import read_table_stats

DIM = 8
DOC_SCHEMA = "doc_id long, text string, lang string, score long, tags array<string>"
EMB_SCHEMA = "vec_id long, embedding array<float>"
WORDS = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta"]


def _doc(i: int, salt: int = 0) -> tuple:
    text = " ".join(WORDS[(i * k + salt) % len(WORDS)] for k in range(1, 4))
    tags = [f"t{(i + salt) % 5}", f"t{(i * 3 + salt) % 7}"]
    # score spans more than HIST_MAX distinct values: a wide histogram
    return (i, text, ["en", "de", "fr"][(i + salt) % 3], (i * 7 + salt) % 131,
            tags)


def _vec(i: int, salt: int = 0) -> tuple:
    return (i, [float(((i + salt) * (k + 3)) % 11 - 5) for k in range(DIM)])


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def _pin_persistent_rdds(spark) -> list:
    """Hold a reference to every RDD persisted now. An earlier test's
    dropped localCheckpoint is otherwise released by the ContextCleaner
    whenever a garbage collection reaches it, which can be in the middle
    of the write under test (the count then falls)."""
    pinned = []
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        pinned.append(it.next()._2())
    return pinned


@pytest.fixture()
def db(spark, tmp_path):
    inst = GrapeVectorDB(spark, str(tmp_path / "db"))
    ids = range(160)
    inst.add_documents(
        spark.createDataFrame([_doc(i) for i in ids], DOC_SCHEMA),
        spark.createDataFrame([_vec(i) for i in ids], EMB_SCHEMA),
    )
    inst.build_index("payload", columns=["lang", "score", "tags"])
    inst.build_index("text")
    inst.build_index("sq")
    inst.build_index("binary")
    yield inst
    shutil.rmtree(str(tmp_path / "db"), ignore_errors=True)


def test_add_documents_evaluates_each_batch_row_once(db, spark):
    sc = spark.sparkContext
    n_docs, n_vecs = sc.accumulator(0), sc.accumulator(0)

    def tick_text(t):
        n_docs.add(1)
        return t

    def tick_vec(v):
        n_vecs.add(1)
        return v

    # 30 new ids, 20 updates, and one id repeated inside the batch
    rows = [_doc(i, salt=1) for i in range(140, 190)] + [_doc(150, salt=2)]
    vecs = [_vec(i, salt=1) for i in range(140, 190)] + [_vec(150, salt=2)]
    docs = spark.createDataFrame(rows, DOC_SCHEMA).withColumn(
        "text", F.udf(tick_text, "string")("text")
    )
    emb = spark.createDataFrame(vecs, EMB_SCHEMA).withColumn(
        "embedding", F.udf(tick_vec, "array<float>")("embedding")
    )
    db.add_documents(docs, emb)
    assert n_docs.value == len(rows)
    assert n_vecs.value == len(vecs)
    # the repeated id collapsed to one row everywhere
    assert db.documents().where("doc_id = 150").count() == 1
    assert db.embeddings().where("vec_id = 150").count() == 1
    for table in ("index_sq", "index_packed"):
        assert db._read(table).where("vec_id = 150").count() == 1


def test_nondeterministic_batch_lands_identically_everywhere(db, spark):
    from grape_vector_db_spark.operators import quantization

    # Python's random, not Spark's rand(): a seeded rand() replays the
    # same values when a plan re-runs, a model-style UDF does not
    draw = F.udf(lambda _: random.random(), "double").asNondeterministic()
    vec = F.udf(
        lambda _: [random.random() - 0.5 for _ in range(DIM)], "array<float>"
    ).asNondeterministic()
    ids = spark.range(140, 200).withColumnRenamed("id", "doc_id")
    docs = ids.select(
        "doc_id",
        F.lit("alpha beta").alias("text"),
        F.when(draw("doc_id") < 0.5, "en").otherwise("de").alias("lang"),
        (draw("doc_id") * 1000).cast("long").alias("score"),
        F.array(F.lit("t1")).alias("tags"),
    )
    emb = ids.select(
        F.col("doc_id").alias("vec_id"), vec("doc_id").alias("embedding")
    )
    db.add_documents(docs, emb)

    stored = db.documents().where("doc_id >= 140")
    posted = db._read("index_payload").where(
        "field IN ('lang', 'score') AND vec_id >= 140"
    )
    want = stored.select(
        F.col("doc_id").alias("vec_id"),
        F.col("lang"),
        F.col("score").cast("string").alias("score"),
    )
    got = posted.groupBy("vec_id").pivot("field", ["lang", "score"]).agg(
        F.first("value")
    )
    assert got.count() == 60
    assert want.exceptAll(got).count() == 0 and got.exceptAll(want).count() == 0

    vecs = db.embeddings().where("vec_id >= 140")
    for table, encode in (
        ("index_sq", quantization.sq_quantize),
        ("index_packed", quantization.pack_bits),
    ):
        idx = db._read(table).where("vec_id >= 140")
        fresh = encode(vecs, "vec_id", "embedding").select(*idx.columns)
        assert idx.count() == 60
        assert fresh.exceptAll(idx).count() == 0


def test_materialized_inputs_are_released(db, spark):
    pinned = _pin_persistent_rdds(spark)
    before = _persistent_rdds(spark)
    db.add_documents(
        spark.createDataFrame([_doc(i, 1) for i in range(150, 170)], DOC_SCHEMA),
        spark.createDataFrame([_vec(i, 1) for i in range(150, 170)], EMB_SCHEMA),
    )
    assert _persistent_rdds(spark) == before
    db.delete_documents("doc_id % 9 = 0")
    assert _persistent_rdds(spark) == before
    bad = spark.createDataFrame([(170, [1.0, 2.0])], EMB_SCHEMA)
    with pytest.raises(ValueError, match="dimension mismatch"):
        db.add_documents(
            spark.createDataFrame([_doc(170)], DOC_SCHEMA), bad
        )
    assert _persistent_rdds(spark) == before
    # the rejected batch published nothing
    assert db.documents().where("doc_id = 170").count() == 0
    assert len(pinned) == before


def _sidecar(db, table: str) -> dict:
    return read_table_stats(db.spark, db._path(table))


def _stats_only(sidecar: dict) -> dict:
    return {k: v for k, v in sidecar.items() if k != "schema"}


def _fresh_sidecars(db, spark, path: str) -> tuple[dict, dict]:
    fresh = GrapeVectorDB(spark, path)
    fresh.add_documents(db.documents(), db.embeddings())
    fresh.build_index("payload", columns=["lang", "score", "tags"])
    fresh.build_index("text")
    out = _sidecar(fresh, "index_payload"), _sidecar(fresh, "index_terms")
    shutil.rmtree(path, ignore_errors=True)
    return out


def _streamed_sidecars(db, spark, tmp: str) -> tuple[dict, dict]:
    """The sidecars of a store grown to ``db``'s documents by a stream:
    40 rows are loaded and indexed, then the stream carries every row
    (the 40 again, as upserts of the same rows)."""
    rows = db.documents().join(
        db.embeddings().withColumnRenamed("vec_id", "doc_id"), "doc_id", "left"
    )
    src = f"{tmp}/incoming"
    rows.write.parquet(src)
    grown = GrapeVectorDB(spark, f"{tmp}/db")
    first = rows.where("doc_id < 40")
    grown.add_documents(
        first.drop("embedding"),
        first.select(F.col("doc_id").alias("vec_id"), "embedding"),
    )
    grown.build_index("payload", columns=["lang", "score", "tags"])
    grown.build_index("text")
    grown.stream(
        spark.readStream.schema(rows.schema).parquet(src),
        checkpoint=f"{tmp}/ck",
    ).awaitTermination(120)
    out = _sidecar(grown, "index_payload"), _sidecar(grown, "index_terms")
    shutil.rmtree(tmp, ignore_errors=True)
    return out


@pytest.mark.parametrize("write", ["upsert", "delete"])
def test_sidecars_match_a_fresh_build(db, spark, tmp_path, write):
    if write == "upsert":
        db.add_documents(
            spark.createDataFrame(
                [_doc(i, salt=4) for i in range(120, 200)], DOC_SCHEMA
            ),
            spark.createDataFrame(
                [_vec(i, salt=4) for i in range(120, 200)], EMB_SCHEMA
            ),
        )
    else:
        db.delete_documents("doc_id % 4 = 1 OR lang = 'fr'")
    pay, txt = _sidecar(db, "index_payload"), _sidecar(db, "index_terms")
    assert "score" in pay["wide_hist_fields"]
    assert pay["histograms"]["score"]["n_distinct"] > HIST_MAX
    assert pay["array_fields"] == ["tags"]

    # every statistic matches a fresh build. Only the recorded schema's
    # column ORDER may differ: a re-publish unions onto the stored
    # table, whose partition column reads back last
    want_pay, want_txt = _fresh_sidecars(db, spark, str(tmp_path / "fresh"))
    assert _stats_only(pay) == _stats_only(want_pay)
    assert _stats_only(txt) == _stats_only(want_txt)

    st_pay, st_txt = _streamed_sidecars(db, spark, str(tmp_path / "stream"))
    assert _stats_only(st_pay) == _stats_only(want_pay)
    assert _stats_only(st_txt) == _stats_only(want_txt)


def test_missing_sidecar_is_not_cached(db, spark):
    table = "documents"
    stats = f"{db._dir(table)}/_STATS.json"
    held = stats + ".held"
    want = db._table_stats(table)
    db._stats_cache.clear()
    os.rename(stats, held)  # a reader between _SUCCESS and _STATS.json
    try:
        assert db._table_stats(table) is None
    finally:
        os.rename(held, stats)
    assert db._table_stats(table) == want


@pytest.mark.parametrize("column", ["lang", "text", "embedding"])
def test_stream_evaluates_each_batch_row_once(db, spark, tmp_path, column):
    sc = spark.sparkContext
    n = sc.accumulator(0)

    def tick(v):
        n.add(1)
        return v

    # 20 updates and 20 new ids, each carrying its vector
    rows = [(*_doc(i, salt=3), _vec(i, salt=3)[1]) for i in range(140, 180)]
    schema = f"{DOC_SCHEMA}, embedding array<float>"
    src = str(tmp_path / "incoming")
    spark.createDataFrame(rows, schema).write.parquet(src)
    dtype = "array<float>" if column == "embedding" else "string"
    stream = spark.readStream.schema(schema).parquet(src).withColumn(
        column, F.udf(tick, dtype)(column)
    )
    db.stream(stream, checkpoint=str(tmp_path / "ck")).awaitTermination(120)
    # one evaluation feeds both merges, every index and its sidecar
    assert n.value == len(rows)
    assert db.documents().where("doc_id >= 140").count() == 40
    assert db.embeddings().where("vec_id >= 140").count() == 40
