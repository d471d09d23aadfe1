"""Facade writes keep every index equal to a fresh build.

One store carries every index kind: ivf (replicas=2), binary (flat),
sq (bucket manifest), graph, partition (lang), payload and text. An
upsert of new and updated ids, one of them a docs-only lang move riding
with an unrelated embeddings row, and then a delete go through
add_documents / delete_documents. Afterwards each index table holds
exactly the rows a fresh build over the final corpus holds, the layout
sidecar keys survive, and each write published the partition layout
once. A tombstoned text index stays tombstoned through both writes.

A second store of every kind grows through GrapeVectorDB.stream: two
micro-batch cuts carry new ids, updates that move postings, an id
delivered twice, a docs-only move (null vector) and an update of an id
the first cut inserted. Each index then equals a fresh build, and
replaying the whole source on a fresh checkpoint leaves every table's
rows unchanged.
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


KINDS = ("ivf", "binary", "sq", "graph", "partition", "payload", "text")


def _build_every_index(db) -> None:
    db.build_index("ivf", nlist=4, replicas=2, max_iter=1)
    db.build_index("binary")
    db.build_index("sq", n_buckets=4)
    db.build_index("graph", k=4)
    db.build_index("partition", column="lang")
    db.build_index("payload", columns=PAYLOAD_COLS)
    db.build_index("text")


def _stored_and_fresh(db, kind: str):
    """One index's stored rows and the rows build_index derives from the
    final corpus (ivf: assigned against the stored, frozen centroids),
    both read at the catalog's versions."""
    docs, emb = db.documents(), db.embeddings()
    vecs = emb.select("vec_id", "embedding")
    if kind == "ivf":
        ivf = db._ivf()
        return ivf.assignments(), ann.ivf_add(
            vecs, ivf.cents, include_vectors=True, replicas=2
        )
    if kind == "graph":
        return (
            _graph_rows(db._read("index_graph")),
            _graph_rows(ann.knn_graph(vecs, k=4)),
        )
    table, fresh = {
        "binary": (
            "index_packed",
            lambda: quantization.pack_bits(vecs, "vec_id", "embedding"),
        ),
        "sq": (
            "index_sq",
            lambda: quantization.sq_quantize(vecs, "vec_id", "embedding"),
        ),
        "partition": (
            "index_partition",
            lambda: vecs.join(
                docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
            ),
        ),
        "payload": (
            "index_payload",
            lambda: db._payload_postings(docs, PAYLOAD_COLS),
        ),
        "text": (
            "index_terms",
            lambda: sparse.doc_terms(docs).withColumnRenamed(
                "doc_id", "vec_id"
            ),
        ),
    }[kind]
    return db._read(table), fresh()


def _assert_layouts_kept(db) -> None:
    assert db._table_stats("index_ivf/assignments")["replicas"] == 2
    assert db._table_stats("index_partition")["partition_column"] == "lang"
    assert db._entry("index_sq")[1] == "bucketed"


@pytest.fixture()
def grown(spark, docs, emb, tmp_path, monkeypatch):
    inst = GrapeVectorDB(spark, str(tmp_path / "db"))
    docs = docs.where(F.col("doc_id") < CORPUS)
    emb = emb.where(F.col("vec_id") < CORPUS)
    inst.add_documents(
        docs.where(~F.col("doc_id").isin(NEW)),
        emb.where(~F.col("vec_id").isin(NEW)),
    )
    _build_every_index(inst)

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


def test_grown_indexes_equal_a_fresh_build(grown):
    db, upsert_publishes, delete_publishes = grown
    # the upsert used to publish the partition layout twice
    assert upsert_publishes.count("index_partition") == 1
    assert delete_publishes.count("index_partition") == 1
    assert db.documents().where(f"doc_id = {MOVED}").head()["lang"] == "xx"
    assert db.documents().where(F.col("doc_id").isin(DOOMED)).count() == 0

    for kind in KINDS:
        _same_rows(*_stored_and_fresh(db, kind))
    # layout sidecar keys survive both writes
    _assert_layouts_kept(db)


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


# -- the same indexes grown through db.stream ---------------------------------

BASE = 90  # the streamed store's corpus before the stream starts
TWICE = 95  # inserted by the first cut, delivered twice with two vectors
DOCS_ONLY = 60  # second cut: a lang move with a null vector
STREAM_TABLES = (
    "documents", "embeddings", "index_ivf/assignments", "index_packed",
    "index_sq", "index_graph", "index_partition", "index_payload",
    "index_terms",
)


def _stream(db, src, schema, checkpoint, **options):
    reader = db.spark.readStream.schema(schema)
    for key, value in options.items():
        reader = reader.option(key, value)
    db.stream(reader.parquet(src), checkpoint=checkpoint).awaitTermination(120)


@pytest.fixture(scope="module")
def streamed(spark, docs, emb, tmp_path_factory):
    root = tmp_path_factory.mktemp("streamed")
    # the stream's row shape: a document and its vector
    rows = docs.where(F.col("doc_id") < CORPUS).join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id"
    )
    inst = GrapeVectorDB(spark, str(root / "db"))
    base = rows.where(F.col("doc_id") < BASE)
    inst.add_documents(
        base.drop("embedding"),
        base.select(F.col("doc_id").alias("vec_id"), "embedding"),
    )
    _build_every_index(inst)

    def pick(ids):
        return rows.where(F.col("doc_id").isin(list(ids)))

    reversed_ = F.reverse("embedding").alias("embedding")
    cut1 = pick(range(BASE, 120)).unionByName(
        # updates: new text, and a reversed vector moves every posting
        pick(range(40, 50)).select(
            "doc_id",
            F.concat_ws(" ", "text", F.lit("stream refresh")).alias("text"),
            "lang", "source", "n_chars", reversed_,
        )
    ).unionByName(pick([TWICE]).withColumn("embedding", reversed_))
    cut2 = pick(range(120, CORPUS)).unionByName(
        # lang moves: payload postings and partition directories move
        pick([50, 51, TWICE])
        .withColumn("lang", F.lit("xx"))
        .withColumn(
            "embedding", F.transform("embedding", lambda x: -x)
        )
    ).unionByName(
        pick([DOCS_ONLY])
        .withColumn("lang", F.lit("yy"))
        .withColumn("embedding", F.lit(None).cast("array<float>"))
    )
    src = str(root / "incoming")
    for cut in (cut1, cut2):  # one file, so one micro-batch, a cut
        cut.coalesce(1).write.mode("append").parquet(src)
        _stream(inst, src, rows.schema, str(root / "ck"))
    yield inst, src, rows.schema, root
    shutil.rmtree(str(root), ignore_errors=True)


@pytest.mark.parametrize("kind", KINDS)
def test_stream_grown_indexes_equal_a_fresh_build(streamed, kind):
    _same_rows(*_stored_and_fresh(streamed[0], kind))


def test_stream_rows_land_in_documents_and_embeddings(streamed, emb):
    db = streamed[0]
    assert db.count() == CORPUS
    assert db.embeddings().count() == CORPUS
    assert db.get_document(TWICE)["lang"] == "xx"
    assert db.embeddings().where(f"vec_id = {TWICE}").count() == 1
    # a null vector updates the document only
    assert db.get_document(DOCS_ONLY)["lang"] == "yy"
    stored = db.embeddings().where(f"vec_id = {DOCS_ONLY}").head()
    assert stored["embedding"] == (
        emb.where(f"vec_id = {DOCS_ONLY}").head()["embedding"]
    )
    _assert_layouts_kept(db)


def test_stream_replay_leaves_every_table_unchanged(streamed):
    """A fresh checkpoint replays both cuts, one file a batch in their
    first order: each batch upserts rows the store already holds."""
    db, src, schema, root = streamed

    def snapshot():
        out = {}
        for table in STREAM_TABLES:
            df = db._read(table)
            if table == "index_graph":
                df = _graph_rows(df)
            out[table] = _rows(df, df.columns)
        return out

    before, version = snapshot(), db._entry("documents")[0]
    _stream(db, src, schema, str(root / "ck_replay"), maxFilesPerTrigger=1)
    assert db._entry("documents")[0] == version + 2  # both replayed
    assert snapshot() == before
