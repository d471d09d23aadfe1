"""One catalog version pins every facade table.

A facade write publishes its table versions, then commits one
``_catalog/t={M}`` version naming them; readers resolve the catalog once
per call and read every table at the version it names.

Fault injection: ``add_documents`` and ``delete_documents`` on a store
with every index kind are stopped after each table commit in turn (a
``Crash`` is a BaseException, the in-process stand-in for a killed
writer). A fresh instance then still reads the pre-write rows of every
table and answers a cached search as before, the next write succeeds,
and every index equals a fresh build. Two writers racing on separate
instances both land. A warm read lists the filesystem at most once.
"""

from __future__ import annotations

import shutil
import threading

import pytest
from pyspark.sql import functions as F
from test_reindex import (
    CORPUS,
    KINDS,
    _build_every_index,
    _graph_rows,
    _rows,
    _same_rows,
    _stored_and_fresh,
)

from grape_vector_db_spark.db import _TABLES, GrapeVectorDB
from grape_vector_db_spark.operators import ann, fusion
from grape_vector_db_spark.sources import tables as T

NEW = [0, 1, 2, 3, 4]  # held out of the base corpus, inserted by the upsert
UPDATED = [100, 101, 102, 103, 104]
DOOMED = [101, 120, 130]
FLT = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
# table commits of one write on the store below: documents, embeddings,
# payload, terms, partition, ivf assignments, binary, sq, graph
COMMITS = 9


class Crash(BaseException):
    """A writer killed outright: no except handler of the engine runs."""


def _snapshot(db) -> dict:
    out = {}
    for table in _TABLES:
        if db._has(table):
            df = db._read(table)
            if table == "index_graph":
                df = _graph_rows(df)
            out[table] = _rows(df, df.columns)
    return out


def _answer(db, qv) -> list:
    return [
        r.asDict()
        for r in db.search_cached(vector=qv, limit=5, filter=FLT).collect()
    ]


@pytest.fixture(scope="module")
def store(spark, docs, emb, tmp_path_factory):
    root = tmp_path_factory.mktemp("catalog")
    base = str(root / "base")
    docs = docs.where(F.col("doc_id") < CORPUS)
    emb = emb.where(F.col("vec_id") < CORPUS)
    inst = GrapeVectorDB(spark, base)
    inst.add_documents(
        docs.where(~F.col("doc_id").isin(NEW)),
        emb.where(~F.col("vec_id").isin(NEW)),
    )
    _build_every_index(inst)
    qv = list(emb.where(F.col("vec_id") == 7).head()["embedding"])
    ids = NEW + UPDATED
    batch = docs.where(F.col("doc_id").isin(ids)).select(
        "doc_id",
        F.concat_ws(" ", "text", F.lit("catalog write")).alias("text"),
        "lang", "source", "n_chars",
    )
    vectors = emb.where(F.col("vec_id").isin(ids)).select(
        "vec_id",
        F.when(F.col("vec_id").isin(NEW), F.col("embedding"))
        .otherwise(F.reverse("embedding"))
        .alias("embedding"),
    )
    yield {
        "root": root,
        "base": base,
        "rows": _snapshot(inst),
        "answer": _answer(GrapeVectorDB(spark, base), qv),
        "qv": qv,
        "upsert": (batch.localCheckpoint(), vectors.localCheckpoint()),
    }
    shutil.rmtree(str(root), ignore_errors=True)


def _copy(store, name) -> str:
    d = str(store["root"] / name)
    shutil.copytree(store["base"], d)
    return d


def _write(db, store, op) -> None:
    if op == "add":
        db.add_documents(*store["upsert"])
    else:
        db.delete_documents(f"doc_id IN ({', '.join(map(str, DOOMED))})")


def _assert_fresh_build(db) -> None:
    for kind in KINDS:
        _same_rows(*_stored_and_fresh(db, kind))


@pytest.mark.parametrize("stop_after", range(COMMITS))
@pytest.mark.parametrize("op", ["add", "delete"])
def test_stopped_write_leaves_the_previous_catalog(
    spark, store, monkeypatch, op, stop_after
):
    d = _copy(store, f"{op}-{stop_after}")
    real, seen = T._commit, []

    def commit(*args, **kwargs):
        real(*args, **kwargs)
        seen.append(args[1])
        if len(seen) == stop_after + 1:
            raise Crash()

    monkeypatch.setattr(T, "_commit", commit)
    with pytest.raises(Crash):
        _write(GrapeVectorDB(spark, d), store, op)
    monkeypatch.undo()
    assert not any("_catalog" in p for p in seen)

    fresh = GrapeVectorDB(spark, d)
    assert _snapshot(fresh) == store["rows"]
    assert _answer(fresh, store["qv"]) == store["answer"]
    assert fresh.cache_stats["misses"] == 1

    after = GrapeVectorDB(spark, d)
    _write(after, store, op)
    docs = {r["doc_id"] for r in after.documents().collect()}
    if op == "add":
        assert set(NEW) <= docs
    else:
        assert not docs & set(DOOMED)
    _assert_fresh_build(after)
    shutil.rmtree(d, ignore_errors=True)


def test_every_write_commits_one_catalog(spark, store):
    d = _copy(store, "count")
    db = GrapeVectorDB(spark, d)
    m = db._catalog().version
    _write(db, store, "add")
    _write(db, store, "delete")
    assert db._catalog().version == m + 2
    # the stopped-write test stops after each of this many table commits
    real, seen = T._commit, []

    def commit(*args, **kwargs):
        seen.append(args[1])
        return real(*args, **kwargs)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(T, "_commit", commit)
        _write(db, store, "add")
    assert len(seen) == COMMITS, seen
    shutil.rmtree(d, ignore_errors=True)


def test_racing_writers_both_land(spark, docs, emb, store, monkeypatch):
    d = _copy(store, "race")
    m = GrapeVectorDB(spark, d)._catalog().version
    # both writers load the same catalog before either commits a table
    barrier, arrived = threading.Barrier(2, timeout=120), set()
    real = T._commit

    def commit(*args, **kwargs):
        me = threading.get_ident()
        if me not in arrived:
            arrived.add(me)
            barrier.wait()
        return real(*args, **kwargs)

    monkeypatch.setattr(T, "_commit", commit)
    batches = [[0, 1, 2, 110], [3, 4, 111]]
    errors = []

    def run(ids):
        try:
            GrapeVectorDB(spark, d).add_documents(
                docs.where(F.col("doc_id").isin(ids)).withColumn(
                    "text", F.lit("raced")
                ),
                emb.where(F.col("vec_id").isin(ids)).select(
                    "vec_id", F.reverse("embedding").alias("embedding")
                ),
            )
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(ids,)) for ids in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    monkeypatch.undo()
    assert not errors, errors
    db = GrapeVectorDB(spark, d)
    assert db._catalog().version == m + 2
    raced = {
        r["doc_id"]
        for r in db.documents().where(F.col("text") == "raced").collect()
    }
    assert raced == {i for ids in batches for i in ids}
    _assert_fresh_build(db)
    shutil.rmtree(d, ignore_errors=True)


def _count_listings(monkeypatch) -> list:
    calls = []
    real = T._versions_with_marker

    def counted(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(T, "_versions_with_marker", counted)
    return calls


def test_a_warm_read_lists_at_most_once(spark, store, monkeypatch):
    db = GrapeVectorDB(spark, store["base"])
    qv = store["qv"]
    reads = {
        "search": lambda: db.search(vector=qv, limit=5, filter=FLT).collect(),
        "hybrid": lambda: db.hybrid_search(
            "machine learning", qv, limit=5, filter=FLT
        ).collect(),
        "cached": lambda: db.search_cached(vector=qv, limit=5).collect(),
    }
    for name, read in reads.items():
        read()  # warm
        calls = _count_listings(monkeypatch)
        read()
        monkeypatch.undo()
        assert len(calls) <= 1, (name, calls)
    assert db.cache_stats["hits"] == 1


def test_open_ivf_index_lists_each_sub_table_once(
    spark, emb, tmp_path, monkeypatch
):
    path = str(tmp_path / "ivf")
    sub = emb.select("vec_id", "embedding").limit(50)
    cents, assigned = ann.ivf_build_fixed(
        sub, ann.fixed_centroids(nlist=4, dim=64, seed=7)
    )
    ann.save_index(path, cents, assigned)
    calls = _count_listings(monkeypatch)
    ann.open_ivf_index(spark, path)
    assert sorted(c.rsplit("/", 1)[1] for c in calls) == [
        "assignments", "centroids"
    ]


def test_stats_and_learned_weights_surface_read_errors(
    spark, docs, emb, tmp_path, monkeypatch
):
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(docs.limit(20))
    # absent tables: the documented defaults
    assert db.stats()["vector_count"] == 0
    q = "what is spark"
    defaults = dict(fusion.DEFAULT_TYPE_WEIGHTS[fusion.classify_query(q)])
    assert db._learned_weights(q) == defaults
    # an empty embeddings table still reports 0 vectors
    db.add_documents(docs.limit(0), emb.limit(0))
    assert db.stats()["vector_count"] == 0

    db.add_documents(docs.limit(20), emb.limit(20))
    db.update_fusion_weights(
        spark.createDataFrame([(1, 0.9)], "ts long, satisfaction double")
    )

    def broken(table):
        raise IOError(f"transient read failure on {table}")

    monkeypatch.setattr(db, "_read", broken)
    with pytest.raises(IOError):
        db.stats()
    with pytest.raises(IOError):
        db._learned_weights(q)
