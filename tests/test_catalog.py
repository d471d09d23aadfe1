"""One catalog version pins every facade table.

A facade write publishes its table versions, then commits one
``_catalog/t={M}`` version naming them; readers resolve the catalog once
per call and read every table at the version it names.

Fault injection: ``add_documents`` and ``delete_documents`` on a store
with every index kind are stopped after each table commit in turn (a
``Crash`` is a BaseException, the in-process stand-in for a killed
writer). A fresh instance then still reads the pre-write rows of every
table and answers a cached search as before, the next write succeeds,
and every index equals a fresh build. A writer killed right after a
claim rename (the commit point) never blocks the next write. Two
writers racing on separate instances both land, and one whose catalog
went stale before its catalog commit renames nothing. A warm read lists
the filesystem at most once.
"""

from __future__ import annotations

import os
import shutil
import threading
import time

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
        version = real(*args, **kwargs)
        seen.append(args[1])
        if len(seen) == stop_after + 1:
            raise Crash()
        return version

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


@pytest.mark.parametrize("stop", ["table", "catalog"])
@pytest.mark.parametrize("op", ["add", "delete"])
def test_write_killed_after_a_claim_rename_never_blocks_the_next(
    spark, store, monkeypatch, op, stop
):
    """A writer killed right after the rename of its first table commit,
    or of its catalog commit: the rename committed that version whole,
    so the next write on a fresh instance succeeds at once, no dir
    aged. Readers see the previous rows after a table stop, the killed
    write's rows after a catalog stop."""
    d = _copy(store, f"renamed-{op}-{stop}")
    real_claim, real_list = T._claim, T._versions_with_marker
    renamed = []

    def claim(spark_, path, *args, **kwargs):
        token = real_claim(spark_, path, *args, **kwargs)
        if stop == "table" or path.endswith("/_catalog"):
            renamed.append(path)
        return token

    def listing(*args, **kwargs):  # the step after the rename
        if renamed:
            raise Crash()
        return real_list(*args, **kwargs)

    monkeypatch.setattr(T, "_claim", claim)
    monkeypatch.setattr(T, "_versions_with_marker", listing)
    with pytest.raises(Crash):
        _write(GrapeVectorDB(spark, d), store, op)
    monkeypatch.undo()
    assert renamed[0].endswith("/_catalog") == (stop == "catalog")

    killed = GrapeVectorDB(spark, d)
    rows = _snapshot(killed)
    if stop == "table":
        assert rows == store["rows"]
    else:
        _assert_fresh_build(killed)

    after = GrapeVectorDB(spark, d)
    _write(after, store, op)
    docs = {r["doc_id"] for r in after.documents().collect()}
    if op == "add":
        assert set(NEW) <= docs
    else:
        assert not docs & set(DOOMED)
    if stop == "catalog":
        # the killed write had landed: repeating it changes no row
        assert _snapshot(GrapeVectorDB(spark, d)) == rows
    _assert_fresh_build(after)
    shutil.rmtree(d, ignore_errors=True)


def test_a_catalog_commit_over_a_stale_catalog_renames_nothing(
    spark, store, monkeypatch
):
    """Writer B read catalog M; writer A commits M+1 before B's catalog
    commit, and B is armed to stop right after a catalog claim rename.
    B must raise before that rename and land on a retry over A's
    catalog: renaming its stale catalog onto M+2 would serve a catalog
    without A's write as the newest, for good once B was killed there.
    A fresh reader between B's two attempts sees A's rows."""
    d = _copy(store, "stale-catalog")
    m = GrapeVectorDB(spark, d)._catalog().version
    real_commit, real_claim = T._commit, T._claim
    seen = {"renamed": []}

    def commit(spark_, path, base, *args, **kwargs):
        if not path.endswith("/_catalog") or "base" in seen:
            return real_commit(spark_, path, base, *args, **kwargs)
        seen["base"] = base
        _write(GrapeVectorDB(spark, d), store, "add")  # A: catalog M+1
        seen["armed"] = True
        try:
            return real_commit(spark_, path, base, *args, **kwargs)
        finally:
            seen["armed"] = False
            seen["between"] = {
                r["doc_id"]
                for r in GrapeVectorDB(spark, d).documents().collect()
            }

    def claim(spark_, path, *args, **kwargs):
        token = real_claim(spark_, path, *args, **kwargs)
        if seen.get("armed"):
            seen["renamed"].append(path)
            raise Crash()
        return token

    monkeypatch.setattr(T, "_commit", commit)
    monkeypatch.setattr(T, "_claim", claim)
    _write(GrapeVectorDB(spark, d), store, "delete")  # B
    monkeypatch.undo()
    assert seen["base"] == m and seen["renamed"] == []
    assert set(NEW) <= seen["between"]

    db = GrapeVectorDB(spark, d)
    assert db._catalog().version == m + 2
    docs = {r["doc_id"] for r in db.documents().collect()}
    assert set(NEW) <= docs and not docs & set(DOOMED)
    _assert_fresh_build(db)
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
    # ... then exactly one catalog commit, last
    assert len(seen) == COMMITS + 1, seen
    assert [p.endswith("/_catalog") for p in seen].index(True) == COMMITS
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


def test_open_ivf_index_lists_the_catalog_once(
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
    assert [c.rsplit("/", 1)[1] for c in calls] == ["_catalog"]


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


def test_bucketed_layout_is_gone_and_an_old_entry_raises_until_rebuilt(
    spark, docs, emb, tmp_path
):
    """``build_index(n_buckets=...)`` raises. A catalog written before the
    bucket-manifest layout was removed names ``index_sq`` as ``bucketed``
    over a version dir without ``_SUCCESS``: every read of it raises,
    naming build_index as the fix (never a partial or empty read), and
    build_index('sq') then publishes the plain layout over it. A backup
    that recorded ``n_buckets`` restores plain."""
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(docs.limit(40), emb.limit(40))
    with pytest.raises(ValueError, match="n_buckets"):
        db.build_index("sq", n_buckets=4)
    db.build_index("sq")
    qv = list(emb.head()["embedding"])
    want = db.search(vector=qv, limit=5, index="sq").collect()

    cat = db._catalog()
    v = cat.tables["index_sq"][0]
    T.commit_catalog(
        spark, db.base, cat, {**cat.tables, "index_sq": (v, "bucketed")}
    )
    legacy = f"{db._path('index_sq')}/t={v}"
    os.remove(f"{legacy}/_SUCCESS")
    open(f"{legacy}/_MANIFEST.json", "w").close()
    live_claim = f"{db._path('index_sq')}/t={v + 1}"  # a writer in flight
    os.makedirs(live_claim)
    old = GrapeVectorDB(spark, db.base)
    for read in (
        lambda: old.search(vector=qv, limit=5, index="sq").collect(),
        lambda: old.add_documents(docs.limit(2), emb.limit(2)),
    ):
        with pytest.raises(ValueError, match=r"build_index\(kind\).*'sq'"):
            read()
    old.build_index("sq")
    assert old._entry("index_sq")[1] == "plain"
    assert old.search(vector=qv, limit=5, index="sq").collect() == want
    # the rebuild numbered past the legacy dir and a writer's dir alike,
    # and deleted neither
    assert os.path.isdir(live_claim)
    shutil.rmtree(live_claim)

    backup = str(tmp_path / "backup")
    manifest = old.backup(backup)
    assert {"kind": "sq"} in manifest["indexes"]
    manifest["indexes"] = [
        {**e, "n_buckets": 4} if e["kind"] == "sq" else e
        for e in manifest["indexes"]
    ]
    T._write_control(spark, f"{backup}/_MANIFEST.json", manifest)
    restored = GrapeVectorDB(spark, str(tmp_path / "restored"))
    restored.restore(backup)
    assert restored._entry("index_sq")[1] == "plain"
    assert restored.search(vector=qv, limit=5, index="sq").collect() == want


def test_uncatalogued_bucket_manifest_table_is_never_read_as_absent(
    spark, tmp_path
):
    """A table whose only versions are bucket-manifest ones (a DB from
    before the catalog, or a bare path) is neither absent nor readable:
    the version-0 catalog names it ``bucketed`` (raising at its first
    read), and a MERGE raises instead of adopting the day-old version
    as a crashed claim and publishing the batch alone as the table."""
    root = str(tmp_path / "root")
    p = f"{root}/tbl"
    rows = spark.createDataFrame(
        [(i, f"t-{i}") for i in range(10)], "id long, text string"
    )
    T.publish_table(spark, p, rows)
    os.remove(f"{p}/t=1/_SUCCESS")
    open(f"{p}/t=1/_MANIFEST.json", "w").close()
    day_old = time.time() - 2 * 86400
    os.utime(f"{p}/t=1", (day_old, day_old))

    cat = T.read_catalog(spark, root, ("tbl", "absent"))
    assert cat.tables == {"tbl": (0, "bucketed")}
    with pytest.raises(ValueError, match="bucket-manifest"):
        T._entry_dir(spark, p, cat.tables["tbl"])
    with pytest.raises(ValueError, match=r"build_index\(kind\)"):
        T.upsert_table(spark, p, rows.limit(1))
    assert os.path.isfile(f"{p}/t=1/_MANIFEST.json")
