"""End-to-end facade tests: the reference user's workflow, verbatim."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB


def ivf_pair(db):
    """The facade's IVF ``(centroids, assignments)`` at the pair its
    catalog names."""
    with db._snapshot():
        idx = db._ivf()
    return idx.cents, idx.assignments()


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_db_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def test_crud_roundtrip(db, docs):
    assert db.stats()["document_count"] == docs.count()
    got = db.get_document(42)
    assert got is not None and got["doc_id"] == 42
    assert db.get_document(10**9) is None

    # upsert preserving unset fields
    upd = db.spark.createDataFrame(
        [(42, "replaced text", None, None, None)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    db.add_documents(upd)
    after = db.get_document(42)
    assert after["text"] == "replaced text"
    assert after["lang"] is not None  # preserved

    db.delete_documents("doc_id = 42")
    assert db.get_document(42) is None


def test_vector_search_and_clamps(db, emb):
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    res = db.search(vector=qv, limit=5).collect()
    assert res[0]["vec_id"] == 3
    # reference clamp: limit capped at 100
    big = db.search(vector=qv, limit=5000)
    assert big.count() <= 100


def test_text_search_with_filter(db):
    res = db.search(
        text="vector index",
        limit=10,
        filter={"must": [{"type": "equals", "field": "lang", "value": "en"}]},
    )
    rows = res.collect()
    assert len(rows) > 0


def test_filtered_vector_search(db, emb, docs):
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    flt = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}
    res = db.search(vector=qv, limit=10, filter=flt).collect()
    de_ids = {r["doc_id"] for r in docs.where("lang = 'de'").collect()}
    assert {r["vec_id"] for r in res} <= de_ids


def test_search_with_documents_hydrates_hits(db, emb, docs):
    """with_documents=True returns the documents row per hit (the
    reference returns full documents) — O(k) broadcast join, same ids
    and scores as the bare search."""
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    bare = db.search(vector=qv, limit=5).collect()
    hyd = db.search(vector=qv, limit=5, with_documents=True).collect()
    assert [(r["doc_id"], r["score"]) for r in hyd] == [
        (r["vec_id"], r["score"]) for r in bare
    ]
    assert set(docs.columns) <= set(hyd[0].asDict())
    want_text = docs.where(F.col("doc_id") == hyd[0]["doc_id"]).head()["text"]
    assert hyd[0]["text"] == want_text


def test_search_groups_contract(db, emb, docs):
    """search_groups: top group_size hits per group value, only the
    `limit` groups with the best top hit, ranks correct, nulls dropped."""
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    rows = db.search_groups(qv, "lang", limit=2, group_size=3).collect()
    got = {}
    for r in rows:
        got.setdefault(r["group"], []).append(
            (r["rank_in_group"], r["vec_id"], r["score"])
        )
    assert len(got) == 2
    # ground truth from a full scored scan
    from grape_vector_db_spark.operators import search as s_ops

    scored = s_ops.knn(emb, qv, k=10_000).collect()
    lang_of = {r["doc_id"]: r["lang"] for r in docs.collect()}
    per_group = {}
    for r in scored:
        g = lang_of.get(r["vec_id"])
        if g is None:
            continue
        per_group.setdefault(g, []).append((r["vec_id"], r["score"]))
    top_groups = sorted(
        per_group, key=lambda g: (-per_group[g][0][1], g)
    )[:2]
    assert set(got) == set(top_groups)
    for g in top_groups:
        want = [
            (i + 1, vid, sc)
            for i, (vid, sc) in enumerate(per_group[g][:3])
        ]
        assert sorted(got[g]) == want


def test_scroll_paginates_completely_and_pushes_cursor(db, docs):
    """Walking scroll() pages reconstructs exactly the filtered set in
    id order, and the cursor predicate is pushed into the parquet scan
    (deep pagination must be O(page), not O(position))."""
    want = [
        r["doc_id"]
        for r in docs.where("lang = 'en'").orderBy("doc_id").collect()
    ]
    flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
    got, cursor = [], None
    while True:
        page = db.scroll(filter=flt, limit=7, cursor=cursor).collect()
        if not page:
            break
        got.extend(r["doc_id"] for r in page)
        cursor = page[-1]["doc_id"]
    assert got == want
    plan = (
        db.scroll(filter=flt, limit=7, cursor=123)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(doc_id,123)" in plan
    # the deprecated positional-sounding alias still routes to the cursor
    # semantics (ADVICE r9: renamed, kept as an alias)
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        via_alias = db.scroll(filter=flt, limit=7, offset=123).collect()
    assert any(issubclass(x.category, DeprecationWarning) for x in w)
    assert via_alias == db.scroll(filter=flt, limit=7, cursor=123).collect()


def test_get_documents_batch_lookup(db, docs):
    """get_documents: input order kept, absent ids skipped, one pruned
    scan."""
    got = db.get_documents([7, 3, 10**9, 5])
    assert [d["doc_id"] for d in got] == [7, 3, 5]
    want = docs.where("doc_id = 3").head().asDict()
    assert got[1] == want
    assert db.get_documents([]) == []


def test_search_batch_matches_per_query_search(db, emb):
    """search_batch == N independent searches, in one corpus scan; a
    filter gates every query's candidates."""
    vecs = [
        list(emb.where(F.col("vec_id") == i).head()["embedding"])
        for i in (3, 7)
    ]
    rows = db.search_batch(vecs, limit=5).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append((r["vec_id"], r["score"]))
    for qid, v in enumerate(vecs):
        want = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=v, limit=5).collect()
        ]
        assert per_q[qid] == want, qid
    flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
    keep = {
        r["doc_id"] for r in db.documents().where("lang = 'en'").collect()
    }
    frows = db.search_batch(vecs, limit=5, filter=flt).collect()
    assert frows and {r["vec_id"] for r in frows} <= keep


def test_search_groups_serves_group_column_from_postings(db, emb):
    """With the group column payload-indexed, search_groups reads the
    narrow posting directory instead of joining wide documents — and
    the result is identical."""
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    before = [tuple(r) for r in db.search_groups(qv, "lang", 2, 2).collect()]
    db.build_index("payload", columns=["lang"])
    after_df = db.search_groups(qv, "lang", 2, 2)
    assert [tuple(r) for r in after_df.collect()] == before
    plan = after_df._jdf.queryExecution().executedPlan().toString()
    assert "documents" not in plan
    assert "index_payload" in plan


def test_hybrid_strategies(db, emb):
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    for strat in ("rrf", "linear", "normalized", "adaptive"):
        out = db.hybrid_search("vector index merge", qv, limit=5, strategy=strat)
        assert out.count() <= 5, strat


def test_index_build_and_planner(db, emb):
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    db.build_index("binary")
    assert "index_packed" in db.stats()["indexes"]
    # small corpus -> planner still picks brute force; force the packed path
    from grape_vector_db_spark.operators import quantization

    packed = db.spark.read.parquet(db._path("index_packed"))
    res = quantization.two_stage_search(db.embeddings(), qv, k=5, packed_df=packed)
    assert res.head()["vec_id"] == 0


def test_dimension_validation_rejects_mismatch(db, spark):
    """Reference src/index.rs:165-175: a batch with the wrong embedding
    dimension must be rejected before any write."""
    bad = spark.createDataFrame(
        [(9999, [0.1, 0.2, 0.3])], "vec_id long, embedding array<double>"
    )
    before = db.stats()["vector_count"]
    with pytest.raises(ValueError, match="dimension mismatch"):
        db.add_documents(
            spark.createDataFrame([(9999, "t", "en", "s", 1)],
                                  "doc_id long, text string, lang string, source string, n_chars long"),
            bad,
        )
    assert db.stats()["vector_count"] == before  # nothing written


def test_dimension_validation_accepts_match(db, spark, emb):
    dim = len(emb.head()["embedding"])
    ok = spark.createDataFrame(
        [(9999, [0.1] * dim)], "vec_id long, embedding array<double>"
    )
    docs_upd = spark.createDataFrame(
        [(9999, "new doc", "en", "s", 7)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    db.add_documents(docs_upd, ok)
    assert db.get_document(9999) is not None


def test_dimension_validation_explicit_config(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_dim_")
    try:
        inst = GrapeVectorDB(spark, d, dimension=16)
        with pytest.raises(ValueError, match="expected 16"):
            inst.add_documents(docs, emb)  # fixture vectors are 64-dim
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_learned_fusion_strategy(db, spark):
    """Feedback log -> persisted weight table -> learned hybrid search.
    Weights must shift from the defaults and the search must still return
    a full, deduped top-k."""
    fb = spark.createDataFrame(
        [(1.0, 0.2), (2.0, 0.9), (3.0, 0.4), (4.0, 0.95)],
        "ts double, satisfaction double",
    )
    db.update_fusion_weights(fb)
    from grape_vector_db_spark.operators import fusion as fu

    q = "spark query join fast stream"
    learned = db._learned_weights(q)
    assert learned != fu.DEFAULT_TYPE_WEIGHTS[fu.classify_query(q)]

    qv = db.embeddings().head()["embedding"]
    res = db.hybrid_search(q, qv, limit=5, strategy="learned").collect()
    ids = [r["doc_id"] for r in res]
    assert len(ids) == 5 and len(set(ids)) == 5


def test_learned_fusion_falls_back_without_table(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_learn_")
    try:
        inst = GrapeVectorDB(spark, d)
        inst.add_documents(docs, emb)
        from grape_vector_db_spark.operators import fusion as fu

        q = "spark query join fast stream"
        assert inst._learned_weights(q) == fu.DEFAULT_TYPE_WEIGHTS[fu.classify_query(q)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_sq_index_build_and_planner_preference(db):
    """build_index('sq') persists the SQ8 table; the planner prefers SQ8
    over binary (magnitude-aware coarse ranking) once past brute-force."""
    from grape_vector_db_spark.plans.planner import choose_search_strategy

    db.build_index("sq")
    assert "index_sq" in db.stats()["indexes"]
    c = choose_search_strategy(10**9, has_sq=True, has_packed=True)
    assert c.strategy == "sq_two_stage"
    c2 = choose_search_strategy(10**9, has_ivf=True, has_sq=True)
    assert c2.strategy == "ivf"


def test_optimize_compacts_without_changing_data(db, docs):
    import glob

    before = {r["doc_id"] for r in db.documents().collect()}
    db.optimize(target_partitions=2)
    files = glob.glob(f"{db._dir('documents')}/part-*")
    assert len(files) == 2
    assert {r["doc_id"] for r in db.documents().collect()} == before


def test_versioned_swap_is_atomic_for_readers(db, docs):
    """VERDICT r2 item 4: a reader resolved mid-swap must see the old or
    the new table, never a partial one. Writes publish t=N+1 next to t=N
    (visible only once _SUCCESS exists) and keep the previous version for
    in-flight readers; no staging dir, no double write."""
    import glob
    import os

    n0 = docs.count()
    pinned = db.documents()  # lazy plan pinned to the current version dir

    upd = db.spark.createDataFrame(
        [(10**6, "brand new doc", "en", "test", 13)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    db.add_documents(upd)

    # the pre-swap reader still resolves (its version dir survived GC)...
    assert pinned.count() == n0
    # ...and a fresh reader sees the new version
    assert db.documents().count() == n0 + 1

    # every visible version is fully committed; nothing half-written
    vdirs = glob.glob(f"{db.base}/documents/t=*")
    assert 1 <= len(vdirs) <= 2
    assert all(os.path.exists(f"{v}/_SUCCESS") for v in vdirs)
    # the old staging layout must be gone for good
    assert not glob.glob(f"{db.base}/documents__staging")


def test_versioned_swap_gc_keeps_two_versions(db):
    for i in range(4):
        upd = db.spark.createDataFrame(
            [(2 * 10**6 + i, f"doc {i}", "en", "t", 5)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        db.add_documents(upd)
    from grape_vector_db_spark.sources.tables import table_versions

    vs = table_versions(db.spark, db._path("documents"))
    assert len(vs) == 2  # keep=2: current + one for in-flight readers
    assert vs[-1] - vs[-2] == 1


def test_legacy_flat_table_migrates_on_first_write(spark, docs):
    """A user-created flat parquet table is readable as-is; the first
    upsert publishes t=1 and removes the shadowed root-level files."""
    import glob
    import shutil
    import tempfile

    from grape_vector_db_spark.db import GrapeVectorDB

    d = tempfile.mkdtemp(prefix="gvdb_flat_")
    try:
        docs.write.mode("overwrite").parquet(f"{d}/documents")
        inst = GrapeVectorDB(spark, d)
        n0 = inst.documents().count()
        assert n0 == docs.count()
        upd = spark.createDataFrame(
            [(3 * 10**6, "migrated", "en", "t", 8)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        inst.add_documents(upd)
        assert inst.documents().count() == n0 + 1
        assert glob.glob(f"{d}/documents/t=*")
        assert not glob.glob(f"{d}/documents/part-*")  # flat files GC'd
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_add_documents_refreshes_indexes(db, spark, docs, emb):
    """Insert-time index maintenance: after add_documents with existing
    ivf/packed/sq indexes, each index must equal a from-scratch rebuild
    (the reference rebuilds per insert; we refresh per batch in
    O(batch) with the same end state)."""
    from grape_vector_db_spark.operators import ann, quantization

    db.build_index("ivf", nlist=4, max_iter=2)
    db.build_index("binary")
    db.build_index("sq")
    cents, _ = ivf_pair(db)

    # batch: one UPDATED vector (id 5 gets id 77's embedding) + one new
    new_docs = spark.createDataFrame(
        [(5, "updated doc"), (10**6, "brand new doc")],
        "doc_id long, text string",
    )
    moved = emb.where(F.col("vec_id") == 77).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    db.add_documents(new_docs, moved.unionByName(fresh))

    merged = db.embeddings()
    # ivf: grown index == bulk re-assignment over the merged corpus with
    # the SAME frozen centroids (compare on placement; the facade's
    # inverted-list layout also carries the vector column)
    _, got = ivf_pair(db)
    want = ann.ivf_add(merged, cents)
    got = got.select("id", "cluster")
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # packed / sq: refreshed tables == full re-encode of the merged corpus
    for table, encode in (
        ("index_packed", quantization.pack_bits),
        ("index_sq", quantization.sq_quantize),
    ):
        got_t = db._read(table)
        want_t = encode(merged, "vec_id", db.vec_col)
        assert got_t.count() == want_t.count()
        assert got_t.exceptAll(want_t).count() == 0


def test_delete_cascades_to_embeddings_and_indexes(db, emb):
    """Deleting documents must also drop their vectors and index entries
    (the reference removes store row + index entry together) — otherwise
    searches keep returning dead ids."""
    from pyspark.sql import functions as F

    db.build_index("ivf", nlist=4, max_iter=2)
    db.build_index("binary")
    n_emb = db.embeddings().count()
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    assert db.search(vector=qv, limit=5).head()["vec_id"] == 3

    db.delete_documents("doc_id = 3")
    assert db.embeddings().count() == n_emb - 1
    assert db.embeddings().where("vec_id = 3").count() == 0
    ids = [r["vec_id"] for r in db.search(vector=qv, limit=5).collect()]
    assert 3 not in ids
    _, assigned = ivf_pair(db)
    assert assigned.where("id = 3").count() == 0
    assert db._read("index_packed").where("vec_id = 3").count() == 0

def test_duplicate_id_batch_leaves_one_index_row_per_id(db, spark, emb):
    """A batch carrying the same vec_id twice (an explicitly supported
    client shape — the merge collapses it to one winner row) must leave
    exactly ONE posting/encoding per id in every index, and that encoding
    must be the WINNER vector's — not a phantom row for the loser vector
    that no longer exists in the embeddings table."""
    from grape_vector_db_spark.operators import quantization

    db.build_index("ivf", nlist=4, max_iter=2)
    db.build_index("binary")
    db.build_index("sq")
    cents, _ = ivf_pair(db)

    dup_docs = spark.createDataFrame(
        [(5, "dup a"), (5, "dup b")], "doc_id long, text string"
    )
    dup_emb = emb.where(F.col("vec_id").isin(77, 99)).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    assert dup_emb.count() == 2
    db.add_documents(dup_docs, dup_emb)

    merged = db.embeddings()
    assert merged.where("vec_id = 5").count() == 1
    _, assigned = ivf_pair(db)
    assert assigned.where("id = 5").count() == 1
    for table, encode in (
        ("index_packed", quantization.pack_bits),
        ("index_sq", quantization.sq_quantize),
    ):
        got_t = db._read(table)
        assert got_t.where("vec_id = 5").count() == 1, table
        # encoding equals a re-encode of the surviving embedding row
        want_t = encode(merged.where("vec_id = 5"), "vec_id", db.vec_col)
        assert got_t.where("vec_id = 5").exceptAll(want_t).count() == 0, table

def test_hybrid_search_with_filter_gates_every_leg(db, emb, docs):
    """Filtered hybrid: every returned doc passes the filter, and the
    legs were PRE-filtered (each leg's over-fetch spent on returnable
    docs), so the fused list fills up to the filtered population."""
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    flt = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}
    de_ids = {r["doc_id"] for r in docs.where("lang = 'de'").collect()}
    for strat in ("rrf", "linear", "normalized"):
        rows = db.hybrid_search(
            "vector index merge", qv, limit=5, strategy=strat, filter=flt
        ).collect()
        assert rows, strat
        assert {r["doc_id"] for r in rows} <= de_ids, strat
    # unfiltered still works and can return non-de docs
    allrows = db.hybrid_search("vector index merge", qv, limit=10).collect()
    assert {r["doc_id"] for r in allrows} - de_ids


def test_graph_index_update_batch_stays_exact(db, spark, emb):
    """UPDATE batches must leave the graph index equal to a full rebuild
    over the post-merge corpus (ADVICE r7: knn_graph_add's insert-only
    exactness let stale (src, updated_dst, old_cosine) edges survive
    beside the freshly scored ones — duplicate pairs with conflicting
    cosines evicting legitimate kth neighbors). The facade detects
    update batches and routes them through the full retrain."""
    from grape_vector_db_spark.operators import ann

    db.build_index("graph", k=4)

    # batch: one UPDATED vector (id 5 gets id 77's embedding) + one new
    new_docs = spark.createDataFrame(
        [(5, "moved doc"), (10**6, "fresh doc")], "doc_id long, text string"
    )
    moved = emb.where(F.col("vec_id") == 77).select(
        F.lit(5).cast("long").alias("vec_id"), "embedding"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    db.add_documents(new_docs, moved.unionByName(fresh))

    got = db._read("index_graph")
    # no duplicate (src, dst) pairs anywhere
    assert (
        got.groupBy("src", "dst").count().where("count > 1").count() == 0
    )
    want = ann.knn_graph(db.embeddings(), k=4, id_col="vec_id",
                         vec_col=db.vec_col)
    g = got.select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    w = want.select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    assert g.count() == w.count()
    assert g.exceptAll(w).count() == 0


def test_graph_index_insert_batch_uses_incremental_path(db, spark, emb, monkeypatch):
    """Insert-only batches keep the O(batch) incremental path (the
    update-detection probe must not false-positive on fresh ids) and
    still land exactly on the rebuild."""
    from grape_vector_db_spark.operators import ann

    db.build_index("graph", k=4)
    rebuilds = {"n": 0}
    real = ann.knn_graph

    def counting(*a, **kw):
        rebuilds["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(ann, "knn_graph", counting)
    new_docs = spark.createDataFrame(
        [(10**6, "fresh doc")], "doc_id long, text string"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    db.add_documents(new_docs, fresh)
    assert rebuilds["n"] == 0, "insert-only batch must not trigger retrain"
    monkeypatch.setattr(ann, "knn_graph", real)

    got = db._read("index_graph")
    want = real(db.embeddings(), k=4, id_col="vec_id", vec_col=db.vec_col)
    g = got.select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    w = want.select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    assert g.count() == w.count()
    assert g.exceptAll(w).count() == 0
