"""Round-10 operator tests: Match leaves served from the text inverted
index, per-element array group-by in search_groups, score-ordered scroll
(compound keyset cursor), cached search_groups/scroll, text-arm
hydration, schema-evolution survival, and the fresh-DB probe fix."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import filters

FLT_EN = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_r10_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def tagged_db(spark, docs, emb):
    """A store whose documents carry a derived array column (tags =
    [lang, source]) — the array-group-by fixtures."""
    d = tempfile.mkdtemp(prefix="gvdb_r10tag_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(
        docs.withColumn("tags", F.array(F.col("lang"), F.col("source"))), emb
    )
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _qv(emb, vid=3):
    return [float(x) for x in emb.where(F.col("vec_id") == vid).head()["embedding"]]


class TestMatchLeaves:
    """Match{field,text} (ref:src/types.rs:203 — declared, never
    evaluated by the reference; semantics follow the public MatchText
    contract: every kept token must be a token of the field) served from
    the build_index('text') inverted index inside filter trees."""

    def test_match_route_equals_predicate_route(self, db, emb):
        flt = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "match", "field": "text", "text": "vector query"},
            ]
        }
        qv = _qv(emb)
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        db.build_index("payload", columns=["lang"])
        db.build_index("text")
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        assert after == before and after
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        assert "documents" not in plan
        assert "index_terms" in plan

    def test_match_only_tree_needs_no_payload_index(self, db, emb):
        """A tree of ONLY match leaves routes on the text index alone."""
        flt = {"must": [{"type": "match", "field": "text", "text": "vector"}]}
        qv = _qv(emb)
        before = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        }
        db.build_index("text")
        after = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        }
        assert after == before and after
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        assert "documents" not in plan

    def test_match_in_should_group_unions(self, db, emb):
        flt = {
            "should": [
                {"type": "match", "field": "text", "text": "vector"},
                {"type": "match", "field": "text", "text": "merge"},
            ]
        }
        qv = _qv(emb)
        before = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        }
        db.build_index("text")
        after = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        }
        assert after == before and after
        assert "documents" not in _plan(
            db.search(vector=qv, limit=10, filter=flt)
        )

    def test_unservable_match_shapes_fall_back(self, db, emb):
        """match on a non-indexed-text field and stopwords-only text
        keep the docs-predicate route — and still answer correctly."""
        db.build_index("text")
        qv = _qv(emb)
        for flt in (
            {"must": [{"type": "match", "field": "lang", "text": "en"}]},
            {"must": [{"type": "match", "field": "text", "text": "the of and"}]},
        ):
            assert db._gate(flt).tree is None, flt
            plan = _plan(db.search(vector=qv, limit=5, filter=flt))
            assert "documents" in plan, flt

    def test_must_not_match_serves_as_complement(self, db, emb):
        """NOT(match) = the id-column complement of the token-probe
        intersection: the documents scan in the route reads ONLY the id
        (and null-gate text) columns — the corpus is never re-tokenized
        — and results equal the predicate route exactly."""
        flt = {
            "must": [{"type": "equals", "field": "lang", "value": "en"}],
            "must_not": [
                {"type": "match", "field": "text", "text": "vector query"}
            ],
        }
        qv = _qv(emb)
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        db.build_index("payload", columns=["lang"])
        db.build_index("text")
        assert db._gate(flt).tree is not None
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        assert after == before and after
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        assert "index_terms" in plan
        # the tokenizer never appears in the served plan (the fallback
        # plan is full of array_contains/transform over tokens)
        assert "array_contains" not in plan

    def test_no_text_index_means_no_match_route(self, db):
        flt = {"must": [{"type": "match", "field": "text", "text": "vector"}]}
        assert db._gate(flt).tree is None

    def test_match_zero_pre_search_jobs(self, db, emb):
        db.build_index("payload", columns=["lang"])
        db.build_index("text")
        flt = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "match", "field": "text", "text": "vector query"},
            ]
        }
        qv = _qv(emb)
        assert db.search(vector=qv, limit=5, filter=flt).collect()  # warm
        sc = db.spark.sparkContext
        sc.setJobGroup("match-pin", "match-pin")
        try:
            df = db.search(vector=qv, limit=5, filter=flt)
            pc = db.search_plan(filter=flt)
        finally:
            sc.setJobGroup("match-pin-done", "done")
        jobs = list(sc.statusTracker().getJobIdsForGroup("match-pin"))
        assert jobs == [], f"match route ran pre-search jobs: {jobs}"
        assert "posting" in pc.reason
        assert df.collect()

    def test_text_index_refresh_on_upsert_and_delete(self, db, spark, emb):
        db.build_index("text")
        flt = {
            "must": [{"type": "match", "field": "text", "text": "xylophone"}]
        }
        qv = _qv(emb)
        assert db.search(vector=qv, limit=5, filter=flt).count() == 0
        vid = int(db.documents().orderBy("doc_id").head()["doc_id"])
        upd = spark.createDataFrame(
            [(vid, "xylophone zebra text", None, None, None)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        db.add_documents(upd)
        hits = {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=flt).collect()
        }
        assert hits == {vid}
        db.delete_documents(f"doc_id = {vid}")
        assert db.search(vector=qv, limit=5, filter=flt).count() == 0

    def test_match_selectivity_from_df_histogram(self, db):
        db.build_index("text")
        st = db._table_stats("index_terms")
        assert st["text_col"] == "text" and st["df_top"]
        n = int(st["doc_rows"])
        flt = {"must": [{"type": "match", "field": "text", "text": "vector"}]}
        gate = db._gate(flt)
        assert gate.source == "sidecar"
        sel = gate.selectivity
        if "vector" in st["df_top"]:
            assert abs(sel - st["df_top"]["vector"] / n) < 1e-12
        else:
            assert sel <= st["df_cap"] / n + 1e-12

    def test_backup_restore_rebuilds_text_index(self, db, spark):
        db.build_index("text")
        bdir = tempfile.mkdtemp(prefix="gvdb_r10_bk_")
        ddir = tempfile.mkdtemp(prefix="gvdb_r10_rs_")
        try:
            manifest = db.backup(bdir)
            assert {"kind": "text", "column": "text"} in manifest["indexes"]
            fresh = GrapeVectorDB(spark, ddir)
            fresh.restore(bdir)
            assert fresh._has("index_terms")
            flt = {
                "must": [{"type": "match", "field": "text", "text": "vector"}]
            }
            assert fresh._gate(flt).tree is not None
        finally:
            shutil.rmtree(bdir, ignore_errors=True)
            shutil.rmtree(ddir, ignore_errors=True)


class TestSearchGroupsArray:
    def test_posting_route_groups_per_element(self, tagged_db, docs, emb):
        tagged_db.build_index("payload", columns=["tags"])
        qv = _qv(emb)
        got = tagged_db.search_groups(qv, "tags", limit=3, group_size=2)
        plan = _plan(got)
        assert "documents" not in plan  # posting rows ARE the pairs
        rows = got.collect()
        assert rows
        # groups are ELEMENTS, never stringified arrays
        langs = {r["lang"] for r in docs.select("lang").collect()}
        srcs = {r["source"] for r in docs.select("source").collect()}
        for r in rows:
            assert r["group"] in langs | srcs, r["group"]

    def test_docs_fallback_explodes_matches_posting_route(
        self, tagged_db, emb
    ):
        qv = _qv(emb)
        fallback = tagged_db.search_groups(
            qv, "tags", limit=3, group_size=2
        ).collect()
        tagged_db.build_index("payload", columns=["tags"])
        posting = tagged_db.search_groups(
            qv, "tags", limit=3, group_size=2
        ).collect()
        key = lambda r: (r["group"], r["vec_id"])  # noqa: E731
        assert sorted(map(key, fallback)) == sorted(map(key, posting))
        assert fallback

    def test_doc_with_duplicate_elements_counts_once(self, spark):
        d = tempfile.mkdtemp(prefix="gvdb_r10dup_")
        try:
            inst = GrapeVectorDB(spark, d)
            docs = spark.createDataFrame(
                [(1, "a", ["x", "x", "y"]), (2, "b", ["x"])],
                "doc_id long, text string, tags array<string>",
            )
            emb = spark.createDataFrame(
                [(1, [1.0, 0.0]), (2, [0.9, 0.1])],
                "vec_id long, embedding array<double>",
            )
            inst.add_documents(docs, emb)
            rows = inst.search_groups(
                [1.0, 0.0], "tags", limit=5, group_size=5
            ).collect()
            xg = [r for r in rows if r["group"] == "x"]
            assert {r["vec_id"] for r in xg} == {1, 2}
            assert len(xg) == 2  # doc 1 appears ONCE in group x
        finally:
            shutil.rmtree(d, ignore_errors=True)


class TestScrollByField:
    def test_pages_reconstruct_value_order(self, db, docs):
        want = [
            (r["n_chars"], r["doc_id"])
            for r in docs.where("lang = 'en' and n_chars is not null")
            .orderBy("n_chars", "doc_id")
            .collect()
        ]
        got, cursor = [], None
        while True:
            page = db.scroll(
                filter=FLT_EN, limit=7, order_by="n_chars", cursor=cursor
            ).collect()
            if not page:
                break
            got.extend((r["n_chars"], r["doc_id"]) for r in page)
            cursor = (page[-1]["n_chars"], page[-1]["doc_id"])
        assert got == want

    def test_posting_route_pushes_keyset_predicate(self, db, docs):
        db.build_index("payload", columns=["lang", "n_chars"])
        df = db.scroll(
            filter=FLT_EN, limit=7, order_by="n_chars", cursor=(250, 100)
        )
        plan = _plan(df)
        assert "index_payload" in plan
        assert "PushedFilters" in plan and "value_num" in plan
        # posting route == fallback route, row for row
        fresh_db_rows = [
            (r["n_chars"], r["doc_id"]) for r in df.collect()
        ]
        fallback = [
            (r["n_chars"], r["doc_id"])
            for r in docs.where(
                "lang = 'en' and n_chars is not null and "
                "(n_chars > 250 or (n_chars = 250 and doc_id > 100))"
            )
            .orderBy("n_chars", "doc_id")
            .limit(7)
            .collect()
        ]
        assert fresh_db_rows == fallback

    def test_bad_compound_cursor_raises(self, db):
        with pytest.raises(ValueError, match="compound"):
            db.scroll(order_by="n_chars", cursor=250)

    def test_string_field_posting_route(self, db, docs):
        """String sort fields page from the posting directory on the
        `value` column (the sort/stats key for non-numeric fields)."""
        db.build_index("payload", columns=["lang"])
        df = db.scroll(limit=5, order_by="lang", cursor=("en", 10**9))
        plan = _plan(df)
        assert "index_payload" in plan
        want = [
            (r["lang"], r["doc_id"])
            for r in docs.where("lang is not null and lang > 'en'")
            .orderBy("lang", "doc_id")
            .limit(5)
            .collect()
        ]
        assert [(r["lang"], r["doc_id"]) for r in df.collect()] == want

    def test_descending_walk_reconstructs(self, db, docs):
        want = [
            (r["n_chars"], r["doc_id"])
            for r in docs.where("lang = 'en' and n_chars is not null")
            .orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
            .collect()
        ]
        got, cursor = [], None
        while True:
            page = db.scroll(
                filter=FLT_EN, limit=7, order_by="n_chars",
                cursor=cursor, descending=True,
            ).collect()
            if not page:
                break
            got.extend((r["n_chars"], r["doc_id"]) for r in page)
            cursor = (page[-1]["n_chars"], page[-1]["doc_id"])
        assert got == want


class TestCachedEndpoints:
    def test_search_groups_cached_hits_and_mutation_misses(
        self, db, spark, emb
    ):
        qv = _qv(emb)
        a = db.search_groups_cached(
            vector=qv, group_by="lang", limit=3, group_size=2
        )
        b = db.search_groups_cached(
            vector=qv, group_by="lang", limit=3, group_size=2
        )
        assert a is b
        nid = 10**6 + 7
        db.add_documents(
            spark.createDataFrame(
                [(nid, "mutation", "en", "web", 8)],
                "doc_id long, text string, lang string, source string, "
                "n_chars long",
            ),
            spark.createDataFrame(
                [(nid, qv)], "vec_id long, embedding array<double>"
            ),
        )
        c = db.search_groups_cached(
            vector=qv, group_by="lang", limit=3, group_size=2
        )
        assert c is not b
        assert nid in {r["vec_id"] for r in c.collect()}

    def test_scroll_cached_hits_and_mutation_misses(self, db, spark):
        a = db.scroll_cached(filter=FLT_EN, limit=5, cursor=10)
        assert db.scroll_cached(filter=FLT_EN, limit=5, cursor=10) is a
        # a different page is a different key
        assert db.scroll_cached(filter=FLT_EN, limit=5, cursor=11) is not a
        first = a.head()["doc_id"]
        db.delete_documents(f"doc_id = {first}")
        after = db.scroll_cached(filter=FLT_EN, limit=5, cursor=10)
        assert after is not a
        assert first not in {r["doc_id"] for r in after.collect()}


def test_facet_and_count_compose_with_match_filters(db, docs):
    """facet/count over a match-filtered tree ride the same posting
    algebra — free composition from the shared filter gate."""
    db.build_index("payload", columns=["source"])
    db.build_index("text")
    flt = {"must": [{"type": "match", "field": "text", "text": "vector"}]}
    assert db._gate(flt).tree is not None
    got = {
        (r["value"], r["count"])
        for r in db.facet("source", filter=flt, limit=100).collect()
    }
    want = {
        (r["source"], r["cnt"])
        for r in docs.where(filters.condition_to_column(flt["must"][0]))
        .where("source is not null")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert got == want and got
    n = db.count(filter=flt)
    assert n == docs.where(
        filters.condition_to_column(flt["must"][0])
    ).count()


def test_warm_terms_promotes_to_persisted_index(db):
    """With build_index('text') present, the hybrid sparse leg reads the
    PERSISTED inverted index instead of re-tokenizing into a session
    cache."""
    before, lengths = db._warm_terms()
    assert lengths is not None  # the session cache carries per-doc lengths
    db.build_index("text")
    after, lengths = db._warm_terms()
    assert "index_terms" in _plan(after) and lengths is None
    key = lambda r: (r["doc_id"], r["term"], round(r["tf"], 9))  # noqa: E731
    assert sorted(map(key, after.collect())) == sorted(
        map(key, before.collect())
    )
    # the hybrid fan-out still works end-to-end on the promoted leg
    qv = [1.0] * len(
        db.embeddings().head()["embedding"]
    )
    assert db.hybrid_search("vector index", qv, limit=5).count() > 0


def test_search_groups_with_documents_hydrates(db, emb):
    qv = _qv(emb)
    bare = db.search_groups(qv, "lang", limit=3, group_size=2).collect()
    rows = db.search_groups(
        qv, "lang", limit=3, group_size=2, with_documents=True
    ).collect()
    assert {(r["group"], r["doc_id"]) for r in rows} == {
        (r["group"], r["vec_id"]) for r in bare
    }
    assert all(r["text"] is not None for r in rows)
    # group-best ordering preserved through hydration
    assert [(r["group"], r["rank_in_group"]) for r in rows] == [
        (r["group"], r["rank_in_group"]) for r in bare
    ]


def test_scroll_with_vectors_attaches_embedding(db, emb):
    page = db.scroll(filter=FLT_EN, limit=5, with_vectors=True).collect()
    assert len(page) == 5
    for r in page:
        want = emb.where(F.col("vec_id") == r["doc_id"]).head()["embedding"]
        assert list(r["embedding"]) == list(want)
    # order_by variant keeps the value order
    page2 = db.scroll(
        filter=FLT_EN, limit=5, order_by="n_chars", with_vectors=True
    ).collect()
    assert [r["n_chars"] for r in page2] == sorted(
        r["n_chars"] for r in page2
    )
    assert all(r["embedding"] is not None for r in page2)


def test_example_endpoints_hydrate_uniformly(db, emb):
    """search_batch / recommend / discover / context_search all hydrate
    through the shared broadcast id-join: same ids as the bare call,
    document columns present, endpoint ordering preserved."""
    vecs = [_qv(emb, 3), _qv(emb, 7)]
    cases = [
        (lambda **kw: db.search_batch(vecs, limit=4, **kw),
         lambda r: (r.get("query_id"), r.get("rank"))),
        (lambda **kw: db.recommend([1, 2], [3], limit=4, **kw),
         lambda r: (-r["score"],)),
        (lambda **kw: db.discover(0, [(1, 3), (2, 4)], limit=4, **kw),
         lambda r: (-r["votes"], -r["score"])),
        (lambda **kw: db.context_search([(1, 3)], limit=4, **kw),
         lambda r: (-r["score"],)),
    ]
    for call, keyfn in cases:
        bare = [r.asDict() for r in call().collect()]
        hyd = [r.asDict() for r in call(with_documents=True).collect()]
        assert {r["doc_id"] for r in hyd} == {r["vec_id"] for r in bare}
        assert all(r["text"] is not None for r in hyd)
        assert [keyfn(r) for r in hyd] == [keyfn(r) for r in bare]


def test_text_arm_with_documents_hydrates(db):
    rows = db.search(text="vector index", limit=5, with_documents=True).collect()
    assert rows
    for r in rows:
        assert r["text"] is not None and r["score"] > 0


def test_dropped_column_survives_delete_cascade(db, spark, docs):
    """ADVICE r9: a payload column dropped by a docs re-publish must not
    KeyError the delete cascade; its postings drop with it."""
    db.build_index("payload", columns=["lang", "source"])
    # re-publish documents WITHOUT source (schema evolution)
    db._publish("documents", db.documents().drop("source"))
    db.delete_documents("lang = 'zh'")  # cascade re-publishes the index
    assert db._payload_columns() == ["lang"]
    assert (
        db._read("index_payload")
        .where(F.col("field") == "source")
        .count()
        == 0
    )


def test_fresh_db_first_insert_never_probes_embeddings(spark, docs, emb):
    """The r9 listener ERROR root cause: a fresh DB's first insert
    probe-read the not-yet-existing embeddings table (caught in Python,
    but the FAILED QueryExecution hit the ObservationManager listener).
    The probe is now existence-gated — embeddings() must not be called
    before the table exists."""
    d = tempfile.mkdtemp(prefix="gvdb_r10probe_")
    try:
        inst = GrapeVectorDB(spark, d)
        calls = []
        orig = GrapeVectorDB.embeddings

        def spy(self):
            calls.append(self._has("embeddings"))
            return orig(self)

        GrapeVectorDB.embeddings = spy
        try:
            inst.add_documents(docs, emb)
        finally:
            GrapeVectorDB.embeddings = orig
        assert all(calls), "embeddings() was read before the table existed"
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_numeric_equality_probe_aligns_with_value_num(db, emb):
    """ADVICE r9: equality probes on numeric fields carry a value_num
    conjunct so the pushed predicate aligns with the directory's sort/
    stats column — and results are unchanged."""
    db.build_index("payload", columns=["n_chars"])
    nc = int(db.documents().where("n_chars is not null").head()["n_chars"])
    flt = {"must": [{"type": "equals", "field": "n_chars", "value": nc}]}
    qv = _qv(emb)
    df = db.search(vector=qv, limit=5, filter=flt)
    plan = _plan(df)
    assert "value_num" in plan
    want = {
        r["doc_id"]
        for r in db.documents().where(f"n_chars = {nc}").collect()
    }
    assert {r["vec_id"] for r in df.collect()} <= want and df.count() > 0
