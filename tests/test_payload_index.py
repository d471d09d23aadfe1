"""Payload posting index: build_index('payload'), the posting-
intersection filtered-search route, histogram-exact zero-job
selectivity, and lifecycle (refresh, metadata moves, delete cascade,
backup/restore).

The reference evaluates every payload condition by scanning the store
(ref:src/filtering.rs:439-488); the posting table is the structure that
turns the equality case into an index probe — the per-field keyword
index every serving vector DB grows."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators.filters import (
    Leaf,
    Node,
    payload_probe_tree,
)

FLT_EN = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
FLT_EN_SRC = {
    "must": [
        {"type": "equals", "field": "lang", "value": "en"},
        {"type": "equals", "field": "source", "value": "src13"},
    ]
}


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_payload_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _eq(field, value, kind="equals") -> dict:
    return {"must": [{"type": kind, "field": field, "value": value}]}


def _sidecar_selectivity(db, flt) -> float:
    """The filter gate's selectivity, which the index sidecars must have
    funded (not the sampled fallback)."""
    gate = db._gate(flt)
    assert gate.source == "sidecar", flt
    return gate.selectivity


class TestPayloadProbeTree:
    def test_rejects_empty_trees_and_null_values(self):
        assert payload_probe_tree({}) is None
        assert payload_probe_tree({"must": []}) is None
        # null value: the general predicate path owns null semantics
        assert (
            payload_probe_tree(
                {"must": [{"type": "equals", "field": "lang", "value": None}]}
            )
            is None
        )

    def test_negation_normal_form(self):
        en, src = FLT_EN_SRC["must"]
        lte = {"type": "range", "field": "n_chars", "lte": 150}
        assert payload_probe_tree(FLT_EN_SRC) == Node(
            "and",
            (
                Leaf("lang", "en", "equals", False),
                Leaf("source", "src13", "equals", False),
            ),
        )
        # a must_not leaf comes out negated
        assert payload_probe_tree({"must_not": [en]}) == Node(
            "and", (Leaf("lang", "en", "equals", True),)
        )
        # a negated nested tree is De-Morganed down to its leaves:
        # NOT(en AND (lte OR src13) AND NOT en)
        #   = NOT en OR (NOT lte AND NOT src13) OR en
        sub = {"must": [en], "should": [lte, src], "must_not": [en]}
        rng = {"gte": None, "lte": 150}
        assert payload_probe_tree({"must_not": [sub]}) == Node(
            "and",
            (
                Node(
                    "or",
                    (
                        Leaf("lang", "en", "equals", True),
                        Node(
                            "and",
                            (
                                Leaf("n_chars", rng, "range", True),
                                Leaf("source", "src13", "equals", True),
                            ),
                        ),
                        Leaf("lang", "en", "equals", False),
                    ),
                ),
            ),
        )


class TestPayloadRoute:
    def test_single_equality_matches_semi_join_route(self, db, emb):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        ]
        db.build_index("payload", columns=["lang", "source"])
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        ]
        assert after == before

    def test_conjunction_matches_semi_join_route(self, db, emb):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN_SRC).collect()
        ]
        db.build_index("payload", columns=["lang", "source"])
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=FLT_EN_SRC).collect()
        ]
        assert after == before and after

    def test_plan_skips_documents_scan(self, db, emb):
        """The payload route must filter via posting directories —
        PartitionFilters on field, and NO documents read anywhere in the
        vector arm (the wide-table scan is exactly what the index
        exists to skip)."""
        db.build_index("payload", columns=["lang", "source"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        plan = _plan(db.search(vector=qv, limit=10, filter=FLT_EN_SRC))
        assert "PartitionFilters" in plan and "field" in plan
        assert "documents" not in plan
        assert "index_payload" in plan

    def test_uncovered_field_keeps_general_route(self, db, emb):
        db.build_index("payload", columns=["lang"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        plan = _plan(db.search(vector=qv, limit=10, filter=FLT_EN_SRC))
        assert "documents" in plan  # source is not posting-indexed

    def test_non_servable_tree_keeps_general_route(self, db, emb):
        """Leaves the posting index cannot serve — a match leaf with no
        text index built (and whose text keeps zero tokens anyway), or a
        range over a STRING field (string order can't serve numeric
        ranges and vice versa) — keep the docs-predicate route."""
        db.build_index("payload", columns=["lang", "n_chars"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        for flt in (
            {
                "must": [
                    {"type": "equals", "field": "lang", "value": "en"},
                    {"type": "match", "field": "lang", "text": "e"},
                ]
            },
            {"must": [{"type": "range", "field": "lang", "gte": "a"}]},
        ):
            plan = _plan(db.search(vector=qv, limit=10, filter=flt))
            assert "documents" in plan, flt

    def test_value_matching_nothing_returns_empty(self, db, emb):
        db.build_index("payload", columns=["lang"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        flt = {"must": [{"type": "equals", "field": "lang", "value": "xx"}]}
        assert db.search(vector=qv, limit=5, filter=flt).collect() == []


class TestHistogramSelectivity:
    def test_single_equality_is_exact(self, db, docs):
        db.build_index("payload", columns=["lang", "source"])
        got = _sidecar_selectivity(db, FLT_EN)
        want = docs.where("lang = 'en'").count() / docs.count()
        assert abs(got - want) < 1e-9

    def test_conjunction_multiplies_independent_fractions(self, db, docs):
        db.build_index("payload", columns=["lang", "source"])
        n = docs.count()
        got = _sidecar_selectivity(db, FLT_EN_SRC)
        want = (docs.where("lang = 'en'").count() / n) * (
            docs.where("source = 'src13'").count() / n
        )
        assert abs(got - want) < 1e-9

    def test_missing_value_floors_not_zero(self, db, docs):
        db.build_index("payload", columns=["lang"])
        got = _sidecar_selectivity(db, _eq("lang", "xx"))
        assert 0 < got <= 0.5 / docs.count() + 1e-12

    def test_wide_field_stores_distinct_count_only(self, db, docs):
        """n_chars blows the histogram bound: the sidecar must record
        n_distinct and the planner estimate 1/n_distinct."""
        db.build_index("payload", columns=["lang", "n_chars"])
        st = db._table_stats("index_payload")
        h = st["histograms"]["n_chars"]
        assert set(h) == {"n_distinct"}
        nd = docs.select("n_chars").where("n_chars is not null").distinct().count()
        assert h["n_distinct"] == nd
        got = _sidecar_selectivity(db, _eq("n_chars", 128))
        assert abs(got - 1.0 / nd) < 1e-12

    def test_unindexed_field_returns_none(self, db):
        db.build_index("payload", columns=["lang"])
        gate = db._gate(_eq("source", "src13"))
        assert gate.tree is None and gate.source == "sample"

    def test_payload_search_launches_zero_pre_search_jobs(self, db, emb):
        """The stats-funded-planner pin extended to the payload route:
        histogram selectivity + posting-route detection must cost zero
        Spark jobs before the search job itself."""
        db.build_index("payload", columns=["lang", "source"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        # warm: stats cache, schema reads
        assert db.search(vector=qv, limit=5, filter=FLT_EN_SRC).collect()
        sc = db.spark.sparkContext
        sc.setJobGroup("payload-pin", "payload-pin")
        try:
            df = db.search(vector=qv, limit=5, filter=FLT_EN_SRC)
            pc = db.search_plan(filter=FLT_EN_SRC)
        finally:
            sc.setJobGroup("payload-pin-done", "done")
        jobs = list(sc.statusTracker().getJobIdsForGroup("payload-pin"))
        assert jobs == [], f"payload route ran pre-search jobs: {jobs}"
        assert "payload posting index" in pc.reason
        assert df.collect()


class TestLifecycle:
    def test_metadata_move_updates_postings(self, db, spark, emb):
        db.build_index("payload", columns=["lang"])
        vid = db.documents().where("lang = 'en'").head()["doc_id"]
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).head()["embedding"]
        ]
        assert vid in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=FLT_EN).collect()
        }
        upd = spark.createDataFrame(
            [(int(vid), None, "zz", None, None)],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        db.add_documents(upd)
        assert vid not in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=FLT_EN).collect()
        }
        flt_zz = {"must": [{"type": "equals", "field": "lang", "value": "zz"}]}
        assert vid in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=5, filter=flt_zz).collect()
        }
        # the histogram moved with it (planner stays truthful)
        assert _sidecar_selectivity(db, flt_zz) >= 1.0 / (
            db._row_count("documents") + 1
        )

    def test_insert_with_embeddings_lands_in_postings(self, db, spark, emb):
        db.build_index("payload", columns=["lang"])
        nid = 10**6 + 11
        nvec = emb.head()["embedding"]
        db.add_documents(
            spark.createDataFrame(
                [(nid, "fresh payload row", "en", "web", 17)],
                "doc_id long, text string, lang string, source string, n_chars long",
            ),
            spark.createDataFrame(
                [(nid, list(nvec))], "vec_id long, embedding array<float>"
            ),
        )
        got = db.search(
            vector=[float(x) for x in nvec], limit=3, filter=FLT_EN
        ).collect()
        assert nid in {r["vec_id"] for r in got}

    def test_delete_cascades_and_refreshes_histogram(self, db, emb):
        db.build_index("payload", columns=["lang"])
        sel0 = _sidecar_selectivity(db, FLT_EN)
        vid = db.documents().where("lang = 'en'").head()["doc_id"]
        qv = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).head()["embedding"]
        ]
        db.delete_documents(f"doc_id = {vid}")
        assert vid not in {
            r["vec_id"]
            for r in db.search(vector=qv, limit=10, filter=FLT_EN).collect()
        }
        sel1 = _sidecar_selectivity(db, FLT_EN)
        assert sel1 < sel0  # one fewer matching row, smaller corpus too

    def test_backup_restore_rebuilds_payload_index(self, db, spark, emb, tmp_path):
        db.build_index("payload", columns=["lang", "source"])
        man = db.backup(str(tmp_path / "bk"))
        assert {"kind": "payload", "columns": ["lang", "source"]} in man["indexes"]
        d2 = tempfile.mkdtemp(prefix="gvdb_payload_rest_")
        try:
            db2 = GrapeVectorDB(spark, d2)
            db2.restore(str(tmp_path / "bk"))
            assert db2._payload_columns() == ["lang", "source"]
            qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
            got = db2.search(vector=qv, limit=5, filter=FLT_EN).collect()
            want = db.search(vector=qv, limit=5, filter=FLT_EN).collect()
            assert [tuple(r) for r in got] == [tuple(r) for r in want]
        finally:
            shutil.rmtree(d2, ignore_errors=True)

    def test_stats_and_plan_surface_the_index(self, db):
        db.build_index("payload", columns=["lang"])
        st = db.stats()
        assert "index_payload" in st["indexes"]
        assert st["payload_columns"] == ["lang"]
        pc = db.search_plan(filter=FLT_EN)
        assert "payload posting index" in pc.reason

    def test_partition_layout_outranks_payload_note(self, db):
        """Single equality on the partition column: the directory-skip
        layout serves it (strictly better — it prunes the vectors, not
        just the filter), and EXPLAIN says so."""
        db.build_index("payload", columns=["lang"])
        db.build_index("partition", column="lang")
        pc = db.search_plan(filter=FLT_EN)
        assert "partition-pruned" in pc.reason
        assert "payload posting index" not in pc.reason

    def test_build_rejects_bad_columns(self, db):
        with pytest.raises(ValueError):
            db.build_index("payload")
        with pytest.raises(ValueError):
            db.build_index("payload", columns=["nope"])
        with pytest.raises(ValueError):
            db.build_index("payload", columns=["doc_id"])


def test_registry_payload_query_plan(spark):
    """payload_posting_knn must read posting directories (partition
    pruning on field), never the documents parquet, and keep the
    zero-shuffle TakeOrdered knn tail."""
    import __spark_entry__ as em

    df = em.q_payload_posting_knn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "field" in plan
    assert "documents" not in plan
    assert "TakeOrderedAndProject" in plan


class TestArrayPayload:
    """Array-typed metadata: one posting per DISTINCT element, served by
    array_contains probes (whole-array equality stays on the general
    path — per-element postings cannot answer it)."""

    FLT_TAG = {"must": [
        {"type": "array_contains", "field": "tags", "value": "en"}]}

    @pytest.fixture()
    def adb(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_arrpay_")
        inst = GrapeVectorDB(spark, d)
        # tags = [lang, source, lang]: a deliberate duplicate element to
        # prove per-doc dedup in postings and histogram
        tagged = docs.withColumn(
            "tags", F.array(F.col("lang"), F.col("source"), F.col("lang"))
        )
        inst.add_documents(tagged, emb)
        yield inst
        shutil.rmtree(d, ignore_errors=True)

    def test_contains_matches_general_route(self, adb, emb):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in adb.search(vector=qv, limit=10, filter=self.FLT_TAG).collect()
        ]
        adb.build_index("payload", columns=["tags", "source"])
        after = [
            (r["vec_id"], r["score"])
            for r in adb.search(vector=qv, limit=10, filter=self.FLT_TAG).collect()
        ]
        assert after == before and after

    def test_contains_plan_skips_documents(self, adb, emb):
        adb.build_index("payload", columns=["tags"])
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        plan = _plan(adb.search(vector=qv, limit=10, filter=self.FLT_TAG))
        assert "documents" not in plan
        assert "index_payload" in plan

    def test_mixed_contains_and_equals_probe_together(self, adb, emb):
        flt = {"must": [
            {"type": "array_contains", "field": "tags", "value": "en"},
            {"type": "equals", "field": "source", "value": "src13"},
        ]}
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in adb.search(vector=qv, limit=10, filter=flt).collect()
        ]
        adb.build_index("payload", columns=["tags", "source"])
        after = [
            (r["vec_id"], r["score"])
            for r in adb.search(vector=qv, limit=10, filter=flt).collect()
        ]
        assert after == before and after
        plan = _plan(adb.search(vector=qv, limit=10, filter=flt))
        assert "documents" not in plan

    def test_equals_on_array_field_keeps_general_route(self, adb, emb):
        adb.build_index("payload", columns=["tags"])
        assert adb._gate(_eq("tags", "en")).tree is None

    def test_contains_on_scalar_field_keeps_general_route(self, adb, emb):
        adb.build_index("payload", columns=["tags", "source"])
        assert adb._gate(_eq("source", "src1", "array_contains")).tree is None

    def test_histogram_counts_docs_not_elements(self, adb, docs):
        """The duplicated lang element must NOT double-count: the 'en'
        fraction equals the fraction of DOCS whose tags contain it."""
        adb.build_index("payload", columns=["tags"])
        got = _sidecar_selectivity(adb, _eq("tags", "en", "array_contains"))
        n = docs.count()
        want = docs.where(
            "lang = 'en' or source = 'en'"
        ).count() / n
        assert abs(got - want) < 1e-9

    def test_sidecar_records_array_fields(self, adb):
        adb.build_index("payload", columns=["tags", "source"])
        st = adb._table_stats("index_payload")
        assert st["array_fields"] == ["tags"]


class TestPayloadTreeAlgebra:
    """must/should/must_not trees of posting probes: union, intersect,
    and null-rejecting negation — all served from posting directories,
    result-identical to the general predicate path."""

    def _routes_equal(self, db, emb, flt, build_cols):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        db.build_index("payload", columns=build_cols)
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        return before, after, plan

    def test_should_union_matches_general_route(self, db, emb):
        flt = {"should": [
            {"type": "equals", "field": "lang", "value": "de"},
            {"type": "equals", "field": "lang", "value": "zh"},
        ]}
        before, after, plan = self._routes_equal(db, emb, flt, ["lang"])
        assert after == before and after
        assert "documents" not in plan

    def test_must_plus_should_intersects_union(self, db, emb):
        flt = {
            "must": [{"type": "equals", "field": "lang", "value": "en"}],
            "should": [
                {"type": "equals", "field": "source", "value": "src13"},
                {"type": "equals", "field": "source", "value": "src8"},
            ],
        }
        before, after, plan = self._routes_equal(
            db, emb, flt, ["lang", "source"]
        )
        assert after == before and after
        assert "documents" not in plan

    def test_must_not_is_null_rejecting(self, db, emb):
        flt = {"must_not": [{"type": "equals", "field": "lang", "value": "en"}]}
        before, after, plan = self._routes_equal(db, emb, flt, ["lang"])
        assert after == before and after
        assert "documents" not in plan

    def test_full_tree_all_groups(self, db, emb):
        flt = {
            "must": [{"type": "equals", "field": "lang", "value": "en"}],
            "should": [
                {"type": "equals", "field": "source", "value": "src13"},
                {"type": "equals", "field": "source", "value": "src8"},
            ],
            "must_not": [
                {"type": "equals", "field": "source", "value": "src8"}
            ],
        }
        before, after, plan = self._routes_equal(
            db, emb, flt, ["lang", "source"]
        )
        assert after == before and after
        assert "documents" not in plan

    def test_must_not_on_array_field_keeps_general_route(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_treearr_")
        try:
            adb = GrapeVectorDB(spark, d)
            adb.add_documents(
                docs.withColumn("tags", F.array(F.col("lang"))), emb
            )
            adb.build_index("payload", columns=["tags"])
            flt = {"must_not": [
                {"type": "array_contains", "field": "tags", "value": "en"}]}
            assert adb._gate(flt).tree is None
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_tree_selectivity_bounds(self, db, docs):
        db.build_index("payload", columns=["lang", "source"])
        n = docs.count()
        # should: union bound = sum of fractions (capped at 1)
        got = _sidecar_selectivity(db, {"should": [
            {"type": "equals", "field": "lang", "value": "de"},
            {"type": "equals", "field": "lang", "value": "zh"},
        ]})
        want = (
            docs.where("lang = 'de'").count()
            + docs.where("lang = 'zh'").count()
        ) / n
        assert abs(got - want) < 1e-9
        # must_not: (present - matching) / n; lang is never null here
        got = _sidecar_selectivity(db, {"must_not": [
            {"type": "equals", "field": "lang", "value": "en"}]})
        want = docs.where("lang is not null and lang <> 'en'").count() / n
        assert abs(got - want) < 1e-9

    def test_tree_search_zero_pre_search_jobs(self, db, emb):
        db.build_index("payload", columns=["lang", "source"])
        flt = {
            "must": [{"type": "equals", "field": "lang", "value": "en"}],
            "must_not": [
                {"type": "equals", "field": "source", "value": "src8"}
            ],
        }
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        assert db.search(vector=qv, limit=5, filter=flt).collect()  # warm
        sc = db.spark.sparkContext
        sc.setJobGroup("tree-pin", "tree-pin")
        try:
            df = db.search(vector=qv, limit=5, filter=flt)
            pc = db.search_plan(filter=flt)
        finally:
            sc.setJobGroup("tree-pin-done", "done")
        jobs = list(sc.statusTracker().getJobIdsForGroup("tree-pin"))
        assert jobs == [], f"tree route ran pre-search jobs: {jobs}"
        assert "posting algebra" in pc.reason
        assert df.collect()


class TestInExistsPostings:
    """in (value-set membership) and exists (field-present) leaves served
    from posting directories — `in` is a union of disjoint equality
    probes, `exists` IS the posting row (scalar fields post exactly once
    per non-null doc). Negated exists (absent) needs the corpus
    complement, which postings cannot provide — plan falls back."""

    @pytest.fixture()
    def ndb(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_inex_")
        inst = GrapeVectorDB(spark, d)
        # lang2: null for every 7th doc, so exists() is non-trivial
        withnull = docs.withColumn(
            "lang2",
            F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
                F.col("lang")
            ),
        )
        inst.add_documents(withnull, emb)
        yield inst
        shutil.rmtree(d, ignore_errors=True)

    def _routes_equal(self, db, emb, flt, build_cols):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        db.build_index("payload", columns=build_cols)
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        return before, after, plan

    def test_in_matches_general_route(self, db, emb):
        flt = {"must": [
            {"type": "in", "field": "lang", "values": ["de", "zh"]}]}
        before, after, plan = self._routes_equal(db, emb, flt, ["lang"])
        assert after == before and after
        assert "documents" not in plan

    def test_must_not_in_is_null_rejecting(self, ndb, emb):
        flt = {"must_not": [
            {"type": "in", "field": "lang2", "values": ["en", "de"]}]}
        before, after, plan = self._routes_equal(ndb, emb, flt, ["lang2"])
        assert after == before and after
        assert "documents" not in plan

    def test_exists_matches_is_not_null_route(self, ndb, emb):
        flt = {"must": [{"type": "exists", "field": "lang2"}]}
        before, after, plan = self._routes_equal(ndb, emb, flt, ["lang2"])
        assert after == before and after
        assert "documents" not in plan

    def test_must_not_exists_keeps_general_route(self, ndb, emb):
        ndb.build_index("payload", columns=["lang2"])
        flt = {"must_not": [{"type": "exists", "field": "lang2"}]}
        assert ndb._gate(flt).tree is None

    def test_in_type_mismatch_unservable(self, db):
        db.build_index("payload", columns=["lang"])
        flt = {"must": [
            {"type": "in", "field": "lang", "values": ["en", 7]}]}
        assert db._gate(flt).tree is None

    def test_in_selectivity_sums_disjoint_fractions(self, db, docs):
        db.build_index("payload", columns=["lang"])
        got = _sidecar_selectivity(db, {"must": [
            {"type": "in", "field": "lang", "values": ["de", "zh"]}]})
        n = docs.count()
        want = docs.where("lang in ('de', 'zh')").count() / n
        assert abs(got - want) < 1e-9

    def test_exists_selectivity_is_presence(self, ndb, docs):
        ndb.build_index("payload", columns=["lang2"])
        got = _sidecar_selectivity(
            ndb, {"must": [{"type": "exists", "field": "lang2"}]}
        )
        n = docs.count()
        want = ndb.documents().where("lang2 is not null").count() / n
        assert abs(got - want) < 1e-9


class TestRangePostings:
    """Range{gte,lte} leaves served from the posting index: value_num
    (the typed DOUBLE column) carries numeric order — string postings
    cannot ("9" > "10") — so a range becomes a pruned posting
    range-read, result-identical to the docs-predicate path
    (ref:src/types.rs:176-204 declares Range as a first-class filter)."""

    def _routes_equal(self, db, emb, flt, build_cols):
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        db.build_index("payload", columns=build_cols)
        after = [
            (r["vec_id"], r["score"])
            for r in db.search(vector=qv, limit=10, filter=flt).collect()
        ]
        plan = _plan(db.search(vector=qv, limit=10, filter=flt))
        return before, after, plan

    @pytest.mark.parametrize(
        "bounds",
        [{"gte": 200, "lte": 400}, {"gte": 300}, {"lte": 250}],
        ids=["both", "gte-only", "lte-only"],
    )
    def test_range_matches_general_route(self, db, emb, bounds):
        flt = {"must": [{"type": "range", "field": "n_chars", **bounds}]}
        before, after, plan = self._routes_equal(db, emb, flt, ["n_chars"])
        assert after == before and after
        assert "documents" not in plan
        assert "value_num" in plan  # the numeric posting column serves it

    def test_range_plus_equality_intersects(self, db, emb):
        flt = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "range", "field": "n_chars", "gte": 100, "lte": 500},
            ]
        }
        before, after, plan = self._routes_equal(
            db, emb, flt, ["lang", "n_chars"]
        )
        assert after == before and after
        assert "documents" not in plan

    def test_must_not_range_is_null_rejecting(self, db, emb):
        flt = {
            "must_not": [
                {"type": "range", "field": "n_chars", "gte": 0, "lte": 300}
            ]
        }
        before, after, plan = self._routes_equal(db, emb, flt, ["n_chars"])
        assert after == before and after
        assert "documents" not in plan

    def test_range_selectivity_exact_on_histogram_field(
        self, spark, docs, emb
    ):
        """A numeric field under the histogram bound: range selectivity
        sums the matching per-value counts EXACTLY."""
        d = tempfile.mkdtemp(prefix="gvdb_rangesel_")
        try:
            tagged = docs.withColumn(
                "bucket", (F.col("n_chars") % 10).cast("int")
            )
            adb = GrapeVectorDB(spark, d)
            adb.add_documents(tagged, emb)
            adb.build_index("payload", columns=["bucket"])
            n = docs.count()
            got = _sidecar_selectivity(
                adb,
                {"must": [
                    {"type": "range", "field": "bucket", "gte": 3, "lte": 6}]},
            )
            want = tagged.where("bucket between 3 and 6").count() / n
            assert abs(got - want) < 1e-9
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_range_selectivity_interpolates_on_wide_field(self, db, docs):
        """n_chars blows the histogram bound: selectivity interpolates
        uniformly over the sidecar's [min, max] — bounded, monotone, and
        1.0 for the full span."""
        db.build_index("payload", columns=["n_chars"])
        st = db._table_stats("index_payload")
        lo, hi = st["numeric_minmax"]["n_chars"]
        full = _sidecar_selectivity(
            db,
            {"must": [
                {"type": "range", "field": "n_chars", "gte": lo, "lte": hi}]},
        )
        assert abs(full - 1.0) < 1e-9
        half = _sidecar_selectivity(
            db,
            {"must": [{"type": "range", "field": "n_chars",
                       "gte": lo, "lte": (lo + hi) / 2}]},
        )
        assert 0 < half < full

    def test_should_of_ranges_unions(self, db, emb):
        """Range leaves inside should: union of two pruned range reads
        == the predicate path's OR."""
        flt = {"should": [
            {"type": "range", "field": "n_chars", "lte": 150},
            {"type": "range", "field": "n_chars", "gte": 450},
        ]}
        before, after, plan = self._routes_equal(db, emb, flt, ["n_chars"])
        assert after == before and after
        assert "documents" not in plan

    def test_mixed_in_and_range_tree(self, db, emb):
        """in + range + must_not equality in one tree, all posting-served."""
        flt = {
            "must": [
                {"type": "in", "field": "lang", "values": ["en", "de"]},
                {"type": "range", "field": "n_chars", "gte": 100},
            ],
            "must_not": [
                {"type": "equals", "field": "lang", "value": "de"}
            ],
        }
        before, after, plan = self._routes_equal(
            db, emb, flt, ["lang", "n_chars"]
        )
        assert after == before and after
        assert "documents" not in plan

    def test_range_zero_pre_search_jobs(self, db, emb):
        db.build_index("payload", columns=["lang", "n_chars"])
        flt = {
            "must": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "range", "field": "n_chars", "gte": 100},
            ]
        }
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        assert db.search(vector=qv, limit=5, filter=flt).collect()  # warm
        sc = db.spark.sparkContext
        sc.setJobGroup("range-pin", "range-pin")
        try:
            df = db.search(vector=qv, limit=5, filter=flt)
            pc = db.search_plan(filter=flt)
        finally:
            sc.setJobGroup("range-pin-done", "done")
        jobs = list(sc.statusTracker().getJobIdsForGroup("range-pin"))
        assert jobs == [], f"range route ran pre-search jobs: {jobs}"
        assert "posting" in pc.reason
        assert df.collect()

    def test_legacy_sidecar_rejects_range(self, db, emb, monkeypatch):
        """A pre-value_num sidecar (no field_types) must NOT route range
        leaves — the posting table may lack the numeric column."""
        db.build_index("payload", columns=["n_chars"])
        orig = db._table_stats

        def patched(t):
            st = orig(t)
            if t == "index_payload" and st:
                st = {k: v for k, v in st.items() if k != "field_types"}
            return st

        monkeypatch.setattr(db, "_table_stats", patched)
        flt = {"must": [{"type": "range", "field": "n_chars", "gte": 100}]}
        assert db._gate(flt).tree is None


class TestTypedLiterals:
    """Query-literal / column-type fidelity (ADVICE r8): postings store
    Spark string casts of the SOURCE type ("1.0" for a double column),
    so literals must cast THROUGH that type — a str(val) compare would
    silently return empty where the predicate path matches."""

    @pytest.fixture()
    def ddb(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_typed_")
        inst = GrapeVectorDB(spark, d)
        # price: DOUBLE with 5 distinct values 0.0/0.5/1.0/1.5/2.0 —
        # small enough for an exact histogram
        priced = docs.withColumn(
            "price", (F.col("n_chars") % 5) * F.lit(0.5)
        )
        inst.add_documents(priced, emb)
        yield inst
        shutil.rmtree(d, ignore_errors=True)

    def test_int_literal_probes_double_column(self, ddb, emb):
        """equals value 1 against a double column whose postings store
        "1.0": the posting route must match exactly what the predicate
        path matches (implicit numeric cast)."""
        flt = {"must": [{"type": "equals", "field": "price", "value": 1}]}
        qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
        before = [
            (r["vec_id"], r["score"])
            for r in ddb.search(vector=qv, limit=10, filter=flt).collect()
        ]
        ddb.build_index("payload", columns=["price"])
        after = [
            (r["vec_id"], r["score"])
            for r in ddb.search(vector=qv, limit=10, filter=flt).collect()
        ]
        assert after == before and after
        plan = _plan(ddb.search(vector=qv, limit=10, filter=flt))
        assert "documents" not in plan

    def test_histogram_lookup_matches_numerically(self, ddb, docs):
        """Selectivity for value 1 (int) on the double column must find
        the "1.0" histogram key — numeric matching, not str(val)."""
        ddb.build_index("payload", columns=["price"])
        got = _sidecar_selectivity(ddb, _eq("price", 1))
        n = docs.count()
        want = ddb.documents().where("price = 1.0").count() / n
        assert abs(got - want) < 1e-9

    def test_fractional_literal_on_int_column_unservable(self, db, emb):
        """1.5 against a BIGINT column: the predicate path's
        double-widened compare matches nothing; a truncating posting
        probe would WRONGLY match "1" — must fall back."""
        db.build_index("payload", columns=["n_chars"])
        flt = {"must": [
            {"type": "equals", "field": "n_chars", "value": 128.5}]}
        assert db._gate(flt).tree is None

    def test_integral_float_literal_on_int_column_routes(self, db, emb):
        """128.0 against BIGINT behaves as 128 on both routes."""
        db.build_index("payload", columns=["n_chars"])
        flt_f = {"must": [
            {"type": "equals", "field": "n_chars", "value": 128.0}]}
        flt_i = {"must": [
            {"type": "equals", "field": "n_chars", "value": 128}]}
        assert db._gate(flt_f).tree is not None
        a = {r["vec_id"] for r in db._gate(flt_f).ids.collect()}
        b = {r["vec_id"] for r in db._gate(flt_i).ids.collect()}
        want = {r["doc_id"] for r in db.documents()
                .where("n_chars = 128").collect()}
        assert a == b == want

    def test_numeric_literal_on_string_column_unservable(self, db):
        db.build_index("payload", columns=["lang"])
        flt = {"must": [{"type": "equals", "field": "lang", "value": 7}]}
        assert db._gate(flt).tree is None

    def test_sidecar_records_types_and_minmax(self, ddb):
        ddb.build_index("payload", columns=["price", "lang"])
        st = ddb._table_stats("index_payload")
        assert st["field_types"]["price"] == "double"
        assert st["field_types"]["lang"] == "string"
        lo, hi = st["numeric_minmax"]["price"]
        assert lo == 0.0 and hi == 2.0
        assert "lang" not in st["numeric_minmax"]


class TestCacheKeyAndCachedOps:
    """ADVICE r8: numpy vectors must not collide on truncated reprs;
    VERDICT r8 #7: the version-keyed cache also fronts hybrid_search
    and discover."""

    def test_numpy_vectors_get_distinct_keys(self):
        np = pytest.importorskip("numpy")
        a = np.linspace(0.0, 1.0, 2000)
        b = a.copy()
        b[1000] += 0.125  # same head/tail, different middle
        ka = GrapeVectorDB._cache_key_val(a)
        kb = GrapeVectorDB._cache_key_val(b)
        assert ka != kb and ka[:3] == kb[:3]

    def test_unrepresentable_kwarg_raises(self):
        with pytest.raises(TypeError):
            GrapeVectorDB._cache_key_val(object())

    def test_hybrid_and_discover_cache_hit_and_invalidate(
        self, db, emb, spark
    ):
        qv = [float(x) for x in
              emb.where(F.col("vec_id") == 3).head()["embedding"]]
        h0 = db.cache_stats["hits"]
        r1 = db.hybrid_search_cached(
            query_text="vector database", query_vector=qv, limit=5
        ).collect()
        r2 = db.hybrid_search_cached(
            query_text="vector database", query_vector=qv, limit=5
        ).collect()
        assert r2 == r1
        assert db.cache_stats["hits"] == h0 + 1
        d1 = db.discover_cached(
            target_id=1, context_pairs=[(2, 3)], limit=5
        ).collect()
        d2 = db.discover_cached(
            target_id=1, context_pairs=[(2, 3)], limit=5
        ).collect()
        assert d2 == d1
        assert db.cache_stats["hits"] == h0 + 2
        r1 = db.recommend_cached(positive_ids=[1, 2], limit=5).collect()
        r2 = db.recommend_cached(positive_ids=[1, 2], limit=5).collect()
        assert r2 == r1
        assert db.cache_stats["hits"] == h0 + 3
        # any table mutation bumps the fingerprint -> miss, not staleness
        doc = db.documents().limit(1).collect()[0]
        upd = spark.createDataFrame(
            [(int(doc["doc_id"]), doc["text"], "xx",
              doc["source"], int(doc["n_chars"]))],
            "doc_id long, text string, lang string, source string, "
            "n_chars long",
        )
        db.add_documents(upd)
        m0 = db.cache_stats["misses"]
        db.hybrid_search_cached(
            query_text="vector database", query_vector=qv, limit=5
        ).collect()
        assert db.cache_stats["misses"] == m0 + 1


class TestFacetAndCount:
    """db.facet / db.count: the faceted-navigation + count endpoints,
    funded by the payload sidecar (zero jobs unfiltered-indexed) or
    posting slices."""

    def _want_facet(self, docs, field, limit=10):
        rows = (
            docs.where(f"{field} is not null")
            .groupBy(field)
            .count()
            .collect()
        )
        return sorted(
            [(str(r[field]), r["count"]) for r in rows],
            key=lambda kv: (-kv[1], kv[0]),
        )[:limit]

    def test_histogram_facet_zero_jobs_and_exact(self, db, docs):
        db.build_index("payload", columns=["lang"])
        sc = db.spark.sparkContext
        sc.setJobGroup("facet-pin", "facet-pin")
        try:
            df = db.facet("lang")
        finally:
            sc.setJobGroup("facet-pin-done", "done")
        assert list(sc.statusTracker().getJobIdsForGroup("facet-pin")) == []
        got = [(r["value"], r["count"]) for r in df.collect()]
        assert got == self._want_facet(docs, "lang")

    def test_wide_field_facet_uses_postings(self, db, docs):
        db.build_index("payload", columns=["lang", "n_chars"])
        got = [(r["value"], r["count"]) for r in db.facet("n_chars", limit=5).collect()]
        assert got == self._want_facet(docs, "n_chars", limit=5)

    def test_filtered_facet_matches_docs_groupby(self, db, docs):
        db.build_index("payload", columns=["lang", "source"])
        flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
        got = [(r["value"], r["count"]) for r in db.facet("source", filter=flt).collect()]
        want = self._want_facet(docs.where("lang = 'en'"), "source")
        assert got == want

    def test_unindexed_facet_falls_back_to_docs(self, db, docs):
        got = [(r["value"], r["count"]) for r in db.facet("source", limit=3).collect()]
        assert got == self._want_facet(docs, "source", limit=3)
        with pytest.raises(ValueError):
            db.facet("nope")
        with pytest.raises(ValueError):
            db.facet("lang", limit=0)

    def test_array_facet_counts_docs_not_elements(self, spark, docs, emb):
        d = tempfile.mkdtemp(prefix="gvdb_facetarr_")
        try:
            adb = GrapeVectorDB(spark, d)
            tagged = docs.withColumn(
                "tags", F.array(F.col("lang"), F.col("lang"))
            )
            adb.add_documents(tagged, emb)
            # unindexed fallback explodes per-doc-distinct
            got = {r["value"]: r["count"] for r in adb.facet("tags").collect()}
            want = {
                r["lang"]: r["count"]
                for r in docs.groupBy("lang").count().collect()
            }
            assert got == {k: v for k, v in want.items()
                           if (k, v) in sorted(want.items(),
                                               key=lambda kv: (-kv[1], kv[0]))[:10]}
            # indexed path agrees
            adb.build_index("payload", columns=["tags"])
            got2 = {r["value"]: r["count"] for r in adb.facet("tags").collect()}
            assert got2 == got
        finally:
            shutil.rmtree(d, ignore_errors=True)

    def test_count_tiers(self, db, docs):
        assert db.count() == docs.count()
        flt = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}
        want = docs.where("lang = 'en'").count()
        assert db.count(flt) == want          # docs-scan tier
        db.build_index("payload", columns=["lang"])
        assert db.count(flt) == want          # posting tier
        rng = {"must": [{"type": "range", "field": "n_chars", "gte": 300}]}
        assert db.count(rng) == docs.where("n_chars >= 300").count()


def test_legacy_sidecar_without_array_fields_still_routes(db, emb):
    """A payload index published before the array_fields sidecar key
    existed must keep serving scalar equality probes (absent key reads
    as 'no array fields') — publish-format evolution must never break
    an already-built index."""
    import json
    import os

    db.build_index("payload", columns=["lang"])
    v = db._versions("index_payload")[-1]
    sp = f"{db._path('index_payload')}/t={v}/_STATS.json"
    st = json.load(open(sp))
    del st["array_fields"]
    json.dump(st, open(sp, "w"))
    # the hadoop LocalFileSystem wrote a .crc sidecar at publish; the
    # out-of-band rewrite above invalidates it — drop it or the next
    # sidecar read raises ChecksumException
    crc = f"{db._path('index_payload')}/t={v}/._STATS.json.crc"
    if os.path.exists(crc):
        os.remove(crc)
    db._stats_cache.clear()
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    plan = _plan(db.search(vector=qv, limit=10, filter=FLT_EN))
    assert "documents" not in plan  # scalar equality still posting-served
    assert db._gate(FLT_EN).tree is not None
