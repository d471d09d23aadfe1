"""Round-11 hardening pins (self-review of the round's own diff):

1. hybrid's TEXT leg rides the unclamped _text_search arm (the facade
   clamp silently capped its over-fetch at MAX_LIMIT while the dense
   leg escaped via _vector_search).
2. hybrid plans the filter gate ONCE for all three legs (the dense leg
   re-ran tree planning + posting probes + the fuzzy expansion's
   collects inside _vector_search; the text leg re-derived
   the documents gate inside the facade).
3. scroll(with_vectors=True) bounds its driver collect: pages past
   SCROLL_VECTOR_PROBE_CAP gate the embeddings by a distributed
   semi-join instead of a driver id list + giant In literal.
4. The text index TOMBSTONES when its column is dropped: restoring the
   column via a later docs re-publish must NOT resume O(batch)
   maintenance on the empty index (silent partial coverage) — match
   routing falls back to the predicate path until an explicit
   build_index("text") re-tokenizes the corpus.
5. A should-group containing an operand with NO selectivity estimate is
   itself unknown: min(1, sum) must not launder the 2.0 sentinel into a
   confident 1.0 that sorts the expensive unknown union ahead of other
   unknowns.
6. Planning a filter gate's tree reads the documents schema at most ONCE
   (was: one schema read per match leaf on the hot planning path).
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import filters, payload, sparse

FLT_EN = {"must": [{"type": "equals", "field": "lang", "value": "en"}]}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _pred_ids(db, flt) -> set:
    return {
        r["doc_id"]
        for r in db.documents()
        .where(filters.filter_to_column(flt))
        .select("doc_id")
        .collect()
    }


@pytest.fixture()
def db(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_r11h_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def wide_db(spark):
    """130 docs that ALL match one token — enough text-arm candidates to
    expose a MAX_LIMIT=100 clamp on a 120-row over-fetch."""
    d = tempfile.mkdtemp(prefix="gvdb_r11w_")
    docs = spark.createDataFrame(
        [(i, f"zebra filler{i}", "en") for i in range(1, 131)],
        "doc_id long, text string, lang string",
    )
    emb = spark.createDataFrame(
        [
            (i, [float(i % 7), float((i * 3) % 5), 1.0])
            for i in range(1, 131)
        ],
        "vec_id long, embedding array<double>",
    )
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def _qv(emb, vid=3):
    return [
        float(x)
        for x in emb.where(F.col("vec_id") == vid).head()["embedding"]
    ]


class TestHybridTextLegUnclamped:
    def test_facade_clamps_but_internal_arm_does_not(self, wide_db):
        # the facade contract (limit <= MAX_LIMIT) is unchanged ...
        assert wide_db.search(text="zebra", limit=120).count() == 100
        # ... while the internal arm honors the caller's budget
        assert wide_db._text_search("zebra", 120).count() == 120

    def test_hybrid_routes_text_leg_through_internal_arm(
        self, wide_db, monkeypatch
    ):
        seen = []
        orig = wide_db._text_search

        def spy(text, limit, filter=None, docs=None):
            seen.append(limit)
            return orig(text, limit, filter=filter, docs=docs)

        monkeypatch.setattr(wide_db, "_text_search", spy)
        rows = wide_db.hybrid_search(
            "zebra", [1.0, 0.0, 0.0], limit=60
        ).collect()
        assert len(rows) == 60
        # exactly one text-leg call, at the FULL 2x over-fetch budget
        assert seen == [120]


class TestHybridGatePlannedOnce:
    def test_servable_filter_probes_once_and_skips_sampling(
        self, db, emb, monkeypatch
    ):
        db.build_index("payload", columns=["lang"])
        counts = {"ids": 0, "est": 0}
        orig_ids = payload.tree_ids
        orig_est = db._estimate_selectivity

        def spy_ids(*args, **kwargs):
            counts["ids"] += 1
            return orig_ids(*args, **kwargs)

        def spy_est(col):
            counts["est"] += 1
            return orig_est(col)

        monkeypatch.setattr(payload, "tree_ids", spy_ids)
        monkeypatch.setattr(db, "_estimate_selectivity", spy_est)
        out = db.hybrid_search(
            "vector merge", _qv(emb), limit=5, filter=FLT_EN
        ).collect()
        assert out
        # ONE posting-probe construction shared by all three legs
        assert counts["ids"] == 1
        # selectivity came from the sidecar — zero sampled jobs
        assert counts["est"] == 0

    def test_fuzzy_expansion_runs_once_per_token(
        self, db, emb, monkeypatch
    ):
        db.build_index("text")
        tokens = []
        orig = sparse.fuzzy_terms

        def spy(terms_df, token, **kw):
            tokens.append(token)
            return orig(terms_df, token, **kw)

        monkeypatch.setattr(sparse, "fuzzy_terms", spy)
        flt = {
            "must": [
                {"type": "match", "field": "text", "text": "vektor",
                 "fuzzy": True}
            ]
        }
        db.hybrid_search(
            "vector merge", _qv(emb), limit=5, filter=flt
        ).collect()
        # one query token -> ONE expansion, not one per leg
        assert tokens == ["vektor"]


class TestScrollBigPageBound:
    def test_past_cap_no_driver_id_list(self, db):
        small = db.scroll(
            filter=FLT_EN, limit=8, with_vectors=True
        ).collect()
        db.SCROLL_VECTOR_PROBE_CAP = 4  # instance shadow of the class cap
        big_df = db.scroll(filter=FLT_EN, limit=8, with_vectors=True)
        plan = _plan(big_df)
        # no In-literal of collected page ids anywhere in the plan
        assert "In(vec_id" not in plan
        # the embeddings gate is a distributed semi-join on the page ids
        assert "LeftSemi" in plan
        big = big_df.collect()
        assert [r.asDict() for r in big] == [r.asDict() for r in small]

    def test_at_or_below_cap_keeps_pushed_in_probe(self, db):
        df = db.scroll(filter=FLT_EN, limit=5, with_vectors=True)
        assert "In(vec_id" in _plan(df)


class TestTextIndexTombstone:
    MATCH = {"must": [{"type": "match", "field": "text", "text": "vector"}]}

    def _drop_then_restore(self, db, docs, spark):
        db.build_index("text")
        assert db._read("index_terms").count() > 0
        full = db.documents()
        db._publish("documents", full.drop("text"))
        ids = spark.createDataFrame([(1,)], "vec_id long")
        db._reindex(ids)  # -> empty + tombstoned
        db._publish("documents", full)  # the column comes BACK
        return ids

    def test_refresh_does_not_resume_partial_coverage(
        self, db, docs, spark
    ):
        ids = self._drop_then_restore(db, docs, spark)
        db._reindex(ids)  # O(batch) maintenance after restore
        # still empty: batch-only coverage would be silently WRONG for
        # every pre-restore document
        assert db._read("index_terms").count() == 0
        st = db._table_stats("index_terms")
        assert st.get("text_col") is None
        assert st.get("dropped_column") == "text"

    def test_match_falls_back_to_predicate_path(self, db, docs, spark, emb):
        self._drop_then_restore(db, docs, spark)
        # unservable -> predicate path (correct, full-corpus answer)
        assert db._gate(self.MATCH).tree is None
        got = {
            r["vec_id"]
            for r in db.search(
                vector=_qv(emb), limit=5, filter=self.MATCH
            ).collect()
        }
        assert got  # serves, and from the restored column
        assert got <= _pred_ids(db, self.MATCH)

    def test_warm_terms_does_not_promote_tombstone(self, db, docs, spark):
        self._drop_then_restore(db, docs, spark)
        # the sparse leg must re-tokenize the (restored) documents, not
        # read the published-but-empty index
        terms, lengths = db._warm_terms()
        assert terms.count() > 0 and lengths is not None

    def test_explicit_rebuild_clears_tombstone(self, db, docs, spark):
        self._drop_then_restore(db, docs, spark)
        db.build_index("text")
        assert db._read("index_terms").count() > 0
        assert db._gate(self.MATCH).tree is not None
        st = db._table_stats("index_terms")
        assert st.get("text_col") == "text"


class TestShouldGroupUnknownEstimate:
    def test_unknown_should_union_keeps_written_order(
        self, db, monkeypatch
    ):
        """must=[fuzzy A] (unknown, written FIRST), should=[equals,
        fuzzy B] (unknown child -> the union is unknown too). The fuzzy
        expansions run EAGERLY when each operand's thunk fires, so the
        spied token order IS the chain order: A must come first. The
        pre-fix min(1, sum) laundered the should-union's unknown into
        se=1.0, sorting it AHEAD of the must operand's 2.0 sentinel."""
        db.build_index("payload", columns=["lang"])
        db.build_index("text")
        order = []
        orig = sparse.fuzzy_terms

        def spy(terms_df, token, **kw):
            order.append(token)
            return orig(terms_df, token, **kw)

        monkeypatch.setattr(sparse, "fuzzy_terms", spy)
        flt = {
            "must": [
                {"type": "match", "field": "text", "text": "vektor",
                 "fuzzy": True}
            ],
            "should": [
                {"type": "equals", "field": "lang", "value": "en"},
                {"type": "match", "field": "text", "text": "mergee",
                 "fuzzy": True},
            ],
        }
        gate = db._gate(flt)
        assert gate.tree is not None
        gate.ids
        assert order == ["vektor", "mergee"]


class TestTreePlanSchemaReads:
    def test_one_documents_schema_read_per_plan_call(self, db, monkeypatch):
        db.build_index("payload", columns=["lang"])
        db.build_index("text")
        n = {"docs": 0}
        orig = db.documents

        def spy():
            n["docs"] += 1
            return orig()

        monkeypatch.setattr(db, "documents", spy)
        flt = {
            "must": [
                {"type": "match", "field": "text", "text": "vector"},
                {"type": "match", "field": "text", "text": "merge"},
                {
                    "should": [
                        {"type": "match", "field": "text",
                         "text": "graph"},
                        {"type": "equals", "field": "lang", "value": "en"},
                    ]
                },
            ]
        }
        assert db._gate(flt).tree is not None
        assert n["docs"] == 1
