"""One filter gate, one route decision: ``search_plan`` explains exactly
the route ``search`` runs and the gate it executes (partition skip,
posting algebra or predicate scan), for every filter shape and index
set; and a filtered ``hybrid_search`` plans its gate once."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark import db as db_module
from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import filters
from grape_vector_db_spark.plans import planner

EQ_EN = {"type": "equals", "field": "lang", "value": "en"}
MATCH = {"type": "match", "field": "text", "text": "vector"}

# name -> (filter, expected gate kind per index set)
SHAPES = {
    "partition_equality": (
        {"must": [EQ_EN]},
        ("predicate", "posting", "partition"),
    ),
    "equality_and_range": (
        {"must": [EQ_EN, {"type": "range", "field": "n_chars",
                          "gte": 100, "lte": 300}]},
        ("predicate", "posting", "posting"),
    ),
    "nested_tree": (
        {"must": [EQ_EN, {"should": [
            {"type": "range", "field": "n_chars", "gte": 200}, MATCH]}]},
        ("predicate", "posting", "posting"),
    ),
    "match": ({"must": [MATCH]}, ("predicate", "posting", "posting")),
    "fuzzy_match": (
        {"must": [{"type": "match", "field": "text", "text": "vectr",
                   "fuzzy": 1}]},
        ("predicate", "posting", "posting"),
    ),
    "unservable_predicate": (
        {"must": [{"type": "contains", "field": "text", "text": "vec"}]},
        ("predicate", "predicate", "predicate"),
    ),
}
INDEX_SETS = (
    ("none", []),
    ("payload+text", [("payload", {"columns": ["lang", "n_chars"]}),
                      ("text", {})]),
    ("payload+text+partition", [("partition", {"column": "lang"})]),
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _reason_kind(reason: str) -> str:
    if "partition-pruned" in reason:
        return "partition"
    if "payload posting index" in reason:
        return "posting"
    return "predicate"


def _plan_kind(plan: str) -> str:
    if "index_partition" in plan:
        # no id gate: neither the documents nor a posting table is read
        # (the sq route's own semi-join restricts its index to the
        # pruned partition, so the node alone proves nothing)
        for table in ("/documents", "index_payload", "index_terms"):
            assert table not in plan, plan
        return "partition"
    if "/documents" in plan:
        return "predicate"
    assert "index_payload" in plan or "index_terms" in plan, plan
    return "posting"


@pytest.fixture()
def fresh_db(spark, docs, emb):
    dirs = []

    def make():
        d = tempfile.mkdtemp(prefix="gvdb_gate_")
        dirs.append(d)
        inst = GrapeVectorDB(spark, d)
        inst.add_documents(docs, emb)
        return inst

    yield make
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)


def _check(db, flt, qv, want_kind, routes):
    pc = db.search_plan(filter=flt)
    routes.clear()
    plan = _plan(db.search(vector=qv, limit=10, filter=flt))
    # the route search ran is the one EXPLAIN reported ...
    assert [c.strategy for c in routes] == [pc.strategy]
    assert ("index_sq" in plan) == (pc.strategy == "sq_two_stage")
    # ... and so is the gate it executed
    assert _reason_kind(pc.reason) == _plan_kind(plan) == want_kind
    return pc


def test_search_plan_matches_executed_route_and_gate(
    fresh_db, emb, monkeypatch
):
    db = fresh_db()
    db.build_index("sq")
    # below this many effective rows the route is brute force, above it
    # the sq two-stage: the route depends on the gate's selectivity
    monkeypatch.setattr(planner, "BRUTE_FORCE_LIMIT", 150)
    routes = []
    choose = db_module.choose_search_strategy

    def spy(*args, **kwargs):
        routes.append(choose(*args, **kwargs))
        return routes[-1]

    monkeypatch.setattr(db_module, "choose_search_strategy", spy)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
    seen = set()
    for i, (_name, builds) in enumerate(INDEX_SETS):
        for kind, kw in builds:
            db.build_index(kind, **kw)
        for flt, kinds in SHAPES.values():
            pc = _check(db, flt, qv, kinds[i], routes)
            seen.add(pc.strategy)
    assert seen == {"brute_force", "sq_two_stage"}
    unservable = SHAPES["unservable_predicate"][0]
    assert (
        "documents predicate scan (selectivity from the sample)"
        in db.search_plan(filter=unservable).reason
    )

    # a text sidecar without df_cap cannot estimate a tail token: the
    # posting gate still serves the match, and EXPLAIN says so and names
    # the sampled selectivity it fell back to
    stats = db._table_stats

    def no_df_cap(table):
        st = stats(table)
        if table == "index_terms" and st is not None:
            st = {k: v for k, v in st.items() if k != "df_cap"}
        return st

    monkeypatch.setattr(db, "_table_stats", no_df_cap)
    tail = {"must": [{"type": "match", "field": "text", "text": "xylophone"}]}
    pc = _check(db, tail, qv, "posting", routes)
    assert "selectivity from the sample" in pc.reason


def test_partition_hybrid_plans_the_tree_once(fresh_db, emb, monkeypatch):
    """A partition-served filter keeps the dense leg's directory skip
    while the BM25/text legs gate on posting ids — from one gate, so the
    posting tree is planned once, and the rows equal the same call on a
    DB without the partition layout."""
    flt = {"must": [EQ_EN]}
    qv = [float(x) for x in emb.where(F.col("vec_id") == 3).head()["embedding"]]
    plain = fresh_db()
    plain.build_index("payload", columns=["lang"])
    want = plain.hybrid_search("vector merge", qv, limit=10, filter=flt)
    db = fresh_db()
    db.build_index("payload", columns=["lang"])
    db.build_index("partition", column="lang")
    calls = []
    tree_plan = filters.payload_probe_tree

    def spy(f):
        calls.append(f)
        return tree_plan(f)

    monkeypatch.setattr(filters, "payload_probe_tree", spy)
    got = db.hybrid_search("vector merge", qv, limit=10, filter=flt)
    assert len(calls) == 1
    assert "index_partition" in _plan(got)
    rows = [tuple(r) for r in got.collect()]
    assert rows == [tuple(r) for r in want.collect()] and rows
