"""The planner's index-choice brain (plans/planner.py cost rule) and the
graph index family it can now route to.

The reference's QueryOptimizer rewrites requests
(ref:src/query_engine.rs:271-372); ours makes the physical decision
explicit: brute-force vs graph walk vs IVF vs quantized two-stage from
corpus size, filter selectivity, and index availability — wired into
``db.search(index="auto")`` with explicit overrides.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from test_db_facade import ivf_pair

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.operators import ann
from grape_vector_db_spark.plans.planner import (
    BRUTE_FORCE_LIMIT,
    GRAPH_MIN_SELECTIVITY,
    choose_search_strategy,
)


# ---------------------------------------------------------------- cost rule


def test_route_flips_at_documented_thresholds():
    big = 10 * BRUTE_FORCE_LIMIT
    all_idx = dict(has_ivf=True, has_packed=True, has_sq=True, has_graph=True)

    # 1. at or below the brute-force bound: exact scan, indexes ignored
    assert (
        choose_search_strategy(BRUTE_FORCE_LIMIT, **all_idx).strategy
        == "brute_force"
    )
    # 2. a selective filter shrinks a huge corpus below the bound
    assert (
        choose_search_strategy(big, filter_selectivity=0.05, **all_idx).strategy
        == "brute_force"
    )
    # 3. big corpus, permissive filter, graph available: walk
    assert choose_search_strategy(big, **all_idx).strategy == "graph_walk"
    assert (
        choose_search_strategy(
            big, filter_selectivity=GRAPH_MIN_SELECTIVITY, **all_idx
        ).strategy
        == "graph_walk"
    )
    # 4. below the graph selectivity gate (post-filter walk would starve)
    #    but still above the brute-force bound: IVF filters in-cell
    sel = (BRUTE_FORCE_LIMIT * 1.5) / big  # 0.15 < 0.2 gate, effective 1.5M
    assert (
        choose_search_strategy(big, filter_selectivity=sel, **all_idx).strategy
        == "ivf"
    )
    # 5. quantized fallbacks in documented preference order
    assert (
        choose_search_strategy(big, has_sq=True, has_packed=True).strategy
        == "sq_two_stage"
    )
    assert choose_search_strategy(big, has_packed=True).strategy == "binary_two_stage"
    # 6. nothing available: exact scan with a build-an-index reason
    c = choose_search_strategy(big)
    assert c.strategy == "brute_force" and "build an index" in c.reason


# ------------------------------------------------------------- graph index


@pytest.fixture()
def gdb(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_planner_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def test_explicit_graph_route_requires_index(gdb, emb):
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    with pytest.raises(ValueError, match="index_graph"):
        gdb.search(vector=qv, limit=5, index="graph")
    with pytest.raises(ValueError, match="unknown index"):
        gdb.search(vector=qv, limit=5, index="hnswlib")


def test_explicit_graph_route_finds_self(gdb, emb):
    gdb.build_index("graph", k=5)
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    rows = gdb.search(vector=qv, limit=5, index="graph").collect()
    assert rows and rows[0]["vec_id"] == 3 and rows[0]["score"] == 1.0


def test_filtered_graph_route_gates_results(gdb, emb, docs):
    gdb.build_index("graph", k=5)
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    flt = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}
    rows = gdb.search(vector=qv, limit=10, filter=flt, index="graph").collect()
    de_ids = {r["doc_id"] for r in docs.where("lang = 'de'").collect()}
    assert rows and {r["vec_id"] for r in rows} <= de_ids


def test_auto_routes_brute_force_at_test_scale(gdb, emb):
    """Small corpus: auto must pick the exact scan even with every index
    built — and match knn exactly."""
    gdb.build_index("graph", k=5)
    gdb.build_index("ivf", nlist=4, max_iter=2)
    qv = list(emb.where(F.col("vec_id") == 7).head()["embedding"])
    auto = gdb.search(vector=qv, limit=5).collect()
    brute = gdb.search(vector=qv, limit=5, index="brute_force").collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in brute]
    assert auto[0]["vec_id"] == 7


def test_knn_graph_add_equals_rebuild_for_inserts(spark, emb):
    """Insert-only incremental maintenance is EXACT: grown == rebuilt on
    (src, dst, rank) and on cosine at the repo-wide 6-dp rounding (the
    increment scores with the Catalyst kernel, the rebuild with BLAS)."""
    base = emb.where(F.col("vec_id") % 7 != 0)
    batch = emb.where(F.col("vec_id") % 7 == 0)
    k = 5
    grown = ann.knn_graph_add(
        ann.knn_graph(base, k=k), emb, batch.select("vec_id"), k
    ).select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    rebuilt = ann.knn_graph(emb, k=k).select(
        "src", "dst", "rank", F.round("cosine", 6).alias("c")
    )
    assert grown.count() == rebuilt.count()
    assert grown.exceptAll(rebuilt).count() == 0


def test_facade_insert_refreshes_graph_index(gdb, spark, emb):
    """add_documents with a graph index present grows it to exactly the
    from-scratch rebuild over the merged corpus (insert-only batch)."""
    gdb.build_index("graph", k=4)
    new_docs = spark.createDataFrame(
        [(10**6, "brand new doc")], "doc_id long, text string"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    gdb.add_documents(new_docs, fresh)
    got = gdb._read("index_graph").select(
        "src", "dst", "rank", F.round("cosine", 6).alias("c")
    )
    want = ann.knn_graph(gdb.embeddings(), k=4).select(
        "src", "dst", "rank", F.round("cosine", 6).alias("c")
    )
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_delete_cascades_to_graph_index(gdb, emb):
    gdb.build_index("graph", k=4)
    gdb.delete_documents("doc_id = 3")
    left = gdb._read("index_graph")
    assert left.where("src = 3 or dst = 3").count() == 0


# ------------------------------------------------------------- plan shapes


def test_brute_force_route_is_take_ordered(gdb, emb):
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    plan = (
        gdb.search(vector=qv, limit=5, index="brute_force")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_graph_route_final_cut_is_driver_local(gdb, emb, spark):
    gdb.build_index("graph", k=5)
    qv = list(emb.where(F.col("vec_id") == 0).head()["embedding"])
    out = gdb.search(vector=qv, limit=5, index="graph")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the walk's hops and its top-k cut already ran on the driver over
    # the bounded visited map; the returned plan is the k result rows
    # themselves, so reading them sorts, shuffles and schedules nothing
    assert plan.lstrip().startswith("LocalTableScan")
    assert "Exchange" not in plan and "Sort" not in plan
    sc = spark.sparkContext
    sc.setJobGroup("graph-cut", "graph-cut")
    try:
        rows = out.collect()
    finally:
        sc.setJobGroup("graph-cut-done", "done")
    assert len(rows) == 5
    assert list(sc.statusTracker().getJobIdsForGroup("graph-cut")) == []


def test_ivf_autosize_rule():
    """nlist ~ sqrt(n), nprobe pins a constant expected scan fraction —
    the documented pins, clamps at both ends."""
    assert ann.ivf_autosize(10_000) == (100, 7)
    assert ann.ivf_autosize(20_000) == (141, 9)
    assert ann.ivf_autosize(10**9) == (31623, 1977)
    assert ann.ivf_autosize(0) == (4, 1)          # floor
    nlist, nprobe = ann.ivf_autosize(10**12)       # cap
    assert nlist == 65536 and nprobe == 4096
    # scan fraction stays ~constant across 5 orders of magnitude
    for n in (10**4, 10**6, 10**8):
        nlist, nprobe = ann.ivf_autosize(n)
        assert 0.06 <= nprobe / nlist <= 0.08


def test_ivfpq_autosize_rescore_rule():
    """VERDICT r8 #6: rescore depth ~ 10% of the probed candidate
    volume (n * replicas * nprobe / nlist), floored at 4k, capped at
    2000 — a fixed rescore=200 decayed R@10 to 0.73/0.40 at sf1 where
    the autosized 511 measures 0.76/0.50 (RECALL.md)."""
    # sf1 point: 20k x replicas 2, nlist 141, nprobe 18 -> 511
    assert ann.ivfpq_autosize_rescore(20_000, 141, 18, replicas=2) == 511
    # sf0.1 point: matches the table's known-good rescore=200 row
    assert ann.ivfpq_autosize_rescore(2_000, 16, 8, replicas=2) == 200
    # floor: tiny corpora rescore at least 4k
    assert ann.ivfpq_autosize_rescore(100, 4, 1, k=10) == 40
    # cap: the rescore broadcast stays bounded at any corpus size
    assert ann.ivfpq_autosize_rescore(10**9, 31623, 1977, replicas=2) == 2000
    # monotone in corpus size at fixed scan fraction
    a = ann.ivfpq_autosize_rescore(10_000, 100, 7)
    b = ann.ivfpq_autosize_rescore(100_000, 316, 20)
    assert b > a


def test_facade_auto_sized_ivf_build(gdb, emb):
    """build_index('ivf') with no nlist sizes from the corpus and the
    stored index serves searches."""
    gdb.build_index("ivf")  # no nlist
    from grape_vector_db_spark.operators.ann import ivf_autosize

    want_nlist, _ = ivf_autosize(emb.count())
    cents, assigned = ivf_pair(gdb)
    assert cents.count() == want_nlist
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    rows = gdb.search(vector=qv, limit=5, index="ivf").collect()
    assert rows and rows[0]["vec_id"] == 3


def test_graph_autosize_rule():
    """hops ~ ceil(log_degree(n)) + 1 (reach before refine), beam = ef-
    style 3k — the measured sf1 pins (RECALL.md): hops=3 at 20k nodes
    decays R@10 to 0.57-0.73 regardless of beam; hops=5 restores 1.00."""
    assert ann.graph_autosize(2_000, 16) == (32, 4)
    assert ann.graph_autosize(20_000, 16) == (32, 5)
    assert ann.graph_autosize(10**9, 32) == (32, 7)
    assert ann.graph_autosize(0, 16) == (32, 2)        # floor
    assert ann.graph_autosize(10**12, 4)[1] == 8        # hop cap
    assert ann.graph_autosize(10**6, 16, k=32)[0] == 96  # beam follows k


def test_search_plan_explain(gdb):
    """search_plan surfaces the auto route's PlanChoice: brute force at
    test scale, and the reason carries the numbers that decided it."""
    c = gdb.search_plan()
    assert c.strategy == "brute_force"
    assert "selectivity 1" in c.reason
    flt = {"must": [{"type": "equals", "field": "lang", "value": "de"}]}
    c2 = gdb.search_plan(filter=flt)
    assert c2.strategy == "brute_force"
    assert "selectivity 0." in c2.reason


def test_delete_repairs_graph_to_exact_rebuild(gdb, emb):
    """VERDICT r7 #3: after a ~10% delete, the graph index must equal a
    full rebuild over the surviving corpus — survivors that pointed at
    doomed ids get a fresh exact top-k (their true replacement can lie
    outside their old list), everyone else keeps their edges."""
    gdb.build_index("graph", k=4)
    # a 4% delete: k=4 lists touch a doomed id at ~1-(0.96)^4 = 15% of
    # survivors — inside the repair regime (< GRAPH_REBUILD_FRACTION)
    gdb.delete_documents("doc_id % 25 = 3")

    got = gdb._read("index_graph").select(
        "src", "dst", "rank", F.round("cosine", 6).alias("c")
    )
    want = ann.knn_graph(
        gdb.embeddings(), k=4, id_col="vec_id", vec_col="embedding"
    ).select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0
    # and no edge touches a deleted id
    assert got.where("src % 25 = 3 or dst % 25 = 3").count() == 0
    # a small delete stays in the repair regime, and says so
    gst = gdb._table_stats("index_graph")
    assert gst["delete_maintenance"] == "repair"
    assert gdb.stats()["graph_delete_maintenance"]["decision"] == "repair"


def test_heavy_delete_flips_graph_repair_to_rebuild(gdb, emb):
    """VERDICT r8 #5: repair cost ~ |affected| x n degrades toward the
    full rebuild as |affected| -> n; past GRAPH_REBUILD_FRACTION of the
    remaining corpus the cascade rebuilds instead, the result STILL
    equals the from-scratch graph (the exactness contract is
    route-independent), and the decision is surfaced in the sidecar and
    stats()."""
    gdb.build_index("graph", k=4)
    # deleting 60% of ids makes nearly every survivor's list touch a
    # doomed id -> |affected| ~ n_remaining > fraction
    gdb.delete_documents("doc_id % 5 != 0 and doc_id % 10 != 1")
    gst = gdb._table_stats("index_graph")
    assert gst["delete_maintenance"] == "rebuild"
    assert gst["affected_srcs"] > gdb.GRAPH_REBUILD_FRACTION * gdb._row_count(
        "embeddings"
    )
    assert (
        gdb.stats()["graph_delete_maintenance"]["decision"] == "rebuild"
    )
    got = gdb._read("index_graph").select(
        "src", "dst", "rank", F.round("cosine", 6).alias("c")
    )
    want = ann.knn_graph(
        gdb.embeddings(), k=4, id_col="vec_id", vec_col="embedding"
    ).select("src", "dst", "rank", F.round("cosine", 6).alias("c"))
    assert got.count() == want.count()
    assert got.exceptAll(want).count() == 0


def test_facade_auto_ivf_defaults_to_replicas_2(gdb, emb, spark):
    """VERDICT r7 #4: the auto-sized facade IVF build uses SPANN-style
    boundary replication (replicas=2) — the measured recall fix for the
    worst-case unclustered corpus — and the whole lifecycle (refresh,
    search, nprobe) respects the stored replica count."""
    gdb.build_index("ivf")  # auto-sized: replicas=2 default
    assert gdb._ivf_replicas() == 2
    cents, assigned = ivf_pair(gdb)
    n = gdb.embeddings().count()
    assert assigned.count() == 2 * n
    assert assigned.groupBy("id").count().where("count != 2").count() == 0
    # replicas land in DISTINCT cells
    assert (
        assigned.groupBy("id", "cluster").count().where("count > 1").count()
        == 0
    )

    # search returns each id once (replica dedup) and finds self
    qv = list(emb.where(F.col("vec_id") == 3).head()["embedding"])
    rows = gdb.search(vector=qv, limit=5, index="ivf").collect()
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids)) and ids[0] == 3

    # incremental refresh re-encodes at the stored replica count
    new_docs = spark.createDataFrame(
        [(10**6, "fresh")], "doc_id long, text string"
    )
    fresh = emb.where(F.col("vec_id") == 99).select(
        F.lit(10**6).cast("long").alias("vec_id"), "embedding"
    )
    gdb.add_documents(new_docs, fresh)
    _, grown = ivf_pair(gdb)
    assert grown.count() == 2 * (n + 1)
    assert grown.where("id = 1000000").count() == 2

    # explicit-nlist builds keep replicas=1 (oracle fixtures unchanged)
    gdb.build_index("ivf", nlist=4, max_iter=2)
    assert gdb._ivf_replicas() == 1
    _, a1 = ivf_pair(gdb)
    assert a1.groupBy("id").count().where("count != 1").count() == 0
