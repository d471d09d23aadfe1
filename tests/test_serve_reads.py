"""Serve-path reads without per-request barriers.

1. The graph walk keeps its visited map on the driver and returns the
   same rows as the checkpointed Spark-side walk it replaced (kept here
   as the reference), across entry choices, gates, dangling edges,
   score ties and string ids.
2. Job-count pins: the facade graph route runs at most hops + 3 jobs; a
   warm ivf search opens its index without listing the assignment cells;
   the unfiltered binary route reads its size from the sidecar.
3. Hybrid search keeps per-doc BM25 lengths in the session terms cache:
   after an upsert its results equal a fresh DB's.
4. A knn with a new query vector compiles no new classes.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from grape_vector_db_spark.db import GrapeVectorDB
from grape_vector_db_spark.functions.vector import to_double_array
from grape_vector_db_spark.operators import ann, search
from grape_vector_db_spark.operators.search import cosine_vs_query


def _checkpointed_walk(
    edges, emb, query_vector, k=10, beam=8, hops=3, entry_ids=None,
    id_col="vec_id", vec_col="embedding", result_filter=None,
    result_ids_df=None,
):
    """The Spark-side walk graph_beam_search replaced: the visited table
    is eagerly local-checkpointed once per hop and the frontier cut is a
    Spark orderBy/limit. The parity reference for the driver walk."""
    ids_v = emb.select(
        F.col(id_col).alias("id"), to_double_array(vec_col).alias("v")
    )
    score_of = lambda df: df.join(ids_v, "id").select(  # noqa: E731
        "id", F.round(cosine_vs_query(F.col("v"), query_vector), 6).alias("score")
    )
    if entry_ids is None:
        frontier = ids_v.select("id").orderBy("id").limit(beam)
    else:
        frontier = emb.sparkSession.createDataFrame(
            [(i,) for i in entry_ids], emb.select(id_col).schema
        ).withColumnRenamed(id_col, "id")
    visited = score_of(frontier).localCheckpoint(eager=True)
    fr = visited.orderBy(F.col("score").desc(), F.col("id").asc()).limit(beam)
    e = edges.select(F.col("src").alias("fid"), F.col("dst").alias("id"))
    for _ in range(hops):
        nbrs = (
            e.join(F.broadcast(fr.select(F.col("id").alias("fid"))), "fid")
            .select("id")
            .distinct()
        )
        fresh = score_of(nbrs.join(visited.select("id"), "id", "left_anti"))
        visited = visited.unionByName(fresh).localCheckpoint(eager=True)
        fr = visited.orderBy(F.col("score").desc(), F.col("id").asc()).limit(
            beam
        )
    out = visited.select(F.col("id").alias(id_col), "score")
    if result_filter is not None:
        out = out.join(emb.where(result_filter).select(id_col), id_col, "left_semi")
    if result_ids_df is not None:
        out = out.join(result_ids_df.select(id_col), id_col, "left_semi")
    return out.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def _rows(df, id_col="vec_id"):
    # NaN as a string: a NaN float never equals another NaN object
    return [
        (r[id_col], r["score"] if r["score"] == r["score"] else "nan")
        for r in df.collect()
    ]


def _assert_same_walk(edges, emb, qv, **kw):
    want = _rows(_checkpointed_walk(edges, emb, qv, **kw), kw.get("id_col", "vec_id"))
    got = _rows(ann.graph_beam_search(edges, emb, qv, **kw), kw.get("id_col", "vec_id"))
    assert got == want
    return got


def _jobs_during(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(f"{group}-done", "done")
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def graph(emb):
    return ann.knn_graph(emb, k=5).localCheckpoint(eager=True)


# ------------------------------------------------------------ graph parity


def test_driver_walk_matches_checkpointed_walk(spark, emb, graph):
    for qid in (0, 17, 333):
        qv = search.query_vector_of(emb, qid)
        got = _assert_same_walk(graph, emb, qv, k=10, beam=8, hops=3)
        assert len(got) == 10
    qv = search.query_vector_of(emb, 5)
    _assert_same_walk(graph, emb, qv, k=7, beam=4, hops=5, entry_ids=[40, 41, 499])
    # hops=0: the scored entry points only (an absent entry is dropped)
    assert sorted(i for i, _ in _assert_same_walk(
        graph, emb, qv, k=5, beam=3, hops=0, entry_ids=[7, 8, 9, 10_000]
    )) == [7, 8, 9]
    _assert_same_walk(
        graph, emb, qv, k=10, beam=16, hops=4, result_filter=F.col("label") == 3
    )
    gate = emb.where(F.col("vec_id") % 3 == 0).select("vec_id")
    _assert_same_walk(graph, emb, qv, k=10, beam=8, hops=3, result_ids_df=gate)


def test_driver_walk_dangling_edges_ties_and_string_ids(spark):
    # vectors 0..9 on a few directions: exact score ties across ids, a
    # zero vector (score 0.0) and a NaN vector (sorts greatest)
    dirs = [[1.0, 0.0], [0.0, 1.0], [1.0, 1.0], [2.0, 2.0], [0.0, 0.0]]
    rows = [(i, dirs[i % 5]) for i in range(10)] + [(10, [float("nan"), 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # every node points at two live ids and one id absent from emb
    edge_rows = [
        (i, d) for i in range(11) for d in ((i + 1) % 11, (i + 4) % 11, 100 + i)
    ]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    for qv in ([1.0, 0.2], [0.0, 1.0]):
        for beam, hops in ((1, 3), (3, 4)):
            got = _assert_same_walk(edges, emb, qv, k=6, beam=beam, hops=hops)
            assert all(i < 100 for i, _ in got)
    _assert_same_walk(
        edges, emb, [0.0, 1.0], k=6, beam=2, hops=3, entry_ids=[100, 3]
    )
    # the same graph with string ids
    s_emb = emb.select(F.format_string("n%02d", "vec_id").alias("vec_id"), "embedding")
    s_edges = edges.select(
        F.format_string("n%02d", "src").alias("src"),
        F.format_string("n%02d", "dst").alias("dst"),
    )
    for beam, hops in ((1, 3), (3, 2)):
        got = _assert_same_walk(s_edges, s_emb, [1.0, 0.2], k=6, beam=beam, hops=hops)
        assert got and all(isinstance(i, str) for i, _ in got)
    _assert_same_walk(
        s_edges, s_emb, [1.0, 0.2], k=4, beam=2, hops=2, entry_ids=["n07", "n03"]
    )


# ----------------------------------------------------------- facade pins


@pytest.fixture(scope="module")
def sdb(spark, docs, emb):
    d = tempfile.mkdtemp(prefix="gvdb_serve_")
    inst = GrapeVectorDB(spark, d)
    inst.add_documents(docs, emb)
    inst.build_index("graph")
    # nlist past Spark's parallel partition-discovery threshold (32): a
    # full listing of the assignment cells would run as a Spark job
    inst.build_index("ivf", nlist=40, max_iter=1)
    inst.build_index("binary")
    yield inst
    shutil.rmtree(d, ignore_errors=True)


def test_facade_graph_route_runs_at_most_hops_plus_three_jobs(spark, emb, sdb):
    gst = sdb._table_stats("index_graph")
    _, hops = ann.graph_autosize(
        sdb._row_count("embeddings"), int(gst["max_rank"]), k=10
    )
    sdb.search(search.query_vector_of(emb, 1), limit=10, index="graph").collect()
    qv = search.query_vector_of(emb, 2)
    rows, jobs = _jobs_during(
        spark, "graph-pin",
        lambda: sdb.search(qv, limit=10, index="graph").collect(),
    )
    assert len(rows) == 10
    assert len(jobs) <= hops + 3, (len(jobs), hops)


def test_warm_ivf_search_lists_no_cells(spark, emb, sdb):
    sdb.search(search.query_vector_of(emb, 1), limit=10, index="ivf").collect()
    qv = search.query_vector_of(emb, 2)
    df, construct = _jobs_during(
        spark, "ivf-pin", lambda: sdb.search(qv, limit=10, index="ivf")
    )
    # the probe cut over the centroids is the only construction job
    assert len(construct) == 1
    want = _rows(search.knn(sdb.embeddings(), qv, k=2000))
    got = _rows(df)
    assert len(got) == 10 and all((i, s) in want for i, s in got)


def test_ivf_cells_skip_probed_cells_without_rows(sdb):
    with sdb._snapshot():
        idx = sdb._ivf()
    present = {r["cluster"] for r in idx.assignments().select("cluster").distinct().collect()}
    got = idx.cells([min(present), 10_000]).select("cluster").distinct().collect()
    assert [r["cluster"] for r in got] == [min(present)]
    assert idx.cells([10_000]).count() == 0


def test_binary_route_sizes_from_sidecar(spark, emb, tmp_path):
    """The unfiltered binary route sizes its stage-1 keep from the
    index's row count (the publish-time sidecar), so it must track
    upserts and deletes; a warm search then constructs with zero jobs."""
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(300)], "doc_id long, text string"
        ),
        emb.where("vec_id < 300"),
    )
    db.build_index("binary")

    def check():
        assert db._row_count("index_packed") == db._read("index_packed").count()

    check()
    db.add_documents(
        spark.createDataFrame(
            [(i, f"doc {i}") for i in range(280, 340)], "doc_id long, text string"
        ),
        emb.where("vec_id >= 280 AND vec_id < 340"),
    )
    check()
    db.delete_documents("doc_id % 7 = 0")
    check()
    qv = search.query_vector_of(emb, 3)
    db.search(qv, limit=5, index="binary").collect()
    _, construct = _jobs_during(
        spark, "binary-pin", lambda: db.search(qv, limit=5, index="binary")
    )
    assert construct == []


# --------------------------------------------------------------- hybrid


def test_hybrid_after_upsert_equals_fresh_db(spark, docs, emb, tmp_path):
    """The per-doc length cache follows the documents version: after an
    upsert, hybrid results equal those of a DB built fresh over the same
    rows, on the posting-gated, predicate-gated and unfiltered routes."""
    db = GrapeVectorDB(spark, str(tmp_path / "db"))
    db.add_documents(docs, emb)
    db.build_index("payload", columns=["lang", "n_chars"])
    qv = search.query_vector_of(emb, 4)
    lang = docs.select("lang").where("lang is not null").first()["lang"]
    source = docs.select("source").where("source is not null").first()["source"]
    filters = [
        {"must": [
            {"type": "equals", "field": "lang", "value": lang},
            {"type": "range", "field": "n_chars", "gte": 0, "lte": 5000},
        ]},
        {"must": [{"type": "equals", "field": "source", "value": source}]},
        None,
    ]

    def hybrid(d, f):
        return [
            (r["doc_id"], r["score"])
            for r in d.hybrid_search(
                "vector search index", qv, limit=10, filter=f
            ).collect()
        ]

    for f in filters:
        hybrid(db, f)  # fills the per-doc length cache
    db.add_documents(
        docs.where("doc_id < 40").select(
            "doc_id",
            F.concat(F.lit("vector vector search "), F.col("text")).alias("text"),
            "lang", "source", "n_chars",
        )
    )
    fresh = GrapeVectorDB(spark, str(tmp_path / "fresh"))
    fresh.add_documents(db.documents(), db.embeddings())
    fresh.build_index("payload", columns=["lang", "n_chars"])
    for f in filters:
        got = hybrid(db, f)
        assert got and got == hybrid(fresh, f)


# --------------------------------------------------------------- codegen


def _compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_knn_with_new_query_vector_compiles_nothing(spark, emb):
    """|q| rides inside the norm fold, so no query-dependent literal
    reaches generated code: a second query vector reuses every class
    (the top-level |q| literal compiled one fresh class per query)."""
    first, second = (
        search.query_vector_of(emb, i) for i in (0, 1)
    )
    search.knn(emb, first, k=10).collect()
    before = _compiles(spark)
    got = search.knn(emb, [x * 0.5 + 0.01 for x in second], k=10).collect()
    assert len(got) == 10
    assert _compiles(spark) - before == 0
